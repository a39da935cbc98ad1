package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Op, Tables}

/** Population scaling (/root/reference/src/scalers/size_scalers.py).
  *
  * The reference scales group sizes to an exact target total
  * (e.g. 9M population → 10k network nodes) with a floor + greedy ±1
  * repair loop asserting `sum == target`
  * (size_scalers.py:30-48,74-101,122-162). Re-expressed distributed:
  * the largest-remainder method — floor every share, hand the
  * remainder units to the groups with the largest fractional parts
  * (deterministic tie-break) — which satisfies the same invariant
  * without a sequential loop.
  */
object Scaling {

  val Target = 10000L

  /** Exact-total scaled sizes per group (largest-remainder method):
    * share = size * Target (exact int); base = share div total; the
    * deficit (Target − Σbase) goes one unit each to the groups with the
    * largest (share mod total), ties to the smaller group key. Returns
    * (group, size, scaled size) in that rank order (remainder
    * descending, key ascending). Runs on the driver: its input is one
    * row per group.
    *
    * vs the reference (size_scalers.py:30-48): rounding cast + greedy
    * bump-zeros loop, asserting sum == 10000 after the fact. The
    * largest-remainder form guarantees that invariant by construction.
    * (The reference's extra "nonzero group gets ≥ 1" rule only binds
    * when a group's share rounds to zero — impossible at the test
    * data's group sizes; add a post-pass bump if ever needed.)
    */
  def largestRemainder(sizes: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    val total = sizes.map(_._2).sum
    val shares = sizes.map { case (g, n) => (g, n, n * Target / total, n * Target % total) }
    val deficit = Target - shares.map(_._3).sum
    val rank = Ordering.by[(String, Long, Long, Long), Long](_._4).reverse
      .orElse(Ordering.by[(String, Long, Long, Long), String](_._1)(Interactions.cellOrder))
    shares.sorted(rank).zipWithIndex.map { case ((g, n, base, _), i) =>
      (g, n, base + (if (i < deficit) 1L else 0L))
    }
  }

  private val scaledSizesSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("size", LongType, nullable = false),
    StructField("scaled_size", LongType)))

  /** [[largestRemainder]] over the distinct devices per cell
    * (event_type), collected in one query (|cells| rows), as a local
    * relation in rank order.
    */
  def scaledSizesExact(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("size"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val rows = largestRemainder(cells).map { case (g, n, s) => Row(g, n, s) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), scaledSizesSchema)
  }

  private val scaledSizesExactSql =
    s"""WITH sizes AS (
       |  SELECT event_type, count(DISTINCT user_id) AS size
       |  FROM events GROUP BY 1),
       |t AS (SELECT CAST(SUM(size) AS BIGINT) AS total FROM sizes),
       |base AS (
       |  SELECT event_type, size,
       |    (size * $Target) // total AS base,
       |    (size * $Target) % total AS frac
       |  FROM sizes CROSS JOIN t),
       |d AS (SELECT $Target - CAST(SUM(base) AS BIGINT) AS deficit FROM base)
       |SELECT event_type, size,
       |  CAST(base + CASE WHEN rnk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS scaled_size
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, event_type ASC) AS rnk
       |  FROM base CROSS JOIN d)""".stripMargin

  /** The reference's PRIMARY rounding variant, bit-faithfully
    * (size_scalers.py:30-48 `ScaleTo10000`): share rounded HALF-TO-EVEN
    * (DuckDB `::INTEGER` on DOUBLE rounds to nearest-even — verified on
    * DuckDB 1.0.0: 0.5→0, 2.5→2 — so Spark's `bround`, NOT `round`,
    * which is half-up and diverges on exact .5 shares), then the greedy
    * repair loop walks groups in key order bumping zero-rounded
    * non-empty groups to 1 until the total hits the target exactly.
    * The sequential loop has a closed form: the loop checks
    * `sum == 10000` BEFORE each row and each bump adds exactly 1, so
    * precisely the first `deficit` zero-groups (key order) get bumped —
    * a rank filter over the group-sizes relation (|groups| rows,
    * bounded, the input [[scaledSizesExact]] collects).
    * Reference caveats preserved, not "fixed": when rounding OVERSHOOTS
    * the target (deficit < 0) the reference loop can never repair and
    * its assert fires; here the deficit filter simply bumps nothing —
    * the sum==target invariant holds exactly when the reference's
    * assert would pass. Variants 2/3 (`ScaleTo10000_2/_3`,
    * size_scalers.py:104-162) add bump-to-2 rules and a top-10
    * redistribution whose index arithmetic collapses duplicate sizes —
    * deliberately not reproduced; [[scaledSizesExact]] is the
    * invariant-guaranteed spelling.
    */
  def scaledSizesRef(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("size"))
    val based = sizes
      .crossJoin(broadcast(sizes.agg(sum(col("size")).as("total"))))
      .select(col("event_type"), col("size"),
        bround(col("size") * Target / col("total")).cast("long").as("base"))
    val deficit = based.agg((lit(Target) - sum(col("base"))).as("deficit"))
    // zr = how many zero-rounded non-empty groups up to AND including
    // this row (key order) — i.e. this row's position in the bump queue
    val isZero = col("base") === 0L && col("size") > 0L
    based.crossJoin(broadcast(deficit))
      .withColumn("zr", sum(when(isZero, 1L).otherwise(0L)).over(
        Window.orderBy(col("event_type").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_type"), col("size"),
        (col("base") + when(isZero && col("zr") <= col("deficit"), 1L)
          .otherwise(0L)).as("scaled_size"))
  }

  private val scaledSizesRefSql =
    s"""WITH sizes AS (
       |  SELECT event_type, count(DISTINCT user_id) AS size
       |  FROM events GROUP BY 1),
       |t AS (SELECT CAST(SUM(size) AS BIGINT) AS total FROM sizes),
       |b AS (
       |  SELECT event_type, size,
       |    CAST((size * $Target / total) AS INTEGER) AS base
       |  FROM sizes CROSS JOIN t),
       |d AS (SELECT $Target - CAST(SUM(base) AS BIGINT) AS deficit FROM b),
       |z AS (
       |  SELECT *, SUM(CASE WHEN base = 0 AND size > 0 THEN 1 ELSE 0 END)
       |      OVER (ORDER BY event_type ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zr
       |  FROM b)
       |SELECT event_type, size,
       |  CAST(base + CASE WHEN base = 0 AND size > 0 AND zr <= deficit
       |    THEN 1 ELSE 0 END AS BIGINT) AS scaled_size
       |FROM z CROSS JOIN d""".stripMargin

  /** F13: seeded weighted sampling of group assignments
    * (size_scalers.py:357-390) — the sizes vector is tiny, so this is
    * driver-side by design (like the reference's numpy call); our seed
    * stream is canonical (java.util.Random), reproducibility is
    * asserted in tests.
    */
  def weightedSample(weights: Seq[(String, Double)], n: Int, seed: Long): Map[String, Long] = {
    val rnd = new java.util.Random(seed)
    val total = weights.map(_._2).sum
    val cum = weights.scanLeft(("", 0.0)) { case ((_, acc), (k, w)) => (k, acc + w / total) }.tail
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      val k = cum.find(_._2 >= u).map(_._1).getOrElse(cum.last._1)
      counts(k) += 1L
      i += 1
    }
    counts.toMap
  }

  /** F13 as a REGISTERED, oracle-checkable query: deterministic
    * weighted sampling without replacement over a distributed
    * relation — the hash-race flavor of Efraimidis–Spirakis priority
    * sampling with the random draw replaced by the portable 60-bit
    * hash (the `sample_hash`/`importance_sample` discipline), so the
    * sample is integer-exact, engine-portable, and reproducible
    * across runs/cluster sizes. priority = hash60(doc_id) div weight:
    * heavier documents draw systematically smaller priorities, the
    * global top-n by (priority, doc_id) is the sample. Top-n plans as
    * TakeOrderedAndProject — map-side partial top-k, never a global
    * sort. The reference's numpy categorical draw over the tiny sizes
    * vector (size_scalers.py:357-390) stays driver-side in
    * [[weightedSample]]; this is its corpus-scale counterpart.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("h", graft.functions.CrossHash.hash60(col("doc_id").cast("string")))
      .withColumn("priority",
        expr("h div greatest(CAST(n_chars AS BIGINT), 1)"))
      // 200 < |documents| at every test SF (500 at sf0.01), so the
      // weighted selection is actually exercised by the oracle gate
      .orderBy(col("priority").asc, col("doc_id").asc)
      .limit(200)
      .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))

  private val sampleWeightedSql =
    s"""SELECT doc_id, source, n_chars, priority FROM (
       |  SELECT doc_id, source, n_chars,
       |    ${graft.functions.CrossHash.hash60Sql("CAST(doc_id AS VARCHAR)")}
       |      // greatest(CAST(n_chars AS BIGINT), 1) AS priority
       |  FROM documents)
       |ORDER BY priority ASC, doc_id ASC LIMIT 200""".stripMargin

  /** Exact largest-remainder proration: split each order's total
    * (in integer cents) across its lines proportional to quantity,
    * with the per-order cent sum landing EXACTLY on the total — the
    * [[scaledSizes]] discipline applied per group instead of
    * globally. All-integer arithmetic: floor shares via integer
    * division, remainders ranked by fractional part (modulus) with
    * the line number as the deterministic tiebreak, top-r lines get
    * the extra cent. Scale shape: one orderkey shuffle shared by the
    * join and every window — no global sort, no driver round-trip.
    */
  def prorateExact(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("l_orderkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("qsum", sum(col("qty")).over(wOrd))
    val cents = li.join(Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("base", expr("(cents * qty) div qsum"))
      .withColumn("frac", (col("cents") * col("qty")) % col("qsum"))
    cents
      .withColumn("rem", col("cents") - sum(col("base")).over(wOrd))
      // qty in the sort key: the synthetic lineitem does NOT enforce
      // the TPC-H (l_orderkey, l_linenumber) primary key, so (frac,
      // l_linenumber) alone is not a total order — the 10x sweep
      // caught DuckDB splitting a remainder unit across such a tie
      // differently in one replica than the other nine. With qty
      // added, any residual tie has identical (line, qty) ⇒ identical
      // base ⇒ the output multiset is rank-assignment-invariant.
      .withColumn("rnk", row_number().over(
        wOrd.orderBy(col("frac").desc, col("l_linenumber").asc, col("qty").asc)))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        (col("base") + when(col("rnk") <= col("rem"), 1L).otherwise(0L))
          .as("alloc_cents"))
  }

  private val prorateExactSql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
      |    SUM(CAST(l_quantity AS BIGINT))
      |      OVER (PARTITION BY l_orderkey) AS qsum
      |  FROM lineitem),
      |j AS (
      |  SELECT l_orderkey, l_linenumber, qty, qsum,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM li JOIN orders ON l_orderkey = o_orderkey),
      |b AS (
      |  SELECT l_orderkey, l_linenumber, qty, cents,
      |    (cents * qty) // qsum AS base,
      |    (cents * qty) % qsum AS frac
      |  FROM j)
      |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  CAST(base + (CASE WHEN rnk <= rem THEN 1 ELSE 0 END) AS BIGINT)
      |    AS alloc_cents
      |FROM (
      |  SELECT l_orderkey, l_linenumber, base,
      |    cents - SUM(base) OVER (PARTITION BY l_orderkey) AS rem,
      |    row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY frac DESC, l_linenumber ASC, qty ASC) AS rnk
      |  FROM b)""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("prorate_exact", prorateExact, Some(prorateExactSql)),
    Op("scaled_sizes", scaledSizesExact, Some(scaledSizesExactSql)),
    Op("sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    Op("scaled_sizes_ref", scaledSizesRef, Some(scaledSizesRefSql)),
  )
}
