package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.{Op, Tables}

/** Co-location "interactions" pipeline.
  *
  * Reference semantics: pings self-joined on (H3 res-15 cell, 10-minute
  * time bucket) with `a.caid != b.caid`, then distinct device pairs,
  * then contact counts per (home_a, home_b)
  * (/root/reference/src/queries/interaction_queries.py:7-56,
  * /root/reference/src/transforms/matrix_transforms.py:65-90,
  * /root/reference/scripts/NetworkBuilder.py:155-211).
  *
  * Test-table mapping (TESTDATA.md): events.user_id = caid,
  * events.event_type = spatial cell, 600-second origin-anchored buckets.
  *
  * Scale notes (100 TB): no self-join runs. The (cell, bucket) key is
  * high-cardinality and bounded-skew by construction: presence is
  * grouped by it in one shuffle, and each group keeps at most
  * [[GroupCap]] devices in its aggregation buffer, so a poisoned key
  * costs O(GroupCap). The bucket origin comes from the events' parquet
  * footers ([[originMicros]]; one collect only when they lack `ts`
  * statistics), never from a broadcast or a window.
  *
  * The co-location family (interaction pairs, empiric edges, the graph
  * metrics' weighted edges) reads one pair source, [[coLocated]]: the
  * capped groups are counted per anchor device by
  * `Recommend.pairCounts`, so no pair row and no pair distinct exists.
  * Isolated devices need no pairs at all.
  *
  * The contact matrix (observed contacts, sizes, total vs observed) is
  * not a lazy plan: [[contactCounts]] reads the same origin, runs
  * [[contactCountsPass]], one device-keyed chain over events that
  * counts contacts per anchor device without building pair rows, and
  * collects |cells|²-bounded counts; the matrix is assembled from them
  * on the driver as a local relation. R13Spec still checks the result
  * against the two-join spelling in `InteractionsReference`.
  */
object Interactions {

  /** Oracle spelling of the deduplicated (caid, cell, bucket) presence
    * table. Buckets are anchored at the GLOBAL MIN timestamp exactly
    * like the reference's `TIME_BUCKET(INTERVAL '600 seconds', ts,
    * min_datetime)` (interaction_queries.py:11-17) — engine-side the
    * origin is read from the parquet footers ([[originMicros]]), never a
    * single-partition window (SURVEY W5), and the dedup rides inside
    * min_k_distinct (see [[groupedSets]]).
    */
  private[operators] val presenceSql =
    """SELECT DISTINCT user_id AS caid, event_type AS cell,
      |  (epoch_us(ts) - epoch_us(origin_ts)) // 600000000 AS tw
      |FROM events CROSS JOIN (SELECT MIN(ts) AS origin_ts FROM events)""".stripMargin

  /** Bare pair-select against a CTE named `p` — shared with every
    * oracle (graph metrics included) so the canonical pair definition
    * lives in exactly one string.
    */
  private[operators] val pairsSelectSql =
    """SELECT DISTINCT a.caid AS a_caid, b.caid AS b_caid
      |FROM p a JOIN p b
      |  ON a.cell = b.cell AND a.tw = b.tw AND a.caid != b.caid""".stripMargin

  /** Canonical undirected edges (src < dst), each once, selected from
    * a CTE named `pairs` — the edge list of empiric_edges and of every
    * graph oracle, kept in one string like [[pairsSelectSql]].
    */
  private[operators] val edgesSelectSql =
    """SELECT DISTINCT least(a_caid, b_caid) AS src,
      |  greatest(a_caid, b_caid) AS dst
      |FROM pairs""".stripMargin

  /** Max devices kept per (cell, tw) co-location group — far above
    * anything physically possible in a ~0.5 m cell / 10 min window, so
    * it only ever binds on poisoned keys.
    */
  val GroupCap = 1024

  /** The 10-minute bucket of `ts` from the origin in micros (null
    * without one: no event has a timestamp).
    */
  private def bucket(origin: Option[Long]): Column =
    origin.fold(lit(null).cast("long"))(o => expr(s"(unix_micros(ts) - ${o}L) div 600000000"))

  /** The co-location groups: per (cell, tw), the id-sorted distinct
    * devices present (`caids`), at least 2 and at most [[GroupCap]].
    * @param guardMetric attach the named `observe` for capped groups.
    *   Only the REGISTERED query root may set it: a named observation
    *   appearing in two subtrees of one plan with different results
    *   (e.g. clustering_coefficient joining the pair relation against
    *   differently-filtered copies of itself) throws
    *   DUPLICATED_METRICS_NAME at runtime. Compositions keep the cap
    *   (the actual OOM guard) and skip only the metric.
    */
  private def groupedSets(spark: SparkSession, dir: String,
      guardMetric: Boolean): DataFrame =
    // No pre-distinct on presence: min_k_distinct dedups caids per
    // (cell, tw) during partial aggregation, so a presence distinct
    // exchange would be pure overhead.
    Tables.events(spark, dir)
      .select(col("user_id").as("caid"), col("event_type").as("cell"),
        bucket(originMicros(spark, dir)).as("tw"))
      .groupBy(col("cell"), col("tw"))
      // Group-size guard, IN the aggregation buffer: co-location
      // physics bounds how many devices share one ~0.5 m cell within
      // 10 minutes, but a POISONED hot key (stuck sensor, default
      // coordinate) would blow both the buffer and the n² pairs of the
      // group. min_k_distinct keeps the GroupCap+1 smallest distinct
      // caids in O(cap) memory — the k-th+1 element only proves
      // overflow; the slice below drops it — so the kept subset is a
      // deterministic sorted prefix, and the poisoned set is never
      // materialized. The overflow stays observable through the named
      // metric so production degrades loudly. On sane data (every
      // oracle fixture) the cap is unreachable.
      .agg(call_function("min_k_distinct", col("caid"), lit(GroupCap + 1))
        .as("caids"))
      .where(size(col("caids")) >= 2)
      .transform(df => if (!guardMetric) df else df
        .observe("interaction_pairs_guard",
          sum(when(size(col("caids")) > lit(GroupCap), 1L).otherwise(0L))
            .as("capped_groups")))
      .withColumn("caids",
        when(size(col("caids")) <= lit(GroupCap), col("caids"))
          .otherwise(slice(col("caids"), 1, GroupCap)))

  /** The co-location family's one pair source: (ia, ib, co) for every
    * canonical (ia < ib) pair of devices that met, with co the number
    * of (cell, tw) groups they met in. The groups' `caids` are
    * id-sorted and distinct, so `Recommend.pairCounts` counts each pair
    * once per group after one exchange on the anchor device: no pair
    * row is built and no pair distinct runs.
    */
  private[operators] def coLocated(spark: SparkSession, dir: String,
      guardMetric: Boolean = false): DataFrame =
    Recommend.pairCounts(
      groupedSets(spark, dir, guardMetric).select(col("caids").as("items")), 1)

  /** J1: distinct co-located (a_caid, b_caid) pairs (both directions,
    * matching the reference's `a.caid != b.caid` with no canonical
    * ordering — interaction_queries.py:21-28).
    *
    * ONE shuffle on (cell, tw) groups the devices of each co-location
    * key, and one on the anchor device counts their pairs
    * ([[coLocated]]). The naive self-join needs either a broadcast of
    * the whole presence table (impossible at 100 TB) or two more
    * shuffles; this shape scales because group sizes are physically
    * bounded (devices co-present in one ~0.5 m cell within 10 minutes).
    */
  def interactionPairs(spark: SparkSession, dir: String): DataFrame =
    // one explode (not a self-union) mirrors the canonical pairs, so
    // the pair source is evaluated exactly once
    coLocated(spark, dir, guardMetric = true)
      .select(explode(array(
        struct(col("ia").as("a_caid"), col("ib").as("b_caid")),
        struct(col("ib").as("a_caid"), col("ia").as("b_caid")))).as("p"))
      .select(col("p.a_caid"), col("p.b_caid"))

  private val interactionPairsSql =
    s"""WITH p AS ($presenceSql)
       |$pairsSelectSql""".stripMargin

  /** Per-device home cell: the cell with the most events per user,
    * deterministic tie-break on cell name (NTL-winner shape, W1 —
    * /root/reference/src/queries/ntl_queries.py:41-48).
    *
    * r2: the argmax is `min_by(cell, (-n, cell))` — a hash aggregation
    * with map-side partials — instead of row_number over a window:
    * same winner (maximize n, then minimize cell), no per-partition
    * sort, and the second exchange carries one combined row per
    * (partition, caid) instead of every (caid, cell) count.
    */
  private[operators] def homeCells(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("user_id").as("caid"), col("event_type").as("cell"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("caid"))
      .agg(min_by(col("cell"), struct((-col("n")).as("negn"), col("cell")))
        .as("home_cell"))
  }

  private[operators] val homeCellsSql =
    """SELECT caid, cell AS home_cell FROM (
      |  SELECT user_id AS caid, event_type AS cell, count(*) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY count(*) DESC, event_type ASC) AS rnk
      |  FROM events GROUP BY user_id, event_type
      |) WHERE rnk = 1""".stripMargin

  /** The collected result of [[contactCounts]]: `pairs` is C, the
    * distinct canonical (a < b) co-located device pairs per
    * (a_home, b_home); `homeSizes` the distinct devices per home cell;
    * `cellDevices` the distinct devices per cell, the scaler's input;
    * `cappedDevices` the devices past [[DeviceCap]], which make no pair.
    */
  final case class ContactCounts(pairs: Map[(String, String), Long],
      homeSizes: Seq[(String, Long)], cellDevices: Seq[(String, Long)],
      cappedDevices: Long)

  /** Spark's ascending string order: UTF-8 bytes, nulls first. */
  private[graft] val cellOrder: Ordering[String] = (x: String, y: String) =>
    if (x == null || y == null) java.lang.Boolean.compare(y == null, x == null)
    else UTF8String.fromString(x).compareTo(UTF8String.fromString(y))

  /** The bucket origin `unix_micros(MIN(ts))` over events: read from
    * the parquet footers when they carry usable `ts` statistics (no
    * Spark job), else one scalar collect. None when no event has a
    * timestamp.
    */
  private[graft] def originMicros(spark: SparkSession, dir: String): Option[Long] =
    footerOriginMicros(spark, dir).getOrElse {
      val r = Tables.events(spark, dir).agg(unix_micros(min(col("ts")))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }

  /** At most this many events files have their footers read on the
    * driver; a wider table pays a one-job collect or estimate instead.
    */
  private[graft] val FooterFiles = 64

  /** What the events files' parquet footers prove with no Spark job:
    * `rows`, the row count (an upper bound on the devices), and
    * `origin`, the bucket origin when the `ts` statistics prove it
    * ([[eventsFooter]]).
    */
  private[graft] final case class EventsFooter(rows: Long, origin: Option[Option[Long]])

  /** `originMicros` from the parquet footers of the events files. */
  private[graft] def footerOriginMicros(spark: SparkSession,
      dir: String): Option[Option[Long]] = eventsFooter(spark, dir).flatMap(_.origin)

  /** The events files' footers, read once for both facts. The origin
    * is converted as [[Tables.events]] converts `ts`: a LongType `ts`
    * (TIMESTAMP(NANOS) read as epoch nanos) is `div 1000`, a TIMESTAMP
    * of MILLIS or MICROS is widened to micros. It is Some(None) when
    * every row group's statistics show no non-null `ts` (or there is no
    * row group), and None, so the caller collects, when a row group
    * lacks `ts` statistics, `ts` is not INT64 (INT96) or another type,
    * or a minimum lies before 1900 (where Spark may rebase or reject
    * legacy calendar values on read). None when there are more than
    * [[FooterFiles]] files or a footer cannot be read.
    */
  private[graft] def eventsFooter(spark: SparkSession,
      dir: String): Option[EventsFooter] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    val raw = Tables.load(spark, dir, "events")
    val files = raw.inputFiles
    val tsType = raw.schema("ts").dataType
    // one row group's minimum `ts` in micros: None when unusable,
    // Some(None) when the row group holds no non-null `ts`
    def rowGroupMin(c: ColumnChunkMetaData): Option[Option[Long]] = {
      val s = c.getStatistics
      val t = c.getPrimitiveType
      if (t.getPrimitiveTypeName != PrimitiveTypeName.INT64 || s == null || s.isEmpty) None
      else if (!s.hasNonNullValue) Some(None)
      else {
        val v: Long = s.genericGetMin.asInstanceOf[java.lang.Long]
        val unit = Option(t.getLogicalTypeAnnotation).collect {
          case a: TimestampLogicalTypeAnnotation => a.getUnit
        }
        val us = (tsType, unit) match {
          case (LongType, _) => Some(v / 1000)
          case (TimestampType, Some(TimeUnit.MICROS)) => Some(v)
          case (TimestampType, Some(TimeUnit.MILLIS)) =>
            scala.util.Try(Math.multiplyExact(v, 1000L)).toOption
          case _ => None
        }
        us.filter(u => tsType == LongType || u >= -2208988800000000L).map(Some(_))
      }
    }
    if (files.length > FooterFiles) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val blocks = files.toSeq.flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.net.URI(f)), conf))
        try reader.getFooter.getBlocks.asScala.toSeq.map(b => b.getRowCount ->
          b.getColumns.asScala.find(_.getPath.toDotString == "ts").flatMap(rowGroupMin))
        finally reader.close()
      }
      val mins = blocks.map(_._2)
      Some(EventsFooter(blocks.map(_._1).sum,
        if (mins.contains(None)) None else Some(mins.flatten.flatten.minOption)))
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Most distinct (cell, tw) rows one device keeps in the contact
    * pass: a day has 144 buckets, so this is a device in a new ~0.5 m
    * cell every 1.3 s all day. It only binds on poisoned devices (a
    * stuck emitter, a shared default id); a device past it keeps its
    * home and its cells but makes no contact, and [[contactCounts]]
    * counts and logs it.
    */
  val DeviceCap = 65536

  /** The default cell coder: the XXH64 hash of the cell name. A
    * collision makes [[contactCounts]] throw; it never merges two cells.
    */
  val cellCode: Column => Column = xxhash64(_)

  /** The one pass over events behind [[contactCounts]], as one query
    * whose rows are a tagged union (kind, k1, k2, n, lo, hi) of at most
    * |cells|² + 2·|cells| + 1 rows, with cells and homes as their
    * `code` (null for a null cell):
    *  - kind 0: C, the distinct canonical (a < b) device pairs per
    *    (k1 = a_home, k2 = b_home);
    *  - kind 1: distinct devices per home cell k1;
    *  - kind 2: distinct devices per cell k1, with lo and hi the
    *    smallest and largest cell name seen with that code;
    *  - kind 3: the devices past [[DeviceCap]].
    *
    * It is one chain with no join and no branch:
    *  - events are projected to (caid, cell, tw) and hash-partitioned
    *    by caid once;
    *  - `device_presence` reads each device once and emits its home
    *    (the `min_by(cell, (-n, cell))` of [[homeCells]], on the cell
    *    names), its cells and its distinct (cell, tw) rows labeled with
    *    the home: tagged rows whose cells and homes are coded here;
    *  - one exchange on (kind, k1, k2) groups them: for kind 0, the
    *    devices of each (cell, tw) with their homes
    *    (`min_k_distinct_tagged`, capped at [[GroupCap]]); for kinds
    *    1-3, the sums;
    *  - `tagged_stripes` turns each group into one row per device a and
    *    partner home hb holding a's larger partners of that home; the
    *    other kinds pass through with a = k1;
    *  - after one exchange on a, `co_counts` counts a's distinct
    *    partners per (a, ha, hb), so a pair met in several groups counts
    *    once, and a last aggregation sums per (kind, ha, hb).
    * Every key is a number: the sort-based fallbacks of the aggregates
    * compare longs, never strings. Null devices count in no size and
    * make no pair, as `COUNT(DISTINCT)` skips them.
    */
  private[graft] def contactCountsPass(spark: SparkSession, dir: String,
      origin: Option[Long], code: Column => Column = cellCode): DataFrame = {
    def coded(c: Column): Column = when(c.isNotNull, code(c))
    val kind = col("kind")
    Tables.events(spark, dir)
      .select(col("user_id").as("caid"), col("event_type").as("cell"), bucket(origin).as("tw"))
      .repartition(col("caid"))
      .groupBy(col("caid"))
      .agg(call_function("device_presence", col("caid"), col("cell"), col("tw"),
        lit(DeviceCap)).as("rows"))
      .select(col("caid"), inline(col("rows")))
      .select(kind, coded(col("key")).as("k1"), col("tw").as("k2"), col("caid"),
        coded(col("home")).as("ha"), col("n"), when(kind === 2, col("key")).as("cell"))
      .groupBy(kind, col("k1"), col("k2"))
      .agg(call_function("min_k_distinct_tagged", col("caid"), col("ha"),
          lit(GroupCap + 1)).as("members"),
        sum(col("n")).as("n"), min(col("cell")).as("lo"), max(col("cell")).as("hi"))
      // a group past GroupCap keeps its GroupCap smallest devices
      .select(kind, col("k1"), col("n"), col("lo"), col("hi"), explode_outer(
        call_function("tagged_stripes", slice(col("members"), 1, GroupCap))).as("s"))
      .where(kind =!= 0 || col("s").isNotNull)
      .select(kind, coalesce(col("s.a"), col("k1")).as("a"),
        coalesce(col("s.ha"), col("k1")).as("ha"), col("s.hb").as("hb"),
        col("s.ibs").as("ibs"), col("n"), col("lo"), col("hi"))
      .repartition(col("a"))
      .groupBy(col("a"), col("ha"), col("hb"), kind)
      .agg(size(call_function("co_counts", col("ibs"), lit(1))).cast("long").as("co"),
        sum(col("n")).as("n"), min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .groupBy(kind, col("ha").as("k1"), col("hb").as("k2"))
      .agg(sum(when(kind === 0, col("co")).otherwise(col("n"))).as("n"),
        min(col("lo")).as("lo"), max(col("hi")).as("hi"))
  }

  /** The contact counts of the events under `dir`: the origin (from
    * the parquet footers, or one collect without them), then
    * [[contactCountsPass]]'s one collect, decoded through its kind-2
    * rows. Everything after it (the mirror, the totals, the scaled
    * sizes) is assembled on the driver.
    * @throws IllegalStateException when `code` gives two cells one code,
    *   or a cell a null code
    */
  def contactCounts(spark: SparkSession, dir: String,
      code: Column => Column = cellCode): ContactCounts = {
    val rows = contactCountsPass(spark, dir, originMicros(spark, dir), code).collect()
    def part(p: Int) = rows.iterator.filter(_.getInt(0) == p)
    val names = part(2).map { r =>
      val (lo, hi) = (r.getString(4), r.getString(5))
      if (lo != hi) throw new IllegalStateException(
        s"cell code collision: '$lo' and '$hi' both code to ${r.get(1)}")
      if (r.isNullAt(1) && lo != null) throw new IllegalStateException(
        s"cell '$lo' codes to null")
      r.get(1) -> lo
    }.toMap
    val capped = part(3).map(_.getLong(3)).sum
    if (capped > 0) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"$capped devices have more than $DeviceCap distinct (cell, tw) rows: " +
        "they count in the sizes but make no contact")
    ContactCounts(
      part(0).map(r => (names(r.get(1)), names(r.get(2))) -> r.getLong(3)).toMap,
      part(1).map(r => names(r.get(1)) -> r.getLong(3)).toSeq,
      part(2).map(r => r.getString(4) -> r.getLong(3)).toSeq,
      capped)
  }

  /** M = C + Cᵀ: both directions of every counted pair, so an a = b
    * block pair counts twice.
    */
  private def mirrored(c: ContactCounts): Map[(String, String), Long] =
    (c.pairs.toSeq ++ c.pairs.toSeq.map { case ((a, b), n) => (b, a) -> n })
      .groupMapReduce(_._1)(_._2)(_ + _)

  private val pairOrder: Ordering[(String, String)] =
    Ordering.Tuple2(cellOrder, cellOrder)

  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val observedSchema = StructType(Seq(
    StructField("a_home", StringType, nullable = false),
    StructField("b_home", StringType, nullable = false),
    StructField("observed_contacts", LongType)))

  /** Observed contacts per (a_home, b_home)
    * (matrix_transforms.py:65-90): M = C + Cᵀ of [[contactCounts]],
    * sorted by (a_home, b_home), as a local relation.
    */
  def observedContacts(spark: SparkSession, dir: String): DataFrame = {
    val m = mirrored(contactCounts(spark, dir))
    local(spark, m.keys.toSeq.sorted(pairOrder).map { case k @ (a, b) => Row(a, b, m(k)) },
      observedSchema)
  }

  private val observedContactsSql =
    s"""WITH pairs AS ($interactionPairsSql),
       |homes AS ($homeCellsSql)
       |SELECT ha.home_cell AS a_home, hb.home_cell AS b_home,
       |  count(*) AS observed_contacts
       |FROM pairs
       |JOIN homes ha ON pairs.a_caid = ha.caid
       |JOIN homes hb ON pairs.b_caid = hb.caid
       |GROUP BY 1, 2""".stripMargin

  /** A2 sizes: exact COUNT(DISTINCT caid) per home cell
    * (/root/reference/src/queries/matrix_queries.py:17,32).
    */
  def sizes(spark: SparkSession, dir: String): DataFrame =
    homeCells(spark, dir)
      .groupBy(col("home_cell"))
      .agg(countDistinct(col("caid")).as("size"))

  private val sizesSql =
    s"""WITH homes AS ($homeCellsSql)
       |SELECT home_cell, count(DISTINCT caid) AS size FROM homes GROUP BY 1""".stripMargin

  private val matrixSchema = StructType(Seq(
    StructField("a_home", StringType),
    StructField("b_home", StringType),
    StructField("total_contacts", LongType, nullable = false),
    StructField("observed_contacts", LongType, nullable = false),
    StructField("prob", DoubleType)))

  /** J4+J3+A10: total possible contacts (size_a·size_b) for every pair
    * of home cells, observed contacts M zero-filled, probability column
    * (/root/reference/scripts/NetworkBuilder.py:129-246,
    * matrix_transforms.py:42-122,161), sorted by (a_home, b_home), as a
    * local relation of |homes|² rows. A pair with no possible contact
    * (a home of null devices only) gets a null probability.
    */
  def contactMatrix(spark: SparkSession, c: ContactCounts): DataFrame = {
    val m = mirrored(c)
    val homes = c.homeSizes.sortBy(_._1)(cellOrder)
    val rows = for ((a, sa) <- homes; (b, sb) <- homes) yield {
      val total = sa * sb
      val observed = m.getOrElse((a, b), 0L)
      Row(a, b, total, observed, if (total == 0) null else observed.toDouble / total)
    }
    local(spark, rows, matrixSchema)
  }

  def totalVsObserved(spark: SparkSession, dir: String): DataFrame =
    contactMatrix(spark, contactCounts(spark, dir))

  private val totalVsObservedSql =
    s"""WITH homes AS ($homeCellsSql),
       |sizes AS (SELECT home_cell, count(DISTINCT caid) AS size FROM homes GROUP BY 1),
       |total AS (
       |  SELECT a.home_cell AS a_home, b.home_cell AS b_home,
       |    a.size * b.size AS total_contacts
       |  FROM sizes a CROSS JOIN sizes b),
       |pairs AS ($interactionPairsSql),
       |obs AS (
       |  SELECT ha.home_cell AS a_home, hb.home_cell AS b_home,
       |    count(*) AS observed_contacts
       |  FROM pairs
       |  JOIN homes ha ON pairs.a_caid = ha.caid
       |  JOIN homes hb ON pairs.b_caid = hb.caid
       |  GROUP BY 1, 2)
       |SELECT t.a_home, t.b_home, t.total_contacts,
       |  COALESCE(o.observed_contacts, 0) AS observed_contacts,
       |  CAST(COALESCE(o.observed_contacts, 0) AS DOUBLE) / t.total_contacts AS prob
       |FROM total t LEFT JOIN obs o
       |  ON t.a_home = o.a_home AND t.b_home = o.b_home
       |ORDER BY t.a_home ASC, t.b_home ASC""".stripMargin

  /** Empiric network edges
    * (/root/reference/scripts/MakeEmpiricNetworks.py:47-126): canonical
    * undirected edges (src < dst), each once — the pairs of
    * [[coLocated]], which are canonical and distinct already.
    */
  def empiricEdges(spark: SparkSession, dir: String): DataFrame =
    coLocated(spark, dir).select(col("ia").as("src"), col("ib").as("dst"))

  private val empiricEdgesSql =
    s"""WITH pairs AS ($interactionPairsSql)
       |$edgesSelectSql""".stripMargin

  /** Isolated nodes — devices never co-located (the reference's
    * left-join + `WHERE b_caid IS NULL` anti pattern,
    * MakeEmpiricNetworks.py:64-77 → left_anti).
    */
  def empiricIsolated(spark: SparkSession, dir: String): DataFrame = {
    // a device has a partner exactly when it is in a kept group (every
    // group holds ≥ 2 distinct devices), so no pair is needed
    val grouped = groupedSets(spark, dir, guardMetric = false)
      .select(explode(col("caids")).as("a_caid"))
    Tables.events(spark, dir)
      .select(col("user_id").as("caid")).distinct()
      .join(grouped, col("caid") === col("a_caid"), "left_anti")
  }

  private val empiricIsolatedSql =
    s"""WITH pairs AS ($interactionPairsSql)
       |SELECT DISTINCT user_id AS caid FROM events
       |WHERE user_id NOT IN (SELECT a_caid FROM pairs)""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("interaction_pairs", interactionPairs, Some(interactionPairsSql), bench = true),
    Op("empiric_edges", empiricEdges, Some(empiricEdgesSql)),
    Op("empiric_isolated", empiricIsolated, Some(empiricIsolatedSql)),
    Op("home_cells", homeCells, Some(homeCellsSql)),
    Op("observed_contacts", observedContacts, Some(observedContactsSql), bench = true),
    Op("contact_sizes", sizes, Some(sizesSql)),
    Op("total_vs_observed", totalVsObserved, Some(totalVsObservedSql), bench = true),
  )
}
