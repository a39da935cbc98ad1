package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * Scale notes (100 TB): the (cell, bucket) key is high-cardinality and
  * bounded-skew by construction; the distinct-before-join collapses each
  * (user, cell, bucket) group to one row *before* the shuffle-heavy
  * self-join (the reference's own dedup-before-join pattern,
  * SURVEY §4.2). The pair-level distinct and the group-by share the
  * (a_caid, b_caid) shuffle key, so Catalyst reuses one exchange.
  */
object Interactions {

  /** Oracle spelling of the deduplicated (caid, cell, bucket) presence
    * table. Buckets are anchored at the GLOBAL MIN timestamp exactly
    * like the reference's `TIME_BUCKET(INTERVAL '600 seconds', ts,
    * min_datetime)` (interaction_queries.py:11-17) — engine-side the
    * origin is a scalar aggregate broadcast, never a single-partition
    * window (SURVEY W5), and the dedup rides inside collect_set (see
    * [[interactionPairs]]).
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

  /** J1: distinct co-located (a_caid, b_caid) pairs (both directions,
    * matching the reference's `a.caid != b.caid` with no canonical
    * ordering — interaction_queries.py:21-28).
    *
    * Implemented as ONE shuffle on (cell, tw): group to a caid set per
    * co-location key, pair within the group via double explode. The
    * naive self-join needs either a broadcast of the whole presence
    * table (impossible at 100 TB) or two more shuffles; this shape
    * scales because group sizes are physically bounded (devices
    * co-present in one ~0.5 m cell within 10 minutes), so the n² pair
    * explode per group is O(1) per key and skew-free by construction.
    */
  /** Co-located pair OCCURRENCES (one row per co-location event, NOT
    * distinct): consumers that re-aggregate (observed contacts, edges,
    * isolated nodes) fuse the pair dedup into their own aggregation
    * instead of paying a separate distinct exchange here.
    */
  /** Max devices kept per (cell, tw) co-location group — far above
    * anything physically possible in a ~0.5 m cell / 10 min window, so
    * it only ever binds on poisoned keys.
    */
  val GroupCap = 1024

  /** @param guardMetric attach the named `observe` for capped groups.
    *   Only the REGISTERED query root may set it: a named observation
    *   appearing in two subtrees of one plan with different results
    *   (e.g. clustering_coefficient joining the pair relation against
    *   differently-filtered copies of itself) throws
    *   DUPLICATED_METRICS_NAME at runtime. Compositions keep the cap
    *   (the actual OOM guard) and skip only the metric.
    */
  private def groupedSets(spark: SparkSession, dir: String,
      guardMetric: Boolean): DataFrame = {
    // No pre-distinct on presence either: collect_SET dedups caids per
    // (cell, tw) during partial aggregation, so a presence distinct
    // exchange would be pure overhead — map-side set-merge ships the
    // same bytes, one stage earlier (r2: one exchange fewer than r1 at
    // every scale).
    val ev = Tables.events(spark, dir)
    val origin = ev.agg(min(col("ts")).as("origin_ts"))
    val grouped = ev.crossJoin(broadcast(origin))
      .select(
        col("user_id").as("caid"),
        col("event_type").as("cell"),
        expr("(unix_micros(ts) - unix_micros(origin_ts)) div 600000000").as("tw"))
      .groupBy(col("cell"), col("tw"))
      // Group-size guard, IN the aggregation buffer: co-location
      // physics bounds how many devices share one ~0.5 m cell within
      // 10 minutes, but a POISONED hot key (stuck sensor, default
      // coordinate) would blow both the collect buffer and the n²
      // in-group explode. min_k_distinct keeps the GroupCap+1 smallest
      // distinct caids in O(cap) memory — the k-th+1 element only
      // proves overflow; the slice below drops it — so the kept subset
      // is the same deterministic sorted prefix the old
      // collect_set→sort→slice spelling produced, without ever
      // materializing the poisoned set. The overflow stays observable
      // through the named metric so production degrades loudly. On
      // sane data (every oracle fixture) the cap is unreachable and
      // results are byte-identical to collect_set.
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
    grouped
  }

  /** Co-located pair occurrences in BOTH directions (one row per
    * ordered pair per co-location event): consumers that aggregate
    * per-direction (observed contacts' home enrichment) read this.
    */
  private[operators] def interactionPairsRaw(spark: SparkSession, dir: String,
      guardMetric: Boolean = false): DataFrame =
    groupedSets(spark, dir, guardMetric)
      .select(explode(col("caids")).as("a_caid"), col("caids"))
      .select(col("a_caid"), explode(col("caids")).as("b_caid"))
      .where(col("a_caid") =!= col("b_caid"))

  /** Canonical (a < b) co-located pair occurrences: half the explode
    * output and half the downstream distinct's shuffle volume; callers
    * that need both directions mirror AFTER deduplication (a narrow
    * union — no extra exchange at any scale).
    */
  private[operators] def interactionPairsCanon(spark: SparkSession, dir: String,
      guardMetric: Boolean = false): DataFrame =
    // pair_structs emits exactly n(n-1)/2 canonical pairs per group in
    // one codegen'd kernel — the double-explode + a<b idiom flowed
    // n(n-1) rows through two Generates and discarded half (the
    // Recommend.pairCounts measurement; up to ~0.5M wasted rows per
    // capped group)
    groupedSets(spark, dir, guardMetric)
      .select(explode(call_function("pair_structs", col("caids"))).as("p"))
      .select(col("p.ia").as("a_caid"), col("p.ib").as("b_caid"))

  def interactionPairs(spark: SparkSession, dir: String): DataFrame =
    // one explode (not a self-union) mirrors the canonical pairs, so
    // the distinct subtree is evaluated exactly once
    interactionPairsCanon(spark, dir, guardMetric = true).distinct()
      .select(explode(array(
        struct(col("a_caid"), col("b_caid")),
        struct(col("b_caid").as("a_caid"), col("a_caid").as("b_caid")))).as("p"))
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

  /** Observed contacts per (a_home, b_home): distinct interacting pairs
    * enriched with each side's home cell, then counted
    * (matrix_transforms.py:65-90). The home catalog is keyed on caid —
    * DEVICE cardinality (10⁷–10⁸ in production, SURVEY §4.3), so it is
    * NOT broadcastable at scale: both enrichment joins go through a
    * shuffle-hash join on the device key (VERDICT r3 #3). AQE may still
    * downgrade to broadcast at toy SF; the hint keeps the plan
    * shuffle-shaped where it matters.
    */
  /** The r2–r6 two-join spelling, kept as the reference of the
    * equivalence spec (R13Spec): pairs explode unlabeled,
    * then two device-key shuffle-hash joins attach the homes. Replaced
    * as the registered query by [[observedContacts]] (the fused
    * spelling) in r7 — measured 0.65 → 0.50 s at sf0.1 with identical
    * results; at 100 TB the win grows, because the two joins this
    * removes shuffle the PAIR relation (n(n−1) per co-location group),
    * the largest relation in the query.
    */
  private[graft] def observedContactsJoined(spark: SparkSession, dir: String): DataFrame = {
    // fused dedup (r2): count DISTINCT pairs inside the home-level
    // aggregation instead of a separate pair-distinct exchange —
    // Spark's two-phase distinct-agg dedups map-side on
    // (homes, pair), so the shuffle ships ≈ the distinct volume with
    // one whole stage fewer.
    // (r3 note: a canonical-pairs variant — half the distinct-agg
    // volume, recovered by a home-level mirror-sum M = C + Cᵀ — was
    // measured and rejected: the two extra stages cost more than the
    // halved shuffle wins, and both shapes are linear in the pair
    // count at any scale. The r7 fused spelling mirrors at the MATRIX
    // level instead, where the mirror is free.)
    val pairs = interactionPairsRaw(spark, dir)
    val homes = homeCells(spark, dir)
    pairs
      .join(homes.withColumnRenamed("caid", "a_caid")
        .withColumnRenamed("home_cell", "a_home")
        .hint("shuffle_hash"), Seq("a_caid"))
      .join(homes.withColumnRenamed("caid", "b_caid")
        .withColumnRenamed("home_cell", "b_home")
        .hint("shuffle_hash"), Seq("b_caid"))
      .groupBy(col("a_home"), col("b_home"))
      .agg(countDistinct(col("a_caid"), col("b_caid")).as("observed_contacts"))
  }

  /** Observed contacts per (a_home, b_home): distinct interacting
    * pairs labeled with each side's home cell, then counted
    * (matrix_transforms.py:65-90). Fused single-join spelling (r6
    * verdict #1, registered in r7): homes enrich the PRESENCE rows
    * (event-cardinality) before the (cell, tw) grouping, the group
    * collects (caid, home) structs (`min_k_distinct_tagged` — same
    * deterministic smallest-k subset as the untagged path), and
    * canonical pairs emerge already home-labeled
    * (`pair_structs_tagged`), so the pair relation — the LARGEST
    * relation in this query, n(n−1) per group — never shuffles
    * through a join at all. The bidirectional count is recovered at
    * the MATRIX level (M = C + Cᵀ over the |cells|² relation — tiny
    * at any scale), not by mirroring pairs. One device-key exchange
    * on events replaces two on pairs; the homes catalog stays
    * shuffle-side (device cardinality, never broadcastable —
    * VERDICT r3 #3).
    */
  def observedContacts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val origin = ev.agg(min(col("ts")).as("origin_ts"))
    val homes = homeCells(spark, dir)
    val presence = ev.crossJoin(broadcast(origin))
      .select(
        col("user_id").as("caid"),
        col("event_type").as("cell"),
        expr("(unix_micros(ts) - unix_micros(origin_ts)) div 600000000").as("tw"))
    val enriched = presence.join(homes.hint("shuffle_hash"), Seq("caid"))
    val grouped = enriched.groupBy(col("cell"), col("tw"))
      .agg(call_function("min_k_distinct_tagged",
        col("caid"), col("home_cell"), lit(GroupCap + 1)).as("members"))
      .where(size(col("members")) >= 2)
      .withColumn("members",
        when(size(col("members")) <= lit(GroupCap), col("members"))
          .otherwise(slice(col("members"), 1, GroupCap)))
    val canon = grouped
      .select(explode(call_function("pair_structs_tagged", col("members"))).as("p"))
      .select(col("p.ia").as("a_caid"), col("p.ib").as("b_caid"),
        col("p.ta").as("a_home"), col("p.tb").as("b_home"))
    val c = canon.groupBy(col("a_home"), col("b_home"))
      .agg(countDistinct(col("a_caid"), col("b_caid")).as("cnt"))
    c.select(col("a_home"), col("b_home"), col("cnt"))
      .unionAll(c.select(col("b_home").as("a_home"),
        col("a_home").as("b_home"), col("cnt")))
      .groupBy(col("a_home"), col("b_home"))
      .agg(sum(col("cnt")).as("observed_contacts"))
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

  /** J4+J3+A10: cross-join total possible contacts (size_a*size_b), left
    * join observed, zero-fill, probability column
    * (/root/reference/scripts/NetworkBuilder.py:129-246,
    * matrix_transforms.py:42-122,161). The sizes side is |cells|² — tiny
    * — so both joins broadcast; probs computed on the long form.
    */
  def totalVsObserved(spark: SparkSession, dir: String): DataFrame = {
    val sz = sizes(spark, dir)
    val a = sz.select(col("home_cell").as("a_home"), col("size").as("a_size"))
    val b = sz.select(col("home_cell").as("b_home"), col("size").as("b_size"))
    val total = a.crossJoin(b)
      .select(col("a_home"), col("b_home"),
        (col("a_size") * col("b_size")).as("total_contacts"))
    val obs = observedContacts(spark, dir)
    total.join(broadcast(obs), Seq("a_home", "b_home"), "left")
      .select(col("a_home"), col("b_home"), col("total_contacts"),
        coalesce(col("observed_contacts"), lit(0L)).as("observed_contacts"),
        (coalesce(col("observed_contacts"), lit(0L)).cast("double")
          / col("total_contacts")).as("prob"))
      .orderBy(col("a_home").asc, col("b_home").asc)
  }

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
    * undirected edges via LEAST/GREATEST + distinct over the
    * co-location pairs.
    */
  def empiricEdges(spark: SparkSession, dir: String): DataFrame =
    // canonical a < b occurrences ARE the undirected edges — one
    // distinct, no least/greatest needed, half the r2 shuffle volume
    interactionPairsCanon(spark, dir)
      .select(col("a_caid").as("src"), col("b_caid").as("dst"))
      .distinct()

  private val empiricEdgesSql =
    s"""WITH pairs AS ($interactionPairsSql)
       |SELECT DISTINCT least(a_caid, b_caid) AS src,
       |  greatest(a_caid, b_caid) AS dst
       |FROM pairs""".stripMargin

  /** Isolated nodes — devices never co-located (the reference's
    * left-join + `WHERE b_caid IS NULL` anti pattern,
    * MakeEmpiricNetworks.py:64-77 → left_anti).
    */
  def empiricIsolated(spark: SparkSession, dir: String): DataFrame = {
    // anti-join doesn't care about pair multiplicity — no distinct
    val pairs = interactionPairsRaw(spark, dir)
    Tables.events(spark, dir)
      .select(col("user_id").as("caid")).distinct()
      .join(pairs, col("caid") === col("a_caid"), "left_anti")
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
