package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, Tables}

/** Graph metrics over the empiric co-location network
  * (/root/reference/scripts/MakeEmpiricNetworks.py builds these
  * networks; networkx then reports structure — re-expressed here as
  * relational queries over the canonical edge list).
  *
  * Scale notes: degrees are one exchange; triangle counting is the
  * textbook node-iterator (wedge join + closing-edge semi-join) on the
  * canonical a<b orientation. On skewed degree distributions the
  * standard hardening is degree-ordered orientation (lower-degree
  * endpoint first) so wedge counts are Σ d(v)·min(d(v), …) — the
  * co-location graph is degree-bounded by cell capacity, so id
  * orientation suffices here.
  */
object GraphMetrics {

  private[graft] def edges(spark: SparkSession, dir: String): DataFrame =
    Interactions.empiricEdges(spark, dir) // canonical src < dst, each once

  /** Degree per node (undirected). */
  def graphDegrees(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
  }

  // the canonical presence/pair/edge CTE strings live in Interactions —
  // referenced, not re-pasted, so an edit to the pair definition
  // cannot silently leave these oracles validating a stale spec
  private val pairsSql = Interactions.pairsSelectSql
  private val edgesSql = Interactions.edgesSelectSql
  private val presenceSql = Interactions.presenceSql

  private val graphDegreesSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges AS ($edgesSql)
       |SELECT node, count(*) AS degree FROM (
       |  SELECT src AS node FROM edges
       |  UNION ALL
       |  SELECT dst AS node FROM edges)
       |GROUP BY 1""".stripMargin

  /** Global triangle count: wedges (a<b<c from edges (a,b),(b,c))
    * closed by edge (a,c). Adaptive like [[graphJaccardLinks]] (r19):
    * the wedge+semi-join is the sparse shape; on the dense co-location
    * regime the whole count falls out of the per-node bitset pass.
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    withDensityChoice(spark, dir)(
      adj => nodeTrianglesBitset(spark, adj)
        // Σ_v tri(v) counts each triangle at all 3 corners; the sum is
        // < 2^52 so the double division is exact
        .agg((sum(col("tri")) / 3).cast("long").as("n_triangles")))(
      trianglesWedge)

  private[graft] def trianglesWedge(e: DataFrame): DataFrame = {
    // the three edge references are the identical subtree — the wedge
    // self-join reuses one exchange (SelfJoinShuffleRule keeps it a
    // shuffle join), and a left-semi closes the wedge without
    // duplicating triangles
    val wedges = e.alias("e1")
      .join(e.alias("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    wedges.join(e.alias("e3"),
        col("a") === col("e3.src") && col("c") === col("e3.dst"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  private val graphTrianglesSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges AS ($edgesSql)
       |SELECT count(*) AS n_triangles
       |FROM edges e1
       |JOIN edges e2 ON e1.dst = e2.src
       |JOIN edges e3 ON e1.src = e3.src AND e2.dst = e3.dst""".stripMargin

  /** Fixed-iteration PageRank (3 rounds, damping 0.85) over the
    * undirected empiric network — the importance ranking networkx
    * reports on these graphs, as pure relational iteration: each round
    * is contributions = ranks ⋈ edges on src, re-aggregated on dst.
    *
    * Scale notes: the directed-edge relation appears once per round,
    * but the subtrees are identical so the shuffle materializes once
    * and later rounds read ReusedExchange (the same mechanism the
    * triangle wedge join leans on). Ranks and degrees shuffle on the
    * same node key every round — co-partitioned by Catalyst, no
    * driver-side state. Undirected edges mean no dangling-mass term:
    * every node has out-degree ≥ 1.
    *
    * Float-parity: the per-round contribution sum is round-15 then
    * DECIMAL-accumulated (the bm25 discipline) — a raw double SUM is
    * aggregation-ORDER-dependent, and at sf0.001 one node's true value
    * landed within an ulp of a 9-dp rounding boundary, flipping the
    * hash between engines. Decimal accumulation is exact, so the
    * per-round ranks are identical doubles on both sides regardless of
    * partialing; round-12 re-canonicalizes r between rounds and the
    * output rounds to 9 dp as before.
    */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    // PageRank's adaptive gate differs from the pair-scan kernels: the
    // kernel cost is Σd per iteration (iterate set bits), not n²·w, so
    // density is irrelevant — ANY node-bounded graph wins by collapsing
    // ~2 chained shuffle jobs PER ITERATION into one eager matrix
    // collect. Past the node cap the relational iteration is the only
    // shape that scales (rank/degree co-partitioned, ReusedExchange on
    // the edge subtree) and the chooser routes there.
    withDensityChoice(spark, dir, acceptDense = (_, _) => true)(
      adj => pagerankKernel(spark, adj, iters))(
      e0 => pagerankRelational(spark, e0, iters))

  /** Relational PageRank iteration — the 100 TB shape: each round is
    * contributions = ranks ⋈ edges on src, re-aggregated on dst, all
    * rounds reading ONE materialized edge exchange (ReusedExchange).
    */
  private[graft] def pagerankRelational(spark: SparkSession, e0: DataFrame,
      iters: Int): DataFrame = {
    import graft.functions.GraftFunctions.sum_order_free
    val e = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val n = deg.agg(count(lit(1)).as("n"))
    var r = deg.crossJoin(broadcast(n))
      .select(col("src").as("node"), (lit(1.0) / col("n")).as("r"))
    for (_ <- 1 to iters)
      r = e.join(r, col("src") === col("node"))
        .join(deg, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum_order_free(col("r") / col("d")).as("s"))
        .crossJoin(broadcast(n))
        .select(col("dst").as("node"),
          round(lit(0.15) / col("n") + lit(0.85) * col("s"), 12).as("r"))
    r.select(col("node"), round(col("r"), 9).as("pagerank"))
  }

  /** Spark round(double, s) semantics for the kernel: Catalyst's Round
    * on DoubleType goes through BigDecimal.valueOf (shortest-decimal
    * representation), setScale(s, HALF_UP) — NOT new BigDecimal(d)
    * (exact binary expansion), which rounds differently within an ulp
    * of the boundary. Pinned against Spark's own round() by spec.
    */
  private[graft] def roundHalfUp(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Dense/bounded kernel: with n ≤ [[MaxBitsetNodes]] the adjacency
    * matrix is driver-collectable (n²/8 ≤ 128 MB — [[Adjacency]],
    * shared with the pair-scan kernels) and 3 iterations over it are
    * microseconds of exact scaled-long arithmetic, replacing
    * ~2 shuffle jobs per relational iteration. Float-parity with
    * [[pagerankRelational]] (and hence the DuckDB oracle) is EXACT,
    * not approximate: each contribution is round(r/d, 15) as a scale-15
    * long (sum_order_free's DECIMAL(28,15) term — r ≤ 1 so the
    * unscaled value fits a long with 3 digits to spare), per-node sums
    * are exact long adds (≤ 10^15 total mass), and the decimal→double
    * cast plus the round-12/round-9 steps reproduce Catalyst's
    * BigDecimal.valueOf path bit for bit (kernel-equality spec at two
    * SFs + hand graphs; oracle hash at all three SFs).
    */
  private[graft] def pagerankKernel(spark: SparkSession, adj: Adjacency,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    val Adjacency(ids, bits) = adj
    val nn = ids.length
    val words = (nn + 63) >>> 6
    val deg = bits.map { row =>
      var c = 0L; var k = 0
      while (k < row.length) { c += java.lang.Long.bitCount(row(k)); k += 1 }
      c
    }
    val nD = nn.toDouble
    var r = Array.fill(nn)(1.0 / nD)
    for (_ <- 1 to iters) {
      // round(r/d, 15) · 10^15 as an exact long (longValueExact guards
      // the capacity argument rather than trusting it)
      val contrib = Array.tabulate(nn) { u =>
        java.math.BigDecimal.valueOf(r(u) / deg(u))
          .setScale(15, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
      }
      val next = new Array[Double](nn)
      var v = 0
      while (v < nn) {
        val row = bits(v)
        var s = 0L
        var k = 0
        while (k < words) {
          var w = row(k)
          while (w != 0L) {
            s += contrib((k << 6) + java.lang.Long.numberOfTrailingZeros(w))
            w &= w - 1
          }
          k += 1
        }
        // CAST(DECIMAL(38,15) AS DOUBLE) — construct the decimal, don't
        // divide doubles (s/1e15 can differ in the last ulp)
        val sD = new java.math.BigDecimal(
          java.math.BigInteger.valueOf(s), 15).doubleValue()
        next(v) = roundHalfUp(0.15 / nD + 0.85 * sD, 12)
        v += 1
      }
      r = next
    }
    ids.toSeq.zip(r.toSeq).map { case (id, rv) => (id, roundHalfUp(rv, 9)) }
      .toDF("node", "pagerank")
  }

  private def prIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT s.node, round(CAST(0.15 AS DOUBLE) / n.n
       |      + CAST(0.85 AS DOUBLE) * CAST(s.s AS DOUBLE), 12) AS r
       |  FROM (SELECT e.dst AS node,
       |          SUM(CAST(round($prev.r / deg.d, 15) AS DECIMAL(28,15))) AS s
       |        FROM e JOIN $prev ON e.src = $prev.node
       |        JOIN deg ON e.src = deg.src
       |        GROUP BY e.dst) s CROSS JOIN n)""".stripMargin

  private val pagerankSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges0 AS ($edgesSql),
       |e AS (SELECT src, dst FROM edges0
       |      UNION ALL SELECT dst AS src, src AS dst FROM edges0),
       |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT deg.src AS node, CAST(1.0 AS DOUBLE) / n.n AS r
       |       FROM deg CROSS JOIN n),
       |${prIterSql("r0", "r1")},
       |${prIterSql("r1", "r2")},
       |${prIterSql("r2", "r3")}
       |SELECT node, round(r, 9) AS pagerank FROM r3""".stripMargin

  /** Bounded-depth BFS from a deterministic seed set (nodes ≡ 0 mod
    * 50): min hop distance within 3 rounds — the reachability /
    * contact-tracing primitive over the empiric network. Proper
    * frontier expansion: each round joins ONLY the nodes first reached
    * in the previous round against the edge relation, then folds into
    * the running min — never re-expands settled nodes. The edge
    * subtree is identical each round, so all three rounds read one
    * materialized exchange (same mechanism as [[pagerank]]).
    */
  def graphBfsDepth(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    // like pagerank: the kernel cost is a frontier sweep (not a pair
    // scan), so density is irrelevant — any node-bounded graph wins
    withDensityChoice(spark, dir, acceptDense = (_, _) => true)(
      adj => bfsKernel(spark, adj, rounds))(
      e0 => bfsRelational(e0, rounds))

  /** Relational frontier expansion — the 100 TB shape (see scaladoc
    * above; each round joins ONLY the previous round's frontier).
    */
  private[graft] def bfsRelational(e0: DataFrame, rounds: Int = 3): DataFrame = {
    val e = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    var dist = e.select(col("src").as("node")).distinct()
      .where(col("node") % 50 === 0)
      .select(col("node"), lit(0L).as("depth"))
    for (k <- 1 to rounds)
      dist = dist.unionByName(
          e.join(dist.where(col("depth") === (k - 1)),
              col("src") === col("node"))
            .select(col("dst").as("node"), lit(k.toLong).as("depth")))
        .groupBy(col("node")).agg(min(col("depth")).as("depth"))
    dist
  }

  /** Node-bounded kernel: breadth-first frontier sweep over the
    * collected adjacency (pure integer arithmetic — exact by
    * construction, no float discipline needed).
    */
  private[graft] def bfsKernel(spark: SparkSession, adj: Adjacency,
      rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val Adjacency(ids, bits) = adj
    val nn = ids.length
    val words = (nn + 63) >>> 6
    val depth = Array.fill(nn)(-1L)
    ids.indices.foreach(i => if (ids(i) % 50 == 0) depth(i) = 0L)
    for (k <- 1 to rounds) {
      val reach = new Array[Long](words)
      var i = 0
      while (i < nn) {
        if (depth(i) == k - 1) {
          val row = bits(i); var w = 0
          while (w < words) { reach(w) |= row(w); w += 1 }
        }
        i += 1
      }
      var v = 0
      while (v < nn) {
        if (depth(v) < 0 && ((reach(v >>> 6) >>> (v & 63)) & 1L) == 1L)
          depth(v) = k
        v += 1
      }
    }
    ids.indices.collect { case i if depth(i) >= 0 => (ids(i), depth(i)) }
      .toDF("node", "depth")
  }

  private val graphBfsDepthSql =
    s"""WITH RECURSIVE p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges0 AS ($edgesSql),
       |e AS (SELECT src, dst FROM edges0
       |      UNION ALL SELECT dst AS src, src AS dst FROM edges0),
       |reach(node, depth) AS (
       |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS depth
       |  FROM e WHERE src % 50 = 0
       |  UNION
       |  SELECT e.dst, r.depth + 1
       |  FROM reach r JOIN e ON e.src = r.node
       |  WHERE r.depth < 3)
       |SELECT node, CAST(min(depth) AS BIGINT) AS depth
       |FROM reach GROUP BY 1""".stripMargin

  /** Synchronous label propagation (3 rounds): community detection the
    * way a distributed engine actually runs LPA — every node adopts
    * its neighbors' most frequent label each round, ties broken by the
    * SMALLEST label so the iteration is deterministic (async LPA's
    * update order dependence has no stable distributed meaning).
    * Nodes start as their own label; after the fixed rounds the label
    * is the community id.
    *
    * Scale shape: each round is one (edge ⋈ labels) shuffle on src +
    * one count aggregation + one per-node argmax (WindowGroupLimit
    * partials) — the pagerank iteration pattern with an argmax in
    * place of the weighted sum; the directed-edge relation
    * materializes once and later rounds read ReusedExchange.
    */
  def labelPropagation(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    // synchronous LPA is pure integer argmax — kernel replication is
    // exact by construction; node-bounded graphs skip 2 shuffles + a
    // window per iteration
    withDensityChoice(spark, dir, acceptDense = (_, _) => true)(
      adj => lpaKernel(spark, adj, iters))(
      e0 => labelPropagationEdges(e0, iters))

  /** Node-bounded kernel: per-node neighbor-label histogram with the
    * (count desc, label asc) tie-break — the exact argmax the
    * relational window computes. Labels live as INDICES into the
    * sorted id array, so "label asc" == "index asc" (order-preserving
    * map) and the histogram is a flat int array + touched list —
    * O(Σd) with zero boxing per round.
    */
  private[graft] def lpaKernel(spark: SparkSession, adj: Adjacency,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    val Adjacency(ids, bits) = adj
    val nn = ids.length
    val words = (nn + 63) >>> 6
    var label: Array[Int] = Array.tabulate(nn)(identity)
    val counts = new Array[Int](nn)
    val touched = new Array[Int](nn)
    for (_ <- 1 to iters) {
      val next = new Array[Int](nn)
      var v = 0
      while (v < nn) {
        var nTouched = 0
        val row = bits(v); var k = 0
        while (k < words) {
          var w = row(k)
          while (w != 0L) {
            val l = label((k << 6) + java.lang.Long.numberOfTrailingZeros(w))
            if (counts(l) == 0) { touched(nTouched) = l; nTouched += 1 }
            counts(l) += 1
            w &= w - 1
          }
          k += 1
        }
        var bestL = Int.MaxValue; var bestC = 0
        var t = 0
        while (t < nTouched) {
          val l = touched(t); val c = counts(l)
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
          counts(l) = 0
          t += 1
        }
        next(v) = bestL
        v += 1
      }
      label = next
    }
    ids.indices.map(i => (ids(i), ids(label(i)))).toDF("node", "community")
  }

  private[graft] def labelPropagationEdges(e0: DataFrame, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    var l = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to iters)
      l = e.join(l, col("src") === col("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("dst"))
            .orderBy(col("c").desc, col("label").asc)))
        .where(col("rk") === 1)
        .select(col("dst").as("node"), col("label"))
    l.select(col("node"), col("label").as("community"))
  }

  private def lpaIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT node, label FROM (
       |    SELECT e.dst AS node, $prev.label, count(*) AS c,
       |      ROW_NUMBER() OVER (PARTITION BY e.dst
       |        ORDER BY count(*) DESC, $prev.label ASC) AS rk
       |    FROM e JOIN $prev ON e.src = $prev.node
       |    GROUP BY 1, 2)
       |  WHERE rk = 1)""".stripMargin

  private val labelPropagationSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges0 AS ($edgesSql),
       |e AS (SELECT src, dst FROM edges0
       |      UNION ALL SELECT dst AS src, src AS dst FROM edges0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${lpaIterSql("l0", "l1")},
       |${lpaIterSql("l1", "l2")},
       |${lpaIterSql("l2", "l3")}
       |SELECT node, label AS community FROM l3""".stripMargin

  /** Connected components of the empiric network by SYNCHRONOUS
    * min-label propagation, fixed 4 rounds: every node adopts the
    * minimum of its own and its neighbors' labels each round, starting
    * from label = node id. The contract is the 4-round recurrence
    * itself (exact components wherever the component radius from its
    * min-id node is ≤ 4 — co-location cores collapse in 1-2 rounds;
    * the bounded-rounds discipline is the same as [[graphBfsDepth]]/
    * [[labelPropagation]]/[[pagerank]], giving both engines an
    * identical integer recurrence instead of an open-ended loop —
    * unbounded CC for actionable dedup lives in
    * [[Clustering.connectedComponentsStar]]). Output: node, its
    * component label (min id reached within the horizon), and the
    * component size — the structure report beside degrees/triangles/
    * communities.
    *
    * Scale shape (relational path): each round is one (edge ⋈ labels)
    * shuffle + a min aggregation — monotone, so a converged round is a
    * no-op and early rounds dominate; the sizes join is node-bounded.
    * Node-bounded graphs run the whole recurrence as a driver kernel
    * over the bitset adjacency (integer-exact; min over sorted-id
    * INDICES == min over ids).
    */
  def graphComponents(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame =
    withDensityChoice(spark, dir, acceptDense = (_, _) => true)(
      adj => componentsKernel(spark, adj, rounds))(
      e0 => componentsRelational(e0, rounds))

  private[graft] def componentsRelational(e0: DataFrame, rounds: Int = 4): DataFrame = {
    // Self-loops folded into the edge relation, ONE reference to the
    // previous round per round — the same linear-inlining discipline
    // as ccIterSql below: a self-UNION-join spelling references l
    // twice per level and grows the LOGICAL plan 2^rounds copies of
    // the corpus-derived edge subtree (the connectedComponentsStar
    // analysis-blowup lesson); with self-loops, min-over-neighbors IS
    // min-over-self∪neighbors and the chain stays linear.
    val e = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = e.select(col("src").as("node")).distinct()
    val e2 = e.unionByName(
      nodes.select(col("node").as("src"), col("node").as("dst")))
    var l = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds)
      l = e2.join(l, col("src") === col("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("label"))
        .select(col("dst").as("node"), col("label"))
    // sizes: node-bounded but corpus-derived — plain join, never a
    // baked broadcast (AQE may still pick one at fixture scale)
    val sizes = l.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    l.join(sizes, Seq("label"))
      .select(col("node"), col("label").as("component"), col("csize"))
  }

  /** Node-bounded kernel: the same synchronous recurrence over the
    * collected adjacency bitsets. Labels are indices into the
    * ascending-sorted id array, so index-min == id-min.
    */
  private[graft] def componentsKernel(spark: SparkSession, adj: Adjacency,
      rounds: Int = 4): DataFrame = {
    import spark.implicits._
    val Adjacency(ids, bits) = adj
    val nn = ids.length
    var label = Array.tabulate(nn)(identity)
    for (_ <- 1 to rounds) {
      val next = new Array[Int](nn)
      var v = 0
      while (v < nn) {
        var best = label(v)
        val row = bits(v)
        var w = 0
        while (w < row.length) {
          var m = row(w)
          while (m != 0L) {
            val u = (w << 6) + java.lang.Long.numberOfTrailingZeros(m)
            if (label(u) < best) best = label(u)
            m &= m - 1
          }
          w += 1
        }
        next(v) = best
        v += 1
      }
      label = next
    }
    val sizes = new Array[Long](nn)
    label.foreach(c => sizes(c) += 1)
    ids.indices.map(i => (ids(i), ids(label(i)), sizes(label(i))))
      .toDF("node", "component", "csize")
  }

  /** One min-label round referencing the previous level exactly ONCE:
    * DuckDB (and Spark's frontend) INLINE non-recursive CTEs per
    * reference, so a round spelled as self-UNION-join (two prev
    * references) doubles the whole expression tree per level — 2⁴ = 16
    * copies of the pair join by l4, measured 6× runtime growth per
    * level at 10× (the hilbert-chain lesson in a new costume). With
    * self-loops folded into e2, min over neighbors alone IS min over
    * self ∪ neighbors, and the chain inlines linearly.
    */
  private def ccIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT e2.dst AS node, min(p.label) AS label
       |  FROM e2 JOIN $prev p ON e2.src = p.node
       |  GROUP BY e2.dst)""".stripMargin

  private val graphComponentsSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges0 AS ($edgesSql),
       |e2 AS (SELECT src, dst FROM edges0
       |       UNION ALL SELECT dst AS src, src AS dst FROM edges0
       |       UNION ALL SELECT src, src AS dst FROM edges0
       |       UNION ALL SELECT dst AS src, dst FROM edges0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e2),
       |${ccIterSql("l0", "l1")},
       |${ccIterSql("l1", "l2")},
       |${ccIterSql("l2", "l3")},
       |${ccIterSql("l3", "l4")},
       |s AS (SELECT label, count(*) AS csize FROM l4 GROUP BY label)
       |SELECT l4.node, l4.label AS component, CAST(s.csize AS BIGINT) AS csize
       |FROM l4 JOIN s USING (label)""".stripMargin

  /** Newman degree assortativity of the empiric network: the Pearson
    * correlation of endpoint degrees over the DIRECTED edge multiset —
    * do high-contact devices co-locate with each other (r > 0) or with
    * low-contact ones (r < 0)? The standard networkx structure report
    * beside degrees/triangles/communities, re-expressed as ONE
    * aggregation over the degree-joined edge relation.
    *
    * Scale notes: two shuffles total (the degree aggregate, reused for
    * both endpoint joins, then a scalar aggregation with map-side
    * partials); nothing broadcast but the 1-row result. Float-parity:
    * all four moments are EXACT integers (decimal-38 accumulation; the
    * directed doubling makes x/y moments symmetric so only the x side
    * is emitted), and the one double expression is computed from those
    * integers by identical IEEE ops in both engines and rounded once
    * at 9 dp — the modularity discipline.
    */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame =
    graphAssortativityEdges(edges(spark, dir))

  private[graft] def graphAssortativityEdges(e0: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val p = e
      .join(deg.select(col("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("dy")), Seq("dst"))
    val mean = col("sx").cast("double") / col("m2")
    p.agg(
        count(lit(1)).as("m2"),
        sum(col("dx").cast(dec)).as("sx"),
        sum((col("dx") * col("dy")).cast(dec)).as("sxy"),
        sum((col("dx") * col("dx")).cast(dec)).as("sx2"))
      .select(col("m2"),
        col("sx").cast("long").as("sum_dx"),
        col("sxy").cast("long").as("sum_dxdy"),
        col("sx2").cast("long").as("sum_dx2"),
        round((col("sxy").cast("double") / col("m2") - mean * mean)
          / (col("sx2").cast("double") / col("m2") - mean * mean), 9)
          .as("assortativity"))
  }

  private val graphAssortativitySql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges0 AS ($edgesSql),
       |e AS (SELECT src, dst FROM edges0
       |      UNION ALL SELECT dst AS src, src AS dst FROM edges0),
       |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
       |ep AS (
       |  SELECT dx.d AS dx, dy.d AS dy
       |  FROM e JOIN deg dx ON e.src = dx.src
       |  JOIN deg dy ON e.dst = dy.src),
       |agg AS (
       |  SELECT count(*) AS m2,
       |    CAST(sum(dx) AS BIGINT) AS sx,
       |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
       |    CAST(sum(dx * dx) AS BIGINT) AS sx2
       |  FROM ep)
       |SELECT m2, sx AS sum_dx, sxy AS sum_dxdy, sx2 AS sum_dx2,
       |  round((CAST(sxy AS DOUBLE) / m2
       |      - (CAST(sx AS DOUBLE) / m2) * (CAST(sx AS DOUBLE) / m2))
       |    / (CAST(sx2 AS DOUBLE) / m2
       |      - (CAST(sx AS DOUBLE) / m2) * (CAST(sx AS DOUBLE) / m2)), 9)
       |    AS assortativity
       |FROM agg""".stripMargin

  /** Per-community Newman–Girvan modularity contribution over the
    * [[labelPropagation]] communities: Q_c = l_c/m − (d_c/2m)² (l_c =
    * within-community edges, d_c = community degree sum, m = |E|), so
    * the global Q is the column sum — the standard partition-quality
    * report beside a community assignment (reference's networkx
    * reporting role, re-expressed relationally).
    *
    * Scale notes: both aggregations group on the community key (high
    * cardinality, bounded skew — LPA on this graph converges to many
    * small communities, not one giant one); the only broadcast is the
    * 1-row m scalar (the W5 pattern). The LPA subtree appears under
    * three consumers, but all three read the same final-iteration
    * exchange (ReusedExchange — the [[pagerank]] relational
    * discipline); nothing corpus-sized is broadcast or collected.
    * Float-parity: nodes/edges/degree sums are exact longs; the one
    * double expression is computed from those longs by identical IEEE
    * ops in both engines and rounded once at 9 dp (the
    * clustering-coefficient discipline).
    */
  def graphModularity(spark: SparkSession, dir: String): DataFrame =
    // the community assignment rides the adaptive LPA (a bounded local
    // relation on the dense path — Catalyst broadcasts it into the
    // aggregation joins); the modularity aggregation itself stays
    // relational: it is corpus-shaped (grouped on the community key)
    // and must scale past the node cap unchanged
    modularityFromLabels(edges(spark, dir), labelPropagation(spark, dir))

  private[graft] def modularityFromLabels(e0: DataFrame, lab: DataFrame): DataFrame = {
    val e = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val m = e0.agg(count(lit(1)).as("m"))
    val intra = e0
      .join(lab.select(col("node").as("src"), col("community").as("ca")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("community").as("cb")), Seq("dst"))
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val halfDeg = col("degree_sum").cast("double") / (lit(2) * col("m"))
    deg.join(lab, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("nodes"), sum(col("degree")).as("degree_sum"))
      .join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("internal_edges"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("nodes"), col("internal_edges"),
        col("degree_sum"),
        round(col("internal_edges").cast("double") / col("m")
          - halfDeg * halfDeg, 9).as("contribution"))
  }

  private val graphModularitySql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges0 AS ($edgesSql),
       |e AS (SELECT src, dst FROM edges0
       |      UNION ALL SELECT dst AS src, src AS dst FROM edges0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${lpaIterSql("l0", "l1")},
       |${lpaIterSql("l1", "l2")},
       |${lpaIterSql("l2", "l3")},
       |lab AS (SELECT node, label AS community FROM l3),
       |deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY 1),
       |m AS (SELECT count(*) AS m FROM edges0),
       |intra AS (
       |  SELECT la.community AS community, count(*) AS internal_edges
       |  FROM edges0 e0
       |  JOIN lab la ON e0.src = la.node
       |  JOIN lab lb ON e0.dst = lb.node
       |  WHERE la.community = lb.community
       |  GROUP BY 1),
       |comm AS (
       |  SELECT la.community AS community, count(*) AS nodes,
       |    CAST(sum(d.degree) AS BIGINT) AS degree_sum
       |  FROM deg d JOIN lab la ON d.node = la.node
       |  GROUP BY 1)
       |SELECT c.community, c.nodes,
       |  COALESCE(i.internal_edges, CAST(0 AS BIGINT)) AS internal_edges,
       |  c.degree_sum,
       |  round(CAST(COALESCE(i.internal_edges, 0) AS DOUBLE) / m.m
       |    - (CAST(c.degree_sum AS DOUBLE) / (2 * m.m))
       |      * (CAST(c.degree_sum AS DOUBLE) / (2 * m.m)), 9) AS contribution
       |FROM comm c LEFT JOIN intra i ON c.community = i.community
       |CROSS JOIN m""".stripMargin

  /** 3-core membership after 3 synchronous peeling rounds: drop nodes
    * with degree < 3, recompute degrees over surviving edges, repeat —
    * the cohesion filter that separates a dense social core from
    * incidental contacts. Each round is the SAME shape (two semi-joins
    * of the edge relation against the survivor set + one degree
    * aggregation), so the edge exchange materializes once and
    * subsequent rounds read ReusedExchange — the [[pagerank]]
    * iteration discipline. A fixed round count is the distributed
    * form: full peeling converges in O(peeling-depth) rounds and each
    * is this plan.
    */
  def kcoreMembership(spark: SparkSession, dir: String, k: Int = 3,
      rounds: Int = 3): DataFrame =
    // synchronous peeling is integer-exact; the kernel is n·(n/64)
    // popcount words per round — any node-bounded graph wins
    withDensityChoice(spark, dir, acceptDense = (_, _) => true)(
      adj => kcoreKernel(spark, adj, k, rounds))(
      e0 => kcoreRelational(e0, k, rounds))

  /** Node-bounded kernel: alive-set peeling over the collected
    * adjacency — deg(v) = |N(v) ∩ alive|, filtered against k, with the
    * previous round's alive set used for BOTH endpoint tests (the
    * synchronous semantics of the relational double semi-join).
    */
  private[graft] def kcoreKernel(spark: SparkSession, adj: Adjacency,
      k: Int = 3, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val Adjacency(ids, bits) = adj
    val nn = ids.length
    val words = (nn + 63) >>> 6
    var alive = new Array[Long](words)
    var i = 0
    while (i < nn) { alive(i >>> 6) |= 1L << (i & 63); i += 1 }
    var deg = new Array[Long](nn)
    for (_ <- 1 to rounds) {
      val nextAlive = new Array[Long](words)
      val nd = new Array[Long](nn)
      var v = 0
      while (v < nn) {
        if (((alive(v >>> 6) >>> (v & 63)) & 1L) == 1L) {
          val row = bits(v); var c = 0L; var w = 0
          while (w < words) {
            c += java.lang.Long.bitCount(row(w) & alive(w)); w += 1
          }
          if (c >= k) { nd(v) = c; nextAlive(v >>> 6) |= 1L << (v & 63) }
        }
        v += 1
      }
      alive = nextAlive; deg = nd
    }
    ids.indices
      .collect { case i if ((alive(i >>> 6) >>> (i & 63)) & 1L) == 1L =>
        (ids(i), deg(i)) }
      .toDF("node", "degree")
  }

  private[graft] def kcoreRelational(e0: DataFrame, k: Int = 3,
      rounds: Int = 3): DataFrame = {
    val e = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    var alive = e.select(col("src").as("node")).distinct()
    var deg = e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
    for (_ <- 1 to rounds) {
      val e2 = e.join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
      deg = e2.groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .where(col("degree") >= k)
        .select(col("src").as("node"), col("degree"))
      alive = deg.select(col("node"))
    }
    deg
  }

  private def kcoreIterSql(prev: String, cur: String, k: Int): String =
    s"""$cur AS (
       |  SELECT e.src AS node, count(*) AS degree
       |  FROM e
       |  JOIN $prev p1 ON e.src = p1.node
       |  JOIN $prev p2 ON e.dst = p2.node
       |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin

  private val kcoreMembershipSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges0 AS ($edgesSql),
       |e AS (SELECT src, dst FROM edges0
       |      UNION ALL SELECT dst AS src, src AS dst FROM edges0),
       |a0 AS (SELECT DISTINCT src AS node FROM e),
       |${kcoreIterSql("a0", "a1", 3)},
       |${kcoreIterSql("a1", "a2", 3)},
       |${kcoreIterSql("a2", "a3", 3)}
       |SELECT node, degree FROM a3""".stripMargin

  /** Local clustering coefficient per node: 2·Δ(v) / (d(v)·(d(v)−1)) —
    * how close each node's neighborhood is to a clique (the
    * tight-community signal next to the global [[graphTriangles]]
    * count). The wedge join yields each triangle once on the a<b<c
    * orientation; exploding its three corners and re-counting per node
    * gives Δ(v) with no second join. Degree-1 nodes define 0. Integer
    * counts into one division, rounded 1e-9.
    */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame =
    withDensityChoice(spark, dir)(
      adj => coefCols(nodeTrianglesBitset(spark, adj)
        .select(col("node"), col("degree"), col("tri").as("triangles"))))(
      clusteringWedge)

  /** The shared coefficient projection — ONE spelling of the rounded
    * formula so the dense and sparse kernels cannot drift.
    */
  private def coefCols(ndt: DataFrame): DataFrame =
    ndt.withColumn("coef",
      when(col("degree") < 2, lit(0.0))
        .otherwise(round((lit(2) * col("triangles")).cast("double")
          / (col("degree") * (col("degree") - 1)), 9)))

  private[graft] def clusteringWedge(e: DataFrame): DataFrame = {
    val wedges = e.alias("e1")
      .join(e.alias("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val tris = wedges.join(e.alias("e3"),
        col("a") === col("e3.src") && col("c") === col("e3.dst"), "left_semi")
    val triPerNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    coefCols(deg
      .join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("tri"), lit(0L)).as("triangles")))
  }

  private val clusteringCoefficientSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges AS ($edgesSql),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e1.dst = e2.src
       |  WHERE EXISTS (SELECT 1 FROM edges e3
       |                WHERE e3.src = e1.src AND e3.dst = e2.dst)),
       |tpn AS (
       |  SELECT node, count(*) AS tri FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY 1),
       |deg AS (
       |  SELECT node, count(*) AS degree FROM (
       |    SELECT src AS node FROM edges
       |    UNION ALL SELECT dst FROM edges)
       |  GROUP BY 1)
       |SELECT deg.node, deg.degree,
       |  coalesce(tpn.tri, 0) AS triangles,
       |  CASE WHEN deg.degree < 2 THEN CAST(0 AS DOUBLE)
       |    ELSE round(CAST(2 * coalesce(tpn.tri, 0) AS DOUBLE)
       |      / (deg.degree * (deg.degree - 1)), 9) END AS coef
       |FROM deg LEFT JOIN tpn ON deg.node = tpn.node""".stripMargin

  /** Bounded-round weighted single-source shortest paths (multi-source
    * Bellman-Ford): every relaxation round is one join + min-agg, so
    * round k holds the exact minimum cost over paths of ≤ k edges —
    * the standard distributed SSSP (no priority queue to serialize
    * through). Edge costs derive from co-location multiplicity
    * (more co-occurrences ⇒ cheaper edge: 1/2/3 for cnt ≥3/2/1), so
    * the metric is a contact-closeness distance. Seeds are the %50
    * device cohort (the graph_bfs_depth convention). The oracle
    * reproduces the same semantics as a hop-guarded recursive CTE
    * whose UNION-dedup keeps the frontier node×cost-bounded — never
    * path-enumerating.
    */
  private[graft] def weightedEdges(spark: SparkSession, dir: String): DataFrame =
    // co is the pair's co-location multiplicity: the (cell, tw) groups it met in
    Interactions.coLocated(spark, dir)
      .select(col("ia").as("src"), col("ib").as("dst"),
        when(col("co") >= 3, 1L).when(col("co") === 2, 2L)
          .otherwise(3L).as("cost"))

  def ssspBounded(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    // Weighted edges can't ride the bitset chooser, but the bounds are
    // the same: the device gate, then one exact bounded collect of the
    // edge list (≤ MaxDriverEdges × 24 B ≤ 192 MB).
    val e0 = weightedEdges(spark, dir)
    val local =
      if (devicesUnderGate(spark, dir)) collectAtMost(e0.as[(Long, Long, Long)], MaxDriverEdges)
      else None
    local.fold(ssspRelational(e0, rounds))(ssspKernel(spark, _, rounds))
  }

  /** Relational synchronous relaxation — the 100 TB shape. */
  private[graft] def ssspRelational(e0: DataFrame, rounds: Int = 3): DataFrame = {
    val e = e0.unionByName(e0.select(col("dst").as("src"),
      col("src").as("dst"), col("cost")))
    var dist = e.select(col("src").as("node")).distinct()
      .where(col("node") % 50 === 0)
      .select(col("node"), lit(0L).as("d"))
    for (_ <- 1 to rounds)
      dist = dist.unionByName(
          e.join(dist, e("src") === dist("node"))
            .select(col("dst").as("node"), (col("d") + col("cost")).as("d")))
        .groupBy(col("node")).agg(min(col("d")).as("d"))
    dist.select(col("node"), col("d").as("dist"))
  }

  /** Bounded kernel: synchronous Bellman-Ford rounds over the
    * collected canonical weighted edge list (integer-exact).
    */
  private[graft] def ssspKernel(spark: SparkSession,
      edgesArr: Array[(Long, Long, Long)], rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val ids = (edgesArr.map(_._1) ++ edgesArr.map(_._2)).distinct.sorted
    def idx(x: Long): Int = java.util.Arrays.binarySearch(ids, x)
    val nn = ids.length
    val Inf = Long.MaxValue / 4
    var dist = Array.tabulate(nn)(i => if (ids(i) % 50 == 0) 0L else Inf)
    val es = edgesArr.flatMap { case (a, b, c) =>
      Iterator((idx(a), idx(b), c), (idx(b), idx(a), c)) }
    for (_ <- 1 to rounds) {
      val next = dist.clone()
      es.foreach { case (u, v, c) =>
        if (dist(u) < Inf && dist(u) + c < next(v)) next(v) = dist(u) + c
      }
      dist = next
    }
    ids.indices.collect { case i if dist(i) < Inf => (ids(i), dist(i)) }
      .toDF("node", "dist")
  }

  private val ssspBoundedSql =
    s"""WITH RECURSIVE p AS ($presenceSql),
       |occ AS (
       |  SELECT a.caid AS src, b.caid AS dst
       |  FROM p a JOIN p b
       |    ON a.cell = b.cell AND a.tw = b.tw AND a.caid < b.caid),
       |w AS (SELECT src, dst, count(*) AS cnt FROM occ GROUP BY 1, 2),
       |e0 AS (SELECT src, dst,
       |         CASE WHEN cnt >= 3 THEN 1 WHEN cnt = 2 THEN 2 ELSE 3 END AS cost
       |       FROM w),
       |e AS (SELECT src, dst, cost FROM e0
       |      UNION ALL SELECT dst AS src, src AS dst, cost FROM e0),
       |reach(node, d, h) AS (
       |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS d, 0 AS h
       |  FROM e WHERE src % 50 = 0
       |  UNION
       |  SELECT e.dst, r.d + e.cost, r.h + 1
       |  FROM reach r JOIN e ON e.src = r.node
       |  WHERE r.h < 3)
       |SELECT node, min(d) AS dist FROM reach GROUP BY 1""".stripMargin

  /** Link prediction by common-neighbor Jaccard: for every NON-edge
    * pair sharing at least one neighbor, J = |N(u)∩N(v)| /
    * |N(u)∪N(v)| — the classic similarity heuristic for "who should be
    * connected" (contact recommendation, graph densification QA).
    *
    * ADAPTIVE kernel (r19): the answer is inherently Θ(candidate
    * pairs), but HOW the common-neighbor counts are produced differs
    * by density regime, and the regimes differ by orders of magnitude:
    *
    *  - dense + node-bounded (this co-location graph: n≈1.5k/d≈278 at
    *    sf0.1, n≈7.5k/d≈1394 at ≈sf1) → [[jaccardLinksBitset]]: the
    *    wedge join flows Σd² = n·d² rows through a hash aggregate
    *    (7.4 G rows at 5×, 105 GB of partial-agg spill measured in
    *    the 346 s ≈sf1 sweep entry), while a bitset
    *    adjacency matrix is only n²/8 bytes (7 MB!) and one AND+popcnt
    *    word-loop answers cn, BOTH degrees, and the existing-edge test
    *    with zero joins, zero wedge shuffle.
    *  - sparse or wide (n beyond the broadcast cap, or d < n/64 where
    *    word-ops per pair outgrow wedge rows) → [[jaccardLinksWedge]]:
    *    the streaming wedge join; Σd² rows is then the honest floor
    *    and nothing node²-sized is ever materialized.
    *
    * The switch needs only n and the average degree, both exact once
    * the chooser holds the edge list ([[withDensityChoice]]);
    * bitset work is n²·(n/64) word-ops vs the wedge's n·d² agg rows at
    * ~64× the per-unit cost, so bitset wins iff d ≳ n/64 — and it
    * additionally requires n ≤ 32768 so the matrix broadcast is
    * ≤ 128 MB (at 100 TB with millions of nodes the wedge join is the
    * only exact shape, and the guard routes there).
    */
  def graphJaccardLinks(spark: SparkSession, dir: String): DataFrame =
    withDensityChoice(spark, dir)(
      adj => jaccardLinksBitset(spark, adj))(
      jaccardLinksWedge)

  /** The adaptive scaffold shared by the dense-capable graph metrics.
    * Every driver bound it relies on is proven EXACTLY by
    * [[collectAtMost]]; the only estimate is the device gate in front.
    *
    *  1. Gate ([[devicesUnderGate]]): a device universe far past the
    *     bitset cap goes sparse before the co-location pairs are
    *     counted. Below 1.25 × the cap in events rows (footer row
    *     counts) the gate runs no job.
    *  2. Fits: the edge list (≤ [[MaxDriverEdges]]) lands on the
    *     driver in one job, so ids, n and d̄ come from it with no
    *     further job and the bitsets are built there
    *     ([[driverAdjacency]]) — or the graph goes sparse.
    *  3. Overflow: past MaxDriverEdges, the node ids are collected if
    *     n ≤ [[MaxBitsetNodes]] and the bitsets built by the mergeable
    *     `bitset_agg` ([[aggAdjacency]]), else sparse. acceptDense
    *     always holds here: |E| > 8M and n ≤ 32768 give d̄ > 512, so
    *     64·d̄ > n. Only this route persists the edge relation (the id
    *     collect and the agg both read it) and it releases it before
    *     the plan returns.
    *
    * The sparse branch always gets the lazy, un-persisted edge subtree.
    */
  private def withDensityChoice(spark: SparkSession, dir: String,
      acceptDense: (Int, Double) => Boolean = (n, avgD) => avgD * 64 >= n)(
      dense: Adjacency => DataFrame)(
      sparse: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val e0 = edges(spark, dir)
    if (!devicesUnderGate(spark, dir)) return sparse(e0)
    collectAtMost(e0.as[(Long, Long)], MaxDriverEdges) match {
      case Some(arr) =>
        val ids = nodeIds(arr)
        val n = ids.length
        if (n >= 2 && n <= MaxBitsetNodes && acceptDense(n, 2.0 * arr.length / n))
          dense(driverAdjacency(ids, arr))
        else sparse(e0)
      case None =>
        val e = e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val adj = try {
          val nodes = e.select(col("src")).unionByName(e.select(col("dst").as("src")))
            .distinct().as[Long]
          collectAtMost(nodes, MaxBitsetNodes).map(ids => aggAdjacency(spark, e, ids.sorted))
        } finally e.unpersist()
        adj.fold(sparse(e0))(dense)
    }
  }

  /** The one exact driver-bound proof of the graph and union-find
    * choosers: ONE job, limit(cap+1) → collect. Some(rows) iff ds has
    * at most cap rows; otherwise None, after at most cap+1 rows reached
    * the driver (the overflow row is the verdict).
    */
  private[graft] def collectAtMost[T](ds: Dataset[T], cap: Long): Option[Array[T]] = {
    val rows = ds.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }

  /** Graph nodes ⊆ distinct devices in events ≤ events rows. The rows
    * come from the parquet footers with no job
    * (`Interactions.eventsFooter`); when they pass the bound, so do the
    * devices. Otherwise (or with more than `Interactions.FooterFiles`
    * files, or an unreadable footer) the devices are estimated in one
    * column-pruned scan with no join. False ⇒ no driver route can fit,
    * so the caller skips even the pair count (at 100 TB it would
    * otherwise count every pair only to overflow). The estimate's
    * default rsd is 5%; the 1.25× margin keeps this one-sided — a
    * near-cap graph passes and meets the exact bounds behind it.
    */
  private[graft] def devicesUnderGate(spark: SparkSession, dir: String): Boolean = {
    val bound = MaxBitsetNodes * 1.25
    Interactions.eventsFooter(spark, dir).exists(_.rows <= bound) ||
      Tables.events(spark, dir).agg(approx_count_distinct(col("user_id")))
        .collect()(0).getLong(0) <= bound
  }

  /** Sorted distinct endpoints of a collected edge list. */
  private[graft] def nodeIds(edges: Array[(Long, Long)]): Array[Long] = {
    val endpoints = new Array[Long](edges.length * 2)
    var i = 0
    while (i < edges.length) {
      endpoints(2 * i) = edges(i)._1; endpoints(2 * i + 1) = edges(i)._2
      i += 1
    }
    java.util.Arrays.sort(endpoints)
    var n = 0
    i = 0
    while (i < endpoints.length) {
      if (i == 0 || endpoints(i) != endpoints(i - 1)) {
        endpoints(n) = endpoints(i); n += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(endpoints, n)
  }

  /** The dense kernels' one input: the ascending node ids and the
    * symmetric adjacency bitset matrix over their indices (bit j of
    * row i ⇔ edge ids(i)–ids(j)). n ≤ [[MaxBitsetNodes]], so the
    * matrix is ≤ 128 MB. [[driverAdjacency]] and [[aggAdjacency]]
    * build the identical value for the same graph.
    */
  private[graft] case class Adjacency(ids: Array[Long], bits: Array[Array[Long]])

  /** Adjacency from a collected edge list, on the driver: no job. */
  private[graft] def driverAdjacency(ids: Array[Long],
      edges: Array[(Long, Long)]): Adjacency = {
    val bits = Array.fill(ids.length)(new Array[Long]((ids.length + 63) >>> 6))
    def idx(v: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, v)
      require(i >= 0, s"edge endpoint $v missing from the node ids")
      i
    }
    edges.foreach { case (s, d) =>
      val a = idx(s); val b = idx(d)
      bits(a)(b >>> 6) |= 1L << (b & 63)
      bits(b)(a >>> 6) |= 1L << (a & 63)
    }
    Adjacency(ids, bits)
  }

  /** Adjacency of an edge relation too big to collect: the mergeable
    * `bitset_agg`, so the build exchange carries n/8-byte buffers,
    * never adjacency rows, and the driver receives n rows of n/8 bytes.
    * `ids` are the sorted endpoints of e.
    */
  private[graft] def aggAdjacency(spark: SparkSession, e: DataFrame,
      ids: Array[Long]): Adjacency = {
    import spark.implicits._
    val n = ids.length
    val bits = Array.fill(n)(new Array[Long]((n + 63) >>> 6))
    val idmap = spark.createDataset(ids.toSeq.zipWithIndex).toDF("id", "nid")
    val enc = e
      .join(broadcast(idmap.select(col("id").as("src"), col("nid").as("na"))), Seq("src"))
      .join(broadcast(idmap.select(col("id").as("dst"), col("nid").as("nb"))), Seq("dst"))
      .select(col("na"), col("nb"))
    enc.select(col("na").as("g"), col("nb").as("i"))
      .unionByName(enc.select(col("nb").as("g"), col("na").as("i")))
      .groupBy(col("g"))
      .agg(call_function("bitset_agg", col("i"), lit(n)).as("bits"))
      .as[(Int, Array[Byte])].collect()
      .foreach { case (g, b) => bits(g) = graft.functions.BitsetAgg.words(b) }
    Adjacency(ids, bits)
  }

  /** Per-node degree + triangle count off the bitset matrix: tri(v) =
    * ½ Σ_{u∈N(v)} |N(v)∩N(u)| (each triangle pair at v is seen from
    * both endpoints). Work = 2|E|·(n/64) word-ops — the dense-regime
    * replacement for the Σd² wedge explode, feeding both
    * [[graphTriangles]] (Σ/3) and [[clusteringCoefficient]].
    */
  private[graft] def nodeTrianglesBitset(spark: SparkSession,
      adj: Adjacency): DataFrame = {
    import spark.implicits._
    val bBits = spark.sparkContext.broadcast(adj.bits)
    val bIds = spark.sparkContext.broadcast(adj.ids)
    pairDriver(spark, adj.ids.length)
      .as[Int]
      .map { a =>
        val bs = bBits.value
        val idArr = bIds.value
        val ba = bs(a)
        val w = ba.length
        var deg = 0L
        var t = 0L
        var k = 0
        while (k < w) {
          var m = ba(k)
          deg += java.lang.Long.bitCount(m)
          while (m != 0L) {
            val u = (k << 6) + java.lang.Long.numberOfTrailingZeros(m)
            val bu = bs(u)
            var j = 0
            while (j < w) { t += java.lang.Long.bitCount(ba(j) & bu(j)); j += 1 }
            m &= m - 1
          }
          k += 1
        }
        (idArr(a), deg, t / 2)
      }
      .toDF("node", "degree", "tri")
  }

  /** n²/8 bytes at the cap = 128 MB broadcast / driver collect — the
    * hard feasibility line for the dense kernel.
    */
  private val MaxBitsetNodes = 32768

  /** Above this the raw edge list stops being driver-collectable
    * (8M × 16 B = 128 MB — the same feasibility line as the matrix
    * collect) and the build goes through the mergeable bitset agg.
    */
  private val MaxDriverEdges = 8L * 1024 * 1024

  /** The parallel pair-index driver for the dense kernels: node row
    * indexes 0..n-1, hash-repartitioned so the triangular (n-a) tail
    * work mixes evenly across tasks instead of loading the first range.
    */
  private def pairDriver(spark: SparkSession, n: Int) =
    spark.range(n).select(col("id").cast("int").as("a"))
      .repartition(spark.sparkContext.defaultParallelism * 4, col("a"))

  /** Dense kernel: broadcast the adjacency bitset matrix, then scan
    * node pairs a<b in an embarrassingly parallel mapPartitions —
    * cn = popcount(N(a)&N(b)), degrees = row popcounts, existing-edge
    * test = bit b of N(a).
    */
  private[graft] def jaccardLinksBitset(spark: SparkSession,
      adj: Adjacency): DataFrame = {
    import spark.implicits._
    val bBits = spark.sparkContext.broadcast(adj.bits)
    val bIds = spark.sparkContext.broadcast(adj.ids)
    pairDriver(spark, adj.ids.length)
      .as[Int]
      .mapPartitions { it =>
        val bs = bBits.value
        val idArr = bIds.value
        val dg = bs.map(_.map(java.lang.Long.bitCount(_).toLong).sum)
        val nn = idArr.length
        val w = (nn + 63) >>> 6
        it.flatMap { a =>
          val ba = bs(a)
          val da = dg(a)
          Iterator.range(a + 1, nn).flatMap { b =>
            if ((ba(b >>> 6) >>> (b & 63) & 1L) == 1L) Iterator.empty // edge
            else {
              val bb = bs(b)
              var cn = 0L; var k = 0
              while (k < w) { cn += java.lang.Long.bitCount(ba(k) & bb(k)); k += 1 }
              if (cn == 0L) Iterator.empty
              else Iterator.single((idArr(a), idArr(b), cn,
                cn.toDouble / (da + dg(b) - cn)))
            }
          }
        }
      }
      .toDF("node_a", "node_b", "cn", "jraw")
      .select(col("node_a"), col("node_b"), col("cn"),
        round(col("jraw"), 9).as("jaccard"))
  }

  /** Sparse/wide kernel — the streaming wedge join (adjacency
    * self-joined on the shared neighbor): candidates ∝ wedge count;
    * degrees join back on the node key; existing edges are removed by
    * an anti-join on the canonical (src, dst) orientation. No
    * cartesian anywhere, nothing node²-sized held in memory.
    */
  private[graft] def jaccardLinksWedge(e: DataFrame): DataFrame = {
    // every join side below (adjacency, edge list, degrees) is graph-
    // sized — pin shuffle-hash so fixture-scale broadcasts can't hide
    // a 100 TB OOM; only the wedge aggregation's own exchange remains
    val adj = e.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
    val common = adj.select(col("node").as("node_a"), col("nbr"))
      .hint("shuffle_hash")
      .join(adj.select(col("node").as("node_b"), col("nbr")), Seq("nbr"))
      .where(col("node_a") < col("node_b"))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("cn"))
    common
      .join(e.hint("shuffle_hash"),
        common("node_a") === e("src") && common("node_b") === e("dst"),
        "left_anti")
      .join(deg.select(col("node").as("node_a"), col("d").as("da"))
        .hint("shuffle_hash"), Seq("node_a"))
      .join(deg.select(col("node").as("node_b"), col("d").as("db"))
        .hint("shuffle_hash"), Seq("node_b"))
      .select(col("node_a"), col("node_b"), col("cn"),
        round(col("cn").cast("double") / (col("da") + col("db") - col("cn")), 9)
          .as("jaccard"))
  }

  private val graphJaccardLinksSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges AS ($edgesSql),
       |adj AS (
       |  SELECT src AS node, dst AS nbr FROM edges
       |  UNION ALL
       |  SELECT dst AS node, src AS nbr FROM edges),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
       |common AS (
       |  SELECT a.node AS node_a, b.node AS node_b,
       |    CAST(count(*) AS BIGINT) AS cn
       |  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
       |  GROUP BY 1, 2),
       |nonedge AS (
       |  SELECT c.* FROM common c
       |  LEFT JOIN edges e ON c.node_a = e.src AND c.node_b = e.dst
       |  WHERE e.src IS NULL)
       |SELECT node_a, node_b, cn,
       |  round(CAST(cn AS DOUBLE) / (da.d + db.d - cn), 9) AS jaccard
       |FROM nonedge
       |JOIN deg da ON nonedge.node_a = da.node
       |JOIN deg db ON nonedge.node_b = db.node""".stripMargin

  /** Adamic–Adar link prediction (r19): for every NON-edge pair with a
    * common neighbor, AA = Σ_{w ∈ N(u)∩N(v)} 1/ln(d(w)) — the rare-
    * mutual-friend refinement of [[graphJaccardLinks]] (a shared hub
    * says little, a shared 2-degree contact says a lot). Same adaptive
    * dense-bitset / sparse-wedge split.
    *
    * Float discipline: the AA sum is a double SUM feeding a rounded
    * oracle-compared output, so both kernels accumulate
    * round(term, 12) exactly (the sum_order_free idiom at scale 12 —
    * terms ≤ 1/ln 2 ≈ 1.443, so 12-dp scaled longs cannot overflow
    * even at n = 32768 terms). The bitset kernel does NOT re-implement
    * Spark's rounding: the per-degree weight table round(1/ln d, 12)
    * is computed BY a Spark job (degree domain is [2, n] — a common
    * neighbor is adjacent to both endpoints, so d(w) ≥ 2 and ln ≠ 0)
    * and carried into the closure as exact scaled longs.
    */
  def adamicAdarLinks(spark: SparkSession, dir: String): DataFrame =
    withDensityChoice(spark, dir)(
      adj => adamicAdarBitset(spark, adj))(
      adamicAdarWedge)

  private val AaScale = 12

  /** round(1/ln d, 12) as a Spark Column — the ONE definition of the
    * AA term, shared by the wedge aggregation and (via a Spark job in
    * [[adamicAdarBitset]]) the dense kernel's weight table, so the two
    * kernels cannot drift in rounding semantics.
    */
  private def aaTermDec(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // the d >= 2 guard never fires for a SHARED neighbor (adjacent to
    // both endpoints ⟹ degree ≥ 2) but the projection is evaluated
    // for every adjacency row under ANSI mode, where a degree-1 leaf
    // would be ln(1) = 0 division
    when(d >= 2, round(lit(1.0) / log(d.cast("double")), AaScale)
      .cast(org.apache.spark.sql.types.DecimalType(28, AaScale)))

  private[graft] def adamicAdarBitset(spark: SparkSession,
      adj: Adjacency): DataFrame = {
    import spark.implicits._
    val n = adj.ids.length
    // per-degree scaled-long weights, Spark-computed (see scaladoc)
    val scaled = new Array[Long](n + 1)
    spark.range(2, n + 1L)
      .select(col("id").cast("int").as("d"),
        aaTermDec(col("id")).cast("string").as("s"))
      .collect()
      .foreach(r => scaled(r.getInt(0)) =
        new java.math.BigDecimal(r.getString(1))
          .movePointRight(AaScale).longValueExact())
    val bBits = spark.sparkContext.broadcast(adj.bits)
    val bIds = spark.sparkContext.broadcast(adj.ids)
    val bScaled = spark.sparkContext.broadcast(scaled)
    pairDriver(spark, n)
      .as[Int]
      .mapPartitions { it =>
        val bs = bBits.value
        val idArr = bIds.value
        val wt = bScaled.value
        val dg = bs.map(_.map(java.lang.Long.bitCount(_)).sum)
        val nn = idArr.length
        val w = (nn + 63) >>> 6
        it.flatMap { a =>
          val ba = bs(a)
          Iterator.range(a + 1, nn).flatMap { b =>
            if ((ba(b >>> 6) >>> (b & 63) & 1L) == 1L) Iterator.empty // edge
            else {
              val bb = bs(b)
              var cn = 0L; var acc = 0L; var k = 0
              while (k < w) {
                var m = ba(k) & bb(k)
                cn += java.lang.Long.bitCount(m)
                while (m != 0L) {
                  val cw = (k << 6) + java.lang.Long.numberOfTrailingZeros(m)
                  acc += wt(dg(cw)) // exact: sum of 12-dp scaled longs
                  m &= m - 1
                }
                k += 1
              }
              if (cn == 0L) Iterator.empty
              else Iterator.single((idArr(a), idArr(b), cn,
                java.math.BigDecimal.valueOf(acc, AaScale).doubleValue()))
            }
          }
        }
      }
      // UNROUNDED output (the r18 round-portability lesson): the sum
      // is exact decimal in every engine, and decimal→double is
      // correctly rounded everywhere — but round(·, 9) of a value
      // sitting ON a 9-dp boundary flips between engines (measured:
      // 8.0197052485 at sf0.1)
      .toDF("node_a", "node_b", "cn", "adamic_adar")
  }

  private[graft] def adamicAdarWedge(e: DataFrame): DataFrame = {
    val adj = e.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
    // attach the SHARED NEIGHBOR's weight to the probe side once, so
    // the wedge join carries the term instead of re-joining degrees
    // after the explode; all graph-sized sides stay shuffle-hash
    val adjW = adj.select(col("node").as("node_a"), col("nbr"))
      .hint("shuffle_hash")
      .join(deg.select(col("node").as("nbr"), aaTermDec(col("d")).as("term")),
        Seq("nbr"))
    val common = adjW
      .hint("shuffle_hash")
      .join(adj.select(col("node").as("node_b"), col("nbr")), Seq("nbr"))
      .where(col("node_a") < col("node_b"))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("cn"), sum(col("term")).as("adec"))
    common
      .join(e.hint("shuffle_hash"),
        common("node_a") === e("src") && common("node_b") === e("dst"),
        "left_anti")
      .select(col("node_a"), col("node_b"), col("cn"),
        col("adec").cast("double").as("adamic_adar")) // unrounded, see bitset kernel
  }

  private val adamicAdarLinksSql =
    s"""WITH p AS ($presenceSql),
       |pairs AS ($pairsSql),
       |edges AS ($edgesSql),
       |adj AS (
       |  SELECT src AS node, dst AS nbr FROM edges
       |  UNION ALL
       |  SELECT dst AS node, src AS nbr FROM edges),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
       |common AS (
       |  SELECT a.node AS node_a, b.node AS node_b,
       |    CAST(count(*) AS BIGINT) AS cn,
       |    SUM(CAST(round(1.0 / ln(w.d), 12) AS DECIMAL(28,12))) AS adec
       |  FROM adj a
       |  JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
       |  JOIN deg w ON w.node = a.nbr
       |  GROUP BY 1, 2)
       |SELECT c.node_a, c.node_b, c.cn,
       |  CAST(c.adec AS DOUBLE) AS adamic_adar
       |FROM common c
       |LEFT JOIN edges e ON c.node_a = e.src AND c.node_b = e.dst
       |WHERE e.src IS NULL""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("adamic_adar_links", adamicAdarLinks, Some(adamicAdarLinksSql)),
    // bench flags (r19, TODO carry-over): the graph family was the
    // heaviest unbenched surface — jaccard links (the adaptive kernel
    // this round rebuilt), the triangle wedge join, and the iterative
    // pagerank now regress-guard in the artifact of record
    Op("graph_jaccard_links", graphJaccardLinks, Some(graphJaccardLinksSql), bench = true),
    Op("sssp_bounded", (s, d) => ssspBounded(s, d), Some(ssspBoundedSql)),
    Op("kcore_membership", (s, d) => kcoreMembership(s, d), Some(kcoreMembershipSql)),
    Op("clustering_coefficient", clusteringCoefficient, Some(clusteringCoefficientSql)),
    Op("graph_bfs_depth", (s, d) => graphBfsDepth(s, d), Some(graphBfsDepthSql)),
    Op("graph_degrees", graphDegrees, Some(graphDegreesSql)),
    Op("graph_triangles", graphTriangles, Some(graphTrianglesSql), bench = true),
    Op("pagerank", (s, d) => pagerank(s, d), Some(pagerankSql), bench = true),
    Op("label_propagation", (s, d) => labelPropagation(s, d), Some(labelPropagationSql)),
    Op("graph_modularity", graphModularity, Some(graphModularitySql)),
    Op("graph_assortativity", graphAssortativity, Some(graphAssortativitySql)),
    // bench: the adaptive-kernel graph family's newest member rides the
    // same chooser + bitset build — regress-guard it beside triangles
    Op("graph_components", (s, d) => graphComponents(s, d), Some(graphComponentsSql), bench = true),
  )
}
