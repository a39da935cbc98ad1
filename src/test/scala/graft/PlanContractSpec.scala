package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Interactions

/** Plan contracts: the scale-critical physical shapes PLANS.md and
  * BENCH.md argue from, locked in as assertions so a regression in
  * join strategy, exchange count, or operator choice fails CI instead
  * of silently costing a shuffle at 100 TB. Plans are taken AFTER
  * execution, so AQE's final (re-optimized) plan is what's asserted.
  */
class PlanContractSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Execute the registered op and return its final adaptive plan tree. */
  private def finalTree(name: String, sfDir: String = sf): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan
  }

  /** The final adaptive plan's text only (the AdaptiveSparkPlan
    * toString appends the pre-AQE "Initial Plan" section, which would
    * double every count).
    */
  private def finalText(plan: SparkPlan): String =
    plan.toString.split("== Initial Plan ==")(0)

  private def finalPlan(name: String, sfDir: String = sf): String =
    finalText(finalTree(name, sfDir))

  private def count(plan: String, needle: String): Int =
    plan.sliding(needle.length).count(_ == needle)

  /** The key column names of every hash-partitioned shuffle exchange. */
  private def hashExchangeKeys(plan: SparkPlan): Seq[Seq[String]] =
    collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case h: HashPartitioning =>
        h.expressions.map { case a: Attribute => a.name; case x => x.sql }
      }

  /** The co-location pair source, node for node: the origin comes
    * from the footers, so nothing is broadcast; events shuffle once, on
    * (cell, tw), and the pairs are counted per anchor after one
    * exchange on ia ([[assertAnchorKeyedCounts]]).
    */
  private def assertPairSource(name: String): SparkPlan = {
    val tree = assertAnchorKeyedCounts(name, Seq("cell", "tw"), sf)
    val p = finalText(tree)
    assert(collect(tree) { case b: BroadcastExchangeLike => b }.isEmpty,
      "no broadcast:\n" + p.take(3000))
    val keys = hashExchangeKeys(tree)
    assert(keys.count(_ == Seq("cell", "tw")) == 1, s"one (cell, tw) exchange: $keys")
    tree
  }

  test("interaction_pairs: one corpus shuffle, no fact-table broadcast") {
    assertPairSource("interaction_pairs")
  }

  test("empiric_edges: one corpus shuffle, pairs counted per anchor, no edge distinct") {
    val keys = hashExchangeKeys(assertPairSource("empiric_edges"))
    assert(!keys.contains(Seq("src", "dst")), s"no exchange on (src, dst): $keys")
  }

  test("observed_contacts: one per-device pass, no join, counts per anchor device") {
    // observed_contacts is a local relation assembled on the driver from
    // the one contact-count pass over events; the contract is on that pass
    val pass = Interactions.contactCountsPass(spark, sf, Interactions.originMicros(spark, sf))
    pass.collect()
    val tree = pass.queryExecution.executedPlan
    val p = finalText(tree)
    val keys = hashExchangeKeys(tree)
    // events shuffle once, by caid, and one chain reads it: no exchange
    // is read twice, so no branch recomputes an aggregate above it
    val caid = collect(tree) {
      case e: ShuffleExchangeExec if hashKeys(e) == Seq("caid") => e
    }
    assert(caid.size == 1, s"events shuffle by caid exactly once: $keys\n" + p.take(3000))
    assert(collect(tree) { case r: ReusedExchangeExec => r }.isEmpty,
      "no exchange is reused:\n" + p.take(3000))
    val aggs = collect(tree) { case a: BaseAggregateExec => a }
    def fns(a: BaseAggregateExec) = a.aggregateExpressions.map(_.aggregateFunction.prettyName)
    // the caid exchange's stage runs device_presence (partial and final)
    // and the partial (cell, tw) grouping, each once
    val overCaid = aggs.filter(a => nearestExchanges(a).exists(_ eq caid.head))
      .map(a => fns(a).head -> a.aggregateExpressions.head.mode)
    assert(overCaid.sortBy(_.toString) == Seq("device_presence" -> Final,
      "device_presence" -> Partial, "min_k_distinct_tagged" -> Partial),
      s"each aggregate over the caid exchange runs once: $overCaid\n" + p.take(3000))
    // homes, sizes and cell counts come from that step: no join at all
    val nodes = collect(tree) { case n => n }
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), "no join:\n" + p.take(3000))
    // every grouping and every sort is on numbers: the sort-based
    // fallbacks never compare strings
    val stringGroups = aggs.filter(_.groupingExpressions.exists(_.dataType == StringType))
    assert(stringGroups.isEmpty,
      s"no aggregate groups on a string: ${stringGroups.map(_.groupingExpressions)}")
    val stringSorts = collect(tree) {
      case s: SortExec if s.sortOrder.exists(_.child.dataType == StringType) => s.sortOrder
    }
    assert(stringSorts.isEmpty, s"no sort on a string: $stringSorts")
    // the (cell, tw) grouping: one exchange on long cell and bucket
    // codes, right above the caid exchange
    val members = aggs.filter(a => fns(a).contains("min_k_distinct_tagged") &&
      a.aggregateExpressions.head.mode == Final)
    assert(members.size == 1, s"one (cell, tw) grouping: ${members.map(fns)}")
    val cellTw = nearestExchanges(members.head)
    assert(cellTw.size == 1 && hashKeys(cellTw.head) == Seq("kind", "k1", "k2") &&
      (cellTw.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.drop(1).forall(_.dataType == LongType)
        case _ => false
      }) && nearestExchanges(cellTw.head).forall(_ eq caid.head),
      s"one (kind, k1, k2) exchange on longs above the caid exchange: " +
        s"${cellTw.map(hashKeys)}\n" + p.take(3000))
    // contacts are counted per anchor device: co_counts reads exactly
    // one exchange, the only one hash-keyed on the anchor a
    assert(keys.count(_ == Seq("a")) == 1, s"one exchange on the anchor: $keys")
    val coAggs = collect(tree) {
      case a: ObjectHashAggregateExec if fns(a).contains("co_counts") => a
    }
    assert(coAggs.nonEmpty, "a co_counts aggregate node:\n" + p.take(3000))
    coAggs.foreach { a =>
      val in = nearestExchanges(a)
      assert(in.size == 1 && in.head.isInstanceOf[ShuffleExchangeExec] &&
        hashKeys(in.head) == Seq("a"),
        s"co_counts reads one hash exchange on a: ${in.map(hashKeys)}\n" + p.take(3000))
    }
    // four shuffles in all: caid, (kind, k1, k2), a and the final sum's
    assert(keys.size == 4, s"four shuffles: $keys\n" + p.take(3000))
    // no pair row: no Generate over a pair kernel, no aggregate keyed
    // on a device pair
    val generators = collect(tree) { case g: GenerateExec => g.generator.toString }
    assert(!generators.exists(_.contains("pair_structs")),
      s"no Generate over a pair kernel: $generators")
    val groupings = aggs.map(_.groupingExpressions.map(_.name))
    assert(!groupings.exists(_.contains("b_caid")),
      s"no aggregate keyed on (caid, b_caid): $groupings")
  }

  test("topk_groups plans as TakeOrderedAndProject (never global sort)") {
    val p = finalPlan("topk_groups")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Sort ["), "no full sort for a top-k")
  }

  test("quota_sample rank filter plans as WindowGroupLimit (map-side top-N)") {
    val p = finalPlan("quota_sample")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("geo_knn_join: catalog-side broadcast NL + map-side top-k partials") {
    val p = finalPlan("geo_knn_join")
    // the 16-row facility catalog is the ONLY broadcast; per-point
    // ranking must run as WindowGroupLimit so the top-3 filter prunes
    // before the pt_id exchange
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(count(p, "BroadcastExchange") == 1)
    assert(p.contains("WindowGroupLimit"), "top-k must prune map-side")
  }

  test("point_in_polygon: broadcast BNLJ, fully codegen'd predicate") {
    val p = finalPlan("point_in_polygon")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CodegenFallback"), "st_contains must stay codegen'd")
  }

  test("ann_cosine_topk: only the query set broadcasts; no CodegenFallback") {
    val p = finalPlan("ann_cosine_topk")
    assert(count(p, "BroadcastExchange") == 1,
      "exactly the tiny query side broadcasts")
    assert(!p.contains("CodegenFallback"), "vec_dot must stay codegen'd")
  }

  test("dedup_minhash_lsh: band self-join pinned to shuffle join for exchange reuse") {
    val p = finalPlan("dedup_minhash_lsh")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "self-join must not convert to broadcast (kills exchange reuse)")
    assert(p.contains("ReusedExchange"),
      "both sides of the band self-join must share one exchange")
  }

  test("pagerank (node-bounded regime): returned plan is join- and exchange-free") {
    // the r20 adaptive kernel: at fixture SF the chooser collects the
    // adjacency and iterates driver-side; the returned plan must be a
    // local relation — all heavy lifting happened in the bounded
    // construction passes, none of it re-runs per consumer
    val p = finalPlan("pagerank")
    assert(count(p, "Exchange") == 0, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("pagerank (relational regime): iterations reuse the directed-edge exchange") {
    // the 100 TB shape the chooser routes to past the node cap
    val df = graft.operators.GraphMetrics.pagerankRelational(
      spark, graft.operators.GraphMetrics.edges(spark, sf), 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"), p.take(2000))
  }

  test("bloom_prune: probe filter precedes the join; dim side broadcasts") {
    val p = finalPlan("bloom_prune")
    // the bloom probe must run in the scan stage (before any join),
    // not as a post-join residual
    val probeAt = p.indexOf("bloom_might_contain")
    val joinAt = p.indexOf("Join")
    assert(probeAt >= 0, "probe filter missing from the plan")
    assert(joinAt >= 0 && probeAt > joinAt,
      "treeString lists parents first: the probe filter must sit BELOW " +
        "(after in text) the join it feeds")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "catalog-sized dim must broadcast for the exact semi-join")
    assert(!p.contains("CodegenFallback"), "probe must stay codegen'd")
  }

  test("chunk_documents: shuffle-free explode") {
    val p = finalPlan("chunk_documents")
    assert(count(p, "Exchange hashpartitioning") == 0,
      "chunking must not shuffle")
    assert(p.contains("Generate explode"), p.take(2000))
  }

  test("cohort_retention: raw events shuffle once; window re-shuffles distinct days only") {
    val p = finalPlan("cohort_retention")
    // exchange 1: (user_id, day) distinct — map-side combined, the only
    // exchange that sees raw events; exchange 2: user_id window over the
    // already-distinct user-days
    val userDay = "Exchange hashpartitioning\\(user_id#\\d+L?, day#".r
      .findAllIn(p).size
    val userOnly = "Exchange hashpartitioning\\(user_id#\\d+L?, \\d".r
      .findAllIn(p).size
    assert(userDay == 1, s"distinct must shuffle raw events exactly once: $userDay")
    assert(userOnly == 1, s"cohort window shuffles only distinct user-days: $userOnly")
    assert(p.contains("partial_"),
      "the final cell aggregation must combine map-side")
  }

  test("zorder_key: scalar min/max broadcast only, no hash exchange") {
    val p = finalPlan("zorder_key")
    assert(count(p, "Exchange hashpartitioning") == 0,
      "normalization scalars must not shuffle the fact table")
    assert(count(p, "BroadcastExchange") == 1, p.take(2000))
  }

  test("q5_local_supplier: small dims broadcast; customer stays on the custkey shuffle") {
    val p = finalPlan("q5_local_supplier")
    // region/nation/supplier are catalog-sized → broadcast. Customer is
    // the LARGEST dimension (~10⁸ rows at 100 TB — VERDICT r3 #4): it
    // must reach the fact via a shuffle join on custkey, never a
    // broadcast. AQE may ALSO broadcast the date-filtered orders side
    // at tiny scale (correct at sf0.001, becomes the orderkey shuffle
    // at 100 TB).
    assert("ShuffledHashJoin \\[o_custkey".r.findFirstIn(p).isDefined,
      "customer must join via shuffle on custkey, not broadcast:\n" + p.take(2000))
    assert(count(p, "BroadcastHashJoin") >= 3, p.take(2000))
    assert(count(p, "SortMergeJoin") <= 1)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("radius_of_gyration: device-keyed homes join shuffles, never broadcasts") {
    val p = finalPlan("radius_of_gyration")
    assert(count(p, "ShuffledHashJoin") >= 1,
      "the caid-keyed homes join must stay shuffle-side")
    assert(count(p, "BroadcastHashJoin") == 0,
      "no device-cardinality relation may broadcast")
  }

  test("q3_shipping: customer reaches the fact via the custkey shuffle") {
    val p = finalPlan("q3_shipping")
    assert("ShuffledHashJoin \\[o_custkey".r.findFirstIn(p).isDefined,
      "customer must join via shuffle on custkey, not broadcast:\n" + p.take(2000))
    // r10 shape: orders reduce by the segment FIRST, then the fact
    // attaches on orderkey exactly once — pinned shuffle-hash (the
    // unpinned plan broadcast the FILTERED FACT side, measured 10×
    // slower and an OOM at scale), and the aggregation reuses the
    // join's orderkey partitioning (no exchange between them)
    assert("ShuffledHashJoin \\[l_orderkey".r.findFirstIn(p).isDefined,
      "the fact must attach via the orderkey shuffle, never broadcast:\n"
        + p.take(2000))
    assert(count(p, "BroadcastHashJoin") == 0,
      "no SF-proportional relation may broadcast in q3:\n" + p.take(2000))
  }

  test("q7_nation_volume: supplier side broadcasts; customer stays on the custkey shuffle") {
    // sf0.01: at sf0.001 the two-nation ship-window filter leaves zero
    // rows and AQE collapses the whole tree to EmptyRelation
    val p = finalPlan("q7_nation_volume", "/root/testdata/sf0.01")
    assert("ShuffledHashJoin \\[o_custkey".r.findFirstIn(p).isDefined,
      "customer must join via shuffle on custkey, not broadcast:\n" + p.take(2000))
    assert(count(p, "BroadcastHashJoin") >= 3,
      "nation x2 + selective supplier enrichments must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("source_overlap: shingle self-join stays a shuffle join; totals broadcast") {
    val p = finalPlan("source_overlap")
    assert("ShuffledHashJoin \\[sh".r.findFirstIn(p).isDefined,
      "the corpus-sized shingle self-join must never broadcast:\n" + p.take(2000))
  }

  test("containment_dup: shingle self-join shuffle-hash with a reused exchange") {
    val p = finalPlan("containment_dup")
    assert(p.contains("ShuffledHashJoin"),
      "the corpus-sized posting self-join must never broadcast:\n" + p.take(2000))
    assert(p.contains("ReusedExchange"),
      "both join sides are the identical keyed subtree — its exchange " +
        "must be computed once:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), "never all-pairs")
  }

  test("dp_count_release: one keyed exchange; noise is a row-local projection") {
    val p = finalPlan("dp_count_release")
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(2000))
    assert(!p.contains("Join") && !p.contains("Exchange SinglePartition"),
      p.take(2000))
  }

  test("knn_classify: corpus never shuffles before top-k; query set broadcasts") {
    val p = finalPlan("knn_classify")
    assert(count(p, "BroadcastExchange") == 1,
      "exactly the query side broadcasts")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-10 must run partial map-side")
    assert(!p.contains("CodegenFallback"), "vec_dot must stay codegen'd")
  }

  test("kmeans_assign: centroids broadcast; assignment argmin is WindowGroupLimit") {
    val p = finalPlan("kmeans_assign")
    assert(count(p, "BroadcastExchange") == 1, p.take(2000))
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CodegenFallback"))
  }

  test("curation_pipeline: bounded exchanges, no cartesian, offsets broadcast") {
    val p = finalPlan("curation_pipeline")
    // dedup window (md5), bucket-offset agg, and the packing window —
    // nothing else may shuffle; the 64-row offsets relation broadcasts
    assert(count(p, "Exchange hashpartitioning") <= 4,
      s"unexpected exchange count: ${count(p, "Exchange hashpartitioning")}")
    assert(count(p, "BroadcastExchange") >= 1, "bucket offsets must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("inverted_index: dedup fused into the token aggregation — one corpus exchange") {
    val p = finalPlan("inverted_index")
    // r10 shape: collect_set dedups (doc, token) during partial
    // aggregation, so the separate pre-distinct exchange is gone
    assert(count(p, "Exchange hashpartitioning") == 1,
      "exactly the token aggregation shuffle, nothing else")
    assert(p.contains("collect_set"), p.take(1500))
  }

  test("extract_project_filter: predicate and projection reach the scan") {
    val p = finalPlan("extract_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), "filters must push to parquet")
    assert(!p.contains("PushedFilters: []"), "no scan may read unfiltered")
  }

  test("substring_dup_spans: window-count on the hash, no join, no broadcast") {
    val p = finalPlan("substring_dup_spans")
    // per-hash occurrence counts come from a WINDOW over the gram
    // relation — there is no dup-hash relation to build and join back,
    // so the corpus of gram hashes crosses the wire exactly twice
    // (once on h for the count, once on doc_id for the span merge)
    assert(count(p, "ShuffledHashJoin") == 0 && count(p, "SortMergeJoin") == 0
      && count(p, "BroadcastHashJoin") == 0, "span detection must be join-free")
    assert(count(p, "Exchange hashpartitioning(h") == 1,
      "exactly one exchange keyed on the gram hash")
    assert(count(p, "Exchange hashpartitioning(doc_id") == 1,
      "exactly one exchange keyed on the document")
    assert(!p.contains("CodegenFallback"), "gram kernel must stay codegen'd")
  }

  test("ngram_novelty: row-local distinct set — zero dedup exchange") {
    val p = finalPlan("ngram_novelty")
    // the per-doc distinct gram set is built INSIDE the scan's codegen
    // span (gram_hash_set); the only exchanges are the min-owner window
    // on h and the per-doc aggregation
    assert(count(p, "Exchange hashpartitioning") == 2,
      s"exactly two exchanges (h window + doc agg): ${count(p, "Exchange hashpartitioning")}")
    assert(count(p, "ShuffledHashJoin") + count(p, "SortMergeJoin")
      + count(p, "BroadcastHashJoin") == 0, "novelty must be join-free")
  }

  test("q18_large_orders: HAVING gates the joins; customer stays on the custkey shuffle") {
    val p = finalPlan("q18_large_orders", "/root/testdata/sf0.01")
    assert("ShuffledHashJoin \\[o_custkey".r.findFirstIn(p).isDefined,
      "customer must join via shuffle on custkey, not broadcast:\n" + p.take(2000))
    // the lineitem sum-qty aggregate must sit BELOW every join: the
    // qualifying-orders relation shrinks before any enrichment runs
    val firstJoin = Seq("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin")
      .map(j => { val i = p.indexOf(j); if (i < 0) Int.MaxValue else i }).min
    val aggIdx = p.indexOf("sum_qty")
    assert(aggIdx >= 0 && p.lastIndexOf("HashAggregate") > firstJoin,
      "HAVING aggregate must be below the joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("q9_profit_by_nation: supplier/nation broadcast; part stays on the partkey shuffle") {
    val p = finalPlan("q9_profit_by_nation", "/root/testdata/sf0.01")
    assert(count(p, "BroadcastHashJoin") >= 2,
      "nation into supplier and the supplier-nation map must broadcast")
    assert(("ShuffledHashJoin \\[l_partkey".r.findFirstIn(p).isDefined
      || "ShuffledHashJoin \\[p_partkey".r.findFirstIn(p).isDefined),
      "part is catalog-cardinality: it must reach the fact via the partkey " +
        "shuffle, never a static broadcast:\n" + p.take(2000))
    assert(("ShuffledHashJoin \\[l_orderkey".r.findFirstIn(p).isDefined
      || "SortMergeJoin \\[l_orderkey".r.findFirstIn(p).isDefined
      || "ShuffledHashJoin \\[o_orderkey".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin [l_orderkey")),
      "lineitem joins orders on the orderkey (AQE may broadcast at test SF):\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("sparse_cosine_pairs: one gram exchange + in-group pair explode, never all-pairs") {
    val tree = finalTree("sparse_cosine_pairs", sf01)
    val p = finalText(tree)
    // docs meet ONLY through the per-gram posting list: one exchange
    // on the gram hash (ObjectHashAggregate collect_list), pairs
    // explode in-group, then one exchange on the doc pair — no join
    // of any kind, so no all-pairs path can exist
    assert(p.contains("ObjectHashAggregate"),
      "posting lists must build on the gram exchange:\n" + p.take(2000))
    // exactly two Generate nodes: the row-local tf explode and ONE
    // in-group pair explode through the posting_pairs kernel — a third
    // means the pair pass is duplicated
    val generators = collect(tree) { case g: GenerateExec => g.generator.toString }
    assert(generators.size == 2 && generators.exists(_.contains("posting_pairs(")),
      "row-local tf explode + the posting_pairs pair explode: " + generators +
        "\n" + p.take(2000))
    assert(!p.contains("Join"), "no join of any kind — pairs form in-group")
    assert(count(p, "Exchange hashpartitioning") == 2,
      "exactly two corpus exchanges: gram postings + doc-pair agg:\n" + p.take(2000))
  }

  /** The exchanges nearest below `p`: those reached without passing
    * another exchange (through AQE stages and reused exchanges).
    */
  private def nearestExchanges(p: SparkPlan): Seq[Exchange] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    below.flatMap {
      case e: Exchange => Seq(e)
      case c => nearestExchanges(c)
    }
  }

  private def hashKeys(e: Exchange): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning =>
      h.expressions.map { case a: Attribute => a.name; case x => x.sql }
    case other => Seq(other.toString)
  }

  /** Anchor-keyed pair counting, node for node: every `co_counts`
    * aggregate reads exactly one exchange, hash-keyed on `ia`, and that
    * exchange reads exactly one, the per-entity sets exchange on
    * `setKey`. No exchange carries a pair key (`pk` or (ia, ib)) and no
    * Generate runs a pair kernel: pair rows never exist.
    */
  private def assertAnchorKeyedCounts(name: String, setKey: Seq[String],
      sfDir: String = sf01): SparkPlan = {
    val tree = finalTree(name, sfDir)
    val p = finalText(tree)
    val coAggs = collect(tree) {
      case a: ObjectHashAggregateExec
          if a.aggregateExpressions.exists(_.aggregateFunction.prettyName == "co_counts") => a
    }
    assert(coAggs.nonEmpty, "a co_counts aggregate node:\n" + p.take(3000))
    coAggs.foreach { a =>
      val anchor = nearestExchanges(a)
      assert(anchor.size == 1 && anchor.head.isInstanceOf[ShuffleExchangeExec] &&
        hashKeys(anchor.head) == Seq("ia"),
        s"co_counts reads one hash exchange on ia: ${anchor.map(hashKeys)}\n" + p.take(3000))
      val sets = nearestExchanges(anchor.head)
      assert(sets.size == 1 && hashKeys(sets.head) == setKey,
        s"the ia exchange reads the $setKey-keyed sets exchange: ${sets.map(hashKeys)}\n" +
          p.take(3000))
    }
    val keys = hashExchangeKeys(tree)
    assert(!keys.contains(Seq("pk")) && !keys.contains(Seq("ia", "ib")),
      s"no exchange on a pair key: $keys\n" + p.take(3000))
    val pairKernels = Seq("pair_structs", "pair_longs", "posting_pairs")
    val generators = collect(tree) { case g: GenerateExec => g.generator.toString }
    assert(!generators.exists(g => pairKernels.exists(g.contains)),
      s"no Generate over a pair kernel: $generators")
    tree
  }

  test("item_item_cosine: one ia exchange feeds co_counts, no pair rows") {
    assertAnchorKeyedCounts("item_item_cosine", Seq("u"))
  }

  test("market_basket: one ia exchange feeds co_counts, no pair rows") {
    assertAnchorKeyedCounts("market_basket", Seq("okey"))
  }

  test("grouped_topk_agg: bounded-heap agg — no window, no sort of the input") {
    val p = finalPlan("grouped_topk_agg")
    assert(!p.contains("Window"), "top-k must not use the window idiom")
    assert(count(p, "Exchange hashpartitioning") == 1,
      "one exchange on the group key, carrying only k candidates per partition")
    assert(!p.contains("Sort "), "the input relation must never be sorted:\n" + p.take(1500))
  }

  test("decile_lift: distributed rank — no ntile, corpus window bucket-partitioned") {
    val p = finalPlan("decile_lift")
    // the decile cut must come from the RangeRank closed form, never a
    // global ntile window over the events relation
    assert(!p.contains("ntile("), "no global ntile over the corpus")
    // the corpus-sized running-count window is partitioned by the
    // sampled range bucket and fed by a hash exchange on it
    assert(p.contains("windowspecdefinition(__rr_b_")
      && count(p, "Exchange hashpartitioning(__rr_b_") >= 1, p.take(2000))
    // the only single-partition stages are bounded: the <=64-row
    // bucket-totals cumsum and the 1-row base-rate scalar agg
    assert(count(p, "Exchange SinglePartition") <= 2,
      "corpus-sized relation must never single-partition:\n" + p.take(2000))
  }

  test("pareto_contribution: distributed prefix-sum — customer relation never single-partitions") {
    val p = finalPlan("pareto_contribution")
    // only the <=64-row bucket-totals cumsum and the 1-row grand-total
    // agg may single-partition; the customer-revenue walk is the
    // RangeRank bucket-partitioned window
    assert(p.contains("windowspecdefinition(__rr_b_")
      && count(p, "Exchange hashpartitioning(__rr_b_") >= 1, p.take(2000))
    assert(count(p, "Exchange SinglePartition") <= 2,
      "customer relation must never single-partition:\n" + p.take(2000))
  }

  test("rfm_segments: three distributed quartile cuts — user relation never single-partitions") {
    val p = finalPlan("rfm_segments")
    assert(!p.contains("ntile("), "no global ntile over the user relation")
    // three RangeRank passes: three bucket-partitioned corpus windows;
    // single-partition stages are only the three <=64-row bucket-totals
    // cumsums
    assert(count(p, "Exchange hashpartitioning(__rr_b_") >= 3, p.take(2000))
    assert(count(p, "Exchange SinglePartition") <= 3,
      "user relation must never single-partition:\n" + p.take(2000))
  }

  test("perplexity_buckets: distributed tercile — corpus never single-partitions") {
    val p = finalPlan("perplexity_buckets")
    assert(!p.contains("ntile("), "no global ntile over the documents relation")
    // the tercile is the RangeRank bucket-partitioned rank window; the
    // only single-partition stage is the <=64-row bucket-totals cumsum
    assert(p.contains("windowspecdefinition(__rr_b_")
      && count(p, "Exchange hashpartitioning(__rr_b_") >= 1, p.take(2000))
    assert(count(p, "Exchange SinglePartition") <= 1,
      "documents relation must never single-partition:\n" + p.take(2000))
  }

  test("sem_dedup: one broadcast assignment, cluster self-join shares its exchange") {
    val p = finalPlan("sem_dedup")
    // the codebook rides a broadcast — the corpus never shuffles for
    // assignment
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid codebook must broadcast:\n" + p.take(2000))
    // the within-cluster pair join is the identical assigned subtree on
    // both sides: SelfJoinShuffleRule pins it off broadcast, so the
    // cluster exchange materializes once (ReusedExchange) — SMJ or SHJ,
    // either reuses; a broadcast of the corpus-sized side never can
    assert(p.contains("ReusedExchange"),
      "cluster self-join must reuse one shuffle exchange:\n" + p.take(2000))
    assert(!p.matches("(?s).*BroadcastHashJoin \\[cluster.*"),
      "cluster pair join must not broadcast a corpus-sized side:\n" + p.take(2000))
    // the dup-id anti set is corpus-proportional in production: the
    // final left join is pinned shuffle-hash, never a dup broadcast
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftOuter"),
      "dup join must stay a shuffle join:\n" + p.take(2000))
  }

  test("crawl_pipeline: two exchanges — canonical-key window + source rollup") {
    val p = finalPlan("crawl_pipeline")
    // all the string work is row-local: the only shuffles are the
    // canonical-url dedup window and the per-source aggregation
    assert(count(p, "Exchange hashpartitioning") == 2,
      "crawl pipeline must shuffle exactly twice:\n" + p.take(2000))
    assert(!p.contains("Exchange SinglePartition"),
      "nothing in the crawl pipeline may single-partition:\n" + p.take(2000))
    assert(!p.contains("Join"), "stage composition must stay join-free")
  }

  test("hilbert_key: scalar min/max broadcast only, no hash exchange") {
    val p = finalPlan("hilbert_key")
    // the 16-level unrolled walk is pure per-row arithmetic: the fact
    // table must never hash-shuffle; the only exchange is the 1-row
    // min/max normalization bounds broadcast (the zorder_key contract)
    assert(count(p, "Exchange hashpartitioning") == 0,
      "the fact table must not shuffle for a layout-key projection")
    assert(count(p, "BroadcastExchange") == 1
      && p.contains("BroadcastNestedLoopJoin"),
      "only the scalar bounds row may broadcast")
    assert(!p.contains("CodegenFallback"), "curve walk must stay codegen'd")
  }

  test("skyline_frontier: distributed running max — x-distinct relation never single-partitions") {
    val p = finalPlan("skyline_frontier")
    // x = acctbal is near-unique (customer-cardinality): the frontier
    // sweep must be the bucket-partitioned RangeRank running max, with
    // only the <=64-row per-bucket-max cumsum single-partitioning
    assert(p.contains("windowspecdefinition(__rr_b_")
      && count(p, "Exchange hashpartitioning(__rr_b_") >= 1,
      "sweep must ride the bucket exchange:\n" + p.take(2000))
    assert(count(p, "Exchange SinglePartition") <= 1,
      "x-distinct relation must never single-partition:\n" + p.take(2000))
  }

  test("cusum_changepoint: one (type, bucket) exchange — no per-type corpus sort") {
    val p = finalPlan("cusum_changepoint")
    // the running sum/min ride the bucketed exchange; the bounded
    // offsets cumsum is the only |types|-partitioned window
    assert(count(p, "Exchange hashpartitioning(event_type#") >= 1
      && p.contains("windowspecdefinition(event_type"),
      "prefix windows must ride the (type, bucket) exchange:\n" + p.take(2000))
    assert(!p.contains("Exchange SinglePartition"),
      "nothing in cusum may single-partition:\n" + p.take(2000))
  }

  test("window_moving / anomaly_zscore: bounded frames ride bucketed windows") {
    for (q <- Seq("window_moving", "anomaly_zscore")) {
      val p = finalPlan(q)
      assert(p.contains("__rr_b_frame"),
        s"$q must use the carry-prefix bucket stage:\n" + p.take(1500))
      assert(!p.contains("Exchange SinglePartition"),
        s"$q must never single-partition:\n" + p.take(1500))
    }
  }

  test("window_ranks: rank family rides grouped RangeRank — parallelism not bounded by |event_type|") {
    val p = finalPlan("window_ranks")
    // the row_number backbone and the dense-rank pass both partition
    // by (type, sampled value bucket); the only single-partition
    // stages are the two bounded offsets cumsums
    assert(count(p, "Exchange hashpartitioning(event_type") >= 2
      && p.contains("__rr_b_rn") && p.contains("__rr_b_drnk"),
      "both rank passes must ride (type, bucket) exchanges:\n" + p.take(2000))
    assert(count(p, "Exchange SinglePartition") <= 2,
      "events relation must never single-partition:\n" + p.take(2000))
  }

  test("rank_nulls_last: grouped-major RangeRank — parallelism not bounded by |status|") {
    val p = finalPlan("rank_nulls_last")
    assert(count(p, "Exchange hashpartitioning(o_orderstatus") >= 1
      && p.contains("__rr_b_rnk"),
      "rank must ride the (status, majors, bucket) exchange:\n" + p.take(2000))
    assert(count(p, "Exchange SinglePartition") <= 1,
      "orders relation must never single-partition:\n" + p.take(2000))
  }

  test("rrf_fusion: both rankings bucket-partitioned — corpus never single-partitions") {
    val p = finalPlan("rrf_fusion")
    // the two tf rankings are RangeRank.withRankMajorDesc passes: the
    // corpus-sized rank windows partition by (tf, doc_id bucket) and
    // no WindowExec runs over an unpartitioned corpus — the only
    // single-partition stages are the two bounded |tf|×buckets offset
    // cumsums and the final 20-row TakeOrdered tail
    assert(count(p, "Exchange hashpartitioning(tf1") >= 1
      && count(p, "Exchange hashpartitioning(tf2") >= 1,
      "rank windows must partition by (tf, bucket):\n" + p.take(2000))
    val corpusSingle = "Exchange SinglePartition"
    assert(count(p, corpusSingle) <= 3,
      "documents relation must never single-partition:\n" + p.take(2000))
  }

  test("equi_depth_histogram: grouped distributed rank — parallelism not bounded by |returnflag|") {
    val p = finalPlan("equi_depth_histogram")
    assert(!p.contains("ntile("), "no per-flag ntile window over the fact table")
    // the rank window partitions by (flag, sampled price bucket) — a
    // hash exchange carrying the bucket column — never by flag alone
    assert(count(p, "Exchange hashpartitioning(l_returnflag") >= 1
      && p.contains("__rr_b_rnk"),
      "rank must ride the (flag, bucket) exchange:\n" + p.take(2000))
    assert(count(p, "Exchange SinglePartition") <= 1,
      "fact table must never single-partition:\n" + p.take(2000))
  }

  test("gini_index: grouped distributed rank — parallelism not bounded by |segment|") {
    val p = finalPlan("gini_index")
    assert(count(p, "Exchange hashpartitioning(c_mktsegment") >= 1
      && p.contains("__rr_b_rnk"),
      "rank must ride the (segment, bucket) exchange:\n" + p.take(2000))
    assert(count(p, "Exchange SinglePartition") <= 1,
      "customer relation must never single-partition:\n" + p.take(2000))
  }

  test("ngram_coverage: train gram set joins by shuffle, never broadcast") {
    val p = finalPlan("ngram_coverage")
    assert(p.contains("ShuffledHashJoin") && count(p, "BroadcastHashJoin") == 0,
      "the train-split gram set is corpus-derived — a broadcast here " +
        "OOMs at 100 TB:\n" + p.take(2000))
  }

  test("boilerplate_lines: line-frequency relation shuffles, only source totals broadcast") {
    val p = finalPlan("boilerplate_lines")
    assert(count(p, "ShuffledHashJoin") == 1,
      "the (source, line-hash) df join must stay a shuffle join:\n" + p.take(2000))
    assert(count(p, "BroadcastHashJoin") == 1,
      "exactly one broadcast: the |sources|-row doc-count relation:\n"
        + p.take(2000))
  }

  test("graph_jaccard_links: dense fixture takes the bitset scan — no graph-sized join at run time") {
    // the r19 adaptive chooser: the co-location fixture is dense
    // (d ≥ n/64), so the returned plan is the broadcast-bitset pair
    // scan; every graph-sized relation was consumed EAGERLY during
    // construction and nothing joins, sorts, or crosses at run time
    val p = finalPlan("graph_jaccard_links")
    assert(p.contains("MapPartitions"), p.take(2000))
    assert(count(p, "ShuffledHashJoin") == 0
      && !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "bitset path must carry no graph-sized join:\n" + p.take(2000))
  }

  test("graph_jaccard_links: sparse/wide fallback keeps every join shuffle-hash, no sort") {
    val e = graft.operators.Interactions.empiricEdges(spark, sf)
    val df = graft.operators.GraphMetrics.jaccardLinksWedge(e)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(count(p, "ShuffledHashJoin") == 4,
      "wedge join + 2 degree joins + edge anti-join, all pinned:\n"
        + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "graph-sized relations must neither sort nor cross:\n" + p.take(2000))
  }

  test("random_projection: zero exchanges — the projection fuses into the scan") {
    val p = finalPlan("random_projection")
    // the 16-row sign matrix is the only thing that moves: its
    // construction may shuffle its 1024 literal cells (keyed on j),
    // but the corpus side must stay an unshuffled scan → projection
    assert(count(p, "Exchange hashpartitioning")
        == count(p, "Exchange hashpartitioning(j#"),
      "a row-local projection must not shuffle the corpus:\n" + p.take(2000))
    assert(p.contains("dotexpr"), "the fold must be the codegen'd kernel")
  }

  test("string_sim_pack: blocked self-join stays shuffle-hash, metrics fuse into one projection") {
    val p = finalPlan("string_sim_pack")
    // both join sides are the corpus-derived distinct name vocabulary,
    // which grows with the catalog — never broadcast
    assert(count(p, "ShuffledHashJoin") == 1
      && count(p, "BroadcastHashJoin") == 0,
      "blocked linkage must shuffle on the block key:\n" + p.take(2000))
    // all six kernels are codegen'd expressions in a single projection
    // over the joined pairs — no extra exchange after the join
    assert(p.contains("jaroexpr") && p.contains("dameraulevenshteinexpr"),
      "kernels must be the Catalyst expressions:\n" + p.take(2000))
  }

  test("image_decode: codec featurization is exchange-free (scan-parallel)") {
    val p = finalPlan("image_decode")
    // the 100 TB image-featurization shape: per-partition codec init,
    // row-local encode/decode, parallelism = scan splits, zero shuffle
    assert(!p.contains("Exchange"),
      "decode must not move a single row:\n" + p.take(2000))
    assert(p.contains("MapPartitions"),
      "the typed batch path must survive planning:\n" + p.take(2000))
  }

  test("image_shard_pipeline: decode rides the shard-read partitions, no exchange") {
    val p = finalPlan("image_shard_pipeline")
    // the returned plan is the READ side (the sharded write is the
    // once-per-ingest cost, spent eagerly before this plan exists):
    // one task per tar shard, tar-parse + codec decode in place
    assert(!p.contains("Exchange"),
      "shard read -> decode must not reshuffle:\n" + p.take(2000))
    assert(p.contains("MapPartitions"),
      "tar parse and codec decode must stay typed batch stages:\n" + p.take(2000))
  }

  test("rouge_bleu_eval / span_corrupt: per-example ops are exchange-free row-local HOFs") {
    Seq("rouge_bleu_eval", "span_corrupt").foreach { name =>
      val p = finalPlan(name)
      assert(!p.contains("Exchange"),
        s"$name: per-example work must not shuffle the corpus:\n" + p.take(2000))
    }
  }

  test("poisson_bootstrap: one replicate exchange, map-side partials, no join/sort") {
    val p = finalPlan("poisson_bootstrap")
    // one scan × 32 replicates (row-local explode) into ONE exchange
    // on the replicate id with partial aggregation before it — the
    // Chamandy one-pass shape; a join or sort here means someone
    // reintroduced per-replicate resampling
    assert(count(p, "Generate explode") == 1, p.take(2000))
    assert(count(p, "Exchange hashpartitioning(b") == 1,
      "exactly one exchange, on the replicate id:\n" + p.take(2000))
    assert(p.contains("partial_sum"),
      "replicate sums must combine map-side:\n" + p.take(2000))
    assert(!p.contains("Join") && !p.contains("Sort "), p.take(2000))
  }

  test("l_diversity: two keyed exchanges, nothing single-partitions") {
    val p = finalPlan("l_diversity")
    // band-level then class-level aggregation, each on its own group
    // key; no window, no join, no global stage
    assert(count(p, "Exchange hashpartitioning") == 2, p.take(2000))
    assert(count(p, "Exchange SinglePartition") == 0, p.take(2000))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
  }

  test("fuzzy_linkage: no all-pairs path; only match-bounded relations broadcast") {
    // the pair scoring itself reuses string_sim_pack's blocked
    // shuffle-hash kernel (contracted above); the closure rounds run
    // behind localCheckpoint cuts, so this contract pins the FINAL
    // stage: no cartesian/BNLJ anywhere, and the only broadcasts are
    // the match-bounded component/entity relations
    val p = finalPlan("fuzzy_linkage")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // comp broadcasts twice (the labeled relation is consumed by both
    // the entity election and the final projection) + entities once
    assert(count(p, "BroadcastHashJoin") <= 3,
      "only comp/entities (both match-bounded) may broadcast:\n" + p.take(2000))
  }

  test("quantile_normalize: distributed ranks, corpus-sized join never broadcasts") {
    val p = finalPlan("quantile_normalize")
    // |features| = 3 must not bound parallelism: RangeRank's in-bucket
    // windows partition by (feature, bucket) — a window keyed on the
    // feature ALONE would run the fact-table sort on 3 tasks
    // \s++ is possessive: without it \s* backtracks to zero spaces and
    // the lookahead vacuously passes on the legitimate bucketed window
    val featureOnlyWindow = "windowspecdefinition\\(feature#\\d+,\\s++(?!__rr_b_rn)".r
    assert(featureOnlyWindow.findFirstIn(p).isEmpty,
      "ranking must ride the bucketed RangeRank window, not a 3-partition one:\n"
        + p.take(2000))
    // r10 shape: the reference distribution is a window sum OVER rn
    // (≤ |features| rows per rank group at any scale), not a rollup +
    // corpus-sized join-back — the join spelling evaluated the whole
    // ranked subtree twice (pruning broke exchange reuse). Contract:
    // no rank-keyed join of any kind, exactly ONE row_number pass, and
    // the rn window present.
    assert("HashJoin \\[rn#".r.findFirstIn(p).isEmpty,
      "the reference must be a window over rn, not a join-back:\n"
        + p.take(2000))
    assert(count(p, "windowspecdefinition(rn#") >= 1,
      "per-rank reference window missing:\n" + p.take(2000))
    assert(count(p, "row_number()") == 1,
      "the ranked subtree must be computed exactly once:\n" + p.take(2000))
  }

  test("pca_power: per-round state broadcasts; corpus never single-partitions") {
    val p = finalPlan("pca_power")
    assert(!p.contains("Exchange SinglePartition")
      || count(p, "Exchange SinglePartition") <= 7,
      // 3 rounds × (64-row norm + state collect) + mean vector — all
      // O(d) relations; the corpus-side aggregations must stay hashed
      "only O(d) state relations may single-partition:\n" + p.take(3000))
    assert(count(p, "Exchange hashpartitioning(dim") >= 1,
      "per-dim sums must ride a hashed exchange:\n" + p.take(2000))
  }

  test("dsir_weights: the returned per-doc weight plan is SHUFFLE-FREE") {
    // r10 histogram dataflow: λ is eager bounded state (B=128 values
    // collected at construction, the graph-chooser precedent), and the
    // RETURNED plan is scan → gram_bucket_hist → per-row zip_with/
    // aggregate arithmetic → filter. No per-gram rows exist, no
    // (doc, bucket) exchange, no join — corpus passes are
    // embarrassingly parallel, which is the whole point at 100 TB.
    val p = finalPlan("dsir_weights")
    assert(count(p, "Exchange") == 0,
      "per-doc weights must not shuffle:\n" + p.take(3000))
    assert(count(p, "Join") == 0 && count(p, "CartesianProduct") == 0,
      "λ rides a literal, not a join:\n" + p.take(3000))
    assert(p.contains("grambuckethistexpr") || p.contains("gram_bucket_hist"),
      "the histogram kernel must be in the plan:\n" + p.take(3000))
  }

  test("set_sim_join: every corpus-derived join shuffles; no all-pairs path") {
    val p = finalPlan("set_sim_join")
    // df (vocabulary), the prefix self-join, and both verification
    // joins are all corpus-derived — none may broadcast at scale, and
    // the candidate generator must be an equi-join on the prefix
    // token, never a cartesian expansion
    assert(count(p, "BroadcastHashJoin") == 0,
      "corpus-derived relations must never broadcast:\n" + p.take(3000))
    assert(count(p, "CartesianProduct") == 0
      && count(p, "BroadcastNestedLoopJoin") == 0,
      "candidates come from the prefix equi-join only:\n" + p.take(3000))
    assert(count(p, "ShuffledHashJoin") == 4,
      "df join + prefix self-join + two verification joins:\n" + p.take(3000))
    // verification is row-local over the carried token arrays — no
    // second token-level aggregation after candidate generation
    assert(p.contains("array_intersect"),
      "exact verify must be the row-local intersect:\n" + p.take(3000))
  }

  test("welch_t_test: moments materialize once; final plan is corpus-free") {
    val p = finalPlan("welch_t_test")
    // the decimal-moment aggregate is eagerly checkpointed (ONE events
    // pass, ONE exchange, at construction); the returned plan consumes
    // the |variants|-row checkpoint — if a corpus exchange or parquet
    // scan reappears here, both crossJoin sides have gone back to
    // re-deriving the aggregation from their own full events scans
    assert(count(p, "Exchange hashpartitioning") == 0
      && !p.contains("FileScan parquet"),
      "the final plan must ride the checkpointed moments, not events:\n" +
        p.take(3000))
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "checkpointed moments relation expected:\n" + p.take(3000))
    assert(count(p, "BroadcastExchange") == 1
      && p.contains("BroadcastNestedLoopJoin"),
      "the only broadcast is the 1-row control side of the cross join:\n" +
        p.take(3000))
  }

  test("dedup_lsh_eval: pair relations join by shuffle-hash/sort-merge, no cartesian") {
    val p = finalPlan("dedup_lsh_eval")
    // the truth and candidate subtrees keep their own pinned shapes
    // (shuffle-hash self-joins); the eval's own joins — source lookups
    // and the full-outer truth⋈cand — are equi-joins over match-bounded
    // relations. Nothing may degrade to a cartesian/nested-loop path.
    assert(count(p, "CartesianProduct") == 0
      && count(p, "BroadcastNestedLoopJoin") == 0,
      "eval joins must stay equi-joins:\n" + p.take(3000))
    assert(p.contains("FullOuter"),
      "the truth-vs-candidate comparison is the full-outer join:\n" + p.take(3000))
    // the source lookups build their hash on the match-bounded PAIR
    // side — if a BuildRight hashes the (doc_id, source) projection,
    // fixture-scale AQE has re-baked a corpus broadcast (100 TB OOM)
    assert(count(p, "BroadcastHashJoin") == 2
      && count(p, "BuildRight") == 2,
      "exactly the two pair-side broadcasts:\n" + p.take(3000))
  }
}
