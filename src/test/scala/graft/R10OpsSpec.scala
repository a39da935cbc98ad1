package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Interactions, RangeRank, Scaling}

/** Round-10 additions: the poisoned-hot-cell guard on the co-location
  * pair explode, the RangeRank distributed rank/prefix-sum, and the
  * portable weighted sample. Oracle parity pins cross-engine hashes;
  * these pin closed-form semantics on constructed fixtures.
  */
class R10OpsSpec extends AnyFunSuite {

  private val sf001 = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def hotCellFixture(n: Int): String = EventsFixtures.hotCell(spark, n)

  test("interaction_pairs guard: poisoned hot cell degrades to the cap, loudly") {
    val over = Interactions.GroupCap + 476
    val df = Interactions.interactionPairs(spark, hotCellFixture(over))
    // collect() executes df's OWN QueryExecution — count() would run a
    // derived plan and leave observedMetrics empty
    val rows = df.collect().length.toLong
    // capped: C(cap, 2) canonical pairs mirrored to both directions —
    // NOT over*(over-1); the poisoned key cannot OOM the explode
    val cap = Interactions.GroupCap.toLong
    assert(rows == cap * (cap - 1),
      s"expected ${cap * (cap - 1)} capped pairs, got $rows")
    // the overflow is observable, not silent
    val metric = df.queryExecution.observedMetrics("interaction_pairs_guard")
    assert(metric.getAs[Long]("capped_groups") == 1L, metric.toString)
    // deterministic kept subset: the cap slices the SORTED caid set
    val kept = Interactions.interactionPairs(spark, hotCellFixture(over))
      .agg(max(col("a_caid"))).collect()(0).getLong(0)
    assert(kept == cap, s"sorted-prefix cap must keep caids 1..$cap, got max=$kept")
  }

  test("interaction_pairs guard: metric is zero and results untouched on sane data") {
    val df = Interactions.interactionPairs(spark, sf001)
    assert(df.collect().nonEmpty)
    val metric = df.queryExecution.observedMetrics("interaction_pairs_guard")
    assert(!metric.isNullAt(0) && metric.getAs[Long]("capped_groups") == 0L,
      metric.toString)
  }

  test("RangeRank.withRankDesc matches a single-partition row_number exactly") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong, ((i * 2654435761L) % 997).toDouble))
      .toDF("id", "v")
    val got = RangeRank.withRankDesc(df, "v", "id", "rnk", buckets = 16,
        totalOut = Some("n"))
      .select(col("id"), col("rnk"), col("n")).collect()
    assert(got.forall(_.getLong(2) == 5000L))
    val expected = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, v) => (-v, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    got.foreach(r => assert(r.getLong(1) == expected(r.getLong(0)),
      s"id=${r.getLong(0)}: got rank ${r.getLong(1)}, want ${expected(r.getLong(0))}"))
  }

  test("RangeRank.ntileFromRank reproduces SQL ntile for ragged totals") {
    import spark.implicits._
    for (total <- Seq(7L, 40L, 41L, 49L, 1003L)) {
      val ranks = (1L to total).toDF("rnk")
      val got = ranks.select(col("rnk"),
          RangeRank.ntileFromRank(col("rnk"), lit(total), 10).as("t"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // SQL-standard ntile: first (total % 10) tiles get one extra row
      val base = total / 10
      val rem = total % 10
      (1L to total).foreach { r =>
        val cut = (base + 1) * rem
        val want = if (base == 0) r.toInt
          else if (r <= cut) ((r + base) / (base + 1)).toInt
          else (rem + (r - cut + base - 1) / base).toInt
        assert(got(r) == want, s"total=$total rank=$r: got ${got(r)}, want $want")
      }
    }
  }

  test("sample_weighted: deterministic membership, heavier docs over-represented") {
    // the 500-doc corpus exceeds the 200-doc sample, so the weighting
    // skew is visible
    val sf01 = "/root/testdata/sf0.01"
    val a = Scaling.sampleWeighted(spark, sf01).collect()
    val b = Scaling.sampleWeighted(spark, sf01).collect()
    assert(a.map(_.getLong(0)).sorted.sameElements(b.map(_.getLong(0)).sorted),
      "hash-race sample must be run-stable")
    assert(a.length == 200)
    // weighting sanity: sampled docs skew longer than the corpus mean
    val corpusMean = Tables.documents(spark, sf01)
      .agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    val sampleMean = a.map(_.getLong(2).toDouble).sum / a.length
    assert(sampleMean > corpusMean,
      f"weighted sample mean $sampleMean%.1f should exceed corpus mean $corpusMean%.1f")
  }
}
