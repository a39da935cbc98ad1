package graft

import org.apache.spark.graftspec.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.EventsFixtures.eventsDir
import graft.operators.{GraphMetrics, Interactions}

/** The graph chooser's bounded-collect routes. After the device gate
  * (footer row counts, else an estimate), every dense-capable graph
  * query proves "the edge list fits on the driver" with ONE
  * limit(cap+1) collect (GraphMetrics.collectAtMost); ids, n and d̄
  * then come from the collected edges and the adjacency is built on
  * the driver with no further job. Only a graph past MaxDriverEdges
  * builds its adjacency with the mergeable bitset_agg.
  *
  * These specs pin (a) the Spark jobs that query construction runs,
  * on a 12 000-device fixture of 6 000 disjoint co-location pairs and
  * for pagerank and sssp_bounded at sf0.01, (b) when the device gate
  * runs a job, and (c) that the two adjacency constructions give
  * identical ids and bitset words, so the overflow route, which no
  * fixture reaches, builds what the fits route builds.
  */
class GraphChooserSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** 2·pairs devices; devices (2i, 2i+1) co-locate in cell c_i, one
    * 10-minute window; no cross-pair co-location.
    */
  private def pairFixture(pairs: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r10chooser").toString
    (0L until pairs.toLong).flatMap { i =>
      Seq((2 * i, 0L, 2 * i, s"c$i", 1.0),
        (2 * i + 1, 0L, 2 * i + 1, s"c$i", 1.0))
    }.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val Pairs = 6000
  private lazy val fixture = pairFixture(Pairs)

  /** The query `build(dir)` and the Spark jobs its construction ran.
    * The events table is read first: `Tables` memoizes the relation
    * per session, and its one parquet schema job is not construction.
    * The listener bus is drained before the listener is added (so
    * earlier jobs are not counted) and before the count is read.
    */
  private def jobsToBuild[T](dir: String)(build: String => T): (T, Int) = {
    Tables.events(spark, dir)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = build(dir)
      ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("graph_components on 12k devices: closed form, built in <= 5 Spark jobs") {
    // device gate and origin from the footers, then one bounded edge
    // collect; n = 12000 ≤ the bitset cap and acceptDense = always for
    // components ⇒ dense
    val (df, jobs) = jobsToBuild(fixture)(GraphMetrics.graphComponents(spark, _))
    assert(jobs <= 5, s"graphComponents construction ran $jobs Spark jobs")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 2 * Pairs)
    // closed form: component of {2i, 2i+1} is 2i, size 2
    rows.foreach { case (node, comp, csize) =>
      assert(comp == node - node % 2, s"node $node labeled $comp")
      assert(csize == 2L)
    }
  }

  test("pagerank at sf0.01: built in <= 3 Spark jobs") {
    // gate and origin from the footers; the edge collect is the
    // (cell, tw) stage, the anchor stage and the result stage
    val (df, jobs) = jobsToBuild("/root/testdata/sf0.01")(GraphMetrics.pagerank(spark, _))
    assert(jobs <= 3, s"pagerank construction ran $jobs Spark jobs")
    assert(df.count() > 0)
  }

  test("sssp_bounded at sf0.01: built in <= 3 Spark jobs") {
    // as pagerank: the weighted edges' bounded collect only
    val (df, jobs) = jobsToBuild("/root/testdata/sf0.01")(GraphMetrics.ssspBounded(spark, _))
    assert(jobs <= 3, s"ssspBounded construction ran $jobs Spark jobs")
    assert(df.count() > 0)
  }

  test("device gate: no job under the footer row bound; the estimate runs past it") {
    def gate(dir: String) = jobsToBuild(dir)(GraphMetrics.devicesUnderGate(spark, _))
    // 10 000 events rows ≤ 1.25 × MaxBitsetNodes: no device can be over
    assert(gate("/root/testdata/sf0.01") == (true, 0))
    // every footer holds its row counts, with or without ts statistics
    assert(gate(eventsDir("MICROS", (Seq(Some(5L)), true), (Seq(Some(1L), None), false)))
      == (true, 0))
    // more files than FooterFiles: the footers are not read
    val (wide, wideJobs) = gate(eventsDir("MICROS",
      Seq.fill(Interactions.FooterFiles + 1)((Seq(Some(1L)), true)): _*))
    assert(wide && wideJobs > 0, s"$wideJobs jobs")
    // 100 000 rows at sf0.1 are past the bound, its 1 500 devices are not
    val (sf01, sf01Jobs) = gate("/root/testdata/sf0.1")
    assert(sf01 && sf01Jobs > 0, s"$sf01Jobs jobs")
    // 50 000 devices are past the bound: the estimate says so
    val (many, manyJobs) = gate(eventsDir("MICROS", (Seq.fill(50000)(Some(1L)), true)))
    assert(!many && manyJobs > 0, s"$manyJobs jobs")
  }

  test("driver-built and bitset_agg-built adjacency agree: sf0.001 and 12k fixture") {
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", fixture)) {
      val e = Interactions.empiricEdges(spark, dir)
      val arr = e.as[(Long, Long)].collect()
      val viaDriver = GraphMetrics.driverAdjacency(GraphMetrics.nodeIds(arr), arr)
      // the overflow route's inputs: the relation plus its collected ids
      val ids = e.select(col("src")).unionByName(e.select(col("dst").as("src")))
        .distinct().as[Long].collect().sorted
      val viaAgg = GraphMetrics.aggAdjacency(spark, e, ids)
      assert(viaDriver.ids.nonEmpty, s"$dir produced an empty graph")
      assert(viaDriver.ids.sameElements(viaAgg.ids), s"$dir: ids differ")
      assert(viaDriver.bits.length == viaAgg.bits.length)
      viaDriver.bits.indices.foreach { i =>
        assert(java.util.Arrays.equals(viaDriver.bits(i), viaAgg.bits(i)),
          s"$dir: bitset row $i (node ${ids(i)}) differs")
      }
    }
  }
}
