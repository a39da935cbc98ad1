package graft

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.graftspec.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.RunConfig

class PipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val cfg = RunConfig("/root/testdata/sf0.001", LocalDate.of(2024, 1, 20))

  test("end-to-end daily run: matrix -> network -> SEIR") {
    val (matrix, vertices, edges, status) =
      Pipeline.dailyRun(spark, cfg, seeds = 0 until 2)
    assert(matrix.count() == 25) // 5x5 cells
    assert(vertices.count() > 0)
    assert(edges.count() >= 0)
    assert(status.select(countDistinct(col("seed"))).head().getLong(0) == 2)
    // every simulated node exists in the generated network
    val nodeIds = vertices.select(col("node_id").cast("long")).collect()
      .map(_.getLong(0)).toSet
    val simNodes = status.select("nodeId").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(simNodes.subsetOf(nodeIds))
  }

  /** The executed plans of the queries `action` runs (through AQE
    * stages and write commands).
    */
  private def plansOf(action: => Unit): Seq[SparkPlan] = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq)
  }

  private def nodeNames(p: SparkPlan): Seq[String] = collectWithSubqueries(p) { case x => x.nodeName }

  private def scansEvents(p: SparkPlan): Boolean = collectWithSubqueries(p) {
    case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
  }.flatten.contains("events.parquet")

  /** The Spark jobs `action` starts. */
  private def jobsOf(action: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      action
      ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  // dailyRun reads the bucket origin from the events' parquet footers
  // and scans events once (the one contact-count pass); it builds the
  // matrix, the scaled sizes and the SBM network on the driver: no plan
  // holds a cross join, a nested-loop join or a window. The SEIR fan-out
  // runs once too: the status writes read the collected rows, and the
  // GraphML write starts no job.
  test("daily run: one events scan, no cross join or window, at most 6 + 3 jobs") {
    spark.catalog.clearCache() // nothing an earlier test cached may serve this run
    var res: (DataFrame, DataFrame, DataFrame, DataFrame) = null
    var daily: Seq[SparkPlan] = Nil
    val dailyJobs = jobsOf {
      daily = plansOf { res = Pipeline.dailyRun(spark, cfg, seeds = 0 until 4) }
    }
    info(s"dailyRun: $dailyJobs Spark jobs")
    assert(dailyJobs <= 6, s"dailyRun started $dailyJobs Spark jobs")
    daily.map(nodeNames).foreach { p =>
      assert(!p.exists(Set("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
        s"no dailyRun plan may cross join or window: $p")
    }
    val scans = daily.count(scansEvents)
    assert(scans == 1, s"$scans dailyRun queries scan events")
    val (matrix, vertices, edges, status) = res
    val out = java.nio.file.Files.createTempDirectory("graft-daily").toString
    val blocks = vertices.selectExpr("CAST(node_id AS LONG) AS nodeId",
      "attrs['block'] AS block")
    var graphmlJobs = -1
    var seirWrite, infectedWrite: Seq[Seq[String]] = Nil
    val writeJobs = jobsOf {
      matrix.coalesce(1).write.mode("overwrite").parquet(s"$out/contact_matrix")
      graphmlJobs = jobsOf {
        graft.sources.GraphML.write(vertices, edges, s"$out/network.graphml")
      }
      seirWrite = plansOf {
        status.write.mode("overwrite").parquet(s"$out/seir_status")
      }.map(nodeNames)
      infectedWrite = plansOf {
        graft.sim.Seir.infectedPerBlock(status, blocks)
          .write.mode("overwrite").parquet(s"$out/infected_per_block")
      }.map(nodeNames)
    }
    assert(graphmlJobs == 0, s"the network must be local relations: $graphmlJobs Spark jobs")
    info(s"the four writes: $writeJobs Spark jobs")
    assert(writeJobs <= 3, s"the four writes started $writeJobs Spark jobs")
    assert(seirWrite.nonEmpty && infectedWrite.nonEmpty)
    (seirWrite ++ infectedWrite).foreach { p =>
      assert(p.contains("LocalTableScan"), s"must read the collected statuses: $p")
      assert(!p.exists(Set("MapPartitions", "DeserializeToObject", "SerializeFromObject")),
        s"must not re-run the SEIR trajectories: $p")
    }
  }
}
