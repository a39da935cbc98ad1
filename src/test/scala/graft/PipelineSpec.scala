package graft

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.graftspec.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
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

  /** The executed plans of the `n` queries `action` runs, as node class
    * names (through AQE stages and write commands).
    */
  private def executedNodes(n: Int)(action: => Unit): Seq[Seq[String]] = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      eventually(timeout(30.seconds)) { assert(plans.synchronized(plans.size) >= n) }
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq).map(p => collectWithSubqueries(p) { case x => x.nodeName })
  }

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

  // The SBM network is drawn once, on the driver, inside dailyRun: its plans
  // hold no cross join, and the GraphML write starts no Spark job. The SEIR
  // fan-out runs once too: the status writes read the collected rows.
  test("daily run: the SEIR fan-out and the SBM cross join each run once") {
    var res: (DataFrame, DataFrame, DataFrame, DataFrame) = null
    // dailyRun's queries: the scaled sizes, then the SBM's read of the
    // cached matrix (the scaled sizes' plan has its own nested-loop joins
    // of 1-row totals)
    val daily = executedNodes(2) { res = Pipeline.dailyRun(spark, cfg, seeds = 0 until 4) }
    val sbm = daily.filter(_.contains("InMemoryTableScan"))
    assert(sbm.nonEmpty, daily.toString)
    sbm.foreach { p =>
      assert(!p.exists(Set("CartesianProduct", "BroadcastNestedLoopJoin")),
        s"the SBM network must be drawn on the driver: $p")
    }
    val (_, vertices, edges, status) = res
    val out = java.nio.file.Files.createTempDirectory("graft-daily").toString
    val graphmlJobs = jobsOf {
      graft.sources.GraphML.write(vertices, edges, s"$out/network.graphml")
    }
    assert(graphmlJobs == 0, s"the network must be local relations: $graphmlJobs Spark jobs")
    val seirWrite = executedNodes(1) {
      status.write.mode("overwrite").parquet(s"$out/seir_status")
    }
    val blocks = vertices.selectExpr("CAST(node_id AS LONG) AS nodeId",
      "attrs['block'] AS block")
    val infectedWrite = executedNodes(1) {
      graft.sim.Seir.infectedPerBlock(status, blocks)
        .write.mode("overwrite").parquet(s"$out/infected_per_block")
    }
    (seirWrite ++ infectedWrite).foreach { p =>
      assert(p.contains("LocalTableScan"), s"must read the collected statuses: $p")
      assert(!p.exists(Set("MapPartitions", "DeserializeToObject", "SerializeFromObject")),
        s"must not re-run the SEIR trajectories: $p")
    }
  }
}
