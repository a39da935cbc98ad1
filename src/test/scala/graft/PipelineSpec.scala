package graft

import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.{Dates, RunConfig}

class PipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val cfg = RunConfig("/root/testdata/sf0.001", LocalDate.of(2024, 1, 20))

  test("date utilities: lookback window and trusted range") {
    val window = Dates.lastDates(LocalDate.of(2024, 1, 20), 15)
    assert(window.size == 15)
    assert(window.head == LocalDate.of(2024, 1, 6))
    assert(window.last == LocalDate.of(2024, 1, 20))
    assert(Dates.trustedRange(LocalDate.of(2024, 1, 1),
      LocalDate.of(2024, 1, 1), LocalDate.of(2024, 12, 31)))
    assert(!Dates.trustedRange(LocalDate.of(2025, 1, 1),
      LocalDate.of(2024, 1, 1), LocalDate.of(2024, 12, 31)))
    assert(cfg.partitionPath == "year=2024/month=01/day=20")
  }

  test("stage composition filters as the handler chain would") {
    val ev = Tables.events(spark, cfg.dataDir)
    val staged = Pipeline.compose(
      Pipeline.extractStage(cfg), Pipeline.nightStage(cfg))(ev)
    assert(staged.count() > 0)
    assert(staged.where(to_date(col("ts")) > lit("2024-01-20").cast("date")
      || to_date(col("ts")) < lit("2024-01-06").cast("date")).count() == 0)
    assert(staged.where(hour(col("ts")) >= 6 && hour(col("ts")) < 22).count() == 0)
  }

  test("observed stage audit: metrics accumulate in the same action, no extra job") {
    val obs = new org.apache.spark.sql.Observation("extract_audit")
    val ev = Tables.events(spark, cfg.dataDir)
    val staged = Pipeline.audited(
      Pipeline.extractStage(cfg)(ev), obs,
      sum(when(col("value").isNull, 1).otherwise(0)).as("null_values"),
      // exact DISTINCT is not a mergeable single-pass accumulator and
      // is rejected by observe(); the HLL sketch is the right audit
      approx_count_distinct(col("user_id")).as("n_users"))
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val n = staged.count()
    val m = obs.get
    assert(m("rows") == n, "audit row count must equal the action's count")
    assert(m("null_values") == 0L)
    assert(m("n_users").asInstanceOf[Long] > 0)
    // the audit must not have scheduled its own scan
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter - jobsBefore <= 2,
      s"observe must piggyback on the action: ${jobsAfter - jobsBefore} jobs")
  }

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

  test("daily run: the SEIR fan-out and the SBM cross join each run once") {
    val (_, vertices, edges, status) = Pipeline.dailyRun(spark, cfg, seeds = 0 until 4)
    val out = java.nio.file.Files.createTempDirectory("graft-daily").toString
    // GraphML.write collects the vertices and the edges
    val graphml = executedNodes(2) {
      graft.sources.GraphML.write(vertices, edges, s"$out/network.graphml")
    }
    val seirWrite = executedNodes(1) {
      status.write.mode("overwrite").parquet(s"$out/seir_status")
    }
    val blocks = vertices.selectExpr("CAST(node_id AS LONG) AS nodeId",
      "attrs['block'] AS block")
    val infectedWrite = executedNodes(1) {
      graft.sim.Seir.infectedPerBlock(status, blocks)
        .write.mode("overwrite").parquet(s"$out/infected_per_block")
    }
    graphml.foreach { p =>
      assert(!p.exists(Set("CartesianProduct", "BroadcastNestedLoopJoin")),
        s"the GraphML edges must be the rows dailyRun collected: $p")
    }
    (seirWrite ++ infectedWrite).foreach { p =>
      assert(p.contains("LocalTableScan"), s"must read the collected statuses: $p")
      assert(!p.exists(Set("MapPartitions", "DeserializeToObject", "SerializeFromObject")),
        s"must not re-run the SEIR trajectories: $p")
    }
  }
}
