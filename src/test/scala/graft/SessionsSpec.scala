package graft

import java.time.LocalDate
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.RunConfig

/** The session config every entry point ships with: the literal AQE and
  * split-size confs, shuffle compression derived from where
  * `spark.local.dir` lives, and a codegen class cache that holds the
  * engine's working set.
  */
class SessionsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("Sessions.build sets the AQE and split-size confs") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "1m")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == "16m")
  }

  test("shuffle compression is on exactly when spark.local.dir is not tmpfs") {
    val conf = spark.sparkContext.getConf
    val expected = (!Sessions.isTmpfs(conf.get("spark.local.dir"))).toString
    assert(conf.get("spark.shuffle.compress") == expected)
    assert(conf.get("spark.shuffle.spill.compress") == expected)
  }

  test("isTmpfs matches /dev/shm and paths below it, not its siblings") {
    assert(Sessions.isTmpfs("/dev/shm"))
    assert(Sessions.isTmpfs("/dev/shm/x"))
    assert(!Sessions.isTmpfs("/dev/shm-backup"))
    assert(!Sessions.isTmpfs("/tmp/x"))
  }

  test("a warm session compiles no generated class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    val sf = "/root/testdata/sf0.001"
    val cfg = RunConfig(sf, LocalDate.of(2024, 1, 20))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // (name, Janino compiles) for every bench query and a daily run
    def round(): Seq[(String, Long)] = {
      def compiled(name: String)(f: => Unit): (String, Long) = {
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        f
        name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }
      SparkEntry.benchQueries.map(op => compiled(op.name)(noop(op.run(spark, sf)))) :+
        compiled("dailyRun") {
          val (matrix, vertices, edges, status) =
            Pipeline.dailyRun(spark, cfg, seeds = 0 until 3)
          Seq(matrix, vertices, edges, status).foreach(noop)
          noop(graft.sim.Seir.infectedPerBlock(status, vertices.selectExpr(
            "CAST(node_id AS LONG) AS nodeId", "attrs['block'] AS block")))
        }
    }
    round()
    val warm = round().filter(_._2 > 0)
    assert(warm.isEmpty, s"${warm.map(_._2).sum} classes compiled on the warm round: " +
      warm.map { case (n, c) => s"$n=$c" }.mkString(", "))
  }
}
