package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session config every entry point ships with: the literal AQE and
  * split-size confs, and shuffle compression derived from where
  * `spark.local.dir` lives.
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
}
