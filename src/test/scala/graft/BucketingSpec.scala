package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located joins (SURVEY §4.3 / the 100 TB join story):
  * pre-bucketing both sides of a recurring join key eliminates the
  * per-query shuffle entirely — the physical plan must contain NO
  * ShuffleExchange on the bucketed join.
  */
class BucketingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-bucketing", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` with broadcast joins off (forcing the sort-merge path),
    * then restores the session's previous value: the session is shared
    * with every spec that runs after this one.
    */
  private def withoutBroadcastJoins(f: => Unit): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bucketed join plans without any shuffle exchange") { withoutBroadcastJoins {
    val sf = "/root/testdata/sf0.001"
    // getOrCreate may reuse an existing session whose (static) warehouse
    // conf differs, and a fresh JVM's in-memory catalog has no memory of
    // a previous run's tables while their directories persist — drop
    // from the catalog AND delete the physical locations
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(d)
      }
    }
    Tables.lineitem(spark, sf)
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    Tables.orders(spark, sf)
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join must not shuffle the lineitem side:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle the orders side:\n$plan")
    // correctness unchanged vs unbucketed
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  } }
}
