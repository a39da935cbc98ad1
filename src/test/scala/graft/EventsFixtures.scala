package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Events tables that specs build by hand, each in a new temp dir. */
object EventsFixtures {

  /** `n` distinct devices (ids 1..n) in ONE (cell, tw) group — the
    * stuck-sensor / default-coordinate poisoning scenario.
    */
  def hotCell(spark: SparkSession, n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r10hot").toString
    (1 to n).map(i => (i.toLong, 0L, i.toLong, "hot", 1.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** An events table of one parquet file per entry of `files`: raw INT64
    * `ts` values in `unit` (None is a null), each file with or without
    * column statistics. Row i of a file has event_id = user_id = i.
    */
  def eventsDir(unit: String, files: (Seq[Option[Long]], Boolean)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-origin").toString
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 user_id; " +
        s"optional int64 ts (TIMESTAMP($unit,true)); }")
    val rows = new SimpleGroupFactory(schema)
    files.zipWithIndex.foreach { case ((ts, stats), f) =>
      val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-$f.parquet"))
        .withType(schema).withConf(new Configuration()).withStatisticsEnabled(stats).build()
      try ts.zipWithIndex.foreach { case (t, i) =>
        val g = rows.newGroup().append("event_id", i.toLong).append("user_id", i.toLong)
        t.foreach(g.append("ts", _))
        w.write(g)
      } finally w.close()
    }
    dir
  }
}
