package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftspec.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.EventsFixtures.eventsDir
import graft.operators.Interactions

/** The bucket origin `unix_micros(MIN(ts))` read from the events'
  * parquet footers equals the one-row collect it replaces, starts no
  * Spark job, and falls back to the collect whenever a footer cannot
  * prove the minimum.
  */
class OriginFooterSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
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

  /** The origin as the one-row collect computes it. */
  private def collected(dir: String): Option[Long] = {
    val r = Tables.events(spark, dir).agg(unix_micros(min(col("ts")))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Asserts the footer route gives `want` in 0 Spark jobs. */
  private def assertFooterOrigin(dir: String, want: Option[Long]): Unit = {
    Tables.load(spark, dir, "events") // the relation a run has loaded already
    var got: Option[Long] = null
    assert(jobsOf { got = Interactions.originMicros(spark, dir) } == 0,
      "the footer route starts no Spark job")
    assert(Interactions.footerOriginMicros(spark, dir) == Some(want))
    assert(got == want)
    assert(collected(dir) == want, "the collect agrees")
  }

  test("footer origin: the minimum over several files, no Spark job") {
    assertFooterOrigin(eventsDir("MICROS",
      (Seq(Some(5000000123L), None, Some(8000000000L)), true),
      (Seq(Some(3000000000L), Some(1000000007L), None), true),
      (Seq(Some(9000000000L)), true)), Some(1000000007L))
    // MILLIS widen to micros
    assertFooterOrigin(eventsDir("MILLIS",
      (Seq(Some(1700000000123L), Some(1700000000007L)), true),
      (Seq(Some(1700000000999L)), true)), Some(1700000000007000L))
  }

  test("footer origin: NANOS ts is Tables.events' div 1000") {
    // -1999 ns truncates to -1 µs as `div` does (a floor would give -2)
    assertFooterOrigin(eventsDir("NANOS",
      (Seq(Some(1700000000123456789L), Some(-1999L)), true),
      (Seq(Some(5L), None), true)), Some(-1L))
  }

  test("footer origin: empty or all-null ts is None") {
    assertFooterOrigin(eventsDir("MICROS", (Seq(None, None, None), true)), None)
    assertFooterOrigin(eventsDir("MICROS", (Seq.empty, true), (Seq(None), true)), None)
  }

  test("footer origin: a file without ts statistics or with INT96 ts falls back to the collect") {
    val noStats = eventsDir("MICROS",
      (Seq(Some(5000000000L)), true),
      (Seq(Some(1000000007L), Some(3000000000L)), false))
    assert(Interactions.footerOriginMicros(spark, noStats) == None)
    var got: Option[Long] = null
    assert(jobsOf { got = Interactions.originMicros(spark, noStats) } > 0, "the collect runs")
    assert(got == Some(1000000007L) && collected(noStats) == got)

    val int96 = java.nio.file.Files.createTempDirectory("graft-origin").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    try spark.range(3).select(col("id").as("event_id"),
        timestamp_micros(col("id") * 1000000L + 42L).as("ts"))
      .coalesce(1).write.parquet(s"$int96/events.parquet")
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(Interactions.footerOriginMicros(spark, int96) == None)
    assert(Interactions.originMicros(spark, int96) == Some(42L))
  }
}
