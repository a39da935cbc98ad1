package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract.
  *
  * `run` builds the lazy DataFrame for a scale-factor directory;
  * `oracle` is the equivalent DuckDB SQL over the same parquet tables
  * (None => the driver records a weaker rows-only check).
  */
final case class Op(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Included in the Bench headline set. */
    bench: Boolean = false,
)

/** Parquet readers for the driver-provided test tables (TESTDATA.md). */
object Tables {
  // One relation per (session, path): spark.read.parquet lists the
  // directory and reads footers on EVERY call, which charges repeated
  // queries a fixed driver-side tax per table reference. A real
  // deployment reads a table definition once; memoizing the lazy
  // DataFrame (plan only — nothing is cached/persisted, every action
  // still scans parquet) reproduces that. Keyed by session too, so
  // tests with multiple sessions never share plans.
  // Entries for stopped sessions are evicted eagerly on every access:
  // a JVM that cycles sessions (Verify then Bench, test runners) must
  // not grow heap monotonically. (A WeakHashMap alone would NOT work
  // here — the memoized DataFrames strongly reference their session,
  // so the key would stay reachable through the value and never
  // collect: the documented WeakHashMap value→key leak.)
  private val relations = java.util.Collections.synchronizedMap(
    new java.util.HashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = relations.synchronized {
      relations.keySet.removeIf(s => s.sparkContext.isStopped)
      relations.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
    }
    perSession.computeIfAbsent(s"$dir/$name.parquet", p => spark.read.parquet(p))
  }

  /** The test tables' events.parquet stores ts as TIMESTAMP(MICROS),
    * which Spark reads as TimestampType unchanged. An events file with
    * TIMESTAMP(NANOS) surfaces, under spark.sql.legacy.parquet.nanosAsLong,
    * as LongType epoch nanos: truncate to micros (exactly what
    * DuckDB/pyarrow do) and restore TimestampType. Integer `div` keeps
    * full precision — a double division would corrupt 1.7e18-scale nanos.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // Safety net for sessions without inferTimestampNTZ=false
      // (Sessions.scala): NTZ micros under a UTC session are the same
      // instant, so the cast is value-exact.
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
