package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing / bucketing helpers.
  *
  * Everything here compiles to built-in codegen'd Spark expressions AND
  * has a value-identical DuckDB SQL spelling, so operators built on these
  * can be verified against the DuckDB oracle bit-for-bit:
  *
  *   Spark: conv(substring(md5(s), 1, 15), 16, 10) cast long
  *   DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
  *
  * 15 hex digits = 60 bits, always a positive Long in both engines.
  */
object CrossHash {

  /** 60-bit positive hash of a string column (md5-based). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB spelling of [[hash60]] for oracle SQL interpolation. */
  def hash60Sql(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT)"

  /** Seeded variant: k independent hash functions via salt prefixing. */
  def hash60Seeded(c: Column, seed: Int): Column =
    hash60(concat(lit(s"s$seed:"), c))

  def hash60SeededSql(expr: String, seed: Int): String =
    hash60Sql(s"concat('s$seed:', $expr)")

  /** Origin-anchored fixed-width time bucket id (floor division of epoch
    * microseconds). Matches DuckDB `epoch_us(ts) // (seconds*1000000)`.
    * Reference semantics: TIME_BUCKET(INTERVAL '600 seconds', ts)
    * (/root/reference/src/queries/interaction_queries.py:17).
    */
  def timeBucketId(ts: Column, seconds: Long): Column =
    floor(unix_micros(ts) / (seconds * 1000000L)).cast("long")
}
