package graft.pipeline

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators._

/** Pipeline composition — the Spark-native replacement for the
  * reference's chain-of-responsibility handler pipeline
  * (/root/reference/src/core/core_abstract.py:19-43,
  * /root/reference/src/core/context.py:9-56).
  *
  * Handlers become pure `DataFrame => DataFrame` stages composed with
  * `andThen`; the mutable Context.payload becomes an immutable config
  * case class; the per-stage parquet handoffs become lazy plan
  * composition, materialized only at declared checkpoints. On a
  * cluster this collapses N read-write round-trips into one optimized
  * plan per checkpoint.
  */
object Pipeline {

  type Stage = DataFrame => DataFrame

  /** Immutable run configuration (Context analog:
    * /root/reference/src/core/context.py:12-19 builds
    * year=/month=/day= paths; epi params from env at :162-267).
    */
  final case class RunConfig(
      dataDir: String,
      date: LocalDate,
      nightStartHour: Int = 22,
      nightEndHour: Int = 6,
      bucketSeconds: Long = 600L,
      minTotalPings: Long = 10L,
      minPingsPerDay: Long = 2L,
      scaleTarget: Long = 10000L,
      beta: Double = 0.5,
      sigma: Double = 1.0,
      gamma: Double = 0.2,
  ) {
    /** Hive partition path fragment, zero-padded like the reference
      * (/root/reference/scripts/IndexingHomeAgebs.py:124-126). */
    def partitionPath: String =
      f"year=${date.getYear}%04d/month=${date.getMonthValue}%02d/day=${date.getDayOfMonth}%02d"
  }

  /** Date utilities (/root/reference/src/utils/DateUtils.py:7-83):
    * bounded trusted range + last-N-dates lookback window.
    */
  object Dates {
    private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")

    def parse(s: String): LocalDate = LocalDate.parse(s, fmt)

    /** Dates are only trusted inside a fixed bound (the reference pins
      * 2020-01-01..2021-12-31; the test corpus spans 2024-01).
      */
    def trustedRange(d: LocalDate, lo: LocalDate, hi: LocalDate): Boolean =
      !d.isBefore(lo) && !d.isAfter(hi)

    /** The NTL lookback window: the n dates ending at `end` inclusive
      * (reference: last 15 days — src/transforms/ntl_transforms.py:35).
      */
    def lastDates(end: LocalDate, n: Int): Seq[LocalDate] =
      (0 until n).map(i => end.minusDays((n - 1 - i).toLong))

    def minusDays(d: LocalDate, n: Int): LocalDate = d.minusDays(n.toLong)
  }

  // ---- composable stages ---------------------------------------------

  /** Extraction stage: accuracy filter + lookback-window date filter
    * (extract handler analog).
    */
  def extractStage(cfg: RunConfig): Stage = { df =>
    val days = Dates.lastDates(cfg.date, 15).map(_.format(DateTimeFormatter.ISO_DATE))
    df.where(to_date(col("ts")).cast("string").isin(days: _*))
  }

  /** Night-hours stage (NTL preparation handler analog). */
  def nightStage(cfg: RunConfig): Stage = { df =>
    df.where(hour(col("ts")) >= cfg.nightStartHour
      || hour(col("ts")) < cfg.nightEndHour)
  }

  /** Compose stages left-to-right. */
  def compose(stages: Stage*): Stage =
    stages.reduceLeft(_ andThen _)

  /** Attach an execution-time audit to a stage boundary: the metrics
    * accumulate DURING whatever action eventually runs the plan — no
    * second scan, no extra job (the production answer to "how many
    * rows left this stage, and how many were null" that a naive
    * `df.count()` would double-pay for at 100 TB). Read the values
    * from the Observation after the action completes.
    */
  def audited(df: DataFrame, obs: org.apache.spark.sql.Observation,
      metrics: org.apache.spark.sql.Column*): DataFrame = {
    val base = count(lit(1)).as("rows")
    df.observe(obs, base, metrics: _*)
  }

  // ---- full flow ------------------------------------------------------

  /** End-to-end daily run: events → NTL homes → interactions →
    * contact matrix → SBM network → SEIR — the whole reference handler
    * chain (§3.2) as one lazy composition, materialized at four
    * driver-side points, each bounded by the scaled network rather
    * than by the events:
    *  - the cached contact matrix (|cells|² rows), first computed by the
    *    SBM edge collect;
    *  - the scaled block sizes, collected (|cells| rows);
    *  - the SBM edges, collected once for the adjacency (≤ V(V−1)/2 rows
    *    for V ≤ Scaling.Target/100 + |cells| test-scale nodes); the
    *    returned edges are a DataFrame over those rows, so the GraphML
    *    sink never re-runs the cross join;
    *  - the SEIR statuses, collected once by `Seir.runMany`
    *    (seeds × V rows); both status writes read those rows.
    * Returns (matrix, networkVertices, networkEdges, seirStatus).
    */
  def dailyRun(spark: SparkSession, cfg: RunConfig, seeds: Range)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val matrix = Interactions.totalVsObserved(spark, cfg.dataDir).cache()

    // scaled block sizes from contact sizes (scaler stage)
    val sizes = Scaling.scaledSizesExact(spark, cfg.dataDir)
      .orderBy(col("event_type"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(2)).toSeq
    // probability long-form for the generator
    val probs = matrix.select(col("a_home").as("block_a"),
      col("b_home").as("block_b"), col("prob"))

    val (vertices, sbmEdges) = graft.graph.Sbm.generate(spark,
      sizes.map { case (b, n) => b -> math.max(1L, n / 100) }, // test-scale nodes
      probs, seed = 3696L)
    val edgeRows = sbmEdges.collect()
    val edges = spark.createDataFrame(java.util.Arrays.asList(edgeRows: _*), sbmEdges.schema)

    // adjacency (scaled networks are small by design — SURVEY §7.3)
    val adj = edgeRows
      .flatMap(r => Seq(
        r.getString(0).toLong -> r.getString(1).toLong,
        r.getString(1).toLong -> r.getString(0).toLong))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
      .map { case (k, vs) => k -> vs.toArray }
    val status = graft.sim.Seir.runMany(spark, adj, cfg.beta, cfg.sigma,
      cfg.gamma, initialInfected = adj.keys.toSeq.sorted.take(1), tmax = 50.0,
      seeds = seeds)
    (matrix, vertices, edges, status)
  }
}
