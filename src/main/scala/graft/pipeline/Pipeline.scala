package graft.pipeline

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Sbm
import graft.operators._

/** The daily run — the reference's chain-of-responsibility handler
  * pipeline (reference src/core/core_abstract.py:19-43 and
  * src/core/context.py:9-56) as one function: events →
  * contact matrix → SBM network → SEIR. The handlers' per-stage parquet
  * handoffs become one lazy plan up to the contact matrix. What follows
  * is bounded by the scaled network: the SBM is drawn on the driver, as
  * the reference draws it, and the SEIR seeds fan out as one Spark job.
  */
object Pipeline {

  /** Run configuration (Context analog: reference
    * src/core/context.py:12-19; epi params from env at :162-267).
    * `dataDir` is the date partition the run reads; `date` only labels
    * the run.
    */
  final case class RunConfig(
      dataDir: String,
      date: LocalDate,
      beta: Double = 0.5,
      sigma: Double = 1.0,
      gamma: Double = 0.2,
  )

  /** End-to-end daily run: events → NTL homes → interactions →
    * contact matrix → SBM network → SEIR, materialized at three
    * driver-side points, each bounded by the scaled network rather
    * than by the events:
    *  - the scaled block sizes, collected (|cells| rows);
    *  - the cached contact matrix (|cells|² rows), first computed when
    *    `Sbm.draw` collects its probabilities; the network is then
    *    drawn on the driver (V ≤ Scaling.Target/100 + |cells|
    *    test-scale nodes) and returned as local relations, so the
    *    GraphML sink runs no Spark job;
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

    val nodeSizes = sizes.map { case (b, n) => b -> math.max(1L, n / 100) } // test-scale nodes
    val pairs = Sbm.draw(nodeSizes, probs, seed = 3696L)
    val (vertices, edges) = Sbm.relations(spark, nodeSizes, pairs)

    // adjacency (scaled networks are small by design — SURVEY §7.3)
    val adj = pairs
      .flatMap { case (s, d) => Seq(s -> d, d -> s) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val status = graft.sim.Seir.runMany(spark, adj, cfg.beta, cfg.sigma,
      cfg.gamma, initialInfected = adj.keys.toSeq.sorted.take(1), tmax = 50.0,
      seeds = seeds)
    (matrix, vertices, edges, status)
  }
}
