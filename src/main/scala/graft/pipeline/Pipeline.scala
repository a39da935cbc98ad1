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
  * handoffs become one pass over events that collects the contact
  * counts. What follows is bounded by the scaled network: the matrix
  * and the SBM are built on the driver, as the reference builds them,
  * and the SEIR seeds fan out as one Spark job.
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
    * contact matrix → SBM network → SEIR. It reads the bucket origin
    * `MIN(ts)` from the events' parquet footers (a one-row collect only
    * when a file lacks `ts` statistics) and runs two collects, each
    * bounded by the scaled network rather than by the events:
    *  - `Interactions.contactCounts`, the one device-keyed pass over
    *    events (|cells|² + 2·|cells| rows). The contact matrix and the
    *    scaled block sizes are assembled from it on the driver, so
    *    events are not scanned again, and the matrix is a local
    *    relation;
    *  - the SEIR statuses, collected once by `Seir.runMany`
    *    (seeds × V rows); both status writes read those rows.
    * The network is drawn on the driver (V ≤ Scaling.Target/100 +
    * |cells| test-scale nodes) and returned as local relations, so the
    * GraphML sink runs no Spark job.
    * Returns (matrix, networkVertices, networkEdges, seirStatus).
    */
  def dailyRun(spark: SparkSession, cfg: RunConfig, seeds: Range)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val counts = Interactions.contactCounts(spark, cfg.dataDir)
    val matrix = Interactions.contactMatrix(spark, counts)

    // scaled block sizes from the pass's per-cell device counts (scaler stage)
    val sizes = Scaling.largestRemainder(counts.cellDevices)
      .map { case (cell, _, scaled) => cell -> scaled }
      .sortBy(_._1)(Interactions.cellOrder)
    // probability long-form for the generator
    val probs = matrix.select(col("a_home").as("block_a"),
      col("b_home").as("block_b"), col("prob"))

    val nodeSizes = Sbm.nodeSizes(sizes)
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
