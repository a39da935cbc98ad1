package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark-plan SBM that `graft.graph.Sbm.draw` replaced, kept as the
  * reference the driver generator is compared against: candidate pairs
  * are a cross join of two node ranges filtered to i < j, then an inner
  * join with the broadcast block-pair probabilities, then the per-pair
  * draw as a column expression.
  */
object SbmReference {

  /** nodes: (node_id long, block string), one contiguous id range per
    * block, in `sizes` order.
    */
  def nodes(spark: SparkSession, sizes: Seq[(String, Long)]): DataFrame = {
    val offsets = sizes.scanLeft(0L)(_ + _._2)
    val ranges = sizes.zip(offsets).map { case ((b, n), off) => (b, off, off + n) }
    ranges.map { case (b, lo, hi) =>
      spark.range(lo, hi).select(col("id").as("node_id"), lit(b).as("block"))
    }.reduce(_ unionByName _)
  }

  /** Seeded SBM edges (src, dst, block_a, block_b): upper-triangle
    * pairs filtered by the block-pair probability matrix (long form:
    * block_a, block_b, prob).
    */
  def edges(spark: SparkSession, nodesDf: DataFrame, probs: DataFrame,
      seed: Long): DataFrame = {
    val a = nodesDf.select(col("node_id").as("src"), col("block").as("block_a"))
    val b = nodesDf.select(col("node_id").as("dst"), col("block").as("block_b"))
    // deterministic per-pair uniform in [0, 1): bottom 52 bits of the
    // pair hash scaled by 2^-52
    val u = (pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(1L << 52))
      .cast("double") / lit((1L << 52).toDouble))
    a.crossJoin(b)
      .where(col("src") < col("dst"))
      .join(broadcast(probs), Seq("block_a", "block_b"))
      .where(u < col("prob"))
      .select(col("src"), col("dst"), col("block_a"), col("block_b"))
  }

  /** The (vertices, edges) the old `Sbm.generate` returned. */
  def generate(spark: SparkSession, sizes: Seq[(String, Long)],
      probs: DataFrame, seed: Long): (DataFrame, DataFrame) = {
    val n = nodes(spark, sizes)
    val e = edges(spark, n, probs, seed)
    (n.select(col("node_id").cast("string").as("node_id"),
        map(lit("block"), col("block")).as("attrs")),
      e.select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst")))
  }
}
