package graft.graph

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import graft.operators.Scaling

/** Stochastic block model network generation
  * (/root/reference/scripts/NetworkBuilder.py:423-480,
  * /root/reference/src/transforms/matrix_transforms.py:176-221:
  * nx.stochastic_block_model(sizes, probs, seed) + node re-tagging).
  *
  * Driver design, as the reference runs it in one process: the network
  * is a scaled one, so it has at most `Scaling.Target` nodes (checked
  * before any pair is drawn). Block b owns the contiguous node-id range
  * that follows the blocks before it in `sizes`. Every pair i < j is
  * visited, i ascending then j ascending, and kept when
  *
  *   u = floorMod(XXH64.hashLong(seed, XXH64.hashLong(j, XXH64.hashLong(i, 42))), 2⁵²) / 2⁵²
  *
  * is below p(block_i, block_j). This is the uniform Spark's
  * `pmod(xxhash64(src, dst, seed), 2⁵²) / 2⁵²` gives the pair, so a
  * draw depends only on (i, j, seed). A block pair without a
  * probability row gets no edges.
  */
object Sbm {

  private val Scale = (1L << 52).toDouble

  private val vertexSchema = StructType(Seq(
    StructField("node_id", StringType, nullable = false),
    StructField("attrs", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  private val edgeSchema = StructType(Seq(
    StructField("src", StringType, nullable = false),
    StructField("dst", StringType, nullable = false)))

  /** The test-scale node count of each block: one node per 100 scaled
    * members, at least one per block. `run-daily` and `build-network`
    * both draw from these counts.
    */
  def nodeSizes(scaled: Seq[(String, Long)]): Seq[(String, Long)] =
    scaled.map { case (b, n) => b -> math.max(1L, n / 100) }

  /** (block, first id, end id) of each block's contiguous node range. */
  private def ranges(sizes: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    val offsets = sizes.scanLeft(0L)(_ + _._2)
    sizes.indices.map(k => (sizes(k)._1, offsets(k), offsets(k + 1)))
  }

  /** The seeded edges as (src, dst) node ids, src < dst, in draw order.
    * `probs` is the block-pair probability matrix in long form
    * (block_a, block_b, prob), at most one row per block pair; its rows
    * are collected once.
    */
  def draw(sizes: Seq[(String, Long)], probs: DataFrame, seed: Long): Array[(Long, Long)] = {
    val total = sizes.map(_._2).sum
    require(total <= Scaling.Target,
      s"SBM generates a scaled network (≤ ${Scaling.Target} nodes), got $total")
    val blockIndex = sizes.map(_._1).distinct.zipWithIndex.toMap
    // -1: no row for the block pair, so no draw can keep an edge
    val p = Array.fill(blockIndex.size, blockIndex.size)(-1.0)
    val seen = mutable.Set.empty[(Int, Int)]
    probs.select("block_a", "block_b", "prob").collect().foreach { r =>
      for (a <- blockIndex.get(r.getString(0)); b <- blockIndex.get(r.getString(1))) {
        require(seen.add((a, b)), s"two probabilities for blocks ${r.getString(0)}, ${r.getString(1)}")
        if (!r.isNullAt(2)) p(a)(b) = r.getDouble(2)
      }
    }
    val blocks = ranges(sizes).map { case (b, lo, hi) => (blockIndex(b), lo, hi) }
    val out = Array.newBuilder[(Long, Long)]
    for ((a, loA, hiA) <- blocks; i <- loA until hiA; (b, loB, hiB) <- blocks) {
      val prob = p(a)(b)
      var j = math.max(i + 1, loB)
      if (prob > 0) while (j < hiB) {
        val h = XXH64.hashLong(seed, XXH64.hashLong(j, XXH64.hashLong(i, 42L)))
        if (java.lang.Math.floorMod(h, 1L << 52) / Scale < prob) out += i -> j
        j += 1
      }
    }
    out.result()
  }

  /** The GraphML-ready (vertices, edges) of `draw`'s edges, as local
    * relations: vertices (node_id, attrs = {block}) in id order, edges
    * (src, dst) as node-id strings.
    */
  def relations(spark: SparkSession, sizes: Seq[(String, Long)],
      edges: Array[(Long, Long)]): (DataFrame, DataFrame) = {
    val vertexRows = ranges(sizes).flatMap { case (b, lo, hi) =>
      (lo until hi).map(id => Row(id.toString, Map("block" -> b)))
    }
    val edgeRows = edges.toSeq.map { case (s, d) => Row(s.toString, d.toString) }
    (spark.createDataFrame(java.util.Arrays.asList(vertexRows: _*), vertexSchema),
      spark.createDataFrame(java.util.Arrays.asList(edgeRows: _*), edgeSchema))
  }

  /** sizes + probability matrix → tagged vertex/edge relations ready
    * for the GraphML sink.
    */
  def generate(spark: SparkSession, sizes: Seq[(String, Long)],
      probs: DataFrame, seed: Long): (DataFrame, DataFrame) =
    relations(spark, sizes, draw(sizes, probs, seed))
}
