package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Scaling

/** Gillespie SEIR simulation over a contact network
  * (/root/reference/scripts/SimulationManager.py:89-241,
  * /root/reference/src/utils/seir_utils.py:20-143: EoN
  * Gillespie_simple_contagion with E→I rate sigma, I→R rate gamma,
  * transmission rate beta).
  *
  * A single epidemic trajectory is inherently sequential, so one run
  * executes on one core over the (scaled, ≤10⁴-node) network — exactly
  * the reference's per-process design. The 100-seeds-per-network
  * fan-out (mp.Pool(10) at SimulationManager.py:371-372) runs as one
  * Spark job of min(seeds, defaultParallelism) tasks over the
  * broadcast network, and its statuses are collected once to the
  * driver (≤ seeds × Scaling.Target rows), so every consumer reads the
  * same materialized trajectories instead of re-simulating them.
  */
object Seir {

  /** Per-node status-entry times (NaN = never), matching the
    * reference's node_status CSV shape
    * (/root/reference/scripts/csv_infected.py:69-84).
    */
  final case class NodeStatus(seed: Long, nodeId: Long, tE: Double, tI: Double, tR: Double)

  private final val S: Byte = 0
  private final val E: Byte = 1
  private final val I: Byte = 2
  private final val R: Byte = 3

  /** The contact network in array form. Nodes are dense indices in
    * ascending id order, so "the k-th node of a set in index order" is
    * "the k-th smallest id". Initial infected nodes outside the
    * adjacency get an index too — they count in the I→R rate and the
    * recovery pick — but no status row.
    *
    * @param ids     index → node id, ascending
    * @param inGraph whether the index is an adjacency node (key or
    *                neighbour) and so gets a status row
    * @param off     CSR row offsets: the neighbours of i are
    *                nbr(off(i) until off(i + 1)), in the caller's array
    *                order, duplicates kept
    * @param roff    reverse CSR: rnbr(roff(v) until roff(v + 1)) are the
    *                u with v in adj(u), once per occurrence
    * @param initial the initial infected nodes' indices
    */
  private[sim] final class Network(val ids: Array[Long], val inGraph: Array[Boolean],
      val off: Array[Int], val nbr: Array[Int], val roff: Array[Int], val rnbr: Array[Int],
      val initial: Array[Int]) extends Serializable {
    def graphNodes: Int = inGraph.count(identity)
  }

  private[sim] def network(adj: Map[Long, Array[Long]], initialInfected: Seq[Long]): Network = {
    val graph = (adj.keysIterator ++ adj.valuesIterator.flatMap(_.iterator)).toArray.distinct.sorted
    val ids = (graph ++ initialInfected).distinct.sorted
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val n = ids.length
    val inGraph = ids.map(id => java.util.Arrays.binarySearch(graph, id) >= 0)
    val rows = ids.map(id => adj.getOrElse(id, Array.emptyLongArray).map(index))
    val off = rows.scanLeft(0)(_ + _.length)
    val nbr = rows.flatten
    val inDeg = new Array[Int](n)
    nbr.foreach(v => inDeg(v) += 1)
    val roff = inDeg.scanLeft(0)(_ + _)
    val fill = roff.clone()
    val rnbr = new Array[Int](nbr.length)
    for (u <- 0 until n; k <- off(u) until off(u + 1)) {
      val v = nbr(k)
      rnbr(fill(v)) = u
      fill(v) += 1
    }
    new Network(ids, inGraph, off, nbr, roff, rnbr, initialInfected.map(index).toArray)
  }

  /** One Gillespie SEIR trajectory. Events: S→E (rate beta per SI
    * edge), E→I (sigma), I→R (gamma). Seeded and reproducible.
    */
  def run(adj: Map[Long, Array[Long]], beta: Double, sigma: Double,
      gamma: Double, initialInfected: Seq[Long], tmax: Double,
      seed: Long): Seq[NodeStatus] =
    simulate(network(adj, initialInfected), beta, sigma, gamma, tmax, seed)

  /** The trajectory kernel. An SI edge is an S entry in an infected
    * node's adjacency row; `sOut(u)` counts the S entries of row u and
    * `si` sums it over infected u, both kept current on every event
    * through the reverse adjacency. The infection pick walks infected
    * nodes in id order and each row in array order, so every seed
    * draws the same random numbers and picks the same nodes as a
    * direct enumeration of the SI edges in that order.
    */
  private[sim] def simulate(g: Network, beta: Double, sigma: Double,
      gamma: Double, tmax: Double, seed: Long): Seq[NodeStatus] = {
    val rnd = new java.util.Random(seed)
    val n = g.ids.length
    val state = new Array[Byte](n)
    val tE = Array.fill(n)(Double.NaN)
    val tI = Array.fill(n)(Double.NaN)
    val tR = Array.fill(n)(Double.NaN)
    val exposed = new java.util.BitSet(n)
    val infected = new java.util.BitSet(n)
    g.initial.foreach { i => state(i) = I; tI(i) = 0.0; infected.set(i) }
    var nE = 0
    var nI = infected.cardinality()
    val sOut = new Array[Int](n)
    var si = 0
    for (u <- 0 until n) {
      var k = g.off(u)
      while (k < g.off(u + 1)) { if (state(g.nbr(k)) == S) sOut(u) += 1; k += 1 }
      if (state(u) == I) si += sOut(u)
    }
    // the index of the k-th (0-based) set bit
    def nth(set: java.util.BitSet, k: Int): Int = {
      var i = set.nextSetBit(0)
      var j = k
      while (j > 0) { i = set.nextSetBit(i + 1); j -= 1 }
      i
    }
    // the susceptible end of the k-th SI edge
    def siTarget(k0: Int): Int = {
      var k = k0
      var i = infected.nextSetBit(0)
      while (k >= sOut(i)) { k -= sOut(i); i = infected.nextSetBit(i + 1) }
      var e = g.off(i)
      while (state(g.nbr(e)) != S || k > 0) {
        if (state(g.nbr(e)) == S) k -= 1
        e += 1
      }
      g.nbr(e)
    }
    var t = 0.0
    var done = false
    while (!done && t < tmax && (nI > 0 || nE > 0)) {
      val rateInfect = beta * si
      val rateProgress = sigma * nE
      val rateRecover = gamma * nI
      val total = rateInfect + rateProgress + rateRecover
      if (total <= 0) done = true
      else {
        t += -math.log(1.0 - rnd.nextDouble()) / total
        if (t >= tmax) done = true
        else {
          val u = rnd.nextDouble() * total
          if (u < rateInfect) {
            val s = siTarget(rnd.nextInt(si))
            state(s) = E; tE(s) = t; exposed.set(s); nE += 1
            var k = g.roff(s)
            while (k < g.roff(s + 1)) {
              val w = g.rnbr(k)
              sOut(w) -= 1
              if (state(w) == I) si -= 1
              k += 1
            }
          } else if (u < rateInfect + rateProgress) {
            val v = nth(exposed, rnd.nextInt(nE))
            state(v) = I; tI(v) = t
            exposed.clear(v); nE -= 1; infected.set(v); nI += 1
            si += sOut(v)
          } else {
            val v = nth(infected, rnd.nextInt(nI))
            state(v) = R; tR(v) = t
            infected.clear(v); nI -= 1
            si -= sOut(v)
          }
        }
      }
    }
    (0 until n).filter(i => g.inGraph(i)).map(i => NodeStatus(seed, g.ids(i), tE(i), tI(i), tR(i)))
  }

  /** Seed fan-out as one Spark job of min(seeds, defaultParallelism)
    * tasks over the broadcast network (the distributed analog of the
    * reference's process pool). The statuses are collected once and
    * returned as a DataFrame over those rows, so writing them and
    * aggregating them never re-runs a trajectory. The collect holds
    * seeds × network nodes rows; the network is a scaled one, so it
    * has at most Scaling.Target nodes, which is checked.
    */
  def runMany(spark: SparkSession, adj: Map[Long, Array[Long]],
      beta: Double, sigma: Double, gamma: Double,
      initialInfected: Seq[Long], tmax: Double, seeds: Range): DataFrame = {
    import spark.implicits._
    val net = network(adj, initialInfected)
    require(net.graphNodes <= Scaling.Target,
      s"SEIR runs on a scaled network (≤ ${Scaling.Target} nodes), got ${net.graphNodes}")
    val sc = spark.sparkContext
    val bNet = sc.broadcast(net)
    val rows = try {
      sc.parallelize(seeds.map(_.toLong), math.max(1, math.min(seeds.size, sc.defaultParallelism)))
        .flatMap(s => simulate(bNet.value, beta, sigma, gamma, tmax, s))
        .collect()
    } finally bNet.destroy()
    spark.createDataset(rows.toSeq).toDF()
  }

  /** Post-simulation analytics: infected count per block
    * (/root/reference/scripts/csv_infected.py:62-133) — join node
    * status with the node→block catalog, count the distinct nodes that
    * ever entered I, per (seed, block); sorted by (seed, block).
    *
    * Both inputs are bounded by the scaled network: `status` has at
    * most seeds × Scaling.Target rows (`runMany`'s), `nodeBlocks` at
    * most Scaling.Target (the SBM vertices). So both are collected —
    * no job when they are local relations, as `runMany`'s statuses and
    * the SBM vertices are — and counted on the driver; the result is a
    * local relation.
    */
  def infectedPerBlock(status: DataFrame, nodeBlocks: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val blocksOf = nodeBlocks.select("nodeId", "block").collect()
      .groupMap(_.getLong(0))(_.getString(1))
    val infected = status.where(!isnan(col("tI"))).select("seed", "nodeId").collect()
    val counts = infected.flatMap { r =>
      val node = r.getLong(1)
      blocksOf.getOrElse(node, Array.empty[String]).map(b => (r.getLong(0), b) -> node)
    }.groupMapReduce(_._1)(p => Set(p._2))(_ ++ _)
    val rows = counts.keys.toSeq
      .sorted(Ordering.Tuple2(Ordering.Long, graft.operators.Interactions.cellOrder))
      .map { case k @ (seed, b) => Row(seed, b, counts(k).size.toLong) }
    val schema = StructType(Seq(status.schema("seed"), nodeBlocks.schema("block"),
      StructField("n_infected", LongType, nullable = false)))
    status.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
