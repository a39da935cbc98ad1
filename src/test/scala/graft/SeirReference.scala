package graft

import scala.collection.mutable
import graft.sim.Seir.NodeStatus

/** The map-based Gillespie SEIR trajectory that `graft.sim.Seir.run`
  * replaced, kept as the reference the array kernel is compared
  * against: it enumerates the SI edges afresh on every event (infected
  * nodes in id order, each adjacency array in order) and picks exposed
  * and infected nodes from freshly sorted sets.
  */
object SeirReference {

  def run(adj: Map[Long, Array[Long]], beta: Double, sigma: Double,
      gamma: Double, initialInfected: Seq[Long], tmax: Double,
      seed: Long): Seq[NodeStatus] = {
    val rnd = new java.util.Random(seed)
    val S = 0; val E = 1; val I = 2; val R = 3
    val state = mutable.Map.empty[Long, Int].withDefaultValue(S)
    val tE = mutable.Map.empty[Long, Double]
    val tI = mutable.Map.empty[Long, Double]
    val tR = mutable.Map.empty[Long, Double]
    val exposed = mutable.Set.empty[Long]
    val infected = mutable.Set.empty[Long]
    initialInfected.foreach { n =>
      state(n) = I; tI(n) = 0.0; infected += n
    }
    var t = 0.0
    while (t < tmax && (infected.nonEmpty || exposed.nonEmpty)) {
      // rates
      val siEdges = infected.toSeq.sorted.flatMap { i =>
        adj.getOrElse(i, Array.empty[Long]).filter(state(_) == S).map(s => (i, s))
      }
      val rateInfect = beta * siEdges.size
      val rateProgress = sigma * exposed.size
      val rateRecover = gamma * infected.size
      val total = rateInfect + rateProgress + rateRecover
      if (total <= 0) return result(adj, tE, tI, tR, seed)
      t += -math.log(1.0 - rnd.nextDouble()) / total
      if (t >= tmax) return result(adj, tE, tI, tR, seed)
      val u = rnd.nextDouble() * total
      if (u < rateInfect) {
        val (_, s) = siEdges(rnd.nextInt(siEdges.size))
        state(s) = E; tE(s) = t; exposed += s
      } else if (u < rateInfect + rateProgress) {
        val picks = exposed.toSeq.sorted
        val n = picks(rnd.nextInt(picks.size))
        state(n) = I; tI(n) = t; exposed -= n; infected += n
      } else {
        val picks = infected.toSeq.sorted
        val n = picks(rnd.nextInt(picks.size))
        state(n) = R; tR(n) = t; infected -= n
      }
    }
    result(adj, tE, tI, tR, seed)
  }

  private def result(adj: Map[Long, Array[Long]],
      tE: mutable.Map[Long, Double], tI: mutable.Map[Long, Double],
      tR: mutable.Map[Long, Double], seed: Long): Seq[NodeStatus] = {
    val nodes = (adj.keySet ++ adj.values.flatten).toSeq.sorted
    nodes.map(n => NodeStatus(seed, n,
      tE.getOrElse(n, Double.NaN), tI.getOrElse(n, Double.NaN),
      tR.getOrElse(n, Double.NaN)))
  }
}
