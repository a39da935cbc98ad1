package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.Seir

/** The array SEIR kernel reproduces the map-based reference trajectory
  * for trajectory, seed for seed, on graphs that exercise each of its
  * index and bookkeeping paths; the Spark fan-out returns exactly the
  * per-seed trajectories.
  */
class SeirKernelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val seeds = 0L until 120L

  private val path: Map[Long, Array[Long]] = (0L until 20L).map { i =>
    i -> Array(i - 1, i + 1).filter(j => j >= 0 && j < 20)
  }.toMap

  /** Symmetric, duplicate-free, two blocks — the shape `dailyRun` builds
    * — with each row in shuffled order, about 100 nodes and 1,000
    * undirected edges.
    */
  private val sbm: Map[Long, Array[Long]] = {
    val rnd = new java.util.Random(3696L)
    val n = 100
    val block = (0 until n).map(i => if (i < 60) 0 else 1)
    val pairs = for {
      i <- 0 until n; j <- i + 1 until n
      p = if (block(i) == block(j)) 0.3 else 0.1
      if rnd.nextDouble() < p
    } yield (i.toLong * 7 + 3, j.toLong * 7 + 3) // sparse, non-dense ids
    pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) =>
        val row = vs.map(_._2).toArray
        k -> new scala.util.Random(k).shuffle(row.toSeq).toArray
      }
  }

  /** Directed rows: neighbours that are no key, a repeated neighbour and
    * a self loop.
    */
  private val asymmetric: Map[Long, Array[Long]] = {
    val rnd = new java.util.Random(11L)
    (0L until 40L).map { i =>
      i -> (Array.fill(rnd.nextInt(6))(rnd.nextInt(60).toLong) ++
        (if (i % 9 == 0) Array(i, i + 1, i + 1) else Array.emptyLongArray))
    }.toMap
  }

  private def assertSameTrajectories(adj: Map[Long, Array[Long]], init: Seq[Long],
      beta: Double, sigma: Double, gamma: Double, tmax: Double): Unit =
    seeds.foreach { s =>
      // compared by string form: NaN is unequal to itself
      val got = Seir.run(adj, beta, sigma, gamma, init, tmax, s).map(_.toString)
      val want = SeirReference.run(adj, beta, sigma, gamma, init, tmax, s).map(_.toString)
      assert(got == want, s"seed $s")
    }

  test("array kernel = reference: path graph") {
    assertSameTrajectories(path, Seq(0L), beta = 2.0, sigma = 1.0, gamma = 0.3, tmax = 100.0)
  }

  test("array kernel = reference: seeded SBM-like graph, ~100 nodes / ~1,000 edges") {
    val edges = sbm.values.map(_.length).sum / 2
    assert(sbm.size >= 95 && edges >= 800 && edges <= 1200, s"${sbm.size} nodes, $edges edges")
    assertSameTrajectories(sbm, Seq(sbm.keys.min), beta = 0.5, sigma = 1.0, gamma = 0.2,
      tmax = 50.0)
  }

  test("array kernel = reference: asymmetric adjacency, repeats and a self loop") {
    assertSameTrajectories(asymmetric, Seq(0L, 9L), beta = 1.0, sigma = 0.7, gamma = 0.4,
      tmax = 60.0)
  }

  test("array kernel = reference: initial infected node with no neighbours") {
    val adj = path + (50L -> Array.emptyLongArray)
    assertSameTrajectories(adj, Seq(50L, 10L), beta = 2.0, sigma = 1.0, gamma = 0.3,
      tmax = 100.0)
    assertSameTrajectories(adj, Seq(50L), beta = 2.0, sigma = 1.0, gamma = 0.3, tmax = 100.0)
  }

  test("array kernel = reference: initial infected node outside the graph") {
    assertSameTrajectories(path, Seq(999L, 5L, -3L), beta = 2.0, sigma = 1.0, gamma = 0.3,
      tmax = 100.0)
    assert(Seir.run(path, 2.0, 1.0, 0.3, Seq(999L), 100.0, 1L).map(_.nodeId) == (0L until 20L))
  }

  test("array kernel = reference: empty adjacency") {
    assertSameTrajectories(Map.empty, Seq(1L), beta = 2.0, sigma = 1.0, gamma = 0.3, tmax = 10.0)
    assertSameTrajectories(Map.empty, Nil, beta = 2.0, sigma = 1.0, gamma = 0.3, tmax = 10.0)
    assert(Seir.run(Map.empty, 2.0, 1.0, 0.3, Seq(1L), 10.0, 1L).isEmpty)
  }

  test("runMany = seeds.flatMap(run) at every partition count") {
    import spark.implicits._
    val init = Seq(sbm.keys.min)
    // min(seeds, defaultParallelism) tasks: 1, 3 and all cores
    Seq(7 until 8, 3 until 6, 0 until 100).foreach { range =>
      val got = Seir.runMany(spark, sbm, 0.5, 1.0, 0.2, init, 50.0, range)
        .as[Seir.NodeStatus].collect().map(_.toString).sorted.toSeq
      val want = range.flatMap(s => Seir.run(sbm, 0.5, 1.0, 0.2, init, 50.0, s.toLong))
        .map(_.toString).sorted
      assert(got == want, s"seeds $range")
    }
    assert(Seir.runMany(spark, sbm, 0.5, 1.0, 0.2, init, 50.0, 0 until 0).isEmpty)
  }

  test("runMany refuses a network above the scaled-size bound") {
    val n = graft.operators.Scaling.Target + 1
    val big = (0L until n).map(i => i -> Array((i + 1) % n)).toMap
    val e = intercept[IllegalArgumentException] {
      Seir.runMany(spark, big, 0.5, 1.0, 0.2, Seq(0L), 50.0, 0 until 2)
    }
    assert(e.getMessage.contains("scaled network"))
  }
}
