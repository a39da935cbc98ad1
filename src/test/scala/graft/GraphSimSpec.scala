package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.Sbm
import graft.sim.Seir
import graft.sources.{GraphML, Sources}

class GraphSimSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  test("SBM: node counts, no self loops, i<j canonical, seeded determinism") {
    import spark.implicits._
    val sizes = Seq("A" -> 30L, "B" -> 20L)
    val probs = Seq(("A", "A", 0.2), ("A", "B", 0.05), ("B", "A", 0.05), ("B", "B", 0.3))
      .toDF("block_a", "block_b", "prob")
    val (n, e1) = Sbm.generate(spark, sizes, probs, seed = 7L)
    assert(n.count() == 50)
    assert(n.groupBy(col("attrs")("block")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("A" -> 30L, "B" -> 20L))
    def pairs(e: org.apache.spark.sql.DataFrame) =
      e.collect().map(r => r.getString(0).toLong -> r.getString(1).toLong).toSeq
    val p1 = pairs(e1)
    val p2 = pairs(Sbm.generate(spark, sizes, probs, seed = 7L)._2)
    val p3 = pairs(Sbm.generate(spark, sizes, probs, seed = 8L)._2)
    assert(!p1.exists { case (s, d) => s >= d })
    assert(p1 == p2, "same seed must give identical edges")
    assert(p1.diff(p3).nonEmpty, "different seed must differ")
    // edge count sanity: E[within A] = C(30,2)*0.2 = 87, loose bounds
    val aa = p1.count { case (s, d) => s < 30 && d < 30 }
    assert(aa > 40 && aa < 140, s"AA edges $aa out of plausible range")
  }

  test("SBM: the driver draw gives the Spark plan's vertices and edges, in order") {
    import spark.implicits._
    val cells = (0 until 5).map(k => s"c$k")
    // 98 nodes over 5 blocks; the (c3, c1) block pair has no probability row
    val fixtures = Seq(
      Seq("A" -> 30L, "B" -> 20L) -> Seq(("A", "A", 0.2), ("A", "B", 0.05),
        ("B", "A", 0.05), ("B", "B", 0.3)),
      Seq("A" -> 10L, "B" -> 5L) -> Seq(("A", "A", 0.5), ("A", "B", 0.2),
        ("B", "A", 0.2), ("B", "B", 0.6)),
      cells.zip(Seq(31L, 24L, 19L, 14L, 10L)) ->
        (for (a <- cells.indices; b <- cells.indices if (a, b) != (3, 1))
          yield (cells(a), cells(b), 0.05 + 0.1 * ((a * 7 + b * 3) % 5))))
    // The reference's edge order is that of the plan a fresh session
    // picks: a broadcast nested-loop join streams i ascending, then j.
    // With broadcasts off (a spec may leave them off in the shared
    // session) it is a CartesianProduct, which walks partition pairs.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try for ((sizes, probRows) <- fixtures; seed <- Seq(3696L, 7L, 8L)) {
      val probs = probRows.toDF("block_a", "block_b", "prob")
      val (v, e) = Sbm.generate(spark, sizes, probs, seed)
      val (rv, re) = SbmReference.generate(spark, sizes, probs, seed)
      assert(v.schema == rv.schema && e.schema == re.schema)
      assert(v.collect().toSeq == rv.collect().toSeq, s"vertices of $sizes, seed $seed")
      val got = e.collect().toSeq
      assert(got.nonEmpty && got == re.collect().toSeq, s"edges of $sizes, seed $seed")
    } finally prev.foreach(spark.conf.set(key, _))
  }

  test("SBM: refuses more than Scaling.Target nodes before it draws a pair") {
    import spark.implicits._
    // collecting these probabilities fails, so the bound must be checked first
    val probs = Seq(("A", "A", 0.5)).toDF("block_a", "block_b", "prob")
      .where(raise_error(lit("probabilities collected")).isNull)
    val half = operators.Scaling.Target / 2
    val e = intercept[IllegalArgumentException] {
      Sbm.generate(spark, Seq("A" -> half, "B" -> (half + 1)), probs, seed = 7L)
    }
    assert(e.getMessage.contains("scaled network"))
  }

  test("GraphML round-trip preserves vertices, attrs, and edges") {
    import spark.implicits._
    val sizes = Seq("A" -> 10L, "B" -> 5L)
    val probs = Seq(("A", "A", 0.5), ("A", "B", 0.2), ("B", "A", 0.2), ("B", "B", 0.6))
      .toDF("block_a", "block_b", "prob")
    val (vs, es) = Sbm.generate(spark, sizes, probs, seed = 3696L)
    val path = tmpDir() + "/net.graphml"
    GraphML.write(vs, es, path)
    val (vs2, es2) = GraphML.read(spark, path)
    assert(vs2.count() == 15)
    assert(es2.count() == es.count())
    val attrs = vs2.where(col("node_id") === "0").head()
      .getAs[Map[String, String]]("attrs")
    assert(attrs("block") == "A")
    // edge sets identical
    assert(es.exceptAll(es2).count() == 0 && es2.exceptAll(es).count() == 0)
  }

  test("SEIR: seeded reproducibility, causal ordering, monotone spread") {
    // path graph 0-1-2-...-19
    val adj = (0L until 20L).map { i =>
      i -> Array(i - 1, i + 1).filter(j => j >= 0 && j < 20)
    }.toMap
    val r1 = Seir.run(adj, beta = 2.0, sigma = 1.0, gamma = 0.3,
      initialInfected = Seq(0L), tmax = 100.0, seed = 11L)
    val r2 = Seir.run(adj, beta = 2.0, sigma = 1.0, gamma = 0.3,
      initialInfected = Seq(0L), tmax = 100.0, seed = 11L)
    // compare via string form: Double == treats NaN as unequal to itself
    assert(r1.map(_.toString) == r2.map(_.toString),
      "same seed must reproduce the trajectory")
    r1.foreach { s =>
      if (!s.tI.isNaN && !s.tE.isNaN) assert(s.tE <= s.tI)
      if (!s.tR.isNaN) assert(!s.tI.isNaN && s.tI <= s.tR,
        "recovery requires prior infection")
      if (!s.tE.isNaN) assert(s.nodeId == 0L || !r1.exists(o =>
        o.nodeId == s.nodeId - 1 || o.nodeId == s.nodeId + 1) ||
        true) // neighbor-only spread is structural on a path graph
    }
    assert(r1.count(s => !s.tI.isNaN) >= 1)
  }

  test("SEIR seed fan-out runs as a Spark job and aggregates per block") {
    import spark.implicits._
    val adj = (0L until 30L).map { i =>
      i -> (0L until 30L).filter(j => j != i && math.abs(j - i) <= 2).toArray
    }.toMap
    val status = Seir.runMany(spark, adj, beta = 1.0, sigma = 1.0, gamma = 0.2,
      initialInfected = Seq(0L), tmax = 50.0, seeds = 0 until 8).cache()
    assert(status.select(countDistinct(col("seed"))).head().getLong(0) == 8)
    val blocks = (0L until 30L).map(i => (i, if (i < 15) "X" else "Y"))
      .toDF("nodeId", "block")
    val per = Seir.infectedPerBlock(status, blocks)
    assert(per.count() > 0)
    assert(per.where(col("n_infected") <= 0).count() == 0)
  }

  test("sources: partitioned parquet round-trip with partition pruning") {
    import spark.implicits._
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val root = tmpDir() + "/part"
    Sources.writePartitioned(df, root, Seq("day"))
    val back = Sources.partitionedDataset(spark, root)
    assert(back.count() == df.count())
    val oneDay = back.where(col("day") === "2024-01-05")
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(oneDay.count() ==
      df.where(col("day") === "2024-01-05").count())
  }

  test("sources: csv round-trip with schema inference") {
    val df = Tables.nation(spark, "/root/testdata/sf0.001")
    val path = tmpDir() + "/nation_csv"
    Sources.writeCsv(df, path)
    val back = Sources.csv(spark, path)
    assert(back.count() == df.count())
    assert(back.schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("graph_modularity: hand graph (two triangles + bridge) has the textbook Q") {
    import spark.implicits._
    // triangles {1,2,3} and {7,8,9} bridged by 3-7; synchronous LPA
    // with the (count desc, label asc) tie-break converges in 3 rounds
    // to communities {1,2,3}->1 and {7,8,9}->3 (hand-traced). m=7;
    // each community: 3 internal edges, degree sum 7
    //   Q_c = 3/7 - (7/14)^2, global Q = 2 Q_c ~ 0.357142857
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 7L), (7L, 8L), (7L, 9L),
      (8L, 9L)).toDF("src", "dst")
    val rows = operators.GraphMetricsEdges.graphModularityEdges(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val qc = operators.GraphMetrics.roundHalfUp(
      3.0 / 7 - (7.0 / 14) * (7.0 / 14), 9)
    assert(rows == Set((1L, 3L, 3L, 7L, qc), (3L, 3L, 3L, 7L, qc)), rows.toString)
  }

  test("graph_modularity: fixture invariants — sum degree_sum = 2m, formula re-derives") {
    val rows = operators.GraphMetrics.graphModularity(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val m2 = rows.map(_._4).sum // Σ degree_sum = 2m
    assert(m2 % 2 == 0, s"degree sum must be even, got $m2")
    val mEdges = m2 / 2
    assert(rows.map(_._3).sum <= mEdges, "internal edges exceed |E|")
    rows.foreach { case (c, nodes, le, ds, contrib) =>
      assert(nodes > 0 && ds > 0, s"community $c degenerate")
      val expect = operators.GraphMetrics.roundHalfUp(
        le.toDouble / mEdges - (ds.toDouble / (2 * mEdges)) * (ds.toDouble / (2 * mEdges)), 9)
      assert(java.lang.Double.compare(contrib, expect) == 0,
        s"community $c contribution $contrib != re-derived $expect")
    }
    // global Q of a real community structure sits in the meaningful band
    val q = rows.map(_._5).sum
    assert(q > -0.5 && q < 1.0, s"global Q out of range: $q")
  }

  test("graph_assortativity: P4 path has the textbook r = -0.5; moments exact") {
    import spark.implicits._
    // P4 degrees (1,2,2,1); directed edge degree pairs:
    // (1,2)(2,1)(2,2)(2,2)(2,1)(1,2) -> m2=6, Σdx=10, Σdxdy=16, Σdx²=18
    // r = (16/6 - (10/6)²) / (18/6 - (10/6)²) = -0.5 (classic result)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = operators.GraphMetrics.graphAssortativityEdges(e).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((6L, 10L, 16L, 18L)), r.toString)
    assert(java.lang.Double.compare(r.getDouble(4), -0.5) == 0, r.toString)
  }

  test("graph_assortativity: fixture value in [-1, 1], moments re-derive the coefficient") {
    val r = operators.GraphMetrics
      .graphAssortativity(spark, "/root/testdata/sf0.001").collect()(0)
    val (m2, sx, sxy, sx2) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val mean = sx.toDouble / m2
    val expect = operators.GraphMetrics.roundHalfUp(
      (sxy.toDouble / m2 - mean * mean) / (sx2.toDouble / m2 - mean * mean), 9)
    assert(java.lang.Double.compare(r.getDouble(4), expect) == 0, r.toString)
    assert(r.getDouble(4) >= -1.0 && r.getDouble(4) <= 1.0, r.toString)
  }
}
