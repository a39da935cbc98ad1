package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The adaptive graph_jaccard_links kernels (r19): the dense bitset
  * matrix and the streaming wedge join must be EXACTLY interchangeable
  * — same pairs, same counts, same rounded jaccard — because the
  * density guard picks between them at runtime and the oracle only
  * ever sees one.
  */
class JaccardBitsetSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The dense kernels' input, built on the driver from the collected
    * edges (the chooser's fits route).
    */
  private def adjacency(e: DataFrame): operators.GraphMetrics.Adjacency = {
    import spark.implicits._
    val arr = e.as[(Long, Long)].collect()
    operators.GraphMetrics.driverAdjacency(operators.GraphMetrics.nodeIds(arr), arr)
  }

  private def asSet(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("bitset and wedge kernels agree exactly on the sf0.001 co-location graph") {
    val e = operators.Interactions.empiricEdges(spark, "/root/testdata/sf0.001")
    val bs = asSet(operators.GraphMetrics.jaccardLinksBitset(spark, adjacency(e)))
    val wj = asSet(operators.GraphMetrics.jaccardLinksWedge(e))
    assert(bs.nonEmpty, "fixture produced no candidate links")
    assert(bs == wj, s"kernels diverge: only-bitset=${(bs -- wj).take(3)} " +
      s"only-wedge=${(wj -- bs).take(3)}")
  }

  test("hand graph: values, edge exclusion, and hub degrees are right in both kernels") {
    import spark.implicits._
    // path 1-2-3-4 plus hub 9 connected to 1,2,3 — non-edge pairs and
    // their hand-computed jaccard:
    //   (1,3): N1={2,9} N3={2,4,9} cn=2 J=2/(2+3-2)=2/3
    //   (2,4): N2={1,3,9} N4={3}   cn=1 J=1/(3+1-1)=1/3
    //   (1,4)(4,9): no common neighbor -> absent
    //   (2,9): EDGE -> excluded even though cn=2
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 9L), (2L, 9L), (3L, 9L))
      .toDF("src", "dst")
    val expect = Set(
      (1L, 3L, 2L, math.rint(2.0 / 3 * 1e9) / 1e9),
      (2L, 4L, 1L, math.rint(1.0 / 3 * 1e9) / 1e9),
      (4L, 9L, 1L, 1.0 / 3), // N4={3} N9={1,2,3} cn=1 J=1/(1+3-1)=1/3
      (1L, 4L, 0L, 0.0)).filter(_._3 > 0L) // (1,4) cn=0: marker row, dropped
    val bs = asSet(operators.GraphMetrics.jaccardLinksBitset(spark, adjacency(e)))
    val wj = asSet(operators.GraphMetrics.jaccardLinksWedge(e))
    assert(bs == wj, s"kernels diverge on hand graph: $bs vs $wj")
    // compare pair/cn structure exactly; jaccard to 1e-9 (both kernels
    // round identically by construction, asserted by the set equality)
    assert(bs.map(t => (t._1, t._2, t._3)) == expect.map(t => (t._1, t._2, t._3)),
      bs.toString)
    bs.foreach { case (a, b, _, j) =>
      val ex = expect.find(t => t._1 == a && t._2 == b).get._4
      assert(math.abs(j - ex) < 1e-9, s"($a,$b) jaccard $j != $ex")
    }
  }

  test("adamic-adar: bitset and wedge kernels agree exactly on sf0.001; hand values check") {
    import spark.implicits._
    val e = operators.Interactions.empiricEdges(spark, "/root/testdata/sf0.001")
    val bs = asSet(operators.GraphMetrics.adamicAdarBitset(spark, adjacency(e)))
    val wj = asSet(operators.GraphMetrics.adamicAdarWedge(e))
    assert(bs.nonEmpty && bs == wj,
      s"AA kernels diverge: only-bitset=${(bs -- wj).take(3)} " +
        s"only-wedge=${(wj -- bs).take(3)}")
    // hand graph (same as the jaccard test): d(2)=d(3)=d(9)=3, so
    //   (1,3): common {2,9} -> 2/ln 3;  (2,4),(4,9): common {3} -> 1/ln 3
    val h = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 9L), (2L, 9L), (3L, 9L))
      .toDF("src", "dst")
    val hb = asSet(operators.GraphMetrics.adamicAdarBitset(spark, adjacency(h)))
    assert(hb == asSet(operators.GraphMetrics.adamicAdarWedge(h)))
    val exp = Map((1L, 3L) -> 2.0 / math.log(3), (2L, 4L) -> 1.0 / math.log(3),
      (4L, 9L) -> 1.0 / math.log(3))
    assert(hb.map(t => (t._1, t._2)) == exp.keySet, hb.toString)
    hb.foreach { case (a, b, _, aa) =>
      assert(math.abs(aa - exp((a, b))) < 1e-8, s"($a,$b) aa=$aa") }
  }

  test("triangles + clustering: bitset and wedge kernels agree exactly; hand graph counts") {
    import spark.implicits._
    val e = operators.Interactions.empiricEdges(spark, "/root/testdata/sf0.001")
    val triB = operators.GraphMetrics.nodeTrianglesBitset(spark, adjacency(e))
      .agg((sum(col("tri")) / 3).cast("long")).collect()(0).getLong(0)
    val triW = operators.GraphMetrics.trianglesWedge(e).collect()(0).getLong(0)
    assert(triB == triW && triB > 0, s"triangles: bitset=$triB wedge=$triW")
    def ccSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val cb = ccSet(operators.GraphMetrics.nodeTrianglesBitset(spark, adjacency(e))
      .select(col("node"), col("degree"), col("tri").as("triangles"))
      .withColumn("coef", when(col("degree") < 2, lit(0.0))
        .otherwise(round((lit(2) * col("triangles")).cast("double")
          / (col("degree") * (col("degree") - 1)), 9))))
    val cw = ccSet(operators.GraphMetrics.clusteringWedge(e))
    assert(cb == cw, s"clustering kernels diverge: ${(cb -- cw).take(3)} vs ${(cw -- cb).take(3)}")
    // hand graph (see jaccard test): triangles (1,2,9) and (2,3,9);
    // per-node tri 1,2,1,0,2 and coef 1.0, 2/3, 1/3, 0, 2/3
    val h = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 9L), (2L, 9L), (3L, 9L))
      .toDF("src", "dst")
    val ht = operators.GraphMetrics.nodeTrianglesBitset(spark, adjacency(h))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ht == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 3L, 1L), (4L, 1L, 0L),
      (9L, 3L, 2L)), ht.toString)
  }

  test("pagerank: kernel and relational iteration agree BIT-EXACTLY at sf0.001 and sf0.01") {
    // the r20 dense/bounded kernel's whole correctness claim is exact
    // float parity with the relational plan (and hence the oracle):
    // scaled-long contribution sums == sum_order_free's DECIMAL(28,15),
    // BigDecimal.valueOf rounding == Catalyst Round on double
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = operators.Interactions.empiricEdges(spark, sf)
      def prSet(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val k = prSet(operators.GraphMetrics.pagerankKernel(spark, adjacency(e)))
      val rel = prSet(operators.GraphMetrics.pagerankRelational(spark, e, 3))
      assert(k.nonEmpty, s"$sf produced an empty graph")
      assert(k == rel, s"$sf pagerank kernels diverge (BIT equality required): " +
        s"only-kernel=${(k -- rel).take(3)} only-relational=${(rel -- k).take(3)}")
    }
  }

  test("pagerank kernel: hand graph — hub outranks leaves, mass conserved, relational-equal") {
    import spark.implicits._
    val h = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 9L), (2L, 9L), (3L, 9L))
      .toDF("src", "dst")
    val k = operators.GraphMetrics.pagerankKernel(spark, adjacency(h))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val rel = operators.GraphMetrics.pagerankRelational(spark, h, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(k == rel, s"hand graph diverges: $k vs $rel")
    assert(math.abs(k.values.sum - 1.0) < 1e-6, s"mass drifted: ${k.values.sum}")
    // degree order: d(2)=d(3)=d(9)=3 > d(1)=2 > d(4)=1
    assert(k(2L) > k(1L) && k(9L) > k(4L) && k(1L) > k(4L), k.toString)
  }

  test("roundHalfUp reproduces Catalyst round(double, s) on boundary-adversarial inputs") {
    import spark.implicits._
    // doubles NEAR scale-12/15 rounding boundaries (the class that
    // flipped adamic_adar at sf0.1) plus a seeded random sweep
    val rnd = new scala.util.Random(42)
    val xs = (Seq(0.0, 1.0, 1.0 / 3, 2.0 / 3, 0.0000000000005, 8.0197052485e-3,
      0.1234567890125, 0.9999999999995) ++
      (1 to 500).map(_ => rnd.nextDouble())).distinct
    for (s <- Seq(9, 12, 15)) {
      val spark_ = xs.toDF("x").select(round(col("x"), s)).collect().map(_.getDouble(0))
      val kernel = xs.map(operators.GraphMetrics.roundHalfUp(_, s))
      xs.indices.foreach { i =>
        assert(java.lang.Double.compare(spark_(i), kernel(i)) == 0,
          s"scale $s diverges at x=${xs(i)}: spark=${spark_(i)} kernel=${kernel(i)}")
      }
    }
  }

  test("BFS / k-core / LPA kernels == relational loops EXACTLY at sf0.001 and sf0.01") {
    // all three are integer-exact, so set equality is the full claim
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = operators.Interactions.empiricEdges(spark, sf)
      def pairs(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bk = pairs(operators.GraphMetrics.bfsKernel(spark, adjacency(e)))
      val br = pairs(operators.GraphMetrics.bfsRelational(e))
      assert(bk.nonEmpty && bk == br, s"$sf bfs: only-kernel=${(bk -- br).take(3)} " +
        s"only-relational=${(br -- bk).take(3)}")
      val kk = pairs(operators.GraphMetrics.kcoreKernel(spark, adjacency(e)))
      val kr = pairs(operators.GraphMetrics.kcoreRelational(e))
      assert(kk == kr, s"$sf kcore: only-kernel=${(kk -- kr).take(3)} " +
        s"only-relational=${(kr -- kk).take(3)}")
      val lk = pairs(operators.GraphMetrics.lpaKernel(spark, adjacency(e)))
      val lr = pairs(operators.GraphMetrics.labelPropagationEdges(e))
      assert(lk.nonEmpty && lk == lr, s"$sf lpa: only-kernel=${(lk -- lr).take(3)} " +
        s"only-relational=${(lr -- lk).take(3)}")
      def triples(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ck = triples(operators.GraphMetrics.componentsKernel(spark, adjacency(e)))
      val cr = triples(operators.GraphMetrics.componentsRelational(e))
      assert(ck.nonEmpty && ck == cr, s"$sf components: only-kernel=${(ck -- cr).take(3)} " +
        s"only-relational=${(cr -- ck).take(3)}")
    }
  }

  test("components hand graph: 4-round min-label horizon semantics in both paths") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 (radius 5 from node 1: node 6 NOT reached by
    // round 4 — its 4-round label is 2, the recurrence's contract, not
    // the true component) plus isolated pair 10-11
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
      .toDF("src", "dst")
    val expect = Map(
      1L -> (1L, 5L), 2L -> (1L, 5L), 3L -> (1L, 5L), 4L -> (1L, 5L),
      5L -> (1L, 5L), 6L -> (2L, 1L), 10L -> (10L, 2L), 11L -> (10L, 2L))
    for (df <- Seq(operators.GraphMetrics.componentsKernel(spark, adjacency(g)),
                   operators.GraphMetrics.componentsRelational(g))) {
      val got = df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == expect, s"got $got")
    }
  }

  test("sssp: kernel == relational EXACTLY at sf0.001 and sf0.01; hand graph distances") {
    import spark.implicits._
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e0 = operators.GraphMetrics.weightedEdges(spark, sf)
      val arr = e0.as[(Long, Long, Long)].collect()
      def pairs(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sk = pairs(operators.GraphMetrics.ssspKernel(spark, arr))
      val sr = pairs(operators.GraphMetrics.ssspRelational(e0))
      assert(sk.nonEmpty && sk == sr, s"$sf sssp: only-kernel=${(sk -- sr).take(3)} " +
        s"only-relational=${(sr -- sk).take(3)}")
    }
    // seed 50 (only node ≡ 0 mod 50); path 50 -(1)- 1 -(3)- 2 -(2)- 3
    // with shortcut 50 -(3)- 2: d(50)=0, d(1)=1,
    // d(2)=min(direct 3, via 1: 1+3=4)=3, d(3)=3+2=5
    val h = Seq((50L, 1L, 1L), (1L, 2L, 3L), (2L, 3L, 2L), (50L, 2L, 3L))
    val hk = operators.GraphMetrics.ssspKernel(spark, h.toArray)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hk == Map(50L -> 0L, 1L -> 1L, 2L -> 3L, 3L -> 5L), hk.toString)
  }

  test("bfs / kcore hand graphs: depths and peeling match hand trace in both kernels") {
    import spark.implicits._
    // path 50-1-2-3 plus leaf 4 off node 1: seed only 50
    val p = Seq((50L, 1L), (1L, 2L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val bk = operators.GraphMetrics.bfsKernel(spark, adjacency(p))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val br = operators.GraphMetrics.bfsRelational(p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bk == br && bk == Map(50L -> 0L, 1L -> 1L, 2L -> 2L, 4L -> 2L, 3L -> 3L),
      s"bfs: $bk vs $br")
    // k=2 core of two triangles + a bridge + a pendant: pendant (10)
    // peels round 1; everything else survives with within-core deg 2
    val t = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 7L), (7L, 8L), (7L, 9L),
      (8L, 9L), (9L, 10L)).toDF("src", "dst")
    val kk = operators.GraphMetrics.kcoreKernel(spark, adjacency(t), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val kr = operators.GraphMetrics.kcoreRelational(t, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kk == kr, s"kcore: $kk vs $kr")
    assert(!kk.contains(10L) && kk(1L) == 2L && kk(3L) == 3L && kk(9L) == 2L
      && kk(7L) == 3L, kk.toString)
  }

  test("adaptive chooser routes the dense fixture to the bitset kernel (no wedge shuffle in plan)") {
    val df = operators.GraphMetrics.graphJaccardLinks(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan.take(800))
    assert(!plan.contains("ShuffledHashJoin"),
      "dense fixture took the wedge join:\n" + plan.take(800))
  }
}
