package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions.vec_dot
import graft.operators.{Imputation, Similarity, Spatial}
import graft.sources.Sources

/** Round-2 additions: S12 dense-matrix sink, codegen'd vec_dot parity,
  * blocked near-dup ⊆ exact, and loop-cache hygiene (VERDICT r1 #4-#8).
  */
class R2Spec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val sf = "/root/testdata/sf0.001"

  test("S12: dense-matrix text sink matches the np.savetxt golden form") {
    import spark.implicits._
    // long form with one missing cell (b,a) -> zero-filled
    val long = Seq(("a", "a", 1.0), ("a", "b", 0.25), ("b", "b", 2.0))
      .toDF("a_home", "b_home", "prob")
    val path = Files.createTempDirectory("graft-s12").toString + "/probs.txt"
    Sources.writeDenseMatrix(long, "a_home", "b_home", "prob", path)
    val got = new String(Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val want =
      "1.000000000000000000e+00 2.500000000000000000e-01\n" +
        "0.000000000000000000e+00 2.000000000000000000e+00\n"
    assert(got == want)
  }

  test("vec_dot (codegen) is bit-identical to the HOF sequential fold") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val hof = expr(
      "aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)), " +
        "transform(embedding, x -> CAST(x AS DOUBLE)), (x, y) -> x * y), " +
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    val diff = emb
      .select(vec_dot(col("embedding"), col("embedding")).as("fast"), hof.as("ref"))
      .where(col("fast") =!= col("ref"))
      .count()
    assert(diff == 0, "codegen'd dot must fold in the identical IEEE order")
  }

  test("embedding_near_dup (sign-LSH blocked) is a subset of the exact variant") {
    val blocked = Similarity.embeddingNearDup(spark, sf)
      .select("a_id", "b_id")
    val exact = Similarity.embeddingNearDupExact(spark, sf)
      .select("a_id", "b_id")
    assert(blocked.exceptAll(exact).count() == 0,
      "blocking must never invent a pair the exact form lacks")
  }

  test("LCC (EPSG:6365) forward/inverse: round-trip, origin, monotonicity") {
    import spark.implicits._
    def epsg(fn: String, a: Column, b: Column): Column =
      call_function(s"crs_epsg_$fn", lit(6365), a, b)
    // Mexico-ish grid
    val pts = (for {
      lonI <- -117 to -87 by 3
      latI <- 14 to 32 by 2
    } yield (lonI.toDouble, latI.toDouble)).toDF("lon", "lat")
    val rt = pts
      .withColumn("e", epsg("easting", col("lon"), col("lat")))
      .withColumn("n", epsg("northing", col("lon"), col("lat")))
      .withColumn("lon2", epsg("lon", col("e"), col("n")))
      .withColumn("lat2", epsg("lat", col("e"), col("n")))
      .withColumn("err",
        greatest(abs(col("lon2") - col("lon")), abs(col("lat2") - col("lat"))))
    assert(rt.agg(max(col("err"))).head().getDouble(0) < 1e-9,
      "round-trip must recover degrees to 1e-9")
    // projection origin maps to the false origin exactly
    val o = Seq((-102.0, 12.0)).toDF("lon", "lat")
      .select(epsg("easting", col("lon"), col("lat")).as("e"),
        epsg("northing", col("lon"), col("lat")).as("n"))
      .head()
    assert(math.abs(o.getDouble(0) - 2500000.0) < 1e-6)
    assert(math.abs(o.getDouble(1)) < 1e-6)
    // monotone: easting grows with lon (east of nothing special),
    // northing grows with lat
    val m = Seq((-103.0, 20.0), (-101.0, 20.0), (-102.0, 21.0)).toDF("lon", "lat")
      .select(epsg("easting", col("lon"), col("lat")).as("e"),
        epsg("northing", col("lon"), col("lat")).as("n"))
      .collect()
    assert(m(0).getDouble(0) < 2500000.0 && m(1).getDouble(0) > 2500000.0)
    assert(m(2).getDouble(1) > m(0).getDouble(1))
  }

  test("SelfJoinShuffleRule: identical-subtree self-join never broadcasts") {
    val agg = Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val j = agg.select(col("event_type").as("ta"), col("n").as("na"))
      .join(agg.select(col("event_type").as("tb"), col("n").as("nb")),
        col("na") === col("nb"))
    j.collect()
    val physical = j.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastHashJoin"),
      s"self-join of identical aggregate subtree must stay a shuffle join:\n$physical")
    // a genuinely-different-subtree join is left alone (no hint applied)
    val other = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val logical = agg.select(col("n").as("na"))
      .join(other.select(col("n").as("nb")), col("na") === col("nb"))
      .queryExecution.optimizedPlan.toString
    assert(!logical.contains("NO_BROADCAST_HASH"),
      s"rule must not touch non-self joins:\n$logical")
  }

  test("approx percentile sketch tracks the exact percentiles") {
    import graft.operators.Analytics
    // the query now outputs its own rank-error verdict (r7 band
    // oracle); the spec asserts every band holds AND cross-checks the
    // raw sketch values against exact percentiles the old way
    val verdicts = Analytics.percentileApproxSketch(spark, sf)
    val badBands = verdicts.where(
      !col("lo_ok_50") || !col("hi_ok_50") || !col("lo_ok_90") ||
      !col("hi_ok_90") || !col("lo_ok_99") || !col("hi_ok_99")).count()
    assert(badBands == 0, "every rank-error band must hold")
    val approx = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(l_quantity, 0.9, 1000)").as("ap90"))
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("e50"),
        expr("percentile(l_quantity, 0.9)").as("e90"))
    val bad = approx.join(exact, Seq("l_returnflag"))
      // l_quantity spans 1..50; accuracy 1000 => rank error ~0.1% =>
      // a couple of quantity units of slack is generous
      .where(abs(col("ap50") - col("e50")) > 2 || abs(col("ap90") - col("e90")) > 2)
      .count()
    assert(bad == 0, "sketch quantiles must track exact within tolerance")
  }

  test("star connected components: chain + triangle + pair, vs min-label") {
    import spark.implicits._
    import graft.operators.Clustering
    // chain 10-11-...-19 (diameter 9), triangle 30-31-32, pair 50-51
    val chain = (10L until 19L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((30L, 31L), (31L, 32L), (30L, 32L), (50L, 51L)))
      .toDF("src", "dst")
    val star = Clustering.connectedComponentsStar(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected =
      (10L to 19L).map(_ -> 10L).toMap ++
        (30L to 32L).map(_ -> 30L).toMap ++ Map(50L -> 50L, 51L -> 50L)
    assert(star == expected, s"star CC wrong: $star")
    val prop = Clustering.minLabelPropagation(edges, maxRounds = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prop == expected, s"min-label CC wrong: $prop")
  }

  test("native as-of join plans AsOfJoinExec and matches the composed form") {
    import graft.operators.Temporal
    val native = Temporal.asofJoinNative(spark, sf)
    val physical = native.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix: the node prints "AsOfJoin"
    assert(physical.contains("AsOfJoin "),
      s"marked join must plan through the custom operator:\n$physical")
    val composed = Temporal.asofJoin(spark, sf)
    assert(native.exceptAll(composed).count() == 0
      && composed.exceptAll(native).count() == 0,
      "native and composed as-of joins must agree row-for-row")
  }

  test("iterative imputers leave no cached intermediates behind") {
    def live(): Int = spark.sparkContext.getPersistentRDDs.size
    // settle: evict anything other suites left behind
    val before = live()

    val kring = Spatial.imputeByKRing(spark, sf)
    kring.count()
    assert(live() <= before + 1,
      s"imputeByKRing leaked: $before -> ${live()} persisted RDDs")
    kring.unpersist(blocking = true)

    val fix = Imputation.imputeFixpoint(spark, sf)
    fix.count()
    assert(live() <= before + 1,
      s"imputeFixpoint leaked: $before -> ${live()} persisted RDDs")
    fix.unpersist(blocking = true)
    assert(live() <= before)
  }
}
