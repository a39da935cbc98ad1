package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.H3Core

/** Round-13 verifications.
  *
  * h3_rg is one of the rows-only queries (true-H3 cells are outside
  * DuckDB's vocabulary), so its end-to-end pipeline — distinct visits,
  * string-min home cell, grid-distance radii, the rg fold — had no
  * independent check beyond the golden-vector specs of the underlying
  * H3 primitives. This spec recomputes the ENTIRE query driver-side
  * from the raw events parquet with direct H3Core calls (no Spark
  * expressions, no distributed plan) and demands value-exact equality:
  * the distributed dedup/join/agg plumbing must reproduce the
  * sequential reference bit-for-bit (sum of squared longs is exact, so
  * the one double division + sqrt is a fixed IEEE sequence on both
  * sides).
  */
class R13Spec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("h3_rg equals the driver-side H3Core reference model (sf0.001)") {
    // the cell-level library form (the registered query is its
    // anchor+verdict projection — r8 scorecard conversion)
    val got = operators.Spatial.h3Rg(spark, sf)
      .select(col("caid"), col("home_cell"), col("n"), col("rg"),
        col("ring1_size"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3), r.getInt(4))))
      .toMap

    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("value"), col("event_id")).collect()
    // mirror the query's coordinate derivation exactly (Spark % is
    // Java % on doubles/longs)
    val visits: Set[(Long, String)] = ev.iterator.map { r =>
      val lat = (r.getDouble(1) % 120.0) - 60.0
      val lon = (r.getLong(2) % 3600).toDouble / 10.0 - 180.0
      (r.getLong(0), H3Core.h3ToString(H3Core.latLngToCell(lat, lon, 7)))
    }.toSet
    val expected = visits.groupBy(_._1).map { case (caid, vs) =>
      val cells = vs.map(_._2)
      // Spark MIN over StringType is binary order == String.compareTo
      // for the lowercase-hex cell ids
      val home = cells.min
      val homeH = H3Core.stringToH3(home)
      val ds = cells.toSeq
        .map(c => H3Core.gridDistance(H3Core.stringToH3(c), homeH))
        .filter(_ >= 0)
      val sumR2 = ds.map(d => d * d).sum // exact long fold
      val rg = math.sqrt(sumR2.toDouble / ds.size)
      caid -> ((home, ds.size.toLong, rg, H3Core.gridDisk(homeH, 1).length))
    }

    assert(got.keySet == expected.keySet, "caid sets must agree")
    expected.foreach { case (caid, (home, n, rg, ring1)) =>
      val (gHome, gN, gRg, gRing1) = got(caid)
      assert(gHome == home, s"home cell mismatch for caid=$caid")
      assert(gN == n, s"visit count mismatch for caid=$caid")
      assert(gRg == rg, s"rg mismatch for caid=$caid: $gRg vs $rg")
      assert(gRing1 == ring1, s"ring1_size mismatch for caid=$caid")
    }
  }

  test("ks_test support guard trips on an unbounded-domain column") {
    import spark.implicits._
    import graft.operators.Analytics
    // every n_chars value distinct → support == corpus size, over the
    // 1M bounded-domain contract: the guard must raise, not silently
    // run a corpus-sized single-partition window
    val dir = java.nio.file.Files.createTempDirectory("ksguard").toString
    spark.range(graft.operators.Stats.MaxWindowSupport + 1)
      .select(col("id").as("doc_id"), lit("x").as("text"),
        lit("en").as("lang"),
        when(col("id") % 2 === 0, "src0").otherwise("src1").as("source"),
        col("id").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      Analytics.ksTest(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("bounded-domain")),
      s"expected the support guard to trip, got: $e")
  }

  test("RangeRank grouped/major variants equal window ranks on heavy-tie data") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.RangeRank
    // 20k rows, 7 groups, 97 distinct keys (heavy ties), unique ids —
    // the shapes the fixtures don't stress: many buckets sharing a
    // tied key, offsets spanning groups and majors
    val df = spark.range(20000).select(
      (col("id") % 7).cast("string").as("g"),
      pmod(col("id") * 2654435761L, lit(97)).as("k"),
      col("id"))
    val grouped = RangeRank.withRankAscGrouped(df, Seq("g"), "k",
      Seq(col("id").asc), "rnk", buckets = 16)
    val wG = Window.partitionBy(col("g")).orderBy(col("k").asc, col("id").asc)
    val badG = grouped
      .withColumn("exp", row_number().over(wG).cast("long"))
      .where(col("rnk") =!= col("exp")).count()
    assert(badG == 0, "grouped RangeRank must equal the per-group window rank")

    val major = RangeRank.withRankMajorDesc(df, "k", "id", "r", buckets = 16)
    val wM = Window.orderBy(col("k").desc, col("id").asc)
    val badM = major
      .withColumn("exp", row_number().over(wM).cast("long"))
      .where(col("r") =!= col("exp")).count()
    assert(badM == 0, "major-desc RangeRank must equal the global window rank")

    // exclusive running max (skyline sweep) on a tie-free key
    val pts = spark.range(5000).select(
      pmod(col("id") * 2654435761L, lit(100003)).cast("double").as("x"),
      pmod(col("id") * 40503L, lit(997)).as("y"))
      .groupBy(col("x")).agg(max(col("y")).as("y"))
    val got = RangeRank.withRunningMaxDescExclusive(pts, "x", col("y"),
      "m", buckets = 16)
    val wX = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val badX = got
      .withColumn("exp", max(col("y")).over(wX))
      .where(!(col("m") <=> col("exp"))).count()
    assert(badX == 0, "exclusive running max must equal the window spelling")
  }

  test("boundedFrameStage equals global frames when buckets are smaller than the lookback") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.RangeRank
    // 400 rows / 3 groups / 64 buckets → ~2 rows per (group, bucket),
    // far below lookback 20: every carry prefix must span MANY earlier
    // buckets (the chaining case the candidate-union argument covers)
    val df = spark.range(400).select(
      (col("id") % 3).cast("string").as("g"),
      col("id").as("k"),
      pmod(col("id") * 40503L, lit(977)).as("v"))
    val (staged, wb) = RangeRank.boundedFrameStage(df, Seq("g"), "k", "k",
      lookback = 20)
    val w = wb.rowsBetween(-20, -1)
    val got = staged
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .where(!col("__rr_carry"))
      .select(col("g"), col("k"), col("s"), col("n"))
    val wg = Window.partitionBy(col("g")).orderBy(col("k").asc)
      .rowsBetween(-20, -1)
    val exp = df
      .withColumn("se", sum(col("v")).over(wg))
      .withColumn("ne", count(lit(1)).over(wg))
      .select(col("g"), col("k"), col("se"), col("ne"))
    val bad = got.join(exp, Seq("g", "k"))
      .where(!(col("s") <=> col("se")) || col("n") =!= col("ne")).count()
    assert(bad == 0, "bucketed frames must equal the global window frames")
    assert(got.count() == 400, "every input row must be emitted exactly once")
  }

  test("UTM / Web Mercator: round-trip, goldens, invariants") {
    import graft.functions.TmHelpers
    // central meridian of zone 14 (lon0 = -99): easting is exactly the
    // false easting, northing 0 at the equator
    assert(TmHelpers.utmEasting(-99.0, 20.0, 14) == 500000.0)
    assert(math.abs(TmHelpers.utmNorthing(-99.0, 0.0, 14)) < 1e-9)
    // meridian arc at 45N times k0 — coarse published-range check
    val n45 = TmHelpers.utmNorthing(-99.0, 45.0, 14)
    assert(n45 > 4.9e6 && n45 < 5.05e6, s"N(45) out of range: $n45")
    // easting strictly increases with longitude
    assert(TmHelpers.utmEasting(-98.0, 20.0, 14) >
      TmHelpers.utmEasting(-100.0, 20.0, 14))
    // round-trip over a grid spanning the zone: < 1e-7 deg (~1 cm)
    for (lon <- Seq(-101.5, -99.7, -96.2); lat <- Seq(14.2, 22.9, 28.9)) {
      val e = TmHelpers.utmEasting(lon, lat, 14)
      val n = TmHelpers.utmNorthing(lon, lat, 14)
      assert(math.abs(TmHelpers.utmLon(e, n, 14) - lon) < 1e-7,
        s"lon round-trip at ($lon, $lat)")
      assert(math.abs(TmHelpers.utmLat(e, n, 14) - lat) < 1e-7,
        s"lat round-trip at ($lon, $lat)")
    }
    // Web Mercator goldens: the square world — x(180°) = y(~85.0511°)
    // = pi * R = 20037508.34 m (published EPSG:3857 bound)
    assert(math.abs(TmHelpers.webmercX(180.0) - 20037508.342789244) < 1e-6)
    assert(math.abs(TmHelpers.webmercY(85.05112877980659) - 20037508.342789244) < 1e-3)
    // tan(pi/4) is one ulp off 1.0 in IEEE — equator y is ~1e-10 m
    assert(math.abs(TmHelpers.webmercY(0.0)) < 1e-8)
    for (lon <- Seq(-102.3, 3.7); lat <- Seq(-40.0, 19.43))
      assert(math.abs(TmHelpers.webmercLon(TmHelpers.webmercX(lon)) - lon) < 1e-12 &&
        math.abs(TmHelpers.webmercLat(TmHelpers.webmercY(lat)) - lat) < 1e-12)
  }

  test("parameterized LCC: EPSG:3347 invariants") {
    import graft.functions.CrsRegistry
    // central-meridian easting is the false easting,
    // lat0 northing is the false northing, round-trip < 1e-7 deg
    val ca = CrsRegistry.Epsg3347
    assert(math.abs(ca.easting(ca.lon0Deg, 60.0) - ca.fE) < 1e-6)
    assert(math.abs(ca.northing(ca.lon0Deg, ca.lat0Deg) - ca.fN) < 1e-6)
    for (lon <- Seq(-118.7, -95.0, -70.1); lat <- Seq(47.2, 61.8, 74.3)) {
      val e = ca.easting(lon, lat)
      val n = ca.northing(lon, lat)
      assert(math.abs(ca.lonOf(e, n) - lon) < 1e-7, s"lon rt at ($lon,$lat)")
      assert(math.abs(ca.latOf(e, n) - lat) < 1e-7, s"lat rt at ($lon,$lat)")
    }
  }

  test("observed_contacts: fused spelling equals the two-join spelling") {
    import graft.operators.{Interactions, InteractionsReference}
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // sf0.01 exercises multi-partition groups and the matrix mirror
    val dir = "/root/testdata/sf0.01"
    val joined = m(InteractionsReference.observedContactsJoined(spark, dir))
    val fused = m(Interactions.observedContacts(spark, dir))
    assert(fused == joined,
      s"fused and joined spellings must agree (|j|=${joined.size}, |f|=${fused.size})")
  }
}
