package graft

import org.apache.spark.sql.functions.{call_function, col, floor, lit, when}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** EPSG dispatch (r9): the registry must be a pure TABLE over the
  * existing kernels — bit-exact delegation per family, the published
  * UTM hemisphere conventions, plan-time rejection of unknown codes,
  * and round-trip convergence through the uniform surface for every
  * covered family member.
  */
class EpsgDispatchSpec extends AnyFunSuite {

  test("dispatch delegates bit-exactly to the family kernels") {
    // conic and polar codes resolve to the registered kernel instances
    assert(EpsgRegistry.resolve(6365) eq CrsRegistry.Epsg6365)
    assert(EpsgRegistry.resolve(3347) eq CrsRegistry.Epsg3347)
    assert(EpsgRegistry.resolve(3413) eq PolarStereoRegistry.Epsg3413)
    assert(EpsgRegistry.resolve(3976) eq PolarStereoRegistry.Epsg3976)
    // cylindrical: UTM north == the zone helpers, FN = 0
    val utm14 = EpsgRegistry.resolve(32614)
    assert(utm14.easting(-99.0, 19.4) == TmHelpers.utmEasting(-99.0, 19.4, 14))
    assert(utm14.northing(-99.0, 19.4) == TmHelpers.utmNorthing(-99.0, 19.4, 14))
    // web mercator
    val wm = EpsgRegistry.resolve(3857)
    assert(wm.easting(13.4, 52.5) == TmHelpers.webmercX(13.4))
    assert(wm.northing(13.4, 52.5) == TmHelpers.webmercY(52.5))
  }

  test("UTM south hemisphere: the 10,000,000 m false northing convention") {
    val utm23s = EpsgRegistry.resolve(32723)
    // Rio de Janeiro (~43.2W, 22.9S): published UTM 23S northing is
    // ~7,460,000 m — i.e. POSITIVE and below 1e7 (southern points
    // count down from the false northing)
    val n = utm23s.northing(-43.2, -22.9)
    assert(n > 7.4e6 && n < 7.5e6, s"UTM 23S northing $n")
    // exactly the north formula plus FN
    assert(n == 1.0e7 + TmHelpers.utmNorthing(-43.2, -22.9, 23))
    // inverse recovers the southern latitude from the shifted northing
    val e = utm23s.easting(-43.2, -22.9)
    assert(math.abs(utm23s.latOf(e, n) - (-22.9)) < 1e-6)
    assert(math.abs(utm23s.lonOf(e, n) - (-43.2)) < 1e-6)
  }

  test("round-trip convergence through the uniform surface, every family") {
    val cases = Seq(
      6365 -> (-99.1, 19.43), 3347 -> (-106.3, 52.1),
      3413 -> (-20.0, 75.0), 3976 -> (140.0, -77.5),
      32614 -> (-99.0, 19.4), 32723 -> (-43.2, -22.9),
      3857 -> (2.35, 48.86))
    for ((code, (lon, lat)) <- cases) {
      val p = EpsgRegistry.resolve(code)
      val (e, n) = (p.easting(lon, lat), p.northing(lon, lat))
      assert(math.abs(p.lonOf(e, n) - lon) < 1e-6, s"EPSG:$code lon")
      assert(math.abs(p.latOf(e, n) - lat) < 1e-6, s"EPSG:$code lat")
    }
  }

  test("unknown codes are rejected at resolution (and at analysis time)") {
    intercept[IllegalArgumentException](EpsgRegistry.resolve(4326)) // geographic, not planar
    intercept[IllegalArgumentException](EpsgRegistry.resolve(32661)) // UPS, not UTM
    intercept[IllegalArgumentException](EpsgRegistry.resolve(0))
    assert(!EpsgRegistry.covered(99999))
    assert(EpsgRegistry.covered(32601) && EpsgRegistry.covered(32760))
    // through the expression surface: a bad literal fails analysis
    val spark = Sessions.build("epsg-spec", "2")
    import spark.implicits._
    val df = Seq((1.0, 2.0)).toDF("lon", "lat")
    intercept[Exception] {
      df.selectExpr("crs_epsg_easting(9999, lon, lat)").collect()
    }
    // and a non-literal code fails analysis too (plan-time dispatch only)
    intercept[Exception] {
      df.selectExpr("crs_epsg_easting(CAST(lon AS INT), lon, lat)").collect()
    }
  }

  test("crs_epsg_* return the kernel's doubles, codegen'd and interpreted") {
    // (lon0, lat0, dLon, dLat) of a 5 x 5 grid inside each code's domain
    val grids = Seq(
      6365 -> (-110.0, 15.0, 5.5, 4.0), 3347 -> (-120.0, 46.0, 15.0, 7.0),
      3413 -> (-180.0, 60.0, 90.0, 6.0), 3976 -> (-180.0, -85.0, 90.0, 6.0),
      32614 -> (-102.0, 14.0, 1.5, 3.75), 32723 -> (-48.0, -25.0, 1.5, 5.0),
      3857 -> (-149.95, -69.95, 75.0, 35.0))
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val base = Sessions.build("epsg-spec", "2")
    for (codegen <- Seq(true, false)) {
      // a child session, so the codegen confs stay out of the shared one
      val s = base.newSession()
      s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      s.conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      s.conf.set("spark.sql.codegen.fallback", "false")
      for ((code, (lon0, lat0, dLon, dLat)) <- grids) {
        val p = EpsgRegistry.resolve(code)
        def f(fn: String, a: String, b: String) =
          call_function(s"crs_epsg_$fn", lit(code), col(a), col(b))
        // row 25 has a null lat: every output must be null
        val df = s.range(0, 26)
          .select(col("id"),
            (lit(lon0) + (col("id") % 5).cast("double") * dLon).as("lon"),
            when(col("id") < 25,
              lit(lat0) + floor(col("id") / 5).cast("double") * dLat).as("lat"))
          .select(col("id"), col("lon"), col("lat"),
            f("easting", "lon", "lat").as("e"), f("northing", "lon", "lat").as("n"))
          .select(col("id"), col("lon"), col("lat"), col("e"), col("n"),
            f("lon", "e", "n").as("lon2"), f("lat", "e", "n").as("lat2"))
        val wholeStage = df.queryExecution.executedPlan
          .collect { case w: WholeStageCodegenExec => w }.nonEmpty
        assert(wholeStage == codegen, s"EPSG:$code codegen=$codegen plan")
        val rows = df.orderBy("id").collect()
        assert(rows.length == 26)
        val where = s"EPSG:$code codegen=$codegen"
        for (r <- rows.take(25)) {
          val (lon, lat, e, n) =
            (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
          assert(bits(e) == bits(p.easting(lon, lat)), s"$where easting($lon, $lat)")
          assert(bits(n) == bits(p.northing(lon, lat)), s"$where northing($lon, $lat)")
          assert(bits(r.getDouble(5)) == bits(p.lonOf(e, n)), s"$where lon($e, $n)")
          assert(bits(r.getDouble(6)) == bits(p.latOf(e, n)), s"$where lat($e, $n)")
        }
        assert((2 to 6).forall(rows(25).isNullAt), s"$where null lat")
      }
    }
  }
}
