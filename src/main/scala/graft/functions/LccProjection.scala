package graft.functions

/** Lambert Conformal Conic 2SP over arbitrary published parameter sets
  * (F20). The reference re-projects its catalog CRS, EPSG:6365 "Mexico
  * ITRF2008 / LCC", to geographic with geopandas before every spatial
  * join (RadiusOfGyrationHandler.py:73-85, FactPingsBaseGenerator.py:
  * 60-129); here that is `crs_epsg_lon/lat(6365, e, n)` through
  * [[EpsgRegistry]], run once per catalog row, never per ping.
  *
  * Math: Snyder, "Map Projections — A Working Manual" (USGS PP 1395),
  * pp. 107-109, with instance-scoped derived constants and a
  * per-instance [[Lcc2sp.SqlC]] bundle so a DuckDB mirror can replay
  * any instance with spliced literals (the crs_reproject oracle hash
  * depends on the exact expression order).
  */
final class Lcc2sp(
    val aAxis: Double, val invFlat: Double,
    val lat0Deg: Double, val lon0Deg: Double,
    val lat1Deg: Double, val lat2Deg: Double,
    val fE: Double, val fN: Double) extends PlanarCrs {

  private val A = aAxis
  private val F = 1.0 / invFlat
  private val E2 = F * (2 - F)
  private val E = math.sqrt(E2)

  private val Lat0 = math.toRadians(lat0Deg)
  private val Lon0 = math.toRadians(lon0Deg)
  private val Lat1 = math.toRadians(lat1Deg)
  private val Lat2 = math.toRadians(lat2Deg)

  private def mFn(phi: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1 - E2 * s * s)
  }

  private def tFn(phi: Double): Double = {
    val s = math.sin(phi)
    math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1 - E * s) / (1 + E * s), E / 2)
  }

  private val m1 = mFn(Lat1)
  private val m2 = mFn(Lat2)
  private val t0 = tFn(Lat0)
  private val t1 = tFn(Lat1)
  private val t2 = tFn(Lat2)
  private val n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
  private val bigF = m1 / (n * math.pow(t1, n))
  private val rho0 = A * bigF * math.pow(t0, n)

  /** Forward: geographic degrees → projected easting (m). */
  def easting(lon: Double, lat: Double): Double = {
    val rho = A * bigF * math.pow(tFn(math.toRadians(lat)), n)
    val theta = n * (math.toRadians(lon) - Lon0)
    fE + rho * math.sin(theta)
  }

  /** Forward: geographic degrees → projected northing (m). */
  def northing(lon: Double, lat: Double): Double = {
    val rho = A * bigF * math.pow(tFn(math.toRadians(lat)), n)
    val theta = n * (math.toRadians(lon) - Lon0)
    fN + rho0 - rho * math.cos(theta)
  }

  /** Inverse: projected (m) → longitude degrees. */
  def lonOf(easting: Double, northing: Double): Double = {
    val x = easting - fE
    val y = rho0 - (northing - fN)
    val theta = math.atan2(x, y) // n > 0 for the registered instances
    math.toDegrees(theta / n + Lon0)
  }

  /** Inverse: projected (m) → latitude degrees — the fixed 8-round
    * t⁻¹ iteration (fixed so the SQL mirror can unroll the identical
    * op sequence).
    */
  def latOf(easting: Double, northing: Double): Double = {
    val x = easting - fE
    val y = rho0 - (northing - fN)
    val rho = math.sqrt(x * x + y * y) * (if (n < 0) -1 else 1)
    val t = math.pow(rho / (A * bigF), 1 / n)
    var phi = math.Pi / 2 - 2 * math.atan(t)
    var i = 0
    while (i < 8) {
      val s = math.sin(phi)
      phi = math.Pi / 2 - 2 * math.atan(
        t * math.pow((1 - E * s) / (1 + E * s), E / 2))
      i += 1
    }
    math.toDegrees(phi)
  }

  /** Per-instance constants for a SQL mirror (spliced as literals).
    * Serializable: once touched (the oracle builder runs at object
    * init) the module is an instance FIELD, and the expressions ship
    * the whole instance to executors — a non-serializable inner
    * object would fail task serialization.
    */
  object SqlC extends Serializable {
    val e: Double = E
    val eHalf: Double = E / 2
    val nConst: Double = n
    val invN: Double = 1 / n
    val aBigF: Double = A * bigF
    val rho0C: Double = rho0
    val lon0: Double = Lon0
    val falseE: Double = fE
    val falseN: Double = fN
    val halfPi: Double = math.Pi / 2
    val quarterPi: Double = math.Pi / 4
    val pi: Double = math.Pi
  }
}

/** Named LCC instances with parameters from the public EPSG registry.
  * Adding a CRS is one line here plus its code in
  * [[EpsgRegistry.resolve]]; the SQL-mirror builder is parameter-driven.
  */
object CrsRegistry {
  /** Mexico ITRF2008 / LCC (the reference's catalog CRS). */
  val Epsg6365 = new Lcc2sp(6378137.0, 298.257222101,
    12.0, -102.0, 17.5, 29.5, 2500000.0, 0.0)

  /** NAD83 / Statistics Canada Lambert (EPSG:3347): lat0 63°23'26.43",
    * lon0 91°52'W, standard parallels 49°/77°, FE 6 200 000 m,
    * FN 3 000 000 m on GRS80.
    */
  val Epsg3347 = new Lcc2sp(6378137.0, 298.257222101,
    63.390675, -91.86666666666667, 49.0, 77.0, 6200000.0, 3000000.0)
}
