package graft.functions

/** Parameterized Polar Stereographic, north polar aspect with a known
  * standard parallel ("variant B") — Snyder, USGS PP 1395 pp. 160-163
  * (eqs. 21-30..21-35, 15-9 for t, 14-15 for m). The polar family is
  * the third projection class real geo catalogs arrive in (sea-ice,
  * DEM, and climate products ship in EPSG:3413/3976), next to the
  * conic (LCC) and cylindrical (UTM/WebMercator) families already
  * registered — together the three cover essentially every projected
  * catalog a pipeline ingests. Same engineering discipline as
  * [[Lcc2sp]]: instance-scoped derived constants, a fixed 8-round
  * inverse-latitude iteration (so a SQL mirror can unroll the
  * IDENTICAL op sequence), and a serializable SqlC literal bundle.
  * [[PolarStereoSouth]] realizes the south aspect as the exact
  * φ→−φ / y→−y mirror of this kernel. Both aspects are
  * [[PlanarCrs]] members that [[EpsgRegistry]] dispatches to.
  */
final class PolarStereoNorth(
    val aAxis: Double, val invFlat: Double,
    val latCDeg: Double, val lon0Deg: Double,
    val fE: Double, val fN: Double) extends PlanarCrs {

  private val A = aAxis
  private val F = 1.0 / invFlat
  private val E2 = F * (2 - F)
  private val E = math.sqrt(E2)

  private val LatC = math.toRadians(latCDeg)
  private val Lon0 = math.toRadians(lon0Deg)

  private def tFn(phi: Double): Double = {
    val s = math.sin(phi)
    math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1 - E * s) / (1 + E * s), E / 2)
  }

  private val mC = {
    val s = math.sin(LatC)
    math.cos(LatC) / math.sqrt(1 - E2 * s * s)
  }
  private val tC = tFn(LatC)
  /** ρ(φ) = aMcOverTc · t(φ): the one derived constant the whole
    * projection reduces to.
    */
  private val aMcOverTc = A * mC / tC

  def easting(lon: Double, lat: Double): Double = {
    val rho = aMcOverTc * tFn(math.toRadians(lat))
    fE + rho * math.sin(math.toRadians(lon) - Lon0)
  }

  def northing(lon: Double, lat: Double): Double = {
    val rho = aMcOverTc * tFn(math.toRadians(lat))
    fN - rho * math.cos(math.toRadians(lon) - Lon0)
  }

  def lonOf(easting: Double, northing: Double): Double = {
    val x = easting - fE
    val y = fN - northing
    math.toDegrees(Lon0 + math.atan2(x, y))
  }

  /** Fixed 8-round t⁻¹ iteration (the [[Lcc2sp.latOf]] discipline). */
  def latOf(easting: Double, northing: Double): Double = {
    val x = easting - fE
    val y = fN - northing
    val t = math.sqrt(x * x + y * y) / aMcOverTc
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

  object SqlC extends Serializable {
    val e: Double = E
    val eHalf: Double = E / 2
    val aMcTc: Double = aMcOverTc
    val lon0: Double = Lon0
    val falseE: Double = fE
    val falseN: Double = fN
    val halfPi: Double = math.Pi / 2
    val quarterPi: Double = math.Pi / 4
    val pi: Double = math.Pi
  }
}

/** South polar aspect as the EXACT mirror of the north kernel:
  * south(λ, φ) = (FE + x_N, FN − y_N) where (x_N, y_N) is the
  * zero-origin north instance at parallel |φc| evaluated at
  * (λ, −φ) — the published symmetry (Snyder pp. 161-162: the south
  * equations are the north equations under φ→−φ with the y axis
  * reversed). Every delegation op is IEEE-exact (negation, +0), so
  * the mirror introduces no drift, and the SQL template replays the
  * IDENTICAL nested op sequence.
  */
final class PolarStereoSouth(
    val aAxis: Double, val invFlat: Double,
    val latCDeg: Double, val lon0Deg: Double,
    val fE: Double, val fN: Double) extends PlanarCrs {
  require(latCDeg < 0, "south aspect needs a southern standard parallel")

  private val mirror = new PolarStereoNorth(
    aAxis, invFlat, -latCDeg, lon0Deg, 0.0, 0.0)

  def easting(lon: Double, lat: Double): Double =
    fE + mirror.easting(lon, -lat)
  def northing(lon: Double, lat: Double): Double =
    fN - mirror.northing(lon, -lat)
  def lonOf(easting: Double, northing: Double): Double =
    mirror.lonOf(easting - fE, -(northing - fN))
  def latOf(easting: Double, northing: Double): Double =
    -mirror.latOf(easting - fE, -(northing - fN))

  /** Mirror's constants plus this instance's false origin — what the
    * south SQL template splices.
    */
  object SqlC extends Serializable {
    val e: Double = mirror.SqlC.e
    val eHalf: Double = mirror.SqlC.eHalf
    val aMcTc: Double = mirror.SqlC.aMcTc
    val lon0: Double = mirror.SqlC.lon0
    val falseE: Double = fE
    val falseN: Double = fN
    val halfPi: Double = mirror.SqlC.halfPi
    val quarterPi: Double = mirror.SqlC.quarterPi
    val pi: Double = mirror.SqlC.pi
  }
}

object PolarStereoRegistry {
  /** WGS84 / NSIDC Sea Ice Polar Stereographic North (EPSG:3413):
    * standard parallel 70°N, central meridian 45°W, FE = FN = 0,
    * WGS84 ellipsoid (public EPSG registry parameters).
    */
  val Epsg3413 = new PolarStereoNorth(
    6378137.0, 298.257223563, 70.0, -45.0, 0.0, 0.0)

  /** WGS84 / NSIDC Sea Ice Polar Stereographic South (EPSG:3976):
    * standard parallel 70°S, central meridian 0°, FE = FN = 0.
    */
  val Epsg3976 = new PolarStereoSouth(
    6378137.0, 298.257223563, -70.0, 0.0, 0.0, 0.0)
}
