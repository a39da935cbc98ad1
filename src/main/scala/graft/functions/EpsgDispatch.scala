package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** EPSG-code → projection-kernel dispatch (r9): the engine's one CRS
  * projection surface. The reference re-projects ANY CRS through
  * geopandas (`to_crs("EPSG:4326")`, RadiusOfGyrationHandler.py:73-85);
  * the engine has parameterized kernels for all three projection
  * families real catalogs arrive in — conic ([[Lcc2sp]]), cylindrical
  * ([[TmHelpers]] UTM/WebMercator), polar
  * ([[PolarStereoNorth]]/[[PolarStereoSouth]]). [[EpsgRegistry.resolve]]
  * maps the common published codes onto those kernels behind ONE
  * uniform (lon,lat)↔(e,n) surface, and the `crs_epsg_*` expression
  * family resolves the code ONCE at plan time (foldable-literal first
  * argument), so per-row work is one codegen'd call into the kernel
  * object. Every CRS query in operators.Spatial projects through it.
  *
  * Covered codes (all parameters from the public EPSG registry):
  *   - 6365  Mexico ITRF2008 / LCC (the reference's catalog CRS)
  *   - 3347  NAD83 / Statistics Canada Lambert
  *   - 3413  WGS84 / NSIDC Sea Ice Polar Stereographic North
  *   - 3976  WGS84 / NSIDC Sea Ice Polar Stereographic South
  *   - 3857  WGS84 / Web Mercator (Pseudo-Mercator)
  *   - 32601–32660  WGS84 / UTM zone 1N–60N
  *   - 32701–32760  WGS84 / UTM zone 1S–60S (FN 10 000 000 m)
  *
  * Scale shape: dispatch is a plan-time table lookup; the resolved
  * kernel rides into codegen as a reference object. Projection stays
  * a catalog-side, per-row scalar — never a join, never a shuffle.
  */
trait PlanarCrs extends Serializable {
  def easting(lon: Double, lat: Double): Double
  def northing(lon: Double, lat: Double): Double
  def lonOf(easting: Double, northing: Double): Double
  def latOf(easting: Double, northing: Double): Double
}

/** Cylindrical family member: WGS84 UTM zone, either hemisphere.
  * The south convention is the north formula plus the published
  * 10 000 000 m false northing — an IEEE-exact add/subtract, so the
  * south kernel introduces no drift over the shared Snyder series.
  */
final class UtmPlanar(val zone: Int, val south: Boolean) extends PlanarCrs {
  require(zone >= 1 && zone <= 60, s"UTM zone out of range: $zone")
  private val fN = if (south) 1.0e7 else 0.0
  def easting(lon: Double, lat: Double): Double =
    TmHelpers.utmEasting(lon, lat, zone)
  def northing(lon: Double, lat: Double): Double =
    fN + TmHelpers.utmNorthing(lon, lat, zone)
  def lonOf(e: Double, n: Double): Double = TmHelpers.utmLon(e, n - fN, zone)
  def latOf(e: Double, n: Double): Double = TmHelpers.utmLat(e, n - fN, zone)
}

/** Web Mercator (EPSG:3857). */
object WebMercPlanar extends PlanarCrs {
  def easting(lon: Double, lat: Double): Double = TmHelpers.webmercX(lon)
  def northing(lon: Double, lat: Double): Double = TmHelpers.webmercY(lat)
  def lonOf(e: Double, n: Double): Double = TmHelpers.webmercLon(e)
  def latOf(e: Double, n: Double): Double = TmHelpers.webmercLat(n)
}

object EpsgRegistry {
  /** Plan-time dispatch: code → kernel. Throws IllegalArgumentException
    * with the covered families for an unknown code (surfaces as an
    * analysis-time TypeCheckFailure through the expressions below, so
    * a typo'd code never reaches execution).
    */
  def resolve(code: Int): PlanarCrs = code match {
    case 6365 => CrsRegistry.Epsg6365
    case 3347 => CrsRegistry.Epsg3347
    case 3413 => PolarStereoRegistry.Epsg3413
    case 3976 => PolarStereoRegistry.Epsg3976
    case 3857 => WebMercPlanar
    case z if z >= 32601 && z <= 32660 => new UtmPlanar(z - 32600, south = false)
    case z if z >= 32701 && z <= 32760 => new UtmPlanar(z - 32700, south = true)
    case _ => throw new IllegalArgumentException(
      s"EPSG:$code is not registered (covered: 6365, 3347, 3413, 3976, " +
        "3857, 32601-32660, 32701-32760)")
  }

  def covered(code: Int): Boolean =
    try { resolve(code); true }
    catch { case _: IllegalArgumentException => false }
}

/** (epsg-code-literal, a, b) → double: code resolves at construction,
  * the kernel binds into codegen as a reference object.
  */
abstract class EpsgCrsExpr extends TernaryExpression {
  def first: Expression
  def second: Expression
  def third: Expression
  def call: String
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    if (!(first.dataType == IntegerType && first.foldable))
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a literal INT EPSG code as its first argument")
    val code = first.eval()
    if (code == null)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName: EPSG code must be non-null")
    if (!EpsgRegistry.covered(code.asInstanceOf[Number].intValue()))
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName: EPSG:$code is not registered (covered: 6365, 3347, " +
          "3413, 3976, 3857, 32601-32660, 32701-32760)")
    if (second.dataType == DoubleType && third.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (int, double, double)")
  }
  protected lazy val proj: PlanarCrs =
    EpsgRegistry.resolve(first.eval().asInstanceOf[Number].intValue())
  def evalD(p: PlanarCrs, a: Double, b: Double): Double
  override def nullSafeEval(c: Any, a: Any, b: Any): Any =
    evalD(proj, a.asInstanceOf[Double], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("epsgProj", proj, classOf[PlanarCrs].getName)
    nullSafeCodeGen(ctx, ev, (_, a, b) =>
      s"${ev.value} = $ref.$call($a, $b);")
  }
}

case class EpsgEastingExpr(first: Expression, second: Expression, third: Expression)
    extends EpsgCrsExpr {
  override def call: String = "easting"
  override def prettyName: String = "crs_epsg_easting"
  override def evalD(p: PlanarCrs, lon: Double, lat: Double): Double =
    p.easting(lon, lat)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

case class EpsgNorthingExpr(first: Expression, second: Expression, third: Expression)
    extends EpsgCrsExpr {
  override def call: String = "northing"
  override def prettyName: String = "crs_epsg_northing"
  override def evalD(p: PlanarCrs, lon: Double, lat: Double): Double =
    p.northing(lon, lat)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

case class EpsgLonExpr(first: Expression, second: Expression, third: Expression)
    extends EpsgCrsExpr {
  override def call: String = "lonOf"
  override def prettyName: String = "crs_epsg_lon"
  override def evalD(p: PlanarCrs, e: Double, n: Double): Double =
    p.lonOf(e, n)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

case class EpsgLatExpr(first: Expression, second: Expression, third: Expression)
    extends EpsgCrsExpr {
  override def call: String = "latOf"
  override def prettyName: String = "crs_epsg_lat"
  override def evalD(p: PlanarCrs, e: Double, n: Double): Double =
    p.latOf(e, n)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}
