package graft.functions

/** Clean-room implementation of the published H3 cell-indexing
  * algorithm (h3geo.org spec; the reference pipelines index pings with
  * it — /root/reference/src/transforms/NTLTransforms.py:71-72
  * geo_to_h3 at res 12/15, h3_to_parent at :73). Produces bit-exact H3
  * cell ids: gnomonic projection onto the H3-oriented icosahedron,
  * aperture-7 digit generation, base-cell assignment and canonical
  * rotation, pentagon deleted-K-axis adjustment.
  *
  * Published constants carried: the 20 face centers and face i-axis
  * azimuths, and the 122-entry base-cell table (home face+ijk,
  * pentagon flags, pentagon cw-offset faces). The (face,ijk)→(base
  * cell, rotation) lookup h3lib tabulates is DERIVED here at first use
  * from those constants: base cells by nearest-center matching with
  * unambiguity margins, rotations by seam voting — canonical indices
  * of perturbation-stable points near the two faces' region boundary
  * (where fold drift vanishes) must agree between the frames, BFS-
  * propagated from each home face across the entry faces with an 80%
  * supermajority demanded per link. A transcription error in any
  * constant fails loudly at derivation, not silently at query time.
  *
  * Scope: cell indexing (latLngToCell), parent truncation, accessors,
  * string round-trip, and — since r10 — true-H3 neighbor traversal
  * (gridDistance/gridDisk), cellToBoundary, polyfill and compact in
  * this object. [[HexGrid]] remains the SQL-oracle-expressible flat
  * hex twin used by the `hex_*` query family.
  *
  * Validation: golden vectors from the public H3 docs (San Francisco
  * res-9 cell + its res-8 parent, the 12 res-0 pentagons) plus global
  * structural properties — see H3Spec.
  */
object H3Core {

  private val Pi2 = 2.0 * math.Pi
  private val Eps = 1e-16
  private val Sqrt7 = 2.6457513110645905905016157536392604257102
  /** res-0 unit length to gnomonic unit length (published constant). */
  private val Res0UGnomonic = 0.38196601125010500003
  /** rotation between Class II and Class III grids: asin(sqrt(3/28)). */
  private val Ap7Rot = math.asin(math.sqrt(3.0 / 28.0))
  private val Sin60 = math.sqrt(3.0) / 2.0

  // ------------------------------------------------------------------
  // published icosahedron geometry (radians)
  // ------------------------------------------------------------------

  /** (lat, lon) of the 20 face centers. */
  private val faceCenterGeo: Array[(Double, Double)] = Array(
    (0.803582649718989942, 1.248397419617396099),
    (1.307747883455638156, 2.536945009877921159),
    (1.054751253523952054, -1.347517358900396623),
    (0.600191595538186799, -0.450603909469755746),
    (0.491715428198773866, 0.401988202911306943),
    (0.172745327415618701, 1.678146885280433686),
    (0.605929321571350690, 2.953923329812411617),
    (0.427370518328979641, -1.888876200336285401),
    (-0.079066118549212831, -0.733429513380867741),
    (-0.230961644455383637, 0.506495587332349035),
    (0.079066118549212831, 2.408163140208925497),
    (0.230961644455383637, -2.635097066257444203),
    (-0.172745327415618701, -1.463445768309359553),
    (-0.605929321571350690, -0.187669323777381622),
    (-0.427370518328979641, 1.252716453253507838),
    (-0.600191595538186799, 2.690988744120037492),
    (-0.491715428198773866, -2.739604450678486295),
    (-0.803582649718989942, -1.893195233972397139),
    (-1.307747883455638156, -0.604647643711872080),
    (-1.054751253523952054, 1.794075294689396615))

  /** azimuth from each face center to its Class II i-axis (index 0);
    * j/k axes (1/2) follow at exact -2π/3 steps (asserted below).
    */
  private val faceAxesAz: Array[(Double, Double, Double)] = Array(
    (5.619958268523939882, 3.525563166130744542, 1.431168063737548730),
    (5.760339081714187279, 3.665943979320991689, 1.571548876927795877),
    (0.780213654393430055, 4.969003859179821079, 2.874608756786625655),
    (0.430469363979999913, 4.619259568766391033, 2.524864466373195467),
    (6.130269123335111400, 4.035874020941915804, 1.941478918548720291),
    (2.692877706530642877, 0.598482604137447119, 4.787272808923838195),
    (2.982963003477243874, 0.888567901084048369, 5.077358105870439581),
    (3.532912002790141181, 1.438516900396945656, 5.627307105183336758),
    (3.494305004259568154, 1.399909901866372864, 5.588700106652763840),
    (3.003214169499538391, 0.908819067106342928, 5.097609271892733906),
    (5.930472956509811562, 3.836077854116615875, 1.741682751723420374),
    (0.138378484090254847, 4.327168688876645809, 2.232773586483450311),
    (0.448714947059150361, 4.637505151845541521, 2.543110049452346017),
    (0.158629650112549365, 4.347419854898940135, 2.253024752505744869),
    (5.891865957979238535, 3.797470855586042958, 1.703075753192847583),
    (2.711123289609793325, 0.616728187216597771, 4.805518392002988683),
    (3.294508837434268316, 1.200113735041072948, 5.388903939827463911),
    (3.804819692245439833, 1.710424589852244509, 5.899214794638635174),
    (3.664438879055192436, 1.570043776661997111, 5.758833981448388776),
    (2.361378999196363184, 0.266983896803167583, 4.455774101589558636))

  // ------------------------------------------------------------------
  // published base-cell table: home (face, i, j, k), pentagon flag,
  // pentagon cw-offset faces (-1 = none)
  // ------------------------------------------------------------------

  private val baseCellData: Array[(Int, Int, Int, Int, Boolean, Int, Int)] = Array(
    (1, 1, 0, 0, false, -1, -1), (2, 1, 1, 0, false, -1, -1),
    (1, 0, 0, 0, false, -1, -1), (2, 1, 0, 0, false, -1, -1),
    (0, 2, 0, 0, true, -1, -1), (1, 1, 1, 0, false, -1, -1),
    (1, 0, 0, 1, false, -1, -1), (2, 0, 0, 0, false, -1, -1),
    (0, 1, 0, 0, false, -1, -1), (2, 0, 1, 0, false, -1, -1),
    (1, 0, 1, 0, false, -1, -1), (1, 0, 1, 1, false, -1, -1),
    (3, 1, 0, 0, false, -1, -1), (3, 1, 1, 0, false, -1, -1),
    (11, 2, 0, 0, true, 2, 6), (4, 1, 0, 0, false, -1, -1),
    (0, 0, 0, 0, false, -1, -1), (6, 0, 1, 0, false, -1, -1),
    (0, 0, 0, 1, false, -1, -1), (2, 0, 1, 1, false, -1, -1),
    (7, 0, 0, 1, false, -1, -1), (2, 0, 0, 1, false, -1, -1),
    (0, 1, 1, 0, false, -1, -1), (6, 0, 0, 1, false, -1, -1),
    (10, 2, 0, 0, true, 1, 5), (6, 0, 0, 0, false, -1, -1),
    (3, 0, 0, 0, false, -1, -1), (11, 1, 0, 0, false, -1, -1),
    (4, 1, 1, 0, false, -1, -1), (3, 0, 1, 0, false, -1, -1),
    (0, 0, 1, 1, false, -1, -1), (4, 0, 0, 0, false, -1, -1),
    (5, 0, 1, 0, false, -1, -1), (0, 0, 1, 0, false, -1, -1),
    (7, 0, 1, 0, false, -1, -1), (11, 1, 1, 0, false, -1, -1),
    (7, 0, 0, 0, false, -1, -1), (10, 1, 0, 0, false, -1, -1),
    (12, 2, 0, 0, true, 3, 7), (6, 1, 0, 1, false, -1, -1),
    (7, 1, 0, 1, false, -1, -1), (4, 0, 0, 1, false, -1, -1),
    (3, 0, 0, 1, false, -1, -1), (3, 0, 1, 1, false, -1, -1),
    (4, 0, 1, 0, false, -1, -1), (6, 1, 0, 0, false, -1, -1),
    (11, 0, 0, 0, false, -1, -1), (8, 0, 0, 1, false, -1, -1),
    (5, 0, 0, 1, false, -1, -1), (14, 2, 0, 0, true, 0, 9),
    (5, 0, 0, 0, false, -1, -1), (12, 1, 0, 0, false, -1, -1),
    (10, 1, 1, 0, false, -1, -1), (4, 0, 1, 1, false, -1, -1),
    (12, 1, 1, 0, false, -1, -1), (7, 1, 0, 0, false, -1, -1),
    (11, 0, 1, 0, false, -1, -1), (10, 0, 0, 0, false, -1, -1),
    (13, 2, 0, 0, true, 4, 8), (10, 0, 0, 1, false, -1, -1),
    (11, 0, 0, 1, false, -1, -1), (9, 0, 1, 0, false, -1, -1),
    (8, 0, 1, 0, false, -1, -1), (6, 2, 0, 0, true, 11, 15),
    (8, 0, 0, 0, false, -1, -1), (9, 0, 0, 1, false, -1, -1),
    (14, 1, 1, 0, false, -1, -1), (5, 1, 0, 1, false, -1, -1),
    (16, 0, 1, 1, false, -1, -1), (8, 1, 0, 1, false, -1, -1),
    (5, 1, 0, 0, false, -1, -1), (12, 0, 0, 0, false, -1, -1),
    (7, 2, 0, 0, true, 12, 16), (12, 0, 1, 0, false, -1, -1),
    (10, 0, 1, 0, false, -1, -1), (9, 0, 0, 0, false, -1, -1),
    (13, 1, 0, 0, false, -1, -1), (16, 0, 0, 1, false, -1, -1),
    (15, 0, 1, 1, false, -1, -1), (15, 0, 1, 0, false, -1, -1),
    (16, 0, 1, 0, false, -1, -1), (14, 1, 0, 0, false, -1, -1),
    (13, 1, 1, 0, false, -1, -1), (5, 2, 0, 0, true, 10, 19),
    (8, 1, 0, 0, false, -1, -1), (14, 0, 0, 0, false, -1, -1),
    (9, 1, 0, 1, false, -1, -1), (14, 0, 0, 1, false, -1, -1),
    (17, 0, 0, 1, false, -1, -1), (12, 0, 0, 1, false, -1, -1),
    (16, 0, 0, 0, false, -1, -1), (17, 0, 1, 1, false, -1, -1),
    (15, 0, 0, 1, false, -1, -1), (16, 1, 0, 1, false, -1, -1),
    (9, 1, 0, 0, false, -1, -1), (15, 0, 0, 0, false, -1, -1),
    (13, 0, 0, 0, false, -1, -1), (8, 2, 0, 0, true, 13, 17),
    (13, 0, 1, 0, false, -1, -1), (17, 1, 0, 1, false, -1, -1),
    (19, 0, 1, 0, false, -1, -1), (14, 0, 1, 0, false, -1, -1),
    (19, 0, 1, 1, false, -1, -1), (17, 0, 1, 0, false, -1, -1),
    (13, 0, 0, 1, false, -1, -1), (17, 0, 0, 0, false, -1, -1),
    (16, 1, 0, 0, false, -1, -1), (9, 2, 0, 0, true, 14, 18),
    (15, 1, 0, 1, false, -1, -1), (15, 1, 0, 0, false, -1, -1),
    (18, 0, 1, 1, false, -1, -1), (18, 0, 0, 1, false, -1, -1),
    (19, 0, 0, 1, false, -1, -1), (17, 1, 0, 0, false, -1, -1),
    (19, 0, 0, 0, false, -1, -1), (18, 0, 1, 0, false, -1, -1),
    (18, 1, 0, 1, false, -1, -1), (19, 2, 0, 0, true, -1, -1),
    (19, 1, 0, 0, false, -1, -1), (18, 0, 0, 0, false, -1, -1),
    (19, 1, 0, 1, false, -1, -1), (18, 1, 0, 0, false, -1, -1))

  final val NumBaseCells = 122

  def isPentagonBaseCell(bc: Int): Boolean = baseCellData(bc)._5

  private def isCwOffset(bc: Int, face: Int): Boolean = {
    val d = baseCellData(bc)
    d._6 == face || d._7 == face
  }

  // ------------------------------------------------------------------
  // angular / vector helpers
  // ------------------------------------------------------------------

  private def posAngle(a: Double): Double = {
    var t = if (a < 0.0) a + Pi2 else a
    if (t >= Pi2) t -= Pi2
    t
  }

  private def constrainLng(l: Double): Double = {
    var t = l
    while (t > math.Pi) t -= Pi2
    while (t < -math.Pi) t += Pi2
    t
  }

  private def geoToVec3(lat: Double, lon: Double): (Double, Double, Double) = {
    val c = math.cos(lat)
    (c * math.cos(lon), c * math.sin(lon), math.sin(lat))
  }

  private def sqDist(a: (Double, Double, Double), b: (Double, Double, Double)): Double = {
    val dx = a._1 - b._1; val dy = a._2 - b._2; val dz = a._3 - b._3
    dx * dx + dy * dy + dz * dz
  }

  /** azimuth (radians, ccw convention of the spec) from p1 to p2. */
  private def azimuth(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    math.atan2(
      math.cos(lat2) * math.sin(lon2 - lon1),
      math.cos(lat1) * math.sin(lat2) -
        math.sin(lat1) * math.cos(lat2) * math.cos(lon2 - lon1))

  /** destination point at `az`/`dist` (radians) from (lat, lon). */
  private def azDistance(lat: Double, lon: Double, azIn: Double,
      dist: Double): (Double, Double) = {
    if (dist < Eps) return (lat, lon)
    val az = posAngle(azIn)
    if (az < Eps || math.abs(az - math.Pi) < Eps) {
      val lat2 = if (az < Eps) lat + dist else lat - dist
      if (math.abs(lat2 - math.Pi / 2) < Eps) (math.Pi / 2, 0.0)
      else if (math.abs(lat2 + math.Pi / 2) < Eps) (-math.Pi / 2, 0.0)
      else (lat2, constrainLng(lon))
    } else {
      var sinLat2 = math.sin(lat) * math.cos(dist) +
        math.cos(lat) * math.sin(dist) * math.cos(az)
      if (sinLat2 > 1.0) sinLat2 = 1.0
      if (sinLat2 < -1.0) sinLat2 = -1.0
      val lat2 = math.asin(sinLat2)
      if (math.abs(lat2 - math.Pi / 2) < Eps) (math.Pi / 2, 0.0)
      else if (math.abs(lat2 + math.Pi / 2) < Eps) (-math.Pi / 2, 0.0)
      else {
        var sinLng = math.sin(az) * math.sin(dist) / math.cos(lat2)
        var cosLng = (math.cos(dist) - math.sin(lat) * sinLat2) /
          (math.cos(lat) * math.cos(lat2))
        if (sinLng > 1.0) sinLng = 1.0
        if (sinLng < -1.0) sinLng = -1.0
        if (cosLng > 1.0) cosLng = 1.0
        if (cosLng < -1.0) cosLng = -1.0
        (lat2, constrainLng(lon + math.atan2(sinLng, cosLng)))
      }
    }
  }

  // ------------------------------------------------------------------
  // CoordIJK ops (aperture-7 hex grid)
  // ------------------------------------------------------------------

  private final class IJK(var i: Long, var j: Long, var k: Long) {
    def copy(): IJK = new IJK(i, j, k)
  }

  private def normalize(c: IJK): Unit = {
    if (c.i < 0) { c.j -= c.i; c.k -= c.i; c.i = 0 }
    if (c.j < 0) { c.i -= c.j; c.k -= c.j; c.j = 0 }
    if (c.k < 0) { c.i -= c.k; c.j -= c.k; c.k = 0 }
    // (1,1,1) is degenerate in cube hex coords: canonical form has a
    // zero component (the spec's _ijkNormalize "remove the min value").
    // The forward indexing paths produce min=0 by construction; offset
    // arithmetic (gridDisk candidates, boundary duals) does not.
    val min = math.min(c.i, math.min(c.j, c.k))
    if (min > 0) { c.i -= min; c.j -= min; c.k -= min }
  }

  /** digits: 0 center, 1 K, 2 J, 3 JK, 4 I, 5 IK, 6 IJ. */
  private val unitVecs: Array[(Long, Long, Long)] = Array(
    (0L, 0L, 0L), (0L, 0L, 1L), (0L, 1L, 0L), (0L, 1L, 1L),
    (1L, 0L, 0L), (1L, 0L, 1L), (1L, 1L, 0L))

  private def unitIjkToDigit(c: IJK): Int = {
    val t = c.copy(); normalize(t)
    var d = 0
    var found = -1
    while (d < 7) {
      if (unitVecs(d) == ((t.i, t.j, t.k))) found = d
      d += 1
    }
    require(found >= 0, s"non-unit ijk (${t.i},${t.j},${t.k})")
    found
  }

  /** coarsen one aperture-7 step, counter-clockwise grid (Class II up). */
  private def upAp7(c: IJK): Unit = {
    val i = c.i - c.k
    val j = c.j - c.k
    c.i = math.round((3 * i - j) / 7.0)
    c.j = math.round((i + 2 * j) / 7.0)
    c.k = 0
    normalize(c)
  }

  /** coarsen one aperture-7 step, clockwise grid (Class III up). */
  private def upAp7r(c: IJK): Unit = {
    val i = c.i - c.k
    val j = c.j - c.k
    c.i = math.round((2 * i + j) / 7.0)
    c.j = math.round((3 * j - i) / 7.0)
    c.k = 0
    normalize(c)
  }

  private def downAp7(c: IJK): Unit = {
    val i = c.i; val j = c.j; val k = c.k
    c.i = 3 * i + 1 * j + 0 * k
    c.j = 0 * i + 3 * j + 1 * k
    c.k = 1 * i + 0 * j + 3 * k
    normalize(c)
  }

  private def downAp7r(c: IJK): Unit = {
    val i = c.i; val j = c.j; val k = c.k
    c.i = 3 * i + 0 * j + 1 * k
    c.j = 1 * i + 3 * j + 0 * k
    c.k = 0 * i + 1 * j + 3 * k
    normalize(c)
  }

  // ------------------------------------------------------------------
  // face plane <-> grid
  // ------------------------------------------------------------------

  private def isClassIII(res: Int): Boolean = (res & 1) == 1

  /** nearest face (by center) to a geo point. */
  private def nearestFace(lat: Double, lon: Double): Int = {
    val v3 = geoToVec3(lat, lon)
    var face = 0
    var sqd = sqDist(faceCenterPoint(0), v3)
    var f = 1
    while (f < 20) {
      val d = sqDist(faceCenterPoint(f), v3)
      if (d < sqd) { face = f; sqd = d }
      f += 1
    }
    face
  }

  /** hex2d of a geo point in `face`'s grid at `res`. */
  private def geoToHex2dOnFace(face: Int, lat: Double, lon: Double,
      res: Int): (Double, Double) = {
    val v3 = geoToVec3(lat, lon)
    val sqd = sqDist(faceCenterPoint(face), v3)
    val r0 = math.acos(1.0 - sqd / 2.0)
    if (r0 < Eps) (0.0, 0.0)
    else {
      val (fcLat, fcLon) = faceCenterGeo(face)
      var theta = posAngle(
        faceAxesAz(face)._1 - posAngle(azimuth(fcLat, fcLon, lat, lon)))
      if (isClassIII(res)) theta = posAngle(theta - Ap7Rot)
      var r = math.tan(r0) / Res0UGnomonic
      var i = 0
      while (i < res) { r *= Sqrt7; i += 1 }
      (r * math.cos(theta), r * math.sin(theta))
    }
  }

  /** hex2d → containing cell's ijk (spec's reverse conversion). */
  private def hex2dToIjk(x: Double, y: Double): IJK = {
    val h = new IJK(0, 0, 0)
    val a1 = math.abs(x)
    val a2 = math.abs(y)
    val x2 = a2 / Sin60
    val x1 = a1 + x2 / 2.0
    val m1 = x1.toLong
    val m2 = x2.toLong
    val r1 = x1 - m1
    val r2 = x2 - m2
    if (r1 < 0.5) {
      if (r1 < 1.0 / 3.0) {
        if (r2 < (1.0 + r1) / 2.0) { h.i = m1; h.j = m2 }
        else { h.i = m1; h.j = m2 + 1 }
      } else {
        if (r2 < (1.0 - r1)) h.j = m2 else h.j = m2 + 1
        if ((1.0 - r1) <= r2 && r2 < (2.0 * r1)) h.i = m1 + 1 else h.i = m1
      }
    } else {
      if (r1 < 2.0 / 3.0) {
        if (r2 < (1.0 - r1)) h.j = m2 else h.j = m2 + 1
        if ((2.0 * r1 - 1.0) < r2 && r2 < (1.0 - r1)) h.i = m1 else h.i = m1 + 1
      } else {
        if (r2 < (r1 / 2.0)) { h.i = m1 + 1; h.j = m2 }
        else { h.i = m1 + 1; h.j = m2 + 1 }
      }
    }
    // fold across axes for negative plane coords
    if (x < 0.0) {
      if (h.j % 2 == 0) {
        val axisi = h.j / 2
        val diff = h.i - axisi
        h.i = h.i - 2 * diff
      } else {
        val axisi = (h.j + 1) / 2
        val diff = h.i - axisi
        h.i = h.i - (2 * diff + 1)
      }
    }
    if (y < 0.0) {
      h.i = h.i - (2 * h.j + 1) / 2
      h.j = -h.j
    }
    normalize(h)
    h
  }

  /** ijk → hex2d (cell center on the face plane). */
  private def ijkToHex2d(c: IJK): (Double, Double) = {
    val i = c.i - c.k
    val j = c.j - c.k
    (i - 0.5 * j, j * Sin60)
  }

  /** geo center of FaceIJK at `res` via this face's projection — exact
    * for coordinates on the face, and within a small fold distortion
    * for one-cell overhangs (only used at init for res-0 nearest-center
    * matching, where cell spacing dwarfs the distortion; asserted).
    */
  private def faceIjkToGeo(face: Int, c: IJK, res: Int): (Double, Double) = {
    val (x, y) = ijkToHex2d(c)
    val mag = math.sqrt(x * x + y * y)
    if (mag < Eps) faceCenterGeo(face)
    else {
      var theta = math.atan2(y, x)
      var r = mag
      var i = 0
      while (i < res) { r /= Sqrt7; i += 1 }
      r *= Res0UGnomonic
      r = math.atan(r)
      if (isClassIII(res)) theta = posAngle(theta + Ap7Rot)
      val az = posAngle(faceAxesAz(face)._1 - theta)
      val (fcLat, fcLon) = faceCenterGeo(face)
      azDistance(fcLat, fcLon, az, r)
    }
  }

  // ------------------------------------------------------------------
  // derived structures (validated at init)
  // ------------------------------------------------------------------

  private val faceCenterPoint: Array[(Double, Double, Double)] =
    faceCenterGeo.map { case (la, lo) => geoToVec3(la, lo) }

  /** geo centers of the 122 base cells (home-face coordinates — on the
    * home face by definition, so no fold distortion).
    */
  private val baseCellCenter: Array[(Double, Double)] =
    baseCellData.map { case (f, i, j, k, _, _, _) =>
      faceIjkToGeo(f, new IJK(i, j, k), 0)
    }

  private val baseCellCenterV3: Array[(Double, Double, Double)] =
    baseCellCenter.map { case (la, lo) => geoToVec3(la, lo) }

  /** digit string of (lat, lon) at `res` computed in `face`'s grid:
    * returns (index with mode/res/digits set, base cell ijk on face).
    */
  private def digitsOnFace(face: Int, lat: Double, lon: Double,
      res: Int): (Long, IJK) = {
    val (x, y) = geoToHex2dOnFace(face, lat, lon, res)
    digitsFromIjk(hex2dToIjk(x, y), res)
  }

  /** digit string from res-`res` grid coords (destructive on `ijk`,
    * which coarsens to the base-cell coords).
    */
  private def digitsFromIjk(ijk: IJK, res: Int): (Long, IJK) = {
    var h = (ModeCell << 59) | (res.toLong << 52) | 0x1fffffffffffL
    var r = res - 1
    while (r >= 0) {
      val last = ijk.copy()
      val lastCenter = ijk.copy()
      if (isClassIII(r + 1)) {
        upAp7(ijk)
        lastCenter.i = ijk.i; lastCenter.j = ijk.j; lastCenter.k = ijk.k
        downAp7(lastCenter)
      } else {
        upAp7r(ijk)
        lastCenter.i = ijk.i; lastCenter.j = ijk.j; lastCenter.k = ijk.k
        downAp7r(lastCenter)
      }
      val diff = new IJK(last.i - lastCenter.i, last.j - lastCenter.j,
        last.k - lastCenter.k)
      normalize(diff)
      h = setDigit(h, r + 1, unitIjkToDigit(diff).toLong)
      r -= 1
    }
    (h, ijk)
  }

  /** canonical orientation: the base-cell tail of the indexing
    * algorithm — pentagon leading-K adjustment (cw on the pentagon's
    * two cw-offset faces), then ccw rotations into the home frame.
    */
  private def canonicalize(face: Int, bc: Int, rot: Int, hIn: Long): Long = {
    var h = hIn
    if (isPentagonBaseCell(bc)) {
      if (leadingNonZeroDigit(h) == 1) {
        h = if (isCwOffset(bc, face)) rotate60cw(h) else rotate60ccw(h)
      }
      var n = 0
      while (n < rot) { h = rotatePent60ccw(h); n += 1 }
    } else {
      var n = 0
      while (n < rot) { h = rotate60ccw(h); n += 1 }
    }
    h
  }

  /** local orthonormal tangent basis at a point (for sampling). */
  private def tangentBasis(lat: Double, lon: Double):
      ((Double, Double, Double), (Double, Double, Double)) = {
    val e = (-math.sin(lon), math.cos(lon), 0.0)
    val n = (-math.sin(lat) * math.cos(lon), -math.sin(lat) * math.sin(lon),
      math.cos(lat))
    (e, n)
  }

  private def offsetGeo(lat: Double, lon: Double, de: Double,
      dn: Double): (Double, Double) = {
    val c = geoToVec3(lat, lon)
    val (e, n) = tangentBasis(lat, lon)
    val px = c._1 + de * e._1 + dn * n._1
    val py = c._2 + de * e._2 + dn * n._2
    val pz = c._3 + de * e._3 + dn * n._3
    val m = math.sqrt(px * px + py * py + pz * pz)
    (math.asin(pz / m), math.atan2(py, px))
  }

  private def vecToGeo(v: (Double, Double, Double)): (Double, Double) = {
    val m = math.sqrt(v._1 * v._1 + v._2 * v._2 + v._3 * v._3)
    (math.asin(v._3 / m), math.atan2(v._2, v._1))
  }

  private def angDistV(a: (Double, Double, Double), b: (Double, Double, Double)): Double =
    2.0 * math.asin(math.sqrt(sqDist(a, b)) / 2.0)

  private def slerp(a: (Double, Double, Double), b: (Double, Double, Double),
      t: Double): (Double, Double, Double) = {
    val omega = angDistV(a, b)
    val sa = math.sin((1.0 - t) * omega) / math.sin(omega)
    val sb = math.sin(t * omega) / math.sin(omega)
    (sa * a._1 + sb * b._1, sa * a._2 + sb * b._2, sa * a._3 + sb * b._3)
  }

  /** Rotation between two faces' frames for the same base cell,
    * solved by boundary-band voting: sample only near the BOUNDARY of
    * the two faces' nearest-face regions, where fold drift between the
    * planar extensions vanishes, so both frames read the same physical
    * cells and canonical-index equality pins the rotation exactly.
    * Returns -1 when the band never intersects the cell (the entry
    * pair shares no usable seam — caller tries other neighbors or
    * marks the entry unreachable).
    *
    * For pentagons the rotation is an equivalence class mod 5: the
    * leading digit cycles through the 5 non-K classes and exactly one
    * transition crosses the deleted K axis, adding a sixth trailing
    * rotation — pentRot^5 is the identity — so {0,5} collapse and the
    * smallest representative is returned.
    */
  private def solvePair(bc: Int, g: Int, gI: Int, gJ: Int, gK: Int, rotG: Int,
      f: Int, eI: Int, eJ: Int, eK: Int): Int = {
    val (cLat, cLon) = baseCellCenter(bc)
    // pentagons need a much tighter seam band: their wedge frames
    // misalign first-order off the seam (the K-deletion warp), so only
    // samples within ~0.004 rad of it agree — paired with res-3 cells
    // for margin. Hexagon seams tolerate the wider band at res 2.
    val pent = isPentagonBaseCell(bc)
    val res = if (pent) 3 else 2
    val band = if (pent) 0.008 else 0.025
    // hexagon scan reaches 0.22 rad: fine-res boundary pixelation lets
    // points up to ~0.18 rad from the NOMINAL center aggregate into
    // this cell (measured), so the seam segment that votes for sliver
    // entries can sit outside the cell's metric radius
    val budget = if (pent) 12000 else 10000
    val scanR = if (pent) 0.14 else 0.22
    val delta = 2e-4
    // supermajority tally, not strict intersection: fold drift near
    // fine-cell boundaries can exceed the stability-probe radius and
    // let a misread sample cast a coherent wrong vote; such poison is
    // boundary-local and rare, while the true rotation wins every
    // interior sample — demand an 80% supermajority instead.
    val tally = Array.fill(6)(0)
    var votes = 0
    val golden = math.Pi * (3.0 - math.sqrt(5.0))
    var s = 0
    while (s < budget && votes < 48) {
      val rad = scanR * math.sqrt((s + 0.5) / budget.toDouble)
      val ang = s * golden
      val (pLat, pLon) = offsetGeo(cLat, cLon, rad * math.cos(ang), rad * math.sin(ang))
      val p3 = geoToVec3(pLat, pLon)
      // chord-space screen (squared distances are order-isomorphic to
      // angles — no trig in the 20-face scan); exact angles only for
      // the band test after the cheap prefilter
      val sqF = sqDist(p3, faceCenterPoint(f))
      val sqG = sqDist(p3, faceCenterPoint(g))
      var sqO = Double.MaxValue
      var x = 0
      while (x < 20) {
        if (x != f && x != g) {
          val d = sqDist(p3, faceCenterPoint(x))
          if (d < sqO) sqO = d
        }
        x += 1
      }
      // f and g must be strictly the two nearest faces: the equidistant
      // great circle continues beyond the shared-edge segment into
      // third-face territory, where both frames are non-authoritative
      // extensions and would cast contradictory votes
      val inBand = sqO > math.max(sqF, sqG) && math.abs(sqF - sqG) < 0.05 && {
        val dF = 2.0 * math.asin(math.sqrt(sqF) / 2.0)
        val dG = 2.0 * math.asin(math.sqrt(sqG) / 2.0)
        math.abs(dF - dG) < band
      }
      if (inBand) {
        val probes = Seq((0.0, 0.0), (delta, 0.0), (-delta, 0.0), (0.0, delta), (0.0, -delta))
          .map { case (de, dn) =>
            val (qLat, qLon) = offsetGeo(pLat, pLon, de, dn)
            (digitsOnFace(f, qLat, qLon, res), digitsOnFace(g, qLat, qLon, res))
          }
        val ((hF, ijkF), (hG, ijkG)) = probes.head
        val inCell = ijkF.i == eI && ijkF.j == eJ && ijkF.k == eK &&
          ijkG.i == gI && ijkG.j == gJ && ijkG.k == gK
        val stable = probes.forall { case ((a, ia), (b, ib)) =>
          a == hF && b == hG && ia.i == ijkF.i && ia.j == ijkF.j && ia.k == ijkF.k &&
            ib.i == ijkG.i && ib.j == ijkG.j && ib.k == ijkG.k
        }
        if (inCell && stable) {
          val want = canonicalize(g, bc, rotG, hG)
          val valid = (0 to 5).filter(r => canonicalize(f, bc, r, hF) == want).toSet
          if (valid.nonEmpty && valid.size < 6) {
            valid.foreach(r => tally(r) += 1)
            votes += 1
          }
        }
      }
      s += 1
    }
    if (votes < 6) return -1
    // pentagons: pool the mod-5 twins (pentRot^5 is the identity)
    val classes: Map[Int, Int] =
      if (pent) (0 to 5).groupBy(_ % 5).map { case (c, rs) => c -> rs.map(tally).max }
      else (0 to 5).map(r => r -> tally(r)).toMap
    val (winner, winVotes) = classes.maxBy(_._2)
    val runnerUp = classes.filter(_._1 != winner).values.max
    require(winVotes >= math.max(6, (0.8 * votes).toInt) && runnerUp <= 0.2 * votes,
      s"rotation not supermajority: bc=$bc g=$g f=$f votes=$votes " +
        s"tally=${tally.mkString(",")}")
    // the class id is itself the smallest representative (only class 0
    // has a twin, 5, and both are the same canonical map)
    winner
  }

  private def deriveLookup(): Array[Array[Array[Array[Int]]]] = {
    val interCell = 2.0 * math.asin(
      math.sqrt(sqDist(baseCellCenterV3(16), baseCellCenterV3(8))) / 2.0)
    // pass 1: base cell per (face, normalized ijk) by nearest center,
    // with unambiguity margins (fold distortion is far below cell
    // spacing, so nominal positions match cleanly)
    val bcEntry = Array.fill(20, 3, 3, 3)(-1)
    for (f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2
        if i == 0 || j == 0 || k == 0) {
      val c = new IJK(i, j, k)
      val (la, lo) = faceIjkToGeo(f, c, 0)
      val v = geoToVec3(la, lo)
      var bc = 0
      var best = Double.MaxValue
      var second = Double.MaxValue
      var b = 0
      while (b < NumBaseCells) {
        val d = sqDist(baseCellCenterV3(b), v)
        if (d < best) { second = best; best = d; bc = b } else if (d < second) second = d
        b += 1
      }
      val bestAng = 2.0 * math.asin(math.sqrt(best) / 2.0)
      val secondAng = 2.0 * math.asin(math.sqrt(second) / 2.0)
      require(bestAng < 0.35 * interCell && secondAng > 0.6 * interCell,
        s"ambiguous base-cell match at face=$f ijk=($i,$j,$k): " +
          s"$bestAng vs $secondAng (intercell $interCell)")
      bcEntry(f)(i)(j)(k) = bc
    }
    // pass 2: rotations by BFS over each base cell's entry faces —
    // anchor the home entry at 0 and propagate through adjacent-face
    // seam votes; entries no seam can reach are unreachable by
    // nearest-face indexing (h3lib keeps such entries for traversal
    // only) and are marked invalid.
    val lut = Array.fill(20, 3, 3, 3)(-1)
    val entriesByBc = (for {
      f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2
      if (i == 0 || j == 0 || k == 0) && bcEntry(f)(i)(j)(k) >= 0
    } yield (bcEntry(f)(i)(j)(k), (f, i, j, k))).groupBy(_._1)
    for ((bc, tagged) <- entriesByBc) {
      val entries = tagged.map(_._2)
      val (hf, hi, hj, hk, _, _, _) = baseCellData(bc)
      require(entries.contains((hf, hi, hj, hk)),
        s"base cell $bc home entry missing from pass 1")
      val solvedRot = scala.collection.mutable.Map[(Int, Int, Int, Int), Int](
        (hf, hi, hj, hk) -> 0)
      var progress = true
      while (progress) {
        progress = false
        for (e <- entries if !solvedRot.contains(e)) {
          val (f, i, j, k) = e
          val neighbors = entries.filter(g => solvedRot.contains(g) &&
            angDistV(faceCenterPoint(g._1), faceCenterPoint(f)) < 0.8)
          val hit = neighbors.iterator
            .map(g => solvePair(bc, g._1, g._2, g._3, g._4, solvedRot(g), f, i, j, k))
            .find(_ >= 0)
          if (hit.isDefined) {
            solvedRot(e) = hit.get
            progress = true
          }
        }
      }
      for (e <- entries) {
        val (f, i, j, k) = e
        lut(f)(i)(j)(k) = solvedRot.get(e).map(bc * 8 + _).getOrElse(-1)
      }
    }
    for (f <- 0 until 20; i <- 1 to 2; j <- 1 to 2; k <- 1 to 2) {
      val m = math.min(i, math.min(j, k))
      lut(f)(i)(j)(k) = lut(f)(i - m)(j - m)(k - m)
    }
    // inverse check: every base cell's home coordinates resolve to
    // itself with rotation 0
    for (b <- 0 until NumBaseCells) {
      val (f, i, j, k, _, _, _) = baseCellData(b)
      require(lut(f)(i)(j)(k) == b * 8,
        s"home lookup broken for base cell $b: got ${lut(f)(i)(j)(k)}")
    }
    lut
  }

  /** derived (face)(i)(j)(k) → packed (baseCell * 8 + ccwRot60); the
    * table h3lib ships, reconstructed from the base-cell homes.
    * Declared after every helper it uses — vals initialize in order.
    */
  private lazy val faceIjkBaseCell: Array[Array[Array[Array[Int]]]] = deriveLookup()

  // init-time validation of the published geometry tables
  locally {
    // each face has exactly 3 adjacent faces and one antipode
    for (f <- 0 until 20) {
      val ds = (0 until 20).filter(_ != f).map { g =>
        2.0 * math.asin(math.sqrt(sqDist(faceCenterPoint(f), faceCenterPoint(g))) / 2.0)
      }
      require(ds.count(_ < 0.8) == 3, s"face $f adjacency broken")
      // asin is ill-conditioned near π — chord-space resolution is
      // ~sqrt(ulp), so antipodality can only be asserted to ~1e-6
      require(ds.count(d => math.abs(d - math.Pi) < 1e-6) == 1, s"face $f antipode broken")
    }
    // axes are exact 2π/3 fans
    for (f <- 0 until 20) {
      val (a0, a1, a2) = faceAxesAz(f)
      require(math.abs(posAngle(a0 - a1) - Pi2 / 3) < 1e-9, s"face $f axes 0/1")
      require(math.abs(posAngle(a1 - a2) - Pi2 / 3) < 1e-9, s"face $f axes 1/2")
    }
    require(baseCellData.length == NumBaseCells)
    require(baseCellData.count(_._5) == 12, "pentagon count")
    // pentagons sit at icosahedron vertices: each ~0.6524 rad (the
    // face-center-to-vertex angle) from exactly five face centers
    for (b <- 0 until NumBaseCells if baseCellData(b)._5) {
      val v = baseCellCenterV3(b)
      val near = (0 until 20).map { f =>
        2.0 * math.asin(math.sqrt(sqDist(faceCenterPoint(f), v)) / 2.0)
      }.filter(_ < 0.7)
      require(near.size == 5 && near.forall(d => d > 0.6),
        s"pentagon base cell $b is not at an icosahedron vertex: $near")
    }
  }

  // ------------------------------------------------------------------
  // H3Index bit layout
  // ------------------------------------------------------------------

  private val ModeCell = 1L
  final val InvalidIndex = 0L

  private def setDigit(h: Long, r: Int, digit: Long): Long = {
    val shift = (15 - r) * 3
    (h & ~(7L << shift)) | (digit << shift)
  }

  def getDigit(h: Long, r: Int): Int = ((h >> ((15 - r) * 3)) & 7L).toInt

  def getResolution(h: Long): Int = ((h >> 52) & 0xfL).toInt

  def getBaseCell(h: Long): Int = ((h >> 45) & 0x7fL).toInt

  private def leadingNonZeroDigit(h: Long): Int = {
    val res = getResolution(h)
    var r = 1
    while (r <= res) {
      val d = getDigit(h, r)
      if (d != 0) return d
      r += 1
    }
    0
  }

  private def rotate60ccwDigit(d: Int): Int = d match {
    case 1 => 5; case 5 => 4; case 4 => 6; case 6 => 2; case 2 => 3; case 3 => 1
    case other => other
  }

  private def rotate60cwDigit(d: Int): Int = d match {
    case 1 => 3; case 3 => 2; case 2 => 6; case 6 => 4; case 4 => 5; case 5 => 1
    case other => other
  }

  private def rotate60ccw(hIn: Long): Long = {
    var h = hIn
    val res = getResolution(h)
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, rotate60ccwDigit(getDigit(h, r)).toLong)
      r += 1
    }
    h
  }

  private def rotate60cw(hIn: Long): Long = {
    var h = hIn
    val res = getResolution(h)
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, rotate60cwDigit(getDigit(h, r)).toLong)
      r += 1
    }
    h
  }

  private def rotatePent60ccw(hIn: Long): Long = {
    var h = hIn
    val res = getResolution(h)
    var foundFirst = false
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, rotate60ccwDigit(getDigit(h, r)).toLong)
      if (!foundFirst && getDigit(h, r) != 0) {
        foundFirst = true
        if (leadingNonZeroDigit(h) == 1) h = rotate60ccw(h)
      }
      r += 1
    }
    h
  }

  // ------------------------------------------------------------------
  // public API
  // ------------------------------------------------------------------

  /** (lat, lon) degrees → H3 cell id at `res` (geo_to_h3). */
  def latLngToCell(latDeg: Double, lonDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= 15, s"resolution $res out of [0,15]")
    if (latDeg.isNaN || lonDeg.isNaN || latDeg.isInfinite || lonDeg.isInfinite)
      return InvalidIndex
    val lat = math.toRadians(latDeg)
    val lon = math.toRadians(lonDeg)
    val first = tryFace(nearestFace(lat, lon), lat, lon, res)
    if (first != InvalidIndex) return first
    // rare fallback: the derived lookup marks entries no sampled point
    // could reach as holes; a real point that still lands in one sits
    // within ulps of a face seam, and indexing it through the
    // next-nearest face assigns a defensible boundary cell instead of
    // crashing the job. H3Spec's boundary stress test bisects to cell
    // boundaries and hammers them with ulp-scale offsets to keep this
    // path honest.
    val v3 = geoToVec3(lat, lon)
    val order = (0 until 20).sortBy(f => sqDist(faceCenterPoint(f), v3))
    var fi = 1
    while (fi < 4) {
      val h = tryFace(order(fi), lat, lon, res)
      if (h != InvalidIndex) return h
      fi += 1
    }
    throw new IllegalStateException(
      s"latLngToCell: no face frame resolves ($latDeg, $lonDeg, $res)")
  }

  private def tryFace(face: Int, lat: Double, lon: Double, res: Int): Long = {
    val (h0, ijk) = digitsOnFace(face, lat, lon, res)
    if (ijk.i > 2 || ijk.j > 2 || ijk.k > 2) return InvalidIndex
    val packed = faceIjkBaseCell(face)(ijk.i.toInt)(ijk.j.toInt)(ijk.k.toInt)
    if (packed < 0) return InvalidIndex
    val baseCell = packed / 8
    canonicalize(face, baseCell, packed % 8, h0 | (baseCell.toLong << 45))
  }

  /** entries of the derived lookup grouped by base cell — the inverse
    * map cellToLatLng walks to find a cell's owner face.
    */
  private lazy val entriesOfBc: Array[Seq[(Int, Int, Int, Int, Int)]] = {
    val m = Array.fill(NumBaseCells)(List.empty[(Int, Int, Int, Int, Int)])
    for (f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2
        if i == 0 || j == 0 || k == 0) {
      val p = faceIjkBaseCell(f)(i)(j)(k)
      if (p >= 0) m(p / 8) ::= ((f, i, j, k, p % 8))
    }
    m.map(_.toSeq)
  }

  /** cell's FaceIJK center geo on `face`, descending from the base
    * cell's res-0 coords through the index digits (the spec's
    * h3ToFaceIjk chain, without overage — valid when `face` owns the
    * cell, which the caller certifies by round-trip).
    */
  private def decodeOnFace(face: Int, i0: Long, j0: Long, k0: Long,
      h: Long): (Double, Double) = {
    val res = getResolution(h)
    val ijk = new IJK(i0, j0, k0)
    var r = 1
    while (r <= res) {
      if (isClassIII(r)) downAp7(ijk) else downAp7r(ijk)
      val u = unitVecs(getDigit(h, r))
      ijk.i += u._1; ijk.j += u._2; ijk.k += u._3
      normalize(ijk)
      r += 1
    }
    faceIjkToGeo(face, ijk, res)
  }

  /** invert [[canonicalize]] for a candidate (face, rotation): the
    * frame digit strings that canonicalize to `h` there. Hexagons have
    * exactly one preimage; pentagons up to two (the conditional
    * leading-K adjustment), disambiguated by the caller's round-trip.
    */
  private def unCanonicalize(h: Long, bc: Int, face: Int, rot: Int): Seq[Long] = {
    if (isPentagonBaseCell(bc)) {
      var x = h
      val back = (5 - rot % 5) % 5 // pentRot^5 is the identity
      var n = 0
      while (n < back) { x = rotatePent60ccw(x); n += 1 }
      val noFix = x
      val fixed = if (isCwOffset(bc, face)) rotate60ccw(x) else rotate60cw(x)
      val out = Seq.newBuilder[Long]
      if (leadingNonZeroDigit(noFix) != 1) out += noFix
      if (leadingNonZeroDigit(fixed) == 1) out += fixed
      out.result()
    } else {
      var x = h
      var n = 0
      while (n < rot) { x = rotate60cw(x); n += 1 }
      Seq(x)
    }
  }

  /** cell id → center (lat, lon) degrees (h3_to_geo). The owner face
    * is found by ranking the cell's candidate faces by distance to the
    * home-extension estimate and decoding on each until the center
    * round-trips (latLngToCell(center) == cell) — bit-exact
    * self-certification in place of the spec's overage tables.
    */
  def cellToLatLng(h: Long): (Double, Double) = {
    require(isValidCell(h), s"invalid cell ${h3ToString(h)}")
    val res = getResolution(h)
    val bc = getBaseCell(h)
    val (hf, hi, hj, hk, _, _, _) = baseCellData(bc)
    val (aLat, aLon) = decodeOnFace(hf, hi, hj, hk, h)
    val av = geoToVec3(aLat, aLon)
    val cands = entriesOfBc(bc).sortBy(e => sqDist(faceCenterPoint(e._1), av))
    for ((f, i, j, k, rot) <- cands; hFrame <- unCanonicalize(h, bc, f, rot)) {
      val (cLat, cLon) = decodeOnFace(f, i, j, k, hFrame)
      val latDeg = math.toDegrees(cLat)
      val lonDeg = math.toDegrees(cLon)
      if (latLngToCell(latDeg, lonDeg, res) == h) return (latDeg, lonDeg)
    }
    throw new IllegalStateException(
      s"cellToLatLng: no owner face round-trips for ${h3ToString(h)}")
  }

  /** full canonical index from res-`res` coords in `face`'s frame —
    * the latLngToCell tail, reused to validate frame projections.
    */
  private def indexFromFaceIjk(face: Int, ijk: IJK, res: Int): Long = {
    normalize(ijk) // offset arithmetic hands in raw (possibly negative)
    // coords; at res 0 digitsFromIjk passes them straight to the base
    // cell lookup
    val (h0, bcIjk) = digitsFromIjk(ijk, res)
    if (bcIjk.i > 2 || bcIjk.j > 2 || bcIjk.k > 2) return InvalidIndex
    val packed = faceIjkBaseCell(face)(bcIjk.i.toInt)(bcIjk.j.toInt)(bcIjk.k.toInt)
    if (packed < 0) return InvalidIndex
    val bc = packed / 8
    canonicalize(face, bc, packed % 8, h0 | (bc.toLong << 45))
  }

  /** hex grid distance between two same-resolution cells
    * (h3_distance, RadiusOfGyrationHandler.py:139-140). Both cells are
    * projected into ONE face's grid frame — valid exactly when each
    * projection re-indexes bit-exactly to its cell, which is checked;
    * cross-fold pairs at fine resolutions (where no shared frame can
    * represent both cells) return -1, the same failure surface the
    * reference implementation's local-IJK distance reports. Within a
    * face the distance is exact.
    */
  def gridDistance(a: Long, b: Long): Long = {
    // mixed resolutions are un-rankable — same -1 error surface as a
    // cross-fold pair, so callers filter both cases with one predicate
    if (getResolution(a) != getResolution(b)) return -1L
    if (a == b) return 0L
    val (aLat, aLon) = cellToLatLng(a)
    gridDistanceFrom(a, aLat, aLon, b)
  }

  /** [[gridDistance]] with the origin's center precomputed — gridDisk
    * validates up to 4(2k+1)² candidates against one origin and must
    * not re-decode it every time.
    */
  /** three nearest faces to a unit vector — one allocation-free scan
    * (this sits on the k-ring hot path; a sortBy over 0 until 20 costs
    * boxing + vector allocs per call).
    */
  private def nearestFaces3(v: (Double, Double, Double)): Array[Int] = {
    val best = Array(-1, -1, -1)
    val bd = Array(Double.MaxValue, Double.MaxValue, Double.MaxValue)
    var f = 0
    while (f < 20) {
      val d = sqDist(faceCenterPoint(f), v)
      if (d < bd(0)) {
        bd(2) = bd(1); best(2) = best(1)
        bd(1) = bd(0); best(1) = best(0)
        bd(0) = d; best(0) = f
      } else if (d < bd(1)) {
        bd(2) = bd(1); best(2) = best(1)
        bd(1) = d; best(1) = f
      } else if (d < bd(2)) { bd(2) = d; best(2) = f }
      f += 1
    }
    best
  }

  private def gridDistanceFrom(a: Long, aLat: Double, aLon: Double,
      b: Long, aFaces: Array[Int] = null): Long = {
    val res = getResolution(a)
    val (bLat, bLon) = cellToLatLng(b)
    val aRad = (math.toRadians(aLat), math.toRadians(aLon))
    val bRad = (math.toRadians(bLat), math.toRadians(bLon))
    // a pentagon sits on an icosahedron VERTEX (5 incident faces), so
    // the shared frame is not always either endpoint's nearest face:
    // rank the 3 closest to each endpoint and try all distinct ones
    // (the origin's ranking is passed in by gridDisk, which calls this
    // once per candidate against the same origin)
    val af = if (aFaces != null) aFaces
      else nearestFaces3(geoToVec3(aRad._1, aRad._2))
    val bf = nearestFaces3(geoToVec3(bRad._1, bRad._2))
    var cand = (af ++ bf).distinct.toList
    while (cand.nonEmpty) {
      val f = cand.head
      cand = cand.tail
      val (ax, ay) = geoToHex2dOnFace(f, aRad._1, aRad._2, res)
      val (bx, by) = geoToHex2dOnFace(f, bRad._1, bRad._2, res)
      val pa = hex2dToIjk(ax, ay)
      val pb = hex2dToIjk(bx, by)
      val va = new IJK(pa.i, pa.j, pa.k)
      val vb = new IJK(pb.i, pb.j, pb.k)
      if (indexFromFaceIjk(f, va, res) == a && indexFromFaceIjk(f, vb, res) == b) {
        val d = new IJK(pa.i - pb.i, pa.j - pb.j, pa.k - pb.k)
        normalize(d)
        return math.max(d.i, math.max(d.j, d.k))
      }
    }
    -1L
  }

  /** all cells within grid distance `k` of `origin` (k_ring /
    * gridDisk, home_ageb_imputers.py:36-39), origin included. Offsets
    * are enumerated in each nearby face frame where the origin
    * re-indexes exactly, candidates materialized through the canonical
    * pipeline, and every member admitted only with a verified center
    * distance in [1, k] — so no misprojection can smuggle a wrong cell
    * in. Complete away from pentagon distortion (the reference
    * implementation also special-cases pentagon-adjacent disks).
    */
  def gridDisk(origin: Long, k: Int): Array[Long] = {
    require(k >= 0, "k must be >= 0")
    if (k == 0) return Array(origin)
    val res = getResolution(origin)
    val (oLatD, oLonD) = cellToLatLng(origin)
    val oLat = math.toRadians(oLatD)
    val oLon = math.toRadians(oLonD)
    val ov = geoToVec3(oLat, oLon)
    val out = scala.collection.mutable.LinkedHashSet[Long](origin)
    // a hexagon's complete disk has exactly 3k(k+1)+1 members; disks
    // containing a pentagon are strictly smaller, so hitting the bound
    // proves completeness and later frames can't add anything
    val fullSize = 3 * k * (k + 1) + 1
    val oFaces = nearestFaces3(ov)
    // 5 frames, not 4: a pentagon origin touches five faces, and its
    // k≥2 ball has members only reachable through the farthest of them
    val faces = (0 until 20).sortBy(f => sqDist(faceCenterPoint(f), ov)).take(5)
    for (f <- faces if out.size < fullSize) {
      val (x, y) = geoToHex2dOnFace(f, oLat, oLon, res)
      val o = hex2dToIjk(x, y)
      if (indexFromFaceIjk(f, o.copy(), res) == origin) {
        // offsets a·I + b·J: the I/J axes are 120° apart, so the
        // radius-k ball is max(|a|,|b|) ≤ k for same-sign (a,b) and
        // |a|+|b| ≤ k for opposite signs — NOT the axial-coordinate
        // rhombus
        var a = -k
        while (a <= k) {
          var b = -k
          while (b <= k) {
            val inBall = a * b >= 0 || math.abs(a) + math.abs(b) <= k
            if ((a != 0 || b != 0) && inBall) {
              val cand = indexFromFaceIjk(f,
                new IJK(o.i + a, o.j + b, o.k), res)
              if (cand != InvalidIndex && cand != origin && !out.contains(cand)) {
                val d = gridDistanceFrom(origin, oLatD, oLonD, cand, oFaces)
                if (d >= 1 && d <= k) out += cand
              }
            }
            b += 1
          }
          a += 1
        }
      }
    }
    out.toArray
  }

  /** parent at `parentRes` (h3_to_parent): digit truncation. */
  def cellToParent(h: Long, parentRes: Int): Long = {
    val res = getResolution(h)
    require(parentRes >= 0 && parentRes <= res,
      s"parent res $parentRes invalid for res $res")
    if (parentRes == res) return h
    var p = (h & ~(0xfL << 52)) | (parentRes.toLong << 52)
    var r = parentRes + 1
    while (r <= res) { p = setDigit(p, r, 7L); r += 1 }
    p
  }

  /** cell boundary vertices (lat, lon degrees), ring-ordered by
    * azimuth from the cell center (cellToBoundary / h3_to_geo_boundary
    * analog). DUAL construction, not the spec's substrate projection:
    * each vertex is the spherical circumcenter of the three mutually
    * adjacent cell centers meeting there (cell + two consecutive
    * gridDisk-1 neighbors), i.e. the point equidistant from all three
    * — the geometric definition of a hexagonal tiling's vertex. The
    * vertices agree with h3lib's to within the icosahedral projection
    * distortion (h3lib additionally inserts distortion vertices where
    * an edge crosses an icosa edge; those are not produced here).
    * Hexagons yield 6 vertices, pentagons 5. H3Spec pins the
    * equidistance property and center containment.
    */
  def cellToBoundary(h: Long): Array[(Double, Double)] = {
    val (cLatD, cLonD) = cellToLatLng(h)
    val cLat = math.toRadians(cLatD)
    val cLon = math.toRadians(cLonD)
    val cv = geoToVec3(cLat, cLon)
    val nbrs = gridDisk(h, 1).filter(_ != h)
    val ordered = nbrs.map { n =>
      val (laD, loD) = cellToLatLng(n)
      val la = math.toRadians(laD); val lo = math.toRadians(loD)
      (geoToVec3(la, lo), posAngle(azimuth(cLat, cLon, la, lo)))
    }.sortBy(_._2).map(_._1)
    val k = ordered.length
    Array.tabulate(k) { i =>
      val v = circumcenter(cv, ordered(i), ordered((i + 1) % k))
      (math.toDegrees(v._1), math.toDegrees(v._2))
    }
  }

  // ------------------------------------------------------------------
  // substrate-exact cell boundary — h3lib's own planar construction
  // (faceijk.c _faceIjkToCellBoundary / _faceIjkPentToCellBoundary,
  // clean-room from the published algorithm): vertices live on a
  // 3×-finer "substrate" grid of the owner face, cross-face vertices
  // re-project through face-neighbor transforms, and Class III edges
  // that cross an icosahedron edge gain a distortion vertex at the
  // exact planar intersection. The dual construction above
  // ([[cellToBoundary]]) has no distortion vertices at folds; this
  // one reproduces them. The face-neighbor transform table is DERIVED
  // from this file's own face geometry at init (see
  // [[faceNeighborTransforms]]) rather than transcribed, and the
  // whole path self-certifies: H3SubstrateBoundarySpec re-indexes
  // [[h3ToFaceIjk]] output through [[indexFromFaceIjk]] for random
  // cells at every resolution parity.
  // ------------------------------------------------------------------

  /** rotate ijk 60° ccw about the origin (i→i+j axes). */
  private def ijkRotate60ccw(c: IJK): Unit = {
    val i = c.i; val j = c.j; val k = c.k
    c.i = i + k; c.j = i + j; c.k = j + k
    normalize(c)
  }

  private def ijkRotate60cw(c: IJK): Unit = {
    val i = c.i; val j = c.j; val k = c.k
    c.i = i + j; c.j = j + k; c.k = i + k
    normalize(c)
  }

  /** one aperture-3 step finer, ccw orientation. */
  private def downAp3(c: IJK): Unit = {
    val i = c.i; val j = c.j; val k = c.k
    c.i = 2 * i + j; c.j = 2 * j + k; c.k = i + 2 * k
    normalize(c)
  }

  /** one aperture-3 step finer, cw orientation. */
  private def downAp3r(c: IJK): Unit = {
    val i = c.i; val j = c.j; val k = c.k
    c.i = 2 * i + k; c.j = i + 2 * j; c.k = j + 2 * k
    normalize(c)
  }

  /** max (i+j+k) on a face at a CLASS II res: 2·7^(res/2). */
  private def maxDimByCIIres(res: Int): Long = {
    var m = 2L; var r = 0
    while (r < res) { m *= 7; r += 2 }
    m
  }

  /** res-0 units per CLASS II res-r unit: 7^(res/2). */
  private def unitScaleByCIIres(res: Int): Long = {
    var m = 1L; var r = 0
    while (r < res) { m *= 7; r += 2 }
    m
  }

  private final val DirIJ = 1
  private final val DirKI = 2
  private final val DirJK = 3

  private final val NoOverage = 0
  private final val FaceEdge = 1
  private final val NewFace = 2

  /** continuous face-plane point → geo; `substrate` divides the grid
    * pitch by 3 (and by √7 once more at Class III, whose substrate is
    * one aperture-7 finer) and skips the Class III axis rotation,
    * which the substrate transform has already absorbed.
    */
  private def hex2dToGeo(face: Int, x: Double, y: Double, res: Int,
      substrate: Boolean): (Double, Double) = {
    val mag = math.sqrt(x * x + y * y)
    if (mag < Eps) return faceCenterGeo(face)
    var theta = math.atan2(y, x)
    var r = mag
    var i = 0
    while (i < res) { r /= Sqrt7; i += 1 }
    if (substrate) {
      r /= 3.0
      if (isClassIII(res)) r /= Sqrt7
    }
    r *= Res0UGnomonic
    r = math.atan(r)
    if (!substrate && isClassIII(res)) theta = posAngle(theta + Ap7Rot)
    val az = posAngle(faceAxesAz(face)._1 - theta)
    val (fcLat, fcLon) = faceCenterGeo(face)
    azDistance(fcLat, fcLon, az, r)
  }

  /** (neighbor face, ccw 60° rotations, translate ijk) per (face,
    * overage quadrant) — the face-unfolding transforms, DERIVED from
    * this file's own geometry instead of transcribed: for each face
    * and each exit edge, two probe points just beyond the edge are
    * indexed in both the home frame and the true nearest-face frame
    * at Class II res 2; the rotation count falls out of the probe
    * difference vector (translations cancel), the translation from
    * either probe, and integrality plus cross-probe agreement certify
    * the entry (init throws otherwise). Index 0 is the identity row.
    */
  private lazy val faceNeighborTransforms
      : Array[Array[(Int, Int, (Long, Long, Long))]] = {
    val res = 2
    val unitScale = unitScaleByCIIres(res)
    val maxDim = maxDimByCIIres(res).toDouble
    val corners = Array(
      (maxDim, 0.0),
      (-maxDim / 2.0, maxDim * Sin60),
      (-maxDim / 2.0, -maxDim * Sin60))
    // quadrant → the face-triangle edge it exits through (corner ids
    // are the i/j/k axis corners in that order)
    val edgeOf = Map(DirIJ -> ((0, 1)), DirJK -> ((1, 2)), DirKI -> ((2, 0)))
    def axial(c: IJK) = (c.i - c.k, c.j - c.k)
    def rotN(c: IJK, n: Int): IJK = {
      val t = c.copy(); var i = 0
      while (i < n) { ijkRotate60ccw(t); i += 1 }
      t
    }
    Array.tabulate(20) { f =>
      val row = new Array[(Int, Int, (Long, Long, Long))](4)
      row(0) = (f, 0, (0L, 0L, 0L))
      for (dir <- Seq(DirIJ, DirKI, DirJK)) {
        val (a, b) = edgeOf(dir)
        def probe(t: Double): (IJK, IJK, Int) = {
          val x = 1.10 * ((1 - t) * corners(a)._1 + t * corners(b)._1)
          val y = 1.10 * ((1 - t) * corners(a)._2 + t * corners(b)._2)
          val (lat, lon) = hex2dToGeo(f, x, y, res, substrate = false)
          val f2 = nearestFace(lat, lon)
          val (x2, y2) = geoToHex2dOnFace(f2, lat, lon, res)
          (hex2dToIjk(x, y), hex2dToIjk(x2, y2), f2)
        }
        val (c1p, c2p, f2p) = probe(0.37)
        val (c1q, c2q, f2q) = probe(0.61)
        require(f2p == f2q, s"face $f dir $dir: probes straddle faces")
        require(f2p != f, s"face $f dir $dir: probe did not exit the face")
        val want = (axial(c2p)._1 - axial(c2q)._1,
          axial(c2p)._2 - axial(c2q)._2)
        val n = (0 to 5).find { n =>
          val dp = axial(rotN(c1p, n)); val dq = axial(rotN(c1q, n))
          (dp._1 - dq._1, dp._2 - dq._2) == want
        }.getOrElse(throw new IllegalStateException(
          s"face $f dir $dir: no 60° rotation aligns the frames"))
        val rp = axial(rotN(c1p, n))
        val ta = (axial(c2p)._1 - rp._1, axial(c2p)._2 - rp._2)
        require(ta._1 % unitScale == 0 && ta._2 % unitScale == 0,
          s"face $f dir $dir: non-integral translation $ta")
        val rq = axial(rotN(c1q, n))
        require(axial(c2q)._1 - rq._1 == ta._1
          && axial(c2q)._2 - rq._2 == ta._2,
          s"face $f dir $dir: probes disagree on translation")
        val tv = new IJK(ta._1 / unitScale, ta._2 / unitScale, 0)
        normalize(tv)
        row(dir) = (f2p, n, (tv.i, tv.j, tv.k))
      }
      row
    }
  }

  /** quadrant index connecting face a → face b (0 when a == b). */
  private lazy val adjacentFaceDir: Array[Array[Int]] = {
    val m = Array.fill(20, 20)(-1)
    var f = 0
    while (f < 20) {
      m(f)(f) = 0
      for (d <- Seq(DirIJ, DirKI, DirJK)) m(f)(faceNeighborTransforms(f)(d)._1) = d
      f += 1
    }
    m
  }

  /** Move a Class II faceIJK that falls off its face onto the right
    * neighbor frame (h3lib _adjustOverageClassII). `fr(0)` and `ijk`
    * mutate; returns the overage class. On a substrate grid a point
    * ON the shared edge reports FaceEdge and stays put.
    */
  private def adjustOverageClassII(fr: Array[Int], ijk: IJK, res: Int,
      pentLeading4: Boolean, substrate: Boolean): Int = {
    var overage = NoOverage
    var maxDim = maxDimByCIIres(res)
    if (substrate) maxDim *= 3
    val sum = ijk.i + ijk.j + ijk.k
    if (substrate && sum == maxDim) overage = FaceEdge
    else if (sum > maxDim) {
      overage = NewFace
      val dir =
        if (ijk.k > 0) { if (ijk.j > 0) DirJK else DirKI } else DirIJ
      if (dir == DirKI && pentLeading4) {
        // pentagon leading-4: rotate the KI quadrant about the i-axis
        // corner to skip the deleted k subsequence (normalize is
        // axial-preserving, so the intermediate negative i is safe)
        ijk.i -= maxDim
        normalize(ijk)
        ijkRotate60cw(ijk)
        ijk.i += maxDim
        normalize(ijk)
      }
      val (nf, rot, tv) = faceNeighborTransforms(fr(0))(dir)
      fr(0) = nf
      var i = 0
      while (i < rot) { ijkRotate60ccw(ijk); i += 1 }
      var us = unitScaleByCIIres(res)
      if (substrate) us *= 3
      ijk.i += tv._1 * us; ijk.j += tv._2 * us; ijk.k += tv._3 * us
      normalize(ijk)
      // overage points on pentagon boundaries can land exactly on edges
      if (substrate && ijk.i + ijk.j + ijk.k == maxDim) overage = FaceEdge
    }
    overage
  }

  /** owner (face, ijk at the cell's res) — h3lib _h3ToFaceIjk: decode
    * in the home frame, then resolve at most one overage (hexagons)
    * or chase secondary overages (pentagons).
    */
  private def h3ToFaceIjk(hIn: Long): (Int, IJK) = {
    val bc = getBaseCell(hIn)
    var h = hIn
    if (isPentagonBaseCell(bc) && leadingNonZeroDigit(h) == 5)
      h = rotate60cw(h)
    val (hf, hi, hj, hk, _, _, _) = baseCellData(bc)
    val ijk = new IJK(hi, hj, hk)
    val res0 = getResolution(h)
    val possibleOverage = isPentagonBaseCell(bc) ||
      (res0 != 0 && !(ijk.i == 0 && ijk.j == 0 && ijk.k == 0))
    var r = 1
    while (r <= res0) {
      if (isClassIII(r)) downAp7(ijk) else downAp7r(ijk)
      val u = unitVecs(getDigit(h, r))
      ijk.i += u._1; ijk.j += u._2; ijk.k += u._3
      normalize(ijk)
      r += 1
    }
    val fr = Array(hf)
    if (possibleOverage) {
      val orig = ijk.copy()
      var res = res0
      if (isClassIII(res)) { downAp7r(ijk); res += 1 }
      val pentLeading4 =
        isPentagonBaseCell(bc) && leadingNonZeroDigit(h) == 4
      if (adjustOverageClassII(fr, ijk, res, pentLeading4,
          substrate = false) != NoOverage) {
        if (isPentagonBaseCell(bc)) {
          while (adjustOverageClassII(fr, ijk, res, pentLeading4 = false,
            substrate = false) != NoOverage) ()
        }
        if (res != res0) upAp7r(ijk)
      } else if (res != res0) {
        ijk.i = orig.i; ijk.j = orig.j; ijk.k = orig.k
      }
    }
    (fr(0), ijk)
  }

  /** Spec hook: the owner-frame decomposition must re-index to the
    * same cell through the fully independent [[indexFromFaceIjk]]
    * path (base-cell lookup + canonicalize) — the self-certification
    * for [[h3ToFaceIjk]], the derived face-neighbor table, and the
    * overage adjustment in one shot.
    */
  def faceIjkRoundTrips(h: Long): Boolean = {
    val (f, ijk) = h3ToFaceIjk(h)
    indexFromFaceIjk(f, ijk.copy(), getResolution(h)) == h
  }

  /** Spec hook: the cell's owner icosahedron face (0-19). */
  def ownerFace(h: Long): Int = h3ToFaceIjk(h)._1

  /** Spec hook: face center (lat, lon radians) — lets the boundary
    * spec assert a distortion vertex sits ON a face edge
    * (equidistant from the two nearest face centers).
    */
  def faceCenterForSpec(face: Int): (Double, Double) = faceCenterGeo(face)

  /** substrate vertex offsets of an origin cell, ccw from the i-axis:
    * Class II lives on an aperture-33r substrate, Class III on 33r7r
    * (one aperture-7 finer to get back to Class II orientation).
    * Pentagons use the first five.
    */
  private val substrateVertsCII: Array[(Long, Long, Long)] = Array(
    (2L, 1L, 0L), (1L, 2L, 0L), (0L, 2L, 1L),
    (0L, 1L, 2L), (1L, 0L, 2L), (2L, 0L, 1L))
  private val substrateVertsCIII: Array[(Long, Long, Long)] = Array(
    (5L, 4L, 0L), (1L, 5L, 0L), (0L, 5L, 4L),
    (0L, 1L, 5L), (4L, 0L, 5L), (5L, 0L, 1L))

  /** center (face, ijk, res) → (substrate center, adjusted res, verts). */
  private def substrateVerts(center: IJK, res: Int, nVerts: Int)
      : (Int, Array[IJK]) = {
    val c = center.copy()
    downAp3(c); downAp3r(c)
    var adjRes = res
    if (isClassIII(res)) { downAp7r(c); adjRes += 1 }
    val vt = if (isClassIII(res)) substrateVertsCIII else substrateVertsCII
    val verts = Array.tabulate(nVerts) { v =>
      val ijk = new IJK(c.i + vt(v)._1, c.j + vt(v)._2, c.k + vt(v)._3)
      normalize(ijk)
      ijk
    }
    (adjRes, verts)
  }

  /** planar segment intersection (h3lib _v2dIntersect — parametric,
    * callers guarantee the segments genuinely cross).
    */
  private def v2dIntersect(p0: (Double, Double), p1: (Double, Double),
      p2: (Double, Double), p3: (Double, Double)): (Double, Double) = {
    val s1x = p1._1 - p0._1; val s1y = p1._2 - p0._2
    val s2x = p3._1 - p2._1; val s2y = p3._2 - p2._2
    val t = (s2x * (p0._2 - p2._2) - s2y * (p0._1 - p2._1)) /
      (-s2x * s1y + s1x * s2y)
    (p0._1 + t * s1x, p0._2 + t * s1y)
  }

  /** the icosahedron face triangle's corners in SUBSTRATE hex2d. */
  private def faceCorners(adjRes: Int): Array[(Double, Double)] = {
    val m = maxDimByCIIres(adjRes).toDouble
    Array((3.0 * m, 0.0), (-1.5 * m, 3.0 * Sin60 * m),
      (-1.5 * m, -3.0 * Sin60 * m))
  }

  private def faceEdgeFor(adjRes: Int, dir: Int)
      : ((Double, Double), (Double, Double)) = {
    val c = faceCorners(adjRes)
    dir match {
      case DirIJ => (c(0), c(1))
      case DirJK => (c(1), c(2))
      case DirKI => (c(2), c(0))
      case d => throw new IllegalStateException(s"not an edge quadrant: $d")
    }
  }

  /** cell id → boundary vertices (lat, lon DEGREES) via the substrate
    * construction — h3lib-faithful including the Class III distortion
    * vertices at icosahedron-edge crossings, which the dual
    * construction ([[cellToBoundary]]) structurally lacks. Vertex
    * order matches h3lib's: ccw, distortion vertices interleaved
    * before the vertex that crossed, closing-edge distortion last.
    */
  def cellToBoundaryExact(h: Long): Array[(Double, Double)] =
    cellToBoundaryExactTagged(h).map { case (la, lo, _) => (la, lo) }

  /** [[cellToBoundaryExact]] with each vertex tagged true when it is
    * an INSERTED icosahedron-edge distortion vertex (vs one of the
    * cell's own substrate vertices) — the spec hook for asserting the
    * distortion structure precisely.
    */
  def cellToBoundaryExactTagged(h: Long): Array[(Double, Double, Boolean)] = {
    require(isValidCell(h), s"invalid cell ${h3ToString(h)}")
    val res = getResolution(h)
    val (face0, centerIjk) = h3ToFaceIjk(h)
    val out =
      if (isPentagon(h)) pentBoundarySubstrate(face0, centerIjk, res)
      else hexBoundarySubstrate(face0, centerIjk, res)
    out.map { case (la, lo, d) => (math.toDegrees(la), math.toDegrees(lo), d) }
  }

  private def hexBoundarySubstrate(face0: Int, center: IJK, res: Int)
      : Array[(Double, Double, Boolean)] = {
    val (adjRes, verts) = substrateVerts(center, res, 6)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
    var lastFace = -1
    var lastOverage = NoOverage
    var vert = 0
    while (vert < 7) { // extra iteration: closing-edge distortion only
      val v = vert % 6
      val fr = Array(face0)
      val ijk = verts(v).copy()
      val overage =
        adjustOverageClassII(fr, ijk, adjRes, pentLeading4 = false,
          substrate = true)
      // a Class III edge whose endpoints project to different faces
      // crosses the icosahedron edge: insert the exact planar
      // intersection, computed in the ORIGINAL face's substrate plane
      // (Class II vertices land ON face edges — no crossings)
      if (isClassIII(res) && vert > 0 && fr(0) != lastFace
          && lastOverage != FaceEdge) {
        val lastV = (v + 5) % 6
        val p0 = ijkToHex2d(verts(lastV))
        val p1 = ijkToHex2d(verts(v))
        // the crossed icosahedron edge is center-face ↔ whichever
        // endpoint left the center face (the last one, if both did)
        val face2 = if (lastFace == face0) fr(0) else lastFace
        val (e0, e1) = faceEdgeFor(adjRes, adjacentFaceDir(face0)(face2))
        val inter = v2dIntersect(p0, p1, e0, e1)
        // an intersection AT a hexagon vertex means both half-edges
        // already lie on single faces — no extra vertex
        if (inter != p0 && inter != p1) {
          val g = hex2dToGeo(face0, inter._1, inter._2, adjRes,
            substrate = true)
          out += ((g._1, g._2, true))
        }
      }
      if (vert < 6) {
        val (x, y) = ijkToHex2d(ijk)
        val g = hex2dToGeo(fr(0), x, y, adjRes, substrate = true)
        out += ((g._1, g._2, false))
      }
      lastFace = fr(0)
      lastOverage = overage
      vert += 1
    }
    out.toArray
  }

  private def pentBoundarySubstrate(face0: Int, center: IJK, res: Int)
      : Array[(Double, Double, Boolean)] = {
    val (adjRes, verts) = substrateVerts(center, res, 5)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
    var lastFace = -1
    var lastIjk: IJK = null
    var vert = 0
    while (vert < 6) {
      val v = vert % 5
      val fr = Array(face0)
      val ijk = verts(v).copy()
      // pentagon vertices can overage across several faces — chase
      var ov = adjustOverageClassII(fr, ijk, adjRes, pentLeading4 = false,
        substrate = true)
      while (ov == NewFace)
        ov = adjustOverageClassII(fr, ijk, adjRes, pentLeading4 = false,
          substrate = true)
      // every Class III pentagon edge crosses an icosahedron edge
      if (isClassIII(res) && vert > 0) {
        // express THIS vertex in the LAST vertex's face frame, then
        // intersect with that frame's face edge
        val dirToLast = adjacentFaceDir(fr(0))(lastFace)
        require(dirToLast > 0,
          s"pentagon edge endpoints unexpectedly share face ${fr(0)}")
        val (nf, rot, tv) = faceNeighborTransforms(fr(0))(dirToLast)
        val cur = ijk.copy()
        var i = 0
        while (i < rot) { ijkRotate60ccw(cur); i += 1 }
        val us = unitScaleByCIIres(adjRes) * 3
        cur.i += tv._1 * us; cur.j += tv._2 * us; cur.k += tv._3 * us
        normalize(cur)
        val p0 = ijkToHex2d(lastIjk)
        val p1 = ijkToHex2d(cur)
        val (e0, e1) = faceEdgeFor(adjRes, adjacentFaceDir(nf)(fr(0)))
        val inter = v2dIntersect(p0, p1, e0, e1)
        val g = hex2dToGeo(nf, inter._1, inter._2, adjRes, substrate = true)
        out += ((g._1, g._2, true))
      }
      if (vert < 5) {
        val (x, y) = ijkToHex2d(ijk)
        val g = hex2dToGeo(fr(0), x, y, adjRes, substrate = true)
        out += ((g._1, g._2, false))
      }
      lastFace = fr(0)
      lastIjk = ijk
      vert += 1
    }
    out.toArray
  }

  /** circumcenter (lat, lon radians) of the spherical triangle abc:
    * normalize((b − a) × (c − a)), oriented into a's hemisphere —
    * equidistant from all three by construction.
    */
  private def circumcenter(a: (Double, Double, Double),
      b: (Double, Double, Double), c: (Double, Double, Double)): (Double, Double) = {
    val (ux, uy, uz) = (b._1 - a._1, b._2 - a._2, b._3 - a._3)
    val (wx, wy, wz) = (c._1 - a._1, c._2 - a._2, c._3 - a._3)
    var vx = uy * wz - uz * wy
    var vy = uz * wx - ux * wz
    var vz = ux * wy - uy * wx
    if (vx * a._1 + vy * a._2 + vz * a._3 < 0) { vx = -vx; vy = -vy; vz = -vz }
    val n = math.sqrt(vx * vx + vy * vy + vz * vz)
    (math.asin(vz / n), math.atan2(vy / n, vx / n))
  }

  /** direct + deeper descendants at `childRes` (cellToChildren):
    * append every digit combination, skipping digit 1 (the deleted K
    * subsequence) under a pentagon parent — pentagons have 6 children,
    * hexagons 7. Depth capped so an errant res pair can't explode.
    */
  def cellToChildren(h: Long, childRes: Int): Array[Long] = {
    val res = getResolution(h)
    require(childRes >= res && childRes <= 15, s"child res $childRes invalid for res $res")
    require(childRes - res <= 6, s"refusing to expand ${childRes - res} levels (7^n blowup)")
    var cur = Array(h)
    var r = res + 1
    while (r <= childRes) {
      cur = cur.flatMap { p =>
        val withRes = (p & ~(0xfL << 52)) | (r.toLong << 52)
        val digits = if (isPentagon(p)) Seq(0L, 2L, 3L, 4L, 5L, 6L) else (0L to 6L)
        digits.map(d => setDigit(withRes, r, d))
      }
      r += 1
    }
    cur
  }

  def isPentagon(h: Long): Boolean =
    isPentagonBaseCell(getBaseCell(h)) && leadingNonZeroDigit(h) == 0

  def isValidCell(h: Long): Boolean = {
    if ((h >> 63) != 0L || ((h >> 59) & 0xfL) != ModeCell) return false
    if (((h >> 56) & 7L) != 0L) return false
    val res = getResolution(h)
    val bc = getBaseCell(h)
    if (bc >= NumBaseCells) return false
    var r = 1
    var foundFirst = false
    while (r <= 15) {
      val d = getDigit(h, r)
      if (r <= res) {
        if (d == 7) return false
        if (!foundFirst && d != 0) {
          foundFirst = true
          if (d == 1 && isPentagonBaseCell(bc)) return false
        }
      } else if (d != 7) return false
      r += 1
    }
    true
  }

  /** lowercase-hex string form ('8928308280fffff'). */
  def h3ToString(h: Long): String = java.lang.Long.toHexString(h)

  def stringToH3(s: String): Long = java.lang.Long.parseUnsignedLong(s.trim, 16)
}
