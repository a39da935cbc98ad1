package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Registration of the engine's custom Catalyst expressions through the
  * public SparkSessionExtensions API (injected in graft.Sessions), plus
  * Column-level wrappers (via call_function, so no private Spark API is
  * touched).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(e)
    e.injectOptimizerRule(_ => graft.plans.SelfJoinShuffleRule)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinRewrite)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  private val registry: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("hex_index", "hex_index(lat, lon, res) - hierarchical hex cell id",
      es => HexIndexExpr(es(0), es(1), es(2))),
    ("hex_center_lat", "hex_center_lat(cell) - cell centroid latitude",
      es => HexCenterExpr(es.head, isLat = true)),
    ("hex_center_lon", "hex_center_lon(cell) - cell centroid longitude",
      es => HexCenterExpr(es.head, isLat = false)),
    ("hex_grid_distance", "hex_grid_distance(a, b) - hex steps between cells",
      es => HexGridDistanceExpr(es(0), es(1))),
    ("hex_kring", "hex_kring(cell, k) - cells within grid distance k",
      es => HexKRingExpr(es(0), es(1))),
    ("hex_parent", "hex_parent(cell, res) - containing cell at coarser res",
      es => HexParentExpr(es(0), es(1))),
    ("h3_index", "h3_index(lat, lon, res) - true H3 cell id (bit-compatible)",
      es => H3IndexExpr(es(0), es(1), es(2))),
    ("h3_parent", "h3_parent(cell, res) - containing H3 cell at coarser res",
      es => H3ParentExpr(es(0), es(1))),
    ("h3_center_lat", "h3_center_lat(cell) - H3 cell centroid latitude",
      es => H3CenterExpr(es.head, isLat = true)),
    ("h3_center_lon", "h3_center_lon(cell) - H3 cell centroid longitude",
      es => H3CenterExpr(es.head, isLat = false)),
    ("h3_grid_distance", "h3_grid_distance(a, b) - hex steps between H3 cells",
      es => H3GridDistanceExpr(es(0), es(1))),
    ("h3_kring", "h3_kring(cell, k) - H3 cells within grid distance k",
      es => H3KRingExpr(es(0), es(1))),
    ("h3_resolution", "h3_resolution(cell) - resolution encoded in an H3 id",
      es => H3ResolutionExpr(es.head)),
    ("h3_is_pentagon", "h3_is_pentagon(cell) - true for the 12 pentagons per res",
      es => H3IsPentagonExpr(es.head)),
    ("h3_boundary_wkt", "h3_boundary_wkt(cell) - cell boundary polygon as WKT",
      es => H3BoundaryWktExpr(es.head)),
    ("h3_boundary_exact_wkt", "h3_boundary_exact_wkt(cell) - substrate-exact boundary WKT (distortion vertices at icosa edges)",
      es => H3BoundaryExactWktExpr(es.head)),
    ("h3_children", "h3_children(cell, res) - descendants at a finer res",
      es => H3ChildrenExpr(es(0), es(1))),
    ("st_contains", "st_contains(rings, lon, lat) - point-in-polygon",
      es => StContainsExpr(es(0), es(1), es(2))),
    ("vec_dot", "vec_dot(a, b) - sequential-order dot product of numeric arrays",
      es => DotExpr(es(0), es(1))),
    ("hilbert_d", "hilbert_d(x, y) - Hilbert-curve distance of a 16-bit grid cell",
      es => HilbertDExpr(es(0), es(1))),
    ("shingle_hash_set", "shingle_hash_set(text) - distinct word-3-gram hashes",
      es => ShingleHashSetExpr(es.head)),
    ("minhash_sig", "minhash_sig(text, k) - k-value md5 minhash signature",
      es => MinHashSigExpr(es(0), es(1))),
    ("gram_hash_seq", "gram_hash_seq(text, k) - all word-k-gram hashes in position order",
      es => GramHashSeqExpr(es(0), es(1))),
    ("gram_hash_set", "gram_hash_set(text, k) - distinct word-k-gram hashes",
      es => GramHashSetExpr(es(0), es(1))),
    ("gram_tf", "gram_tf(text, k) - struct(n2, array<struct(g, tf)>) per-doc gram tfs",
      es => GramTfExpr(es(0), es(1))),
    ("gram_bucket_hist", "gram_bucket_hist(text, b) - per-doc uni+bigram md5-bucket histogram",
      es => GramBucketHistExpr(es(0), es(1))),
    ("posting_pairs", "posting_pairs(ps) - canonical co-posting pairs with tf product and both norms",
      es => PostingPairsExpr(es.head)),
    ("tagged_stripes", "tagged_stripes(members) - per member and partner tag of an id-sorted array of (BIGINT id, BIGINT tag), the larger partners' ids",
      es => TaggedStripesExpr(es.head)),
    ("min_k_distinct_tagged", "min_k_distinct_tagged(key, tag, k) - k smallest distinct BIGINT keys with their BIGINT tags; O(k) buffer",
      es => {
        require(es(2).foldable, "min_k_distinct_tagged: k must be a literal")
        val kk = es(2).eval()
        require(kk != null, "min_k_distinct_tagged: k must be non-null")
        MinKDistinctTaggedAgg(es(0), es(1), kk.asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }),
    ("device_presence", "device_presence(caid, cell, tw, cap) - per device: its home, its distinct (cell, tw) rows and its cells as tagged rows; past cap rows it keeps none",
      es => {
        require(es(3).foldable, "device_presence: cap must be a literal")
        val cap = es(3).eval()
        require(cap != null, "device_presence: cap must be non-null")
        DevicePresenceAgg(es(0), es(1), es(2), cap.asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }),
    ("cuts_bucket", "cuts_bucket(key, cuts, asc) - binary-search range bucket over literal sorted cuts",
      es => {
        require(es(1).foldable && es(2).foldable,
          "cuts_bucket: cuts and asc must be literals")
        val arr = es(1).eval()
        val asc = es(2).eval()
        require(arr != null && asc != null, "cuts_bucket: cuts/asc must be non-null")
        CutsBucketExpr(es(0),
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
          asc.asInstanceOf[Boolean])
      }),
    ("crs_epsg_easting", "crs_epsg_easting(code, lon, lat) - EPSG-dispatched forward easting (m)",
      es => EpsgEastingExpr(es(0), es(1), es(2))),
    ("crs_epsg_northing", "crs_epsg_northing(code, lon, lat) - EPSG-dispatched forward northing (m)",
      es => EpsgNorthingExpr(es(0), es(1), es(2))),
    ("crs_epsg_lon", "crs_epsg_lon(code, easting, northing) - EPSG-dispatched inverse longitude (deg)",
      es => EpsgLonExpr(es(0), es(1), es(2))),
    ("crs_epsg_lat", "crs_epsg_lat(code, easting, northing) - EPSG-dispatched inverse latitude (deg)",
      es => EpsgLatExpr(es(0), es(1), es(2))),
    ("helmert_lon", "helmert_lon(code, lon, lat) - datum shift to WGS84, longitude (deg)",
      es => HelmertLonExpr(es(0), es(1), es(2))),
    ("helmert_lat", "helmert_lat(code, lon, lat) - datum shift to WGS84, latitude (deg)",
      es => HelmertLatExpr(es(0), es(1), es(2))),
    ("helmert_inv_lon", "helmert_inv_lon(code, lon, lat) - datum shift from WGS84, longitude (deg)",
      es => HelmertInvLonExpr(es(0), es(1), es(2))),
    ("helmert_inv_lat", "helmert_inv_lat(code, lon, lat) - datum shift from WGS84, latitude (deg)",
      es => HelmertInvLatExpr(es(0), es(1), es(2))),
    ("asof_cond", "asof_cond(lkey, rkey, ltime, rtime) - as-of join marker predicate",
      es => graft.plans.AsOfCondExpr(es(0), es(1), es(2), es(3))),
    ("bloom_build", "bloom_build(key, items, fpp) - serialized bloom filter over long keys",
      es => {
        require(es(1).foldable && es(2).foldable,
          "bloom_build: items and fpp must be literals")
        val items = es(1).eval()
        val fpp = es(2).eval()
        require(items != null && fpp != null,
          "bloom_build: items and fpp must be non-null")
        BloomBuildAgg(es(0),
          items.asInstanceOf[Number].longValue(),
          fpp.asInstanceOf[Number].doubleValue()).toAggregateExpression()
      }),
    ("bitset_agg", "bitset_agg(idx, n) - fixed-width bitset over dense int indexes [0, n)",
      es => {
        require(es(1).foldable, "bitset_agg: n must be a literal")
        val n = es(1).eval()
        require(n != null, "bitset_agg: n must be non-null")
        BitsetAgg(es(0), n.asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }),
    ("heavy_hitters", "heavy_hitters(token, capacity) - Misra-Gries frequent-items summary",
      es => {
        require(es(1).foldable, "heavy_hitters: capacity must be a literal")
        val cap = es(1).eval()
        require(cap != null, "heavy_hitters: capacity must be non-null")
        MisraGriesAgg(es(0), cap.asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }),
    ("ngram_explode", "ngram_explode(text, n) - lazy (pos, ngram) rows per word n-gram",
      es => NgramExplodeExpr(es(0), es(1))),
    ("topk_pairs", "topk_pairs(score, id, k) - k largest (score, id) pairs, bounded-heap agg",
      es => {
        require(es(2).foldable, "topk_pairs: k must be a literal")
        val k = es(2).eval()
        require(k != null, "topk_pairs: k must be non-null")
        TopKPairsAgg(es(0), es(1), k.asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }),
    ("min_k_distinct", "min_k_distinct(value, k) - k smallest distinct BIGINTs, sorted; O(k) buffer",
      es => {
        require(es(1).foldable, "min_k_distinct: k must be a literal")
        val kk = es(1).eval()
        require(kk != null, "min_k_distinct: k must be non-null")
        MinKDistinctAgg(es(0), kk.asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }),
    ("capped_collect", "capped_collect(struct, limit) - collect_list retaining at most limit+1 elements (build-then-gate groups)",
      es => {
        require(es(1).foldable, "capped_collect: limit must be a literal")
        val lim = es(1).eval()
        require(lim != null, "capped_collect: limit must be non-null")
        CappedCollectAgg(es(0), lim.asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }),
    ("co_counts", "co_counts(ibs, minCount) - per group, the elements held by >= minCount of its arrays, with their counts, sorted",
      es => {
        require(es(1).foldable, "co_counts: minCount must be a literal")
        val m = es(1).eval()
        require(m != null, "co_counts: minCount must be non-null")
        CoCountsAgg(es(0), m.asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }),
    ("bloom_might_contain", "bloom_might_contain(key, bloom) - probe a build-time bloom filter",
      es => {
        require(es(1).foldable,
          "bloom_might_contain: the bloom argument must be a literal " +
            "(build it first via BloomExpressions.build)")
        BloomMightContainExpr(es(0), es(1).eval().asInstanceOf[Array[Byte]])
      }),
    ("jaro_sim", "jaro_sim(a, b) - Jaro similarity (DuckDB-corner-exact)",
      es => JaroExpr(es(0), es(1))),
    ("jaro_winkler_sim", "jaro_winkler_sim(a, b) - Jaro-Winkler similarity (boost > 0.7, prefix <= 4)",
      es => JaroWinklerExpr(es(0), es(1))),
    ("damerau_levenshtein", "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein distance",
      es => DamerauLevenshteinExpr(es(0), es(1))),
    ("lev_bytes", "lev_bytes(a, b) - Levenshtein over BYTES (Spark's builtin walks code points; DuckDB's walks bytes)",
      es => LevBytesExpr(es(0), es(1))),
    ("char_jaccard", "char_jaccard(a, b) - Jaccard over distinct byte sets",
      es => CharJaccardExpr(es(0), es(1))),
    ("hamming_dist", "hamming_dist(a, b) - mismatching bytes for equal-length strings (-1 otherwise)",
      es => HammingExpr(es(0), es(1))),
  )

  def inject(e: SparkSessionExtensions): Unit =
    registry.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }

  // Column-level API
  def hex_index(lat: Column, lon: Column, res: Column): Column =
    call_function("hex_index", lat, lon, res)
  def hex_center_lat(cell: Column): Column = call_function("hex_center_lat", cell)
  def hex_center_lon(cell: Column): Column = call_function("hex_center_lon", cell)
  def hex_grid_distance(a: Column, b: Column): Column =
    call_function("hex_grid_distance", a, b)
  def hex_kring(cell: Column, k: Column): Column = call_function("hex_kring", cell, k)
  def hex_parent(cell: Column, res: Column): Column =
    call_function("hex_parent", cell, res)
  def h3_index(lat: Column, lon: Column, res: Column): Column =
    call_function("h3_index", lat, lon, res)
  def h3_parent(cell: Column, res: Column): Column =
    call_function("h3_parent", cell, res)
  def h3_grid_distance(a: Column, b: Column): Column =
    call_function("h3_grid_distance", a, b)
  def h3_kring(cell: Column, k: Column): Column = call_function("h3_kring", cell, k)
  def h3_center_lat(cell: Column): Column = call_function("h3_center_lat", cell)
  def h3_center_lon(cell: Column): Column = call_function("h3_center_lon", cell)
  def h3_resolution(cell: Column): Column = call_function("h3_resolution", cell)
  def h3_is_pentagon(cell: Column): Column = call_function("h3_is_pentagon", cell)
  def h3_boundary_wkt(cell: Column): Column = call_function("h3_boundary_wkt", cell)
  def h3_boundary_exact_wkt(cell: Column): Column =
    call_function("h3_boundary_exact_wkt", cell)
  def h3_children(cell: Column, res: Column): Column =
    call_function("h3_children", cell, res)
  def st_contains(rings: Column, lon: Column, lat: Column): Column =
    call_function("st_contains", rings, lon, lat)
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Order-free double SUM — THE spelling for any double sum whose
    * result feeds a rounded, oracle-compared output (the "pagerank
    * lesson", TODO r12): a raw double SUM is aggregation-ORDER-
    * dependent, and a final round cannot mask a value landing within
    * an ulp of its rounding boundary. Rounding each term to 15 dp and
    * accumulating as exact DECIMAL(28,15) makes the sum associative
    * (identical in Spark partial aggregation and DuckDB's sequential
    * fold). Oracle mirror:
    * `CAST(SUM(CAST(round(term, 15) AS DECIMAL(28,15))) AS DOUBLE)`.
    * Term magnitude must stay under 10^13 (the integral capacity of
    * DECIMAL(28,15)).
    */
  def sum_order_free(term: Column): Column =
    sum_order_free_agg(term).cast("double")

  /** Windowed variant: `sum_order_free_agg(term).over(w).cast
    * ("double")` must attach `.over` to the aggregate itself, so the
    * final cast cannot live inside one shared method — use this
    * composition (or [[sum_order_free_over]]) instead of re-spelling
    * the rounding/precision constants.
    */
  def sum_order_free_over(term: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum_order_free_agg(term).over(w).cast("double")

  private def sum_order_free_agg(term: Column): Column = {
    import org.apache.spark.sql.functions.{round, sum}
    sum(round(term, 15).cast(org.apache.spark.sql.types.DecimalType(28, 15)))
  }
  def shingle_hash_set(text: Column): Column =
    call_function("shingle_hash_set", text)
  def minhash_sig(text: Column, k: Column): Column =
    call_function("minhash_sig", text, k)
  def gram_hash_seq(text: Column, k: Column): Column =
    call_function("gram_hash_seq", text, k)
  def gram_hash_set(text: Column, k: Column): Column =
    call_function("gram_hash_set", text, k)
  def gram_tf(text: Column, k: Column): Column =
    call_function("gram_tf", text, k)
  def jaro_sim(a: Column, b: Column): Column = call_function("jaro_sim", a, b)
  def jaro_winkler_sim(a: Column, b: Column): Column =
    call_function("jaro_winkler_sim", a, b)
  def damerau_levenshtein(a: Column, b: Column): Column =
    call_function("damerau_levenshtein", a, b)
  def lev_bytes(a: Column, b: Column): Column = call_function("lev_bytes", a, b)
  def char_jaccard(a: Column, b: Column): Column =
    call_function("char_jaccard", a, b)
  def hamming_dist(a: Column, b: Column): Column =
    call_function("hamming_dist", a, b)
  def bloom_might_contain(key: Column, bloom: Column): Column =
    call_function("bloom_might_contain", key, bloom)

  /** Native as-of join ([[graft.plans.AsOfJoinExec]]): for each left
    * row, the right row with equal key and greatest rTime ≤ lTime;
    * left-outer semantics. Plans as one co-partitioned sorted merge.
    */
  def asof_join(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      lKey: Column, rKey: Column, lTime: Column, rTime: Column): org.apache.spark.sql.DataFrame =
    left.join(right, call_function("asof_cond", lKey, rKey, lTime, rTime), "left")
}
