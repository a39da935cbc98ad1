package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Op, Tables}

/** Document deduplication for LLM training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. All engine-portable (oracle-
  * checked) via the md5-based [[CrossHash.hash60]].
  *
  * Scale shapes (100 TB):
  *  - exact: one hash-groupBy, no join.
  *  - jaccard: (doc, shingle) explode → equi-join on (block, shingle) →
  *    pair-count agg. Blocking bounds the candidate set; the join never
  *    materializes the full doc×doc cross product.
  *  - minhash: one pass of grouped MIN aggregations (map-side partial),
  *    then a band-bucket equi-join — the standard shingle→minhash→band
  *    →bucket-join cascade.
  *  - simhash: (doc, token, bit) explode → grouped sign votes →
  *    bit-packed signature; exact-bucket grouping on the signature.
  */
object Dedup {

  // ---- shared shingle/token relations --------------------------------

  // The relational shingle spelling survives only as the ORACLE's CTE:
  // the engine side now builds shingle hashes / minhash signatures in
  // one codegen'd pass per row (graft.functions.TextShingleExpressions)
  // instead of exploding shingle strings through exchanges.

  private[operators] val shinglesSql =
    """SELECT DISTINCT doc_id, source,
      |  unnest(list_transform(range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
      |    i -> array_to_string((string_split(text, ' '))[i + 1:i + 3], ' '))) AS shingle
      |FROM documents""".stripMargin

  /** Exact dedup: md5 content hash → group → representative (min id) +
    * duplicate count. Output one row per distinct content.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  private val dedupExactSql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** N-gram Jaccard near-dup: source-blocked shingle join, pair
    * intersection counts, |A∪B| = |A|+|B|−|A∩B|, keep pairs ≥ 0.5.
    *
    * Scale shape (r2): the distinct AND the self-join both run over the
    * 8-byte `xxhash64(shingle)` instead of the raw shingle string
    * (exchange bytes ÷~5; a 64-bit collision would need ~2^32 distinct
    * shingles to matter). The two join inputs are the identical
    * distinct subtree (exchange computed once, reused at runtime) and
    * the sizes relation is doc-count-sized, so both join-backs
    * broadcast. (Variants measured and rejected at sf0.1: per-row
    * `array_distinct` over shingle STRINGS — quadratic row-local dedup,
    * 2× slower; window-count singleton prefilter — the full sort costs
    * more than the singletons it prunes; in-bucket collect_list pair
    * expansion — interpreted HOF lambdas in the hot path, 2× slower.)
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.shingle_hash_set
    // One codegen'd pass builds the per-doc DISTINCT shingle-hash set
    // in place ([[graft.functions.ShingleHashSetExpr]]), so the per-doc
    // size is a COLUMN riding along the exploded rows — no distinct
    // exchange, no sizes relation, no join-backs. Plan = explode →
    // self-equi-join on (source, hash) → pair aggregation: exactly two
    // exchanges, the join's computed once and reused for both sides.
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), shingle_hash_set(col("text")).as("shs"))
      .select(col("doc_id"), col("source"), size(col("shs")).as("sz"),
        explode(col("shs")).as("sh"))
    // shuffle_hash hint: AQE would otherwise runtime-convert this self-
    // join to broadcast, and a BroadcastExchange cannot reuse the
    // shuffle the other side already pays for — measured 2-4× subtree
    // re-evaluation. At 100 TB both sides are corpus-sized, so shuffle
    // is the right physical join there regardless.
    val a = keyed.alias("a").hint("shuffle_hash")
    val b = keyed.alias("b")
    a.join(b,
        col("a.source") === col("b.source")
          && col("a.sh") === col("b.sh")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("n_inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("n_inter"))).as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }

  private val dedupNgramJaccardSql =
    s"""WITH sh AS ($shinglesSql),
       |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b
       |    ON a.source = b.source AND a.shingle = b.shingle
       |   AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON inter.doc_a = sa.doc_id
       |JOIN sizes sb ON inter.doc_b = sb.doc_id
       |WHERE CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.5""".stripMargin

  /** Asymmetric shingle CONTAINMENT dedup (r8): c(A→B) = |A∩B|/|A| —
    * the fraction of A's shingles found in B. Resemblance (Jaccard)
    * dedup structurally misses subset relationships: a 10-shingle
    * quote embedded in a 200-shingle article has Jaccard ≈ 0.05 but
    * containment 1.0, and quote/boilerplate/aggregator containment is
    * a first-class failure mode in web training corpora (the
    * Broder resemblance-vs-containment distinction). Emits both
    * directions for every same-source pair whose max containment
    * clears 0.5, thresholded on the ROUNDED value so both engines
    * agree at the boundary (ContainmentSpec proves the capability gap
    * on a constructed quote-in-article fixture: containment 1.0 at
    * Jaccard 0.05).
    *
    * Scale shape: identical to [[dedupNgramJaccard]] — one codegen'd
    * shingle-set pass (per-doc sizes ride the exploded rows), one
    * shuffle-hash self-equi-join on (source, shingle hash) with the
    * exchange computed once and reused, one pair aggregation. Never
    * all-pairs; fan-out bounded by posting-list sizes.
    */
  def containmentDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.shingle_hash_set
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), shingle_hash_set(col("text")).as("shs"))
      .select(col("doc_id"), col("source"), size(col("shs")).as("sz"),
        explode(col("shs")).as("sh"))
    val a = keyed.alias("a").hint("shuffle_hash")
    val b = keyed.alias("b")
    a.join(b,
        col("a.source") === col("b.source")
          && col("a.sh") === col("b.sh")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        round(col("n_inter").cast("double") / col("sz_a"), 9).as("c_a_in_b"),
        round(col("n_inter").cast("double") / col("sz_b"), 9).as("c_b_in_a"))
      .where(greatest(col("c_a_in_b"), col("c_b_in_a")) >= 0.5)
  }

  private val containmentDupSql =
    s"""WITH sh AS ($shinglesSql),
       |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b
       |    ON a.source = b.source AND a.shingle = b.shingle
       |   AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT doc_a, doc_b, n_inter,
       |    round(CAST(n_inter AS DOUBLE) / sa.n_shingles, 9) AS c_a_in_b,
       |    round(CAST(n_inter AS DOUBLE) / sb.n_shingles, 9) AS c_b_in_a
       |  FROM inter
       |  JOIN sizes sa ON inter.doc_a = sa.doc_id
       |  JOIN sizes sb ON inter.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, n_inter, c_a_in_b, c_b_in_a
       |FROM scored WHERE greatest(c_a_in_b, c_b_in_a) >= 0.5""".stripMargin

  // ---- MinHash + LSH -------------------------------------------------

  private[operators] val NumHashes = 8
  private[operators] val BandSize = 4 // => 2 bands
  private val Mod60 = 1152921504606846976L // 2^60

  /** Per-doc MinHash signature: k independent 60-bit hash mins in one
    * grouped pass (k agg columns → map-side partial aggregation).
    *
    * r2, two structural cuts vs r1:
    *  - NO distinct at all: min is duplicate-insensitive, so the
    *    occurrence-level rows feed partial mins directly and the only
    *    exchange carries one row per (doc, partition) — r1 paid a full
    *    distinct exchange first.
    *  - ONE md5 per shingle: the k seeded hashes derive by double-
    *    hashing h_i = (h1 + i·h2) mod 2^60 (Kirsch–Mitzenmacher) from
    *    the digest's two 60-bit halves — r1 paid k md5 evaluations per
    *    row. Max h1 + 7·h2 = 8·(2^60−1) < 2^63: exact BIGINT
    *    arithmetic, identical in both engines.
    */
  private def minhashSig(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.minhash_sig
    // One codegen'd per-row pass ([[graft.functions.MinHashSigExpr]]):
    // shingle → md5 → (h1 + i·h2) mod 2^60 running mins, all inside the
    // scan's whole-stage span. ZERO exchanges — r1 exploded every
    // shingle through a full distinct exchange plus a grouped
    // aggregation, and paid k md5s per shingle instead of one.
    val sig = Tables.documents(spark, dir)
      .select(col("doc_id"), minhash_sig(col("text"), lit(NumHashes)).as("sig"))
      .where(col("sig").isNotNull)
    sig.select(col("doc_id") +:
      (0 until NumHashes).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  private def mhSqlCols: String = (0 until NumHashes)
    .map(i => s"min((h1 + $i * h2) % $Mod60) AS mh$i")
    .mkString(",\n  ")

  private val hhSql =
    s"""SELECT doc_id,
       |  CAST('0x' || substr(m, 1, 15) AS BIGINT) AS h1,
       |  CAST('0x' || substr(m, 16, 15) AS BIGINT) AS h2
       |FROM (SELECT doc_id, md5(shingle) AS m FROM sh)""".stripMargin

  private[operators] val minhashSigSql: String =
    s"WITH sh AS ($shinglesSql),\nhh AS ($hhSql)\nSELECT doc_id,\n  $mhSqlCols\nFROM hh GROUP BY doc_id"

  /** MinHash signatures as a query (oracle-checked exactly). */
  def dedupMinhashSig(spark: SparkSession, dir: String): DataFrame =
    minhashSig(spark, dir)

  /** LSH candidate pairs: equal band (4 consecutive minhashes) in any
    * of the 2 bands, plus the minhash Jaccard estimate (fraction of
    * equal signature components).
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(spark, dir)
    // r2: band key is the 8-byte xxhash64 of the band's minhashes (r1
    // shuffled an ~80-char concat_ws string); join-key-only, so cross-
    // engine parity is not needed and a 64-bit collision only risks one
    // spurious low-estimate candidate pair (~n²/2^64).
    val bandCols = (0 until NumHashes / BandSize).map { bi =>
      struct(lit(bi).as("band_id"),
        xxhash64((0 until BandSize)
          .map(j => col(s"mh${bi * BandSize + j}")): _*).as("band_key"))
    }
    // signatures ride along through the band join: the two join inputs
    // are the identical subtree (one exchange, reused), and no
    // signature join-back is needed afterwards — a pair matching both
    // bands dedups in the same aggregation that emits the estimate.
    // (A window-count prefilter of singleton bands was measured and
    // rejected — the full sort costs more than the pruning wins; see
    // the jaccard docstring.)
    val banded = sig
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"mh$i")): _*).as("sig"),
        explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))
    // shuffle_hash for the same reason as the jaccard self-join: a
    // runtime broadcast of one banded side would re-evaluate the whole
    // sig subtree instead of reusing its shuffle (both sides AND the
    // band exchange are the identical subtree).
    val a = banded.alias("a").hint("shuffle_hash")
    val b = banded.alias("b")
    val estimate = (0 until NumHashes)
      .map(i => when(element_at(col("a.sig"), i + 1) ===
        element_at(col("b.sig"), i + 1), 1).otherwise(0))
      .reduce((x, y) => x + y)
      .cast("double") / NumHashes
    a.join(b,
        col("a.band_id") === col("b.band_id")
          && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(first(estimate).as("est_jaccard"))
  }

  private[operators] val dedupMinhashLshSql: String = {
    val bands = (0 until NumHashes / BandSize).map { bi =>
      val key = (0 until BandSize).map(j => s"mh${bi * BandSize + j}")
        .mkString("concat_ws('_', ", ", ", ")")
      s"SELECT doc_id, $bi AS band_id, $key AS band_key FROM sig"
    }.mkString("\nUNION ALL\n")
    val est = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sh AS ($shinglesSql),
       |hh AS ($hhSql),
       |sig AS (SELECT doc_id,
       |  $mhSqlCols
       |  FROM hh GROUP BY doc_id),
       |banded AS ($bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST($est AS DOUBLE) / $NumHashes AS est_jaccard
       |FROM cand
       |JOIN sig sa ON cand.doc_a = sa.doc_id
       |JOIN sig sb ON cand.doc_b = sb.doc_id""".stripMargin
  }

  // ---- SimHash -------------------------------------------------------

  private val SimBits = 16

  /** 16-bit SimHash per document: per-(doc, bit) frequency-weighted
    * sign votes over token md5 bits, packed into an integer signature.
    * Identical docs share signatures; grouping on the signature gives
    * exact-bucket near-dup classes.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // bit j of the first 4 hex digits of md5(tok):
    //   digit = j div 4 (1-based substr), bit-in-digit = 3 - j%4
    val bits = toks
      .select(col("doc_id"), col("tok"), explode(sequence(lit(0), lit(SimBits - 1))).as("j"))
      .select(col("doc_id"), col("j"),
        (floor(
          (instr(lit("0123456789abcdef"),
            substring(md5(col("tok")), (col("j") / 4).cast("int") + 1, lit(1))) - 1)
            / pow(lit(2.0), lit(3) - pmod(col("j"), lit(4)))).cast("long") % 2)
          .as("bit"))
    val votes = bits.groupBy(col("doc_id"), col("j"))
      .agg(sum(col("bit") * 2 - 1).as("vote"))
    votes.groupBy(col("doc_id"))
      .agg(sum(when(col("vote") > 0,
        pow(lit(2.0), col("j")).cast("long")).otherwise(0L)).as("simhash"))
  }

  private val dedupSimhashSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |bits AS (
       |  SELECT doc_id, j,
       |    CAST(floor((strpos('0123456789abcdef',
       |        substring(md5(tok), CAST(floor(j / 4) AS INTEGER) + 1, 1)) - 1)
       |      / pow(2.0, 3 - (j % 4))) AS BIGINT) % 2 AS bit
       |  FROM (SELECT doc_id, tok, unnest(range(0, $SimBits)) AS j FROM toks)),
       |votes AS (
       |  SELECT doc_id, j, SUM(bit * 2 - 1) AS vote
       |  FROM bits GROUP BY doc_id, j)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY doc_id""".stripMargin

  /** Blocked fuzzy matching: within-brand part-name pairs at edit
    * distance ≤ 2 — the entity-resolution primitive (typo dedup,
    * catalog reconciliation). Levenshtein is the textbook DP, defined
    * identically in every engine, so pairs are oracle-exact.
    *
    * Scale shape: the self-join is blocked on the brand key (an
    * equi-join), never name×name across the catalog — same discipline
    * as the shingle/band blocking above. The quadratic cost lives only
    * inside a block; skewed blocks would take the salting treatment
    * from `functions.Skew`. An O(1) LENGTH pre-filter rides in the
    * join condition (r9): dist ≤ 2 implies |len(a) − len(b)| ≤ 2 —
    * the textbook Levenshtein length bound (each edit changes length
    * by at most 1) — so the O(len²) DP runs only on length-compatible
    * pairs; on a 10×-merged brand block (the ≈sf1 sweep) this is the
    * difference between minutes and seconds, and at 100 TB it is the
    * guard that keeps a fat block from going fully quadratic in DP
    * cost (the ENUMERATION is still block²; n-gram blocking —
    * dedup_ngram_jaccard — is the scale path when blocks outgrow
    * this).
    */
  def fuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
    // compute the O(len²) DP once per pair — a filter-then-project
    // respelling would evaluate it twice (Filter and Project don't
    // share subexpressions across operators)
    p.alias("a").join(p.alias("b"),
        col("a.p_brand") === col("b.p_brand")
          && col("a.p_partkey") < col("b.p_partkey")
          && abs(length(col("a.p_name")) - length(col("b.p_name"))) <= 2)
      .withColumn("dist",
        levenshtein(col("a.p_name"), col("b.p_name")).cast("long"))
      .where(col("dist") <= 2)
      .select(col("a.p_brand").as("brand"),
        col("a.p_partkey").as("key_a"), col("b.p_partkey").as("key_b"),
        col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        col("dist"))
  }

  private val fuzzyPairsSql =
    """SELECT a.p_brand AS brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
      |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin

  /** Exact duplicated-substring spans (the token-level dedup of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022, done relationally): every token 8-gram whose hash occurs
    * ≥2 times anywhere in the corpus marks its window duplicated;
    * per-document runs of overlapping/adjacent duplicated windows merge
    * into spans [span_start, span_end] (token indices, 0-based). The
    * suffix-array step of the paper becomes a hash-equality corpus
    * count — exact for 8-gram granularity rather than arbitrary-length
    * matches, which is the standard scalable relaxation.
    *
    * Scale shape: one (corpus-tokens)-row relation of 8-byte gram
    * hashes; ONE exchange on the hash for the per-hash occurrence
    * count (window, no join-back relation to build); the span merge is
    * a per-document window — doc-bounded partitions. Never doc×doc,
    * never a collect. Boilerplate grams (headers repeated across a
    * 100 TB corpus) make hot hash partitions: the count-only window
    * carries no payload beyond (doc, pos), so skew is bandwidth-bounded;
    * beyond that, [[graft.functions.Skew]] salting applies.
    */
  def substringDupSpans(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.gram_hash_seq
    val k = 8
    // positional gram hashes come from one codegen'd byte-scan pass
    // ([[graft.functions.GramHashSeqExpr]]); the hashes are internal
    // join keys only (positions are the output), so the oracle's
    // string-equality grams match without sharing the hash function
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(gram_hash_seq(col("text"), lit(k))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    val dup = grams
      .withColumn("n_h", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("n_h") >= 2)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) > k, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wd))
    isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"),
        col("n_windows"))
  }

  private val substringDupSpansSql = {
    import graft.functions.CrossHash
    s"""WITH grams AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    ${CrossHash.hash60Sql("gram")} AS h
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, greatest(len(string_split(text, ' ')) - 7, 0)),
       |        i -> array_to_string((string_split(text, ' '))[i + 1:i + 8], ' '))) AS gram,
       |      unnest(range(0, greatest(len(string_split(text, ' ')) - 7, 0))) AS pos
       |    FROM documents)),
       |dup AS (
       |  SELECT doc_id, pos
       |  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS n_h FROM grams)
       |  WHERE n_h >= 2),
       |brk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
       |         THEN 1 ELSE 0 END AS b
       |  FROM dup),
       |isl AS (
       |  SELECT doc_id, pos,
       |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM brk)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
       |  max(pos) + 7 - min(pos) + 1 AS span_tokens, count(*) AS n_windows
       |FROM isl GROUP BY doc_id, island""".stripMargin
  }

  /** Sorted-neighborhood dedup (Hernández–Stolfo SNM): sort by a
    * blocking key, slide a w=3 window, compare only adjacent docs —
    * the LINEAR-candidate entity-resolution complement to the LSH
    * family (catches near-dups whose shingles drift but whose sort key
    * lands them adjacent; misses pairs the key separates — that
    * recall/cost trade IS the method). Key = (lang, length-block,
    * length, doc_id); candidates at offsets 1 and 2 match when the
    * 40-char-prefix edit distance ≤ 10 (true dups sit at 0–10, the
    * word-salad noise floor starts ~20 on this corpus).
    *
    * Scale shape: windows run INSIDE (lang, n_chars div 64) blocks —
    * partitioned lead(), no global sort; cross-block neighbors are
    * forfeited (documented SNM blocking), and the DP cost is
    * 2 comparisons per row, not a blocked quadratic.
    */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("lang"), expr("n_chars div 64"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        lead(col("doc_id"), 1).over(w).as("n1id"),
        lead(col("text"), 1).over(w).as("n1text"),
        lead(col("doc_id"), 2).over(w).as("n2id"),
        lead(col("text"), 2).over(w).as("n2text"))
    def pairs(off: Int, nid: String, ntext: String) =
      s.where(col(nid).isNotNull)
        .select(col("doc_id").as("doc_a"), col(nid).as("doc_b"),
          lit(off.toLong).as("offset"),
          levenshtein(substring(col("text"), 1, 40),
            substring(col(ntext), 1, 40)).cast("long").as("dist"))
    pairs(1, "n1id", "n1text")
      .unionByName(pairs(2, "n2id", "n2text"))
      .where(col("dist") <= 10)
  }

  private val sortedNeighborhoodSql =
    """WITH s AS (
      |  SELECT doc_id, lang, n_chars, text,
      |    lead(doc_id, 1) OVER w AS n1id, lead(text, 1) OVER w AS n1text,
      |    lead(doc_id, 2) OVER w AS n2id, lead(text, 2) OVER w AS n2text
      |  FROM documents
      |  WINDOW w AS (PARTITION BY lang, n_chars // 64
      |    ORDER BY n_chars ASC, doc_id ASC)),
      |cand AS (
      |  SELECT doc_id AS doc_a, n1id AS doc_b, CAST(1 AS BIGINT) AS "offset",
      |    CAST(levenshtein(substr(text, 1, 40), substr(n1text, 1, 40))
      |      AS BIGINT) AS dist
      |  FROM s WHERE n1id IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, n2id, CAST(2 AS BIGINT),
      |    CAST(levenshtein(substr(text, 1, 40), substr(n2text, 1, 40))
      |      AS BIGINT)
      |  FROM s WHERE n2id IS NOT NULL)
      |SELECT doc_a, doc_b, "offset", dist FROM cand WHERE dist <= 10""".stripMargin

  // ---- Prefix-filtered exact set-similarity join (PPJoin family) -----

  /** EXACT shingle-set Jaccard join via the prefix-filtering principle
    * (Chaudhuri et al. SSJoin / Xiao et al. PPJoin — published
    * algorithms): order each document's distinct 3-word shingles by
    * ascending global document frequency (rarest first), take the
    * (sz − ⌈τ·sz⌉ + 1)-prefix, and generate candidates ONLY from
    * shared prefix shingles. The prefix lemma guarantees zero false
    * negatives: J(x,y) ≥ τ forces the two prefixes to intersect under
    * any shared total order, so exact verification of the candidates
    * reproduces the brute-force answer — unlike the MinHash/SimHash
    * family this is a LOSSLESS accelerator, the right tool when the
    * pipeline contract says "every pair above τ", not "most".
    *
    * τ = 3/5. ALL gating arithmetic is integer-exact — prefix length
    * uses ⌈3·sz/5⌉ = (3·sz + 4) div 5, the size filter is
    * 5·min(sz) ≥ 3·max(sz), and the final threshold is
    * 5·inter ≥ 3·union — so no double can flip a boundary pair in
    * either engine; the output jaccard is one integer-derived double
    * division, bit-identical across engines. Shingles work as 8-byte
    * hashes throughout (the [[dedupNgramJaccard]] discipline and
    * collision bound); the string-keyed oracle matches value-for-value.
    *
    * Scale shape (100 TB): df is a shingle-vocabulary aggregation; the
    * ordered-set build is one hash-keyed join plus one doc-keyed
    * aggregation whose buffer is a single document's distinct shingle
    * hashes (document-length-bounded, the payload itself); the
    * candidate join touches only prefix shingles — by construction the
    * RAREST ~2/5 of each document, so posting lists in the self-join
    * are short where fan-out would hurt (a boilerplate shingle can
    * only enter the prefix of a near-empty doc); verification is two
    * doc-keyed shuffle-hash joins + a row-local intersect. Candidate
    * volume is bounded by rare-shingle df², never corpus². All joins
    * shuffle-hash-pinned (corpus-derived sides must not broadcast).
    */
  def setSimJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.shingle_hash_set
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(shingle_hash_set(col("text"))).as("token"))
    val df = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // rarest-first total order, ties broken by shingle hash:
    // sort_array over (df, hash) structs is that order; the
    // aggregation buffer holds one document's distinct shingles —
    // bounded by doc length. df is corpus-derived (a 100 TB shingle
    // vocabulary is trillions of entries) — shuffle-hash-pinned as
    // the per-partition build side, never broadcast.
    val docsets = tok.join(df.hint("shuffle_hash"), "token")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("token")))).as("ord"))
      .select(col("doc_id"),
        expr("transform(ord, s -> s.token)").as("toks"),
        size(col("ord")).cast("long").as("sz"))
    // prefix length p = sz − ⌈τ·sz⌉ + 1 with τ = 3/5, integer-exact
    val prefix = docsets
      .select(col("doc_id"), col("sz"),
        explode(expr("slice(toks, 1, CAST(sz - ((3 * sz + 4) DIV 5) + 1 AS INT))"))
          .as("ptok"))
    val pa = prefix.alias("pa").hint("shuffle_hash")
    val pb = prefix.alias("pb")
    val cand = pa.join(pb,
        col("pa.ptok") === col("pb.ptok")
          && col("pa.doc_id") < col("pb.doc_id")
          // size filter: J ≥ 3/5 ⟹ 5·min(sz) ≥ 3·max(sz)
          && lit(5) * least(col("pa.sz"), col("pb.sz"))
             >= lit(3) * greatest(col("pa.sz"), col("pb.sz")))
      .groupBy(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_prefix")) // dedup multi-token hits
    // verification joins: the CANDIDATE side is the build side (match-
    // bounded), the corpus-sized docsets relation streams past it
    val da = docsets.alias("da")
    val db = docsets.alias("db")
    cand.hint("shuffle_hash").join(da, col("doc_a") === col("da.doc_id"))
      .hint("shuffle_hash").join(db, col("doc_b") === col("db.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("da.toks"), col("db.toks"))).cast("long")
          .as("n_inter"),
        col("da.sz").as("sz_a"), col("db.sz").as("sz_b"))
      .where(lit(5) * col("n_inter")
        >= lit(3) * (col("sz_a") + col("sz_b") - col("n_inter")))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("n_inter"))).as("jaccard"))
  }

  // The oracle is the brute-force semantics — the prefix filter is a
  // pure engine-side accelerator with a zero-false-negative guarantee,
  // so the reference answer is independent of it (threshold stated in
  // the same integer form: 5·inter ≥ 3·union).
  private val setSimJoinSql =
    s"""WITH tok AS (SELECT doc_id, shingle AS token FROM ($shinglesSql)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM tok a JOIN tok b
       |    ON a.token = b.token AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter,
       |  CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON inter.doc_a = sa.doc_id
       |JOIN sizes sb ON inter.doc_b = sb.doc_id
       |WHERE 5 * n_inter >= 3 * (sa.sz + sb.sz - n_inter)""".stripMargin

  /** Candidate-quality evaluation of the MinHash/LSH pipeline against
    * the exact n-gram Jaccard ground truth — the dedup twin of
    * `ann_rank_metrics` (which audits the ANN retrieval the same way):
    * before trusting banding parameters to sweep 100 TB, measure what
    * fraction of true near-dup pairs the bands actually catch
    * (recall) and how much junk they admit (precision). Truth = the
    * registered exact-Jaccard pairs (same-source, τ = 0.5); LSH
    * candidates are restricted to same-source pairs so the two sets
    * range over the same pair universe. One row: counts + P/R/F1.
    *
    * Float parity: all counts are exact integers; precision/recall
    * are single divisions; F1 uses the single-division identity
    * 2·tp/(n_truth + n_cand) (the rouge_bleu discipline — never
    * 2PR/(P+R), two divisions compound rounding).
    *
    * Scale shape: both pair relations are match-bounded (≪ corpus);
    * the source lookup joins a bounded pair list against the
    * documents projection, and the final full-outer join + count runs
    * on bounded inputs. Nothing new is corpus-sized beyond the two
    * existing subtrees being evaluated.
    */
  def dedupLshEval(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val truth = dedupNgramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    // broadcast the MATCH-BOUNDED pair side explicitly (the
    // dedupCanonical convention): fixture-scale AQE happily broadcasts
    // the (doc_id, source) projection instead — corpus-sized at 100 TB
    val cand0 = dedupMinhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val withA = src.select(col("doc_id").as("doc_a"), col("source").as("src_a"))
      .join(broadcast(cand0), Seq("doc_a"))
    val cand = src.select(col("doc_id").as("doc_b"), col("source").as("src_b"))
      .join(broadcast(withA), Seq("doc_b"))
      .where(col("src_a") === col("src_b"))
      .select(col("doc_a"), col("doc_b"))
    val j = truth.withColumn("in_truth", lit(1L))
      .join(cand.withColumn("in_cand", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
    j.agg(
        sum(coalesce(col("in_truth"), lit(0L))).cast("long").as("n_truth"),
        sum(coalesce(col("in_cand"), lit(0L))).cast("long").as("n_cand"),
        sum(when(col("in_truth").isNotNull && col("in_cand").isNotNull, 1L)
          .otherwise(0L)).cast("long").as("tp"))
      .select(col("n_truth"), col("n_cand"), col("tp"),
        expr("round(CASE WHEN n_cand > 0 THEN CAST(tp AS DOUBLE) / n_cand END, 9)")
          .as("precision"),
        expr("round(CASE WHEN n_truth > 0 THEN CAST(tp AS DOUBLE) / n_truth END, 9)")
          .as("recall"),
        // CAST(2*tp AS DOUBLE), never 2.0*tp: a decimal literal would
        // put Spark on a DECIMAL division path where DuckDB goes
        // DOUBLE (the r18 zorder lesson); 2*tp is exact in BIGINT
        expr("round(CASE WHEN n_truth + n_cand > 0 THEN " +
          "CAST(2 * tp AS DOUBLE) / (n_truth + n_cand) END, 9)").as("f1"))
  }

  private val dedupLshEvalSql =
    s"""WITH truth0 AS ($dedupNgramJaccardSql),
       |truth AS (SELECT doc_a, doc_b FROM truth0),
       |lsh AS ($dedupMinhashLshSql),
       |docsrc AS (SELECT doc_id, source FROM documents),
       |cand AS (
       |  SELECT l.doc_a, l.doc_b FROM lsh l
       |  JOIN docsrc a ON l.doc_a = a.doc_id
       |  JOIN docsrc b ON l.doc_b = b.doc_id
       |  WHERE a.source = b.source),
       |j AS (
       |  SELECT coalesce(t.doc_a, c.doc_a) AS doc_a,
       |    coalesce(t.doc_b, c.doc_b) AS doc_b,
       |    CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
       |    CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_cand
       |  FROM truth t FULL OUTER JOIN cand c
       |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
       |agg AS (
       |  SELECT CAST(SUM(in_truth) AS BIGINT) AS n_truth,
       |    CAST(SUM(in_cand) AS BIGINT) AS n_cand,
       |    CAST(SUM(in_truth * in_cand) AS BIGINT) AS tp
       |  FROM j)
       |SELECT n_truth, n_cand, tp,
       |  round(CASE WHEN n_cand > 0 THEN CAST(tp AS DOUBLE) / n_cand END, 9)
       |    AS precision,
       |  round(CASE WHEN n_truth > 0 THEN CAST(tp AS DOUBLE) / n_truth END, 9)
       |    AS recall,
       |  round(CASE WHEN n_truth + n_cand > 0 THEN
       |    CAST(2 * tp AS DOUBLE) / (n_truth + n_cand) END, 9) AS f1
       |FROM agg""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("sorted_neighborhood", sortedNeighborhood, Some(sortedNeighborhoodSql)),
    // bench: composes the two heaviest dedup subtrees + a full-outer
    // pair join — a natural end-to-end regression guard for the family
    Op("dedup_lsh_eval", dedupLshEval, Some(dedupLshEvalSql), bench = true),
    Op("dedup_exact", dedupExact, Some(dedupExactSql)),
    Op("substring_dup_spans", substringDupSpans, Some(substringDupSpansSql), bench = true),
    Op("fuzzy_pairs", fuzzyPairs, Some(fuzzyPairsSql)),
    Op("dedup_ngram_jaccard", dedupNgramJaccard, Some(dedupNgramJaccardSql), bench = true),
    Op("containment_dup", containmentDup, Some(containmentDupSql)),
    Op("dedup_minhash_sig", dedupMinhashSig, Some(minhashSigSql)),
    Op("dedup_minhash_lsh", dedupMinhashLsh, Some(dedupMinhashLshSql), bench = true),
    Op("dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Op("set_sim_join", setSimJoin, Some(setSimJoinSql), bench = true),
  )
}
