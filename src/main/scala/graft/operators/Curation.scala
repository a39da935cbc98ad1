package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, Tables}
import graft.operators.TextAnalysis.Stopwords

/** Corpus-curation operators a production training-data pipeline runs
  * between raw ingest and tokenization: deterministic splitting,
  * train/test decontamination, PII masking, repetition scoring.
  *
  * All four are oracle-checked (DuckDB SQL over the same parquet) and
  * all scale linearly: splits and scrubbing are pure per-row maps,
  * decontamination is a blocked equi-join on 8-byte shingle hashes,
  * repetition is two partial-aggregated exchanges.
  */
object Curation {

  /** Portable 60-bit content-independent hash of the doc id — the
    * md5-halves trick from CrossHash: identical in Spark and DuckDB,
    * so the SPLIT ASSIGNMENT itself is oracle-checkable (a split that
    * can't be reproduced engine-to-engine is a provenance bug waiting
    * to happen).
    */
  private def splitBucket(id: Column): Column =
    graft.functions.CrossHash.hash60(id.cast("string")) % 10

  private val splitBucketSql =
    graft.functions.CrossHash.hash60Sql("CAST(doc_id AS VARCHAR)") + " % 10"

  private def splitCol(b: Column): Column =
    when(b < 8, lit("train")).when(b === 8, lit("val")).otherwise(lit("test"))

  /** Deterministic 80/10/10 train/val/test split. Stateless and
    * shuffle-free: any executor can recompute any doc's split, re-runs
    * are reproducible, and late-arriving data lands in stable splits —
    * the properties row-number sampling loses at scale.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        splitCol(splitBucket(col("doc_id"))).as("split"))

  private val trainTestSplitSql =
    s"""SELECT doc_id, source,
       |  CASE WHEN $splitBucketSql < 8 THEN 'train'
       |       WHEN $splitBucketSql = 8 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin

  /** Test-set decontamination: for every test-split document, how many
    * of its distinct word-3-grams also appear anywhere in the train
    * split. The eval-leakage check every LLM data pipeline runs before
    * shipping a benchmark split.
    *
    * Scale shape: per-doc shingle-hash sets come from the codegen'd
    * single-pass kernel (no shingle strings materialize); the join is
    * test-shingles × DISTINCT-train-shingles on an 8-byte key — both
    * sides corpus-bounded, never doc×doc. Docs with < 3 tokens have no
    * shingles and are excluded (same exclusion as the dedup family).
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.shingle_hash_set
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        splitBucket(col("doc_id")).as("b"))
    val trainSh = docs.where(col("b") < 8)
      .select(explode(shingle_hash_set(col("text"))).as("sh"))
      .distinct()
      .select(col("sh"), lit(1).as("hit"))
    val testSh = docs.where(col("b") === 9)
      .select(col("doc_id"), shingle_hash_set(col("text")).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("sz"), explode(col("shs")).as("sh"))
    testSh.join(trainSh, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(first(col("sz")).as("n_shingles"),
        count(col("hit")).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_shingles"))
          .as("contamination"))
  }

  private val decontaminateSql =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
       |      i -> array_to_string((string_split(text, ' '))[i + 1:i + 3], ' '))) AS shingle
       |  FROM documents),
       |b AS (SELECT doc_id, $splitBucketSql AS b FROM documents),
       |train AS (
       |  SELECT DISTINCT shingle FROM sh JOIN b USING (doc_id) WHERE b.b < 8),
       |test AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh JOIN b USING (doc_id) WHERE b.b = 9)
       |SELECT test.doc_id, count(*) AS n_shingles,
       |  count(train.shingle) AS n_contaminated,
       |  CAST(count(train.shingle) AS DOUBLE) / count(*) AS contamination
       |FROM test LEFT JOIN train USING (shingle)
       |GROUP BY 1""".stripMargin

  /** PII masking over the customer dimension: the digit identifier in
    * the customer name keeps only its last 4 characters (the rest of
    * the digits X'd — the phone-number masking pattern), digit runs
    * collapse to '#' for the redaction variant, and a digits-found
    * count supports a scrub audit. Pure per-row map — no shuffle at
    * any scale. Regexes are single character classes, identical under
    * Java regex and RE2.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    // greatest(len-4, 0): names shorter than 4 chars must not hand the
    // oracle a negative substring length (DuckDB errors where Spark
    // returns "") — latent on fixed-width c_name, load-bearing on any
    // other column
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        concat(
          regexp_replace(
            expr("substring(c_name, 1, greatest(length(c_name) - 4, 0))"),
            "[0-9]", "X"),
          expr("right(c_name, 4)")).as("name_masked"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("name_redacted"),
        (length(col("c_name"))
          - length(regexp_replace(col("c_name"), "[0-9]", "")))
          .as("n_digits"))

  private val piiScrubSql =
    """SELECT c_custkey,
      |  regexp_replace(substring(c_name, 1, greatest(length(c_name) - 4, 0)),
      |    '[0-9]', 'X', 'g') || right(c_name, 4) AS name_masked,
      |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_redacted,
      |  length(c_name)
      |    - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS n_digits
      |FROM customer""".stripMargin

  /** Per-document repetition score (Gopher-style boilerplate filter):
    * total tokens, distinct tokens, and the most-frequent token's share
    * of the document. Two exchanges, both map-side combined.
    */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        (max(col("n")).cast("double") / sum(col("n"))).as("top_token_frac"))

  private val repetitionScoreSql =
    """SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
      |  count(*) AS n_distinct,
      |  CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_token_frac
      |FROM (
      |  SELECT doc_id, tok, count(*) AS n
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2)
      |GROUP BY 1""".stripMargin

  /** Deterministic per-source quota sampling (dataset mixing): at most
    * N docs per source, chosen by the portable hash so the sample is
    * reproducible and rank-stable across engines and re-runs. The
    * rank-≤-N filter plans as WindowGroupLimit: partial top-N runs
    * map-side BEFORE the exchange, so the shuffle carries at most
    * N·sources·partitions rows no matter the corpus size.
    */
  def quotaSample(spark: SparkSession, dir: String, perSource: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.CrossHash.hash60(col("doc_id").cast("string"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("h").asc, col("doc_id").asc)))
      .where(col("rk") <= perSource)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  private val quotaSampleSql =
    s"""SELECT doc_id, source, rk FROM (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ${graft.functions.CrossHash.hash60Sql("CAST(doc_id AS VARCHAR)")} ASC,
       |               doc_id ASC) AS rk
       |  FROM documents)
       |WHERE rk <= 40""".stripMargin

  /** Per-document top-3 TF-IDF terms: corpus document frequency
    * (distinct-doc count per token) joined back to term frequencies,
    * idf = ln(N / df), deterministic tie-break on the token.
    *
    * Scale shape: both aggregations partial map-side; the DF relation
    * is vocabulary-sized (≪ corpus) so the join-back broadcasts; the
    * final top-3 is WindowGroupLimit, partial before the doc exchange.
    * ln is bit-identical across engines (both delegate to libm-style
    * log); the ratio feeding it is exact-int division in double.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // df as a window count over the tf relation, not a groupBy+join-back:
    // a separate df aggregate can't reuse tf's exchange (pruning rewrites
    // the subtree), so the join-back spelling scans and explodes the
    // corpus twice. The window costs one tok-shuffle of the (doc,tok)
    // pairs — strictly cheaper than a second full corpus explode.
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("tok").asc)))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(col("tfidf"), 9).as("tfidf"), col("rk"))
  }

  private val tfidfTopTermsSql =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, tok, tf, df, tfidf, rk FROM (
      |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
      |               tf.tok ASC) AS rk
      |  FROM tf JOIN df USING (tok) CROSS JOIN n)
      |WHERE rk <= 3""".stripMargin

  /** Token-budget shard packing: every document lands in a training
    * shard of ≈1000 tokens, in a deterministic hash order, so shard
    * contents are reproducible across runs and engines (the layout
    * step right before tokenized examples are written out).
    *
    * Scale shape: a global running sum is a prefix-sum, not a global
    * window. Docs are hashed into 64 ordered buckets; per-bucket totals
    * (64 rows) cumsum driver-small and broadcast back, and the
    * within-bucket running sum is an ordinary partitioned window. No
    * single-partition stage ever sees the corpus — the classic
    * distributed prefix-sum, same answer as the oracle's global
    * window cumsum ordered by (bucket, hash, doc_id).
    */
  def shardPack(spark: SparkSession, dir: String, budget: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.CrossHash.hash60(col("doc_id").cast("string"))
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"), h.as("h"))
      .withColumn("bucket", col("h") % 64)
    val offsets = t.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("boff"))
    t.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("h").asc, col("doc_id").asc)))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(boff + cum - n_tokens) div $budget").as("shard"))
  }

  private val shardPackSql =
    s"""SELECT doc_id, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h % 64 ASC, h ASC, doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
       |    AS BIGINT) AS shard
       |FROM (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${graft.functions.CrossHash.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents)""".stripMargin

  /** Concat-and-split sequence packing — the GPT-style pretraining
    * step [[shardPack]] deliberately avoids: the corpus is laid out as
    * one deterministic token stream and cut into fixed-length training
    * sequences of [[SeqLen]] tokens, so every sequence is exactly full
    * (zero padding) and documents CROSS boundaries. Emits, per
    * document, its global token offset, the first/last sequence it
    * lands in, and how many boundary cuts it suffers — the packing
    * audit (cut rate vs padding waste) a pipeline runs when choosing
    * between packed and padded batching.
    *
    * Scale shape: identical to [[shardPack]]'s distributed prefix sum
    * — 64 hash buckets give the deterministic stream order, the 64
    * per-bucket totals broadcast as offsets, and the in-bucket running
    * sum is a partitioned window. The sequence arithmetic is then
    * row-local. Nothing single-partitions at any corpus size.
    */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.CrossHash.hash60(col("doc_id").cast("string"))
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"), h.as("h"))
      .withColumn("bucket", col("h") % 64)
    val offsets = t.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("boff"))
    t.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("h").asc, col("doc_id").asc)))
      .withColumn("off", col("boff") + col("cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("off"),
        expr(s"off div $SeqLen").as("first_seq"),
        expr(s"(off + n_tokens - 1) div $SeqLen").as("last_seq"),
        expr(s"(off + n_tokens - 1) div $SeqLen - off div $SeqLen")
          .as("n_cuts"))
  }

  private val SeqLen = 64

  private val sequencePackSql =
    s"""SELECT doc_id, n_tokens, off,
       |  off // $SeqLen AS first_seq,
       |  (off + n_tokens - 1) // $SeqLen AS last_seq,
       |  (off + n_tokens - 1) // $SeqLen - off // $SeqLen AS n_cuts
       |FROM (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h % 64 ASC, h ASC,
       |      doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS off
       |  FROM (
       |    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      ${graft.functions.CrossHash.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h
       |    FROM documents))""".stripMargin

  /** Deterministic rate-based stratified sampling: each source keeps a
    * configured percentage of its documents, membership decided by the
    * portable hash — the mixture-downsampling complement to
    * [[quotaSample]]'s absolute quotas. Shuffle-free (pure filter),
    * reproducible across engines/runs/cluster sizes, and stable under
    * late-arriving data — the three properties `rand()`-based
    * sampling loses.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val pct = when(col("source") === "src0", lit(50))
      .when(col("source") === "src1", lit(25))
      .otherwise(lit(10))
    Tables.documents(spark, dir)
      .where(graft.functions.CrossHash.hash60(col("doc_id").cast("string")) % 100 < pct)
      .select(col("doc_id"), col("source"))
  }

  private val stratifiedSampleSql =
    s"""SELECT doc_id, source FROM documents
       |WHERE ${graft.functions.CrossHash.hash60Sql("CAST(doc_id AS VARCHAR)")} % 100
       |  < CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 25 ELSE 10 END""".stripMargin

  /** The END-TO-END curation pipeline as ONE lazy composition — what a
    * user actually runs over 100 TB: quality-gate (Gopher rules) →
    * exact dedup (keep the min-id copy per content hash) → split
    * assignment → token-budget shard packing of the surviving train
    * split. Every stage is an already-verified operator; this registers
    * the COMPOSITION itself against an oracle built from the same CTE
    * chain, proving the stages compose without schema/semantics drift.
    *
    * Scale shape: gates are shuffle-free maps; dedup is one
    * content-hash exchange; split is a stateless hash; packing is the
    * distributed prefix-sum (64 broadcast bucket offsets + partitioned
    * window). Nothing corpus-sized ever single-partitions.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    val n = size(split(col("text"), " "))
    val nStop = expr(s"size(filter(split(text, ' '), t -> t IN ($stopList)))")
    val kept = Tables.documents(spark, dir)
      .where((n >= 30 && n <= 5000)
        && (nStop.cast("double") / n >= lit(0.03)))
    val canonical = kept
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(col("text")))
          .orderBy(col("doc_id").asc)))
      .where(col("rk") === 1)
    val h = graft.functions.CrossHash.hash60(col("doc_id").cast("string"))
    val train = canonical.where(splitBucket(col("doc_id")) < 8)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"), h.as("h"))
      .withColumn("bucket", col("h") % 64)
    val offsets = train.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("boff"))
    train.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("h").asc, col("doc_id").asc)))
      .select(col("doc_id"), col("n_tokens"),
        expr("(boff + cum - n_tokens) div 1000").as("shard"))
  }

  private val curationPipelineSql = {
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH kept AS (
       |  SELECT * FROM documents
       |  WHERE len(string_split(text, ' ')) BETWEEN 30 AND 5000
       |    AND CAST(len(list_filter(string_split(text, ' '),
       |          t -> t IN ($stopList))) AS DOUBLE)
       |        / len(string_split(text, ' ')) >= 0.03),
       |canonical AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
       |      ORDER BY doc_id ASC) AS rk
       |    FROM kept)
       |  WHERE rk = 1),
       |train AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${graft.functions.CrossHash.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM canonical
       |  WHERE $splitBucketSql < 8)
       |SELECT doc_id, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h % 64 ASC, h ASC, doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
       |    AS BIGINT) AS shard
       |FROM train""".stripMargin
  }

  /** Data-mixture accounting: per (source, split) document and token
    * counts plus each cell's share of total corpus tokens — the
    * mixture report a training run's data card publishes, and the
    * input to quota/rate decisions ([[quotaSample]],
    * [[stratifiedSample]]). One map-side-combined aggregation; the
    * token-share denominator is a window total over the |sources×3|
    * result, not a second corpus pass.
    */
  def mixtureReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .select(col("source"),
        splitCol(splitBucket(col("doc_id"))).as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens").cast("double")
          / sum(col("n_tokens")).over(Window.partitionBy()))
  }

  private val mixtureReportSql =
    s"""SELECT source,
       |  CASE WHEN $splitBucketSql < 8 THEN 'train'
       |       WHEN $splitBucketSql = 8 THEN 'val'
       |       ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
       |    / SUM(SUM(len(string_split(text, ' ')))) OVER () AS token_share
       |FROM documents
       |GROUP BY 1, 2""".stripMargin

  /** Percentile-based length trimming per language — the outlier gate
    * a curation pass runs before tokenization: keep documents inside
    * the per-lang [p5, p95] character-length band (too-short =
    * fragments, too-long = concatenation junk).
    *
    * Scale shape: exact `percentile` is sort-based per group — fine
    * while |lang| groups are few and per-group data fits a partition;
    * the 100 TB path swaps in approx_percentile (see
    * percentile_approx_sketch) with zero shape change. Bounds are a
    * lang-count-sized broadcast back onto the corpus scan. Bounds
    * round at 1e-6 so an interpolation ulp can't flip a keep/drop
    * decision across engines.
    */
  def lengthTrim(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bounds = docs.groupBy(col("lang")).agg(
      expr("round(percentile(n_chars, 0.05), 6)").as("lo"),
      expr("round(percentile(n_chars, 0.95), 6)").as("hi"))
    docs.join(broadcast(bounds), "lang")
      .where(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("lo"), col("hi"))
  }

  private val lengthTrimSql =
    """WITH b AS (
      |  SELECT lang, round(quantile_cont(n_chars, 0.05), 6) AS lo,
      |    round(quantile_cont(n_chars, 0.95), 6) AS hi
      |  FROM documents GROUP BY 1)
      |SELECT doc_id, d.lang, n_chars, lo, hi
      |FROM documents d JOIN b USING (lang)
      |WHERE n_chars >= lo AND n_chars <= hi""".stripMargin

  /** Cross-source content overlap: pairwise shared word-3-gram count +
    * Jaccard between sources — the contamination/provenance diagnostic
    * a mixture designer reads before weighting sources (two crawls of
    * the same site show up as a high-Jaccard pair).
    *
    * Scale shape: per-source distinct shingles via the codegen'd
    * hash-set kernel (8-byte keys, no shingle strings in the engine);
    * the pair relation comes from a shingle-keyed self-join — blocked
    * on the shingle exactly like the dedup family, never source×source
    * ×corpus. Per-source totals are a |sources|-sized broadcast. The
    * oracle mirrors with shingle STRINGS; counts agree because the
    * kernel's 64-bit xxhash64 space is collision-free at any plausible
    * shingle vocabulary (birthday bound ~2³² distinct shingles — the
    * same argument decontaminate's string-vs-hash mirror rests on).
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.shingle_hash_set
    val sh = Tables.documents(spark, dir)
      .select(col("source"), explode(shingle_hash_set(col("text"))).as("sh"))
      .distinct()
    val tot = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(tot.select(col("source").as("source_a"), col("n").as("na"))),
        "source_a")
      .join(broadcast(tot.select(col("source").as("source_b"), col("n").as("nb"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double")
          / (col("na") + col("nb") - col("n_shared")), 9).as("jaccard"))
  }

  private val sourceOverlapSql =
    """WITH sh AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
      |      i -> array_to_string((string_split(text, ' '))[i + 1:i + 3], ' '))) AS shingle
      |  FROM documents),
      |tot AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
      |pair AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, n_shared,
      |  round(CAST(n_shared AS DOUBLE) / (ta.n + tb.n - n_shared), 9) AS jaccard
      |FROM pair
      |JOIN tot ta ON source_a = ta.source
      |JOIN tot tb ON source_b = tb.source""".stripMargin

  /** Canonical text normalization — the step every dedup/quality stage
    * keys on so that trivial formatting variants hash identically:
    * lowercase, punctuation → space, whitespace runs collapsed, ends
    * trimmed. Emits the normalized text, its md5 (the exact-dedup key
    * over normalized content), and before/after lengths. Pure per-row
    * string expressions — scan-wide codegen, zero shuffles; identical
    * regex semantics in both engines (character classes only).
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        md5(col("norm_text")).as("norm_hash"),
        length(col("norm_text")).cast("long").as("n_chars_norm"))

  private val textNormalizeSql =
    """SELECT doc_id, norm_text, md5(norm_text) AS norm_hash,
      |  length(norm_text) AS n_chars_norm
      |FROM (SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |    ' +', ' ', 'g')) AS norm_text
      |FROM documents)""".stripMargin

  /** Importance sampling by document weight (the DSIR-family move:
    * resample the corpus so higher-value documents survive with
    * proportionally higher probability). Weight here is a simple
    * length proxy, w = min(1, n_chars/400) — the op is the GATE, not
    * the scorer. Acceptance is the stateless portable-hash coin every
    * sampler in this engine uses (train_test_split discipline): doc
    * survives iff hash(doc_id) mod 10⁶ < w·10⁶, with BOTH sides kept
    * integral (n_chars·2500) so no float rounding can flip a coin
    * between engines. Shuffle-free, any-executor-recomputable,
    * late-data-stable — and exactly reproducible in the oracle.
    */
  def importanceSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(graft.functions.CrossHash.hash60(col("doc_id").cast("string"))
        % 1000000L < least(lit(1000000L), col("n_chars") * 2500L))
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(least(lit(1.0), col("n_chars") / 400.0), 9).as("weight"))

  private val importanceSampleSql = {
    val h = graft.functions.CrossHash.hash60Sql("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source, n_chars,
       |  round(least(1.0, n_chars / 400.0), 9) AS weight
       |FROM documents
       |WHERE $h % 1000000 < least(1000000, n_chars * 2500)""".stripMargin
  }

  /** Temperature-based source mixing weights — the multilingual/
    * multi-source sampling formula (XLM-R / mT5 style): sampling share
    * q_s ∝ p_s^α with α = 0.7, so low-resource sources are boosted
    * (boost > 1) and dominant sources damped. Emits the natural share,
    * the resampled share, and the boost factor per source — the table
    * a data-mixing run feeds its sampler.
    *
    * Scale shape: one exchange to the per-source rollup; every window
    * after that runs over the |sources| relation (catalog-sized by
    * construction — documented bounded-domain exception). The share
    * normalizations are order-free DECIMAL window sums (the pagerank
    * lesson) and every double rounds to 9 dp.
    */
  def sourceTemperatureWeights(spark: SparkSession, dir: String,
      alpha: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.GraftFunctions.sum_order_free_over
    val w = Window.partitionBy()
    def ofSum(c: org.apache.spark.sql.Column) = sum_order_free_over(c, w)
    Tables.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("p", col("n_tokens").cast("double")
        / sum(col("n_tokens")).over(w))
      .withColumn("q", pow(col("p"), alpha) / ofSum(pow(col("p"), alpha)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("p"), 9).as("p_natural"),
        round(col("q"), 9).as("p_sampled"),
        round(col("q") / col("p"), 9).as("boost"))
  }

  private val sourceTemperatureWeightsSql =
    """WITH r AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |p AS (
      |  SELECT *, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS p
      |  FROM r),
      |q AS (
      |  SELECT *, pow(p, 0.7)
      |    / CAST(SUM(CAST(round(pow(p, 0.7), 15) AS DECIMAL(28,15))) OVER () AS DOUBLE) AS q
      |  FROM p)
      |SELECT source, n_docs, n_tokens,
      |  round(p, 9) AS p_natural, round(q, 9) AS p_sampled,
      |  round(q / p, 9) AS boost
      |FROM q""".stripMargin

  /** The mixture PLAN the temperature weights imply: given a training
    * budget of 10× the corpus token count, how many tokens each source
    * contributes (budget × q) and how many EPOCHS over that source
    * this means (contribution / source size) — the per-source repeat
    * table a data-mixing config actually encodes, and the place
    * over-sampling of small sources (epochs ≫ 1, the memorization
    * hazard) becomes visible. Pure arithmetic over the bounded
    * |sources| relation of [[sourceTemperatureWeights]].
    */
  def mixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    sourceTemperatureWeights(spark, dir)
      .withColumn("total", sum(col("n_tokens")).over(w))
      .select(col("source"), col("n_tokens"), col("p_sampled"),
        round(lit(10.0) * col("total") * col("p_sampled"))
          .cast("long").as("tokens_target"))
      .withColumn("epochs",
        round(col("tokens_target").cast("double") / col("n_tokens"), 6))
  }

  private val mixtureEpochsSql =
    s"""WITH tw AS ($sourceTemperatureWeightsSql),
       |t AS (SELECT *, SUM(n_tokens) OVER () AS total FROM tw)
       |SELECT source, n_tokens, p_sampled,
       |  CAST(round(10.0 * total * p_sampled) AS BIGINT) AS tokens_target,
       |  round(CAST(CAST(round(10.0 * total * p_sampled) AS BIGINT) AS DOUBLE)
       |    / n_tokens, 6) AS epochs
       |FROM t""".stripMargin

  /** FUZZY benchmark decontamination: `decontaminate` above catches
    * verbatim 3-gram overlap; this catches NEAR-duplicate leakage — a
    * test document whose lightly-edited twin sits in the train split —
    * by running the dedup family's MinHash+LSH banding BETWEEN the two
    * splits instead of within the corpus. Per test doc: how many train
    * docs share an LSH band, the best signature-estimated Jaccard, and
    * a contaminated verdict at the 0.5 threshold (the level the exact
    * 8-hash signature resolves reliably).
    *
    * Scale shape: signatures come from the codegen'd per-row kernel
    * (zero exchanges); both banded sides derive from the ONE banded
    * exchange (split predicates are stateless hash filters pushed
    * into each side, shuffle_hash pinned exactly like
    * dedup_minhash_lsh); candidates ∝ band collisions, never
    * test×train. In production the benchmark side is small enough to
    * broadcast — the hint to flip is documented here, not defaulted,
    * because at fixture scale both sides are the same subtree and the
    * reused exchange wins.
    */
  def decontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.dedupMinhashSig(spark, dir)
    val nh = Dedup.NumHashes
    val bs = Dedup.BandSize
    // band construction derives from Dedup's (NumHashes, BandSize) —
    // hardcoding 2×4 here would silently desynchronize the banding
    // from the estimate if the dedup family's parameters change
    val bandCols = (0 until nh / bs).map { bi =>
      struct(lit(bi).as("band_id"),
        xxhash64((0 until bs).map(j => col(s"mh${bi * bs + j}")): _*).as("band_key"))
    }
    val banded = sig
      .select(col("doc_id"),
        array((0 until nh).map(i => col(s"mh$i")): _*).as("sig"),
        splitBucket(col("doc_id")).as("bucket"),
        explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("sig"), col("bucket"),
        col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))
    val test = banded.where(col("bucket") === 9).alias("a").hint("shuffle_hash")
    val train = banded.where(col("bucket") < 8).alias("b")
    val est = (0 until nh)
      .map(i => when(element_at(col("a.sig"), i + 1) ===
        element_at(col("b.sig"), i + 1), 1).otherwise(0))
      .reduce((x, y) => x + y).cast("double") / nh
    test.join(train,
        col("a.band_id") === col("b.band_id")
          && col("a.band_key") === col("b.band_key"))
      .groupBy(col("a.doc_id").as("test_doc"), col("b.doc_id").as("train_doc"))
      .agg(first(est).as("est_jaccard"))
      .groupBy(col("test_doc"))
      .agg(count(lit(1)).as("n_candidates"),
        max(col("est_jaccard")).as("max_est"),
        min(col("train_doc")).as("sample_train_doc"))
      .select(col("test_doc"), col("n_candidates"), col("max_est"),
        col("sample_train_doc"), (col("max_est") >= 0.5).as("contaminated"))
  }

  private val decontaminateFuzzySql = {
    val bands = (0 until Dedup.NumHashes / Dedup.BandSize).map { bi =>
      val key = (0 until Dedup.BandSize).map(j => s"mh${bi * Dedup.BandSize + j}")
        .mkString("concat_ws('_', ", ", ", ")")
      s"SELECT doc_id, $bi AS band_id, $key AS band_key FROM sig"
    }.mkString("\nUNION ALL\n")
    val est = (0 until Dedup.NumHashes)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sig AS (SELECT * FROM (${Dedup.minhashSigSql}) t),
       |banded AS ($bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS test_doc, b.doc_id AS train_doc
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |  WHERE ${splitBucketSql.replace("doc_id", "a.doc_id")} = 9
       |    AND ${splitBucketSql.replace("doc_id", "b.doc_id")} < 8),
       |scored AS (
       |  SELECT test_doc, train_doc, CAST($est AS DOUBLE) / ${Dedup.NumHashes}
       |    AS est_jaccard
       |  FROM cand JOIN sig sa ON cand.test_doc = sa.doc_id
       |  JOIN sig sb ON cand.train_doc = sb.doc_id)
       |SELECT test_doc, CAST(count(*) AS BIGINT) AS n_candidates,
       |  max(est_jaccard) AS max_est, min(train_doc) AS sample_train_doc,
       |  max(est_jaccard) >= 0.5 AS contaminated
       |FROM scored GROUP BY 1""".stripMargin
  }

  /** Corpus-level complement of [[decontaminateFuzzy]]: what FRACTION
    * of each test document's 3-grams already appears anywhere in the
    * train split — the n-gram coverage statistic contamination reports
    * quote (a near-1 coverage means memorizable, even when no single
    * train doc is a near-duplicate). Per test doc: distinct grams,
    * grams covered by train, the coverage ratio.
    *
    * Scale shape: grams ride as the codegen'd per-row 8-byte hash set
    * (`shingle_hash_set` — zero pre-distinct exchange); the train side
    * collapses to its distinct gram-hash set ONCE and the coverage
    * join is hash-keyed (join-key-only: the dedup family's discipline,
    * so the string-gram oracle matches output-for-output). Both sides
    * derive from the one exploded scan; candidates ∝ gram matches,
    * never test×train.
    */
  def ngramCoverage(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.shingle_hash_set
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), splitBucket(col("doc_id")).as("bucket"),
        explode(shingle_hash_set(col("text"))).as("g"))
    // the train gram set is corpus-derived — pin the shuffle join so a
    // small fixture can't bake in a broadcast that 100 TB would OOM
    val train = sh.where(col("bucket") < 8)
      .select(col("g")).distinct().withColumn("hit", lit(1))
      .hint("shuffle_hash")
    sh.where(col("bucket") === 9)
      .join(train, Seq("g"), "left")
      .groupBy(col("doc_id").as("test_doc"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("hit")).as("n_covered"))
      .select(col("test_doc"), col("n_grams"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_grams"), 9)
          .as("coverage"))
  }

  private val ngramCoverageSql =
    s"""WITH sh AS (${Dedup.shinglesSql}),
       |b AS (
       |  SELECT doc_id, ${splitBucketSql} AS bucket, shingle FROM sh),
       |train AS (
       |  SELECT DISTINCT shingle, 1 AS hit FROM b WHERE bucket < 8)
       |SELECT b.doc_id AS test_doc, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(count(t.hit) AS BIGINT) AS n_covered,
       |  round(CAST(count(t.hit) AS DOUBLE) / count(*), 9) AS coverage
       |FROM b LEFT JOIN train t ON b.shingle = t.shingle
       |WHERE bucket = 9
       |GROUP BY 1""".stripMargin

  // ---- DSIR importance weights ---------------------------------------

  private val DsirBuckets = 128

  /** Per-(bucket) log-likelihood-ratio term — IDENTICAL SQL text runs
    * in Spark and DuckDB so the doubles match bit-for-bit before the
    * 9-dp round (the Bm25TermSql discipline).
    */
  private val DsirLamSql =
    s"ln((CAST(tgt_c AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + $DsirBuckets.0))" +
      s" - ln((CAST(raw_c AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + $DsirBuckets.0))"

  /** DSIR importance weights (Data Selection with Importance
    * Resampling, Xie et al. 2023 — the hashed-n-gram data-selection
    * method): score every document by how much more likely its hashed
    * unigram+bigram bag is under a TARGET distribution (here the
    * `lang = 'en'` slice) than under the raw corpus. Selection then
    * resamples by weight; this op emits the weights themselves (the
    * resample gate composes with [[importanceSample]]'s portable-hash
    * draw downstream).
    *
    * weight(doc) = Σ_b c_doc(b) · [ln p̂_tgt(b) − ln p̂_raw(b)] with
    * add-1 smoothing over B = 128 buckets; grams hash via the portable
    * [[graft.functions.CrossHash.hash60]] so the BUCKET ASSIGNMENT
    * itself is oracle-checkable. Per-(doc,bucket) terms round to 9 dp
    * then DECIMAL-accumulate (order-free — the bm25 discipline), so
    * the sum survives any partial-aggregation order.
    *
    * Scale shape (100 TB): one corpus (doc,bucket) aggregation with
    * map-side partials, one B-bounded bucket rollup, two O(B)
    * broadcasts (the scalar totals and the λ table — genuinely
    * bounded, B is a constant), one doc-keyed final aggregation. No
    * corpus-sized join side, no vocabulary relation at all — hashing
    * into fixed buckets is exactly what makes DSIR streamable at
    * corpus scale.
    */
  /** DSIR importance weights via the per-document bucket HISTOGRAM
    * kernel (`gram_bucket_hist` — one codegen'd byte-scan per doc, no
    * gram explode). The r10 A/B showed every explode
    * spelling loses to the same vectorized-agg constant as CF, so the
    * SHAPE changed (the r19 lesson): pass 1 aggregates the in-row
    * histograms down to the B=128 bucket totals (partial agg reduces
    * every partition to ≤B groups before the exchange) and collects
    * the λ table eagerly — O(B) driver state, the graph-chooser
    * precedent; pass 2, the RETURNED plan, is a shuffle-free per-doc
    * projection against the λ literal (weights come out of zip_with +
    * an exact-decimal aggregate over the doc's own row). At 100 TB:
    * no per-gram rows ever exist, no per-(doc,bucket) exchange —
    * corpus passes are embarrassingly parallel scans; the only
    * synchronization is 128 longs. Arithmetic is kept EXACTLY the
    * relational spelling's (same round(c·λ, 9) DECIMAL(24,9) terms,
    * exact-decimal summation), so the oracle hash is unchanged.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        call_function("gram_bucket_hist", col("text"), lit(DsirBuckets)).as("hist"))
    val agg = h.select(col("lang"), posexplode(col("hist")).as(Seq("b", "c")))
      .where(col("c") > 0) // absent (doc,bucket) pairs, as in the join form
      .groupBy(col("b"))
      .agg(sum(col("c")).as("raw_c"),
        sum(when(col("lang") === "en", col("c")).otherwise(lit(0L))).as("tgt_c"))
    val tot = agg.agg(sum(col("raw_c")).as("nr"), sum(col("tgt_c")).as("nt"))
    val lamArr = new Array[Double](DsirBuckets) // unseen buckets: λ=0 × c=0
    agg.crossJoin(broadcast(tot))
      .select(col("b"), expr(s"round($DsirLamSql, 9)").as("lam"))
      .collect() // B=128 rows — bounded eager state, like the graph chooser
      .foreach(r => lamArr(r.getInt(0)) = r.getDouble(1))
    val lamLit = array(lamArr.map(lit(_)): _*)
    // Exact-decimal summation as scaled longs: the DECIMAL(24,9) term
    // is the SAME expression the relational spelling summed; ×10⁹ is
    // integer-valued and exact in DECIMAL(38,9), the long cast is
    // exact, long adds are exact, and the final /10⁹ division is
    // exact at the division's ≥9-dp result scale — so the double that
    // comes out is bit-identical to CAST(sum(s) AS DOUBLE) in the
    // oracle. (A direct decimal accumulate can't keep scale 9:
    // (38,9)+(24,9) widens to (38,8) under ANSI and would round.
    // Long headroom: Σ|terms| ≤ n_grams·|λ|max·10⁹ — overflow needs a
    // single ~10⁸-gram document.)
    val dec = org.apache.spark.sql.types.DecimalType
    h.select(col("doc_id"),
        aggregate(col("hist"), lit(0L), (a, x) => a + x).as("n_grams"),
        (aggregate(
          zip_with(col("hist"), lamLit, (c, l) =>
            (round(c * l, 9).cast(dec(24, 9)) * lit(1000000000L))
              .cast(org.apache.spark.sql.types.LongType)),
          lit(0L), (a, s) => a + s)
          .cast(dec(38, 9)) / lit(1000000000L)).cast("double").as("dsir_weight"))
      .where(col("n_grams") > 0) // null-text docs, as the explode form dropped
  }

  private val dsirWeightsSql = {
    val h = graft.functions.CrossHash.hash60Sql("g")
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |uni AS (SELECT doc_id, lang, unnest(toks) AS g FROM t),
       |bi AS (
       |  SELECT doc_id, lang, w1 || ' ' || w2 AS g FROM (
       |    SELECT doc_id, lang, unnest(toks[1:len(toks) - 1]) AS w1,
       |      unnest(toks[2:len(toks)]) AS w2
       |    FROM t)),
       |grams AS (
       |  SELECT doc_id, lang, $h % $DsirBuckets AS b
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
       |c AS (SELECT doc_id, lang, b, count(*) AS c FROM grams GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT b, CAST(SUM(c) AS BIGINT) AS raw_c,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt_c
       |  FROM c GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(raw_c) AS BIGINT) AS nr,
       |    CAST(SUM(tgt_c) AS BIGINT) AS nt
       |  FROM agg),
       |lam AS (SELECT b, round($DsirLamSql, 9) AS lam FROM agg CROSS JOIN tot),
       |terms AS (
       |  SELECT doc_id, c, CAST(round(c * lam, 9) AS DECIMAL(24,9)) AS s
       |  FROM c JOIN lam USING (b))
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
       |  CAST(SUM(s) AS DOUBLE) AS dsir_weight
       |FROM terms GROUP BY 1""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("dsir_weights", dsirWeights, Some(dsirWeightsSql), bench = true),
    Op("source_temperature_weights", (s, d) => sourceTemperatureWeights(s, d),
      Some(sourceTemperatureWeightsSql)),
    Op("decontaminate_fuzzy", decontaminateFuzzy, Some(decontaminateFuzzySql)),
    Op("mixture_epochs", mixtureEpochs, Some(mixtureEpochsSql)),
    Op("ngram_coverage", ngramCoverage, Some(ngramCoverageSql)),
    Op("curation_pipeline", curationPipeline, Some(curationPipelineSql), bench = true),
    Op("importance_sample", importanceSample, Some(importanceSampleSql)),
    Op("text_normalize", textNormalize, Some(textNormalizeSql)),
    Op("length_trim", lengthTrim, Some(lengthTrimSql)),
    Op("source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    Op("mixture_report", mixtureReport, Some(mixtureReportSql)),
    Op("train_test_split", trainTestSplit, Some(trainTestSplitSql)),
    Op("stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    Op("decontaminate", decontaminate, Some(decontaminateSql)),
    Op("pii_scrub", piiScrub, Some(piiScrubSql)),
    Op("repetition_score", repetitionScore, Some(repetitionScoreSql)),
    Op("quota_sample", (s, d) => quotaSample(s, d), Some(quotaSampleSql)),
    Op("tfidf_top_terms", tfidfTopTerms, Some(tfidfTopTermsSql), bench = true),
    Op("shard_pack", (s, d) => shardPack(s, d), Some(shardPackSql), bench = true),
    Op("sequence_pack", sequencePack, Some(sequencePackSql)),
  )
}
