package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, Tables}
import graft.functions.GraftFunctions._

/** Fuzzy record-linkage scoring — the full string-similarity panel a
  * dedup/entity-resolution pass scores candidate pairs with (the
  * reference's pandas EDA reaches for thefuzz/jellyfish here; see
  * /root/reference/scripts/DataCleaningHandler.py). Spark ships only
  * `levenshtein`; the other five kernels are graft's codegen'd
  * Catalyst expressions (functions/StringSimExpressions.scala), each
  * bit-exact against DuckDB's builtin of the same name.
  *
  * Scale shape: the pair domain is the DISTINCT name vocabulary — a
  * parts CATALOG, bounded by construction (adjective × noun grammar
  * here; any real parts list is ≤ millions while lineitem is
  * billions), never the fact table. Blocking is an equi-join on the
  * name's noun token, so candidate pairs are Σ_block |block|² over
  * catalog-sized blocks — the standard blocked-linkage shape; no
  * corpus×corpus, no broadcast of anything unbounded, and the whole
  * metric panel is one codegen'd projection over the joined pairs.
  */
object StringSim {

  /** Distinct name vocabulary with its blocking key (the name's noun
    * token). Coalesce to '': a single-token name has no second token,
    * and the two engines disagree about what that means (Spark getItem
    * -> NULL drops the name from the equi-join; DuckDB split_part
    * -> '' groups them) — pin the DuckDB semantics explicitly.
    */
  private def names(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_name").as("name"))
      .where(length(col("name")) > 0)
      .distinct()
      .select(col("name"),
        coalesce(split(col("name"), " ").getItem(1), lit("")).as("block"))

  def stringSimPack(spark: SparkSession, dir: String): DataFrame = {
    val nm = names(spark, dir)
    // shuffle_hash: both sides are the corpus-derived distinct name
    // vocabulary — catalog-sized here but it GROWS with the catalog, so
    // never let fixture-scale AQE bake a broadcast into the shape
    val a = nm.select(col("block"), col("name").as("name_a"))
      .hint("shuffle_hash")
    val b = nm.select(col("block").as("block_b"), col("name").as("name_b"))
    a.join(b, col("block") === col("block_b") && col("name_a") < col("name_b"))
      .select(
        col("block"), col("name_a"), col("name_b"),
        // lev_bytes, not Spark's builtin: the builtin walks code points
        // while DuckDB walks bytes (fuzz-proven divergence on multibyte)
        lev_bytes(col("name_a"), col("name_b")).cast("long").as("lev"),
        damerau_levenshtein(col("name_a"), col("name_b")).cast("long").as("dlev"),
        jaro_sim(col("name_a"), col("name_b")).as("jaro"),
        jaro_winkler_sim(col("name_a"), col("name_b")).as("jw"),
        char_jaccard(col("name_a"), col("name_b")).as("jac"),
        // BYTE length guard (octet_length/strlen), matching the
        // kernel's own definition — char length would diverge on
        // multibyte names
        when(octet_length(col("name_a")) === octet_length(col("name_b")),
          hamming_dist(col("name_a"), col("name_b")).cast("long"))
          .as("hamming"))
  }

  private val stringSimPackSql =
    """WITH names AS (
      |  SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 2) AS block
      |  FROM part WHERE length(p_name) > 0
      |)
      |SELECT a.block, a.name AS name_a, b.name AS name_b,
      |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
      |  CAST(damerau_levenshtein(a.name, b.name) AS BIGINT) AS dlev,
      |  jaro_similarity(a.name, b.name) AS jaro,
      |  jaro_winkler_similarity(a.name, b.name) AS jw,
      |  jaccard(a.name, b.name) AS jac,
      |  CASE WHEN strlen(a.name) = strlen(b.name)
      |       THEN CAST(hamming(a.name, b.name) AS BIGINT) END AS hamming
      |FROM names a JOIN names b ON a.block = b.block AND a.name < b.name""".stripMargin

  /** End-to-end entity resolution: blocking → fuzzy scoring →
    * transitive closure → canonical election. Matched pairs (same
    * block, Jaro-Winkler ≥ 0.9 — the kernel is bit-exact across
    * engines, so the membership boundary cannot flip) become edges of
    * an undirected graph over hash-identified names; components
    * collapse via the alternating-star contraction
    * ([[Clustering.connectedComponentsStar]], O(log²) rounds — never
    * diameter-bounded), and each entity elects its lexicographically
    * smallest member name as the canonical spelling. On the fixture
    * this resolves the "cold widget"/"old widget" near-dup families.
    *
    * Scale shape: the pair scoring reuses [[stringSimPack]]'s blocked
    * shuffle-hash join; the component relation is MATCH-bounded (≪
    * the vocabulary, which is ≪ the corpus), so its join back to
    * names broadcasts — the [[Clustering.dedupCanonical]] precedent.
    * Node ids are the portable 60-bit hash of the name (mirrored in
    * the oracle; collision probability over a catalog-sized
    * vocabulary is ~|V|²/2⁶¹).
    */
  def fuzzyLinkage(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CrossHash
    val nm = names(spark, dir)
    val a = nm.select(col("block"), col("name").as("name_a"))
      .hint("shuffle_hash")
    val b = nm.select(col("block").as("block_b"), col("name").as("name_b"))
    val matched = a
      .join(b, col("block") === col("block_b") && col("name_a") < col("name_b"))
      .where(jaro_winkler_sim(col("name_a"), col("name_b")) >= 0.9)
    val edges = matched.select(
      CrossHash.hash60(col("name_a")).as("src"),
      CrossHash.hash60(col("name_b")).as("dst"))
    val comp = Clustering.connectedComponentsStar(edges)
    val labeled = nm.select(col("name"), CrossHash.hash60(col("name")).as("node"))
      .join(broadcast(comp), Seq("node"))
    val entities = labeled.groupBy(col("component"))
      .agg(min(col("name")).as("entity"), count(lit(1)).as("n_members"))
    labeled.join(broadcast(entities), Seq("component"))
      .select(col("name"), col("entity"), col("n_members"))
  }

  private val fuzzyLinkageSql = {
    import graft.functions.CrossHash
    val hA = CrossHash.hash60Sql("na")
    val hB = CrossHash.hash60Sql("nb")
    val hN = CrossHash.hash60Sql("name")
    s"""WITH RECURSIVE names AS (
       |  SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 2) AS block
       |  FROM part WHERE length(p_name) > 0),
       |pairs AS (
       |  SELECT a.name AS na, b.name AS nb
       |  FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
       |  WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9),
       |e0 AS (SELECT $hA AS src, $hB AS dst FROM pairs),
       |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (
       |  SELECT src AS node, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src),
       |labeled AS (
       |  SELECT i.name, c.component
       |  FROM (SELECT name, $hN AS node FROM names) i
       |  JOIN comp c USING (node)),
       |ent AS (
       |  SELECT component, min(name) AS entity, count(*) AS n_members
       |  FROM labeled GROUP BY component)
       |SELECT l.name, e.entity, CAST(e.n_members AS BIGINT) AS n_members
       |FROM labeled l JOIN ent e USING (component)""".stripMargin
  }

  /** Pair kernels for the cross-engine fuzz (tools/fuzz_string_sim.py
    * via [[graft.tools.KernelDump]]): Spark Column kernel + the DuckDB
    * expression over columns `a`,`b` computing the identical value.
    * The CASE guards mirror graft's total-function conventions at the
    * corners where DuckDB's builtins throw (empty input for jaccard,
    * unequal byte length for hamming).
    */
  val pairKernelOracles: Map[String, ((Column, Column) => Column, String)] = Map(
    "lev" -> (((a: Column, b: Column) => lev_bytes(a, b).cast("long")),
      "CAST(levenshtein(a, b) AS BIGINT)"),
    "dlev" -> (((a: Column, b: Column) => damerau_levenshtein(a, b).cast("long")),
      "CAST(damerau_levenshtein(a, b) AS BIGINT)"),
    "jaro" -> (((a: Column, b: Column) => jaro_sim(a, b)),
      "jaro_similarity(a, b)"),
    "jw" -> (((a: Column, b: Column) => jaro_winkler_sim(a, b)),
      "jaro_winkler_similarity(a, b)"),
    "jac" -> (((a: Column, b: Column) => char_jaccard(a, b)),
      "CASE WHEN length(a) = 0 OR length(b) = 0 THEN 0.0 ELSE jaccard(a, b) END"),
    "ham" -> (((a: Column, b: Column) => hamming_dist(a, b).cast("long")),
      "CASE WHEN strlen(a) <> strlen(b) THEN CAST(-1 AS BIGINT) " +
        "WHEN strlen(a) = 0 THEN CAST(0 AS BIGINT) " + // ("","") is 0 mismatches; DuckDB throws
        "ELSE CAST(hamming(a, b) AS BIGINT) END"),
  )

  val ops: Seq[Op] = Seq(
    Op("string_sim_pack", stringSimPack, Some(stringSimPackSql), bench = true),
    Op("fuzzy_linkage", fuzzyLinkage, Some(fuzzyLinkageSql), bench = true),
  )
}
