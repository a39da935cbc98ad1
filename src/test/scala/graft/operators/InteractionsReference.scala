package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spellings of the interactions operators that only specs use. */
object InteractionsReference {

  /** Observed contacts per (a_home, b_home) in the r2–r6 two-join
    * spelling, kept as the reference of the equivalence spec (R13Spec):
    * pairs explode unlabeled, then two device-key shuffle-hash joins
    * attach the homes (the home catalog has device cardinality, so it
    * is never broadcast at scale — VERDICT r3 #3). Replaced
    * as the registered query by [[Interactions.observedContacts]] (the fused
    * spelling) in r7 — measured 0.65 → 0.50 s at sf0.1 with identical
    * results; at 100 TB the win grows, because the two joins this
    * removes shuffle the PAIR relation (n(n−1) per co-location group),
    * the largest relation in the query.
    */
  def observedContactsJoined(spark: SparkSession, dir: String): DataFrame = {
    // fused dedup (r2): count DISTINCT pairs inside the home-level
    // aggregation instead of a separate pair-distinct exchange —
    // Spark's two-phase distinct-agg dedups map-side on
    // (homes, pair), so the shuffle ships ≈ the distinct volume with
    // one whole stage fewer.
    // (r3 note: a canonical-pairs variant — half the distinct-agg
    // volume, recovered by a home-level mirror-sum M = C + Cᵀ — was
    // measured and rejected: the two extra stages cost more than the
    // halved shuffle wins, and both shapes are linear in the pair
    // count at any scale. The r7 fused spelling mirrors at the MATRIX
    // level instead, where the mirror is free.)
    val pairs = Interactions.interactionPairsRaw(spark, dir)
    val homes = Interactions.homeCells(spark, dir)
    pairs
      .join(homes.withColumnRenamed("caid", "a_caid")
        .withColumnRenamed("home_cell", "a_home")
        .hint("shuffle_hash"), Seq("a_caid"))
      .join(homes.withColumnRenamed("caid", "b_caid")
        .withColumnRenamed("home_cell", "b_home")
        .hint("shuffle_hash"), Seq("b_caid"))
      .groupBy(col("a_home"), col("b_home"))
      .agg(countDistinct(col("a_caid"), col("b_caid")).as("observed_contacts"))
  }
}
