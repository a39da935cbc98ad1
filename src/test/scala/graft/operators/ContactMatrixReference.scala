package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The Spark-plan contact matrix, scaled sizes and infected counts that
  * the driver assembly over `Interactions.contactCounts` replaced, kept
  * as the reference it is compared against.
  */
object ContactMatrixReference {

  /** Observed contacts per (a_home, b_home) as joins: the presence
    * rows of devices with a home are grouped by (cell, tw) into their
    * GroupCap smallest device ids, the canonical pairs of each group
    * come from a double explode, both devices' homes are joined on,
    * C counts distinct pairs, and M = C + Cᵀ is a union with the
    * mirrored C summed per block pair.
    */
  def observedContacts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val origin = ev.agg(min(col("ts")).as("origin_ts"))
    val homes = Interactions.homeCells(spark, dir)
    val presence = ev.crossJoin(broadcast(origin))
      .select(
        col("user_id").as("caid"),
        col("event_type").as("cell"),
        expr("(unix_micros(ts) - unix_micros(origin_ts)) div 600000000").as("tw"))
    val grouped = presence.join(homes, Seq("caid"))
      .where(col("home_cell").isNotNull)
      .groupBy(col("cell"), col("tw"))
      .agg(call_function("min_k_distinct", col("caid"), lit(Interactions.GroupCap + 1))
        .as("members"))
      .where(size(col("members")) >= 2)
      .withColumn("members", slice(col("members"), 1, Interactions.GroupCap))
    val canon = grouped
      .select(explode(col("members")).as("a_caid"), col("members"))
      .select(col("a_caid"), explode(col("members")).as("b_caid"))
      .where(col("a_caid") < col("b_caid"))
    // both homes are non-null (only devices with a home are grouped);
    // the coalesce only says so to the schema
    def home(side: String) = homes.select(col("caid").as(s"${side}_caid"),
      coalesce(col("home_cell"), lit("")).as(s"${side}_home"))
    val c = canon.join(home("a"), Seq("a_caid")).join(home("b"), Seq("b_caid"))
      .groupBy(col("a_home"), col("b_home"))
      .agg(countDistinct(col("a_caid"), col("b_caid")).as("cnt"))
    c.select(col("a_home"), col("b_home"), col("cnt"))
      .unionAll(c.select(col("b_home").as("a_home"),
        col("a_home").as("b_home"), col("cnt")))
      .groupBy(col("a_home"), col("b_home"))
      .agg(sum(col("cnt")).as("observed_contacts"))
  }

  /** Cross join of the home sizes, left join of the broadcast observed
    * contacts, zero fill, probability, ordered by (a_home, b_home).
    */
  def totalVsObserved(spark: SparkSession, dir: String): DataFrame = {
    val sz = Interactions.sizes(spark, dir)
    val a = sz.select(col("home_cell").as("a_home"), col("size").as("a_size"))
    val b = sz.select(col("home_cell").as("b_home"), col("size").as("b_size"))
    val total = a.crossJoin(b)
      .select(col("a_home"), col("b_home"),
        (col("a_size") * col("b_size")).as("total_contacts"))
    val obs = observedContacts(spark, dir)
    total.join(broadcast(obs), Seq("a_home", "b_home"), "left")
      .select(col("a_home"), col("b_home"), col("total_contacts"),
        coalesce(col("observed_contacts"), lit(0L)).as("observed_contacts"),
        (coalesce(col("observed_contacts"), lit(0L)).cast("double")
          / col("total_contacts")).as("prob"))
      .orderBy(col("a_home").asc, col("b_home").asc)
  }

  /** Largest-remainder scaled sizes per cell through broadcast totals
    * and an unpartitioned rank window (rows in rank order).
    */
  def scaledSizesExact(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("size"))
    val withTotal = sizes.crossJoin(broadcast(sizes.agg(sum(col("size")).as("total"))))
      .select(col("event_type"), col("size"), col("total"),
        expr(s"(size * ${Scaling.Target}L) div total").as("base"),
        expr(s"(size * ${Scaling.Target}L) % total").as("frac"))
    val deficit = withTotal
      .agg((lit(Scaling.Target) - sum(col("base"))).as("deficit"))
    withTotal.crossJoin(broadcast(deficit))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("frac").desc, col("event_type").asc)))
      .select(col("event_type"), col("size"),
        (col("base") + when(col("rnk") <= col("deficit"), 1L).otherwise(0L))
          .as("scaled_size"))
  }

  /** Infected nodes per (seed, block) as a Spark join and aggregate. */
  def infectedPerBlock(status: DataFrame, nodeBlocks: DataFrame): DataFrame =
    status.join(nodeBlocks, Seq("nodeId"))
      .where(!isnan(col("tI")))
      .groupBy(col("seed"), col("block"))
      .agg(countDistinct(col("nodeId")).as("n_infected"))
}
