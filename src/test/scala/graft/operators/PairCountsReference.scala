package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The pair-row plans that anchor-keyed counting (`Recommend.pairCounts`
  * over `co_counts`) replaced, kept as the reference it is compared
  * against: every a < b pair of a set is one row of a double explode,
  * the rows are exchanged on (ia, ib) and counted by a hash aggregate.
  */
object PairCountsReference {

  /** (ia, ib, co) for every pair held by co ≥ minCount sets, counted
    * from one row per pair occurrence.
    */
  def pairCounts(sets: DataFrame, minCount: Int): DataFrame =
    sets
      .select(explode(col("items")).as("ia"), col("items"))
      .select(col("ia"), explode(col("items")).as("ib"))
      .where(col("ia") < col("ib"))
      .repartition(col("ia"), col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCount)

  def marketBasket(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("item"))
      .groupBy(col("okey"))
      .agg(call_function("min_k_distinct", col("item"), lit(1025)).as("items"))
      .where(size(col("items")) <= 1024)
    val itemCnt = sets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val nOrders = sets.agg(count(lit(1)).as("n"))
    val half = pairCounts(sets, minCount = 2).withColumnRenamed("co", "pair_cnt")
    val co = half.select(col("ia").as("ante"), col("ib").as("cons"), col("pair_cnt"))
      .unionByName(half.select(col("ib").as("ante"), col("ia").as("cons"), col("pair_cnt")))
    co.join(itemCnt.withColumnRenamed("item", "ante")
          .withColumnRenamed("cnt", "cnt_a"), Seq("ante"))
      .join(itemCnt.withColumnRenamed("item", "cons")
          .withColumnRenamed("cnt", "cnt_b"), Seq("cons"))
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("pair_cnt"),
        col("cnt_a"), col("cnt_b"),
        round(col("pair_cnt").cast("double") / col("n"), 9).as("support"),
        round(col("pair_cnt").cast("double") / col("cnt_a"), 9).as("confidence"),
        round(col("pair_cnt").cast("double") * col("n")
          / (col("cnt_a") * col("cnt_b")), 9).as("lift"))
  }

  def itemItemCosine(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .groupBy(col("u"))
      .agg(call_function("min_k_distinct", col("i"), lit(61)).as("items"))
      .where(size(col("items")) <= 60)
    val itemCnt = sets.select(explode(col("items")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("cnt"))
    val co = pairCounts(sets, minCount = 4)
      .select(col("ia").as("item_a"), col("ib").as("item_b"), col("co"))
    val scored = co
      .join(itemCnt.withColumnRenamed("i", "item_a")
          .withColumnRenamed("cnt", "cnt_a"), Seq("item_a"))
      .join(itemCnt.withColumnRenamed("i", "item_b")
          .withColumnRenamed("cnt", "cnt_b"), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co"),
        round(col("co").cast("double")
          / sqrt((col("cnt_a") * col("cnt_b")).cast("double")), 9).as("cosine"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("item_a"))
          .orderBy(col("cosine").desc, col("item_b").asc)))
      .where(col("rk") <= 5)
      .select(col("item_a"), col("item_b"), col("co"), col("cosine"),
        col("rk").cast("long").as("rk"))
  }
}
