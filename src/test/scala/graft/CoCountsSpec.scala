package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CoCountsAgg, LongCounts}
import graft.operators.{PairCountsReference => Ref, Recommend}

/** Anchor-keyed pair counting: `Recommend.pairCounts` (stripes of
  * id-sorted sets, one exchange on the anchor, the `co_counts`
  * aggregate) returns exactly the pair-row counts of
  * `PairCountsReference` (double explode + `groupBy(ia, ib).count` +
  * threshold) for any ids, nulls and thresholds, and item_item_cosine
  * and market_basket equal their pair-row plans. Deterministic
  * pseudo-random trials (seeded LCG).
  */
class CoCountsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val setSchema = StructType(Seq(
    StructField("u", LongType, nullable = false),
    StructField("items", ArrayType(LongType, containsNull = true))))

  private def counts(df: DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private var s = 20261019L
  private def next(mod: Int): Int = {
    s = s * 6364136223846793005L + 1442695040888963407L
    (math.abs(s >>> 17) % mod).toInt
  }

  /** id-sorted distinct sets over a vocabulary, with nulls spliced in
    * at random positions; empty and single-item sets included.
    */
  private def randomSets(vocab: IndexedSeq[Long], n: Int): DataFrame = {
    val rows = (0 until n).map { u =>
      val ids = (0 until next(14)).map(_ => vocab(next(vocab.length))).distinct.sorted
      val withNulls = ids.flatMap { id =>
        if (next(10) == 0) Seq[java.lang.Long](null, id) else Seq[java.lang.Long](id)
      }
      Row(u.toLong, withNulls)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), setSchema)
  }

  test("co_counts equals pair-row counts: nulls, ids >= 2^32, negatives, minCount 1-5") {
    val vocabs = Seq(
      "small" -> (0L until 40L),
      "past u32" -> (0L until 40L).map(i => (1L << 32) - 20 + i * 7919L),
      "negative" -> (0L until 40L).map(i => -1000L + i * 37L),
      "extremes" -> ((0L until 30L).map(i => Long.MinValue + i) ++
        (0L until 30L).map(i => Long.MaxValue - i) ++ Seq(0L, -1L, 1L)))
    for ((name, vocab) <- vocabs) {
      val sets = randomSets(vocab.toIndexedSeq, 400)
      val all = counts(Ref.pairCounts(sets, 1))
      assert(all.nonEmpty && all.values.exists(_ >= 5), s"$name: fixture too sparse")
      for (m <- 1 to 5) {
        val want = all.filter(_._2 >= m)
        assert(counts(Recommend.pairCounts(sets, m)) == want, s"$name minCount=$m")
      }
    }
  }

  test("anchor-keyed counts equal direct pair counts at several thresholds") {
    import spark.implicits._
    // deterministic membership: entity e holds item i iff a fixed mix
    // of (e, i) clears a modulus — collision-rich at small vocab
    val sets = (0 until 300).map { e =>
      (e.toLong, (0 until 80).filter(i => ((e * 2654435761L + i * 40503L) % 97) < 12)
        .map(_.toLong))
    }.toDF("u", "items").where(size(col("items")) > 1)
    val direct = sets.select(explode(col("items")).as("ia"), col("items"))
      .select(col("ia"), explode(col("items")).as("ib"))
      .where(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("co"))
    for (m <- Seq(1, 2, 4, 9)) {
      assert(counts(Recommend.pairCounts(sets, m)) == counts(direct.where(col("co") >= m)),
        s"mismatch at min=$m")
    }
  }

  test("co_counts SQL surface: empty and null arrays, sorted partners, exact counts") {
    val got = spark.sql(
      """SELECT ia, co_counts(ibs, 2) AS cs FROM VALUES
        |  (1L, array(5L, 3L)), (1L, array(3L, CAST(NULL AS BIGINT))), (1L, array(5L)),
        |  (1L, array(9L)), (2L, CAST(array() AS ARRAY<BIGINT>)),
        |  (2L, CAST(NULL AS ARRAY<BIGINT>)) AS t(ia, ibs)
        |GROUP BY ia ORDER BY ia""".stripMargin).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got(0).getSeq[Row](1).map(r => (r.getLong(0), r.getLong(1))) == Seq((3L, 2L), (5L, 2L)))
    assert(got(1).getSeq[Row](1).isEmpty)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT co_counts(array(1, 2), 2)").collect()
    }
    assert(e.getMessage.contains("co_counts expects ARRAY<BIGINT>"), e.getMessage)
  }

  test("co_counts buffer: serialize round trip and merge-order independence") {
    val agg = CoCountsAgg(BoundReference(0, ArrayType(LongType), nullable = true), 3)
    def evalPairs(b: LongCounts): Seq[(Long, Long)] =
      agg.eval(b).asInstanceOf[GenericArrayData].array.toSeq.map { r =>
        val row = r.asInstanceOf[InternalRow]
        (row.getLong(0), row.getLong(1))
      }
    for (trial <- 1 to 20) {
      // a wide key range (so the map grows many times) with repeats
      val pool = (0 until 1 + next(3000)).map(i => (i.toLong - 1500L) * 0x10000001L)
      val arrays = (0 until next(400)).map(_ =>
        (0 until next(30)).map(_ => pool(next(pool.length))))
      val want = arrays.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        .filter(_._2 >= 3).toSeq.sorted
      val cuts = (Seq(0, arrays.length) ++ (1 to 3).map(_ => next(arrays.length + 1)))
        .distinct.sorted
      val partials = cuts.zip(cuts.tail).map { case (lo, hi) =>
        val b = agg.createAggregationBuffer()
        arrays.slice(lo, hi).foreach(a =>
          agg.update(b, InternalRow(new GenericArrayData(a.toArray[Any]))))
        agg.serialize(b)
      }
      // as Spark merges: each partial freshly deserialized (merge may
      // take over the partial it is handed)
      def fold(ps: Seq[Array[Byte]]): LongCounts =
        ps.foldLeft(agg.createAggregationBuffer())((x, y) => agg.merge(x, agg.deserialize(y)))
      val forward = fold(partials)
      assert(evalPairs(forward) == want, s"trial $trial")
      assert(evalPairs(fold(partials.reverse)) == want, s"trial $trial reversed")
      assert(evalPairs(agg.deserialize(agg.serialize(forward))) == want,
        s"trial $trial round trip")
    }
  }

  test("co_counts merge into an empty buffer: same counts, and later merges keep them exact") {
    val agg = CoCountsAgg(BoundReference(0, ArrayType(LongType), nullable = true), 1)
    def buffer(arrays: Seq[Seq[Long]]): LongCounts = {
      val b = agg.createAggregationBuffer()
      arrays.foreach(a => agg.update(b, InternalRow(new GenericArrayData(a.toArray[Any]))))
      agg.deserialize(agg.serialize(b))
    }
    def countsOf(b: LongCounts): Map[Long, Long] = {
      val m = Map.newBuilder[Long, Long]
      b.foreach((k, c) => m += k -> c)
      m.result()
    }
    def want(arrays: Seq[Seq[Long]]): Map[Long, Long] =
      arrays.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val x = Seq(Seq(1L, 2L, 3L), Seq(2L, 3L), Seq(-5L, 1L << 40))
    val y = Seq(Seq(3L, 4L), Seq(1L << 40))
    val z = Seq(Seq(2L, 7L, 7L))
    val merged = agg.merge(agg.createAggregationBuffer(), buffer(x))
    assert(countsOf(merged) == want(x), "merging into an empty buffer")
    // the merged buffer is reused for later merges, as the final
    // aggregate reuses it for the next partial of the same anchor
    val yb = buffer(y)
    val again = agg.merge(agg.merge(merged, yb), buffer(z))
    assert(countsOf(again) == want(x ++ y ++ z), "later merges into the taken-over buffer")
    assert(countsOf(yb) == want(y), "a merged-in partial is never changed")
    assert(countsOf(agg.merge(buffer(x), agg.createAggregationBuffer())) == want(x),
      "merging an empty partial")
    assert(countsOf(agg.deserialize(agg.serialize(again))) == want(x ++ y ++ z))
  }

  test("co_counts past 128 groups in one task: the sort fallback runs, counts unchanged") {
    // 1,500 anchors over 4 shuffle partitions: every task holds far more
    // than the 128 groups ObjectHashAggregate keeps before it sorts
    val sets = randomSets((0L until 1500L).map(_ * 3L), 3000)
    val got = Recommend.pairCounts(sets, 1)
    assert(counts(got) == counts(Ref.pairCounts(sets, 1)))
    val aggs = collect(got.queryExecution.executedPlan) {
      case a: ObjectHashAggregateExec
          if a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[CoCountsAgg]) => a
    }
    assert(aggs.nonEmpty)
    assert(aggs.map(_.metrics("numTasksFallBacked").value).sum > 0,
      "no task took the sort-based fallback")
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("item_item_cosine and market_basket equal pair-row plans at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      for ((name, got, want) <- Seq(
          ("item_item_cosine", Recommend.itemItemCosine(spark, dir), Ref.itemItemCosine(spark, dir)),
          ("market_basket", Recommend.marketBasket(spark, dir), Ref.marketBasket(spark, dir)))) {
        assert(got.schema == want.schema, s"$name $dir schema")
        val g = sortedRows(got)
        assert(g.nonEmpty, s"$name $dir is empty")
        assert(g == sortedRows(want), s"$name $dir rows")
      }
    }
  }
}
