package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The canonical co-posting pair generator (`posting_pairs`): it must
  * emit exactly the a<b pairs the double-explode idiom emits, with the
  * same tf product and norm columns.
  */
class PairKernelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("posting_pairs equals the double-explode idiom") {
    import spark.implicits._
    // posting lists with duplicate tf/n2 values and unordered doc ids
    val ps = Seq(
      Seq((5L, 2L, 29L), (1L, 3L, 14L), (9L, 2L, 50L), (3L, 1L, 10L)),
      Seq((7L, 4L, 65L), (2L, 4L, 20L)),
      Seq((11L, 1L, 2L)),
      Seq.empty[(Long, Long, Long)],
    ).toDF("raw")
      .select(expr(
        "transform(raw, r -> named_struct('doc_id', r._1, 'tf', r._2, 'n2', r._3))")
        .as("ps"))
    val viaKernel = ps
      .select(explode(call_function("posting_pairs", col("ps"))).as("pr"))
      .select(col("pr.doc_a"), col("pr.doc_b"), col("pr.p"),
        col("pr.na2"), col("pr.nb2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val viaExplode = ps
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (col("a.tf") * col("b.tf")).as("p"), col("a.n2"), col("b.n2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(viaKernel == viaExplode)
    assert(viaKernel.size == 4 * 3 / 2 + 1) // C(4,2) + C(2,2)
  }

  test("posting_pairs rejects a struct with the right types but swapped names") {
    import spark.implicits._
    val swapped = Seq(Seq((1L, 2L, 3L), (4L, 5L, 6L))).toDF("raw")
      .select(expr(
        "transform(raw, r -> named_struct('tf', r._1, 'doc_id', r._2, 'n2', r._3))")
        .as("ps"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      swapped.select(explode(call_function("posting_pairs", col("ps"))))
    }
    assert(e.getMessage.contains(
      "posting_pairs expects ARRAY<STRUCT<doc_id: BIGINT, tf: BIGINT, n2: BIGINT>>"),
      e.getMessage)
  }
}
