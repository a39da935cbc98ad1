package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

object TaggedStripeHelpers {
  /** The anchor-keyed ("stripes") form of an id-sorted
    * array<struct<id, tag>> (as [[MinKDistinctTaggedAgg]] emits): for
    * each member a and each tag hb among its larger partners, one
    * (a, ha, hb, ibs) struct with ibs the ids of those partners tagged
    * hb, ascending. Stripes come per anchor in the order their tags
    * first appear among its partners. Members with a null id or tag are
    * skipped, as the tagged aggregate skips them.
    */
  def taggedStripes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // the stripes of a group hold all n(n-1)/2 of its pairs
    if (n > 46340) throw new IllegalArgumentException(
      s"tagged_stripes: input set of $n elements would hold " +
        s"~${n.toLong * (n - 1) / 2} pairs — cap the group first")
    val ids = new Array[Long](n)
    // dense tag ids, so partners are bucketed by array index
    val tagIds = new Array[Int](n)
    val tags = new Array[Long](n)
    val tagIndex = new java.util.HashMap[java.lang.Long, Integer]()
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val r = arr.getStruct(i, 2)
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val tag = r.getLong(1)
          var t = tagIndex.get(tag)
          if (t == null) {
            t = tagIndex.size()
            tagIndex.put(tag, t)
            tags(t) = tag
          }
          ids(m) = r.getLong(0)
          tagIds(m) = t
          m += 1
        }
      }
      i += 1
    }
    val counts = new Array[Int](tagIndex.size())
    val order = new Array[Int](tagIndex.size())
    val buckets = new Array[Array[Long]](counts.length)
    val out = new java.util.ArrayList[Any]()
    i = 0
    while (i < m - 1) {
      val a = ids(i)
      var k = 0
      var j = i + 1
      while (j < m) {
        if (ids(j) != a) {
          val t = tagIds(j)
          if (counts(t) == 0) { order(k) = t; k += 1 }
          counts(t) += 1
        }
        j += 1
      }
      var o = 0
      while (o < k) {
        val t = order(o)
        buckets(t) = new Array[Long](counts(t))
        counts(t) = 0
        o += 1
      }
      j = i + 1
      while (j < m) {
        if (ids(j) != a) {
          val t = tagIds(j)
          buckets(t)(counts(t)) = ids(j)
          counts(t) += 1
        }
        j += 1
      }
      o = 0
      while (o < k) {
        val t = order(o)
        out.add(new GenericInternalRow(Array[Any](a, tags(tagIds(i)), tags(t),
          UnsafeArrayData.fromPrimitiveArray(buckets(t)))))
        counts(t) = 0
        o += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `tagged_stripes(members)` → array<struct(a, ha, hb, ibs)>: the
  * anchor-keyed form of the canonical pairs of an id-sorted
  * array<struct<id, tag>> of BIGINTs: one struct per member a and per
  * tag hb of its larger partners, carrying those partners' ids. Counting distinct
  * partners per (a, hb) after an exchange on a counts distinct pairs
  * per (ha, hb) without building a pair row. The materialized array is
  * bounded because the caller caps its group FIRST (min_k_distinct):
  * do not feed this an uncapped set.
  */
case class TaggedStripesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("ha", LongType, nullable = false),
    StructField("hb", LongType, nullable = false),
    StructField("ibs", ArrayType(LongType, containsNull = false), nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 &&
      fs(0).dataType == LongType && fs(1).dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"tagged_stripes expects ARRAY<STRUCT<BIGINT, BIGINT>>, got ${t.sql}")
  }
  override def nullSafeEval(a: Any): Any =
    TaggedStripeHelpers.taggedStripes(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TaggedStripeHelpers.taggedStripes($a)")
  override def prettyName: String = "tagged_stripes"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PostingPairHelpers {
  /** Canonical (doc_a < doc_b) co-posting pairs of one gram's posting
    * list array<struct<doc_id, tf, n2>>, with the per-pair dot-product
    * term p = tf_a·tf_b and both norms carried — everything the cosine
    * aggregation needs, emitted ONCE per pair. Replaces the a×b
    * double-explode + a<b filter, which generated 2× the rows (df²)
    * and re-scanned the postings array per outer row.
    */
  def postingPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    if (n > 46340) throw new IllegalArgumentException(
      s"posting_pairs: posting list of $n entries would emit " +
        s"~${n.toLong * (n - 1) / 2} pairs — df-cap the gram first")
    val out = new java.util.ArrayList[Any](n * (n - 1) / 2)
    var i = 0
    while (i < n - 1) {
      if (!arr.isNullAt(i)) {
        val ri = arr.getStruct(i, 3)
        val ida = ri.getLong(0); val tfa = ri.getLong(1); val n2a = ri.getLong(2)
        var j = i + 1
        while (j < n) {
          if (!arr.isNullAt(j)) {
            val rj = arr.getStruct(j, 3)
            val idb = rj.getLong(0)
            if (ida != idb) {
              // canonical order by doc_id, payloads follow their doc
              if (ida < idb) out.add(new GenericInternalRow(Array[Any](
                ida, idb, tfa * rj.getLong(1), n2a, rj.getLong(2))))
              else out.add(new GenericInternalRow(Array[Any](
                idb, ida, rj.getLong(1) * tfa, rj.getLong(2), n2a)))
            }
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `posting_pairs(ps)` → array<struct(doc_a, doc_b, p, na2, nb2)>:
  * canonical co-posting pairs with the tf product and both norms —
  * one Generate row per surviving pair. The materialized pair array is
  * bounded because callers df-cap the posting list first.
  */
case class PostingPairsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("p", LongType, nullable = false),
    StructField("na2", LongType, nullable = false),
    StructField("nb2", LongType, nullable = false))), containsNull = false)
  // The kernel reads the struct by position, so a struct whose fields
  // have the right types in another order would compute silently wrong
  // pairs: the names pin the order.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _)
        if fs.map(_.name).toSeq == Seq("doc_id", "tf", "n2") &&
          fs.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      "posting_pairs expects ARRAY<STRUCT<doc_id: BIGINT, tf: BIGINT, " +
        s"n2: BIGINT>>, got ${t.sql}")
  }
  override def nullSafeEval(a: Any): Any =
    PostingPairHelpers.postingPairs(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PostingPairHelpers.postingPairs($a)")
  override def prettyName: String = "posting_pairs"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
