package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

object PairHelpers {
  /** All unordered pairs of a long array PACKED into single 8-byte
    * keys: (lo << 32) | hi. Callers must prove every element fits an
    * unsigned 32-bit value first (the Recommend chooser does, from
    * parquet footer min/max) — the pack is then a bijection, so
    * grouping on the packed key is grouping on the pair. Out-of-range
    * input is a caller contract violation and fails loudly rather
    * than silently merging distinct pairs.
    */
  def pairLongs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Long])
    if (n > 46340) throw new IllegalArgumentException(
      s"pair_longs: input set of $n elements would emit ~${n.toLong * (n - 1) / 2} " +
        "pairs — cap the group (min_k_distinct) before pairing")
    val out = new java.util.ArrayList[Any](n * (n - 1) / 2)
    var i = 0
    while (i < n - 1) {
      if (!arr.isNullAt(i)) {
        val a = arr.getLong(i)
        if (a < 0L || a > 0xFFFFFFFFL) throw new IllegalStateException(
          s"pair_longs: element $a exceeds unsigned 32 bits — the caller's " +
            "packability chooser must route this data to pair_structs")
        var j = i + 1
        while (j < n) {
          if (!arr.isNullAt(j)) {
            val b = arr.getLong(j)
            if (b < 0L || b > 0xFFFFFFFFL) throw new IllegalStateException(
              s"pair_longs: element $b exceeds unsigned 32 bits — the caller's " +
                "packability chooser must route this data to pair_structs")
            if (a != b) {
              out.add(java.lang.Long.valueOf(
                (math.min(a, b) << 32) | math.max(a, b)))
            }
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** All unordered pairs of a long array as (lo, hi) structs; equal
    * values are skipped (callers pass collect_set outputs, so
    * duplicates don't occur in practice).
    */
  def pairStructs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // fail loudly, not with a wrapped-Int ArrayList crash: the n²/2
    // output of an uncapped set is a caller contract violation (every
    // operator caps its groups first — see the class doc)
    if (n > 46340) throw new IllegalArgumentException(
      s"pair_structs: input set of $n elements would emit ~${n.toLong * (n - 1) / 2} " +
        "pairs — cap the group (min_k_distinct) before pairing")
    // n ≤ 46340 keeps n*(n-1)/2 within Int range (46341² overflows),
    // so this capacity expression cannot wrap negative
    val out = new java.util.ArrayList[Any](n * (n - 1) / 2)
    var i = 0
    while (i < n - 1) {
      if (!arr.isNullAt(i)) {
        val a = arr.getLong(i)
        var j = i + 1
        while (j < n) {
          // skip null slots: getLong on a null unboxes to 0, which
          // would fabricate pairs with a phantom item id 0 for SQL
          // callers passing nullable arrays
          if (!arr.isNullAt(j)) {
            val b = arr.getLong(j)
            if (a != b) {
              out.add(new GenericInternalRow(
                Array[Any](math.min(a, b), math.max(a, b))))
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

/** `pair_structs(items)` → array<struct(ia, ib)>: every unordered
  * pair of the input's long elements, canonically ordered (ia < ib).
  *
  * Versus the double-explode idiom (`explode(items)` × 2 + `ia < ib`
  * filter) this emits exactly n(n-1)/2 rows instead of flowing n² rows
  * and filtering half, and the subsequent `explode` of the struct
  * array stays inside codegen (a custom Generator would push the whole
  * Generate operator to CodegenFallback). The materialized pair array
  * is bounded because every caller caps its group size FIRST (60-item
  * CF histories, basket sizes, df-capped postings) — do not feed this
  * an uncapped set.
  */
object PairTaggedHelpers {
  /** All unordered pairs of an array<struct<id, tag>> (sorted by id,
    * as [[MinKDistinctTaggedAgg]] emits) as canonical
    * (ia < ib, ta, tb) structs — the home-labeled twin of
    * [[PairHelpers.pairStructs]] for pre-enriched co-location groups.
    */
  def pairStructsTagged(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    if (n > 46340) throw new IllegalArgumentException(
      s"pair_structs_tagged: input set of $n elements would emit " +
        s"~${n.toLong * (n - 1) / 2} pairs — cap the group first")
    val out = new java.util.ArrayList[Any](n * (n - 1) / 2)
    var i = 0
    while (i < n - 1) {
      if (!arr.isNullAt(i)) {
        val ri = arr.getStruct(i, 2)
        val a = ri.getLong(0)
        val ta = ri.getUTF8String(1)
        var j = i + 1
        while (j < n) {
          if (!arr.isNullAt(j)) {
            val rj = arr.getStruct(j, 2)
            val b = rj.getLong(0)
            if (a != b) {
              // input sorted ascending by id => (a, b) already canonical
              out.add(new GenericInternalRow(
                Array[Any](a, b, ta, rj.getUTF8String(1))))
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

/** `pair_structs_tagged(members)` → array<struct(ia, ib, ta, tb)>:
  * every canonical pair of an id-sorted array<struct<id, tag>> with
  * both members' tags carried through — pairs emerge already labeled,
  * so no downstream join is needed to attach per-member attributes.
  * Same capped-group contract as [[PairStructsExpr]].
  */
case class PairStructsTaggedExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ia", LongType, nullable = false),
    StructField("ib", LongType, nullable = false),
    StructField("ta", StringType, nullable = false),
    StructField("tb", StringType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 &&
      fs(0).dataType == LongType && fs(1).dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pair_structs_tagged expects ARRAY<STRUCT<BIGINT, STRING>>, got ${t.sql}")
  }
  override def nullSafeEval(a: Any): Any =
    PairTaggedHelpers.pairStructsTagged(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PairTaggedHelpers.pairStructsTagged($a)")
  override def prettyName: String = "pair_structs_tagged"
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `pair_longs(items)` → array<bigint>: every unordered pair of the
  * input's long elements packed canonically as (min << 32) | max —
  * the shuffle-payload-narrowing twin of [[PairStructsExpr]] (guide
  * §2.3: narrower types, only when provably safe). One packed long
  * replaces the two-field struct through Generate, Exchange and the
  * count aggregation: the pair row shrinks 24 → 16 UnsafeRow bytes
  * and the aggregation keys on a single long. Callers unpack with
  * `shiftrightunsigned(pk, 32)` / `pk & 0xFFFFFFFF` AFTER the
  * thresholded aggregate (match-bounded rows). PRECONDITION: every
  * element in [0, 2^32) — proven by the caller's chooser, enforced
  * loudly here.
  */
case class PairLongsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pair_longs expects ARRAY<BIGINT>, got ${t.sql}")
  }
  override def nullSafeEval(a: Any): Any =
    PairHelpers.pairLongs(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PairHelpers.pairLongs($a)")
  override def prettyName: String = "pair_longs"
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
  * one Generate row per surviving pair. Same capped-group contract as
  * [[PairStructsExpr]] (callers df-cap the posting list first).
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

case class PairStructsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ia", LongType, nullable = false),
    StructField("ib", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pair_structs expects ARRAY<BIGINT>, got ${t.sql}")
  }
  override def nullSafeEval(a: Any): Any =
    PairHelpers.pairStructs(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PairHelpers.pairStructs($a)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
