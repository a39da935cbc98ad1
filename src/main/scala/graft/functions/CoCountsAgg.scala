package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Open-addressing BIGINT → count map (linear probing, Fibonacci
  * hashing, load ≤ 1/2). A zero count marks an empty slot, so every
  * long — 0, negatives, ids past 2³² — is a valid key without a
  * sentinel.
  */
final class LongCounts(expected: Int = 8) {
  private var shift = 64 - math.max(4, 33 - Integer.numberOfLeadingZeros(expected))
  private var keys = new Array[Long](1 << (64 - shift))
  private var counts = new Array[Long](keys.length)
  private var used = 0

  def size: Int = used

  private def slot(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> shift).toInt

  /** `k`'s slot, or the empty slot where it would go. */
  private def find(k: Long): Int = {
    val mask = keys.length - 1
    var i = slot(k)
    while (counts(i) != 0L && keys(i) != k) i = (i + 1) & mask
    i
  }

  /** Adds `n` (≥ 1) to `k`'s count. */
  def add(k: Long, n: Long): Unit = {
    val i = find(k)
    if (counts(i) == 0L) {
      keys(i) = k
      used += 1
    }
    counts(i) += n
    if (used * 2 > keys.length) grow()
  }

  private def grow(): Unit = {
    val ks = keys
    val cs = counts
    shift -= 1
    keys = new Array[Long](ks.length * 2)
    counts = new Array[Long](ks.length * 2)
    used = 0
    var i = 0
    while (i < ks.length) {
      if (cs(i) != 0L) add(ks(i), cs(i))
      i += 1
    }
  }

  /** `k`'s count, 0 when absent. */
  def apply(k: Long): Long = counts(find(k))

  def foreach(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < keys.length) {
      if (counts(i) != 0L) f(keys(i), counts(i))
      i += 1
    }
  }
}

/** `co_counts(ibs, minCount)`: grouped by an anchor item, counts how
  * many of the group's BIGINT arrays hold each partner, and returns
  * the partners held by at least `minCount` of them as
  * array<struct<ib, co>> sorted by `ib`, with exact counts. Null
  * elements are skipped; an element repeated within one array counts
  * once per occurrence.
  *
  * It is the counting half of anchor-keyed ("stripes") pair counting
  * (`Recommend.pairCounts`): each id-sorted item set sends, for each of
  * its items, the suffix of larger items to that item's group, so the
  * partner counts of anchor `ia` are the pair counts (ia, ib) and no
  * per-pair row is ever built. The buffer holds one anchor's distinct
  * partners — at most the item catalogue — and ObjectHashAggregate's
  * sort-based fallback (past 128 groups per task) keeps one buffer
  * live at a time. The threshold applies only in `eval`, after every
  * partial buffer is merged, so a partner's count is never cut early.
  */
case class CoCountsAgg(
    child: Expression,
    minCount: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongCounts] with UnaryLike[Expression] {

  require(minCount >= 1, s"co_counts: minCount must be >= 1, got $minCount")

  override def createAggregationBuffer(): LongCounts = new LongCounts()

  override def update(b: LongCounts, input: InternalRow): LongCounts = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) b.add(arr.getLong(i), 1L)
        i += 1
      }
    }
    b
  }

  // `other` is always a freshly deserialized partial, so an empty
  // buffer can take it over instead of copying it entry by entry
  override def merge(b: LongCounts, other: LongCounts): LongCounts =
    if (b.size == 0) other
    else {
      other.foreach((k, c) => b.add(k, c))
      b
    }

  override def eval(b: LongCounts): Any = {
    var n = 0
    b.foreach((_, c) => if (c >= minCount) n += 1)
    val ks = new Array[Long](n)
    n = 0
    b.foreach((k, c) => if (c >= minCount) { ks(n) = k; n += 1 })
    java.util.Arrays.sort(ks)
    val out = new Array[Any](ks.length)
    var i = 0
    while (i < ks.length) {
      out(i) = new GenericInternalRow(Array[Any](ks(i), b(ks(i))))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: LongCounts): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 16 * b.size)
    buf.putInt(b.size)
    b.foreach { (k, c) => buf.putLong(k); buf.putLong(c); () }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): LongCounts = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt()
    val b = new LongCounts(n)
    var i = 0
    while (i < n) { b.add(buf.getLong(), buf.getLong()); i += 1 }
    b
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"co_counts expects ARRAY<BIGINT>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ib", LongType, nullable = false),
    StructField("co", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "co_counts"

  override def withNewMutableAggBufferOffset(newOffset: Int): CoCountsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CoCountsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CoCountsAgg =
    copy(child = newChild)
}
