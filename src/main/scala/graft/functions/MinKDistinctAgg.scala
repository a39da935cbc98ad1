package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `min_k_distinct(value, k)`: the k SMALLEST distinct BIGINT values
  * of the group, as a sorted array — `slice(sort_array(
  * collect_set(v)), 1, k)` with an O(k) aggregation buffer.
  *
  * Why it exists: the collect_set-then-cap idiom has the right
  * semantics (groups at or under the cap keep their full distinct
  * set; hot groups keep the deterministic sorted prefix) but the
  * WRONG memory shape — collect_set materializes every distinct
  * element in one aggregation buffer BEFORE the cap applies, so one
  * poisoned key (a stuck-sensor cell with 10⁷ devices, a bot "user"
  * with 10⁶ items) builds an unbounded buffer at exactly the scale
  * the cap exists for. This aggregate never holds more than k
  * elements per (partition, group): membership dedup and the
  * smallest-k bound come from one ordered set, and partial/merge
  * order cannot change the result (smallest-k of a union is the
  * smallest-k of smallest-k's — fully deterministic, unlike a
  * retention-order cap).
  *
  * Callers gate with `size(xs) <= cap` by passing `k = cap + 1`: the
  * k-th element's presence proves the group exceeded the cap without
  * counting beyond it.
  */
case class MinKDistinctAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 1 && k <= (1 << 20), s"min_k_distinct: k out of range: $k")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def offer(b: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (b.size < k) { b.add(v); () }
    else if (v < b.last) {
      // strictly smaller than the current k-th: displace it.
      // (v == last or v already present: no-op either way)
      if (b.add(v)) b.pollLast()
      ()
    }
  }

  override def update(
      b: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) offer(b, v.asInstanceOf[Long])
    b
  }

  override def merge(
      b: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) offer(b, it.next())
    b
  }

  override def eval(b: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Any](b.size)
    val it = b.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr) // TreeSet iterates ascending — sorted
  }

  override def serialize(b: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.size)
    val it = b.iterator()
    while (it.hasNext) out.writeLong(it.next().longValue())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { b.add(in.readLong()); i += 1 }
    b
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"min_k_distinct requires BIGINT, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "min_k_distinct"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKDistinctAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKDistinctAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinKDistinctAgg =
    copy(child = newChild)
}

/** `min_k_distinct_tagged(key, tag, k)`: the k SMALLEST distinct
  * BIGINT keys of the group, each carrying its BIGINT tag, as an
  * array<struct<id, tag>> sorted by key — the payload-carrying twin of
  * [[MinKDistinctAgg]] with the same O(k) buffer and the same
  * deterministic smallest-k-of-a-union merge.
  *
  * Contract: the tag must be a FUNCTION of the key within the group
  * (e.g. a device's home cell code) — when the same key arrives twice
  * the first tag wins, which is only deterministic under that contract.
  * The contact pass labels each device's presence rows with its home
  * BEFORE the (cell, tw) grouping, so co-located devices emerge already
  * home-labeled and no device-key join is needed.
  */
case class MinKDistinctTaggedAgg(
    key: Expression,
    tag: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[java.lang.Long, java.lang.Long]] {

  private type Buf = java.util.TreeMap[java.lang.Long, java.lang.Long]

  require(k >= 1 && k <= (1 << 20), s"min_k_distinct_tagged: k out of range: $k")

  override def children: Seq[Expression] = Seq(key, tag)

  override def createAggregationBuffer(): Buf = new java.util.TreeMap()

  private def offer(b: Buf, v: Long, t: Long): Unit = {
    if (b.size < k) { if (!b.containsKey(v)) { b.put(v, t); () } }
    else if (v < b.lastKey && !b.containsKey(v)) {
      b.put(v, t)
      b.pollLastEntry()
      ()
    }
  }

  override def update(b: Buf, input: InternalRow): Buf = {
    val v = key.eval(input)
    val t = tag.eval(input)
    // a null key or tag carries no usable member; skip (mirrors the
    // null-skip of the untagged aggregate)
    if (v != null && t != null) offer(b, v.asInstanceOf[Long], t.asInstanceOf[Long])
    b
  }

  override def merge(b: Buf, other: Buf): Buf = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      offer(b, e.getKey.longValue(), e.getValue.longValue())
    }
    b
  }

  override def eval(b: Buf): Any = {
    val arr = new Array[Any](b.size)
    val it = b.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      arr(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey.longValue(), e.getValue.longValue()))
      i += 1
    }
    new GenericArrayData(arr) // TreeMap iterates ascending by key
  }

  override def serialize(b: Buf): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 + 16 * b.size)
    buf.putInt(b.size)
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.putLong(e.getKey.longValue())
      buf.putLong(e.getValue.longValue())
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val n = buf.getInt()
    val b = createAggregationBuffer()
    var i = 0
    while (i < n) { b.put(buf.getLong(), buf.getLong()); i += 1 }
    b
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType && tag.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"min_k_distinct_tagged requires (BIGINT, BIGINT), got " +
        s"(${key.dataType.sql}, ${tag.dataType.sql})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("tag", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "min_k_distinct_tagged"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKDistinctTaggedAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKDistinctTaggedAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinKDistinctTaggedAgg =
    copy(key = newChildren(0), tag = newChildren(1))
}
