package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One cell of a device's events: how many there are, and their
  * distinct buckets (`tws` is null once the device is capped).
  */
final class CellVisits(var n: Long, var tws: LongCounts, var nullTw: Boolean) {
  def rows: Int = if (tws == null) 0 else tws.size + (if (nullTw) 1 else 0)
}

/** A device's events per cell. `device` is false for the group of null
  * device ids, whose buckets are not kept.
  */
final class DevicePresence {
  var device = false
  var capped = false
  var rows = 0
  val cells = new java.util.HashMap[UTF8String, CellVisits]()

  def cap(): Unit = {
    capped = true
    rows = 0
    cells.forEach((_, v) => { v.tws = null; v.nullTw = false })
  }
}

/** `device_presence(caid, cell, tw, cap)`, grouped by the device `caid`:
  * everything the contact pass needs of one device, read once, as an
  * array<struct<kind, key, tw, home, n>> of tagged rows:
  *  - kind 0: one per distinct (cell `key`, bucket `tw`) of the device,
  *    labeled with its `home`; none for a null device, a null home or a
  *    capped device;
  *  - kind 1: the device's `home`, with `n` = 1 (0 for the null device);
  *  - kind 2: one per distinct cell `key`, with `n` as for kind 1;
  *  - kind 3: the device went past `cap` distinct (cell, tw) rows.
  *
  * The home is the cell with the most events, ties to the smallest cell
  * in Spark's string order (UTF-8 bytes, null first): the
  * `min_by(cell, (-n, cell))` of `Interactions.homeCells`.
  *
  * The buffer holds the device's cells and at most `cap` distinct
  * (cell, tw) rows. A device with more is capped: it keeps its exact
  * event counts per cell (so its home and cells), drops its rows and
  * emits a kind-3 row instead, which the caller counts and reports.
  * Whether a device is capped depends only on its distinct rows, not on
  * the order of updates and merges.
  */
case class DevicePresenceAgg(
    caid: Expression,
    cell: Expression,
    tw: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DevicePresence] {

  require(cap >= 1, s"device_presence: cap must be >= 1, got $cap")

  override def children: Seq[Expression] = Seq(caid, cell, tw)

  override def createAggregationBuffer(): DevicePresence = new DevicePresence

  private def checkCap(b: DevicePresence): Unit = if (b.rows > cap) b.cap()

  override def update(b: DevicePresence, input: InternalRow): DevicePresence = {
    if (caid.eval(input) != null) b.device = true
    val c = cell.eval(input).asInstanceOf[UTF8String]
    var v = b.cells.get(c)
    if (v == null) {
      v = new CellVisits(0L, new LongCounts(), false)
      // clone: the UTF8String may point into a reused unsafe-row buffer
      b.cells.put(if (c == null) null else c.clone(), v)
    }
    v.n += 1
    if (b.device && !b.capped) {
      val before = v.rows
      val t = tw.eval(input)
      if (t == null) v.nullTw = true else v.tws.add(t.asInstanceOf[Long], 1L)
      b.rows += v.rows - before
      checkCap(b)
    }
    b
  }

  // `other` is always a freshly deserialized partial, so its cells can
  // be taken over instead of copied
  override def merge(b: DevicePresence, other: DevicePresence): DevicePresence =
    if (b.cells.isEmpty) other
    else {
      b.device |= other.device
      other.cells.forEach { (c, o) =>
        val v = b.cells.get(c)
        if (v == null) b.cells.put(c, o)
        else {
          v.n += o.n
          if (v.tws != null && o.tws != null) {
            o.tws.foreach((t, k) => v.tws.add(t, k))
            v.nullTw |= o.nullTw
          }
        }
      }
      if (b.capped || other.capped) b.cap()
      else {
        b.rows = 0
        b.cells.forEach((_, v) => b.rows += v.rows)
        checkCap(b)
      }
      b
    }

  /** Spark's ascending string order: UTF-8 bytes, null first. */
  private def before(x: UTF8String, y: UTF8String): Boolean =
    if (x == null) y != null else y != null && x.compareTo(y) < 0

  override def eval(b: DevicePresence): Any = {
    var home: UTF8String = null
    var most = -1L
    b.cells.forEach { (c, v) =>
      if (v.n > most || (v.n == most && before(c, home))) { home = c; most = v.n }
    }
    val n: java.lang.Long = if (b.device) 1L else 0L
    val out = new java.util.ArrayList[Any](b.rows + b.cells.size + 2)
    def row(kind: Int, key: UTF8String, tw: Any, home: UTF8String, n: Any): Unit = {
      out.add(new GenericInternalRow(Array[Any](kind, key, tw, home, n))); ()
    }
    b.cells.forEach((c, _) => row(2, c, null, null, n))
    row(1, home, null, null, n)
    if (b.capped) row(3, null, null, null, 1L)
    else if (b.device && home != null) b.cells.forEach { (c, v) =>
      v.tws.foreach((t, _) => row(0, c, t, home, null))
      if (v.nullTw) row(0, c, null, home, null)
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(b: DevicePresence): Array[Byte] = {
    var size = 6
    b.cells.forEach { (c, v) =>
      size += 4 + (if (c == null) 0 else c.numBytes) + 8 + 1 + 4 +
        8 * (if (v.tws == null) 0 else v.tws.size)
    }
    val buf = ByteBuffer.allocate(size)
    buf.put((if (b.device) 1 else 0).toByte).put((if (b.capped) 1 else 0).toByte)
    buf.putInt(b.cells.size)
    b.cells.forEach { (c, v) =>
      if (c == null) buf.putInt(-1) else buf.putInt(c.numBytes).put(c.getBytes)
      buf.putLong(v.n).put((if (v.nullTw) 1 else 0).toByte)
      if (v.tws == null) buf.putInt(0)
      else {
        buf.putInt(v.tws.size)
        v.tws.foreach((t, _) => { buf.putLong(t); () })
      }
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): DevicePresence = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new DevicePresence
    b.device = buf.get() == 1
    b.capped = buf.get() == 1
    var i = buf.getInt()
    while (i > 0) {
      val len = buf.getInt()
      val c = if (len < 0) null else {
        val s = new Array[Byte](len)
        buf.get(s)
        UTF8String.fromBytes(s)
      }
      val v = new CellVisits(buf.getLong(), null, buf.get() == 1)
      val m = buf.getInt()
      if (!b.capped) {
        v.tws = new LongCounts(m)
        var j = 0
        while (j < m) { v.tws.add(buf.getLong(), 1L); j += 1 }
        b.rows += v.rows
      }
      b.cells.put(c, v)
      i -= 1
    }
    b
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (cell.dataType == StringType && tw.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"device_presence requires (any, STRING, BIGINT), got " +
        s"(${caid.dataType.sql}, ${cell.dataType.sql}, ${tw.dataType.sql})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("kind", IntegerType, nullable = false),
    StructField("key", StringType),
    StructField("tw", LongType),
    StructField("home", StringType),
    StructField("n", LongType))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "device_presence"

  override def withNewMutableAggBufferOffset(newOffset: Int): DevicePresenceAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DevicePresenceAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DevicePresenceAgg =
    copy(caid = newChildren(0), cell = newChildren(1), tw = newChildren(2))
}
