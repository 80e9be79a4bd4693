package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Bounded "k most recent values" aggregate — the ClickHouse
  * `groupArray(k)`-over-ORDER-BY shape (reference: the activity API's
  * recent-token lists) without the full per-key sort.
  *
  * A `row_number() OVER (PARTITION BY key ORDER BY ts DESC)` plan
  * sorts every row of every key just to discard all but k: the
  * shuffle carries the key's whole history. This aggregate keeps a
  * k-bounded buffer per key per task (replace-the-minimum on a
  * 3-long entry; k is small, the linear min scan beats a heap), so
  * partial aggregation runs map-side and the Exchange carries at most
  * k entries per key per task — at 100 TB the shuffle tracks key
  * count, not row count. Returns the values ordered most-recent-first
  * by (ts, seq). Spark has no built-in equivalent.
  */
case class RecentTopK(ts: Expression, seq: Expression, value: Expression,
    k: Int, mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[RecentTopK.Entry]]
  with TernaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def first: Expression = ts
  override def second: Expression = seq
  override def third: Expression = value
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_recent_topk"

  // reject non-integral inputs at analysis: the buffer stores longs,
  // so a double/decimal value would silently truncate at runtime
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    def integral(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def ordered(dt: DataType) = integral(dt) ||
      dt.isInstanceOf[TimestampType] || dt.isInstanceOf[TimestampNTZType] ||
      dt.isInstanceOf[DateType]
    if (!ordered(ts.dataType))
      TypeCheckFailure(s"$prettyName: ts must be integral/timestamp, got ${ts.dataType}")
    else if (!ordered(seq.dataType))
      TypeCheckFailure(s"$prettyName: seq must be integral/timestamp, got ${seq.dataType}")
    else if (!integral(value.dataType))
      TypeCheckFailure(s"$prettyName: value must be integral, got ${value.dataType}")
    else TypeCheckSuccess
  }

  override def createAggregationBuffer(): mutable.ArrayBuffer[RecentTopK.Entry] =
    mutable.ArrayBuffer.empty

  // strictly-less ordering on (ts, seq, value): the minimum is the
  // candidate to evict. The VALUE is the final tie-break key — found
  // at the x10 crosscheck: the synthetic trade_id is not unique
  // (118k duplicate (orderkey, linenumber) pairs at sf0.1), so a
  // (ts, seq)-only order left equal-(ts, seq) entries in engine-
  // arbitrary order and the DuckDB twin disagreed on 33 wallets.
  // With value as the last key the order is total whenever full
  // entries are distinct; fully-duplicate entries are interchangeable
  // by definition. The oracle orders by the same three keys.
  private def lt(a: RecentTopK.Entry, bTs: Long, bSeq: Long,
                 bVal: Long): Boolean =
    a.ts < bTs || (a.ts == bTs &&
      (a.seq < bSeq || (a.seq == bSeq && a.value < bVal)))

  private def insert(buf: mutable.ArrayBuffer[RecentTopK.Entry],
                     eTs: Long, eSeq: Long, eVal: Long): Unit =
    if (buf.length < k) {
      buf += RecentTopK.Entry(eTs, eSeq, eVal)
    } else {
      var mi = 0
      var i = 1
      while (i < buf.length) {
        if (lt(buf(i), buf(mi).ts, buf(mi).seq, buf(mi).value)) mi = i
        i += 1
      }
      if (lt(buf(mi), eTs, eSeq, eVal)) buf(mi) = RecentTopK.Entry(eTs, eSeq, eVal)
    }

  override def update(buf: mutable.ArrayBuffer[RecentTopK.Entry],
                      input: InternalRow): mutable.ArrayBuffer[RecentTopK.Entry] = {
    val t = ts.eval(input)
    val s = seq.eval(input)
    val v = value.eval(input)
    if (t != null && s != null && v != null)
      insert(buf, t.asInstanceOf[Number].longValue(),
        s.asInstanceOf[Number].longValue(), v.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(buf: mutable.ArrayBuffer[RecentTopK.Entry],
                     other: mutable.ArrayBuffer[RecentTopK.Entry])
      : mutable.ArrayBuffer[RecentTopK.Entry] = {
    other.foreach(e => insert(buf, e.ts, e.seq, e.value))
    buf
  }

  override def eval(buf: mutable.ArrayBuffer[RecentTopK.Entry]): Any =
    new GenericArrayData(
      buf.sortWith((a, b) => a.ts > b.ts || (a.ts == b.ts &&
          (a.seq > b.seq || (a.seq == b.seq && a.value > b.value))))
        .map(_.value).toArray)

  override def serialize(buf: mutable.ArrayBuffer[RecentTopK.Entry]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 24 * buf.length)
    bb.putInt(buf.length)
    buf.foreach { e => bb.putLong(e.ts); bb.putLong(e.seq); bb.putLong(e.value) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[RecentTopK.Entry] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new mutable.ArrayBuffer[RecentTopK.Entry](n)
    var i = 0
    while (i < n) {
      buf += RecentTopK.Entry(bb.getLong, bb.getLong, bb.getLong)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): RecentTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RecentTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): RecentTopK =
    copy(ts = newFirst, seq = newSecond, value = newThird)
}

object RecentTopK {
  final case class Entry(ts: Long, seq: Long, value: Long)
}
