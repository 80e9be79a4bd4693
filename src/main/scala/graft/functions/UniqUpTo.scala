package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Buffer: the distinct values seen (≤ n of them) OR a sticky
  * saturation flag with the set cleared — past n the values are
  * irrelevant, only ">n" is. */
final class UpToBuf(val set: java.util.HashSet[Long], var saturated: Boolean) {
  def this() = this(new java.util.HashSet[Long](), false)
}

/** ClickHouse `uniqUpTo(N)`: exact distinct count while it is ≤ N,
  * saturating at N+1 — the "show '25+' holders" UI aggregate.
  *
  * Why not `countDistinct`: exact distinct carries an unbounded
  * per-group set through the aggregation (at 100 TB a hot token's
  * holder set is millions of entries); when the product only displays
  * counts up to a threshold, the state can be capped at N longs per
  * group — this aggregate makes that bound structural, and DROPS the
  * values entirely once saturated (the flag is sticky through
  * `merge`, which is exactly right: a saturated partial proves the
  * true count is > N regardless of overlap).
  *
  * Exact, not sketched: the buffer stores raw long values, so there
  * is no hash-collision error term. Input must be LongType ids.
  * Spark has no built-in equivalent.
  */
case class UniqUpToAgg(child: Expression, n: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UpToBuf] with UnaryLike[Expression] {

  require(n >= 1 && n <= 65536, "uniqUpTo N in 1..65536")

  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_uniq_up_to"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName takes a bigint id column, got ${child.dataType}")
  }

  override def createAggregationBuffer(): UpToBuf = new UpToBuf()

  private def saturate(b: UpToBuf): Unit = {
    b.saturated = true
    b.set.clear()
  }

  override def update(b: UpToBuf, input: InternalRow): UpToBuf = {
    val v = child.eval(input)
    if (v != null && !b.saturated) {
      b.set.add(v.asInstanceOf[Long]): Unit
      if (b.set.size > n) saturate(b)
    }
    b
  }

  override def merge(a: UpToBuf, b: UpToBuf): UpToBuf = {
    if (b.saturated) saturate(a)
    else if (!a.saturated) {
      val it = b.set.iterator()
      while (it.hasNext && !a.saturated) {
        a.set.add(it.next()): Unit
        if (a.set.size > n) saturate(a)
      }
    }
    a
  }

  override def eval(b: UpToBuf): Any =
    if (b.saturated) (n + 1).toLong else b.set.size.toLong

  override def serialize(b: UpToBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(5 + 8 * b.set.size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(if (b.saturated) 1.toByte else 0.toByte)
    bb.putInt(b.set.size)
    val it = b.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): UpToBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val sat = bb.get() == 1.toByte
    val k = bb.getInt
    val s = new java.util.HashSet[Long](math.max(4, k * 2))
    var i = 0
    while (i < k) { s.add(bb.getLong): Unit; i += 1 }
    new UpToBuf(s, sat)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): UniqUpToAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): UniqUpToAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): UniqUpToAgg =
    copy(child = newChild)
}

object UniqUpTo {
  /** Column API: exact distinct count of `id` saturating at n+1. */
  def uniq_up_to(id: Column, n: Int): Column =
    ColumnBridge.column(
      UniqUpToAgg(ColumnBridge.expression(id), n).toAggregateExpression())
}
