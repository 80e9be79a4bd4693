package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a native
  * aggregate + point-estimate expression pair — the frequency-query
  * member of the sketch family ([[BloomAgg]] membership, SpaceSaving
  * top-k, HLL distinct, GK quantiles): answer "how often does key x
  * occur" over a 100 TB stream in depth×width longs, mergeable across
  * partitions.
  *
  * Guarantees: estimates NEVER undercount; overshoot ≤ ⌈e/width⌉·N
  * with probability 1 − e^{−depth} per query (N = total updates).
  * Merge is element-wise addition — commutative and associative, so
  * the sketch is partitioning-invariant and the error bounds are data
  * properties, pinnable in a driver gate.
  *
  * Row hashes derive from one 64-bit input hash via the same
  * Kirsch–Mitzenmacher construction as [[BloomExprs]]
  * (pos_d = |h1 + d·h2| mod width), so callers feed `xxhash64(key)`
  * on both the build and query side.
  *
  * Sketch layout (BinaryType): int depth, int width, then the
  * depth×width counter matrix row-major little-endian — self-
  * describing; N is recoverable as the sum of any row.
  *
  * Kept over Spark's `count_min_sketch`: it has no point-estimate
  * function, so its state cannot answer "how often does x occur".
  */
case class CountMinAgg(child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(depth > 0 && depth <= 16, "depth in 1..16")
  require(width > 0, "width positive")

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_cm_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName takes a 64-bit hash (xxhash64), got ${child.dataType}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) CountMinExprs.add(buf, v.asInstanceOf[Long], depth, width)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val bb = ByteBuffer.allocate(8 + 8 * buf.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(depth); bb.putInt(width)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
}

/** cm_estimate(sketch, hash): min over rows of the row's counter —
  * never undercounts; overshoot bounded by the sketch dimensions. */
case class CountMinEstimate(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cm_estimate"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType == BinaryType && right.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(
      s"$prettyName(sketch: binary, hash: bigint), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(sketch: Any, hash: Any): Any =
    CountMinExprs.estimate(sketch.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, h) =>
      s"${ev.value} = graft.functions.CountMinExprs.estimate($s, $h);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountMinEstimate =
    copy(left = newLeft, right = newRight)
}

object CountMinExprs {

  /** Kirsch–Mitzenmacher row position: pos_d = |h1 + d·h2| mod width. */
  private def pos(hash: Long, d: Int, width: Int): Int = {
    val h1 = hash.toInt
    val h2 = (hash >>> 32).toInt
    val combined = h1 + d * h2
    (combined & Int.MaxValue) % width
  }

  def add(counters: Array[Long], hash: Long, depth: Int, width: Int): Unit = {
    var d = 0
    while (d < depth) {
      counters(d * width + pos(hash, d, width)) += 1L
      d += 1
    }
  }

  def estimate(sketch: Array[Byte], hash: Long): Long = {
    val bb = ByteBuffer.wrap(sketch).order(ByteOrder.LITTLE_ENDIAN)
    val depth = bb.getInt(0)
    val width = bb.getInt(4)
    var min = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = bb.getLong(8 + 8 * (d * width + pos(hash, d, width)))
      if (c < min) min = c
      d += 1
    }
    min
  }

  /** Column API: aggregate `hashes` (bigint, from xxhash64) into a
    * self-describing count-min sketch. */
  def cm_agg(hash: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(
      CountMinAgg(ColumnBridge.expression(hash), depth, width)
        .toAggregateExpression())

  /** Column API: point frequency estimate. */
  def cm_estimate(sketch: Column, hash: Column): Column =
    ColumnBridge.column(CountMinEstimate(
      ColumnBridge.expression(sketch), ColumnBridge.expression(hash)))
}
