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

/** Runtime bloom-filter join pruning, as a native aggregate +
  * membership expression pair.
  *
  * The 100 TB problem: a fact⋈dim join where the dim side is a
  * DERIVED selective set (too big or too late-bound to broadcast as a
  * hash relation, e.g. "wallets with ≥ N trades this month") shuffles
  * every fact row, even though most fail the join. A bloom filter of
  * the dim keys is tiny (9.6 bits/key at 1% fp), broadcasts as ONE
  * aggregate row, and the membership probe evaluates inside the fact
  * scan stage — the shuffle then carries only (matching ∪ 1% fp)
  * rows. False negatives are impossible, so `prune → exact join`
  * returns exactly the unpruned join's rows; the fp survivors are
  * removed by the real join.
  *
  * Both halves stay codegen-friendly: the aggregate is a fixed-size
  * bitset OR-merged across partials; the probe is a k-probe loop in a
  * static helper called from generated code. Double hashing
  * (h1 + i·h2, the standard Kirsch–Mitzenmacher construction) derives
  * the k probe positions from one 64-bit hash, so the caller feeds
  * `xxhash64(key)` on both sides.
  *
  * Sketch layout (BinaryType): int numBits, int numHashes, then the
  * bitset little-endian-long-packed — self-describing, so the probe
  * side needs no sizing parameters.
  *
  * Kept over Spark's `bloom_filter_agg`: its probe `might_contain` is
  * not in the 4.1.2 function registry (`UNRESOLVED_ROUTINE`).
  */
case class BloomAgg(child: Expression, numBits: Int, numHashes: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(numBits > 0 && numBits % 64 == 0, "numBits: positive multiple of 64")
  require(numHashes > 0 && numHashes <= 16, "numHashes in 1..16")

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_bloom_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName takes a 64-bit hash (xxhash64), got ${child.dataType}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomExprs.set(buf, v.asInstanceOf[Long], numBits, numHashes)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val bb = ByteBuffer.allocate(8 + 8 * buf.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(numBits); bb.putInt(numHashes)
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

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}

/** might_contain(sketch, hash): k-probe membership test against a
  * [[BloomAgg]] sketch. No false negatives; ~(1−e^{−kn/m})^k false
  * positives. */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_might_contain"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType == BinaryType && right.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(
      s"$prettyName(sketch: binary, hash: bigint), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(sketch: Any, hash: Any): Any =
    BloomExprs.contains(sketch.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, h) =>
      s"${ev.value} = graft.functions.BloomExprs.contains($s, $h);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object BloomExprs {

  /** Kirsch–Mitzenmacher probe positions: pos_i = |h1 + i·h2| mod m. */
  private def pos(hash: Long, i: Int, numBits: Int): Int = {
    val h1 = hash.toInt
    val h2 = (hash >>> 32).toInt
    val combined = h1 + i * h2
    ((combined & Int.MaxValue) % numBits)
  }

  def set(bits: Array[Long], hash: Long, numBits: Int, numHashes: Int): Unit = {
    var i = 0
    while (i < numHashes) {
      val p = pos(hash, i, numBits)
      bits(p >>> 6) |= (1L << (p & 63))
      i += 1
    }
  }

  def contains(sketch: Array[Byte], hash: Long): Boolean = {
    val bb = ByteBuffer.wrap(sketch).order(ByteOrder.LITTLE_ENDIAN)
    val numBits = bb.getInt(0)
    val numHashes = bb.getInt(4)
    var i = 0
    while (i < numHashes) {
      val p = pos(hash, i, numBits)
      val word = bb.getLong(8 + 8 * (p >>> 6))
      if ((word & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Column API: aggregate `hashes` (bigint, from xxhash64) into a
    * self-describing bloom sketch. */
  def bloom_agg(hash: Column, numBits: Int, numHashes: Int): Column =
    ColumnBridge.column(
      BloomAgg(ColumnBridge.expression(hash), numBits, numHashes)
        .toAggregateExpression())

  /** Column API: membership probe. */
  def might_contain(sketch: Column, hash: Column): Column =
    ColumnBridge.column(BloomMightContain(
      ColumnBridge.expression(sketch), ColumnBridge.expression(hash)))
}
