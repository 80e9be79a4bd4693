package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Sketches, Union}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Theta-sketch set algebra (ClickHouse `uniqTheta` +
  * `uniqThetaIntersect` / `uniqThetaUnion` / `uniqThetaNot`; Apache
  * DataSketches theta family — the same library Spark's own
  * hll_sketch_agg binds).
  *
  * Why it earns a slot next to HLL: HLL states union losslessly but
  * CANNOT intersect — "wallets active in BOTH January and February"
  * has no HLL answer, and the exact answer at 100 TB is a giant
  * distinct-set join. A theta sketch is a uniform sample of the
  * key-hash space (k smallest hashes), so intersection and difference
  * are defined on the STATES: pre-aggregate one sketch per cohort
  * (per month, per market, per campaign — O(k) bytes each), then
  * answer ANY ad-hoc cohort-overlap question from the sketches alone,
  * no re-scan. Estimation error ~1/√k in estimation mode; EXACT below
  * k distinct keys (the sketch is then the whole hash set).
  *
  * Aggregation state is a heap Union (streaming k-smallest merge,
  * O(k) memory per group); partials serialize as compact sketches —
  * the same mergeable-state MV story as the HLL rollup (§2 #137).
  * Set-op expressions are scalar (sketch × sketch → estimate) and run
  * over the tiny post-aggregation frames, so eval-path codegen calls
  * a static helper exactly like the bloom/count-min probes.
  */
case class ThetaSketchAgg(child: Expression, lgK: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  require(lgK >= 4 && lgK <= 26, "lgK in 4..26")

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_theta_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName takes a bigint key, got ${child.dataType}")
  }

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Union, other: Union): Union = {
    buf.union(other.getResult)
    buf
  }

  override def eval(buf: Union): Any = buf.getResult.toByteArray

  override def serialize(buf: Union): Array[Byte] = buf.getResult.toByteArray

  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Memory.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
}

/** theta_set_estimate(a, b, op): |A ∪ B| / |A ∩ B| / |A \ B| from two
  * compact theta sketches. op ∈ {"union", "intersect", "diff"} is a
  * construction-time constant, not a column. */
case class ThetaSetEstimate(left: Expression, right: Expression, op: String)
  extends BinaryExpression {

  require(ThetaExprs.Ops.contains(op), s"op in ${ThetaExprs.Ops}")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_theta_$op"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckSuccess
    else TypeCheckFailure(
      s"$prettyName(a: binary, b: binary), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    ThetaExprs.estimate(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], op)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.ThetaExprs.estimate($a, $b, "$op");""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaSetEstimate =
    copy(left = newLeft, right = newRight)
}

object ThetaExprs {

  val Ops: Set[String] = Set("union", "intersect", "diff")

  private def wrap(bytes: Array[Byte]): Sketch =
    Sketches.wrapCompactSketch(Memory.wrap(bytes))

  def estimate(a: Array[Byte], b: Array[Byte], op: String): Double = op match {
    case "union" =>
      val u = SetOperation.builder().buildUnion()
      u.union(wrap(a)); u.union(wrap(b))
      u.getResult.getEstimate
    case "intersect" =>
      val i = SetOperation.builder().buildIntersection()
      i.intersect(wrap(a)); i.intersect(wrap(b))
      i.getResult.getEstimate
    case "diff" =>
      val d = SetOperation.builder().buildANotB()
      d.setA(wrap(a)); d.notB(wrap(b))
      d.getResult(false).getEstimate
  }

  /** Column API: aggregate bigint keys into a compact theta sketch. */
  def theta_agg(key: Column, lgK: Int): Column =
    ColumnBridge.column(
      ThetaSketchAgg(ColumnBridge.expression(key), lgK)
        .toAggregateExpression())

  /** Column API: cardinality estimates over two sketch states. */
  def theta_union_est(a: Column, b: Column): Column = setEst(a, b, "union")
  def theta_intersect_est(a: Column, b: Column): Column = setEst(a, b, "intersect")
  def theta_diff_est(a: Column, b: Column): Column = setEst(a, b, "diff")

  private def setEst(a: Column, b: Column, op: String): Column =
    ColumnBridge.column(ThetaSetEstimate(
      ColumnBridge.expression(a), ColumnBridge.expression(b), op))
}
