package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, LongType}

/** A long "parameter literal" (optimization r6): evaluates like
  * `lit(value)` but generates code through a plan reference object
  * instead of an inline constant, so two plans differing ONLY in such
  * values produce IDENTICAL generated source and hit the JVM-global
  * codegen cache. The engine's micro-batches embed a fresh virtual
  * clock and batch id every batch; with plain literals every stage's
  * whole-stage source changes each batch and Janino recompiles all of
  * it, every batch, on the serial path (observed as a top profiled
  * frame group). Non-foldable by construction — constant folding would
  * inline the value back into the source. NOT used where a literal must
  * reach a data source as a pushed filter (the claim scan's literal
  * clock stays a real literal for parquet row-group skipping).
  */
case class ParamLiteral64(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "param_literal"
  override def eval(input: InternalRow): Any = value
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftParam", this,
      classOf[ParamLiteral64].getName)
    ev.copy(code = code"final long ${ev.value} = $ref.value();",
      isNull = FalseLiteral)
  }
}

/** Mutable (ordering, value) pair held per group by [[ObjArgExtremum]]. */
final class ArgExtremumBuf(var ord: Any, var value: Any)

/** `min_by`/`max_by` as a TypedImperativeAggregate (optimization r6).
  *
  * Why: the built-in `min_by(struct, struct)` is a DeclarativeAggregate
  * whose buffer holds var-length values, which HashAggregateExec cannot
  * put in an UnsafeRow buffer — the planner silently falls back to
  * SortAggregate, which SORTS the whole input by the grouping key on the
  * map AND reduce side (observed live in the bench drain:
  * SortBasedAggregationIterator + UnsafeRow.copy was the hottest
  * executor stack; even `min(string)` plans sort-based). A
  * TypedImperativeAggregate is eligible for ObjectHashAggregateExec,
  * which hash-groups with object buffers and never sorts (until its
  * key-count fallback threshold — raised by the engine's sessions, see
  * CrawlEngine).
  *
  * Semantics are exactly the built-in `max_by`/`min_by`:
  *   - rows whose ordering evaluates to NULL are ignored;
  *   - strict comparison, first-encountered wins ties (all engine call
  *     sites order by a key containing a unique column, so ties cannot
  *     occur and the result is deterministic);
  *   - ordering comparison is the SQL ordering of the ordering type
  *     (field-by-field for structs — `TypeUtils.getInterpretedOrdering`).
  */
case class ObjArgExtremum(
    valueExpr: Expression,
    orderingExpr: Expression,
    max: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[ArgExtremumBuf] {

  override def children: Seq[Expression] = Seq(valueExpr, orderingExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = valueExpr.dataType
  override def prettyName: String = if (max) "max_by_obj" else "min_by_obj"

  @transient private lazy val ordOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(orderingExpr.dataType)

  override def createAggregationBuffer(): ArgExtremumBuf =
    new ArgExtremumBuf(null, null)

  private def better(candidate: Any, incumbent: Any): Boolean = {
    val c = ordOrdering.compare(candidate, incumbent)
    if (max) c > 0 else c < 0
  }

  override def update(buf: ArgExtremumBuf, input: InternalRow): ArgExtremumBuf = {
    val ord = orderingExpr.eval(input)
    if (ord != null && (buf.ord == null || better(ord, buf.ord))) {
      // copy: eval results may alias reused row/byte buffers
      buf.ord = InternalRow.copyValue(ord)
      buf.value = InternalRow.copyValue(valueExpr.eval(input))
    }
    buf
  }

  override def merge(b1: ArgExtremumBuf, b2: ArgExtremumBuf): ArgExtremumBuf = {
    if (b2.ord != null && (b1.ord == null || better(b2.ord, b1.ord))) {
      b1.ord = b2.ord
      b1.value = b2.value
    }
    b1
  }

  override def eval(buf: ArgExtremumBuf): Any = buf.value

  @transient private lazy val pairProjection = UnsafeProjection.create(
    Array(orderingExpr.dataType, valueExpr.dataType))

  // copy() first: getBytes alone returns the projection's reused buffer
  // whenever the row fills it exactly (fixed-width pairs do), so a later
  // serialize would overwrite this one's bytes
  override def serialize(buf: ArgExtremumBuf): Array[Byte] =
    pairProjection(InternalRow(buf.ord, buf.value)).copy().getBytes

  override def deserialize(bytes: Array[Byte]): ArgExtremumBuf = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val ord =
      if (row.isNullAt(0)) null
      else InternalRow.copyValue(row.get(0, orderingExpr.dataType))
    val value =
      if (row.isNullAt(1)) null
      else InternalRow.copyValue(row.get(1, valueExpr.dataType))
    new ArgExtremumBuf(ord, value)
  }

  override def withNewMutableAggBufferOffset(off: Int): ObjArgExtremum =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): ObjArgExtremum =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): ObjArgExtremum =
    copy(valueExpr = cs(0), orderingExpr = cs(1))
}

object AggExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** min_by as an ObjectHashAggregate-eligible aggregate (no sort). */
  def min_by_obj(value: Column, ordering: Column): Column = column(
    ObjArgExtremum(expression(value), expression(ordering), max = false)
      .toAggregateExpression())

  /** max_by as an ObjectHashAggregate-eligible aggregate (no sort). */
  def max_by_obj(value: Column, ordering: Column): Column = column(
    ObjArgExtremum(expression(value), expression(ordering), max = true)
      .toAggregateExpression())

  /** Codegen-cache-stable long literal (see [[ParamLiteral64]]). */
  def param_lit(value: Long): Column = column(ParamLiteral64(value))
}
