package graft.functions

import java.util.Objects

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.DataType

/** A per-call constant bound into a plan without being written into its
  * generated Java. Spark inlines every numeric `Literal` into the
  * whole-stage codegen source, so a query run once per `as_of` value
  * compiles a new class per value (Janino, then interpreted bytecode
  * until the JIT catches up). `Param` reads its value from the
  * generated class's `references` array instead: two plans that differ
  * only in the constant produce byte-identical source and share one
  * compiled class through Spark's codegen cache.
  *
  * It is deterministic and never foldable, so `ConstantFolding` and the
  * other literal-driven rules leave it in place; `eval` returns the
  * value. The value is Catalyst's internal form of `dataType` (the
  * `Literal` it was built from). A null value is refused: write
  * `lit(null)` for SQL NULL.
  *
  * The rule: use `Param` for per-call constants over MATERIALIZED frames
  * (persisted pool frames, driver-built relations), and `lit` wherever a
  * file scan should push the predicate down. Parquet row-group pruning,
  * the lake's `DataSkipping` and the in-memory cache's batch pruning all
  * match only `Literal`s, so a `Param` bound over a scan reads every
  * file. Over a cached frame it gives up batch pruning, and that is a
  * real loss: on a frame stored in `as_of` order, `as_of < q` with a
  * literal skips every batch whose minimum is at or past q (about half
  * of them for a uniform q). It still pays where a call's compile costs
  * more than the batches it would skip. On a 4-core VM, a latest-before
  * lookup over a cached `as_of`-ordered frame took a median 160 ms with
  * `Param` against 259 ms with a literal at 10^5 rows, 215 against
  * 396 ms at 10^6 and 813 against 1,001 ms at 10^7. No size measured
  * favoured the literal, so the pool frames use `Param` unconditionally.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, Param.NullRefused)

  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }

  // boxed equality: NaN equals NaN and -0.0 differs from 0.0, so two
  // plans compare equal (cache lookups, reuse) only when their values
  // are the same bits
  override def equals(o: Any): Boolean = o match {
    case p: Param => dataType == p.dataType && Objects.equals(value, p.value)
    case _ => false
  }
  override def hashCode: Int = Objects.hash(value.asInstanceOf[AnyRef], dataType)

  override def toString: String = s"param(${Literal(value, dataType)})"
  override def sql: String = s"${Param.Name}(${Literal(value, dataType).sql})"
}

object Param {
  val Name = "graft_param"
  val NullRefused = s"$Name needs a non-null value; use lit(null) for SQL NULL"

  /** `graft_param(<literal>)`: the literal's value, bound as a [[Param]]. */
  def fromExprs(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(Literal(v, t)) => Param(v, t)
    case _ => throw new IllegalArgumentException(
      s"$Name takes one literal argument, got ${exprs.mkString(", ")}")
  }

  /** Registers `graft_param` once per session: it is called per query,
    * and a replacement would log a warning each time. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(Name)))
      registry.createOrReplaceTempFunction(Name, fromExprs, "built-in")
  }

  /** `value` (any type `lit` takes) as a bound, non-inlined constant. */
  def of(value: Any): Column = {
    require(value != null, NullRefused)
    call_function(Name, lit(value))
  }
}
