package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A constant whose value changes from one sync or batch to the next,
  * passed to generated code by reference instead of as source text.
  *
  * Spark writes a primitive `Literal` (a long, a timestamp) into the
  * generated Java source as text (`25000L`), and its codegen cache is
  * keyed on that source, so a literal that differs per batch makes
  * every batch compile its stages anew (Janino, then HotSpot again on
  * the new class). This expression reads its value from the generated
  * class's `references` array, so the source, and the compiled class,
  * are the same for every value. It is not foldable, so constant
  * folding cannot turn it back into a literal; it is deterministic.
  *
  * The rule: a value that changes per sync or batch and lands in a
  * projection or a filter goes through `BatchConstant`, except where a
  * scan pushes it down. Spark translates only `Literal`s into data
  * source filters, so a bound that prunes parquet row groups or a JDBC
  * query (`Incremental.deltaScan`'s cursor) stays a literal.
  *
  * `value` is in Catalyst's internal form (a timestamp is its epoch
  * microseconds); [[BatchConstant.of]] converts a Scala value as
  * `lit` does.
  */
case class BatchConstant(value: Any, dataType: DataType)
    extends LeafExpression {

  require(value != null, "a BatchConstant is never null")

  override def foldable: Boolean = false

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchConstant", value,
      CodeGenerator.boxedType(dataType))
    val javaType = CodeGenerator.javaType(dataType)
    val read =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
      else ref
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(read, dataType))
  }

  override def toString: String = s"batch_constant(${Literal(value, dataType)})"
}

object BatchConstant {

  /** `v` as a [[BatchConstant]] column, typed as `lit(v)` would be. */
  def of(v: Any): Column = {
    val l = Literal(v)
    ColumnBridge.column(BatchConstant(l.value, l.dataType))
  }
}
