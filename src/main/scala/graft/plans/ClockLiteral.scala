package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-run constant, such as a refresh's clock (`runTs`, `asOf`), that
  * generated code reads from a reference object instead of from its source.
  *
  * Spark writes a `Literal`'s value into the generated Java source, so a
  * plan holding `lit(runTs)` compiles its classes again for every new clock
  * value, and constant folding carries the value into every expression
  * around it (`date_sub(lit(asOf), 90)` folds to a date literal). This leaf
  * is not foldable, so those expressions stay as they are, and `doGenCode`
  * emits only a `references[i]` read (the `BoundsRank` idiom): a plan run
  * at a new clock reuses the classes its previous run compiled. The value
  * is the `Literal`'s internal one (micros for a timestamp, days for a
  * date), so results equal those of `lit(v)`. What it gives up: a filter
  * on it is not pushed into a parquet scan, and each row reads the boxed
  * value.
  */
case class ClockLiteral(value: Any, dataType: DataType) extends LeafExpression {

  override def foldable: Boolean = false

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clock", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;", isNull = FalseLiteral)
  }

  override def toString: String = s"clock(${Literal(value, dataType)})"

  override def sql: String = Literal(value, dataType).sql
}

object ClockLiteral {

  import org.apache.spark.sql.graftbridge.ColumnBridge.toCol

  /** `lit(v)`'s value and type (a `java.sql.Timestamp` or `java.sql.Date`)
    * as a [[ClockLiteral]]. */
  def clock_lit(v: Any): Column = {
    val l = Literal(v)
    toCol(ClockLiteral(l.value, l.dataType))
  }
}
