package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, TimestampType}

/** The instant an ingest batch was built, as a timestamp leaf the
  * optimizer cannot fold.
  *
  * `current_timestamp()` becomes a literal during optimization, and a
  * long literal's generated code inlines its value (`…L`), so every flush
  * generated new source and paid its Janino compiles again. This leaf
  * holds the instant by reference (`ctx.addReferenceObj`): the generated
  * source is the same for every flush and the compiled class is reused.
  * The parsers and `appendBatch` build their columns once per batch, so
  * the instant is fixed per batch exactly as `current_timestamp()` was
  * fixed per query. */
case class FlushInstant(micros: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = TimestampType

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("flushInstant", Long.box(micros), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref;", isNull = FalseLiteral)
  }

  // the value stays out of plan strings, so plans of two batches read alike
  override def toString: String = prettyName
  override def prettyName: String = "graft_flush_instant"
}

object FlushInstant {
  /** The current instant as a [[FlushInstant]] column. */
  def now(): Column = {
    GraftFunctions.ensure()
    call_function("graft_flush_instant",
      lit(DateTimeUtils.instantToMicros(java.time.Instant.now())))
  }
}
