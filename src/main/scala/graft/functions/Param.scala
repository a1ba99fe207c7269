package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, TimestampType}

/** A constant the generated code reads at run time instead of inlining
  * — a deterministic, NON-foldable leaf.
  *
  * Why it exists: Spark inlines a primitive `Literal` (double, long,
  * timestamp) into the Java source of every whole-stage and projection
  * class, and its generated-class cache is keyed on that source. A
  * quality suite whose baselines come from the last profile therefore
  * emits new source — and pays a fresh Janino compile per pass — every
  * time the baselines move, even though the plan shape is identical
  * (re-evaluating the pinned lineitem suite with moved baselines
  * recompiled 60 classes). This leaf puts its value in the class's
  * `references` array (`ctx.addReferenceObj`, the way Spark already
  * passes string and decimal literals), so the source, and the
  * compiled class, depend only on the plan shape.
  *
  * Semantics are those of a literal of the same type: the same value
  * enters the same arithmetic, so results are bit-identical to the
  * inlined form. Because it is not foldable, Catalyst does not
  * constant-fold around it; what that gives up are literal-only
  * simplifications such as UnwrapCastInBinaryComparison's cast
  * narrowing, which do not change a result.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = value == null
  override def foldable: Boolean = false
  override def prettyName: String = "graft_param"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    if (value == null) {
      ev.copy(code = EmptyBlock, isNull = TrueLiteral,
        value = JavaCode.defaultLiteral(dataType))
    } else {
      val boxed = CodeGenerator.boxedType(dataType)
      val ref = ctx.addReferenceObj("param", value, boxed)
      val read =
        if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
        else ref
      ev.copy(code = EmptyBlock, isNull = FalseLiteral,
        value = JavaCode.expression(read, dataType))
    }
  }
}

object Param {
  def double(v: Double): Column = ColumnBridge.column(Param(v, DoubleType))

  /** A timestamp parsed exactly as `to_timestamp(lit(v))` parses it
    * (a cast in the session time zone), held as a run-time value.
    */
  def timestamp(v: String): Column = {
    val micros = Cast(Literal(v), TimestampType,
      Some(SQLConf.get.sessionLocalTimeZone)).eval()
    ColumnBridge.column(Param(micros, TimestampType))
  }
}
