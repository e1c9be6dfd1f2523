package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd integer dot product over two array<bigint> columns.
  *
  * This is the similarity hot path (SURVEY §4.2's "custom Expression only
  * if profiling demands" case — profiling demanded: the higher-order
  * `aggregate(zip_with(...))` formulation is interpreted per element with
  * boxing, measured ~8x slower at sf0.1). Whole-stage codegen emits a tight
  * primitive loop instead.
  *
  * Null semantics match the built-ins: null if either side is null;
  * mismatched lengths take the shorter prefix (inputs here are fixed-width
  * quantized embeddings, see operators.Similarity.quantize).
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = LongType

  /** Null ELEMENT in either array ⇒ null result (built-in arithmetic
    * semantics); previously getLong on a null slot read undefined garbage.
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getLong(i) * y.getLong(i)
      i += 1
    }
    sum
  }

  /** Whether either array may hold a null element. */
  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })

  /** Null on a null array or a null element, so arrays that may hold
    * nulls make the result nullable even when neither array is.
    */
  override def nullable: Boolean = super.nullable || elementsNullable

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      // `isNull` is declared only when the result is nullable
      val nullElement = if (!elementsNullable) "" else
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullElement
         |  $sum += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "long_array_dot"
}
