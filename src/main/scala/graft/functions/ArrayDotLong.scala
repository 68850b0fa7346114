package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: integer dot product of two
  * `array<bigint>` columns.
  *
  * This is the one hot kernel where the built-in formulation
  * (`aggregate(zip_with(a, b, _*_), 0L, _+_)`) genuinely underperforms:
  * zip_with materializes an intermediate array per row, and in LSH
  * candidate verification the kernel runs millions of times per query.
  * The generated code is a single allocation-free loop that stays
  * inside whole-stage codegen (SURVEY.md §2.8 — everything else in the
  * engine remains built-ins by design).
  *
  * Semantics match the HOF version exactly (integer math, index-major
  * order, min-length zip), so oracle results are unchanged.
  */
case class ArrayDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "array_dot_long"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): ArrayDotLong = copy(left = newLeft, right = newRight)
}

object ArrayDotLong {
  val name = "array_dot_long"
}
