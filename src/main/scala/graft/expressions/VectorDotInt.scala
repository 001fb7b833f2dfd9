package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression for the integer dot product of two int
  * arrays — the hot kernel of the quantized (int8) ANN shortlist.
  *
  * Same rationale as [[VectorCosine]] (SURVEY §7 preference order (b)):
  * the composable `aggregate(zip_with(a,b,*),0,+)` form allocates an
  * intermediate array per row and is evaluated interpreted (higher-order
  * functions don't codegen); this kernel is one fused loop inside
  * whole-stage codegen. Accumulates in long — int8-range elements cannot
  * overflow at any realistic dimensionality (|dot| ≤ d·2³¹ᐩ).
  *
  * Null contract (parity with the composed form): length mismatch → NULL,
  * null element → NULL.
  */
case class VectorDotInt(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot_int expects array<int> inputs, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => true
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getInt(i).toLong * b.getInt(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val checkNulls = elemNullable(left) || elemNullable(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck = if (checkNulls)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += (long) $a.getInt($i) * (long) $b.getInt($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDotInt =
    copy(left = newLeft, right = newRight)
}

object VectorDotInt {

  val name = "graft_vec_dot_int"

  /** SQL builder, installed under [[name]] by
    * [[graft.plans.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"$name takes 2 arguments")
    VectorDotInt(exprs.head, exprs(1))
  }

  def vecDotInt(a: Column, b: Column): Column = call_function(name, a, b)
}
