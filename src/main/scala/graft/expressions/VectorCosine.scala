package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity of two numeric arrays
  * (float or double elements) — the hot kernel of the Similarity operators.
  *
  * Why a custom Expression (SURVEY §7 preference order (b)): the composable
  * form `aggregate(zip_with(a,b,*),0,+) / (…norms…)` materializes an
  * intermediate array per row and walks each input three times; this kernel
  * is a single fused loop, with `doGenCode` emitting straight-line Java that
  * participates in whole-stage codegen — on a 100 TB embedding corpus the
  * difference is an extra array allocation per row versus none.
  *
  * Numeric contract: accumulates dot and both norms in double, elements
  * visited left-to-right — bit-identical to the composed zip_with/aggregate
  * form, so swapping it into oracle-checked queries changes nothing. That
  * parity includes the null cases: mismatched lengths yield NULL (zip_with
  * null-pads the shorter side, nulling the sum) and a null element yields
  * NULL (null propagates through the aggregate) — not a silent truncation
  * to min(n). Zero-norm inputs yield NaN (0/0), same as the composed form.
  */
case class VectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null even for non-null inputs: length mismatch / null elements
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_cosine expects array<float|double> inputs, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
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
    val aF = elemIsFloat(left); val bF = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x: Double = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y: Double = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    // element null checks are only emitted when the array type can actually
    // hold nulls, so the containsNull=false hot path stays a pure fused loop
    val checkNulls = elemNullable(left) || elemNullable(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val nullCheck = if (checkNulls)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $x = (double) $a.$aGet($i);
         |    double $y = (double) $b.$bGet($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} =
         |      $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorCosine =
    copy(left = newLeft, right = newRight)
}

object VectorCosine {

  val name = "graft_vec_cosine"

  /** SQL builder, installed under [[name]] in every session by
    * [[graft.plans.GraftExtensions]], as the reference installs its
    * functions in the session state (reference functions.rs:304-397). */
  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"$name takes 2 arguments")
    VectorCosine(exprs.head, exprs(1))
  }

  /** Column builder: resolves by name through [[builder]]. */
  def vecCosine(a: Column, b: Column): Column = call_function(name, a, b)
}
