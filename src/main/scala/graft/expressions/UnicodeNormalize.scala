package graft.expressions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a codegen'd Catalyst
  * expression — the text-cleaning pass a multilingual corpus pipeline runs
  * before fingerprinting or tokenization (decomposed accents, fullwidth
  * forms, and compatibility ligatures otherwise make byte-identical text
  * hash differently). Native expression rather than a UDF: one static call
  * from generated code into the JDK's `java.text.Normalizer` (ICU-grade
  * tables shipped with the JVM — no external dependency), no boxing.
  *
  * The form is a compile-time parameter, resolved once at expression
  * construction (not per row). */
case class UnicodeNormalize(child: Expression, formName: String)
    extends UnaryExpression {

  // validated at CONSTRUCTION (plan time, not mid-job) — and since the
  // name is spliced into generated Java below, membership in the enum is
  // also the codegen-injection guard
  require(Normalizer.Form.values.exists(_.name == formName),
    s"${UnicodeNormalize.name}: unknown form '$formName' " +
      s"(expected one of ${Normalizer.Form.values.mkString(", ")})")
  @transient private lazy val form = Normalizer.Form.valueOf(formName)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${UnicodeNormalize.name} expects string, got ${other.sql}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Normalizer.normalize(input.asInstanceOf[UTF8String].toString, form))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
       |  java.text.Normalizer.normalize($c.toString(),
       |    java.text.Normalizer.Form.$formName));
     """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): UnicodeNormalize = copy(child = newChild)
}

object UnicodeNormalize {

  val name = "graft_unicode_normalize"

  /** SQL builder, installed under [[name]] by
    * [[graft.plans.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"$name takes (text, form)")
    val form = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType)
        if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$name: form must be a string literal, got $other")
    }
    UnicodeNormalize(exprs.head, form)
  }

  /** Canonical composition — é as one codepoint, etc. */
  def nfc(c: Column): Column =
    call_function(name, c, org.apache.spark.sql.functions.lit("NFC"))

  /** Compatibility composition — fullwidth→ASCII, ligatures expanded. */
  def nfkc(c: Column): Column =
    call_function(name, c, org.apache.spark.sql.functions.lit("NFKC"))
}
