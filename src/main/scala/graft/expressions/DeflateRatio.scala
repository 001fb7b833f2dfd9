package graft.expressions

import java.util.zip.Deflater

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compression-ratio quality signal: deflate(text).length / text.length —
  * the classic cheap proxy for repetitiveness/templatedness in corpus
  * curation (low ratio = highly compressible = boilerplate or generated
  * spam; ~1 = high-entropy text or noise). Used alongside the Gopher
  * battery as a doc-level filter feature.
  *
  * Native expression rather than a UDF: the kernel is one static call from
  * generated code, and the Deflater instance (which wraps native zlib
  * state) is thread-local with reset-per-row — no per-row allocation, no
  * boxing. DEFLATE output for a fixed input/level/strategy is deterministic
  * within a JVM (and across zlib builds in practice), which the spec pins
  * with golden-value bounds rather than exact bytes.
  *
  * NULL for empty/NULL input (a ratio over zero bytes is undefined —
  * deflate's fixed ~8-byte overhead would otherwise fabricate a huge
  * ratio). */
case class DeflateRatio(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${DeflateRatio.name} expects string or binary, got ${other.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val bytes = input match {
      case s: UTF8String  => s.getBytes
      case b: Array[Byte] => b
    }
    val r = DeflateRatio.ratio(bytes)
    if (r.isNaN) null else r
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val toBytes = child.dataType match {
      case StringType => (c: String) => s"$c.getBytes()"
      case _          => (c: String) => c
    }
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("ratio")
      s"""
         |double $r = graft.expressions.DeflateRatio.ratio(${toBytes(c)});
         |if (Double.isNaN($r)) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): DeflateRatio = copy(child = newChild)
}

object DeflateRatio {

  val name = "graft_deflate_ratio"

  // one native zlib state per executor thread, reset per row
  private val deflaters = ThreadLocal.withInitial[Deflater](() =>
    new Deflater(Deflater.DEFAULT_COMPRESSION, true))
  private val buffers = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](8192))

  /** Static kernel: deflated size / raw size; NaN for empty input. Called
    * from generated code — keep the signature stable. */
  def ratio(bytes: Array[Byte]): Double = {
    if (bytes.length == 0) return Double.NaN
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    var compressed = 0L
    val buf = buffers.get()
    while (!d.finished()) {
      compressed += d.deflate(buf)
    }
    compressed.toDouble / bytes.length
  }

  /** SQL builder, installed under [[name]] by
    * [[graft.plans.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"$name takes 1 argument")
    DeflateRatio(exprs.head)
  }

  def deflateRatio(c: Column): Column = call_function(name, c)
}
