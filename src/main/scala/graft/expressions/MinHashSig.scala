package graft.expressions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** One-pass k-family MinHash signature aggregate: for a group's `bigint`
  * shingle-hash rows, computes `[min_sh xxhash64(0, sh), …,
  * min_sh xxhash64(k-1, sh)]` in a single tight loop per row over a
  * primitive `Array[Long]` buffer.
  *
  * Why a custom aggregate (SURVEY §7 preference order (b)): the composable
  * form is k separate `min(xxhash64(lit(i), sh))` aggregate expressions —
  * correct, but each evaluates a full two-child XxHash64 (re-hashing the
  * literal family index every row) and maintains its own buffer slot, and at
  * k=64 that update chain is the dominant linear stage of the MinHash dedup
  * pipeline (reference near_dup.rs computes its signatures in one fused
  * loop for the same reason). Here the per-family seeds
  * `xxhash64_seed(i) = XXH64.hashInt(i, 42)` are precomputed once, so each
  * row costs exactly k single-long hash rounds with no per-row allocation.
  *
  * Bit parity: Spark's `xxhash64(lit(i), sh)` evaluates
  * `XXH64.hashLong(sh, XXH64.hashInt(i, 42))` — this aggregate calls the
  * very same static kernels with the same seeding, so signatures (and every
  * downstream LSH band / candidate pair) are bit-identical to the composed
  * form; MinHashSigSpec asserts that equivalence. Independent families are
  * deliberately kept over Kirsch–Mitzenmacher double hashing — the recall
  * contract (Dedup.scala) stands, this only fuses the evaluation.
  *
  * Scale: runs under ObjectHashAggregateExec with map-side partial
  * aggregation (signatures merge by elementwise min, so combine is exact).
  * Past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
  * group keys per task it falls back to spillable sort-based aggregation —
  * the same safety valve every collect_list-style pipeline uses; the
  * fixed-width 8k-byte buffer serializes compactly between phases.
  */
case class MinHashSig(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(k > 0, s"minhash k must be positive, got $k")

  // xxhash64(lit(i), sh) hashes the IntegerType literal first: the running
  // hash after the literal child IS the seed for the long child
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val sh = v.asInstanceOf[Long]
      var i = 0
      while (i < k) {
        val h = XXH64.hashLong(sh, seeds(i))
        if (h < buffer(i)) buffer(i) = h
        i += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) {
      if (b2(i) < b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  // a group with zero non-null shingles keeps the MaxValue sentinel — same
  // as min()'s null, surfaced as null here so callers can't mistake the
  // sentinel for a real signature (shingle feeds are non-null by
  // construction, explode of array<bigint>, so this is belt-and-braces)
  override def eval(buffer: Array[Long]): Any =
    if (buffer.forall(_ == Long.MaxValue)) null
    else new GenericArrayData(buffer.clone())

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(k * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](k)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"${MinHashSig.name} expects a BIGINT shingle hash, got " +
          child.dataType.sql)

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSig =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSig =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = MinHashSig.name
}

object MinHashSig {

  val name = "graft_minhash_sig"

  /** SQL builder, installed under [[name]] by
    * [[graft.plans.GraftExtensions]]. The analyzer wraps a registry-built
    * AggregateFunction in AggregateExpression automatically, so
    * `call_function` usage in `.agg(...)` just works. */
  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"$name takes (shingle, k) arguments")
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$name k must be an integer literal, got $other")
    }
    MinHashSig(exprs.head, k)
  }

  /** Column builder: `minhashSig(col("sh"), 64)` aggregates to an
    * `array<bigint>` of the k family minima. */
  def minhashSig(sh: Column, k: Int): Column =
    call_function(name, sh, org.apache.spark.sql.functions.lit(k))
}
