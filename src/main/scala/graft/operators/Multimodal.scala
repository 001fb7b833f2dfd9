package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with a typed metadata struct, processed by a partition-local map.
  *
  * Image decode is REAL: the JDK's own codecs (javax.imageio — PNG and
  * JPEG readers/writers ship with every JVM) run inside the
  * partition-local `mapPartitions` decode seam, so pixel statistics,
  * resampling, and perceptual hashing operate on genuinely decoded
  * rasters. The Spark-side contract is unchanged from the earlier stub
  * generation: schema-first output, partition preservation — no shuffle,
  * no driver involvement, which is what lets the same decode kernel run
  * over 100 TB of payloads as a pure map.
  * A payload the decoder rejects yields NULL stats, never a throw.
  */
object Multimodal {

  /** Decode any ImageIO-supported payload to an 8-bit grayscale raster
    * (row-major samples). Color inputs are luma-converted by drawing onto
    * a TYPE_BYTE_GRAY canvas; undecodable payloads yield None. ImageIO's
    * disk cache is disabled once per JVM — executors decode purely
    * in-memory. */
  def decodeGray(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) return None
      val gray =
        if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) img
        else {
          val g = new java.awt.image.BufferedImage(img.getWidth,
            img.getHeight, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val gr = g.createGraphics()
          gr.drawImage(img, 0, 0, null)
          gr.dispose()
          g
        }
      val (w, h) = (gray.getWidth, gray.getHeight)
      val raster = gray.getRaster
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      Some((w, h, px))
    } catch { case _: Exception => None }
  }
  javax.imageio.ImageIO.setUseCache(false)

  /** Metadata contract for an opaque media payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),      // image|audio|video
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate_hz", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Attach a synthetic media payload to any string column: the bytes are
    * the UTF-8 of the text (an opaque stand-in), metadata derived
    * deterministically, of kind `image`. Gives every pipeline a
    * `content binary, meta struct` pair shaped exactly like a real ingest. */
  def syntheticMedia(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("content", col(textCol).cast("binary"))
      .withColumn("meta", struct(
        lit("image").as("kind"),
        (pmod(xxhash64(col(textCol)), lit(1920L)) + 1).cast("int")
          .as("width"),
        (pmod(xxhash64(col(textCol), lit(1)), lit(1080L)) + 1).cast("int")
          .as("height"),
        lit(16000).as("sample_rate_hz"),
        (length(col(textCol)) * 20L).cast("long").as("duration_ms")))

  /** Feature-extraction output schema: id + fixed-dim float vector. */
  def featureSchema(idField: StructField, dim: Int): StructType =
    StructType(Seq(idField,
      StructField("features", ArrayType(FloatType, containsNull = false))))

  /** REAL decode kernel: stripe-profile features from the decoded raster.
    * The image is split into `dim` horizontal stripes (stripe of row y is
    * y·dim div h — integer arithmetic, so an independent engine can
    * recompute the partition); feature i is stripe i's mean gray level.
    * Deterministic given the payload bytes (PNG is lossless), so gates
    * can assert exact values. Returns null for undecodable payloads. */
  def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] =
    decodeGray(payload) match {
      case None => null
      case Some((w, h, px)) =>
        val sums = new Array[Long](dim)
        val counts = new Array[Long](dim)
        var y = 0
        while (y < h) {
          val s = y * dim / h
          var x = 0
          while (x < w) { sums(s) += px(y * w + x); x += 1 }
          counts(s) += w
          y += 1
        }
        val out = new Array[Float](dim)
        var i = 0
        while (i < dim) {
          out(i) = if (counts(i) == 0) 0f
                   else (sums(i).toDouble / counts(i)).toFloat
          i += 1
        }
        out
    }

  /** The decode seam every decode kernel runs through: a partition-local
    * map, one `f` call per payload, preserving partitioning — no shuffle.
    * Each output row is the input's `idCol` value followed by
    * `f(payload)`, typed by `outFields`. */
  private def decodeEach(df: DataFrame, idCol: String, binCol: String,
                         outFields: Seq[StructField])(
                          f: Array[Byte] => Seq[Any]): DataFrame = {
    val idIx = df.schema.fieldIndex(idCol)
    val binIx = df.schema.fieldIndex(binCol)
    implicit val enc =
      RowEncoder.encoderFor(StructType(df.schema(idCol) +: outFields))
    df.mapPartitions(_.map { row =>
      Row.fromSeq(row.get(idIx) +: f(row.getAs[Array[Byte]](binIx)))
    })
  }

  /** Feature extraction over the binary column (see
    * [[decodeEach]]). */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String,
                      dim: Int = 64): DataFrame =
    decodeEach(df, idCol, binCol,
        featureSchema(df.schema(idCol), dim).tail) { payload =>
      val f = decodeFeatures(payload, dim)
      Seq(if (f == null) null else f.toSeq)
    }

  /** Pixel-statistics schema for [[imageStats]]: everything integral, so
    * the DuckDB oracle recomputes each field exactly from the gradient
    * construction arithmetic — no float-tolerance hedging. */
  def statsSchema(idField: StructField): StructType =
    StructType(Seq(idField,
      StructField("img_w", IntegerType, nullable = true),
      StructField("img_h", IntegerType, nullable = true),
      StructField("n_px", LongType, nullable = true),
      StructField("sum_gray", LongType, nullable = true),
      StructField("min_gray", IntegerType, nullable = true),
      StructField("max_gray", IntegerType, nullable = true),
      StructField("stripe_sig", StringType, nullable = true)))

  /** REAL pixel statistics over decoded rasters: dimensions, gray
    * sum/min/max, and an 8-stripe row-profile signature (per-stripe gray
    * sums, '|'-joined — stripe of row y is y·8 div h). All integer
    * arithmetic over genuinely decoded pixels; a payload the decoder
    * rejects yields NULL stats. Partition-local, no shuffle. */
  def imageStats(df: DataFrame, idCol: String, binCol: String): DataFrame =
    decodeEach(df, idCol, binCol,
        statsSchema(df.schema(idCol)).tail) { payload =>
      decodeGray(payload) match {
        case None => Seq.fill(7)(null)
        case Some((w, h, px)) =>
          var sum = 0L; var mn = 255; var mx = 0
          val stripes = new Array[Long](8)
          var y = 0
          while (y < h) {
            val s = y * 8 / h
            var x = 0
            while (x < w) {
              val g = px(y * w + x)
              sum += g
              if (g < mn) mn = g
              if (g > mx) mx = g
              stripes(s) += g
              x += 1
            }
            y += 1
          }
          Seq(w, h, w.toLong * h, sum, mn, mx, stripes.mkString("|"))
      }
    }

  /** REAL nearest-neighbor resample: decode, sample src pixel
    * (x·srcW div tW, y·srcH div tH) for each target pixel, re-encode as
    * grayscale PNG via the repo's own writer — a deterministic
    * decode→transform→encode round trip whose output raster is
    * recomputable arithmetic (both the index mapping and, for gradient
    * inputs, the pixel values). Undecodable payloads pass through as
    * NULL. Partition-local, no shuffle. */
  def resizeImage(df: DataFrame, idCol: String, binCol: String,
                  targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    decodeEach(df, idCol, binCol,
        Seq(StructField("content", BinaryType, nullable = true))) { payload =>
      decodeGray(payload) match {
        case None => Seq(null)
        case Some((w, h, px)) =>
          Seq(graft.expressions.MediaHeaders.buildPngFromPixels(
            targetW, targetH,
            (x, y) => px((y * h / targetH) * w + (x * w / targetW))))
      }
    }
  }

  /** REAL audio decode (javax.sound.sampled — WAV/AIFF/AU readers ship
    * with every JVM, the audio twin of ImageIO): 16-bit signed PCM
    * payloads to (sampleRateHz, channels, interleaved samples).
    * Non-PCM16 or undecodable payloads yield None. */
  def decodePcm16(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (payload == null) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) return None
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        val samples = new Array[Int](n)
        val be = fmt.isBigEndian
        var i = 0
        while (i < n) {
          val (lo, hi) =
            if (be) (bytes(2 * i + 1) & 0xFF, bytes(2 * i) & 0xFF)
            else (bytes(2 * i) & 0xFF, bytes(2 * i + 1) & 0xFF)
          samples(i) = ((hi << 8) | lo).toShort.toInt
          i += 1
        }
        Some((fmt.getSampleRate.toInt, fmt.getChannels, samples))
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** REAL amplitude statistics over decoded PCM: sample rate, channel
    * count, sample count, amplitude sum / sum-of-squares (energy) /
    * min / max, and an 8-bucket time-profile signature (per-bucket
    * amplitude sums, bucket of sample i is i·8 div n). All integer
    * arithmetic over genuinely decoded samples; undecodable payloads
    * yield NULL stats. Partition-local, no shuffle. */
  def audioStats(df: DataFrame, idCol: String, binCol: String): DataFrame =
    decodeEach(df, idCol, binCol, Seq(
      StructField("sample_rate_hz", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("sum_amp", LongType, nullable = true),
      StructField("sum_sq", LongType, nullable = true),
      StructField("min_amp", IntegerType, nullable = true),
      StructField("max_amp", IntegerType, nullable = true),
      StructField("bucket_sig", StringType, nullable = true))) { payload =>
      decodePcm16(payload) match {
        case None => Seq.fill(8)(null)
        case Some((rate, ch, s)) =>
          var sum = 0L; var sq = 0L
          var mn = Int.MaxValue; var mx = Int.MinValue
          val buckets = new Array[Long](8)
          val n = s.length
          var i = 0
          while (i < n) {
            val v = s(i)
            sum += v; sq += v.toLong * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            buckets(i * 8 / n) += v
            i += 1
          }
          Seq(rate, ch, n.toLong, sum, sq,
            if (n == 0) null else mn, if (n == 0) null else mx,
            buckets.mkString("|"))
      }
    }

  /** Perceptual audio fingerprint over decoded PCM: the sample stream is
    * split into 65 equal time buckets (bucket of sample i is i·65 div n)
    * and bit b = [mean(bucket b+1) > mean(bucket b)] — the sign pattern
    * of the coarse amplitude envelope, the audio analog of [[dHash]].
    * Means are compared exactly via cross-multiplication (sum₁·n₂ vs
    * sum₂·n₁ — no float rounding at the decision boundary). Depends only
    * on the SAMPLES, not the container header, so remastered/relabeled
    * copies of one recording hash identically. Output column `simhash` —
    * [[Dedup.simhashPairs]]'s pigeonhole block join applies verbatim. */
  def audioHash(df: DataFrame, idCol: String, binCol: String): DataFrame =
    decodeEach(df, idCol, binCol, simhashFields) { payload =>
      decodePcm16(payload) match {
        case Some((_, _, s)) if s.length >= 65 =>
          val sums = new Array[Long](65)
          val counts = new Array[Long](65)
          val n = s.length
          var i = 0
          while (i < n) {
            val b = (i.toLong * 65 / n).toInt
            sums(b) += s(i); counts(b) += 1
            i += 1
          }
          var bits = 0L
          var b = 0
          while (b < 64) {
            // mean(b+1) > mean(b) ⟺ sum(b+1)·n(b) > sum(b)·n(b+1)
            if (sums(b + 1) * counts(b) > sums(b) * counts(b + 1))
              bits |= (1L << b)
            b += 1
          }
          Seq(bits)
        case _ => Seq(null)
      }
    }

  /** Output field of the two perceptual hashes ([[audioHash]], [[dHash]]). */
  private val simhashFields =
    Seq(StructField("simhash", LongType, nullable = true))

  /** Perceptual dHash (difference hash) over decoded pixels: resample to
    * 9×8 (nearest-neighbor, same integer mapping as [[resizeImage]]),
    * then bit y·8+x = [g(x+1,y) > g(x,y)] — 64 bits of gradient-sign
    * structure that survive brightness shifts and mild re-encoding. The
    * output column is named `simhash` so [[Dedup.simhashPairs]]'s
    * 16-bit-block pigeonhole join applies verbatim — image near-dup
    * candidate generation rides the existing Hamming-blocking machinery.
    * Undecodable payloads yield NULL. */
  def dHash(df: DataFrame, idCol: String, binCol: String): DataFrame =
    decodeEach(df, idCol, binCol, simhashFields) { payload =>
      decodeGray(payload) match {
        case None => Seq(null)
        case Some((w, h, px)) =>
          def g(x: Int, y: Int): Int =
            px((y * h / 8) * w + (x * w / 9))
          var bits = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (g(x + 1, y) > g(x, y)) bits |= (1L << (y * 8 + x))
              x += 1
            }
            y += 1
          }
          Seq(bits)
      }
    }

  /** STUB frame sampler: every video payload yields 4 byte slices
    * (deterministic offsets). Real plumbing under test: one-to-many
    * expansion with an index column, partition-preserving. */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String)
      : DataFrame = {
    val frameIdx = sequence(lit(0), lit(3))
    df.select(col(idCol), col(binCol), explode(frameIdx).as("frame_ix"))
      .withColumn("frame_bytes",
        expr(s"substring($binCol, frame_ix * 8 + 1, 8)"))
      .drop(binCol)
  }

  /** STUB "resize": truncate/pad payload to a target byte budget and update
    * metadata — exercises the content+meta co-update contract. */
  def resize(df: DataFrame, binCol: String, metaCol: String,
             targetW: Int, targetH: Int): DataFrame =
    df.withColumn(binCol, expr(s"substring($binCol, 1, ${targetW * targetH})"))
      .withColumn(metaCol, struct(
        col(s"$metaCol.kind").as("kind"),
        lit(targetW).as("width"),
        lit(targetH).as("height"),
        col(s"$metaCol.sample_rate_hz").as("sample_rate_hz"),
        col(s"$metaCol.duration_ms").as("duration_ms")))
}
