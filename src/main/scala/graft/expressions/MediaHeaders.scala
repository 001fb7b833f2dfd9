package graft.expressions

import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real container-header parsing for multimodal `binary` columns — pure JVM,
  * no codec libraries: PNG IHDR (chunk walk), JPEG SOFn (marker scan), and
  * RIFF/WAVE `fmt `/`data` (chunk walk), all straight from the public format
  * specs (PNG: RFC 2083 §3.1/§4.1.1; JPEG: ITU-T T.81 §B.2.2; WAV: RIFF
  * multimedia spec). This replaces the hash-derived synthetic metadata of
  * `Multimodal.syntheticMedia` with values read out of genuine file bytes —
  * the analog of the reference's typed-metadata ingest surface (reference
  * context.rs:100-163's schema-carrying registrations).
  *
  * Parsers are exposed as codegen'd Catalyst expressions ([[MediaKind]],
  * [[MediaField]]) whose generated code is a single static call — they stay
  * inside whole-stage codegen, so header extraction over 100 TB of payloads
  * is one branchy-but-allocation-free kernel per row, no UDF boxing.
  *
  * Byte-walking contract (identical in eval and codegen): a field that is
  * absent, out of bounds, or belongs to a different container kind returns
  * -1 from the static kernel, surfaced as SQL NULL. Truncated or corrupt
  * streams never throw — every read is bounds-checked.
  */
object MediaHeaders {

  // field ids for the static kernel (stable — referenced from codegen)
  final val FWidth = 0
  final val FHeight = 1
  final val FBitDepth = 2
  final val FSampleRate = 3
  final val FChannels = 4
  final val FBitsPerSample = 5
  final val FDurationMs = 6
  final val FDataBytes = 7

  val fieldNames: Map[String, Int] = Map(
    "width" -> FWidth, "height" -> FHeight, "bit_depth" -> FBitDepth,
    "sample_rate_hz" -> FSampleRate, "channels" -> FChannels,
    "bits_per_sample" -> FBitsPerSample, "duration_ms" -> FDurationMs,
    "data_bytes" -> FDataBytes)

  // ---- sniffing ----------------------------------------------------------

  private val PngSig =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(b, 0, 8), PngSig)

  def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8

  def isWav(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
      b(11) == 'E'

  /** Container kind by magic bytes: png | jpeg | wav | unknown. */
  def kind(b: Array[Byte]): String =
    if (isPng(b)) "png"
    else if (isJpeg(b)) "jpeg"
    else if (isWav(b)) "wav"
    else "unknown"

  // ---- bounds-checked primitive reads ------------------------------------

  @inline private def be32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xFFL) << 24) | ((b(p + 1) & 0xFFL) << 16) |
      ((b(p + 2) & 0xFFL) << 8) | (b(p + 3) & 0xFFL)

  @inline private def be16(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xFF) << 8) | (b(p + 1) & 0xFF)

  @inline private def le32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
      ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)

  @inline private def le16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)

  // ---- PNG: walk chunks to IHDR (RFC 2083 §4.1.1) ------------------------
  // Chunk layout: 4-byte BE length, 4-byte type, data, 4-byte CRC. IHDR is
  // required first, but we walk rather than assume offset 8 — ancillary
  // ordering bugs in the wild are common and a walker costs nothing.
  private def pngField(b: Array[Byte], field: Int): Long = {
    var p = 8
    while (p + 8 <= b.length) {
      val len = be32(b, p)
      if (len < 0 || p + 8 + len > b.length) return -1L
      val isIhdr = b(p + 4) == 'I' && b(p + 5) == 'H' &&
        b(p + 6) == 'D' && b(p + 7) == 'R'
      if (isIhdr) {
        if (len < 13) return -1L
        return field match {
          case FWidth    => be32(b, p + 8)
          case FHeight   => be32(b, p + 12)
          case FBitDepth => (b(p + 16) & 0xFF).toLong
          case _         => -1L
        }
      }
      p += 12 + len.toInt
    }
    -1L
  }

  // ---- JPEG: marker scan to SOFn (ITU-T T.81 §B.2.2) ---------------------
  // Frame headers SOF0-SOF15 carry precision/height/width; C4 (DHT),
  // C8 (JPG), CC (DAC) are NOT frame headers. Standalone markers
  // (SOI/EOI/RSTn/TEM) have no length field; everything else is skipped by
  // its 2-byte BE segment length.
  private def jpegField(b: Array[Byte], field: Int): Long = {
    var p = 2
    while (p + 4 <= b.length) {
      if ((b(p) & 0xFF) != 0xFF) return -1L
      var q = p
      while (q + 1 < b.length && (b(q + 1) & 0xFF) == 0xFF) q += 1 // fill FFs
      val m = b(q + 1) & 0xFF
      val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 &&
        m != 0xCC
      if (isSof) {
        if (q + 9 > b.length) return -1L
        return field match {
          case FBitDepth => (b(q + 4) & 0xFF).toLong
          case FHeight   => be16(b, q + 5).toLong
          case FWidth    => be16(b, q + 7).toLong
          case _         => -1L
        }
      }
      if (m == 0xD8 || m == 0xD9 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
        p = q + 2 // standalone marker, no segment length
      } else {
        if (q + 4 > b.length) return -1L
        p = q + 2 + be16(b, q + 2)
      }
    }
    -1L
  }

  // ---- WAV: RIFF chunk walk to `fmt ` / `data` ---------------------------
  // All values little-endian; chunks are word-aligned (odd sizes padded).
  private def wavField(b: Array[Byte], field: Int): Long = {
    var p = 12
    var rate = -1L; var channels = -1L; var bits = -1L
    var byteRate = -1L; var dataBytes = -1L
    while (p + 8 <= b.length) {
      val size = le32(b, p + 4)
      if (size < 0 || p + 8 + size > b.length) return -1L
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' &&
          b(p + 3) == ' ' && size >= 16) {
        channels = le16(b, p + 10).toLong
        rate = le32(b, p + 12)
        byteRate = le32(b, p + 16)
        bits = le16(b, p + 22).toLong
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
          b(p + 3) == 'a') {
        dataBytes = size
      }
      p += 8 + size.toInt + (size.toInt & 1)
    }
    field match {
      case FSampleRate    => rate
      case FChannels      => channels
      case FBitsPerSample => bits
      case FDataBytes     => dataBytes
      case FDurationMs =>
        if (dataBytes >= 0 && byteRate > 0) dataBytes * 1000L / byteRate
        else -1L
      case _ => -1L
    }
  }

  /** Static kernel: extract `field` from the container header; -1 = absent
    * (wrong kind, truncated, or corrupt). Called directly from generated
    * code — keep the signature stable. */
  def longField(b: Array[Byte], field: Int): Long =
    if (b == null) -1L
    else if (isPng(b)) pngField(b, field)
    else if (isJpeg(b)) jpegField(b, field)
    else if (isWav(b)) wavField(b, field)
    else -1L

  /** Static kernel behind [[MediaKind]] codegen. */
  def kindUtf8(b: Array[Byte]): UTF8String = UTF8String.fromString(kind(b))

  // ---- builders: minimal VALID files, used as ingest scaffolding ---------
  // (a real deployment reads actual media files; tests cross-check these
  // against the JDK's own encoders/decoders — ImageIO and AudioSystem)

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
                    data: Array[Byte]): Unit = {
    val len = data.length
    out.write((len >>> 24) & 0xFF); out.write((len >>> 16) & 0xFF)
    out.write((len >>> 8) & 0xFF); out.write(len & 0xFF)
    val tb = typ.getBytes("US-ASCII")
    out.write(tb, 0, 4)
    out.write(data, 0, len)
    val crc = new CRC32()
    crc.update(tb); crc.update(data)
    val c = crc.getValue
    out.write(((c >>> 24) & 0xFF).toInt); out.write(((c >>> 16) & 0xFF).toInt)
    out.write(((c >>> 8) & 0xFF).toInt); out.write((c & 0xFF).toInt)
  }

  /** Fully valid grayscale 8-bit PNG (signature, IHDR, deflated all-zero
    * IDAT, IEND — correct CRCs), decodable by any conformant reader. */
  def buildPng(width: Int, height: Int): Array[Byte] =
    buildPngFromPixels(width, height, (_, _) => 0)

  /** Grayscale 8-bit PNG carrying the deterministic gradient
    * pixel(x,y) = (a·x + b·y + c) mod 256. PNG is lossless, so a decoder
    * recovers these exact values — pixel statistics over the image are
    * plain arithmetic an independent engine can recompute, which is what
    * makes the decode path ORACLE-gateable rather than stub-trusted. */
  def buildPngGradient(width: Int, height: Int, a: Int, b: Int,
                       c: Int): Array[Byte] = {
    require(a >= 0 && b >= 0 && c >= 0, "gradient params must be >= 0")
    buildPngFromPixels(width, height,
      (x, y) => (a * x + b * y + c) % 256)
  }

  /** Grayscale 8-bit PNG from an arbitrary pixel function (row-major,
    * values masked to 0..255). Filter type 0 on every row; single IDAT. */
  def buildPngFromPixels(width: Int, height: Int,
                         px: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0, "png dims must be positive")
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, 8)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((width >>> 24) & 0xFF).toByte
    ihdr(1) = ((width >>> 16) & 0xFF).toByte
    ihdr(2) = ((width >>> 8) & 0xFF).toByte
    ihdr(3) = (width & 0xFF).toByte
    ihdr(4) = ((height >>> 24) & 0xFF).toByte
    ihdr(5) = ((height >>> 16) & 0xFF).toByte
    ihdr(6) = ((height >>> 8) & 0xFF).toByte
    ihdr(7) = (height & 0xFF).toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = 0 // color type: grayscale
    // 10..12: compression 0, filter 0, interlace 0
    chunk(out, "IHDR", ihdr)
    // raw image: per row, 1 filter byte (0) + width samples
    val raw = new Array[Byte](height * (width + 1))
    var y = 0
    while (y < height) {
      val base = y * (width + 1) + 1 // +1 skips the row's filter byte
      var x = 0
      while (x < width) {
        raw(base + x) = (px(x, y) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](8192)
    val idat = new java.io.ByteArrayOutputStream()
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      idat.write(buf, 0, n)
    }
    deflater.end()
    chunk(out, "IDAT", idat.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Grayscale PNG of deterministic hash noise: pixel(x,y) =
    * mix(seed,x,y) mod 248 + shift, mix a splitmix64-style finalizer.
    * The base lives in [0,248) and `shift` ≤ 8 never wraps, so
    * adjacent-pixel COMPARISONS are invariant across shifts — two noise
    * images that differ only in `shift` are byte-distinct brightness
    * variants with an IDENTICAL dHash, the planted-near-duplicate shape
    * the image-dedup gate needs (and, unlike gradients, hash noise gives
    * near-uniform dHashes, so distinct seeds land far apart in Hamming
    * space). */
  def buildPngNoise(width: Int, height: Int, seed: Int,
                    shift: Int): Array[Byte] = {
    require(shift >= 0 && shift <= 8, s"shift=$shift must be in [0,8]")
    buildPngFromPixels(width, height, (x, y) => {
      var z = seed.toLong * 0x9E3779B97F4A7C15L +
        y.toLong * 0x85EBCA77C2B2AE63L + x.toLong * 0xC2B2AE3D27D4EB4FL
      z ^= z >>> 27; z *= 0x94D049BB133111EBL; z ^= z >>> 31
      ((z & 0x7FFFFFFFL) % 248).toInt + shift
    })
  }

  /** REAL JPEG of the same gradient, produced by the JDK's own encoder
    * (ImageIO) — a genuine lossy scan, not header scaffolding. Decoded
    * pixels are approximate by design; gates assert dims exactly and
    * pixel statistics within a tolerance band against the lossless PNG
    * twin of the same gradient. */
  def buildJpegGradient(width: Int, height: Int, a: Int, b: Int,
                        c: Int): Array[Byte] = {
    require(width > 0 && height > 0 && width < 65536 && height < 65536)
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        raster.setSample(x, y, 0, (a * x + b * y + c) % 256)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, "jpg", out)
    require(ok, "no JPEG encoder available in this JVM")
    out.toByteArray
  }

  /** JPEG container with a real marker structure: SOI, JFIF APP0, baseline
    * SOF0 (grayscale) carrying the dimensions, EOI. Header-complete per
    * T.81 §B.2 (no entropy-coded scan — this is ingest scaffolding for the
    * header path; tests parse real ImageIO-encoded JPEGs too). */
  def buildJpeg(width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && width < 65536 && height < 65536)
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8) // SOI
    // APP0/JFIF: len 16, "JFIF\0", version 1.1, no density/thumbnail
    out.write(0xFF); out.write(0xE0); out.write(0); out.write(16)
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1); out.write(0)
    out.write(0); out.write(1); out.write(0); out.write(1)
    out.write(0); out.write(0)
    // SOF0: len 11 (8 + 3*1 component), precision 8, height, width, 1 comp
    out.write(0xFF); out.write(0xC0); out.write(0); out.write(11)
    out.write(8)
    out.write((height >>> 8) & 0xFF); out.write(height & 0xFF)
    out.write((width >>> 8) & 0xFF); out.write(width & 0xFF)
    out.write(1)                      // 1 component (grayscale)
    out.write(1); out.write(0x11); out.write(0) // id, 1x1 sampling, qtable 0
    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }

  /** Fully valid PCM WAV (RIFF/WAVE, `fmt ` + zero-sample `data`),
    * readable by javax.sound and any WAV reader. */
  def buildWav(sampleRate: Int, channels: Int, bitsPerSample: Int,
               nSamples: Int): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && bitsPerSample % 8 == 0 &&
      nSamples >= 0)
    val blockAlign = channels * bitsPerSample / 8
    val byteRate = sampleRate * blockAlign
    val dataSize = nSamples * blockAlign
    val out = new java.io.ByteArrayOutputStream(44 + dataSize)
    def le16w(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    def le32w(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    le32w(36 + dataSize)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII"))
    le32w(16)
    le16w(1) // PCM
    le16w(channels)
    le32w(sampleRate)
    le32w(byteRate)
    le16w(blockAlign)
    le16w(bitsPerSample)
    out.write("data".getBytes("US-ASCII"))
    le32w(dataSize)
    out.write(new Array[Byte](dataSize), 0, dataSize)
    out.toByteArray
  }

  /** Fully valid 16-bit mono PCM WAV whose sample stream is the
    * deterministic sawtooth sample(i) = ((i·step + phase) mod 65536) −
    * 32768 — PCM is lossless, so a decode recovers these exact values and
    * amplitude statistics are recomputable arithmetic (the audio analog
    * of [[buildPngGradient]]). */
  def buildWavTone(sampleRate: Int, nSamples: Int, step: Int,
                   phase: Int): Array[Byte] = {
    require(sampleRate > 0 && nSamples >= 0 && step >= 0 && phase >= 0)
    val dataSize = nSamples * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataSize)
    def le16w(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    def le32w(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    le32w(36 + dataSize)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII"))
    le32w(16)
    le16w(1) // PCM
    le16w(1) // mono
    le32w(sampleRate)
    le32w(sampleRate * 2) // byte rate = rate × blockAlign(2)
    le16w(2)  // block align
    le16w(16) // bits per sample
    out.write("data".getBytes("US-ASCII"))
    le32w(dataSize)
    var i = 0
    while (i < nSamples) {
      val s = ((i.toLong * step + phase) % 65536L).toInt - 32768
      le16w(s & 0xFFFF)
      i += 1
    }
    out.toByteArray
  }

  /** Dispatch used by [[BuildMedia]]: png/jpeg take (w, h); wav takes
    * (sampleRate, channels, bitsPerSample, nSamples); png_grad/jpeg_grad
    * take (w, h, a, b, c) — the gradient pixel formula params; wav_tone
    * takes (sampleRate, nSamples, step, phase). */
  def build(kind: String, p1: Int, p2: Int, p3: Int, p4: Int,
            p5: Int = 0): Array[Byte] =
    kind match {
      case "png"       => buildPng(p1, p2)
      case "jpeg"      => buildJpeg(p1, p2)
      case "wav"       => buildWav(p1, p2, p3, p4)
      case "png_grad"  => buildPngGradient(p1, p2, p3, p4, p5)
      case "jpeg_grad" => buildJpegGradient(p1, p2, p3, p4, p5)
      case "png_noise" => buildPngNoise(p1, p2, p3, p4)
      case "wav_tone"  => buildWavTone(p1, p2, p3, p4)
      case other => throw new IllegalArgumentException(
        s"unknown media kind '$other' " +
          "(png|jpeg|wav|png_grad|jpeg_grad|png_noise|wav_tone)")
    }

  // ---- SQL builders, installed by graft.plans.GraftExtensions ------------

  val kindName = "graft_media_kind"
  val fieldName = "graft_media_field"
  val buildName = "graft_media_build"

  val kindBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"$kindName takes 1 argument")
    MediaKind(exprs.head)
  }

  val fieldBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"$fieldName takes (binary, 'field')")
    val field = exprs(1) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fieldName field must be a string literal, got $other")
    }
    require(fieldNames.contains(field),
      s"unknown media field '$field' (${fieldNames.keys.mkString("|")})")
    MediaField(exprs.head, field)
  }

  val buildBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 5 || exprs.length == 6,
      s"$buildName takes (kind, p1, p2, p3, p4[, p5])")
    BuildMedia(exprs)
  }
}

/** Container kind by magic bytes — codegen is one static call. */
case class MediaKind(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${MediaHeaders.kindName} expects binary, got ${child.dataType.sql}")
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    MediaHeaders.kindUtf8(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      b => s"graft.expressions.MediaHeaders.kindUtf8($b)")
  override protected def withNewChildInternal(
      newChild: Expression): MediaKind = copy(child = newChild)
}

/** One header field as a nullable BIGINT (-1 from the kernel = NULL). */
case class MediaField(child: Expression, field: String)
    extends UnaryExpression {
  private val fieldId = MediaHeaders.fieldNames(field)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${MediaHeaders.fieldName} expects binary, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val v = MediaHeaders.longField(input.asInstanceOf[Array[Byte]], fieldId)
    if (v < 0L) null else v
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val v = ctx.freshName("hdr")
      s"""
         |long $v = graft.expressions.MediaHeaders.longField($b, $fieldId);
         |if ($v < 0L) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
       """.stripMargin
    })
  override protected def withNewChildInternal(
      newChild: Expression): MediaField = copy(child = newChild)
}

/** Synthesize a valid media payload (ingest-side test scaffolding — real
  * deployments scan actual files; CodegenFallback is deliberate here, the
  * parse path above is the hot kernel). */
case class BuildMedia(children: Seq[Expression])
    extends Expression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    def i(x: Any): Int = x match {
      case l: Long => l.toInt
      case n: Int  => n
      case o => throw new IllegalArgumentException(s"int expected, got $o")
    }
    MediaHeaders.build(vs.head.asInstanceOf[UTF8String].toString,
      i(vs(1)), i(vs(2)), i(vs(3)), i(vs(4)),
      if (vs.length > 5) i(vs(5)) else 0)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BuildMedia =
    copy(children = newChildren)
}
