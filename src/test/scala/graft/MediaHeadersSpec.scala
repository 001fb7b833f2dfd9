package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.expressions.MediaHeaders
import org.apache.spark.sql.functions._

/** MediaHeaders ground truth: the parser is checked against bytes produced
  * by INDEPENDENT encoders (the JDK's ImageIO PNG/JPEG writers and
  * javax.sound's WAV writer), against a well-known public test vector, and
  * against corrupt/truncated streams; the builders are checked by feeding
  * their output back through the JDK decoders. A Spark round-trip runs with
  * codegen fallback disabled so a generated-code compile error fails the
  * suite instead of silently degrading to interpreted eval. */
class MediaHeadersSpec extends SparkSpec {

  System.setProperty("java.awt.headless", "true")

  private def pngOf(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(img, "png", out), "JDK PNG writer unavailable")
    out.toByteArray
  }

  private def jpegOf(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(img, "jpg", out), "JDK JPEG writer unavailable")
    out.toByteArray
  }

  private def wavOf(rate: Float, bits: Int, channels: Int,
                    frames: Int): Array[Byte] = {
    val enc = if (bits == 8) AudioFormat.Encoding.PCM_UNSIGNED
              else AudioFormat.Encoding.PCM_SIGNED
    val fmt = new AudioFormat(enc, rate, bits,
      channels, channels * bits / 8, rate, false)
    val data = new Array[Byte](frames * fmt.getFrameSize)
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt,
      frames.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("parses PNGs written by the JDK encoder") {
    for ((w, h) <- Seq((1, 1), (17, 31), (640, 480), (1920, 2))) {
      val b = pngOf(w, h)
      assert(MediaHeaders.kind(b) == "png")
      assert(MediaHeaders.longField(b, MediaHeaders.FWidth) == w)
      assert(MediaHeaders.longField(b, MediaHeaders.FHeight) == h)
      assert(MediaHeaders.longField(b, MediaHeaders.FBitDepth) == 8)
      // audio fields absent on an image container
      assert(MediaHeaders.longField(b, MediaHeaders.FSampleRate) == -1L)
    }
  }

  test("parses JPEGs written by the JDK encoder") {
    for ((w, h) <- Seq((1, 1), (13, 7), (320, 240), (2, 1000))) {
      val b = jpegOf(w, h)
      assert(MediaHeaders.kind(b) == "jpeg")
      assert(MediaHeaders.longField(b, MediaHeaders.FWidth) == w)
      assert(MediaHeaders.longField(b, MediaHeaders.FHeight) == h)
      assert(MediaHeaders.longField(b, MediaHeaders.FBitDepth) == 8)
    }
  }

  test("parses WAVs written by javax.sound") {
    for ((rate, bits, ch, frames) <- Seq((8000, 16, 1, 800), (44100, 16, 2, 441),
        (22050, 8, 1, 0))) {
      val b = wavOf(rate.toFloat, bits, ch, frames)
      assert(MediaHeaders.kind(b) == "wav")
      assert(MediaHeaders.longField(b, MediaHeaders.FSampleRate) == rate)
      assert(MediaHeaders.longField(b, MediaHeaders.FChannels) == ch)
      assert(MediaHeaders.longField(b, MediaHeaders.FBitsPerSample) == bits)
      assert(MediaHeaders.longField(b, MediaHeaders.FDataBytes) ==
        frames.toLong * ch * bits / 8)
      assert(MediaHeaders.longField(b, MediaHeaders.FDurationMs) ==
        frames.toLong * 1000 / rate)
      assert(MediaHeaders.longField(b, MediaHeaders.FWidth) == -1L)
    }
  }

  test("public 1x1 PNG test vector") {
    // the canonical 1x1 transparent PNG (public, widely published)
    val b = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhf" +
        "DwAChwGA60e6kgAAAABJRU5ErkJggg==")
    assert(MediaHeaders.kind(b) == "png")
    assert(MediaHeaders.longField(b, MediaHeaders.FWidth) == 1L)
    assert(MediaHeaders.longField(b, MediaHeaders.FHeight) == 1L)
    assert(MediaHeaders.longField(b, MediaHeaders.FBitDepth) == 8L)
  }

  test("buildPng output decodes in the JDK reader with the declared dims") {
    for ((w, h) <- Seq((16, 16), (333, 2), (1, 211))) {
      val img = ImageIO.read(new ByteArrayInputStream(
        MediaHeaders.buildPng(w, h)))
      assert(img != null, "JDK reader rejected buildPng output")
      assert(img.getWidth == w && img.getHeight == h)
    }
  }

  test("buildWav output parses in javax.sound with the declared format") {
    val b = MediaHeaders.buildWav(16000, 2, 16, 1600)
    val ff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(b))
    assert(ff.getType == AudioFileFormat.Type.WAVE)
    assert(ff.getFormat.getSampleRate == 16000f)
    assert(ff.getFormat.getChannels == 2)
    assert(ff.getFormat.getSampleSizeInBits == 16)
    assert(ff.getFrameLength == 1600)
  }

  test("buildJpeg carries the declared dimensions in its SOF0") {
    val b = MediaHeaders.buildJpeg(4093, 21)
    assert(MediaHeaders.kind(b) == "jpeg")
    assert(MediaHeaders.longField(b, MediaHeaders.FWidth) == 4093L)
    assert(MediaHeaders.longField(b, MediaHeaders.FHeight) == 21L)
  }

  test("corrupt and truncated streams yield NULL fields, never throw") {
    val png = MediaHeaders.buildPng(20, 10)
    val cut = java.util.Arrays.copyOfRange(png, 0, 15) // inside IHDR
    assert(MediaHeaders.longField(cut, MediaHeaders.FWidth) == -1L)
    assert(MediaHeaders.kind(cut) == "png") // magic intact
    assert(MediaHeaders.kind(Array[Byte](1, 2, 3)) == "unknown")
    assert(MediaHeaders.longField(Array.emptyByteArray,
      MediaHeaders.FWidth) == -1L)
    // JPEG with a lying segment length must not scan past the buffer
    val jpg = MediaHeaders.buildJpeg(5, 5)
    jpg(5) = 0x7F.toByte // APP0 length now points past EOF
    assert(MediaHeaders.longField(jpg, MediaHeaders.FWidth) == -1L)
  }

  test("Spark expressions round-trip under forced codegen") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import spark.implicits._
      val df = Seq((1L, "png", 40L, 30L, 0L, 0L),
                   (2L, "jpeg", 99L, 7L, 0L, 0L),
                   (3L, "wav", 22050L, 1L, 16L, 2205L))
        .toDF("id", "k", "p1", "p2", "p3", "p4")
        .select(col("id"), call_function(MediaHeaders.buildName,
          col("k"), col("p1"), col("p2"), col("p3"), col("p4"))
          .as("payload"))
        .select(col("id"),
          call_function(MediaHeaders.kindName, col("payload")).as("kind"),
          call_function(MediaHeaders.fieldName, col("payload"), lit("width"))
            .as("w"),
          call_function(MediaHeaders.fieldName, col("payload"),
            lit("sample_rate_hz")).as("sr"),
          call_function(MediaHeaders.fieldName, col("payload"),
            lit("duration_ms")).as("ms"))
        .orderBy(col("id"))
      val rows = df.collect()
      assert(rows.map(_.getString(1)).toSeq == Seq("png", "jpeg", "wav"))
      assert(rows(0).getLong(2) == 40L && rows(1).getLong(2) == 99L)
      assert(rows(2).isNullAt(2)) // wav has no width
      assert(rows(2).getLong(3) == 22050L)
      assert(rows(2).getLong(4) == 100L) // 2205 frames @ 22050 Hz
      assert(rows(0).isNullAt(3) && rows(0).isNullAt(4))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
