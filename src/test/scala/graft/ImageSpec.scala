package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.expressions.MediaHeaders
import graft.operators.{Dedup, Multimodal}

/** The REAL image-decode path: JDK ImageIO against the repo's own PNG
  * writer and gradient/noise constructions. Every assertion is exact
  * except the lossy-JPEG band (empirically worst 0.5 mean-gray error over
  * the gate's param space; asserted at 2.0). */
class ImageSpec extends SparkSpec {

  private def gradPx(w: Int, h: Int, a: Int, b: Int, c: Int) =
    Array.tabulate(h, w)((y, x) => (a * x + b * y + c) % 256)

  test("decodeGray recovers the exact gradient pixels from our PNG") {
    val (w, h, a, b, c) = (37, 23, 3, 5, 117)
    val png = MediaHeaders.buildPngGradient(w, h, a, b, c)
    val Some((dw, dh, px)) = Multimodal.decodeGray(png)
    assert(dw == w && dh == h)
    val expect = gradPx(w, h, a, b, c)
    for (y <- 0 until h; x <- 0 until w)
      assert(px(y * w + x) == expect(y)(x), s"pixel ($x,$y)")
  }

  test("decodeGray luma-converts color input (ImageIO RGB round trip)") {
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, (x * 20 << 16) | (y * 40 << 8) | 60)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val Some((w, h, px)) = Multimodal.decodeGray(out.toByteArray)
    assert(w == 8 && h == 4)
    // gray conversion happened: values within 0..255 and not all equal
    assert(px.forall(g => g >= 0 && g <= 255) && px.distinct.length > 1)
  }

  test("decodeGray rejects garbage without throwing") {
    assert(Multimodal.decodeGray("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeGray(null).isEmpty)
    assert(Multimodal.decodeGray(Array.emptyByteArray).isEmpty)
  }

  test("decodeFeatures = exact per-stripe mean grays") {
    val (w, h, a, b, c) = (20, 16, 2, 7, 33)
    val png = MediaHeaders.buildPngGradient(w, h, a, b, c)
    val got = Multimodal.decodeFeatures(png, 8)
    val expect = gradPx(w, h, a, b, c)
    for (s <- 0 until 8) {
      val rows = (0 until h).filter(y => y * 8 / h == s)
      val sum = rows.map(y => expect(y).sum.toLong).sum
      val cnt = rows.size.toLong * w
      assert(got(s) == (sum.toDouble / cnt).toFloat, s"stripe $s")
    }
    assert(Multimodal.decodeFeatures("junk".getBytes, 8) == null)
  }

  test("imageStats emits exact integral stats; garbage rows are NULL") {
    import spark.implicits._
    val (w, h, a, b, c) = (19, 11, 4, 3, 200)
    val png = MediaHeaders.buildPngGradient(w, h, a, b, c)
    val df = Seq((1L, png), (2L, "garbage".getBytes)).toDF("id", "bin")
    val rows = Multimodal.imageStats(df, "id", "bin")
      .orderBy("id").collect()
    val expect = gradPx(w, h, a, b, c).flatten
    val good = rows(0)
    assert(good.getInt(1) == w && good.getInt(2) == h)
    assert(good.getLong(3) == w.toLong * h)
    assert(good.getLong(4) == expect.map(_.toLong).sum)
    assert(good.getInt(5) == expect.min && good.getInt(6) == expect.max)
    val stripes = (0 until 8).map { s =>
      (0 until h).filter(y => y * 8 / h == s)
        .map(y => (0 until w).map(x => expect(y * w + x).toLong).sum).sum
    }
    assert(good.getString(7) == stripes.mkString("|"))
    assert(rows(1) == Row(2L, null, null, null, null, null, null, null))
  }

  test("resizeImage: decode → nearest-neighbor map → PNG re-encode, " +
    "round-trips to the exact mapped raster") {
    import spark.implicits._
    val (w, h, a, b, c) = (31, 17, 5, 2, 90)
    val png = MediaHeaders.buildPngGradient(w, h, a, b, c)
    val df = Seq((1L, png)).toDF("id", "bin")
    val out = Multimodal.resizeImage(df, "id", "bin", 12, 10).collect()
    val bytes = out(0).getAs[Array[Byte]](1)
    val Some((rw, rh, px)) = Multimodal.decodeGray(bytes)
    assert(rw == 12 && rh == 10)
    val src = gradPx(w, h, a, b, c)
    for (y <- 0 until 10; x <- 0 until 12)
      assert(px(y * 12 + x) == src(y * h / 10)(x * w / 12), s"($x,$y)")
  }

  test("dHash matches the formula and survives brightness shifts on " +
    "noise images (the planted-near-dup contract)") {
    import spark.implicits._
    val base = MediaHeaders.buildPngNoise(24, 18, seed = 7, shift = 0)
    val bright = MediaHeaders.buildPngNoise(24, 18, seed = 7, shift = 8)
    val other = MediaHeaders.buildPngNoise(24, 18, seed = 8, shift = 0)
    assert(!java.util.Arrays.equals(base, bright),
      "variants must be byte-distinct")
    val df = Seq((1L, base), (2L, bright), (3L, other),
      (4L, "junk".getBytes)).toDF("id", "bin")
    val got = Multimodal.dHash(df, "id", "bin").orderBy("id").collect()
    // formula check on the base image
    val Some((w, h, px)) = Multimodal.decodeGray(base)
    var expect = 0L
    for (y <- 0 until 8; x <- 0 until 8) {
      def g(xx: Int) = px((y * h / 8) * w + (xx * w / 9))
      if (g(x + 1) > g(x)) expect |= (1L << (y * 8 + x))
    }
    assert(got(0).getLong(1) == expect)
    // shift-invariance: no pixel wraps (base < 248), comparisons unchanged
    assert(got(1).getLong(1) == got(0).getLong(1))
    // different seed lands far away in Hamming space
    val hd = java.lang.Long.bitCount(got(2).getLong(1) ^ got(0).getLong(1))
    assert(hd > 10, s"seeds 7/8 hamming $hd")
    assert(got(3).isNullAt(1))
  }

  test("dHash pairs ride simhashPairs: planted variants found, " +
    "distinct seeds not") {
    import spark.implicits._
    val rows = (0 until 12).map { i =>
      val seed = i / 3 // 4 groups of 3 brightness variants
      (i.toLong, MediaHeaders.buildPngNoise(20, 16, seed, (i % 3) * 4))
    }
    val dh = Multimodal.dHash(rows.toDF("id", "bin"), "id", "bin")
    val pairs = Dedup.simhashPairs(dh, "id")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (for {
      i <- 0 until 12; j <- (i + 1) until 12; if i / 3 == j / 3
    } yield (i.toLong, j.toLong)).toSet
    assert(planted.subsetOf(pairs), "all planted variant pairs found")
    // exact baseline agreement (zero FP at threshold 3)
    val hs = dh.orderBy("id").collect().map(_.getLong(1))
    val exact = (for {
      i <- 0 until 12; j <- (i + 1) until 12
      if java.lang.Long.bitCount(hs(i) ^ hs(j)) <= 3
    } yield (i.toLong, j.toLong)).toSet
    assert(pairs == exact)
  }

  test("the 50 dedup-gate group hashes are pairwise > 3 apart — the " +
    "survivors oracle's no-clique-merge assumption, pinned") {
    // these 50 dHashes are FIXED constants (group params depend only on
    // the group index, never on corpus contents or SF), so this check
    // holds for every scale factor the gate will ever run at
    val hs = (0 until 50).map { g =>
      val png = MediaHeaders.buildPngNoise(
        (g * 37) % 48 + 16, (g * 53) % 48 + 16, g * 7919, 0)
      val Some((w, h, px)) = Multimodal.decodeGray(png)
      var bits = 0L
      for (y <- 0 until 8; x <- 0 until 8) {
        def s(xx: Int) = px((y * h / 8) * w + (xx * w / 9))
        if (s(x + 1) > s(x)) bits |= (1L << (y * 8 + x))
      }
      bits
    }
    val minHd = (for (i <- hs.indices; j <- (i + 1) until hs.size)
      yield java.lang.Long.bitCount(hs(i) ^ hs(j))).min
    assert(minHd > 3, s"group dHashes too close: min hamming $minHd")
  }

  test("PCM decode recovers the exact sawtooth samples from our WAV") {
    val (rate, n, step, phase) = (16000, 333, 41, 1234)
    val wav = MediaHeaders.buildWavTone(rate, n, step, phase)
    val Some((r, ch, s)) = Multimodal.decodePcm16(wav)
    assert(r == rate && ch == 1 && s.length == n)
    for (i <- 0 until n)
      assert(s(i) == ((i.toLong * step + phase) % 65536).toInt - 32768,
        s"sample $i")
    assert(Multimodal.decodePcm16("junk".getBytes).isEmpty)
    assert(Multimodal.decodePcm16(null).isEmpty)
  }

  test("audioStats emits exact integral stats; garbage rows are NULL") {
    import spark.implicits._
    val wav = MediaHeaders.buildWavTone(8000, 200, 7, 60000)
    val df = Seq((1L, wav), (2L, "noise".getBytes)).toDF("id", "bin")
    val rows = Multimodal.audioStats(df, "id", "bin").orderBy("id").collect()
    val expect = (0 until 200).map(i =>
      ((i.toLong * 7 + 60000) % 65536).toInt - 32768)
    val good = rows(0)
    assert(good.getInt(1) == 8000 && good.getInt(2) == 1)
    assert(good.getLong(3) == 200L)
    assert(good.getLong(4) == expect.map(_.toLong).sum)
    assert(good.getLong(5) == expect.map(v => v.toLong * v).sum)
    assert(good.getInt(6) == expect.min && good.getInt(7) == expect.max)
    val buckets = (0 until 8).map(b =>
      (0 until 200).filter(i => i * 8 / 200 == b)
        .map(i => expect(i).toLong).sum)
    assert(good.getString(8) == buckets.mkString("|"))
    assert(rows(1) ==
      Row(2L, null, null, null, null, null, null, null, null))
  }

  test("audioHash: container-rate relabels hash identically (sample-only " +
    "dependence); the 40 dedup-gate group fingerprints stay > 3 apart") {
    import spark.implicits._
    val a = MediaHeaders.buildWavTone(8000, 400, 3700, 100)
    val b = MediaHeaders.buildWavTone(44100, 400, 3700, 100) // same samples
    val c = MediaHeaders.buildWavTone(8000, 400, 9100, 100)  // other tone
    assert(!java.util.Arrays.equals(a, b))
    val got = Multimodal.audioHash(
        Seq((1L, a), (2L, b), (3L, c), (4L, "x".getBytes))
          .toDF("id", "bin"), "id", "bin")
      .orderBy("id").collect()
    assert(got(0).getLong(1) == got(1).getLong(1),
      "rate relabel must not change the fingerprint")
    assert(got(2).getLong(1) != got(0).getLong(1))
    assert(got(3).isNullAt(1))
    // the 40 gate groups' fingerprints are fixed constants — pin their
    // pairwise separation so the exact-baseline gate can never flake
    val hs = (0 until 40).map { g =>
      val wav = MediaHeaders.buildWavTone(8000,
        (g * 13) % 1500 + 200, (g * 797) % 60000 + 500, (g * 101) % 65536)
      val Some((_, _, s)) = Multimodal.decodePcm16(wav)
      val sums = new Array[Long](65); val counts = new Array[Long](65)
      s.indices.foreach { i =>
        val b = (i.toLong * 65 / s.length).toInt
        sums(b) += s(i); counts(b) += 1
      }
      (0 until 64).foldLeft(0L) { (acc, b) =>
        if (sums(b + 1) * counts(b) > sums(b) * counts(b + 1))
          acc | (1L << b) else acc
      }
    }
    val minHd = (for (i <- hs.indices; j <- (i + 1) until hs.size)
      yield java.lang.Long.bitCount(hs(i) ^ hs(j))).min
    assert(minHd > 3, s"audio group fingerprints too close: $minHd")
  }

  test("six decode kernels: one id-aligned row per mixed payload in one " +
    "partition") {
    import spark.implicits._
    // images, audio and garbage in ONE partition
    val payloads = Seq(
      MediaHeaders.buildPngGradient(19, 11, 4, 3, 200),
      MediaHeaders.buildPngGradient(31, 17, 5, 2, 90),
      MediaHeaders.buildPngNoise(24, 18, seed = 7, shift = 0),
      MediaHeaders.buildPngNoise(24, 18, seed = 8, shift = 8),
      MediaHeaders.buildWavTone(8000, 200, 7, 60000),
      MediaHeaders.buildWavTone(8000, 400, 3700, 100),
      MediaHeaders.buildWavTone(44100, 400, 9100, 100),
      "garbage".getBytes)
    val df = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "bin").repartition(1)
    val kernels = Seq[(String, DataFrame => DataFrame)](
      "extractFeatures" -> (Multimodal.extractFeatures(_, "id", "bin", 8)),
      "imageStats" -> (Multimodal.imageStats(_, "id", "bin")),
      "resizeImage" -> (Multimodal.resizeImage(_, "id", "bin", 12, 10)),
      "audioStats" -> (Multimodal.audioStats(_, "id", "bin")),
      "audioHash" -> (Multimodal.audioHash(_, "id", "bin")),
      "dHash" -> (Multimodal.dHash(_, "id", "bin")))
    // ids whose first output field decoded, per kernel
    val decoded = kernels.map { case (n, k) =>
      val rows = k(df).orderBy("id").collect().toSeq
      assert(rows.map(_.getLong(0)) == payloads.indices.map(_.toLong),
        s"$n ids: ${rows.map(_.getLong(0))}")
      n -> rows.filterNot(_.isNullAt(1)).map(_.getLong(0)).toSet
    }.toMap
    // each payload's fields sit on its own id: images decode only as
    // images, audio only as audio, garbage as neither
    for (n <- Seq("extractFeatures", "imageStats", "resizeImage", "dHash"))
      assert(decoded(n) == Set(0L, 1L, 2L, 3L), s"$n: ${decoded(n)}")
    assert(decoded("audioStats") == Set(4L, 5L, 6L))
    assert(decoded("audioHash").subsetOf(Set(4L, 5L, 6L)))
  }

  test("truncated payloads fail BOTH decoders (magic intact, header " +
    "incomplete — the reader claims the container, then fails); valid " +
    "payloads fail only the other modality's decoder") {
    val png = MediaHeaders.buildPngGradient(20, 18, 2, 3, 7)
    val wav = MediaHeaders.buildWavTone(8000, 400, 3700, 100)
    for (p <- Seq(png.take(20), wav.take(20))) {
      assert(Multimodal.decodeGray(p).isEmpty, "truncated must not decode")
      assert(Multimodal.decodePcm16(p).isEmpty, "truncated must not decode")
    }
    assert(Multimodal.decodeGray(png).isDefined)
    assert(Multimodal.decodePcm16(png).isEmpty, "PNG is not audio")
    assert(Multimodal.decodePcm16(wav).isDefined)
    assert(Multimodal.decodeGray(wav).isEmpty, "WAV is not an image")
  }

  test("JPEG decode: exact dims, mean gray within the 2.0 band of the " +
    "lossless twin, across the gate's param space") {
    var worst = 0.0
    (0 until 60).foreach { id =>
      val w = (id * 37) % 48 + 16
      val h = (id * 53) % 48 + 16
      val (a, b, c) = (id % 7 + 1, id % 11 + 1, (id * 17) % 251)
      val Some((pw, ph, pp)) =
        Multimodal.decodeGray(MediaHeaders.buildPngGradient(w, h, a, b, c))
      val Some((jw, jh, jp)) =
        Multimodal.decodeGray(MediaHeaders.buildJpegGradient(w, h, a, b, c))
      assert(jw == pw && jh == ph, s"dims at id=$id")
      val d = math.abs(pp.map(_.toLong).sum.toDouble / pp.length -
        jp.map(_.toLong).sum.toDouble / jp.length)
      if (d > worst) worst = d
    }
    assert(worst <= 2.0, s"worst mean error $worst")
  }
}
