package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.MediaHeaders
import graft.operators.{Dedup, Multimodal, Similarity}

/** Image operators over REAL decoded pixels (JDK ImageIO inside the
  * partition-local batch seam — no external codec deps): pixel statistics,
  * nearest-neighbor resampling with a PNG re-encode round trip, lossy-JPEG
  * decode cross-checks, and perceptual dHash near-duplicate detection
  * riding the SimHash pigeonhole block join.
  *
  * Oracle strategy: payloads are built in-query from doc_id arithmetic
  * (gradient PNGs — lossless, so decoded pixels ARE the construction
  * formula), and DuckDB recomputes every statistic from that arithmetic
  * via lateral generate_series. If the decoder misreads one pixel, one
  * stride, or one filter byte, the hash diverges. The JPEG and dedup
  * gates follow the recall-twin pattern (in-query assertions the oracle
  * states as constants) because lossy codec output and Hamming-space set
  * comparisons are not SQL-recomputable.
  */
object OpsImage extends Suite {

  // gradient construction params, shared by the Spark queries and the
  // DuckDB oracles (small images: the oracle expands one row per pixel)
  private def gradMedia(id: org.apache.spark.sql.Column) = Seq(
    lit("png_grad"),
    (pmod(id * 37, lit(48)) + 16).cast("int"),  // w in [16, 64)
    (pmod(id * 53, lit(48)) + 16).cast("int"),  // h in [16, 64)
    (pmod(id, lit(7)) + 1).cast("int"),         // a in [1, 7]
    (pmod(id, lit(11)) + 1).cast("int"),        // b in [1, 11]
    pmod(id * 17, lit(251)).cast("int"))        // c in [0, 251)
  private val gradParamsSql =
    """params AS (
      |  SELECT doc_id,
      |    (doc_id * 37) % 48 + 16 AS w, (doc_id * 53) % 48 + 16 AS h,
      |    doc_id % 7 + 1 AS a, doc_id % 11 + 1 AS b,
      |    (doc_id * 17) % 251 AS c
      |  FROM documents)""".stripMargin

  // planted near-dup constructions, ONE definition each (the dedup,
  // survivors, and cross-modal queries build the identical expressions, so
  // Dedup.reuse holds a single shared cache entry per corpus):
  // - noiseMedia: hash-noise PNGs keyed by doc_id mod 50 (shared seed) with
  //   brightness shifts 0|4|8 by doc_id mod 3 — provably dHash-invariant
  //   (base pixels < 248, shift ≤ 8 never wraps)
  // - toneMedia: sawtooth WAVs whose sample stream is keyed by doc_id mod
  //   40; the container rate label is indexed by (doc_id div 40) mod 5, NOT
  //   doc_id mod 5 — 5 divides 40, so the latter is constant inside a group
  //   and the planted pairs would collapse to byte-identical payloads
  private def noiseMedia(docs: org.apache.spark.sql.DataFrame) = {
    val id = col("doc_id")
    val g = pmod(id, lit(50))
    docs.select(id,
      call_function(MediaHeaders.buildName, lit("png_noise"),
        (pmod(g * 37, lit(48)) + 16).cast("int"),
        (pmod(g * 53, lit(48)) + 16).cast("int"),
        (g * 7919).cast("int"),                    // seed per group
        (pmod(id, lit(3)) * 4).cast("int")).as("payload")) // shift 0|4|8
  }
  private def toneMedia(docs: org.apache.spark.sql.DataFrame) = {
    val id = col("doc_id")
    val g = pmod(id, lit(40))
    val rates = array(lit(8000), lit(11025), lit(16000), lit(22050),
      lit(44100))
    // step is LARGE (hundreds-to-tens-of-thousands) so the sawtooth wraps
    // inside every envelope bucket — small steps never wrap within the
    // window, the envelope is monotone, and every group degenerates to
    // the all-ascending fingerprint (pinned in ImageSpec)
    docs.select(id,
      call_function(MediaHeaders.buildName, lit("wav_tone"),
        element_at(rates,
          (pmod(floor(id / lit(40)).cast("long"), lit(5)) + 1).cast("int"))
          .cast("int"),
        (pmod(g * 13, lit(1500)) + 200).cast("int"),
        (pmod(g * 797, lit(60000)) + 500).cast("int"),
        pmod(g * 101, lit(65536)).cast("int")).as("payload"))
  }

  private def statsSelect(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"),
      col("img_w").cast("long").as("img_w"),
      col("img_h").cast("long").as("img_h"),
      col("n_px"), col("sum_gray"),
      col("min_gray").cast("long").as("min_gray"),
      col("max_gray").cast("long").as("max_gray"),
      col("stripe_sig"))
      .orderBy(col("doc_id"))

  // -- REAL image decode + pixel statistics: gradient PNGs built in-query,
  //    decoded by ImageIO, reduced to integral stats (dims, gray
  //    sum/min/max, 8-stripe row-profile signature). Every field is exact
  //    construction arithmetic the oracle recomputes pixel-by-pixel — the
  //    decoder has nowhere to hide. -----------------------------------------
  private val features: Q = (s, dir) => {
    val t = Tables(s, dir)
    val media = t.documents.select(col("doc_id"),
      call_function(MediaHeaders.buildName,
        gradMedia(col("doc_id")): _*).as("payload"))
    statsSelect(Multimodal.imageStats(media, "doc_id", "payload"))
  }
  private val featuresSql =
    s"""WITH $gradParamsSql,
      |px AS (
      |  SELECT doc_id, w, h, x, y, (a * x + b * y + c) % 256 AS g
      |  FROM params,
      |    unnest(generate_series(0, w - 1)) AS tx(x),
      |    unnest(generate_series(0, h - 1)) AS ty(y)),
      |st AS (
      |  SELECT doc_id, CAST(sum(g) AS BIGINT) AS sum_gray,
      |    CAST(min(g) AS BIGINT) AS min_gray,
      |    CAST(max(g) AS BIGINT) AS max_gray
      |  FROM px GROUP BY doc_id),
      |stripes AS (
      |  SELECT doc_id, y * 8 // h AS s, sum(g) AS ssum
      |  FROM px GROUP BY doc_id, y * 8 // h),
      |sig AS (
      |  SELECT doc_id,
      |    string_agg(CAST(ssum AS VARCHAR), '|' ORDER BY s) AS stripe_sig
      |  FROM stripes GROUP BY doc_id)
      |SELECT p.doc_id, CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
      |  CAST(w * h AS BIGINT) AS n_px, st.sum_gray, st.min_gray,
      |  st.max_gray, sig.stripe_sig
      |FROM params p JOIN st USING (doc_id) JOIN sig USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // -- REAL resample round trip: decode → nearest-neighbor resize to 12×10
  //    → re-encode as PNG (the repo's own writer) → decode AGAIN → stats.
  //    The oracle recomputes the resized raster from the index mapping
  //    sx = x·w div 12, sy = y·h div 10 — one wrong stride anywhere in
  //    decode/resample/encode and the hash diverges. ------------------------
  private val resize: Q = (s, dir) => {
    val t = Tables(s, dir)
    val media = t.documents.select(col("doc_id"),
      call_function(MediaHeaders.buildName,
        gradMedia(col("doc_id")): _*).as("payload"))
    val resized = Multimodal.resizeImage(media, "doc_id", "payload",
      targetW = 12, targetH = 10)
    statsSelect(Multimodal.imageStats(resized, "doc_id", "content"))
  }
  private val resizeSql =
    s"""WITH $gradParamsSql,
      |px AS (
      |  SELECT doc_id, x, y,
      |    (a * ((x * w) // 12) + b * ((y * h) // 10) + c) % 256 AS g
      |  FROM params,
      |    unnest(generate_series(0, 11)) AS tx(x),
      |    unnest(generate_series(0, 9)) AS ty(y)),
      |st AS (
      |  SELECT doc_id, CAST(sum(g) AS BIGINT) AS sum_gray,
      |    CAST(min(g) AS BIGINT) AS min_gray,
      |    CAST(max(g) AS BIGINT) AS max_gray
      |  FROM px GROUP BY doc_id),
      |stripes AS (
      |  SELECT doc_id, y * 8 // 10 AS s, sum(g) AS ssum
      |  FROM px GROUP BY doc_id, y * 8 // 10),
      |sig AS (
      |  SELECT doc_id,
      |    string_agg(CAST(ssum AS VARCHAR), '|' ORDER BY s) AS stripe_sig
      |  FROM stripes GROUP BY doc_id)
      |SELECT p.doc_id, CAST(12 AS BIGINT) AS img_w, CAST(10 AS BIGINT) AS img_h,
      |  CAST(120 AS BIGINT) AS n_px, st.sum_gray, st.min_gray,
      |  st.max_gray, sig.stripe_sig
      |FROM params p JOIN st USING (doc_id) JOIN sig USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // -- REAL lossy-JPEG decode: the same gradients encoded by the JDK's own
  //    JPEG encoder (genuine entropy-coded scans), decoded, and
  //    cross-checked against the lossless PNG twin — dims must match
  //    exactly, mean gray within 2.0 (empirically worst 0.5 over the param
  //    space). Lossy output is not SQL-recomputable, so the gate follows
  //    the recall-twin pattern: booleans computed in-query, stated as
  //    constants by the oracle. -------------------------------------------
  private val jpegDecode: Q = (s, dir) => {
    val t = Tables(s, dir)
    val grad = gradMedia(col("doc_id"))
    val media = t.documents.select(col("doc_id"),
      call_function(MediaHeaders.buildName, grad: _*).as("png"),
      call_function(MediaHeaders.buildName,
        lit("jpeg_grad") +: grad.tail: _*).as("jpg"))
    val p = Multimodal.imageStats(media, "doc_id", "png")
      .select(col("doc_id"), col("img_w").as("pw"), col("img_h").as("ph"),
        (col("sum_gray").cast("double") / col("n_px")).as("pmean"))
    val j = Multimodal.imageStats(media, "doc_id", "jpg")
      .select(col("doc_id"), col("img_w").as("jw"), col("img_h").as("jh"),
        (col("sum_gray").cast("double") / col("n_px")).as("jmean"))
    p.join(j, Seq("doc_id"))
      .agg(count(lit(1)).as("n_imgs"),
        (sum(when(col("jw") === col("pw") && col("jh") === col("ph"), 1)
          .otherwise(0)) === count(lit(1))).as("dims_ok"),
        (sum(when(abs(col("jmean") - col("pmean")) <= 2.0, 1)
          .otherwise(0)) === count(lit(1))).as("mean_close"),
        (sum(when(col("pmean").isNotNull && col("jmean").isNotNull, 1)
          .otherwise(0)) === count(lit(1))).as("decoded_all"))
  }
  private val jpegDecodeSql =
    """SELECT count(*) AS n_imgs, true AS dims_ok, true AS mean_close,
      |  true AS decoded_all FROM documents""".stripMargin

  // -- perceptual near-duplicate image detection: 64-bit dHash over decoded
  //    pixels, candidate pairs via the SimHash 16-bit-block pigeonhole join
  //    (no quadratic pass at scale). The corpus plants brightness-shifted
  //    near-duplicates — hash-noise images sharing a seed per group
  //    (doc_id mod 50) with shifts that provably preserve dHash — and the
  //    gate asserts, in-query, against the exact all-pairs Hamming
  //    baseline: every planted pair found, zero false positives, full
  //    recall at Hamming ≤ 3. The hashed payload (n_docs, n_planted) is
  //    recomputed by the oracle from the group arithmetic. -----------------
  private val imageDedup: Q = (s, dir) => {
    val t = Tables(s, dir)
    val id = col("doc_id")
    val media = noiseMedia(t.documents)
    val dh = Dedup.reuse("img:dhash",
      Multimodal.dHash(media, "doc_id", "payload"))
    val emitted = Dedup.reuse("img:dhash:pairs",
      Dedup.simhashPairs(dh, "doc_id")
        .select(col("id_a"), col("id_b")))
    val a = dh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = dh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
      .select(col("id_a"), col("id_b"))
    // planted near-dup pairs: same group (same noise seed, shift-only
    // difference — dHash-identical by construction)
    val ga = t.documents.select(id.as("id_a"), pmod(id, lit(50)).as("ga"))
    val gb = t.documents.select(id.as("id_b"), pmod(id, lit(50)).as("gb"))
    val planted = ga.join(gb, col("ga") === col("gb") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val nPlanted = planted.agg(count(lit(1)).cast("long").as("n_planted"))
    val plantedFound = planted
      .join(emitted.withColumn("__hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg((sum(coalesce(col("__hit"), lit(0))) === count(lit(1)))
        .as("planted_found_all"))
    val fp = emitted.join(exact, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_false_pos"))
    val rc = exact
      .join(emitted.withColumn("__hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg((sum(coalesce(col("__hit"), lit(0))) === count(lit(1)))
        .as("recall_full"))
    t.documents.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(nPlanted)).crossJoin(broadcast(plantedFound))
      .crossJoin(broadcast(fp)).crossJoin(broadcast(rc))
  }
  private val imageDedupSql =
    """WITH grp AS (
      |  SELECT doc_id % 50 AS g, count(*) AS n FROM documents GROUP BY 1)
      |SELECT (SELECT count(*) FROM documents) AS n_docs,
      |  CAST((SELECT sum(n * (n - 1) // 2) FROM grp) AS BIGINT)
      |    AS n_planted,
      |  true AS planted_found_all, CAST(0 AS BIGINT) AS n_false_pos,
      |  true AS recall_full""".stripMargin

  // -- REAL audio decode + amplitude statistics: 16-bit PCM sawtooth WAVs
  //    built in-query (sample(i) = (i·step + phase) mod 65536 − 32768),
  //    decoded by javax.sound (the JVM's own WAV reader — the audio twin
  //    of the ImageIO path), reduced to integral stats the oracle
  //    recomputes sample-by-sample. PCM is lossless: one misread byte
  //    order, stride, or header offset and the hash diverges. -------------
  private val audio: Q = (s, dir) => {
    val t = Tables(s, dir)
    val id = col("doc_id")
    val rates = array(lit(8000), lit(11025), lit(16000), lit(22050),
      lit(44100))
    val media = t.documents.select(id,
      call_function(MediaHeaders.buildName, lit("wav_tone"),
        element_at(rates, (pmod(id, lit(5)) + 1).cast("int")).cast("int"),
        (pmod(id * 13, lit(1900)) + 100).cast("int"),
        (pmod(id * 7, lit(997)) + 1).cast("int"),
        pmod(id * 101, lit(65536)).cast("int")).as("payload"))
    Multimodal.audioStats(media, "doc_id", "payload")
      .select(id,
        col("sample_rate_hz").cast("long").as("sample_rate_hz"),
        col("channels").cast("long").as("channels"),
        col("n_samples"), col("sum_amp"), col("sum_sq"),
        col("min_amp").cast("long").as("min_amp"),
        col("max_amp").cast("long").as("max_amp"),
        col("bucket_sig"))
      .orderBy(id)
  }
  private val audioSql =
    """WITH params AS (
      |  SELECT doc_id,
      |    list_extract([8000, 11025, 16000, 22050, 44100],
      |      CAST(doc_id % 5 + 1 AS INT)) AS rate,
      |    (doc_id * 13) % 1900 + 100 AS n,
      |    (doc_id * 7) % 997 + 1 AS step,
      |    (doc_id * 101) % 65536 AS phase
      |  FROM documents),
      |smp AS (
      |  SELECT doc_id, n, i, (i * step + phase) % 65536 - 32768 AS v
      |  FROM params, unnest(generate_series(0, n - 1)) AS ti(i)),
      |st AS (
      |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS sum_amp,
      |    CAST(sum(v * v) AS BIGINT) AS sum_sq,
      |    CAST(min(v) AS BIGINT) AS min_amp,
      |    CAST(max(v) AS BIGINT) AS max_amp
      |  FROM smp GROUP BY doc_id),
      |b AS (
      |  SELECT doc_id, i * 8 // n AS bk, sum(v) AS bsum
      |  FROM smp GROUP BY doc_id, i * 8 // n),
      |sig AS (
      |  SELECT doc_id,
      |    string_agg(CAST(bsum AS VARCHAR), '|' ORDER BY bk) AS bucket_sig
      |  FROM b GROUP BY doc_id)
      |SELECT p.doc_id, CAST(rate AS BIGINT) AS sample_rate_hz,
      |  CAST(1 AS BIGINT) AS channels, CAST(n AS BIGINT) AS n_samples,
      |  st.sum_amp, st.sum_sq, st.min_amp, st.max_amp, sig.bucket_sig
      |FROM params p JOIN st USING (doc_id) JOIN sig USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // -- image near-dup SURVIVORS: the full image-dedup pipeline a corpus
  //    build runs — dHash → pigeonhole pairs → connected components →
  //    min-id survivor per cluster. With the planted-group construction
  //    the surviving set is pure arithmetic: each group doc_id mod 50 is
  //    one dHash-identical clique (ImageSpec pins the 50 fixed group
  //    hashes pairwise > 3 apart, so cliques never merge), hence the
  //    survivors are exactly doc_id 0..49. ---------------------------------
  private val imageSurvivors: Q = (s, dir) => {
    val t = Tables(s, dir)
    val id = col("doc_id")
    val media = noiseMedia(t.documents)
    val dh = Dedup.reuse("img:dhash",
      Multimodal.dHash(media, "doc_id", "payload"))
    val pairs = Dedup.reuse("img:dhash:pairs",
      Dedup.simhashPairs(dh, "doc_id")
        .select(col("id_a"), col("id_b")))
    Dedup.survivors(t.documents.select(id), pairs, "doc_id")
      .orderBy(id)
  }
  private val imageSurvivorsSql =
    """SELECT doc_id FROM documents WHERE doc_id < 50 ORDER BY doc_id"""

  // -- decoded-feature similarity search: the multimodal → similarity
  //    composition a real pipeline runs. Gradient PNGs → REAL decode →
  //    8-stripe mean features → exact cosine top-k (broadcast query,
  //    per-partition heaps). Hash-exact END TO END: the oracle recomputes
  //    the features pixel-by-pixel (integer sums, float-cast means) and
  //    the cosine with the same sequential fold, so decode, feature
  //    extraction, AND ranking are all under the hash. ---------------------
  private val imageKnn: Q = (s, dir) => {
    val t = Tables(s, dir)
    val media = t.documents.select(col("doc_id"),
      call_function(MediaHeaders.buildName,
        gradMedia(col("doc_id")): _*).as("payload"))
    val feats = graft.operators.Multimodal.extractFeatures(
      media, "doc_id", "payload", dim = 8)
    val query = feats.filter(col("doc_id") === 0)
      .select(col("features").as("q"))
    Similarity.topKForQuery(feats.filter(col("doc_id") =!= 0),
        "doc_id", "features", query, "q", k = 20)
      .select(col("doc_id"), round(col("cosine"), 6).as("cosine"))
  }
  private val imageKnnSql =
    s"""WITH $gradParamsSql,
      |px AS (
      |  SELECT doc_id, w, h, x, y, (a * x + b * y + c) % 256 AS g
      |  FROM params,
      |    unnest(generate_series(0, w - 1)) AS tx(x),
      |    unnest(generate_series(0, h - 1)) AS ty(y)),
      |stripes AS (
      |  SELECT doc_id, y * 8 // h AS s,
      |    CAST(CAST(sum(g) AS DOUBLE) / count(*) AS FLOAT) AS m
      |  FROM px GROUP BY doc_id, y * 8 // h),
      |fv AS (
      |  SELECT doc_id, list(CAST(m AS DOUBLE) ORDER BY s) AS f
      |  FROM stripes GROUP BY doc_id),
      |q AS (SELECT f AS qv FROM fv WHERE doc_id = 0)
      |SELECT doc_id,
      |  round(list_dot_product(f, qv)
      |    / (sqrt(list_dot_product(f, f)) * sqrt(list_dot_product(qv, qv))),
      |    6) AS cosine
      |FROM fv, q WHERE doc_id <> 0
      |ORDER BY cosine DESC, doc_id LIMIT 20""".stripMargin

  // -- audio near-dup detection: 64-bit envelope-sign fingerprint over
  //    decoded PCM (bucket-mean deltas compared exactly by cross-
  //    multiplication), candidates via the same pigeonhole block join.
  //    Planted near-dups: groups share the sample stream (n, step, phase)
  //    while the container sample-rate label varies — byte-distinct
  //    payloads, identical samples, identical fingerprint by construction.
  //    Gated like llm_image_dedup: zero FP + full recall vs the exact
  //    all-pairs Hamming baseline, planted pairs all found, counts
  //    recomputed by the oracle from the group arithmetic. ----------------
  private val audioDedup: Q = (s, dir) => {
    val t = Tables(s, dir)
    val id = col("doc_id")
    val media = toneMedia(t.documents)
    val ah = Dedup.reuse("audio:hash",
      Multimodal.audioHash(media, "doc_id", "payload"))
    val emitted = Dedup.reuse("audio:hash:pairs",
      Dedup.simhashPairs(ah, "doc_id")
        .select(col("id_a"), col("id_b")))
    val a = ah.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = ah.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
      .select(col("id_a"), col("id_b"))
    val ga = t.documents.select(id.as("id_a"), pmod(id, lit(40)).as("ga"))
    val gb = t.documents.select(id.as("id_b"), pmod(id, lit(40)).as("gb"))
    val planted = ga.join(gb, col("ga") === col("gb") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val nPlanted = planted.agg(count(lit(1)).cast("long").as("n_planted"))
    val plantedFound = planted
      .join(emitted.withColumn("__hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg((sum(coalesce(col("__hit"), lit(0))) === count(lit(1)))
        .as("planted_found_all"))
    val fp = emitted.join(exact, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_false_pos"))
    val rc = exact
      .join(emitted.withColumn("__hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg((sum(coalesce(col("__hit"), lit(0))) === count(lit(1)))
        .as("recall_full"))
    t.documents.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(nPlanted)).crossJoin(broadcast(plantedFound))
      .crossJoin(broadcast(fp)).crossJoin(broadcast(rc))
  }
  private val audioDedupSql =
    """WITH grp AS (
      |  SELECT doc_id % 40 AS g, count(*) AS n FROM documents GROUP BY 1)
      |SELECT (SELECT count(*) FROM documents) AS n_docs,
      |  CAST((SELECT sum(n * (n - 1) // 2) FROM grp) AS BIGINT)
      |    AS n_planted,
      |  true AS planted_found_all, CAST(0 AS BIGINT) AS n_false_pos,
      |  true AS recall_full""".stripMargin

  // -- cross-modal near-dup dedup: ONE corpus deduplicated by perceptual
  //    image hash AND audio fingerprint together — pairs from either
  //    modality feed a single connected-component pass (the real shape of
  //    multimodal corpus dedup: a document is dropped if ANY modality
  //    links it to a smaller-id sibling). Image pairs = the dHash noise
  //    groups (doc_id mod 50), audio pairs = the envelope-fingerprint tone
  //    groups (doc_id mod 40); each modality's emitted pair set equals its
  //    planted relation (the llm_image_dedup / llm_audio_dedup gates
  //    assert zero-FP + full recall for exactly these constructions), and
  //    the oracle computes the closure of the UNION with a RECURSIVE CTE —
  //    an independent second CC algorithm over arithmetically-derived
  //    edges. The mod-50/mod-40 interaction makes the closure genuinely
  //    multi-hop: components fuse toward doc_id mod gcd(50,40) = 10
  //    classes as the corpus grows, so chains like 7 ~ 47 ~ 87 (image then
  //    audio links) must survive BOTH implementations to hash-match. -----
  private val multimodalDedup: Q = (s, dir) => {
    val t = Tables(s, dir)
    val dh = Dedup.reuse("img:dhash",
      Multimodal.dHash(noiseMedia(t.documents), "doc_id", "payload"))
    val imgPairs = Dedup.reuse("img:dhash:pairs",
      Dedup.simhashPairs(dh, "doc_id")
        .select(col("id_a"), col("id_b")))
    val ah = Dedup.reuse("audio:hash",
      Multimodal.audioHash(toneMedia(t.documents), "doc_id", "payload"))
    val audPairs = Dedup.reuse("audio:hash:pairs",
      Dedup.simhashPairs(ah, "doc_id")
        .select(col("id_a"), col("id_b")))
    Dedup.survivors(t.documents.select(col("doc_id")),
      imgPairs.unionByName(audPairs).distinct(), "doc_id")
      .orderBy(col("doc_id"))
  }
  private val multimodalDedupSql =
    """WITH RECURSIVE
      |e0 AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM documents a JOIN documents b ON a.doc_id <> b.doc_id
      |   AND (a.doc_id % 50 = b.doc_id % 50
      |     OR a.doc_id % 40 = b.doc_id % 40)),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e0
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src),
      |minlab AS (
      |  SELECT src AS id, least(src, min(dst)) AS label
      |  FROM reach GROUP BY src)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM minlab WHERE id <> label)
      |ORDER BY doc_id""".stripMargin

  // -- media health accounting: the triage pass a 100 TB multimodal crawl
  //    runs before anything else — attempt REAL decode of every payload
  //    with every codec, count what decodes as what, and total the decoded
  //    content. The corpus plants deterministic corruption (kind = doc_id
  //    mod 4: valid PNG / valid WAV / PNG truncated to 20 bytes — magic
  //    intact, header incomplete, so the reader claims it then fails /
  //    WAV truncated likewise). Hash-exact: per-kind decode counts AND the
  //    decoded pixel/sample totals must equal the construction arithmetic
  //    — a decoder that silently "succeeds" on a truncated payload, or
  //    misreads dimensions on a valid one, diverges. --------------------
  private val mediaHealth: Q = (s, dir) => {
    val t = Tables(s, dir)
    val id = col("doc_id")
    val rates = array(lit(8000), lit(11025), lit(16000), lit(22050),
      lit(44100))
    val png = call_function(MediaHeaders.buildName, gradMedia(id): _*)
    val wav = call_function(MediaHeaders.buildName, lit("wav_tone"),
      element_at(rates, (pmod(id, lit(5)) + 1).cast("int")).cast("int"),
      (pmod(id * 13, lit(1900)) + 100).cast("int"),
      (pmod(id * 7, lit(997)) + 1).cast("int"),
      pmod(id * 101, lit(65536)).cast("int"))
    val kind = pmod(id, lit(4))
    val payload = when(kind === 0, png).when(kind === 1, wav)
      .when(kind === 2, substring(png, 1, 20))
      .otherwise(substring(wav, 1, 20))
    val media = t.documents.select(id, kind.as("kind"),
      payload.as("payload"))
    val img = Multimodal.imageStats(media, "doc_id", "payload")
      .select(col("doc_id"), col("n_px"))
    val aud = Multimodal.audioStats(media, "doc_id", "payload")
      .select(col("doc_id"), col("n_samples"))
    media.select(id, col("kind"))
      .join(img, Seq("doc_id")).join(aud, Seq("doc_id"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_px").isNotNull, 1L).otherwise(0L)).as("n_img_ok"),
        sum(when(col("n_samples").isNotNull, 1L).otherwise(0L))
          .as("n_aud_ok"),
        sum(coalesce(col("n_px"), lit(0L))).as("sum_px"),
        sum(coalesce(col("n_samples"), lit(0L))).as("sum_samples"))
      .orderBy(col("kind"))
  }
  private val mediaHealthSql =
    """SELECT doc_id % 4 AS kind, count(*) AS n,
      |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_img_ok,
      |  CAST(sum(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_aud_ok,
      |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN
      |      ((doc_id * 37) % 48 + 16) * ((doc_id * 53) % 48 + 16)
      |    ELSE 0 END) AS BIGINT) AS sum_px,
      |  CAST(sum(CASE WHEN doc_id % 4 = 1 THEN (doc_id * 13) % 1900 + 100
      |    ELSE 0 END) AS BIGINT) AS sum_samples
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  def defs: Map[String, Q] = Map(
    "llm_multimodal_features" -> features,
    "llm_image_resize" -> resize,
    "llm_image_jpeg" -> jpegDecode,
    "llm_image_dedup" -> imageDedup,
    "llm_image_survivors" -> imageSurvivors,
    "llm_audio_stats" -> audio,
    "llm_image_knn" -> imageKnn,
    "llm_audio_dedup" -> audioDedup,
    "llm_multimodal_dedup" -> multimodalDedup,
    "llm_media_health" -> mediaHealth)

  def oracle: Map[String, String] = Map(
    "llm_multimodal_features" -> featuresSql,
    "llm_image_resize" -> resizeSql,
    "llm_image_jpeg" -> jpegDecodeSql,
    "llm_image_dedup" -> imageDedupSql,
    "llm_image_survivors" -> imageSurvivorsSql,
    "llm_audio_stats" -> audioSql,
    "llm_image_knn" -> imageKnnSql,
    "llm_audio_dedup" -> audioDedupSql,
    "llm_multimodal_dedup" -> multimodalDedupSql,
    "llm_media_health" -> mediaHealthSql)
}
