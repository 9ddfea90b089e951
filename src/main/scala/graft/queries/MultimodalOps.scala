package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Oracle-checked slice of the multimodal surface: metadata derivation over
  * opaque binary payloads (deterministic dims from payload size — the
  * schema/metadata path the 100 TB pipeline shuffles on). The real
  * javax.imageio decode and the byte-level resize/crop/mirror kernels are
  * exercised by MultimodalSpec (image fixtures are generated in-test; the
  * documents table holds text payloads, not media).
  */
object MultimodalOps {

  /** Q33 — media metadata: payload size → stub dims → pixel counts, grouped
    * stats per language "modality". Map + tight-key agg.
    */
  val q33MultimodalMeta: QueryDef = QueryDef.sql(
    "q33_multimodal_meta",
    """SELECT label, count(*) AS n_samples,
      |  CAST(sum(n_pixels) AS BIGINT) AS total_pixels, max(width) AS max_width,
      |  min(height) AS min_height
      |FROM (
      |  SELECT lang AS label,
      |    1 + octet_length(encode(text)) % 64 AS width,
      |    1 + (octet_length(encode(text)) // 64) % 64 AS height,
      |    (1 + octet_length(encode(text)) % 64) * (1 + (octet_length(encode(text)) // 64) % 64) * 3 AS n_pixels
      |  FROM documents)
      |GROUP BY label
      |ORDER BY label""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("lang").as("label"),
        (lit(1) + octet_length(col("text")) % 64).as("width"),
        (lit(1) + expr("(octet_length(text) div 64) % 64")).as("height"))
      .withColumn("n_pixels", col("width") * col("height") * 3)
      .groupBy("label")
      .agg(count(lit(1)).as("n_samples"),
        sum(col("n_pixels")).as("total_pixels"),
        max(col("width")).as("max_width"),
        min(col("height")).as("min_height"))
      .orderBy("label")
  }

  /** Q71 — perceptual-hash image near-dup (dHash-64 + banded Hamming):
    * the multimodal counterpart of q39's SimHash text dedup. Every image
    * gets a 64-bit difference hash (grayscale → 9×8 nearest resize → 64
    * horizontal-gradient sign bits — [[graft.multimodal.Multimodal.dhash64]],
    * running the SAME toGray/resizeNearest kernels as the decode pipeline,
    * reference ImageDataSource.scala:124-151); near-dup pairs are doc pairs
    * within Hamming distance 3, found via 4×16-bit band blocking — a pair
    * with ≤3 flipped bits has ≥1 clean 16-bit quarter (pigeonhole), so
    * recall at radius 3 is EXACT while the candidate join keys on ~65536
    * buckets per band.
    *
    * The corpus "images" are deterministic fakes (testdata has no real
    * media): the fake decode emits a FIXED 12×8 grayscale thumbnail — the
    * first 96 bytes of the document's normalized (lowercased alnum) text —
    * mirroring the decode→fixed-thumbnail→phash shape of a real image
    * dedup pipeline. The REAL decode path runs on actual PNG fixtures in
    * MultimodalSpec; here the oracle recomputes the hash from the same
    * stored bytes, so the whole kernel chain (resize index math, gradient
    * bit order, band split) is bit-checked cross-engine, and near-dup
    * documents (shared openings) yield honest hamming-0 pairs.
    *
    * The 64-bit hash rides as two unsigned 32-bit halves (hi, lo): DuckDB
    * BIGINT has no 1<<63, and the split also gives the band arithmetic
    * exact / engine-neutral forms (shiftright vs //).
    *
    * Scale shape (q39's layout): identical hashes collapse to ONE cluster
    * row before banding — the exact-dup storm (site logos, banner images
    * repeated 10⁹ times) never enters the pair join; member pairs expand
    * only after the Hamming verify.
    */
  val q71ImageNeardup: QueryDef = QueryDef.sql(
    "q71_image_neardup",
    """WITH img AS (
      |  SELECT doc_id,
      |    [unicode(ch) % 256 for ch in
      |     regexp_extract_all(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), '.')] AS px
      |  FROM documents
      |  WHERE length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) >= 96),
      |g AS (
      |  SELECT doc_id,
      |    [px[(i // 9) * 12 + ((i % 9) * 12) // 9 + 1]
      |     for i in range(0, 72)] AS gv
      |  FROM img),
      |sig AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(0::BIGINT,
      |      [CASE WHEN gv[(i // 8) * 9 + (i % 8) + 1] < gv[(i // 8) * 9 + (i % 8) + 2]
      |            THEN 1::BIGINT ELSE 0::BIGINT END for i in range(0, 32)]),
      |      (a, b) -> a * 2 + b) AS hi,
      |    list_reduce(list_prepend(0::BIGINT,
      |      [CASE WHEN gv[(i // 8) * 9 + (i % 8) + 1] < gv[(i // 8) * 9 + (i % 8) + 2]
      |            THEN 1::BIGINT ELSE 0::BIGINT END for i in range(32, 64)]),
      |      (a, b) -> a * 2 + b) AS lo
      |  FROM g),
      |bands AS (
      |  SELECT doc_id, hi, lo, j AS band,
      |    [hi // 65536, hi % 65536, lo // 65536, lo % 65536][j + 1] AS bh
      |  FROM sig, unnest(range(0, 4)) AS t(j)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
      |    bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) AS hamming
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
      |  WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 3)
      |SELECT a, b, hamming
      |FROM cand
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    dhashNearDupPairs(dhashSignatures(Tables(s, dir, "documents")))
  }

  /** q71's signature derivation, factored for reuse by the streaming
    * flagger: fake "decode" to a fixed 12×8 grayscale thumbnail from the
    * normalized byte stream (all-ASCII by construction — [a-z0-9] only, so
    * UTF-8 bytes equal the oracle's codepoints), native dhash64, 64-bit
    * hash carried as two unsigned 32-bit halves.
    */
  private[graft] def dhashSignatures(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("norm", regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
      .filter(length(col("norm")) >= 96)
      .select(col("doc_id"),
        encode(substring(col("norm"), 1, 96), "UTF-8").as("data"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.ImageExpressions
          .dhash64(col("data"), lit(1), lit(8), lit(12)).as("hash"))
      .select(col("doc_id"),
        expr("shiftrightunsigned(hash, 32)").as("hi"),
        expr("hash & 4294967295").as("lo"))

  /** One row per image: the 4 packed 16-bit band keys of its dHash as a
    * single array column (disjoint per-band ranges: key = band·2¹⁶ +
    * value) — a band-key collision here IS q71's candidate criterion, so
    * flagging against an index of these keys inherits its
    * no-false-negative contract at Hamming radius ≤ 3.
    */
  private[graft] def dhashBandKeys(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    dhashSignatures(docs).select(col("doc_id"), array(
      expr("shiftright(hi, 16)"),
      expr("(hi & 65535) + 65536"),
      expr("shiftright(lo, 16) + 131072"),
      expr("(lo & 65535) + 196608")).as("band_keys"))

  /** Hamming-banded near-dup pair finder over dHash signatures
    * (doc_id, hi, lo — the two unsigned 32-bit halves): q39's
    * exact-dup-storm layout — identical signatures collapse to one cluster
    * row before banding; pairs expand after the Hamming verify. Factored
    * from q71 so MultimodalSpec can drive it with constructed signatures
    * (one implementation, no forks).
    */
  private[graft] def dhashNearDupPairs(sig: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val clusters = graft.Caches.persistNow(sig.groupBy("hi", "lo")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds")))
    val bands = clusters
      .select(col("hi"), col("lo"), col("ds"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bh", expr("element_at(array(shiftright(hi, 16), " +
        "hi & 65535, shiftright(lo, 16), lo & 65535), band + 1)"))
    val sigPairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          (col("x.hi") < col("y.hi") ||
            (col("x.hi") === col("y.hi") && col("x.lo") < col("y.lo"))))
      .withColumn("hamming",
        expr("bit_count(x.hi ^ y.hi) + bit_count(x.lo ^ y.lo)"))
      .filter(col("hamming") <= 3)
      .groupBy(col("x.hi").as("ha"), col("x.lo").as("la"),
        col("y.hi").as("hb"), col("y.lo").as("lb"))
      .agg(first(col("x.ds")).as("dsa"), first(col("y.ds")).as("dsb"),
        first(col("hamming")).as("hamming"))
    val cross = sigPairs
      .select(explode(col("dsa")).as("a0"), col("dsb"), col("hamming"))
      .select(col("a0"), explode(col("dsb")).as("b0"), col("hamming"))
      .select(least(col("a0"), col("b0")).as("a"),
        greatest(col("a0"), col("b0")).as("b"), col("hamming"))
    val intra = clusters
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), b -> named_struct('a', a, 'b', b))))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        lit(0).cast("int").as("hamming"))
    cross.unionAll(intra).orderBy("a", "b")
  }

  /** Q72 — audio-modality window features: per-window energy and
    * zero-crossing statistics over a 16-bit LE PCM payload, the first-stage
    * features of an audio quality/VAD curation pipeline, computed directly
    * on the opaque binary column through the native `pcm_window_stats`
    * expression (which runs the SAME
    * [[graft.multimodal.Multimodal.pcmWindowStats]] integer core the
    * rms/zcr surface derives from — one implementation).
    *
    * Determinism: the published columns are the EXACT integers (sum of
    * squared samples, crossing count) rather than rms/zcr doubles, so the
    * cross-engine compare never touches sqrt (q65/q66's transcendental
    * discipline, solved here by construction). Ragged tails drop, exactly
    * the kernel contract.
    *
    * The corpus "audio" is a deterministic fake (testdata ships no media):
    * each document's codepoints become centered 16-bit samples
    * ((c − 80)·500, spanning ±24k so the fake waveform crosses zero like
    * real audio), little-endian-packed into the binary payload on the
    * Spark side — the expression sees a REAL PCM buffer; the oracle
    * computes from the sample values directly. MultimodalSpec drives the
    * same kernel over hand-built PCM with exact expectations.
    *
    * Scale shape: map-only — payload build, window stats, and explode all
    * fuse into the scan stage; no shuffle until the output sort.
    */
  val q72AudioFeatures: QueryDef = QueryDef.sql(
    "q72_audio_features",
    """WITH s AS (
      |  SELECT doc_id,
      |    [(unicode(ch) - 80) * 500 for ch in regexp_extract_all(text, '.')] AS v
      |  FROM documents
      |  WHERE octet_length(encode(text)) = length(text) AND length(text) >= 32),
      |w AS (
      |  SELECT doc_id, CAST(wi AS INT) AS win, v[wi*16+1 : wi*16+16] AS ww
      |  FROM s, unnest(range(0, len(v) // 16)) AS t(wi))
      |SELECT doc_id, win,
      |  CAST(list_sum([CAST(x AS BIGINT) * x for x in ww]) AS BIGINT) AS sumsq,
      |  CAST(len([i for i in range(2, 17)
      |            if (ww[i] < 0) <> (ww[i-1] < 0)]) AS INT) AS zc
      |FROM w
      |ORDER BY doc_id, win""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.graft.ImageExpressions.{pcm_synth, pcm_window_stats}
    // fake "decode": codepoints → centered 16-bit LE samples → binary
    // payload, one native byte loop (all-ASCII guard keeps bytes ==
    // codepoints cross-engine)
    val payload = pcm_synth(col("text"), lit(80), lit(500))
    Tables(s, dir, "documents")
      .filter(octet_length(col("text")) === length(col("text")) &&
        length(col("text")) >= 32)
      .select(col("doc_id"),
        explode(pcm_window_stats(payload, lit(16))).as("w"))
      .select(col("doc_id"), col("w.win").as("win"),
        col("w.sumsq").as("sumsq"), col("w.zc").as("zc"))
      .orderBy("doc_id", "win")
  }

  /** Q79 — video shot-boundary detection: the video-modality member of
    * the perceptual family (image q71, audio q72). A "video" is the
    * deterministic frame sequence of its document's normalized byte
    * stream — consecutive 96-byte windows, each the SAME fixed 12×8
    * grayscale thumbnail q71 fakes for images — and every frame gets the
    * REAL native dHash-64 (identical toGray/resizeNearest kernel chain).
    * A shot cut falls between consecutive frames whose hash Hamming
    * distance exceeds 24 of 64 bits (the corpus' step distribution spans
    * 18–45, median 32 — the threshold sits at its lower quintile so both
    * outcomes occur; real footage shows near-0 within shots, which the
    * spec pins on a constructed repeated-frame video). Per video:
    * frame count, cut count, max step.
    *
    * Scale shape: MAP-ONLY like q72 — per-row `transform` computes the
    * frame-hash array, `zip_with` the consecutive Hamming steps, and the
    * counters are array folds; no shuffle but the output sort, linear in
    * total video bytes. The per-frame hash chain is the shot-segmentation
    * front of a video dedup pipeline (segment → keyframe per shot → q71
    * banding over keyframes).
    *
    * Determinism: every quantity is integer (hash bits, XOR popcounts,
    * counts) — the oracle recomputes the per-frame hashes from the same
    * bytes through q71's SQL kernel mirror with a per-frame offset.
    */
  val q79VideoShots: QueryDef = {
    def hiLo(lo0: Int, hi0: Int) =
      s"""list_reduce(list_prepend(0::BIGINT,
         #      [CASE WHEN gv[(i // 8) * 9 + (i % 8) + 1] < gv[(i // 8) * 9 + (i % 8) + 2]
         #            THEN 1::BIGINT ELSE 0::BIGINT END for i in range($lo0, $hi0)]),
         #      (a, b) -> a * 2 + b)""".stripMargin('#')
    QueryDef.sql(
      "q79_video_shots",
      s"""WITH img AS (
         |  SELECT doc_id,
         |    [unicode(ch) % 256 for ch in
         |     regexp_extract_all(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), '.')] AS px
         |  FROM documents
         |  WHERE length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) >= 192),
         |fr AS (
         |  SELECT doc_id, s,
         |    [px[s*96 + (i // 9) * 12 + ((i % 9) * 12) // 9 + 1] for i in range(0, 72)] AS gv
         |  FROM img, unnest(range(0, len(px) // 96)) AS t(s)),
         |sig AS (
         |  SELECT doc_id, s, ${hiLo(0, 32)} AS hi, ${hiLo(32, 64)} AS lo
         |  FROM fr),
         |steps AS (
         |  SELECT doc_id, s,
         |    bit_count(xor(hi, lag(hi) OVER w)) + bit_count(xor(lo, lag(lo) OVER w)) AS step
         |  FROM sig WINDOW w AS (PARTITION BY doc_id ORDER BY s))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(CASE WHEN step > 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  CAST(max(step) AS BIGINT) AS max_step
         |FROM steps GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      videoShotStats(Tables(s, dir, "documents")).orderBy("doc_id")
    }
  }

  /** q79's core over any documents-shaped frame — factored so a curation
    * chain or spec can drive it on constructed frame sequences.
    */
  private[graft] def videoShotStats(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("norm", regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
      .filter(length(col("norm")) >= 192)
      .select(col("doc_id"), encode(col("norm"), "UTF-8").as("data"))
      .withColumn("nf", expr("octet_length(data) div 96"))
      .withColumn("hashes",
        transform(sequence(lit(0), col("nf") - 1),
          i => org.apache.spark.sql.graft.ImageExpressions.dhash64(
            col("data").substr(i * lit(96) + lit(1), lit(96)),
            lit(1), lit(8), lit(12))))
      .withColumn("steps", expr(
        "zip_with(slice(hashes, 1, nf - 1), slice(hashes, 2, nf - 1), " +
          "(a, b) -> bit_count(a ^ b))"))
      .select(col("doc_id"), col("nf").cast("long").as("n_frames"),
        expr("size(filter(steps, s -> s > 24))").cast("long").as("n_cuts"),
        expr("array_max(steps)").cast("long").as("max_step"))
  // (no sort here: the streaming twin reuses this core and a streaming
  // plan cannot carry a global orderBy — q79's fn adds the output order)

  val all: Seq[QueryDef] = Seq(q33MultimodalMeta, q71ImageNeardup,
    q72AudioFeatures, q79VideoShots)
}
