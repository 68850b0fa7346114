package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Multimodal pipeline queries. The synthetic corpus is a pure
  * function of `documents` (payload = UTF-8 text bytes; image docs
  * additionally rendered as real grayscale PNGs), so every stage —
  * histogram features, frame sampling, and the full javax.imageio
  * PNG encode → decode → resize pipeline — gets a FULL DuckDB oracle
  * via hex-nibble byte extraction on the oracle side.
  */
object MultimodalQ {

  /** Per-bin count via DuckDB list_filter over the hex string: byte
    * i's HIGH NIBBLE is hex char 2i−1 (1-based), and histogram bin
    * (b & 0xff)/16 IS the high nibble.
    */
  private def duckBin(k: Int): String = {
    val d = "0123456789ABCDEF".charAt(k)
    s"len(list_filter(range(1, n_bytes + 1), i -> substr(hx, CAST(2*i - 1 AS BIGINT), 1) = '$d')) AS h$k"
  }

  /** Pixel `idx` (0-based) of the cyclic-text raster, as an integer
    * byte value read from the document's hex string (2 chars/byte).
    */
  private def duckByteAt(idx: String): String =
    s"""CASE WHEN n = 0 THEN 0 ELSE
       |  (strpos('0123456789ABCDEF', substr(hx, CAST(2*(($idx) % n) + 1 AS BIGINT), 1)) - 1) * 16
       |  + strpos('0123456789ABCDEF', substr(hx, CAST(2*(($idx) % n) + 2 AS BIGINT), 1)) - 1
       |END""".stripMargin.replaceAll("\\s+", " ").trim

  /** Same pixel as its 2-char hex pair (for digesting the raster). */
  private def duckHexAt(idx: String): String =
    s"CASE WHEN n = 0 THEN '00' ELSE substr(hx, CAST(2*(($idx) % n) + 1 AS BIGINT), 2) END"

  /** Nearest-neighbor source index for resized pixel t of a 4x4 target:
    * (y*h/4)*w + (x*w/4) with y = t/4, x = t mod 4 (integer division) —
    * the exact arithmetic of `Multimodal.resize`.
    */
  private def duckSrcIdx(t: String): String =
    s"((($t)//4) * h // 4) * w + ((($t) % 4) * w // 4)"

  /** Real-codec pipeline: synthesize grayscale PNGs from the image-kind
    * documents, decode them with javax.imageio (dims from the PNG
    * header), nearest-neighbor resize to 4x4 — then hash-verify source
    * dims, source pixel sum, resized pixel sum, AND an md5 digest of
    * the resized raster against a DuckDB reconstruction that never
    * touches PNG bytes (pixel i = text byte i mod n, cycled). A codec
    * that dropped, reordered, or re-quantized a single sample fails
    * the digest.
    */
  private val mediaDecodeResize = Q(
    "q_media_decode_resize",
    (s, dir) => {
      import s.implicits._
      val dec = Multimodal
        .decodeImages(Multimodal.syntheticPngMedia(Tables(s, dir).documents))
        .persist() // read twice: source-dim stats + the resize stage
      val dims = dec
        .map(i => (i.media_id, i.width.toLong, i.height.toLong,
          i.pixels.map(b => (b & 0xff).toLong).sum))
        .toDF("media_id", "src_w", "src_h", "src_pixel_sum")
      val rs = Multimodal.resize(dec, 4, 4)
        .map(i => (i.media_id,
          i.pixels.map(b => (b & 0xff).toLong).sum,
          i.pixels.map(b => f"${b & 0xff}%02X").mkString))
        .toDF("rs_id", "rs_pixel_sum", "hx")
      dims.join(rs, $"media_id" === $"rs_id")
        .select($"media_id", $"src_w", $"src_h", $"src_pixel_sum",
          $"rs_pixel_sum", md5($"hx").as("rs_digest"))
        .orderBy($"media_id")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id AS media_id,
            |         hex(encode(text)) AS hx,
            |         octet_length(encode(text)) AS n
            |  FROM documents WHERE doc_id % 3 = 0
            |),
            |d AS (
            |  SELECT media_id, hx, n, 4 + n % 13 AS w, 3 + n % 7 AS h FROM m
            |)
            |SELECT media_id,
            |       CAST(w AS BIGINT) AS src_w,
            |       CAST(h AS BIGINT) AS src_h,
            |       CAST(list_sum(list_transform(range(0, w*h), i -> ${duckByteAt("i")})) AS BIGINT) AS src_pixel_sum,
            |       CAST(list_sum(list_transform(range(0, 16), t -> ${duckByteAt(duckSrcIdx("t"))})) AS BIGINT) AS rs_pixel_sum,
            |       md5(list_aggregate(list_transform(range(0, 16), t -> ${duckHexAt(duckSrcIdx("t"))}), 'string_agg', '')) AS rs_digest
            |FROM d
            |ORDER BY media_id""".stripMargin),
  )

  /** feature-extract over every modality; the integer byte histogram
    * (the pre-normalization embedding) is oracle-checked bin by bin.
    */
  private val mediaFeatures = Q(
    "q_media_features",
    (s, dir) => {
      import s.implicits._
      Multimodal
        .features(Multimodal.syntheticMedia(Tables(s, dir).documents))
        .map(f => (f.media_id, f.kind, f.n_bytes, f.histogram))
        .toDF("media_id", "kind", "n_bytes", "hist")
        .select(
          Seq($"media_id", $"kind", $"n_bytes".cast("long").as("n_bytes")) ++
            (0 until 16).map(k =>
              element_at($"hist", k + 1).cast("long").as(s"h$k")): _*)
        .orderBy($"media_id")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id AS media_id,
            |         CASE doc_id % 3 WHEN 0 THEN 'image'
            |                         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
            |         encode(text) AS payload
            |  FROM documents
            |),
            |b AS (
            |  SELECT media_id, kind,
            |         octet_length(payload) AS n_bytes,
            |         hex(payload) AS hx
            |  FROM m
            |)
            |SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
            |       ${(0 until 16).map(duckBin).mkString(",\n       ")}
            |FROM b
            |ORDER BY media_id""".stripMargin),
  )

  /** frame sampling: one row per sampled frame, with an exact payload
    * digest — the slice boundaries, tail clamping, and byte content
    * all oracle-checked.
    */
  private val mediaFrames = Q(
    "q_media_frame_sample",
    (s, dir) => {
      import s.implicits._
      Multimodal
        .sampleFrames(Multimodal.syntheticMedia(Tables(s, dir).documents),
          frameBytes = 32, everyN = 2)
        .map(f => (f.media_id, f.frame_idx, f.frame_payload))
        .toDF("media_id", "frame_idx", "fp")
        .select(
          $"media_id", $"frame_idx",
          length($"fp").cast("long").as("frame_bytes"),
          md5(hex($"fp")).as("frame_digest"),
        )
        .orderBy($"media_id", $"frame_idx")
    },
    // DuckDB can't substring a BLOB, so the oracle slices the HEX
    // text (2 chars/byte) — hex(slice(payload)) ≡ slice(hex(payload)),
    // so the digests agree by construction
    Some("""WITH m AS (
           |  SELECT doc_id AS media_id,
           |         hex(encode(text)) AS hx,
           |         octet_length(encode(text)) AS n_bytes
           |  FROM documents WHERE doc_id % 3 = 2
           |),
           |fr AS (
           |  SELECT media_id,
           |         CAST(f.f AS INT) AS frame_idx,
           |         substr(hx, CAST(f.f * 64 + 1 AS BIGINT), 64) AS fhx
           |  FROM m,
           |       unnest(range(0, greatest(n_bytes // 32, 1), 2)) AS f(f)
           |)
           |SELECT media_id, frame_idx,
           |       CAST(length(fhx) // 2 AS BIGINT) AS frame_bytes,
           |       md5(fhx) AS frame_digest
           |FROM fr
           |ORDER BY media_id, frame_idx""".stripMargin),
  )

  /** DuckDB source for media feature vectors: the 16-bin byte
    * histogram as a BIGINT list (integer-exact — the L1 normalization
    * is skipped because cosine is scale-invariant, so the histogram
    * IS the feature vector, with no float division to drift
    * cross-engine). Shape `(vec_id, q, n2)` for Similarity's Lloyd
    * CTE machinery. Zero vectors are excluded (cosine undefined).
    */
  private def mediaVecSql: String =
    s"""  SELECT vec_id, q,
       |         CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) AS n2
       |  FROM (
       |    SELECT doc_id AS vec_id,
       |           list_transform(range(0, 16), k ->
       |             CAST(len(list_filter(range(1, n_bytes + 1), i ->
       |               strpos('0123456789ABCDEF', substr(hx, CAST(2*i - 1 AS BIGINT), 1)) - 1 = k)) AS BIGINT)) AS q
       |    FROM (SELECT doc_id, hex(encode(text)) AS hx,
       |                 octet_length(encode(text)) AS n_bytes
       |          FROM documents))
       |  WHERE CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE) > 0""".stripMargin

  /** CROSS-FAMILY composition: the multimodal feature extractor's
    * output (16-dim integer byte histograms) indexed and searched by
    * the similarity family's trained-IVF machinery UNCHANGED — train a
    * coarse quantizer with 2 Lloyd iterations over the media vectors,
    * build posting lists from the final assignment, probe the 2
    * nearest centroids for a 1-in-29 query sample, exact-rank top-3
    * inside the probed lists. Every stage is a broadcast or posting
    * -list equi-join (the `q_embed_topk_ivf_kmeans` scale shape); the
    * oracle is the same unrolled Lloyd + probe CTE chain instantiated
    * at 16 dims over the histogram vectors.
    */
  private val mediaEmbedTopk = Q(
    "q_media_embed_topk",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.VectorSim
      val e = Multimodal.features(Multimodal.syntheticMedia(Tables(s, dir).documents))
        .map(f => (f.media_id, f.histogram.map(_.toLong)))
        .toDF("vec_id", "q")
        .withColumn("n2", VectorSim.qnorm2($"q"))
        .filter($"n2" > 0) // zero vector: cosine undefined
        .persist()
      val init = e.filter($"vec_id" % 50 === 1)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"n2".as("n2c"))
      val (cents, assignFinal) = VectorSim.kmeansFit(e, init, dims = 16, iters = 2)
      val posting = assignFinal.select($"vec_id".as("cand_id"), $"cent_id")
      val probes = e.filter($"vec_id" % 29 === 0)
        .crossJoin(broadcast(cents))
        .withColumn("cos",
          VectorSim.qcosine(VectorSim.qdotNative($"q", $"qc"), $"n2", $"n2c"))
        .withColumn("rn",
          row_number().over(
            Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cent_id")))
        .filter($"rn" <= 2)
        .select($"vec_id".as("query_id"), $"cent_id")
      val cand = probes.join(posting, "cent_id")
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id").distinct()
      cand
        .join(e.select($"vec_id".as("query_id"), $"q".as("qa"), $"n2".as("na")), "query_id")
        .join(e.select($"vec_id".as("cand_id"), $"q".as("qb"), $"n2".as("nb")), "cand_id")
        .select($"query_id", $"cand_id",
          VectorSim.qcosine(VectorSim.qdotNative($"qa", $"qb"), $"na", $"nb").as("cosine"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")))
        .filter($"rank" <= 3)
        .orderBy($"query_id", $"rank")
    },
    Some(Similarity.kmeansCtesOver(mediaVecSql, dims = 16,
      initPred = "vec_id % 50 = 1", iters = 2) +
      Similarity.ivfProbeSql(L = 1, dims = 16, queryPred = "v.vec_id % 29 = 0")),
  )

  /** Nearest-neighbor source index for resized pixel t of an 8x8
    * target (the aHash raster): same arithmetic as `duckSrcIdx` at 8.
    */
  private def duckSrcIdx8(t: String): String =
    s"((($t)//8) * h // 8) * w + ((($t) % 8) * w // 8)"

  /** Image near-dup dedup via perceptual average-hash: real PNGs →
    * javax.imageio decode → 8×8 resize → 64-bit aHash → 4×16-bit LSH
    * bands (the SimHash banding machinery reused on image bits) →
    * packed-long `bit_count(xor)` hamming ≤ 8 on band survivors. The
    * oracle rebuilds the resized raster byte-for-byte from the hex
    * text (never touching PNG bytes), recomputes every hash bit with
    * the same `p·64 ≥ Σ` rule, re-bands, and re-verifies hamming by
    * comparing the 64 bit-chars — so codec, resize, hashing, banding,
    * and the hamming kernel are ALL under one hash-match.
    */
  private val mediaAHashDedup = Q(
    "q_media_ahash_dedup",
    (s, dir) => {
      import s.implicits._
      import graft.operators.TextDedup
      val ah = Multimodal
        .aHash(Multimodal.resize(
          Multimodal.decodeImages(
            Multimodal.syntheticPngMedia(Tables(s, dir).documents)), 8, 8))
        .toDF()
        .persist() // banding + both pair sides read it
      val bands = TextDedup.bitBands(
        ah.select($"media_id".as("doc_id"), $"ahash"), "ahash", bits = 64, nBands = 4)
      TextDedup
        .bandPairs(bands, TextDedup.DefaultMaxBucket)
        .join(ah.select($"media_id".as("doc_a"),
          $"ah_hi".as("hi_a"), $"ah_lo".as("lo_a")), "doc_a")
        .join(ah.select($"media_id".as("doc_b"),
          $"ah_hi".as("hi_b"), $"ah_lo".as("lo_b")), "doc_b")
        .select(
          $"doc_a".as("media_a"),
          $"doc_b".as("media_b"),
          (bit_count($"hi_a".bitwiseXOR($"hi_b")) +
            bit_count($"lo_a".bitwiseXOR($"lo_b"))).cast("long").as("hamming"))
        .filter($"hamming" <= 8)
        .orderBy($"media_a", $"media_b")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id AS media_id,
            |         hex(encode(text)) AS hx,
            |         octet_length(encode(text)) AS n
            |  FROM documents WHERE doc_id % 3 = 0
            |),
            |d AS (SELECT media_id, hx, n, 4 + n % 13 AS w, 3 + n % 7 AS h FROM m),
            |px AS (
            |  SELECT media_id,
            |         list_transform(range(0, 64), t -> ${duckByteAt(duckSrcIdx8("t"))}) AS rs
            |  FROM d
            |),
            |sm AS (SELECT media_id, rs, list_sum(rs) AS s FROM px),
            |hs AS (
            |  SELECT media_id,
            |         list_aggregate(list_transform(rs, p ->
            |           CASE WHEN p * 64 >= s THEN '1' ELSE '0' END), 'string_agg', '') AS hb
            |  FROM sm
            |),
            |bands AS (
            |  SELECT media_id, hb, b, substr(hb, CAST(b * 16 + 1 AS BIGINT), 16) AS bh
            |  FROM hs, unnest(range(0, 4)) AS t(b)
            |),
            |hot AS (
            |  SELECT b, bh FROM bands GROUP BY b, bh HAVING count(*) > 50
            |),
            |cand AS (
            |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
            |                  a.hb AS ha, b.hb AS hbb
            |  FROM bands a
            |  JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.media_id < b.media_id
            |  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.b = a.b AND h.bh = a.bh)
            |)
            |SELECT media_a, media_b,
            |       CAST(len(list_filter(range(1, 65), i ->
            |         substr(ha, CAST(i AS BIGINT), 1) <> substr(hbb, CAST(i AS BIGINT), 1)))
            |         AS BIGINT) AS hamming
            |FROM cand
            |WHERE len(list_filter(range(1, 65), i ->
            |        substr(ha, CAST(i AS BIGINT), 1) <> substr(hbb, CAST(i AS BIGINT), 1))) <= 8
            |ORDER BY media_a, media_b""".stripMargin),
  )

  /** DuckDB hex digit at 1-based position `pos` of the payload hex. */
  private def duckHexDigit(pos: String): String =
    s"(strpos('0123456789ABCDEF', substr(hx, CAST($pos AS BIGINT), 1)) - 1)"

  /** Byte value at 0-based byte offset `b` of the payload. */
  private def duckPayloadByte(b: String): String =
    s"(${duckHexDigit(s"2*($b)+1")} * 16 + ${duckHexDigit(s"2*($b)+2")})"

  /** Signed 16-bit little-endian sample at 0-based sample index `i`. */
  private def duckSampleAt(i: String): String = {
    val u = s"(${duckPayloadByte(s"2*($i)")} + 256 * ${duckPayloadByte(s"2*($i)+1")})"
    s"(CASE WHEN $u >= 32768 THEN $u - 65536 ELSE $u END)"
  }

  /** Audio windowed energy + relative silence flag: the audio-kind
    * payloads as 16-bit LE signed PCM, per-16-sample sum-of-squares
    * energy (`Multimodal.audioEnergy` — the VAD/silence-trim primitive
    * of a speech curation pipeline), flagged silent when the window
    * carries < ¼ of its medium's mean energy (integer cross-multiplied
    * compare, no float threshold). Sign extension, window boundaries,
    * the energy fold, and the silence rule are all oracle-checked
    * against hex-nibble sample reconstruction.
    */
  private val mediaAudioEnergy = Q(
    "q_media_audio_energy",
    (s, dir) => {
      import s.implicits._
      val win = Multimodal
        .audioEnergy(Multimodal.syntheticMedia(Tables(s, dir).documents))
        .toDF()
      val tot = win.groupBy($"media_id")
        .agg(sum($"energy").as("tot"), count(lit(1)).as("n_win"))
      win.join(tot, "media_id")
        .select($"media_id", $"window_idx", $"energy",
          ($"energy" * 4 * $"n_win" < $"tot").as("is_silence"))
        .orderBy($"media_id", $"window_idx")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
            |         octet_length(encode(text)) AS nb
            |  FROM documents WHERE doc_id % 3 = 1
            |),
            |w AS (
            |  SELECT media_id, CAST(g.k AS INT) AS window_idx, hx
            |  FROM m, UNNEST(generate_series(0, nb // 32 - 1)) AS g(k)
            |),
            |e AS (
            |  SELECT media_id, window_idx,
            |         CAST(list_sum(list_transform(range(0, 16), j ->
            |           CAST(${duckSampleAt("window_idx*16+j")} AS BIGINT) *
            |           ${duckSampleAt("window_idx*16+j")})) AS BIGINT) AS energy
            |  FROM w
            |),
            |t AS (
            |  SELECT media_id, sum(energy) AS tot, count(*) AS n_win
            |  FROM e GROUP BY media_id
            |)
            |SELECT e.media_id, e.window_idx, e.energy,
            |       e.energy * 4 * t.n_win < t.tot AS is_silence
            |FROM e JOIN t USING (media_id)
            |ORDER BY media_id, window_idx""".stripMargin),
  )

  /** Scene-cut detection under the gate: consecutive sampled frames'
    * L1 byte distance (`Multimodal.sceneCuts` — keyframe selection),
    * unmatched tail bytes penalized at 255 so a length change
    * registers, frame 0 always a keyframe. Every delta and cut verdict
    * is rebuilt by the oracle from hex nibbles plus the identical lag
    * window.
    */
  private val mediaSceneCuts = Q(
    "q_media_scene_cuts",
    (s, dir) => {
      import s.implicits._
      Multimodal
        .sceneCuts(
          Multimodal.sampleFrames(
            Multimodal.syntheticMedia(Tables(s, dir).documents),
            frameBytes = 16, everyN = 1),
          threshold = 400L)
        .toDF()
        .orderBy($"media_id", $"frame_idx")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
            |         octet_length(encode(text)) AS nb
            |  FROM documents WHERE doc_id % 3 = 2
            |),
            |f AS (
            |  SELECT media_id, CAST(g.f AS INT) AS frame_idx, hx,
            |         16 * g.f AS off, least(16, nb - 16 * g.f) AS flen
            |  FROM m, UNNEST(generate_series(0, greatest(nb // 16, 1) - 1)) AS g(f)
            |),
            |d AS (
            |  SELECT media_id, frame_idx, hx, off, flen,
            |         lag(off) OVER w AS poff, lag(flen) OVER w AS pflen
            |  FROM f
            |  WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)
            |),
            |e AS (
            |  SELECT media_id, frame_idx,
            |         CASE WHEN poff IS NULL THEN CAST(0 AS BIGINT)
            |         ELSE CAST(coalesce(list_sum(list_transform(
            |                range(0, least(flen, pflen)), j ->
            |                abs(${duckPayloadByte("poff + j")} -
            |                    ${duckPayloadByte("off + j")}))), 0) AS BIGINT)
            |              + 255 * ((pflen - least(flen, pflen)) +
            |                       (flen - least(flen, pflen)))
            |         END AS delta,
            |         poff IS NULL AS first
            |  FROM d
            |)
            |SELECT media_id, frame_idx, delta,
            |       CASE WHEN first THEN TRUE ELSE delta > 400 END AS is_cut
            |FROM e
            |ORDER BY media_id, frame_idx""".stripMargin),
  )

  /** Silence-SPAN extraction — the actual trim list a speech-curation
    * pipeline consumes: consecutive relatively-silent windows (the
    * q_media_audio_energy rule) merged into maximal runs via
    * gaps-and-islands (window_idx − row_number is constant within a
    * run), spans of ≥ 2 windows reported as (start, length). Flag →
    * interval extraction is the step between per-window VAD and an
    * editable cut list; one window pass per media after the energy
    * aggregation, no extra scan of the payload bytes.
    *
    * The synthetic text-derived PCM is noise-like — no window ever
    * falls below the relative threshold naturally — so the gate MUTES
    * samples 32..79 (windows 2-4) of every audio payload before the
    * energy pass: a deterministic planted silence both engines
    * reproduce, guaranteeing the merge logic runs over real
    * multi-window runs instead of passing vacuously on zero rows.
    */
  private val mediaSilenceSpans = Q(
    "q_media_silence_spans",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val muted = Multimodal.syntheticMedia(Tables(s, dir).documents)
        .map { m =>
          if (m.kind != "audio") m
          else {
            val p = m.payload.clone()
            var b = 64 // sample i lives at bytes 2i, 2i+1 → samples 32..79
            while (b < math.min(160, p.length)) { p(b) = 0; b += 1 }
            m.copy(payload = p)
          }
        }
      val win = Multimodal.audioEnergy(muted).toDF()
      val tot = win.groupBy($"media_id")
        .agg(sum($"energy").as("tot"), count(lit(1)).as("n_win"))
      win.join(tot, "media_id")
        .filter($"energy" * 4 * $"n_win" < $"tot")
        .select($"media_id", $"window_idx")
        .withColumn("island", $"window_idx" -
          row_number().over(Window.partitionBy($"media_id").orderBy($"window_idx")))
        .groupBy($"media_id", $"island")
        .agg(min($"window_idx").as("start_window"),
          count(lit(1)).as("n_windows"))
        .filter($"n_windows" >= 2)
        .select($"media_id", $"start_window", $"n_windows")
        .orderBy($"media_id", $"start_window")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
            |         octet_length(encode(text)) AS nb
            |  FROM documents WHERE doc_id % 3 = 1
            |),
            |w AS (
            |  SELECT media_id, CAST(g.k AS INT) AS window_idx, hx
            |  FROM m, UNNEST(generate_series(0, nb // 32 - 1)) AS g(k)
            |),
            |e AS (
            |  SELECT media_id, window_idx,
            |         CAST(list_sum(list_transform(range(0, 16), j ->
            |           CASE WHEN window_idx*16+j BETWEEN 32 AND 79 THEN 0
            |                ELSE CAST(${duckSampleAt("window_idx*16+j")} AS BIGINT) *
            |                     ${duckSampleAt("window_idx*16+j")} END)) AS BIGINT) AS energy
            |  FROM w
            |),
            |t AS (
            |  SELECT media_id, sum(energy) AS tot, count(*) AS n_win
            |  FROM e GROUP BY media_id
            |),
            |silent AS (
            |  SELECT e.media_id, e.window_idx
            |  FROM e JOIN t USING (media_id)
            |  WHERE e.energy * 4 * t.n_win < t.tot
            |),
            |isl AS (
            |  SELECT media_id, window_idx,
            |         window_idx - row_number() OVER (PARTITION BY media_id
            |                                         ORDER BY window_idx) AS island
            |  FROM silent
            |)
            |SELECT media_id, min(window_idx) AS start_window,
            |       CAST(count(*) AS BIGINT) AS n_windows
            |FROM isl GROUP BY media_id, island
            |HAVING count(*) >= 2
            |ORDER BY media_id, start_window""".stripMargin),
  )

  val all: Seq[Q] =
    Seq(mediaDecodeResize, mediaFeatures, mediaFrames, mediaEmbedTopk,
      mediaAHashDedup, mediaAudioEnergy, mediaSceneCuts, mediaSilenceSpans)
}
