package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Round-10 gates: REAL video — MJPEG frames in a RIFF/AVI container
  * ([[graft.multimodal.AviCodec]] walking the chunk structure, [[graft
  * .multimodal.JpegCodec]] entropy-decoding every `00dc` frame) — run
  * through the SAME temporal frame-table verbs the animated-GIF path
  * proved out (q304–q306), so scene detection and cross-video scene
  * dedup work unchanged on camera-adjacent input. Frames are
  * block-constant grayscale JPEGs, so the lossy round-trip is the q300
  * DC-only closed form and every oracle replays container + codec with
  * pure BIGINT arithmetic.
  */
object Round10Queries {

  // IMA ADPCM tables as DuckDB list literals (the public step/index
  // tables — the q314 oracle replays the whole predictor state machine)
  private val ImaStepsSql: String = graft.multimodal.WavCodec.ImaSteps
    .mkString("[", ",", "]")
  private val ImaIdxSql: String = graft.multimodal.WavCodec.ImaIndexAdjust
    .mkString("[", ",", "]")

  def all: Seq[Q] = Seq(

    // AVI frame features: synthesize (block-constant gray frames, scene
    // recipe v = (id·29 + (f/3)·67 + by·71 + bx·113) mod 256) → REAL
    // JPEG encode per frame → REAL AVI mux → container walk + entropy
    // decode + fixed-point IDCT → one feature row per FRAME. The oracle
    // replays the lossy decode in closed form (q300's BIGINT shift
    // chain) per (doc, frame, block).
    Q(
      "q308_avi_frame_features",
      """WITH blk AS (
        |  SELECT doc_id, f.f AS frame, by.by AS by, bx.bx AS bx,
        |    CAST((doc_id * 29 + (f.f // 3) * 67 + by.by * 71 + bx.bx * 113) % 256
        |      AS BIGINT) AS v
        |  FROM documents,
        |       unnest(generate_series(0, 5)) AS f(f),
        |       unnest(generate_series(0, 1)) AS by(by),
        |       unnest(generate_series(0, 1)) AS bx(bx)),
        |dec AS (
        |  SELECT doc_id, frame, by, bx,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (((((((8 * (v - 128) + 8) >> 4) * 16) * 370728 + 2048) >> 12)
        |          * 370728 + 134217728) >> 28) + 128)) AS rec
        |  FROM blk),
        |edges AS (
        |  SELECT doc_id, frame, by,
        |    CASE WHEN abs(max(CASE WHEN bx = 1 THEN rec END)
        |                - max(CASE WHEN bx = 0 THEN rec END)) * 1000 > 50000
        |         THEN 8 ELSE 0 END AS e
        |  FROM dec GROUP BY doc_id, frame, by)
        |SELECT a.doc_id AS media_id,
        |  CAST(a.frame AS BIGINT) AS frame,
        |  CAST(16 AS BIGINT) AS width,
        |  CAST(16 AS BIGINT) AS height,
        |  CAST(64 * a.s AS BIGINT) AS sum_r,
        |  CAST(64 * a.s AS BIGINT) AS sum_g,
        |  CAST(64 * a.s AS BIGINT) AS sum_b,
        |  CAST(1000 * a.mn AS BIGINT) AS luma_min,
        |  CAST(1000 * a.mx AS BIGINT) AS luma_max,
        |  CAST(e.ec AS BIGINT) AS edge_count
        |FROM (SELECT doc_id, frame, sum(rec) AS s, min(rec) AS mn, max(rec) AS mx
        |      FROM dec GROUP BY doc_id, frame) a
        |JOIN (SELECT doc_id, frame, sum(e) AS ec
        |      FROM edges GROUP BY doc_id, frame) e
        |  ON a.doc_id = e.doc_id AND a.frame = e.frame
        |ORDER BY media_id, frame""".stripMargin) { (s, dir) =>
      val media = graft.multimodal.Multimodal.synthesizeAviMjpeg(
        Tables.load(s, dir, "documents"), "doc_id")
      graft.multimodal.Multimodal.extractAviFrameFeatures(media)
        .orderBy("media_id", "frame")
    },

    // Scene-change detection over the REAL-video frame table: same verb
    // as q305 (a lag window over the frames-grain table, never pixels),
    // now fed by container walk + entropy decode. Planted boundaries sit
    // at frames 3k; a boundary only REGISTERS when the two scenes'
    // DECODED luma sums differ (quantization can collapse a small jump —
    // the oracle replays exactly what the codec must lose, so both sides
    // agree on which boundaries survive).
    Q(
      "q309_avi_scene_changes",
      """WITH blk AS (
        |  SELECT doc_id, f.f AS frame, by.by AS by, bx.bx AS bx,
        |    CAST((doc_id * 29 + (f.f // 3) * 67 + by.by * 71 + bx.bx * 113) % 256
        |      AS BIGINT) AS v
        |  FROM documents,
        |       unnest(generate_series(0, 5)) AS f(f),
        |       unnest(generate_series(0, 1)) AS by(by),
        |       unnest(generate_series(0, 1)) AS bx(bx)),
        |sums AS (
        |  SELECT doc_id, frame,
        |    sum(GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (((((((8 * (v - 128) + 8) >> 4) * 16) * 370728 + 2048) >> 12)
        |          * 370728 + 134217728) >> 28) + 128))) AS l
        |  FROM blk GROUP BY doc_id, frame),
        |d AS (
        |  SELECT doc_id, frame, l,
        |    lag(l) OVER (PARTITION BY doc_id ORDER BY frame) AS pl
        |  FROM sums)
        |SELECT doc_id AS media_id, CAST(frame AS BIGINT) AS frame
        |FROM d WHERE pl IS NOT NULL AND l != pl
        |ORDER BY media_id, frame""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ff = graft.multimodal.Multimodal.extractAviFrameFeatures(
        graft.multimodal.Multimodal.synthesizeAviMjpeg(
          Tables.load(s, dir, "documents"), "doc_id"))
      val lsum = ff.select(col("media_id"), col("frame"),
        (lit(299L) * col("sum_r") + lit(587L) * col("sum_g")
          + lit(114L) * col("sum_b")).as("l"))
      lsum
        .withColumn("pl",
          lag(col("l"), 1).over(Window.partitionBy("media_id").orderBy("frame")))
        .filter(col("pl").isNotNull && col("l") =!= col("pl"))
        .select(col("media_id"), col("frame"))
        .orderBy("media_id", "frame")
    },

    // Cross-video SCENE dedup on the REAL container: per-frame dHash
    // fingerprints cluster across AVIs — 29⁻¹ mod 256 = 53, so doc and
    // doc + 67·53 mod 256 = doc+223 share scenes one apart, and
    // doc/doc+256 alias entirely. 4×4-block 32×32 frames (q302's
    // mapping) keep the fingerprint space rich. The oracle replays
    // decode (the q300 closed form IS the decoded block), the
    // 32×32 → 9×8 floor-index resize (by = y//2, bx = (32x)//72 —
    // nested floor divisions compose), and the horizontal-gradient
    // bits per (doc, frame).
    Q(
      "q310_avi_scene_dedup",
      """WITH blk AS (
        |  SELECT doc_id, f.f AS frame, by.by AS by, bx.bx AS bx,
        |    CAST((doc_id * 29 + (f.f // 3) * 67 + by.by * 71 + bx.bx * 113) % 256
        |      AS BIGINT) AS v
        |  FROM documents,
        |       unnest(generate_series(0, 5)) AS f(f),
        |       unnest(generate_series(0, 3)) AS by(by),
        |       unnest(generate_series(0, 3)) AS bx(bx)),
        |dec AS (
        |  SELECT doc_id, frame, by, bx,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (((((((8 * (v - 128) + 8) >> 4) * 16) * 370728 + 2048) >> 12)
        |          * 370728 + 134217728) >> 28) + 128)) AS rec
        |  FROM blk),
        |grid AS (
        |  SELECT d.doc_id, d.frame, y.y AS y, x.x AS x, d.rec AS l
        |  FROM dec d,
        |       unnest(generate_series(0, 7)) AS y(y),
        |       unnest(generate_series(0, 8)) AS x(x)
        |  WHERE d.by = y.y // 2 AND d.bx = (32 * x.x) // 72),
        |g AS (
        |  SELECT a.doc_id, a.frame, a.y, a.x,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM grid a JOIN grid b
        |    ON a.doc_id = b.doc_id AND a.frame = b.frame
        |      AND a.y = b.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |per AS (
        |  SELECT doc_id, frame,
        |    array_to_string(list(CAST(bit AS VARCHAR) ORDER BY y, x), '') AS dhash
        |  FROM g GROUP BY doc_id, frame)
        |SELECT dhash,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_media,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM per GROUP BY dhash ORDER BY dhash""".stripMargin) { (s, dir) =>
      val media = graft.multimodal.Multimodal.synthesizeAviMjpeg(
        Tables.load(s, dir, "documents"), "doc_id", blocksW = 4, blocksH = 4)
      graft.multimodal.Multimodal.extractAviFrameDHash(media, side = 8)
        .groupBy("dhash")
        .agg(
          count(lit(1)).as("n_frames"),
          countDistinct(col("media_id")).as("n_media"),
          min(col("media_id")).as("min_doc"))
        .orderBy("dhash")
    },

    // PROGRESSIVE JPEG (SOF2) — the majority encoding of real crawled
    // photos: the same block-constant pixels through the multi-scan
    // spectral-selection + successive-approximation encoder, decoded by
    // accumulating coefficient bits across 6 scans and rendering at EOI.
    // The fully-transmitted progressive stream carries EXACTLY the
    // sequential coefficients, so this oracle is q300's closed form
    // VERBATIM — any drift in EOB-run/correction-bit handling lands off
    // the hash.
    Q(
      "q311_jpeg_prog_features",
      """WITH blk AS (
        |  SELECT doc_id, by.by AS by, bx.bx AS bx,
        |    CAST((doc_id * 29 + by.by * 71 + bx.bx * 113) % 256 AS BIGINT) AS v
        |  FROM documents,
        |       unnest(generate_series(0, 1)) AS by(by),
        |       unnest(generate_series(0, 1)) AS bx(bx)),
        |dec AS (
        |  SELECT doc_id, by, bx,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (((((((8 * (v - 128) + 8) >> 4) * 16) * 370728 + 2048) >> 12)
        |          * 370728 + 134217728) >> 28) + 128)) AS rec
        |  FROM blk),
        |edges AS (
        |  SELECT doc_id, by,
        |    CASE WHEN abs(max(CASE WHEN bx = 1 THEN rec END)
        |                - max(CASE WHEN bx = 0 THEN rec END)) * 1000 > 50000
        |         THEN 8 ELSE 0 END AS e
        |  FROM dec GROUP BY doc_id, by)
        |SELECT a.doc_id AS media_id,
        |  CAST(16 AS BIGINT) AS width,
        |  CAST(16 AS BIGINT) AS height,
        |  CAST(256 AS BIGINT) AS n_pixels,
        |  CAST(64 * a.s AS BIGINT) AS sum_r,
        |  CAST(64 * a.s AS BIGINT) AS sum_g,
        |  CAST(64 * a.s AS BIGINT) AS sum_b,
        |  CAST(1000 * a.mn AS BIGINT) AS luma_min,
        |  CAST(1000 * a.mx AS BIGINT) AS luma_max,
        |  CAST(e.ec AS BIGINT) AS edge_count
        |FROM (SELECT doc_id, sum(rec) AS s, min(rec) AS mn, max(rec) AS mx
        |      FROM dec GROUP BY doc_id) a
        |JOIN (SELECT doc_id, sum(e) AS ec FROM edges GROUP BY doc_id) e
        |  ON a.doc_id = e.doc_id
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = graft.multimodal.Multimodal.synthesizeJpegProgressive(
        Tables.load(s, dir, "documents"), "doc_id", grayscale = true)
      graft.multimodal.Multimodal.extractJpegFeatures(media).orderBy("media_id")
    },

    // Progressive 4:2:0 color — the layout AND coding real camera/crawl
    // photos actually ship: 10-scan script over subsampled YCbCr,
    // q303's per-channel closed form verbatim (Y at Q00=16, chroma at
    // Q00=17 with offset floor-division, pinned BT.601 both ways).
    Q(
      "q312_jpeg_prog420_features",
      """WITH blk AS (
        |  SELECT doc_id, by.by AS by, bx.bx AS bx,
        |    CAST((doc_id * 19 + by.by * 53 + bx.bx * 101) % 256 AS BIGINT) AS r0,
        |    CAST((doc_id * 23 + by.by * 59 + bx.bx * 103) % 256 AS BIGINT) AS g0,
        |    CAST((doc_id * 31 + by.by * 61 + bx.bx * 107) % 256 AS BIGINT) AS b0
        |  FROM documents,
        |       unnest(generate_series(0, 1)) AS by(by),
        |       unnest(generate_series(0, 1)) AS bx(bx)),
        |ycc AS (
        |  SELECT doc_id, by, bx,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (299000 * r0 + 587000 * g0 + 114000 * b0 + 500000) // 1000000)) AS yv,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT), 128 +
        |      ((-168736 * r0 - 331264 * g0 + 500000 * b0 + 500000
        |        + 1000000000000) // 1000000) - 1000000)) AS cb,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT), 128 +
        |      ((500000 * r0 - 418688 * g0 - 81312 * b0 + 500000
        |        + 1000000000000) // 1000000) - 1000000)) AS cr
        |  FROM blk),
        |dec AS (
        |  SELECT doc_id, by, bx,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (((((((8 * (yv - 128) + 8) >> 4) * 16) * 370728 + 2048) >> 12)
        |          * 370728 + 134217728) >> 28) + 128)) AS ry,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      ((((((((16 * (cb - 128) + 17 + 34000) // 34 - 1000) * 17)
        |          * 370728 + 2048) >> 12) * 370728 + 134217728) >> 28) + 128))) AS rcb,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      ((((((((16 * (cr - 128) + 17 + 34000) // 34 - 1000) * 17)
        |          * 370728 + 2048) >> 12) * 370728 + 134217728) >> 28) + 128))) AS rcr
        |  FROM ycc),
        |rgb AS (
        |  SELECT doc_id, by, bx,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (1000000 * ry + 1402000 * (rcr - 128) + 500000
        |        + 1000000000000) // 1000000 - 1000000)) AS rr,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (1000000 * ry - 344136 * (rcb - 128) - 714136 * (rcr - 128) + 500000
        |        + 1000000000000) // 1000000 - 1000000)) AS gg,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (1000000 * ry + 1772000 * (rcb - 128) + 500000
        |        + 1000000000000) // 1000000 - 1000000)) AS bb
        |  FROM dec),
        |lum AS (
        |  SELECT doc_id, by, bx, rr, gg, bb,
        |    299 * rr + 587 * gg + 114 * bb AS l
        |  FROM rgb),
        |edges AS (
        |  SELECT doc_id, by,
        |    CASE WHEN abs(max(CASE WHEN bx = 1 THEN l END)
        |                - max(CASE WHEN bx = 0 THEN l END)) > 50000
        |         THEN 16 ELSE 0 END AS e
        |  FROM lum GROUP BY doc_id, by)
        |SELECT a.doc_id AS media_id,
        |  CAST(32 AS BIGINT) AS width,
        |  CAST(32 AS BIGINT) AS height,
        |  CAST(1024 AS BIGINT) AS n_pixels,
        |  CAST(256 * a.sr AS BIGINT) AS sum_r,
        |  CAST(256 * a.sg AS BIGINT) AS sum_g,
        |  CAST(256 * a.sb AS BIGINT) AS sum_b,
        |  CAST(a.mn AS BIGINT) AS luma_min,
        |  CAST(a.mx AS BIGINT) AS luma_max,
        |  CAST(e.ec AS BIGINT) AS edge_count
        |FROM (SELECT doc_id, sum(rr) AS sr, sum(gg) AS sg, sum(bb) AS sb,
        |             min(l) AS mn, max(l) AS mx
        |      FROM lum GROUP BY doc_id) a
        |JOIN (SELECT doc_id, sum(e) AS ec FROM edges GROUP BY doc_id) e
        |  ON a.doc_id = e.doc_id
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = graft.multimodal.Multimodal.synthesizeJpegProgressive(
        Tables.load(s, dir, "documents"), "doc_id", grayscale = false,
        subsample420 = true)
      graft.multimodal.Multimodal.extractJpegFeatures(media).orderBy("media_id")
    },

    // End-to-end INCREMENTAL near-dup at the multi-day horizon: the
    // production loop (IncrementalDedup) run
    // functionally — five "daily" batches (doc_id mod 5), each banding
    // only its own docs, probing the ACCUMULATED index, appending pairs;
    // then one components + keepCanonical pass. The invariant under
    // test: a pair forms exactly once (when its LATER member arrives),
    // so the incremental canonical set EQUALS the full-corpus batch
    // answer — which is exactly what the oracle computes (q81/q82's
    // recursive-closure CTEs, canonical ids).
    Q(
      "q313_incremental_canonical",
      s"""WITH RECURSIVE ${CurationQueries.MinhashComponentCtes},
         |losers AS (SELECT node FROM comp WHERE node != component)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.dedup.{DupClusters, MinHashLsh}
      val docs = Tables.load(s, dir, "documents")
      // a doc's banded rows don't depend on its batch, so ONE signature
      // pass feeds every day (q129's shape — filtering the shared table
      // IS each day's banded batch; IncrementalDedupSpec exercises the
      // separate bandedTable-per-batch path of the real op)
      val banded = MinHashLsh.bandedTable(docs, "doc_id", "text", 3, 12, 4)
        .persist()
      var pairs: org.apache.spark.sql.DataFrame = null
      for (day <- 0 until 5) {
        val nb = banded.filter(pmod(col("doc_id"), lit(5)) === day)
        val index = banded.filter(pmod(col("doc_id"), lit(5)) <= day)
        // probe index ∪ own rows: new×old + new×new; pairs with both
        // members in EARLIER days already formed on those days, so no
        // cross-day duplicates arise and no re-distinct is needed
        val np = MinHashLsh.candidatePairsAgainst(nb, index, "doc_id")
        pairs = if (pairs == null) np else pairs.unionByName(np)
      }
      DupClusters
        .keepCanonical(docs, "doc_id", DupClusters.components(pairs, "id_a", "id_b"))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // COMPRESSED audio: mono IMA ADPCM (WAVE format 0x11) — the audio
    // family's first real decompression (4 bits/sample predictor +
    // step-table codec). The codec is LOSSY but pure-integer, so the
    // oracle replays the ENTIRE encode+decode state machine with a
    // recursive CTE: per sample, quantize the prediction error against
    // the current step (three subtractive compares), reconstruct the
    // decoder's prediction, walk the step index; block headers (every
    // 101 samples) transmit the sample exactly and carry the index
    // through. Features over the DECODED stream — any drift in the
    // nibble packing, header layout, or clamp order lands off the hash.
    Q(
      "q314_adpcm_features",
      {
        val ST = s"($ImaStepsSql)[c.idx + 1]"
        val AD = "abs(n.s - c.pred)"
        val B2 = s"(CASE WHEN $AD >= $ST THEN 1 ELSE 0 END)"
        val AD2 = s"($AD - $B2 * $ST)"
        val B1 = s"(CASE WHEN $AD2 >= $ST // 2 THEN 1 ELSE 0 END)"
        val AD3 = s"($AD2 - $B1 * ($ST // 2))"
        val B0 = s"(CASE WHEN $AD3 >= $ST // 4 THEN 1 ELSE 0 END)"
        val DIFF = s"($ST // 8 + $B2 * $ST + $B1 * ($ST // 2) + $B0 * ($ST // 4))"
        val SIGNED = s"(CASE WHEN n.s - c.pred < 0 THEN -$DIFF ELSE $DIFF END)"
        s"""WITH RECURSIVE src AS (
           |  SELECT doc_id, u.i AS i,
           |    ((doc_id * 7919 + u.i * 104729) % 65536) - 32768 AS s
           |  FROM documents, unnest(generate_series(0, 201)) AS u(i)),
           |chain(doc_id, i, pred, idx) AS (
           |  SELECT doc_id, 0, s, 0 FROM src WHERE i = 0
           |  UNION ALL
           |  SELECT c.doc_id, c.i + 1,
           |    CASE WHEN (c.i + 1) % 101 = 0 THEN n.s
           |         ELSE GREATEST(-32768, LEAST(32767, c.pred + $SIGNED)) END,
           |    CASE WHEN (c.i + 1) % 101 = 0 THEN c.idx
           |         ELSE GREATEST(0, LEAST(88,
           |           c.idx + ($ImaIdxSql)[$B2 * 4 + $B1 * 2 + $B0 + 1])) END
           |  FROM chain c JOIN src n ON n.doc_id = c.doc_id AND n.i = c.i + 1),
           |dec AS (
           |  SELECT doc_id, i, pred AS v,
           |    lag(pred) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           |  FROM chain)
           |SELECT doc_id AS media_id,
           |  CAST(8000 AS BIGINT) AS sr,
           |  CAST(1 AS BIGINT) AS channels,
           |  CAST(202 AS BIGINT) AS n_samples,
           |  CAST(202 * 1000 // 8000 AS BIGINT) AS duration_ms,
           |  CAST(min(v) AS BIGINT) AS peak_min,
           |  CAST(max(v) AS BIGINT) AS peak_max,
           |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) != (v < 0))
           |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           |  CAST(sum(v) AS BIGINT) AS sum_samples,
           |  CAST(sum(v * v) AS BIGINT) AS sum_squares,
           |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / 202), 6) AS rms
           |FROM dec GROUP BY doc_id ORDER BY media_id""".stripMargin
      }) { (s, dir) =>
      val media = graft.multimodal.Multimodal.synthesizeWavAdpcm(
        Tables.load(s, dir, "documents"), "doc_id")
      graft.multimodal.Multimodal.extractWavFeatures(media)
        .withColumn("rms", round(col("rms"), 6))
        .orderBy("media_id")
    },

    // Header-only VIDEO sniff: the RIFF walk to avih without touching
    // any frame's entropy bytes — the O(header) probe a media pipeline
    // filters on (dims / frame count / duration) before paying for
    // decode. Two container shapes interleave by doc parity, so a
    // shifted avih field lands half the rows off the hash; meta_match
    // cross-checks declared metadata against container bytes.
    Q(
      "q315_avi_sniff",
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 32 END AS BIGINT) AS sniff_width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 32 END AS BIGINT) AS sniff_height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 100000 ELSE 200000 END AS BIGINT)
        |    AS us_per_frame,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 9 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 1800 END AS BIGINT)
        |    AS duration_ms_sniff,
        |  TRUE AS meta_match
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      val docs = Tables.load(s, dir, "documents")
      val small = Multimodal.synthesizeAviMjpeg(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id")
      val big = Multimodal.synthesizeAviMjpeg(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id",
        nFrames = 9, blocksW = 4, blocksH = 4, fps = 5)
      Multimodal.sniffAviInfo(small.unionByName(big)).orderBy("media_id")
    },

    // KEYFRAME extraction — the video training-data sampling step: one
    // decode pass per payload yields features AND fingerprint per frame
    // (extractAviFrameProfile), then a frames-grain lag window keeps
    // frame 0 and every frame whose decoded luma sum moved — one
    // representative row per SCENE (as quantization preserves it), with
    // the dHash that downstream cross-video dedup clusters on. The
    // oracle replays decode (q310's closed-form blocks), the scene rule,
    // and the resize+gradient fingerprint for exactly the kept frames.
    Q(
      "q316_avi_keyframes",
      """WITH blk AS (
        |  SELECT doc_id, f.f AS frame, by.by AS by, bx.bx AS bx,
        |    CAST((doc_id * 29 + (f.f // 3) * 67 + by.by * 71 + bx.bx * 113) % 256
        |      AS BIGINT) AS v
        |  FROM documents,
        |       unnest(generate_series(0, 5)) AS f(f),
        |       unnest(generate_series(0, 3)) AS by(by),
        |       unnest(generate_series(0, 3)) AS bx(bx)),
        |dec AS (
        |  SELECT doc_id, frame, by, bx,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
        |      (((((((8 * (v - 128) + 8) >> 4) * 16) * 370728 + 2048) >> 12)
        |          * 370728 + 134217728) >> 28) + 128)) AS rec
        |  FROM blk),
        |sums AS (
        |  SELECT doc_id, frame, sum(rec) AS l FROM dec GROUP BY doc_id, frame),
        |keyf AS (
        |  SELECT doc_id, frame FROM (
        |    SELECT doc_id, frame, l,
        |      lag(l) OVER (PARTITION BY doc_id ORDER BY frame) AS pl
        |    FROM sums)
        |  WHERE pl IS NULL OR l != pl),
        |grid AS (
        |  SELECT d.doc_id, d.frame, y.y AS y, x.x AS x, d.rec AS lum
        |  FROM dec d,
        |       unnest(generate_series(0, 7)) AS y(y),
        |       unnest(generate_series(0, 8)) AS x(x)
        |  WHERE d.by = y.y // 2 AND d.bx = (32 * x.x) // 72),
        |g AS (
        |  SELECT a.doc_id, a.frame, a.y, a.x,
        |    CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM grid a JOIN grid b
        |    ON a.doc_id = b.doc_id AND a.frame = b.frame
        |      AND a.y = b.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |per AS (
        |  SELECT doc_id, frame,
        |    array_to_string(list(CAST(bit AS VARCHAR) ORDER BY y, x), '') AS dhash
        |  FROM g GROUP BY doc_id, frame)
        |SELECT k.doc_id AS media_id, CAST(k.frame AS BIGINT) AS frame, p.dhash
        |FROM keyf k JOIN per p ON k.doc_id = p.doc_id AND k.frame = p.frame
        |ORDER BY media_id, frame""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val media = graft.multimodal.Multimodal.synthesizeAviMjpeg(
        Tables.load(s, dir, "documents"), "doc_id", blocksW = 4, blocksH = 4)
      val prof = graft.multimodal.Multimodal.extractAviFrameProfile(media)
      prof
        .withColumn("l",
          lit(299L) * col("sum_r") + lit(587L) * col("sum_g")
            + lit(114L) * col("sum_b"))
        .withColumn("pl",
          lag(col("l"), 1).over(Window.partitionBy("media_id").orderBy("frame")))
        .filter(col("pl").isNull || col("l") =!= col("pl"))
        .select(col("media_id"), col("frame"), col("dhash"))
        .orderBy("media_id", "frame")
    },

    // Audio RESAMPLING: integer decimation by 3 (44.1 kHz → 14.7 kHz) —
    // the decode → resample → featurize pipeline every ASR training
    // corpus runs. The pinned boxcar average (round-half-up floorDiv)
    // is exactly replayable: the oracle groups the q29 source recipe by
    // threes and applies the same offset floor-division (DuckDB //
    // truncates, so negatives need the +6M offset).
    Q(
      "q317_audio_decimate",
      """WITH s AS (
        |  SELECT doc_id, u.i AS i,
        |    ((doc_id * 7919 + u.i * 104729) % 65536) - 32768 AS v
        |  FROM documents, unnest(generate_series(0, 440)) AS u(i)),
        |grp AS (
        |  SELECT doc_id, i // 3 AS g, sum(v) AS sv
        |  FROM s GROUP BY doc_id, i // 3),
        |dec AS (
        |  SELECT doc_id, g, (2 * sv + 3 + 600000) // 6 - 100000 AS v,
        |    lag((2 * sv + 3 + 600000) // 6 - 100000)
        |      OVER (PARTITION BY doc_id ORDER BY g) AS pv
        |  FROM grp)
        |SELECT doc_id AS media_id,
        |  CAST(14700 AS BIGINT) AS sr,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(147 AS BIGINT) AS n_samples,
        |  CAST(10 AS BIGINT) AS duration_ms,
        |  CAST(min(v) AS BIGINT) AS peak_min,
        |  CAST(max(v) AS BIGINT) AS peak_max,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) != (v < 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(sum(v) AS BIGINT) AS sum_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sum_squares,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / 147), 6) AS rms
        |FROM dec GROUP BY doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = graft.multimodal.Multimodal.synthesizeWav(
        Tables.load(s, dir, "documents"), "doc_id")
      graft.multimodal.Multimodal.extractWavFeatures(media, decimateBy = 3)
        .withColumn("rms", round(col("rms"), 6))
        .orderBy("media_id")
    }
  )
}
