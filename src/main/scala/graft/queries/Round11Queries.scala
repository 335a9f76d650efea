package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Round-11 gates: FLAC — the audio family's entropy-coded member
  * ([[graft.multimodal.FlacCodec]]: fixed/LPC integer predictors +
  * Rice/Golomb residual coding, CRC-8/CRC-16 framing). FLAC is
  * LOSSLESS, so the gate is the strongest possible: decode ∘ encode
  * must reproduce the synthesis recipe sample-exactly, and the oracle
  * never sees a byte — it regenerates the samples arithmetically and
  * recomputes the features. Any drift in bit packing, predictor math,
  * Rice/escape coding, or frame headers lands off the hash.
  */
object Round11Queries {

  /** Shared CTE text through the per-code ADC score (`scored(vec_id,
    * adc)`) for q325/q327.
    */
  private def pqScoredCtes(m: Int, k: Int, iters: Int, sub: Int): String = {
    // subspace s trains on embedding[s·sub + 1 .. (s+1)·sub]
    val subs = (0 until m).map(s => CurationQueries.kmeansCtes(
      "embeddings", s"e.embedding[${s * sub} + i]::DOUBLE", k, iters, sub, s"_$s")).mkString(",\n")
    val lutCtes = (0 until m).map { s =>
      s"""lut_$s AS (
         |  SELECT c.cid,
         |    list_aggregate(list_transform(generate_series(1, $sub),
         |      i -> c.c[i]*c.c[i]), 'sum')
         |    - 2 * list_aggregate(list_transform(generate_series(1, $sub),
         |      i -> q.embedding[${s * sub} + i]::DOUBLE * c.c[i]), 'sum') AS d
         |  FROM cents${iters}_$s c CROSS JOIN q)""".stripMargin
    }.mkString(",\n")
    val codeJoin = (0 until m).map(s => s"JOIN lut_$s l$s ON f$s.cid = l$s.cid")
      .mkString(" ")
    val finJoin = (1 until m).map(s => s"JOIN fin_$s f$s USING (vec_id)").mkString(" ")
    val dsum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    s"""$subs,
       |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |$lutCtes,
       |scored AS (SELECT f0.vec_id, round($dsum, 6) AS adc
       |  FROM fin_0 f0 $finJoin $codeJoin)""".stripMargin
  }

  private[queries] def pqOracle(m: Int, k: Int, iters: Int, sub: Int, topK: Int): String =
    s"""WITH ${pqScoredCtes(m, k, iters, sub)}
       |SELECT vec_id, adc AS adc_score FROM scored
       |ORDER BY adc_score, vec_id LIMIT $topK""".stripMargin

  /** [[pqOracle]] over a SURVIVOR subset: same training (the codebook is
    * frozen on the FULL corpus before any delete), scored rows filtered
    * by `where` — the rebuild-from-survivors answer q351 pins
    * delete+compact against.
    */
  private[queries] def pqOracleSurvivors(
      m: Int, k: Int, iters: Int, sub: Int, topK: Int, where: String): String =
    s"""WITH ${pqScoredCtes(m, k, iters, sub)}
       |SELECT vec_id, adc AS adc_score FROM scored WHERE $where
       |ORDER BY adc_score, vec_id LIMIT $topK""".stripMargin

  private def pqRerankOracle(
      m: Int, k: Int, iters: Int, sub: Int, cand: Int, topK: Int): String = {
    val dims = m * sub
    s"""WITH ${pqScoredCtes(m, k, iters, sub)},
       |cand AS (SELECT vec_id FROM scored ORDER BY adc, vec_id LIMIT $cand),
       |rr AS (SELECT e.vec_id,
       |    round(list_aggregate(list_transform(generate_series(1, $dims),
       |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum')
       |    - 2 * list_aggregate(list_transform(generate_series(1, $dims),
       |      i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum'), 6)
       |      AS dist_score
       |  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q)
       |SELECT vec_id, dist_score FROM rr
       |ORDER BY dist_score, vec_id LIMIT $topK""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // PRODUCT QUANTIZATION ANN (sim.ProductQuantizer): 64 dims → 4
    // subspaces × 4-entry codebooks (deterministic per-subspace Lloyd),
    // vectors stored as 4 small ints, the query answered from the CODE
    // table alone — per-subspace LUTs as literal arrays, one scan +
    // TakeOrdered, no raw-vector reads. The oracle re-trains all four
    // sub-quantizers (q86's unrolled CTE algebra at a dim offset),
    // re-encodes, rebuilds the LUTs, and re-ranks.
    Q("q325_ann_pq", pqOracle(m = 4, k = 4, iters = 2, sub = 16, topK = 10)) {
      (s, dir) =>
        import graft.sim.ProductQuantizer
        val emb = Tables.load(s, dir, "embeddings").persist()
        val cb = ProductQuantizer.fit(emb, "vec_id", "embedding",
          dims = 64, m = 4, k = 4, iters = 2)
        val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", cb)
        val query = emb.filter(col("vec_id") === 0L).select("embedding").head()
          .getSeq[Any](0).map {
            case f: Float => f.toDouble
            case d: Double => d
          }.toArray
        ProductQuantizer.adcTopK(codes, "vec_id", cb, query, topK = 10)
    },

    // The DEPLOYED two-stage PQ query (adcRerankTopK): ADC proposes 50
    // candidates from the code table, an exact rerank over just those
    // raw vectors returns the candidate set's true top-10 — stage two is
    // a broadcast semi-join + TakeOrdered, raw vectors load for
    // candidates only. The oracle replays training, encoding, LUTs, the
    // candidate cut, AND the exact rerank distances.
    Q("q327_ann_pq_rerank",
      pqRerankOracle(m = 4, k = 4, iters = 2, sub = 16, cand = 50, topK = 10)) {
      (s, dir) =>
        import graft.sim.ProductQuantizer
        val emb = Tables.load(s, dir, "embeddings").persist()
        val cb = ProductQuantizer.fit(emb, "vec_id", "embedding",
          dims = 64, m = 4, k = 4, iters = 2)
        val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", cb)
        val query = emb.filter(col("vec_id") === 0L).select("embedding").head()
          .getSeq[Any](0).map {
            case f: Float => f.toDouble
            case d: Double => d
          }.toArray
        ProductQuantizer.adcRerankTopK(codes, emb, "vec_id", "embedding",
          cb, query, candidates = 50, topK = 10)
    },

    // REAL lossless-compressed audio decode: three recipe shapes by
    // doc parity-of-3 steer the encoder down different subframe paths
    // (CONSTANT / low-order FIXED with small Rice params / full-range
    // noise hitting large params or the 5-bit raw escape), so one query
    // covers the whole coding surface the synthesized corpus can reach.
    Q(
      "q318_flac_features",
      """WITH raw AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 3 = 0 THEN (doc_id * 13) % 200 - 100
        |         WHEN doc_id % 3 = 1 THEN
        |           ((doc_id % 50) - 25) * 4 + ((i % 256) - 128) * ((doc_id % 5) + 1)
        |         ELSE ((doc_id * 7919 + i * 104729) % 65536) - 32768 END AS v
        |  FROM documents, unnest(generate_series(0, 599)) AS u(i)),
        |s AS (
        |  SELECT doc_id, i, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM raw)
        |SELECT doc_id AS media_id,
        |  CAST(16000 AS BIGINT) AS sr,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(600 AS BIGINT) AS n_samples,
        |  CAST(600 * 1000 // 16000 AS BIGINT) AS duration_ms,
        |  CAST(min(v) AS BIGINT) AS peak_min,
        |  CAST(max(v) AS BIGINT) AS peak_max,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) != (v < 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(sum(v) AS BIGINT) AS sum_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sum_squares,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / 600), 6) AS rms
        |FROM s GROUP BY doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.synthesizeFlac(Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.extractFlacFeatures(media)
        .withColumn("rms", round(col("rms"), 6))
        .orderBy("media_id")
    },

    // BPE ENCODE — the apply step of the trained tokenizer (q196/q198
    // gate the training loop; this gates SERVING it): the 3-round
    // segmentation's per-word subword counts broadcast onto the token
    // stream, per-doc word/subword/char counts + fertility
    // (subwords-per-word, exact micro-units). The oracle re-trains the
    // identical 3 rounds (q196's unrolled CTE algebra) and re-encodes —
    // a wrong merge application ANYWHERE shifts some document's counts.
    Q(
      "q319_bpe_encode",
      s"""WITH tt AS (SELECT u.tok AS tok
         |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         |    unnest(t) AS u(tok)),
         |wt AS (SELECT tok AS wid, CAST(count(*) AS BIGINT) AS tf FROM tt GROUP BY tok),
         |p0 AS (SELECT wid, tf, CAST(i.i AS BIGINT) AS pos, substr(wid, i.i, 1) AS sym
         |  FROM wt, unnest(generate_series(1, len(wid))) AS i(i)),
         |${WarehouseQueries.bpeRound(1)},
         |${WarehouseQueries.bpeRound(2)},
         |${WarehouseQueries.bpeRound(3)},
         |seg AS (SELECT wid, CAST(count(*) AS BIGINT) AS nsub FROM p3 GROUP BY wid),
         |dt AS (SELECT doc_id, u.tok AS tok
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |        FROM documents),
         |    unnest(t) AS u(tok))
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(nsub) AS BIGINT) AS n_subwords,
         |  CAST(sum(len(tok)) AS BIGINT) AS n_chars,
         |  CAST((CAST(sum(nsub) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
         |    AS BIGINT) AS subs_per_word_micro
         |FROM dt JOIN seg ON dt.tok = seg.wid
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.text.Vocab
        .bpeEncode(Tables.load(s, dir, "documents"), "doc_id", "text", iterations = 3)
        .orderBy("doc_id")
    },

    // FLAC acoustic fingerprint — q123's compressed twin: decode the
    // entropy-coded container into the SHARED sample frame, then the
    // identical frame-energy delta-sign bits (codec-agnostic composition
    // is the point of one Wav contract). 50-sample frames tile the
    // 600-sample recipe exactly.
    Q(
      "q320_flac_fingerprint",
      """WITH raw AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 3 = 0 THEN (doc_id * 13) % 200 - 100
        |         WHEN doc_id % 3 = 1 THEN
        |           ((doc_id % 50) - 25) * 4 + ((i % 256) - 128) * ((doc_id % 5) + 1)
        |         ELSE ((doc_id * 7919 + i * 104729) % 65536) - 32768 END AS v
        |  FROM documents, unnest(generate_series(0, 599)) AS u(i)),
        |fe AS (SELECT doc_id, i // 50 AS f, CAST(sum(v*v) AS BIGINT) AS e
        |  FROM raw GROUP BY doc_id, i // 50),
        |d AS (SELECT doc_id, f, e,
        |  lag(e) OVER (PARTITION BY doc_id ORDER BY f) AS pe FROM fe)
        |SELECT doc_id AS media_id,
        |  CAST(12 AS BIGINT) AS n_frames,
        |  array_to_string(list(CASE WHEN e > pe THEN '1' ELSE '0' END ORDER BY f)
        |    FILTER (WHERE pe IS NOT NULL), '') AS fp,
        |  CAST(sum(e) AS BIGINT) AS sum_energy
        |FROM d GROUP BY doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.synthesizeFlac(Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.extractFlacFingerprint(media, frameLen = 50).orderBy("media_id")
    },

    // Voice-activity segmentation (Multimodal.segmentUtterances): REAL
    // WAV decode → 21-sample frame energies → threshold islands
    // (frame − row_number groups), sub-2-frame bursts dropped, utterances
    // numbered per media in start order — the utterance-extraction step
    // an ASR corpus pipeline runs before transcription. The oracle
    // regenerates the q29 sample recipe, recomputes frame energies, and
    // replays the identical islands algebra.
    Q(
      "q321_vad_segments",
      """WITH s AS (SELECT doc_id, i, i // 21 AS frame,
        |    ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS v
        |  FROM documents, unnest(generate_series(0, 440)) AS u(i)),
        |fe AS (SELECT doc_id, frame, CAST(sum(v*v) AS BIGINT) AS e
        |  FROM s GROUP BY doc_id, frame),
        |act AS (SELECT doc_id, frame, e,
        |    frame - row_number() OVER (PARTITION BY doc_id ORDER BY frame) AS grp
        |  FROM fe WHERE e >= 7500000000),
        |seg AS (SELECT doc_id, min(frame) AS start_frame, max(frame) AS end_frame,
        |    CAST(count(*) AS BIGINT) AS n_frames, CAST(sum(e) AS BIGINT) AS sum_energy
        |  FROM act GROUP BY doc_id, grp),
        |n AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
        |    - 1 AS BIGINT) AS utt
        |  FROM seg WHERE n_frames >= 2)
        |SELECT doc_id AS media_id, utt,
        |  CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(end_frame AS BIGINT) AS end_frame, n_frames, sum_energy
        |FROM n ORDER BY media_id, utt""".stripMargin) { (s, dir) =>
      val frames = Multimodal.extractWavFrameFeatures(
        Multimodal.synthesizeWav(Tables.load(s, dir, "documents"), "doc_id"),
        frameLen = 21)
      Multimodal.segmentUtterances(frames, "sum_squares",
        threshold = 7500000000L, minFrames = 2)
        .orderBy("media_id", "utt")
    },

    // ADAM7 INTERLACED PNG — the progressive-JPEG discipline applied to
    // PNG: seven independently-filtered sub-images must reassemble to
    // PIXEL-IDENTICAL output, so the oracle is q298's, verbatim. Filter
    // types cycle through every pass, so a predictor leak across pass
    // boundaries (the classic interlace bug) lands off the hash.
    Q(
      "q322_png_interlaced",
      """WITH px AS (
        |  SELECT doc_id, y.y AS y, x.x AS x,
        |    (doc_id * 37 + y.y * 5 + x.x * 11) % 256 AS r,
        |    (doc_id * 41 + y.y * 13 + x.x * 3) % 256 AS g,
        |    (doc_id * 43 + y.y * 7 + x.x * 17) % 256 AS b
        |  FROM documents,
        |       unnest(generate_series(0, 11)) AS y(y),
        |       unnest(generate_series(0, 15)) AS x(x)),
        |lum AS (
        |  SELECT doc_id, y, x, r, g, b, 299 * r + 587 * g + 114 * b AS l,
        |    lag(299 * r + 587 * g + 114 * b)
        |      OVER (PARTITION BY doc_id, y ORDER BY x) AS pl
        |  FROM px)
        |SELECT doc_id AS media_id,
        |  CAST(16 AS BIGINT) AS width,
        |  CAST(12 AS BIGINT) AS height,
        |  CAST(192 AS BIGINT) AS n_pixels,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(min(l) AS BIGINT) AS luma_min,
        |  CAST(max(l) AS BIGINT) AS luma_max,
        |  CAST(sum(CASE WHEN pl IS NOT NULL AND abs(l - pl) > 50000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS edge_count
        |FROM lum GROUP BY doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.synthesizePng(
        Tables.load(s, dir, "documents"), "doc_id", interlaced = true)
      Multimodal.extractPngFeatures(media).orderBy("media_id")
    },

    // PALETTED PNG (color type 3 + PLTE) — the GIF-shaped PNG crawled
    // corpora actually carry: one index byte per pixel through the
    // filter+DEFLATE path, colors resolved through the palette at decode.
    // The oracle composes the index recipe with the palette recipe (the
    // q282 GIF pattern) and recomputes the features.
    Q(
      "q323_png_palette",
      """WITH px AS (
        |  SELECT doc_id, y.y AS y, x.x AS x,
        |    ((doc_id * 13 + y.y * 31 + x.x * 7) % 256 * 31 + 7) % 256 AS r,
        |    ((doc_id * 13 + y.y * 31 + x.x * 7) % 256 * 17 + 3) % 256 AS g,
        |    ((doc_id * 13 + y.y * 31 + x.x * 7) % 256 * 23 + 11) % 256 AS b
        |  FROM documents,
        |       unnest(generate_series(0, 11)) AS y(y),
        |       unnest(generate_series(0, 15)) AS x(x)),
        |lum AS (
        |  SELECT doc_id, y, x, r, g, b, 299 * r + 587 * g + 114 * b AS l,
        |    lag(299 * r + 587 * g + 114 * b)
        |      OVER (PARTITION BY doc_id, y ORDER BY x) AS pl
        |  FROM px)
        |SELECT doc_id AS media_id,
        |  CAST(16 AS BIGINT) AS width,
        |  CAST(12 AS BIGINT) AS height,
        |  CAST(192 AS BIGINT) AS n_pixels,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(min(l) AS BIGINT) AS luma_min,
        |  CAST(max(l) AS BIGINT) AS luma_max,
        |  CAST(sum(CASE WHEN pl IS NOT NULL AND abs(l - pl) > 50000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS edge_count
        |FROM lum GROUP BY doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.synthesizePngPalette(
        Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.extractPngFeatures(media).orderBy("media_id")
    },

    // GRAYSCALE PNG (color type 0, interlaced!) — the scan/document-image
    // shape: one sample per pixel widened to r=g=b at decode, composed
    // with Adam7 so one gate covers the gray path THROUGH the pass grid.
    // Oracle: the recipe with equal channels (luma = 1000·v).
    Q(
      "q324_png_gray",
      """WITH px AS (
        |  SELECT doc_id, y.y AS y, x.x AS x,
        |    (doc_id * 53 + y.y * 9 + x.x * 29) % 256 AS v
        |  FROM documents,
        |       unnest(generate_series(0, 11)) AS y(y),
        |       unnest(generate_series(0, 15)) AS x(x)),
        |lum AS (
        |  SELECT doc_id, y, x, v, 1000 * v AS l,
        |    lag(1000 * v) OVER (PARTITION BY doc_id, y ORDER BY x) AS pl
        |  FROM px)
        |SELECT doc_id AS media_id,
        |  CAST(16 AS BIGINT) AS width,
        |  CAST(12 AS BIGINT) AS height,
        |  CAST(192 AS BIGINT) AS n_pixels,
        |  CAST(sum(v) AS BIGINT) AS sum_r,
        |  CAST(sum(v) AS BIGINT) AS sum_g,
        |  CAST(sum(v) AS BIGINT) AS sum_b,
        |  CAST(min(l) AS BIGINT) AS luma_min,
        |  CAST(max(l) AS BIGINT) AS luma_max,
        |  CAST(sum(CASE WHEN pl IS NOT NULL AND abs(l - pl) > 50000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS edge_count
        |FROM lum GROUP BY doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.synthesizePngGray(
        Tables.load(s, dir, "documents"), "doc_id", interlaced = true)
      Multimodal.extractPngFeatures(media).orderBy("media_id")
    },

    // The PRODUCTION incremental-dedup OP end-to-end (q313 replays its
    // SHAPE with shared frames; this runs IncrementalDedup.ingestBatch
    // itself): two "daily" batches against a fresh parquet state —
    // banding, stored-index probe, rep-level fold, commit markers — then
    // canonicalIds. Pinned invariant: the op's incremental canonical set
    // equals the full-corpus batch closure (the oracle's recursive CTE).
    // Dup groups split across the parity batches, so cross-batch pair
    // formation IS exercised; a bounded doc subset keeps the per-batch
    // fixed job cost benchable; the state dir is recreated per run, and
    // re-running on a LEFTOVER state is also correct by idempotence
    // (committed batchIds no-op).
    Q(
      "q326_incremental_op",
      s"""WITH RECURSIVE ${CurationQueries.MinhashComponentCtes
           .replace("FROM documents",
             "FROM (SELECT * FROM documents WHERE doc_id < 1200) documents")},
         |losers AS (SELECT node FROM comp WHERE node != component)
         |SELECT doc_id FROM documents
         |WHERE doc_id < 1200 AND doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.dedup.IncrementalDedup
      val docs = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 1200L)
        .select(col("doc_id").as("id"), col("text"))
        .persist()
      val root = s"target/q326_state/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val state = IncrementalDedup.State(root)
      for (day <- 0 until 2)
        IncrementalDedup.ingestBatch(
          state, docs.filter(pmod(col("id"), lit(2)) === day),
          "id", "text", batchId = f"day$day")
      docs.unpersist()
      IncrementalDedup.canonicalIds(s, state)
        .select(col("id").as("doc_id"))
        .orderBy("doc_id")
    })
}
