package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Round-14 gates. Opens by finishing the Layer III spectral surface
  * (START/STOP types 1/3, INTENSITY joint stereo, MIXED blocks — the
  * last closed-form typed rejections real music hits; only the
  * honestly-excluded Table B.3 polyphase window remains), then builds
  * out the training-schedule frontier: multimodal segment packing and
  * loss-mask emission (q364/q365), the IVF+PQ delete lifecycle (q366),
  * the CDX fetch-by-geometry and wide-charset crawl gates (q367/q368),
  * the crawl→corpus COMPOSITION capstone (q369), SFT batch construction
  * (q371), annealed/upsampled mixture schedules (q372/q373), harmonic
  * whole-doc packing (q374), and the incremental piece store with its
  * delete lifecycle (q375/q376).
  */
object Round14Queries {

  def all: Seq[Q] = Seq(

    // START/STOP BLOCK MP3 DECODE (Mp3Codec block_type 1/3) — the
    // long→short/short→long transition bracket every real encoder
    // writes around a transient run: granule 0 is a type-1 START
    // block, granule 1 a type-3 STOP block. Both are LONG-family
    // (21-sfb layout, no subblock gains) but arrive through the
    // WINDOW-SWITCHING side-info layout with the implicit region
    // split — a layout mistake shifts every later side-info field and
    // lands off the hash; a decoder that still rejects types 1/3
    // fails the query outright. Spectra replay exactly as q355; the
    // block_type column pins the parsed type. The type-specific IMDCT
    // windows are spec-gated (Mp3Spec — cosines have no SQL form).
    Q(
      "q362_mp3_start_stop",
      """WITH fg AS (
        |  SELECT doc_id, f.f AS f, gr.gr AS gr FROM documents,
        |    unnest(generate_series(0, 1)) AS f(f),
        |    unnest(generate_series(0, 1)) AS gr(gr)),
        |par AS (
        |  SELECT doc_id, f, gr,
        |    4 + (doc_id + f) % 5 AS npairs,
        |    3 + (doc_id + 2*f + gr) % 4 AS nquads,
        |    (doc_id + f + gr) % 5 AS g
        |  FROM fg),
        |pp AS (
        |  SELECT doc_id, f, gr, p.p AS p,
        |    (doc_id + 3*gr + 7*p.p + f) % 2 AS mx,
        |    (doc_id*5 + gr + 11*p.p + 2*f) % 2 AS my,
        |    (doc_id + p.p + f) % 2 AS sx,
        |    (doc_id + p.p + gr) % 2 AS sy
        |  FROM par, unnest(generate_series(0, 8)) AS p(p)
        |  WHERE p.p < npairs),
        |qq AS (
        |  SELECT doc_id, f, gr, q.q AS q, j.j AS j,
        |    CASE j.j WHEN 1 THEN (doc_id + q.q + f) % 2
        |             WHEN 2 THEN (doc_id + 3*q.q + gr) % 2
        |             WHEN 3 THEN (doc_id + 5*q.q + f + gr) % 2
        |             ELSE (doc_id + 7*q.q + 1) % 2 END AS mag,
        |    (doc_id + q.q + j.j) % 2 AS s
        |  FROM par, unnest(generate_series(0, 6)) AS q(q),
        |       unnest(generate_series(1, 4)) AS j(j)
        |  WHERE q.q < nquads),
        |lines AS (
        |  SELECT doc_id, f, gr, 2*p + xy.xy AS line,
        |    CASE WHEN xy.xy = 0 THEN mx ELSE my END AS mag,
        |    CASE WHEN xy.xy = 0 THEN sx ELSE sy END AS s
        |  FROM pp, unnest(generate_series(0, 1)) AS xy(xy)
        |  UNION ALL
        |  SELECT q.doc_id, q.f, q.gr,
        |    2*a.npairs + 4*q.q + (q.j - 1) AS line, q.mag, q.s
        |  FROM qq q JOIN par a USING (doc_id, f, gr)),
        |pbits AS (
        |  SELECT doc_id, f, gr,
        |    sum(CASE WHEN mx = 0 AND my = 0 THEN 1
        |             WHEN mx = 1 AND my = 0 THEN 2 ELSE 3 END + mx + my) AS b
        |  FROM pp GROUP BY doc_id, f, gr),
        |qbits AS (
        |  SELECT doc_id, f, gr, sum(1 + mag) AS b
        |  FROM qq GROUP BY doc_id, f, gr),
        |feat AS (
        |  SELECT doc_id, f, gr, sum(mag) AS nnz,
        |    sum(mag * (1 - 2*s) * (line + 1)) AS wsum
        |  FROM lines GROUP BY doc_id, f, gr)
        |SELECT a.doc_id AS media_id,
        |  CAST(a.f AS BIGINT) AS frame_idx,
        |  CAST(a.gr AS BIGINT) AS granule,
        |  CAST(0 AS BIGINT) AS channel,
        |  CAST(CASE a.gr WHEN 0 THEN 1 ELSE 3 END AS BIGINT) AS block_type,
        |  CAST(a.npairs AS BIGINT) AS big_values,
        |  CAST(210 + 4*a.g AS BIGINT) AS global_gain,
        |  CAST(pb.b + qb.b AS BIGINT) AS part2_3_length,
        |  CAST(ft.nnz AS BIGINT) AS n_nonzero,
        |  CAST(ft.nnz * CAST(power(2, a.g) AS BIGINT) * 1000000 AS BIGINT)
        |    AS sum_abs_micro,
        |  CAST(ft.wsum * CAST(power(2, a.g) AS BIGINT) * 1000000 AS BIGINT)
        |    AS checksum_micro
        |FROM par a
        |JOIN pbits pb USING (doc_id, f, gr)
        |JOIN qbits qb USING (doc_id, f, gr)
        |JOIN feat ft USING (doc_id, f, gr)
        |ORDER BY media_id, frame_idx, granule""".stripMargin) { (s, dir) =>
      graft.multimodal.Multimodal.extractMp3SpectraTyped(
        graft.multimodal.Multimodal.synthesizeMp3CodedStartStop(
          Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id", "frame_idx", "granule")
    },

    // INTENSITY JOINT STEREO MP3 (Mp3Codec mode_extension 01) — the
    // other joint-stereo reconstruction real music hits: channel 1's
    // upper spectrum is NOT transmitted; its scalefactors there carry
    // stereo POSITIONS, and both channels rebuild from channel 0's
    // lines. The synthesizer codes ch0 long (lines past several band
    // boundaries) and ch1 short, so the intensity region starts at
    // ch1's last coded line rounded up to a band boundary — the oracle
    // replays the bound, the band lookup, the is_pos extraction from
    // ch1's 3-bit scalefactors (bands 11–20; lower intensity bands
    // read is_pos 0 from their zero-length scalefactor slots), and the
    // pan: is_pos 0 → fully right, 6 → fully left, 7 (ILLEGAL) →
    // pass-through. Positions with irrational ratios (1–5) are
    // spec-gated in-JVM where both sides share one libm.
    Q(
      "q363_mp3_intensity",
      """WITH fgc AS (
        |  SELECT doc_id, f.f AS f, gr.gr AS gr, ch.ch AS ch,
        |    CASE ch.ch WHEN 0 THEN doc_id ELSE doc_id + 1000003 END AS rid,
        |    CASE ch.ch WHEN 0 THEN 10 ELSE 2 END AS bp,
        |    CASE ch.ch WHEN 0 THEN 8 ELSE 1 END AS bq
        |  FROM documents,
        |    unnest(generate_series(0, 1)) AS f(f),
        |    unnest(generate_series(0, 1)) AS gr(gr),
        |    unnest(generate_series(0, 1)) AS ch(ch)),
        |par AS (SELECT doc_id, f, gr, ch, rid,
        |    bp + (rid + f) % 5 AS npairs,
        |    bq + (rid + 2*f + gr) % 4 AS nquads,
        |    (rid + f + gr) % 5 AS g
        |  FROM fgc),
        |pp AS (SELECT doc_id, f, gr, ch, p.p AS p,
        |    (rid + 3*gr + 7*p.p + f) % 2 AS mx,
        |    (rid*5 + gr + 11*p.p + 2*f) % 2 AS my,
        |    (rid + p.p + f) % 2 AS sx,
        |    (rid + p.p + gr) % 2 AS sy
        |  FROM par, unnest(generate_series(0, 14)) AS p(p)
        |  WHERE p.p < npairs),
        |qq AS (SELECT doc_id, f, gr, ch, q.q AS q, j.j AS j,
        |    CASE j.j WHEN 1 THEN (rid + q.q + f) % 2
        |             WHEN 2 THEN (rid + 3*q.q + gr) % 2
        |             WHEN 3 THEN (rid + 5*q.q + f + gr) % 2
        |             ELSE (rid + 7*q.q + 1) % 2 END AS mag,
        |    (rid + q.q + j.j) % 2 AS s
        |  FROM par, unnest(generate_series(0, 11)) AS q(q),
        |       unnest(generate_series(1, 4)) AS j(j)
        |  WHERE q.q < nquads),
        |lines AS (
        |  SELECT doc_id, f, gr, ch, 2*p + xy.xy AS line,
        |    CASE WHEN xy.xy = 0 THEN mx ELSE my END AS mag,
        |    CASE WHEN xy.xy = 0 THEN sx ELSE sy END AS s
        |  FROM pp, unnest(generate_series(0, 1)) AS xy(xy)
        |  UNION ALL
        |  SELECT q.doc_id, q.f, q.gr, q.ch,
        |    2*a.npairs + 4*q.q + (q.j - 1), q.mag, q.s
        |  FROM qq q JOIN par a USING (doc_id, f, gr, ch)),
        |-- long-block band table (44.1 kHz) out to line 90: ch0's coded
        |-- region never passes line 72 (14 pairs + 11 quads)
        |bands AS (SELECT * FROM (VALUES (0, 0, 4), (1, 4, 8), (2, 8, 12),
        |    (3, 12, 16), (4, 16, 20), (5, 20, 24), (6, 24, 30), (7, 30, 36),
        |    (8, 36, 44), (9, 44, 52), (10, 52, 62), (11, 62, 74),
        |    (12, 74, 90)) AS t(band, st, en)),
        |-- the intensity bound: ch1's last coded nonzero line + 1,
        |-- rounded UP to the next band boundary
        |rz AS (
        |  SELECT doc_id, f, gr,
        |    coalesce(max(CASE WHEN ch = 1 AND mag = 1 THEN line END) + 1, 0)
        |      AS rzero
        |  FROM lines GROUP BY doc_id, f, gr),
        |bnd AS (
        |  SELECT doc_id, f, gr, min(st) AS bound
        |  FROM rz JOIN bands ON st >= rzero
        |  GROUP BY doc_id, f, gr),
        |-- route every coded line to its OUTPUT channel: ch1 lines stay
        |-- right (always below the bound by construction); ch0 lines in
        |-- an intensity band pan by is_pos, else stay left
        |routed AS (
        |  SELECT l.doc_id, l.f, l.gr, l.line, l.s,
        |    CASE
        |      WHEN l.ch = 1 THEN 1
        |      WHEN b.st < bd.bound THEN 0
        |      WHEN b.band < 11 THEN 1
        |      WHEN (l.doc_id + 1000003 + b.band + l.f + l.gr) % 3 = 0 THEN 1
        |      ELSE 0 END AS out_ch,
        |    CAST(power(2, a.g) AS BIGINT) AS unit
        |  FROM lines l
        |  JOIN par a USING (doc_id, f, gr, ch)
        |  JOIN bands b ON l.line >= b.st AND l.line < b.en
        |  JOIN bnd bd ON bd.doc_id = l.doc_id AND bd.f = l.f AND bd.gr = l.gr
        |  WHERE l.mag = 1),
        |feat AS (
        |  SELECT doc_id, f, gr, out_ch,
        |    CAST(count(*) AS BIGINT) AS nnz,
        |    CAST(sum(unit) * 1000000 AS BIGINT) AS sum_abs,
        |    CAST(sum((1 - 2*s) * (line + 1) * unit) * 1000000 AS BIGINT)
        |      AS wsum
        |  FROM routed GROUP BY doc_id, f, gr, out_ch),
        |pbits AS (SELECT doc_id, f, gr, ch,
        |    sum(CASE WHEN mx = 0 AND my = 0 THEN 1
        |             WHEN mx = 1 AND my = 0 THEN 2 ELSE 3 END + mx + my) AS b
        |  FROM pp GROUP BY doc_id, f, gr, ch),
        |qbits AS (SELECT doc_id, f, gr, ch, sum(1 + mag) AS b
        |  FROM qq GROUP BY doc_id, f, gr, ch)
        |SELECT a.doc_id AS media_id,
        |  CAST(a.f AS BIGINT) AS frame_idx,
        |  CAST(a.gr AS BIGINT) AS granule,
        |  CAST(a.ch AS BIGINT) AS channel,
        |  CAST(a.npairs AS BIGINT) AS big_values,
        |  CAST(210 + 4*a.g AS BIGINT) AS global_gain,
        |  CAST(pb.b + qb.b + CASE a.ch WHEN 1 THEN 30 ELSE 0 END AS BIGINT)
        |    AS part2_3_length,
        |  coalesce(ft.nnz, 0) AS n_nonzero,
        |  coalesce(ft.sum_abs, 0) AS sum_abs_micro,
        |  coalesce(ft.wsum, 0) AS checksum_micro
        |FROM par a
        |JOIN pbits pb USING (doc_id, f, gr, ch)
        |JOIN qbits qb USING (doc_id, f, gr, ch)
        |LEFT JOIN feat ft ON ft.doc_id = a.doc_id AND ft.f = a.f
        |  AND ft.gr = a.gr AND ft.out_ch = a.ch
        |ORDER BY media_id, frame_idx, granule, channel""".stripMargin) { (s, dir) =>
      graft.multimodal.Multimodal.extractMp3Spectra(
        graft.multimodal.Multimodal.synthesizeMp3CodedIntensity(
          Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id", "frame_idx", "granule", "channel")
    },

    // MULTIMODAL SEQUENCE PACKING (operators.SequencePack
    // .packChunksMultimodal) — interleaved image+text documents, the
    // 2026 pretraining shape: each doc is [text, image placeholder,
    // caption] segments; image placeholder tokens come from the media
    // table's PIXEL DIMENSIONS through the real BMP decode
    // (ceil(w/8)·ceil(h/8) patches — widths are deliberately NOT
    // patch-multiples, so the ceil is load-bearing), text tokens from
    // the tokenizer count, zero-token captions drop. ONE global
    // running total over (doc, seg) — the same single range exchange
    // as q356 — and the oracle replays both token recipes through the
    // same intersection algebra.
    Q(
      "q364_multimodal_pack",
      """WITH segs AS (
        |  SELECT doc_id, 0 AS seg, 'text' AS modality,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x != '')) AS n
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1, 'image',
        |    ((10 + 7*(doc_id % 4) + 7) // 8) * ((6 + 5*(doc_id % 3) + 7) // 8)
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 2, 'text', (doc_id * 13 + 7) % 40 FROM documents),
        |o AS (SELECT doc_id, seg, modality, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id, seg
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM segs),
        |p AS (SELECT doc_id, seg, modality, n, off, c.c AS chunk_id
        |  FROM o, unnest(generate_series(off // 256, (off + n - 1) // 256)) AS c(c)
        |  WHERE n > 0)
        |SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
        |  CAST(seg AS BIGINT) AS seg, modality,
        |  CAST(GREATEST(chunk_id * 256 - off, 0) AS BIGINT) AS seg_from,
        |  CAST(GREATEST(off - chunk_id * 256, 0) AS BIGINT) AS chunk_offset,
        |  CAST(LEAST(off + n, (chunk_id + 1) * 256)
        |    - GREATEST(off, chunk_id * 256) AS BIGINT) AS piece_len
        |FROM p ORDER BY chunk_id, doc_id, seg""".stripMargin) { (s, dir) =>
      import graft.operators.SequencePack
      import graft.text.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
      // image dims through the REAL codec: synthesize → decode → patches
      val dims = graft.multimodal.Multimodal.extractBmpFeatures(
        graft.multimodal.Multimodal.synthesizeBmpVar(docs, "doc_id"))
        .select(col("media_id").as("doc_id"), col("width"), col("height"))
      val segs = docs
        .select(col("doc_id"), lit(0L).as("seg"), lit("text").as("modality"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .unionByName(dims.select(col("doc_id"), lit(1L).as("seg"),
          lit("image").as("modality"),
          SequencePack.imagePlaceholderTokens(col("width"), col("height"), 8)
            .as("n_tokens")))
        .unionByName(docs.select(col("doc_id"), lit(2L).as("seg"),
          lit("text").as("modality"),
          ((col("doc_id") * 13 + 7) % 40).cast("long").as("n_tokens")))
      // narrow coalesce on the unioned spread branches (the q284/q299
      // fix): the decode spread × 3 union legs otherwise feeds the pack's
      // range exchange 3×parts tiny map tasks
      val parts = math.max(1,
        s.sessionState.conf.numShufflePartitions / 4)
      SequencePack.packChunksMultimodal(
        segs.coalesce(parts), "doc_id", "seg", "modality", "n_tokens",
        seqLen = 256L)
        .orderBy("chunk_id", "doc_id", "seg")
    },

    // LOSS-MASK / ATTENTION-SPAN EMISSION (operators.SequencePack
    // .lossMaskSpans) — the last step before a data loader: per chunk,
    // spans (offset, len, doc, mask) that tile [0, seqLen) exactly.
    // The mask is the per-doc loss flag (false for prompt docs — the
    // SFT shape composing with q358's preference pairs); the final
    // chunk's unfilled tail becomes one PAD span (null doc, mask
    // false). The mask rides THROUGH the pack as a carried label — no
    // second join — and the pad comes from a one-row total aggregate.
    Q(
      "q365_loss_mask",
      """WITH t AS (SELECT doc_id, (doc_id % 3 <> 0) AS m,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x != '')) AS n
        |  FROM documents),
        |o AS (SELECT doc_id, m, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM t),
        |p AS (SELECT doc_id, m, n, off, c.c AS chunk_id
        |  FROM o, unnest(generate_series(off // 512, (off + n - 1) // 512)) AS c(c)
        |  WHERE n > 0),
        |spans AS (
        |  SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
        |    CAST(GREATEST(off - chunk_id * 512, 0) AS BIGINT) AS span_offset,
        |    CAST(LEAST(off + n, (chunk_id + 1) * 512)
        |      - GREATEST(off, chunk_id * 512) AS BIGINT) AS span_len,
        |    m AS mask
        |  FROM p),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM t)
        |SELECT * FROM spans
        |UNION ALL
        |SELECT CAST((total - 1) // 512 AS BIGINT),
        |  CAST(NULL AS BIGINT),
        |  CAST(total - ((total - 1) // 512) * 512 AS BIGINT),
        |  CAST(((total - 1) // 512 + 1) * 512 - total AS BIGINT),
        |  false
        |FROM tot WHERE total > 0 AND total % 512 <> 0
        |ORDER BY chunk_id, span_offset""".stripMargin) { (s, dir) =>
      import graft.text.TextAnalysis
      graft.operators.SequencePack.lossMaskSpans(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
            (col("doc_id") % 3 =!= 0).as("is_completion")),
        "doc_id", "n_tokens", "is_completion", seqLen = 512L)
        .orderBy("chunk_id", "span_offset")
    },

    // IVF+PQ DELETES (sim.IvfPqStore) — the tombstone discipline the
    // flat PQ store gained in q351, applied to the composite index
    // real deployments run: frozen (centroids, residual codebook), two
    // appended batches partitioned by cell, tombstones vec_id % 7 == 3,
    // COMPACT (survivors rewrite per-cell under one new batch dir —
    // probe-time partition pruning survives the fold), cold reload,
    // then the ADC query through the probed cells. The oracle is
    // rebuild-from-survivors: the full q332 closed form (training saw
    // the whole corpus — the index froze before the deletes) scored
    // over the survivor set only.
    Q(
      "q366_ivfpq_delete",
      Round12Queries.ivfPqOracle(m = 4, k = 4, iters = 2, sub = 16,
        nProbe = 2, topK = 10, where = "r.vec_id % 7 <> 3")) { (s, dir) =>
      import graft.sim.{IvfPq, IvfPqStore}
      val emb = Tables.load(s, dir, "embeddings").persist()
      var cached = List(emb)
      val (root, probe) = try {
        val (cents, cb) = IvfPq.fitResidual(
          emb, "vec_id", "embedding", "label", dims = 64, m = 4, k = 4, iters = 2)
        cached ::= cents
        val root = s"target/q366_ivfpqstore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
        val p = new org.apache.hadoop.fs.Path(root)
        val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fsys.exists(p)) fsys.delete(p, true)
        // the pre-compaction ops are mutually independent (distinct store
        // subdirs; appends never read centroids/ or codebook/) — overlap
        // their driver fixed costs instead of serializing five tiny jobs
        graft.Par.run(Seq(
          () => IvfPqStore.writeCentroids(s, root, cents),
          () => graft.sim.PqIndexStore.writeCodebook(s, root, cb),
          () => IvfPqStore.appendBatch(emb.filter(col("vec_id") % 2 === 0),
            cents, "vec_id", "embedding", "label", root, cb, "b0"),
          () => IvfPqStore.appendBatch(emb.filter(col("vec_id") % 2 === 1),
            cents, "vec_id", "embedding", "label", root, cb, "b1"),
          () => IvfPqStore.appendTombstones(
            emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")),
            "vec_id", root, "t0")))
        IvfPqStore.compact(s, root, "c0", "vec_id", "label")
        (root, emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray)
      } finally cached.foreach(_.unpersist())
      // cold reload: centroids, codebook, and codes all from disk
      IvfPq.adcTopK(
        IvfPqStore.codes(s, root),
        IvfPqStore.readCentroids(s, root),
        "vec_id", "label",
        graft.sim.PqIndexStore.readCodebook(s, root),
        probe, nProbe = 2, topK = 10)
    },

    // CDX FETCH-BY-GEOMETRY (ingest.Warc.cdxFetch) — closes the loop
    // q349 left spec-gated: the index's (offset, length) columns are
    // only correct if a ranged read of exactly that byte span yields
    // ONE complete gzip member whose re-derived payload digest matches
    // the indexed one. The gate cuts the slice at the recorded
    // geometry, demands the RFC 1952 member walk cover it end to end
    // (an off-by-one in either field surfaces as geometry_ok = false —
    // off the oracle hash), and re-digests through the standalone
    // parse. One media-id equi-join, one mapPartitions pass.
    Q(
      "q367_cdx_fetch",
      """SELECT doc_id AS media_id,
        |  'sha-256:' || sha256('<html><head><title>Doc ' || (doc_id // 4)
        |    || '</title><script>var x=1;</script></head><body><h1>EN</h1>'
        |    || '<p>group body ' || (doc_id // 4)
        |    || ' &amp; more</p><!-- note --></body></html>') AS digest,
        |  'sha-256:' || sha256('<html><head><title>Doc ' || (doc_id // 4)
        |    || '</title><script>var x=1;</script></head><body><h1>EN</h1>'
        |    || '<p>group body ' || (doc_id // 4)
        |    || ' &amp; more</p><!-- note --></body></html>') AS fetched_digest,
        |  TRUE AS geometry_ok
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      val wf = graft.ingest.Warc.synthesizeWarcRevisits(
        Tables.load(s, dir, "documents"), "doc_id")
      graft.ingest.Warc.cdxFetch(wf, graft.ingest.Warc.cdxIndex(wf))
        .orderBy("media_id")
    },

    // WIDE CHARSET MATRIX (ingest.Warc.resolveCharset over nine
    // labeling shapes, id % 9) — q346's five plus the legacy encodings
    // real crawls actually carry (gb18030 via HTTP label, euc-kr via
    // meta charset, iso-8859-2 via http-equiv) and a SECOND conflict
    // direction: mode 8's header (windows-1252) must beat an in-
    // document meta that LIES shift_jis — the WHATWG-order mirror of
    // mode 3's BOM-over-header. Every payload carries charset-
    // diagnostic characters (CJK/hangul/Latin-2 letters whose bytes
    // are invalid or different under every other candidate), so any
    // routing mistake lands off the oracle's expected text.
    Q(
      "q368_warc_charset_wide",
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 9 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
        |    WHEN 2 THEN 'shift_jis' WHEN 3 THEN 'utf-16le'
        |    WHEN 5 THEN 'gb18030' WHEN 6 THEN 'euc-kr'
        |    WHEN 7 THEN 'iso-8859-2' WHEN 8 THEN 'windows-1252'
        |    ELSE 'utf-8' END AS charset,
        |  CASE doc_id % 9 WHEN 0 THEN 'http' WHEN 1 THEN 'meta'
        |    WHEN 2 THEN 'meta' WHEN 3 THEN 'bom'
        |    WHEN 5 THEN 'http' WHEN 6 THEN 'meta' WHEN 7 THEN 'meta'
        |    WHEN 8 THEN 'http'
        |    ELSE 'sniff' END AS charset_source,
        |  trim(regexp_replace(
        |    'Doc ' || doc_id || ' ' || text ||
        |    CASE doc_id % 9 WHEN 0 THEN ' — déjà vu'
        |      WHEN 1 THEN ' café € résumé'
        |      WHEN 2 THEN ' テスト'
        |      WHEN 3 THEN ' Ωδ — test'
        |      WHEN 5 THEN ' 中文—测试'
        |      WHEN 6 THEN ' 한국어 테스트'
        |      WHEN 7 THEN ' ąćęłńśźż'
        |      WHEN 8 THEN ' café € résumé'
        |      ELSE ' naïve — ok' END,
        |    '\s+', ' ', 'g')) AS extracted
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      graft.ingest.Warc.htmlResponsesCharsetRouted(
        graft.ingest.Warc.synthesizeWarcCharsetsWide(
          Tables.load(s, dir, "documents"), "doc_id"))
        .select(col("media_id"), col("charset"), col("charset_source"),
          graft.text.TextAnalysis.extractHtmlText(col("html")).as("extracted"))
        .orderBy("media_id")
    },

    // CRAWL→CORPUS CAPSTONE — ONE oracle-gated pipeline from WARC bytes
    // to packed training pieces, composing seven stages the unit gates
    // prove in isolation: charset-routed decode (q346) → main-content
    // extraction (q339) → quality gate (q360's score + token floor) →
    // exact dedup (q30, keep-min-id) → SimHash near-dedup (q32, kill
    // any doc with a smaller-id neighbor at hamming ≤ 7) → per-language
    // token budgets (q360) → WFQ mixture interleave (q357) → sequence
    // packing in SCHEDULE order (q356 on the interleave position). The
    // intake plants duplicates the way crawls do: doc_id % 10 == 7
    // re-serves its predecessor's page byte-identically (exact dup);
    // % 10 == 9 re-serves the predecessor's TEXT under its own charset
    // mode (near dup). Output = per-stage survivor counts (chunk_id
    // −1 rows, count in the doc_id column) plus the final piece table;
    // any schema or survivorship drift between stages lands off the
    // hash. The unit gates prove the pieces — this proves the
    // COMPOSITION.
    Q(
      "q369_crawl_capstone",
      """WITH feed AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 10 = 7 THEN (d.doc_id - 1) % 5
        |         ELSE d.doc_id % 5 END AS mode,
        |    s.text AS text, s.lang AS lang
        |  FROM documents d JOIN documents s
        |    ON s.doc_id = d.doc_id
        |      - (CASE WHEN d.doc_id % 10 IN (7, 9) THEN 1 ELSE 0 END)),
        |pay AS (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(text ||
        |      CASE mode WHEN 0 THEN ' — déjà vu' WHEN 1 THEN ' café € résumé'
        |        WHEN 2 THEN ' テスト' WHEN 3 THEN ' Ωδ — test'
        |        ELSE ' naïve — ok' END,
        |      '\s+', ' ', 'g')) AS p
        |  FROM feed),
        |main AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(p) >= 25
        |      THEN p || ' Part two Appendix ' || upper(lang)
        |        || ' stable words & digits here'
        |      ELSE 'Appendix ' || upper(lang) || ' stable words & digits here'
        |    END AS main_text
        |  FROM pay),
        |enr AS (SELECT doc_id, lang, main_text,
        |    len(regexp_extract_all(lower(main_text), '[a-z0-9]+')) AS n,
        |    (doc_id * 37 + 5) % 1000 AS q
        |  FROM main),
        |qual AS (SELECT * FROM enr WHERE n >= 5 AND q >= 100),
        |ex AS (SELECT doc_id, lang, main_text, n, q FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY md5(main_text)) AS keep_id
        |    FROM qual) WHERE doc_id = keep_id),
        |tok AS (SELECT doc_id,
        |    regexp_extract_all(lower(main_text), '[a-z0-9]+') AS t FROM ex),
        |fp AS (SELECT doc_id, array_to_string(list_transform(generate_series(0, 63), j ->
        |    CASE WHEN list_aggregate(list_transform(t, tok2 ->
        |      ((CAST(floor((strpos('0123456789abcdef', md5(tok2)[j//4+1]) - 1)
        |          / (2 ** (3 - j%4))) AS BIGINT) % 2) * 2 - 1)), 'sum') > 0
        |    THEN '1' ELSE '0' END), '') AS f FROM tok),
        |near AS (SELECT e.* FROM ex e WHERE NOT EXISTS (
        |    SELECT 1 FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |    WHERE b.doc_id = e.doc_id
        |      AND len(list_filter(generate_series(1, 64),
        |        i -> a.f[i] != b.f[i])) <= 7)),
        |bud AS (SELECT *,
        |    coalesce(sum(n) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM near),
        |kept AS (SELECT * FROM bud WHERE cb + n <=
        |    CASE lang WHEN 'en' THEN 2000 WHEN 'de' THEN 800 WHEN 'fr' THEN 700
        |      WHEN 'es' THEN 600 ELSE 500 END),
        |mr AS (SELECT doc_id, lang, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk FROM kept),
        |mv AS (SELECT *, rk * CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 6
        |    WHEN 'fr' THEN 8 WHEN 'es' THEN 12 ELSE 24 END AS vt FROM mr),
        |pos AS (SELECT doc_id, lang, n,
        |    row_number() OVER (ORDER BY vt, lang, doc_id) - 1 AS position FROM mv),
        |o AS (SELECT *, CAST(coalesce(sum(n) OVER (ORDER BY position
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM pos),
        |p AS (SELECT doc_id, n, off, c.c AS chunk_id
        |  FROM o, unnest(generate_series(off // 256, (off + n - 1) // 256)) AS c(c)
        |  WHERE n > 0),
        |pieces AS (SELECT '6_pieces' AS stage,
        |    CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
        |    CAST(GREATEST(off - chunk_id * 256, 0) AS BIGINT) AS chunk_offset,
        |    CAST(LEAST(off + n, (chunk_id + 1) * 256)
        |      - GREATEST(off, chunk_id * 256) AS BIGINT) AS piece_len
        |  FROM p),
        |counts AS (
        |  SELECT '0_intake' AS stage, CAST(-1 AS BIGINT) AS chunk_id,
        |    CAST(count(*) AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS chunk_offset,
        |    CAST(0 AS BIGINT) AS piece_len FROM documents
        |  UNION ALL SELECT '1_main_content', -1, count(*), 0, 0 FROM main
        |    WHERE main_text <> ''
        |  UNION ALL SELECT '2_quality', -1, count(*), 0, 0 FROM qual
        |  UNION ALL SELECT '3_exact_dedup', -1, count(*), 0, 0 FROM ex
        |  UNION ALL SELECT '4_near_dedup', -1, count(*), 0, 0 FROM near
        |  UNION ALL SELECT '5_budget', -1, count(*), 0, 0 FROM kept)
        |SELECT * FROM counts
        |UNION ALL SELECT * FROM pieces
        |ORDER BY stage, chunk_id, doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.{Mixture, SequencePack, TokenBudget}
      import graft.text.{MainContent, TextAnalysis}
      val docs = Tables.load(s, dir, "documents")
      // intake feed: dup rows pull text/lang (and, for the exact dup,
      // the charset mode) from their predecessor — the re-served page
      val srcId = col("doc_id") -
        when(col("doc_id") % 10 === 7 || col("doc_id") % 10 === 9, 1).otherwise(0)
      val feed = docs
        .select(col("doc_id").as("media_id"), srcId.as("src_id"),
          when(col("doc_id") % 10 === 7, (col("doc_id") - 1) % 5)
            .otherwise(col("doc_id") % 5).cast("int").as("mode"))
        .join(docs.select(col("doc_id").as("src_id"), col("text"), col("lang")),
          Seq("src_id"))
      // stage 0–1: WARC bytes → charset-routed decode → main content
      val routed = graft.ingest.Warc.htmlResponsesCharsetRouted(
        graft.ingest.Warc.synthesizeWarcBoilerplate(feed))
      val main = graft.operators.Lineage.pin(MainContent.extract(
        routed.select(col("media_id").as("doc_id"), col("html")), "doc_id", "html")
        .join(feed.select(col("media_id").as("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("main_text")))
      // six count branches + the piece branch reuse the decode; a PIN
      // (localCheckpoint) instead of persist() both caches the rows and
      // TRUNCATES the plan: the WARC-synthesize + charset + extraction
      // lineage above is the bulk of this query's ~100k-line formatted
      // plan, and every downstream action (the eager GlobalRank passes,
      // ~20 AQE stage jobs) was re-analyzing it
      // stage 2: quality gate (score recipe + token floor). Persisted:
      // the exact-dedup join reads qual on BOTH sides and the stage-count
      // branch a third time — uncached each re-runs the tokenCount regexp
      // over every main_text
      val enriched = main
        .withColumn("n", TextAnalysis.tokenCount(col("main_text")).cast("long"))
        .withColumn("q", ((col("doc_id") * 37 + 5) % 1000).cast("long"))
      val qual = enriched.filter(col("n") >= 5 && col("q") >= 100).persist()
      // stage 3: exact dedup, keep-min-id per content hash
      val ex = qual
        .join(qual.groupBy(md5(col("main_text")).as("_h"))
          .agg(min("doc_id").as("_keep")),
          md5(col("main_text")) === col("_h") && col("doc_id") === col("_keep"))
        .drop("_h", "_keep")
        .persist()
      // stage 4: near dedup — kill any doc with a smaller-id neighbor
      val kills = graft.dedup.SimHash.nearDuplicatePairs(
        ex.select(col("doc_id"), col("main_text")), "doc_id", "main_text",
        maxHamming = 7)
        .select(col("id_b").as("doc_id")).distinct()
      val near = ex.join(kills, Seq("doc_id"), "left_anti").persist()
      // stage 5: per-language token budgets, best-quality-first
      // slim (three columns, budget-bounded rows): a pin truncates the
      // plan under the mixture/pack tail — see capstoneStages' kept note
      val kept = graft.operators.Lineage.pin(TokenBudget.selectUnderBudget(
        near, "lang", "q", "doc_id", "n",
        Seq("en" -> 2000L, "de" -> 800L, "fr" -> 700L, "es" -> 600L, "zh" -> 500L))
        .filter(col("kept"))
        .select(col("doc_id"), col("lang"), col("n")))
      // stage 6: mixture schedule, then pack in SCHEDULE order
      val sched = Mixture.interleave(kept, "lang", "doc_id",
        Seq("en" -> 8L, "de" -> 4L, "fr" -> 3L, "es" -> 2L, "zh" -> 1L))
      val pieces = SequencePack.packChunksMultimodal(
        sched.select(col("position"), col("doc_id"), col("lang"), col("n")),
        "position", "doc_id", "lang", "n", seqLen = 256L)
        .select(lit("6_pieces").as("stage"), col("chunk_id"),
          col("doc_id"), col("chunk_offset"), col("piece_len"))
      def stageCount(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("_n")).select(lit(name).as("stage"),
          lit(-1L).as("chunk_id"), col("_n").as("doc_id"),
          lit(0L).as("chunk_offset"), lit(0L).as("piece_len"))
      stageCount("0_intake", docs)
        .unionByName(stageCount("1_main_content",
          main.filter(col("main_text").isNotNull && col("main_text") =!= "")))
        .unionByName(stageCount("2_quality", qual))
        .unionByName(stageCount("3_exact_dedup", ex))
        .unionByName(stageCount("4_near_dedup", near))
        .unionByName(stageCount("5_budget", kept))
        .unionByName(pieces)
        .orderBy("stage", "chunk_id", "doc_id")
    },

    // MIXED-BLOCK MP3 DECODE (Mp3Codec block_type 2, mixed_block_flag
    // set) — the hybrid granule encoders emit when a transient sits
    // over tonal bass: lines 0–35 (the lowest two subbands) stay
    // LONG-windowed (identity order, long bands 0–7, no subblock
    // gain), lines 36+ requantize + REORDER through the short chain
    // from band 3 up with per-window gains. Pair recipes (base 19)
    // make big_values themselves cross the seam at line 36, so both
    // chains and the seam arithmetic are load-bearing in the
    // position-weighted checksum. The last closed-form window shape —
    // with it the Layer III spectral surface is complete.
    Q(
      "q370_mp3_mixed_blocks",
      """WITH fg AS (
        |  SELECT doc_id, f.f AS f, gr.gr AS gr FROM documents,
        |    unnest(generate_series(0, 1)) AS f(f),
        |    unnest(generate_series(0, 1)) AS gr(gr)),
        |par AS (
        |  SELECT doc_id, f, gr,
        |    19 + (doc_id + f) % 5 AS npairs,
        |    8 + (doc_id + 2*f + gr) % 4 AS nquads,
        |    (doc_id + f + gr) % 5 AS g
        |  FROM fg),
        |pp AS (
        |  SELECT doc_id, f, gr, p.p AS p,
        |    (doc_id + 3*gr + 7*p.p + f) % 2 AS mx,
        |    (doc_id*5 + gr + 11*p.p + 2*f) % 2 AS my,
        |    (doc_id + p.p + f) % 2 AS sx,
        |    (doc_id + p.p + gr) % 2 AS sy
        |  FROM par, unnest(generate_series(0, 23)) AS p(p)
        |  WHERE p.p < npairs),
        |qq AS (
        |  SELECT doc_id, f, gr, q.q AS q, j.j AS j,
        |    CASE j.j WHEN 1 THEN (doc_id + q.q + f) % 2
        |             WHEN 2 THEN (doc_id + 3*q.q + gr) % 2
        |             WHEN 3 THEN (doc_id + 5*q.q + f + gr) % 2
        |             ELSE (doc_id + 7*q.q + 1) % 2 END AS mag,
        |    (doc_id + q.q + j.j) % 2 AS s
        |  FROM par, unnest(generate_series(0, 11)) AS q(q),
        |       unnest(generate_series(1, 4)) AS j(j)
        |  WHERE q.q < nquads),
        |lines AS (
        |  SELECT doc_id, f, gr, 2*p + xy.xy AS h,
        |    CASE WHEN xy.xy = 0 THEN mx ELSE my END AS mag,
        |    CASE WHEN xy.xy = 0 THEN sx ELSE sy END AS s
        |  FROM pp, unnest(generate_series(0, 1)) AS xy(xy)
        |  UNION ALL
        |  SELECT q.doc_id, q.f, q.gr, 2*a.npairs + 4*q.q + (q.j - 1), q.mag, q.s
        |  FROM qq q JOIN par a USING (doc_id, f, gr)),
        |-- short bands from index 3 (44.1 kHz): the hybrid's upper zone
        |bands AS (SELECT * FROM (VALUES (12, 4), (16, 6), (22, 8),
        |    (30, 10)) AS t(st, wd)),
        |nat AS (
        |  -- long seam: lines below 36 keep identity order and the long
        |  -- gain; lines at/above 36 reorder through the short chain
        |  SELECT l.doc_id, l.f, l.gr, l.mag, l.s,
        |    CASE WHEN l.h < 36 THEN -1
        |         ELSE (l.h - 3*bd.st) // bd.wd END AS win,
        |    CASE WHEN l.h < 36 THEN l.h
        |         ELSE 3*(bd.st + (l.h - 3*bd.st) % bd.wd)
        |           + (l.h - 3*bd.st) // bd.wd END AS nat_line
        |  FROM lines l LEFT JOIN bands bd
        |    ON l.h >= 36 AND l.h >= 3*bd.st AND l.h < 3*(bd.st + bd.wd)
        |  WHERE l.h < 36 OR bd.st IS NOT NULL),
        |vals AS (
        |  SELECT n.doc_id, n.f, n.gr, n.nat_line, n.mag, n.s,
        |    CAST(power(2.0, a.g - CASE WHEN n.win < 0 THEN 0
        |      ELSE 2*((n.doc_id + n.f + n.gr + n.win) % 3) END)
        |      * 1000000 AS BIGINT) AS unit
        |  FROM nat n JOIN par a USING (doc_id, f, gr)),
        |feat AS (
        |  SELECT doc_id, f, gr,
        |    CAST(sum(mag) AS BIGINT) AS nnz,
        |    CAST(sum(mag * unit) AS BIGINT) AS sum_abs,
        |    CAST(sum(mag * (1 - 2*s) * (nat_line + 1) * unit) AS BIGINT) AS wsum
        |  FROM vals GROUP BY doc_id, f, gr),
        |pbits AS (
        |  SELECT doc_id, f, gr,
        |    sum(CASE WHEN mx = 0 AND my = 0 THEN 1
        |             WHEN mx = 1 AND my = 0 THEN 2 ELSE 3 END + mx + my) AS b
        |  FROM pp GROUP BY doc_id, f, gr),
        |qbits AS (
        |  SELECT doc_id, f, gr, sum(1 + mag) AS b
        |  FROM qq GROUP BY doc_id, f, gr)
        |SELECT a.doc_id AS media_id,
        |  CAST(a.f AS BIGINT) AS frame_idx,
        |  CAST(a.gr AS BIGINT) AS granule,
        |  CAST(0 AS BIGINT) AS channel,
        |  CAST(2 AS BIGINT) AS block_type,
        |  CAST(a.npairs AS BIGINT) AS big_values,
        |  CAST(210 + 4*a.g AS BIGINT) AS global_gain,
        |  CAST(pb.b + qb.b AS BIGINT) AS part2_3_length,
        |  ft.nnz AS n_nonzero,
        |  ft.sum_abs AS sum_abs_micro,
        |  ft.wsum AS checksum_micro
        |FROM par a
        |JOIN pbits pb USING (doc_id, f, gr)
        |JOIN qbits qb USING (doc_id, f, gr)
        |JOIN feat ft USING (doc_id, f, gr)
        |ORDER BY media_id, frame_idx, granule""".stripMargin) { (s, dir) =>
      graft.multimodal.Multimodal.extractMp3SpectraTyped(
        graft.multimodal.Multimodal.synthesizeMp3CodedMixed(
          Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id", "frame_idx", "granule")
    },

    // SFT BATCH CONSTRUCTION — preference pairs packed into masked
    // training chunks, the composition q358 + q364 + q365 exists for:
    // each prompt's (chosen) pair becomes a two-segment SFT document
    // (prompt tokens mask FALSE — no loss — then the chosen
    // completion's tokens mask TRUE), and the segment table packs
    // through packChunksMultimodal with the mask riding as the carried
    // label. Token counts are text-derived (the prompt's own doc and
    // the CHOSEN candidate's doc), so the argmax of q358's score recipe
    // decides which token counts enter the stream — a tie-break drift
    // shifts every downstream chunk.
    Q(
      "q371_sft_batches",
      """WITH c AS (SELECT doc_id // 4 AS prompt_id, doc_id AS cand,
        |    CASE WHEN (doc_id // 4) % 2 = 0 THEN (doc_id * 37 + 11) % 100
        |         ELSE (doc_id * 3) % 6 END AS score
        |  FROM documents),
        |r1 AS (SELECT *,
        |    row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY score DESC, cand) AS rb,
        |    row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY score, cand DESC) AS rw,
        |    count(*) OVER (PARTITION BY prompt_id) AS n FROM c),
        |pairs AS (
        |  SELECT b.prompt_id, b.cand AS chosen
        |  FROM (SELECT * FROM r1 WHERE rb = 1) b
        |  JOIN (SELECT * FROM r1 WHERE rw = 1) w USING (prompt_id)
        |  WHERE b.n >= 2 AND b.score > w.score),
        |tk AS (SELECT doc_id,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x != '')) AS n
        |  FROM documents),
        |segs AS (
        |  SELECT p.prompt_id, 0 AS seg, FALSE AS mask, t.n
        |  FROM pairs p JOIN tk t ON t.doc_id = 4 * p.prompt_id
        |  UNION ALL
        |  SELECT p.prompt_id, 1, TRUE, t.n
        |  FROM pairs p JOIN tk t ON t.doc_id = p.chosen),
        |o AS (SELECT prompt_id, seg, mask, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY prompt_id, seg
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM segs),
        |p AS (SELECT prompt_id, seg, mask, n, off, c.c AS chunk_id
        |  FROM o, unnest(generate_series(off // 512, (off + n - 1) // 512)) AS c(c)
        |  WHERE n > 0)
        |SELECT CAST(chunk_id AS BIGINT) AS chunk_id, prompt_id,
        |  CAST(seg AS BIGINT) AS seg, mask,
        |  CAST(GREATEST(off - chunk_id * 512, 0) AS BIGINT) AS chunk_offset,
        |  CAST(LEAST(off + n, (chunk_id + 1) * 512)
        |    - GREATEST(off, chunk_id * 512) AS BIGINT) AS piece_len
        |FROM p ORDER BY chunk_id, prompt_id, seg""".stripMargin) { (s, dir) =>
      import graft.operators.{Preference, SequencePack}
      import graft.text.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
      val pairs = Preference.preferencePairs(
        docs.select(
          expr("doc_id div 4").as("prompt_id"),
          col("doc_id").as("cand"),
          when(expr("(doc_id div 4) % 2 = 0"), (col("doc_id") * 37 + 11) % 100)
            .otherwise((col("doc_id") * 3) % 6).cast("long").as("score")),
        "prompt_id", "cand", "score")
      val tk = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      val segs = pairs
        .join(tk, tk("doc_id") === pairs("prompt_id") * 4)
        .select(col("prompt_id"), lit(0L).as("seg"), lit(false).as("mask"), col("n"))
        .unionByName(pairs
          .join(tk, tk("doc_id") === pairs("chosen"))
          .select(col("prompt_id"), lit(1L).as("seg"), lit(true).as("mask"),
            col("n")))
      SequencePack.packChunksMultimodal(
        segs, "prompt_id", "seg", "mask", "n", seqLen = 512L)
        .select(col("chunk_id"), col("prompt_id"), col("seg"),
          col("mask"), col("chunk_offset"), col("piece_len"))
        .orderBy("chunk_id", "prompt_id", "seg")
    },

    // ANNEALED (TWO-PHASE) MIXTURE (operators.Mixture.interleaveAnnealed)
    // — the end-of-training schedule: the run consumes 3000 tokens under
    // the base weights (en 8 / de 4 / fr 3 / es 2 / zh 1), then the
    // REMAINDER reschedules under anneal weights that upweight the
    // low-resource sources (en 1 / de 1 / fr 2 / es 2 / zh 4). Phase
    // membership is prefix-closed (a doc is phase 1 iff its exclusive
    // token cumulative under the phase-1 schedule starts before the
    // boundary — the straddler finishes in phase 1), and phase-2
    // positions land after the phase-1 block. The oracle replays both
    // WFQ schedules, the boundary rule, and the position offset.
    Q(
      "q372_mixture_anneal",
      """WITH t AS (SELECT doc_id, lang,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x != '')) AS n
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY doc_id)
        |    AS rk FROM t),
        |v AS (SELECT *, rk * CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 6
        |    WHEN 'fr' THEN 8 WHEN 'es' THEN 12 ELSE 24 END AS vt FROM r),
        |s1 AS (SELECT *, row_number() OVER (ORDER BY vt, lang, doc_id) - 1
        |    AS pos1 FROM v),
        |c AS (SELECT *, coalesce(sum(n) OVER (ORDER BY pos1
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM s1),
        |p1 AS (SELECT doc_id, lang, n, pos1 FROM c WHERE cum < 3000),
        |p2in AS (SELECT doc_id, lang, n FROM c WHERE cum >= 3000),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY doc_id)
        |    AS rk2 FROM p2in),
        |v2 AS (SELECT *, rk2 * CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 4
        |    WHEN 'fr' THEN 2 WHEN 'es' THEN 2 ELSE 1 END AS vt2 FROM r2),
        |s2 AS (SELECT *, row_number() OVER (ORDER BY vt2, lang, doc_id) - 1
        |    AS pos2 FROM v2),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM p1)
        |SELECT CAST(pos1 AS BIGINT) AS position, CAST(1 AS INT) AS phase,
        |  lang, doc_id, CAST(n AS BIGINT) AS n_tokens
        |FROM p1
        |UNION ALL
        |SELECT CAST(pos2 + n1 AS BIGINT), CAST(2 AS INT), lang, doc_id,
        |  CAST(n AS BIGINT)
        |FROM s2 CROSS JOIN cnt
        |ORDER BY position""".stripMargin) { (s, dir) =>
      import graft.text.TextAnalysis
      graft.operators.Mixture.interleaveAnnealed(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "lang", "doc_id", "n_tokens",
        weights1 = Seq("en" -> 8L, "de" -> 4L, "fr" -> 3L, "es" -> 2L, "zh" -> 1L),
        weights2 = Seq("en" -> 1L, "de" -> 1L, "fr" -> 2L, "es" -> 2L, "zh" -> 4L),
        phase1Tokens = 3000L)
        .select(col("position"), col("phase"), col("lang"), col("doc_id"),
          col("n_tokens"))
        .orderBy("position")
    },

    // DATA-CONSTRAINED EPOCH UPSAMPLING (operators.Mixture
    // .upsampleEpochs ∘ interleave) — low-resource sources repeat for
    // several epochs to hold their mixture share (en ×1, de ×2, fr ×2,
    // es ×3, zh ×4): each doc explodes into epoch-tagged copies, the
    // WFQ schedule runs over the (epoch-major, doc) order, so a
    // source's epoch-1 copies land after ALL its epoch-0 documents
    // while the cross-source ±1 fairness still holds at every prefix.
    // The oracle replays the explode and both windows.
    Q(
      "q373_epoch_upsample",
      """WITH rep AS (SELECT doc_id, lang, e.e AS epoch
        |  FROM documents, unnest(generate_series(0,
        |    CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1 WHEN 'fr' THEN 1
        |      WHEN 'es' THEN 2 ELSE 3 END)) AS e(e)),
        |r AS (SELECT *, epoch * 10000000 + doc_id AS ord,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY epoch * 10000000 + doc_id) AS rk
        |  FROM rep),
        |v AS (SELECT *, rk * CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 6
        |    WHEN 'fr' THEN 8 WHEN 'es' THEN 12 ELSE 24 END AS vt FROM r)
        |SELECT CAST(row_number() OVER (ORDER BY vt, lang, ord) - 1 AS BIGINT)
        |    AS position,
        |  lang, doc_id, CAST(epoch AS BIGINT) AS epoch,
        |  CAST(rk AS BIGINT) AS src_rank
        |FROM v ORDER BY position""".stripMargin) { (s, dir) =>
      import graft.operators.Mixture
      val up = Mixture.upsampleEpochs(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang",
        Seq("en" -> 1L, "de" -> 2L, "fr" -> 2L, "es" -> 3L, "zh" -> 4L))
        .withColumn("ord", col("epoch") * 10000000L + col("doc_id"))
      Mixture.interleave(up, "lang", "ord",
        Seq("en" -> 8L, "de" -> 4L, "fr" -> 3L, "es" -> 2L, "zh" -> 1L))
        .select(col("position"), col("lang"), col("doc_id"), col("epoch"),
          col("src_rank"))
        .orderBy("position")
    },

    // WHOLE-DOCUMENT BIN PACKING (operators.SequencePack.packWholeDocs)
    // — the no-split packer for runs that forbid cross-document
    // attention: every doc lands INTACT in one bin of 256 tokens.
    // Exact first-fit is sequential, so this is the HARMONIC algorithm
    // (Lee & Lee 1985): docs class by bin_cap = 256 div n and each
    // class fills bins bin_cap docs at a time — fill > 256·c/(c+1)
    // guaranteed, zero sequential state. One global rank over
    // (class, id) minus a broadcast #classes offset table — a single
    // range exchange, never a per-class window. The oracle replays the
    // classing and both quotients.
    Q(
      "q374_pack_whole_docs",
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x != '')) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n, 256 // n AS bin_cap FROM t WHERE n > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY bin_cap
        |    ORDER BY doc_id) - 1 AS cr FROM c)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(bin_cap AS BIGINT) AS bin_cap,
        |  CAST(cr // bin_cap AS BIGINT) AS bin,
        |  CAST(cr % bin_cap AS BIGINT) AS slot
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.text.TextAnalysis
      graft.operators.SequencePack.packWholeDocs(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 256L)
        .orderBy("doc_id")
    },

    // INCREMENTAL PIECE STORE (operators.PieceStore) — the production
    // loop around sequence packing: documents arrive in batches, and
    // the training-sequence index GROWS at the stream tail instead of
    // repacking the corpus. Two halves of the corpus append in order
    // (the second packs at the first's recorded token total, so the
    // boundary chunk holds pieces from BOTH batches), the store
    // re-reads cold, and the result must equal the whole-corpus q356
    // oracle row for row — chunk ids, offsets, and piece lengths
    // continue seamlessly across the append boundary.
    Q(
      "q375_piece_store",
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x != '')) AS n
        |  FROM documents),
        |o AS (SELECT doc_id, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM t),
        |p AS (SELECT doc_id, n, off, c.c AS chunk_id
        |  FROM o, unnest(generate_series(off // 512, (off + n - 1) // 512)) AS c(c)
        |  WHERE n > 0)
        |SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
        |  CAST(GREATEST(chunk_id * 512 - off, 0) AS BIGINT) AS doc_from,
        |  CAST(GREATEST(off - chunk_id * 512, 0) AS BIGINT) AS chunk_offset,
        |  CAST(LEAST(off + n, (chunk_id + 1) * 512)
        |    - GREATEST(off, chunk_id * 512) AS BIGINT) AS piece_len
        |FROM p ORDER BY chunk_id, doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.PieceStore
      import graft.text.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .persist()
      val mm = docs.agg(min("doc_id"), max("doc_id")).head()
      val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val root = s"target/q375_piecestore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      PieceStore.appendBatch(docs.filter(col("doc_id") <= mid),
        "doc_id", "n_tokens", seqLen = 512L, root, "b0")
      PieceStore.appendBatch(docs.filter(col("doc_id") > mid),
        "doc_id", "n_tokens", seqLen = 512L, root, "b1")
      // replay batch 0 AFTER batch 1 landed: must re-pack at its
      // RECORDED offset, leaving the table unchanged
      PieceStore.appendBatch(docs.filter(col("doc_id") <= mid),
        "doc_id", "n_tokens", seqLen = 512L, root, "b0")
      docs.unpersist()
      PieceStore.pieces(s, root).orderBy("chunk_id", "doc_id")
    },

    // PIECE-STORE DELETES + GENERATION REPACK (operators.PieceStore) —
    // the takedown lifecycle for a PACKED stream: deletes cannot shrink
    // it in place (every later offset would shift), so tombstoned docs
    // mask OUT of the query view with chunk ids and offsets UNCHANGED
    // (their pieces become loader padding), and reclaiming the space is
    // an explicit NEW GENERATION packed from the survivors — whose
    // token counts come from the piece table itself (sum of piece
    // lengths), no document re-read. The gate emits BOTH views: 'live'
    // must equal the original pack minus the tombstoned docs' rows,
    // 'gen' must equal a from-scratch pack of the survivors.
    Q(
      "q376_piece_tombstones",
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x != '')) AS n
        |  FROM documents),
        |o AS (SELECT doc_id, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM t),
        |p AS (SELECT doc_id, n, off, c.c AS chunk_id
        |  FROM o, unnest(generate_series(off // 512, (off + n - 1) // 512)) AS c(c)
        |  WHERE n > 0),
        |live AS (SELECT 'live' AS view_tag,
        |    CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
        |    CAST(GREATEST(chunk_id * 512 - off, 0) AS BIGINT) AS doc_from,
        |    CAST(GREATEST(off - chunk_id * 512, 0) AS BIGINT) AS chunk_offset,
        |    CAST(LEAST(off + n, (chunk_id + 1) * 512)
        |      - GREATEST(off, chunk_id * 512) AS BIGINT) AS piece_len
        |  FROM p WHERE doc_id % 9 <> 4),
        |o2 AS (SELECT doc_id, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM t WHERE doc_id % 9 <> 4 AND n > 0),
        |p2 AS (SELECT doc_id, n, off, c.c AS chunk_id
        |  FROM o2, unnest(generate_series(off // 512, (off + n - 1) // 512)) AS c(c)),
        |gen AS (SELECT 'gen' AS view_tag,
        |    CAST(chunk_id AS BIGINT), doc_id,
        |    CAST(GREATEST(chunk_id * 512 - off, 0) AS BIGINT),
        |    CAST(GREATEST(off - chunk_id * 512, 0) AS BIGINT),
        |    CAST(LEAST(off + n, (chunk_id + 1) * 512)
        |      - GREATEST(off, chunk_id * 512) AS BIGINT)
        |  FROM p2)
        |SELECT * FROM live UNION ALL SELECT * FROM gen
        |ORDER BY view_tag, chunk_id, doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.PieceStore
      import graft.text.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .persist()
      val mm = docs.agg(min("doc_id"), max("doc_id")).head()
      val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val root = s"target/q376_piecestore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val gen = s"${root}_gen"
      for (d <- Seq(root, gen)) {
        val p = new org.apache.hadoop.fs.Path(d)
        val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fsys.exists(p)) fsys.delete(p, true)
      }
      PieceStore.appendBatch(docs.filter(col("doc_id") <= mid),
        "doc_id", "n_tokens", seqLen = 512L, root, "b0")
      PieceStore.appendBatch(docs.filter(col("doc_id") > mid),
        "doc_id", "n_tokens", seqLen = 512L, root, "b1")
      PieceStore.appendTombstones(
        docs.filter(col("doc_id") % 9 === 4).select(col("doc_id")),
        "doc_id", root, "t0")
      PieceStore.repackGeneration(s, root, gen, "doc_id", seqLen = 512L)
      docs.unpersist()
      PieceStore.livePieces(s, root, "doc_id")
        .select(lit("live").as("view_tag"), col("chunk_id"), col("doc_id"),
          col("doc_from"), col("chunk_offset"), col("piece_len"))
        .unionByName(PieceStore.pieces(s, gen)
          .select(lit("gen").as("view_tag"), col("chunk_id"), col("doc_id"),
            col("doc_from"), col("chunk_offset"), col("piece_len")))
        .orderBy("view_tag", "chunk_id", "doc_id")
    })
}
