package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 gates. The round COMPOSES the surfaces round 14 proved in
  * isolation: the mixture SCHEDULE packs through the incremental piece
  * store under a position-epoch fence (q377), and the multimodal crawl
  * capstone runs CDX revisit resolution → WebDataset shard assembly →
  * quality → exact dedup → image patch grids → per-language budgets →
  * WFQ mixture → multimodal pack → loss-mask spans as ONE oracle-gated
  * pipeline (q378). The Layer III joint-stereo surface closes
  * completely: intensity+MS combined, mode_extension 3 (q379),
  * mixed-flag start/stop granules (q380), and short-block intensity
  * with its per-window bound search (q383). The IVF+PQ store gains a
  * churned-store recall gate (q381) and the refit-generation
  * maintenance path whose oracle retrains on survivors only (q382);
  * q385 closes the last seam by running the WHOLE production loop —
  * crawl intake through the incremental piece store.
  */
object Round15Queries {

  /** The position-epoch fence stride for schedule feeds: batch k's
    * scheduled ids are k·F + position, so every batch's ids exceed the
    * previous batch's (the [[graft.operators.PieceStore]] monotonicity
    * contract) as long as no batch schedules F or more documents.
    */
  val ScheduleFence: Long = 1000000000L

  /** The multimodal capstone's curation stages 0–5 (shared by q378 and
    * q385): crawl intake with revisits → resolution → WebDataset shard
    * roundtrip → quality → exact dedup → BMP patch grids → per-language
    * budgets. Returns every stage frame (for the survivor counts) plus
    * `kept` carrying the per-segment and TOTAL token counts.
    */
  private final case class CapstoneStages(
      cdx: DataFrame, resolved: DataFrame, samples: DataFrame,
      qual: DataFrame, ex: DataFrame, kept: DataFrame)

  private def capstoneStages(s: SparkSession, dir: String): CapstoneStages = {
    import graft.operators.{SequencePack, TokenBudget}
    import graft.text.TextAnalysis
    val docs = Tables.load(s, dir, "documents")
    // STAGE 0 — crawl intake: CDX index over archives where 3 of
    // every 4 captures are revisit records of the group's stored body
    // NOTE (r16): a Lineage.pin here (and on `samples`) was tried for
    // plan truncation and measured WORSE (q378 5.97 → 7.35 s, q385 7.55
    // → 8.57 s same-window A/B): these rows carry full archive/sample
    // text, and a row-copy localCheckpoint stores them far fatter than
    // the columnar cache. persist() stays.
    val cdx = graft.ingest.Warc.cdxIndex(
      graft.ingest.Warc.synthesizeWarcRevisits(docs, "doc_id")).persist()
    // STAGE 1 — revisit resolution: each revisit joins its stored
    // original (ONE digest equi-join against the pre-reduced,
    // broadcastable original table)
    val resolved = graft.ingest.Warc.resolveRevisits(cdx)
      .filter(col("resolved")).persist()
    val captures = cdx.filter(!col("is_revisit"))
      .select(col("media_id"), col("media_id").as("body_id"))
      .unionByName(resolved
        .select(col("media_id"), col("orig_media_id").as("body_id")))
    // the capture FEED re-serves the RESOLVED body's document — the
    // duplicates the dedup stage consumes come from the crawl's own
    // revisit structure, not a synthesized twin
    val feed = captures.join(
      docs.select(col("doc_id").as("body_id"), col("text"), col("lang"),
        col("source")),
      Seq("body_id"))
    // STAGE 2 — WebDataset shard assembly + parse-back: downstream
    // reads the PARSED txt/cls, so the tar leg is load-bearing
    val samples = graft.ingest.Tar.samples(graft.ingest.Tar.synthesizeShards(
      feed.select(col("media_id"), col("text"), col("lang"), col("source")),
      "media_id"))
      .select(col("stem").cast("long").as("doc_id"), col("txt"), col("cls"))
      .persist()
    // STAGE 3 — quality gate (score recipe + token floor). Persisted:
    // the exact-dedup join reads qual on BOTH sides and the stage-count
    // branch a third time — uncached each re-runs the tokenCount regexp
    val enriched = samples
      .withColumn("n_text", TextAnalysis.tokenCount(col("txt")).cast("long"))
      .withColumn("q", ((col("doc_id") * 37 + 5) % 1000).cast("long"))
    val qual = enriched.filter(col("n_text") >= 5 && col("q") >= 100).persist()
    // STAGE 4 — exact dedup, keep-min-id per content hash: the
    // revisit groups collapse HERE, on the re-served bytes
    val ex = qual.join(
      qual.groupBy(md5(col("txt")).as("_h")).agg(min("doc_id").as("_keep")),
      md5(col("txt")) === col("_h") && col("doc_id") === col("_keep"))
      .drop("_h", "_keep")
      .persist()
    // image leg: survivors' BMPs through the REAL decode → ceil
    // patch-grid placeholder tokens
    val dims = graft.multimodal.Multimodal.extractBmpFeatures(
      graft.multimodal.Multimodal.synthesizeBmpVar(
        ex.select(col("doc_id")), "doc_id"))
      .select(col("media_id").as("doc_id"),
        SequencePack.imagePlaceholderTokens(col("width"), col("height"), 8)
          .as("n_img"))
    val withSegs = ex.join(dims, Seq("doc_id"))
      .withColumn("n_cap", ((col("doc_id") * 13 + 7) % 40).cast("long"))
      .withColumn("n_total", col("n_text") + col("n_img") + col("n_cap"))
    // STAGE 5 — per-language token budgets over the doc's TOTAL
    // (text + image placeholder + caption) tokens, best-quality-first
    // `kept` is SLIM (six numeric/short columns, budget-bounded rows) —
    // a pin (localCheckpoint) instead of persist() truncates the plan
    // under the whole mixture/pack/store tail, whose many small driver
    // actions were each re-analyzing the full seven-stage lineage
    // (cheap to checkpoint here, unlike the text-carrying stages above)
    val kept = graft.operators.Lineage.pin(TokenBudget.selectUnderBudget(
      withSegs, "cls", "q", "doc_id", "n_total",
      Seq("en" -> 2000L, "de" -> 800L, "fr" -> 700L, "es" -> 600L,
        "zh" -> 500L))
      .filter(col("kept"))
      .select(col("doc_id"), col("cls"), col("n_text"), col("n_img"),
        col("n_cap"), col("n_total")))
    CapstoneStages(cdx, resolved, samples, qual, ex, kept)
  }

  /** The shared capstone oracle prefix — stages 0–5 closed-form, ending
    * at the WFQ `pos` CTE (cap_id, n_text, n_img, n_cap, position).
    */
  private val CapstoneOracleStages: String =
    """caps AS (
      |  SELECT doc_id AS cap_id, 4 * (doc_id // 4) AS body FROM documents),
      |feed AS (
      |  SELECT c.cap_id, b.text AS text, b.lang AS lang
      |  FROM caps c JOIN documents b ON b.doc_id = c.body),
      |enr AS (
      |  SELECT cap_id, lang,
      |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |      x -> x != '')) AS n_text,
      |    md5(text) AS h,
      |    (cap_id * 37 + 5) % 1000 AS q
      |  FROM feed),
      |qual AS (SELECT * FROM enr WHERE n_text >= 5 AND q >= 100),
      |ex AS (SELECT cap_id, lang, n_text, q FROM (
      |    SELECT *, min(cap_id) OVER (PARTITION BY h) AS keep FROM qual)
      |  WHERE cap_id = keep),
      |tot AS (SELECT *,
      |    ((10 + 7*(cap_id % 4) + 7) // 8) * ((6 + 5*(cap_id % 3) + 7) // 8)
      |      AS n_img,
      |    (cap_id * 13 + 7) % 40 AS n_cap
      |  FROM ex),
      |bud AS (SELECT *, n_text + n_img + n_cap AS n_total,
      |    coalesce(sum(n_text + n_img + n_cap) OVER (PARTITION BY lang
      |      ORDER BY q DESC, cap_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM tot),
      |kept AS (SELECT * FROM bud WHERE cb + n_total <=
      |    CASE lang WHEN 'en' THEN 2000 WHEN 'de' THEN 800 WHEN 'fr' THEN 700
      |      WHEN 'es' THEN 600 ELSE 500 END),
      |mr AS (SELECT *, row_number() OVER (PARTITION BY lang
      |    ORDER BY cap_id) AS rk FROM kept),
      |mv AS (SELECT *, rk * CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 6
      |    WHEN 'fr' THEN 8 WHEN 'es' THEN 12 ELSE 24 END AS vt FROM mr),
      |pos AS (SELECT cap_id, n_text, n_img, n_cap,
      |    row_number() OVER (ORDER BY vt, lang, cap_id) - 1 AS position
      |  FROM mv)""".stripMargin

  def all: Seq[Q] = Seq(

    // SCHEDULE-THROUGH-PIECE-STORE (operators.Mixture ∘ PieceStore) —
    // the production loader shape q375 dodged: a training run consumes
    // the MIXTURE order, incrementally. Each arriving corpus batch
    // interleaves under the WFQ weights on its own, and its schedule
    // packs AT THE STREAM TAIL keyed by the POSITION-EPOCH FENCE id
    // (batch·F + position) — the construction that satisfies the
    // store's id-monotonicity guard when per-batch positions restart
    // at 0. The store state COMPACTS between the appends and batch 0
    // replays after batch 1 landed; the final piece table must equal a
    // whole-corpus pack of the full fenced schedule — the q375
    // equality one level up, now over the schedule rather than doc-id
    // order.
    Q(
      "q377_schedule_pack",
      """WITH t AS (SELECT doc_id, lang,
        |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |      x -> x != '')) AS n,
        |    CASE WHEN doc_id <= (SELECT min(doc_id)
        |        + (max(doc_id) - min(doc_id)) // 2 FROM documents)
        |      THEN 0 ELSE 1 END AS b
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY b, lang
        |    ORDER BY doc_id) AS sr FROM t),
        |v AS (SELECT *, sr * CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 6
        |    WHEN 'fr' THEN 8 WHEN 'es' THEN 12 ELSE 24 END AS vt FROM r),
        |s AS (SELECT *, b * 1000000000 + row_number() OVER (PARTITION BY b
        |    ORDER BY vt, lang, doc_id) - 1 AS sid FROM v),
        |o AS (SELECT sid, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY sid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM s),
        |p AS (SELECT sid, n, off, c.c AS chunk_id
        |  FROM o, unnest(generate_series(off // 512, (off + n - 1) // 512)) AS c(c)
        |  WHERE n > 0)
        |SELECT CAST(chunk_id AS BIGINT) AS chunk_id, CAST(sid AS BIGINT) AS sid,
        |  CAST(GREATEST(chunk_id * 512 - off, 0) AS BIGINT) AS doc_from,
        |  CAST(GREATEST(off - chunk_id * 512, 0) AS BIGINT) AS chunk_offset,
        |  CAST(LEAST(off + n, (chunk_id + 1) * 512)
        |    - GREATEST(off, chunk_id * 512) AS BIGINT) AS piece_len
        |FROM p ORDER BY chunk_id, sid""".stripMargin) { (s, dir) =>
      import graft.operators.{Mixture, PieceStore}
      import graft.text.TextAnalysis
      val weights = Seq("en" -> 8L, "de" -> 4L, "fr" -> 3L, "es" -> 2L, "zh" -> 1L)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .persist()
      val mm = docs.agg(min("doc_id"), max("doc_id")).head()
      val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      def scheduled(k: Int) = {
        val b = if (k == 0) docs.filter(col("doc_id") <= mid)
        else docs.filter(col("doc_id") > mid)
        Mixture.interleave(b, "lang", "doc_id", weights)
          .select((lit(k * ScheduleFence) + col("position")).as("sid"),
            col("n_tokens"))
      }
      val root = s"target/q377_schedstore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      PieceStore.appendBatch(scheduled(0), "sid", "n_tokens", 512L, root, "s0")
      // state compaction between appends: the fold must stay invisible
      // to the tail, the guard, and the replay below
      PieceStore.compactState(s, root, "f0")
      PieceStore.appendBatch(scheduled(1), "sid", "n_tokens", 512L, root, "s1")
      // replay batch 0 AFTER batch 1 landed and the state folded: must
      // re-pack at its RECORDED offset, leaving the table unchanged
      PieceStore.appendBatch(scheduled(0), "sid", "n_tokens", 512L, root, "s0")
      docs.unpersist()
      PieceStore.pieces(s, root).orderBy("chunk_id", "sid")
    },

    // MULTIMODAL CRAWL CAPSTONE — ONE oracle-gated pipeline from a
    // revisit-bearing crawl index to loader-ready loss-mask spans,
    // composing eight surfaces the unit gates prove in isolation:
    // CDX index over revisit archives (q349) → revisit RESOLUTION
    // (q350 — the intake's duplicates come from the crawl's own
    // re-serves, not a synthesized feed) → WebDataset tar shard
    // assembly + parse-back (q338 — downstream reads the PARSED
    // txt/cls, so a tar drift lands off the hash) → quality gate →
    // exact dedup keep-min-id (consuming the resolved re-serves) →
    // BMP patch-grid placeholder tokens (q364's real decode) →
    // per-language token budgets over TOTAL (text+image+caption)
    // tokens (q360) → WFQ mixture (q357) → multimodal pack + LOSS-MASK
    // SPANS in schedule order (q364/q365 via lossMaskSpansMultimodal —
    // mask false on image placeholder runs). Output = per-stage
    // survivor counts plus the final span table; any schema or
    // survivorship drift between stages lands off the hash.
    Q(
      "q378_multimodal_capstone",
      "WITH " + CapstoneOracleStages + ",\n" +
      """segs AS (
        |  SELECT position, cap_id, 0 AS seg, 'text' AS modality,
        |    n_text AS nt, TRUE AS m FROM pos
        |  UNION ALL SELECT position, cap_id, 1, 'image', n_img, FALSE FROM pos
        |  UNION ALL SELECT position, cap_id, 2, 'text', n_cap, TRUE FROM pos),
        |o AS (SELECT *, CAST(coalesce(sum(nt) OVER (ORDER BY position, seg
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM segs),
        |p AS (SELECT position, cap_id, seg, modality, m, nt, off, c.c AS chunk_id
        |  FROM o, unnest(generate_series(off // 256, (off + nt - 1) // 256)) AS c(c)
        |  WHERE nt > 0),
        |spans AS (SELECT '6_spans' AS stage, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    cap_id AS doc_id, CAST(seg AS BIGINT) AS seg, modality,
        |    CAST(GREATEST(off - chunk_id * 256, 0) AS BIGINT) AS span_offset,
        |    CAST(LEAST(off + nt, (chunk_id + 1) * 256)
        |      - GREATEST(off, chunk_id * 256) AS BIGINT) AS span_len,
        |    m AS mask
        |  FROM p),
        |ttl AS (SELECT CAST(sum(nt) AS BIGINT) AS total FROM segs),
        |pad AS (SELECT '6_spans', CAST((total - 1) // 256 AS BIGINT),
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |    CAST(total - ((total - 1) // 256) * 256 AS BIGINT),
        |    CAST(((total - 1) // 256 + 1) * 256 - total AS BIGINT), FALSE
        |  FROM ttl WHERE total > 0 AND total % 256 <> 0),
        |counts AS (
        |  SELECT '0_captures' AS stage, CAST(-1 AS BIGINT) AS chunk_id,
        |    CAST(count(*) AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS seg,
        |    CAST(NULL AS VARCHAR) AS modality, CAST(0 AS BIGINT) AS span_offset,
        |    CAST(0 AS BIGINT) AS span_len, FALSE AS mask FROM caps
        |  UNION ALL SELECT '1_revisits_resolved', -1, count(*), 0, NULL, 0, 0,
        |    FALSE FROM caps WHERE cap_id % 4 <> 0
        |  UNION ALL SELECT '2_shard_samples', -1, count(*), 0, NULL, 0, 0,
        |    FALSE FROM feed
        |  UNION ALL SELECT '3_quality', -1, count(*), 0, NULL, 0, 0, FALSE
        |    FROM qual
        |  UNION ALL SELECT '4_exact_dedup', -1, count(*), 0, NULL, 0, 0, FALSE
        |    FROM ex
        |  UNION ALL SELECT '5_budget', -1, count(*), 0, NULL, 0, 0, FALSE
        |    FROM kept)
        |SELECT * FROM counts
        |UNION ALL SELECT * FROM spans
        |UNION ALL SELECT * FROM pad
        |ORDER BY stage, chunk_id, span_offset""".stripMargin) { (s, dir) =>
      import graft.operators.{Mixture, SequencePack}
      val st = capstoneStages(s, dir)
      // STAGE 6 — WFQ mixture, then multimodal pack + loss-mask spans
      // in SCHEDULE order; the doc key is (position, doc_id) as ONE
      // struct so the id rides the pack without a join back
      val sched = Mixture.interleave(st.kept, "cls", "doc_id",
        Seq("en" -> 8L, "de" -> 4L, "fr" -> 3L, "es" -> 2L, "zh" -> 1L))
      val key = struct(col("position"), col("doc_id")).as("pdoc")
      def segOf(seg: Long, modality: String, nCol: String, loss: Boolean) =
        sched.select(key, lit(seg).as("seg"), lit(modality).as("modality"),
          col(nCol).as("nt"), lit(loss).as("is_loss"))
      val segs = segOf(0L, "text", "n_text", loss = true)
        .unionByName(segOf(1L, "image", "n_img", loss = false))
        .unionByName(segOf(2L, "text", "n_cap", loss = true))
      val spans = SequencePack.lossMaskSpansMultimodal(
        segs, "pdoc", "seg", "modality", "is_loss", "nt", seqLen = 256L)
        .select(lit("6_spans").as("stage"), col("chunk_id"),
          col("pdoc.doc_id").as("doc_id"), col("seg"), col("modality"),
          col("span_offset"), col("span_len"), col("mask"))
      def stageCount(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("_n")).select(lit(name).as("stage"),
          lit(-1L).as("chunk_id"), col("_n").as("doc_id"), lit(0L).as("seg"),
          lit(null).cast("string").as("modality"), lit(0L).as("span_offset"),
          lit(0L).as("span_len"), lit(false).as("mask"))
      stageCount("0_captures", st.cdx)
        .unionByName(stageCount("1_revisits_resolved", st.resolved))
        .unionByName(stageCount("2_shard_samples", st.samples))
        .unionByName(stageCount("3_quality", st.qual))
        .unionByName(stageCount("4_exact_dedup", st.ex))
        .unionByName(stageCount("5_budget", st.kept))
        .unionByName(spans)
        .orderBy("stage", "chunk_id", "span_offset")
    },

    // INTENSITY+MS COMBINED JOINT STEREO (Mp3Codec mode_extension 3) —
    // the last closed-form joint-stereo rejection real music hit: BOTH
    // reconstruction modes in one granule, split at the intensity
    // bound (ch1's last coded line rounded up to a band boundary).
    // BELOW the bound the channels matrix L = (M+S)/√2, R = (M−S)/√2
    // (q359's micro-rounding discipline); AT/ABOVE it ch0's lines pan
    // by is_pos (q363's bound/band/alphabet algebra) — and the ILLEGAL
    // position 7 now falls back to MS instead of pass-through, the
    // §2.4.3.4.9.3 rule that distinguishes combined from pure
    // intensity on the same bits. The synthesizer is byte-identical to
    // q363's except the header's mode_extension, so the decode-side
    // routing is the entire surface under test.
    Q(
      "q379_mp3_intensity_ms",
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
        |bands AS (SELECT * FROM (VALUES (0, 0, 4), (1, 4, 8), (2, 8, 12),
        |    (3, 12, 16), (4, 16, 20), (5, 20, 24), (6, 24, 30), (7, 30, 36),
        |    (8, 36, 44), (9, 44, 52), (10, 52, 62), (11, 62, 74),
        |    (12, 74, 90)) AS t(band, st, en)),
        |rz AS (
        |  SELECT doc_id, f, gr,
        |    coalesce(max(CASE WHEN ch = 1 AND mag = 1 THEN line END) + 1, 0)
        |      AS rzero
        |  FROM lines GROUP BY doc_id, f, gr),
        |bnd AS (
        |  SELECT doc_id, f, gr, min(st) AS bound
        |  FROM rz JOIN bands ON st >= rzero
        |  GROUP BY doc_id, f, gr),
        |spec AS (SELECT doc_id, f, gr, ch, line,
        |    mag * (1 - 2*s) * power(2.0, a.g) AS v
        |  FROM lines JOIN par a USING (doc_id, f, gr, ch)
        |  WHERE mag > 0),
        |merged AS (
        |  SELECT coalesce(m.doc_id, s.doc_id) AS doc_id,
        |    coalesce(m.f, s.f) AS f, coalesce(m.gr, s.gr) AS gr,
        |    coalesce(m.line, s.line) AS line,
        |    coalesce(m.v, 0) AS mv, coalesce(s.v, 0) AS sv
        |  FROM (SELECT * FROM spec WHERE ch = 0) m
        |  FULL OUTER JOIN (SELECT * FROM spec WHERE ch = 1) s
        |    ON m.doc_id = s.doc_id AND m.f = s.f AND m.gr = s.gr
        |    AND m.line = s.line),
        |-- per line: which reconstruction — 7 encodes "MS" (below the
        |-- bound, illegal alphabet pick, or the no-is_pos zone)
        |ip AS (
        |  SELECT g.*,
        |    CASE WHEN b.st < bd.bound THEN 7
        |         WHEN b.band < 11 THEN 0
        |         WHEN (g.doc_id + 1000003 + b.band + g.f + g.gr) % 3 = 0 THEN 0
        |         WHEN (g.doc_id + 1000003 + b.band + g.f + g.gr) % 3 = 1 THEN 6
        |         ELSE 7 END AS ispos
        |  FROM merged g
        |  JOIN bands b ON g.line >= b.st AND g.line < b.en
        |  JOIN bnd bd ON bd.doc_id = g.doc_id AND bd.f = g.f AND bd.gr = g.gr),
        |chan AS (
        |  SELECT doc_id, f, gr, 0 AS ch, line,
        |    CASE WHEN ispos = 7 THEN round((mv + sv) / sqrt(2) * 1000000)
        |         WHEN ispos = 6 THEN round(mv * 1000000)
        |         ELSE 0 END AS micro
        |  FROM ip
        |  UNION ALL
        |  SELECT doc_id, f, gr, 1, line,
        |    CASE WHEN ispos = 7 THEN round((mv - sv) / sqrt(2) * 1000000)
        |         WHEN ispos = 0 THEN round(mv * 1000000)
        |         ELSE 0 END
        |  FROM ip),
        |feat AS (SELECT doc_id, f, gr, ch,
        |    CAST(sum(CASE WHEN micro <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
        |    CAST(sum(abs(micro)) AS BIGINT) AS sum_abs,
        |    CAST(sum((line + 1) * micro) AS BIGINT) AS wsum
        |  FROM chan GROUP BY doc_id, f, gr, ch),
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
        |  AND ft.gr = a.gr AND ft.ch = a.ch
        |ORDER BY media_id, frame_idx, granule, channel""".stripMargin) { (s, dir) =>
      graft.multimodal.Multimodal.extractMp3Spectra(
        graft.multimodal.Multimodal.synthesizeMp3CodedIntensityMs(
          Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id", "frame_idx", "granule", "channel")
    },

    // MIXED-FLAG START/STOP MP3 (Mp3Codec block_type 1/3 with
    // mixed_block_flag SET) — the last window-switching bit pattern
    // the decoder rejected. Per ISO 11172-3 §2.4.1.7 the flag means
    // only a WINDOW split for long-family types (subbands 0–1 take the
    // normal window, the rest the block_type's); §2.4.2.7's 17+18
    // mixed scalefactor partition is defined for block_type 2 alone,
    // so the SPECTRAL surface is bit-identical to the unmixed bracket
    // — this gate pins exactly that: the q362 oracle must hold
    // verbatim over streams with the flag set (a decoder that rejects
    // fails outright; one that mis-applies the type-2 mixed layout
    // mis-frames every scalefactor and lands off the hash). The
    // window-routing difference is spec-gated in Mp3Spec (cosines
    // have no SQL form).
    Q(
      "q380_mp3_mixed_start_stop",
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
        graft.multimodal.Multimodal.synthesizeMp3CodedStartStopMixed(
          Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id", "frame_idx", "granule")
    },

    // IVF+PQ RECALL UNDER CHURN (sim.IvfPqStore ∘ IvfPq.adcTopK vs
    // brute L2) — q366 proves delete-CORRECTNESS (incremental ==
    // rebuild) but nothing gated RECALL as the store churns: appends
    // and deletes shift cell occupancy, and an nprobe that was right
    // at fit time decays. The gate churns the store through five
    // phases (two appends → tombstones → COMPACT → a third append →
    // pending tombstones; the post-compaction append must NOT be
    // retro-deleted by the folded tombstones — the live set is
    // NOT(id%7=3 AND id%3<2) AND id%5<>4, and that asymmetry is itself
    // under test), then for three probe vectors compares the store's
    // nProbe=2 ADC top-10 against the exact L2 top-10 over the live
    // corpus. Recall is emitted as (probe_id, n_hits, k) — the oracle
    // replays BOTH rankings closed-form (the full q332 PQ algebra per
    // probe over the survivor set, and the brute fold), so a drift in
    // either side's ranking, the churn lifecycle, or the live-set
    // semantics lands off the hash.
    {
      val live = "NOT (r.vec_id % 7 = 3 AND r.vec_id % 3 < 2) AND r.vec_id % 5 <> 4"
      val probeIds = Seq(0L, 11L, 23L)
      def bruteSql(p: Long): String =
        s"""SELECT vec_id FROM (
           |    SELECT e.vec_id,
           |      list_aggregate(list_transform(generate_series(1, 64),
           |        i -> (e.embedding[i]::DOUBLE - q.pe[i]::DOUBLE)
           |           * (e.embedding[i]::DOUBLE - q.pe[i]::DOUBLE)), 'sum') AS d
           |    FROM embeddings e CROSS JOIN
           |      (SELECT embedding AS pe FROM embeddings WHERE vec_id = $p) q
           |    WHERE NOT (e.vec_id % 7 = 3 AND e.vec_id % 3 < 2)
           |      AND e.vec_id % 5 <> 4)
           |  ORDER BY d, vec_id LIMIT 10""".stripMargin
      val oracle = probeIds.map { p =>
        s"""SELECT CAST($p AS BIGINT) AS probe_id,
           |  CAST(count(*) AS BIGINT) AS n_hits, CAST(10 AS BIGINT) AS k
           |FROM (${Round12Queries.ivfPqOracle(m = 4, k = 4, iters = 2,
          sub = 16, nProbe = 2, topK = 10, where = live, probeId = p)}) adc
           |JOIN (${bruteSql(p)}) br USING (vec_id)""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY probe_id"
      Q("q381_ivfpq_recall", oracle) { (s, dir) =>
        import graft.sim.{IvfPq, IvfPqStore, PqIndexStore}
        val emb = Tables.load(s, dir, "embeddings").persist()
        // every frame cached here is released on every path: a frame left
        // cached would serve the next identical run from memory
        var cached = List(emb)
        val rows = try {
          val (cents, cb) = IvfPq.fitResidual(
            emb, "vec_id", "embedding", "label", dims = 64, m = 4, k = 4,
            iters = 2)
          cached ::= cents
          val root = s"target/q381_ivfpqstore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
          val p = new org.apache.hadoop.fs.Path(root)
          val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fsys.exists(p)) fsys.delete(p, true)
          // the pre-compaction ops are mutually independent (distinct store
          // subdirs; appends never read centroids/ or codebook/) — overlap
          // their driver fixed costs instead of serializing four tiny jobs
          Q.concurrently(Seq(
            () => IvfPqStore.writeCentroids(s, root, cents),
            () => PqIndexStore.writeCodebook(s, root, cb),
            () => IvfPqStore.appendBatch(emb.filter(col("vec_id") % 3 === 0),
              cents, "vec_id", "embedding", "label", root, cb, "b0"),
            () => IvfPqStore.appendBatch(emb.filter(col("vec_id") % 3 === 1),
              cents, "vec_id", "embedding", "label", root, cb, "b1"),
            () => IvfPqStore.appendTombstones(
              emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")),
              "vec_id", root, "t0")))
          IvfPqStore.compact(s, root, "c0", "vec_id", "label")
          // post-compaction churn (strictly AFTER the fold commits — the
          // compaction must fold exactly {b0, b1, t0}): a fresh append must
          // NOT be retro-deleted by the folded tombstones, while PENDING
          // tombstones mask the whole live view; the two are independent
          Q.concurrently(Seq(
            () => IvfPqStore.appendBatch(emb.filter(col("vec_id") % 3 === 2),
              cents, "vec_id", "embedding", "label", root, cb, "b2"): Unit,
            () => IvfPqStore.appendTombstones(
              emb.filter(col("vec_id") % 5 === 4).select(col("vec_id")),
              "vec_id", root, "t1"): Unit))
          // cold reload: codes, centroids, codebook all from disk. The
          // cold FRAMES are then cached for the three-probe loop only —
          // the cache is created and dropped INSIDE this invocation (the
          // store root is deleted and rebuilt every run, and a cache
          // outliving the run would pin the previous build's file
          // snapshot), so each probe reads the store once instead of
          // re-listing and re-scanning the batch dirs per query
          val codes = IvfPqStore.liveCodes(s, root, "vec_id").persist()
          // the brute side's corpus is the STORE's live id set — not a
          // closed-form twin — joined back to the raw vectors
          val liveEmb = emb.join(codes.select(col("vec_id")), Seq("vec_id"))
            .persist()
          cached = codes :: liveEmb :: cached
          // materialize both caches with ONE job, then overlap the four
          // independent metadata fetches (probe vectors ride one job)
          val (cents2, cb2, probeVecs) = {
            val fetched = Q.concurrently(Seq(
              () => liveEmb.count(): Any,
              () => IvfPqStore.readCentroids(s, root): Any,
              () => PqIndexStore.readCodebook(s, root): Any,
              () => emb.filter(col("vec_id").isin(probeIds: _*))
                .select(col("vec_id"), col("embedding")).collect()
                .map(r => r.getLong(0) ->
                  r.getSeq[Float](1).map(_.toDouble).toArray).toMap: Any))
            (fetched(1).asInstanceOf[org.apache.spark.sql.DataFrame],
              fetched(2).asInstanceOf[graft.sim.ProductQuantizer.Codebook],
              fetched(3).asInstanceOf[Map[Long, Array[Double]]])
          }
          // per probe: the two top-10 id sets collect driver-side (the
          // sanctioned BOUNDED inventory — k ids each) so the returned
          // 3-row frame is store-file-independent and re-countable; the
          // six probe queries are independent reads of the now-cached
          // frames and run concurrently
          val hits = Q.concurrently(probeIds.flatMap { pid =>
            val q = probeVecs(pid)
            Seq(
              () => IvfPq.adcTopK(codes, cents2, "vec_id", "label", cb2, q,
                nProbe = 2, topK = 10)
                .collect().map(_.getLong(0)).toSet,
              () => {
                val qArr = array(q.map(lit).toSeq: _*)
                liveEmb.select(col("vec_id"),
                  aggregate(
                    zip_with(col("embedding"), qArr,
                      (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
                    lit(0.0), (acc, x) => acc + x).as("d"))
                  .orderBy(col("d"), col("vec_id")).limit(10)
                  .collect().map(_.getLong(0)).toSet
              })
          })
          probeIds.zipWithIndex.map { case (pid, i) =>
            (pid, hits(2 * i).intersect(hits(2 * i + 1)).size.toLong, 10L)
          }
        } finally cached.foreach(_.unpersist())
        import s.implicits._
        rows.toDF("probe_id", "n_hits", "k").orderBy("probe_id")
      }
    },

    // IVF+PQ REFIT GENERATION (sim.IvfPqStore.refitGeneration) — the
    // maintenance step q381 motivates: centroids and the residual
    // codebook FREEZE at fit time, so churn decays fixed-nProbe recall
    // and compaction alone keeps the stale quantizers. The gate churns
    // a store (two appends → tombstones → compact → pending
    // tombstones), REFITS a new generation from the survivors (live id
    // set joined back to the raw corpus — codes are not invertible),
    // cold-reloads it, and answers the ADC query. The oracle is the
    // full q332 closed form with TRAINING ITSELF restricted to the
    // survivor set (exact cell means, k lowest-id residual init, both
    // k-means rounds — all over survivors only): a refit that leaks a
    // deleted vector into any training statistic lands off the hash.
    {
      val liveScore = "NOT (r.vec_id % 7 = 3 AND r.vec_id % 3 < 2)" +
        " AND r.vec_id % 5 <> 4"
      val liveTrain = "NOT (vec_id % 7 = 3 AND vec_id % 3 < 2)" +
        " AND vec_id % 5 <> 4"
      Q(
        "q382_ivfpq_refit",
        Round12Queries.ivfPqOracle(m = 4, k = 4, iters = 2, sub = 16,
          nProbe = 2, topK = 10, where = liveScore,
          trainWhere = liveTrain)) { (s, dir) =>
        import graft.sim.{IvfPq, IvfPqStore, PqIndexStore}
        val emb = Tables.load(s, dir, "embeddings").persist()
        var cached = List(emb)
        val (gen, probe) = try {
          val (cents, cb) = IvfPq.fitResidual(
            emb, "vec_id", "embedding", "label", dims = 64, m = 4, k = 4,
            iters = 2)
          cached ::= cents
          val root = s"target/q382_ivfpqstore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
          val gen = s"${root}_g1"
          for (d <- Seq(root, gen)) {
            val p = new org.apache.hadoop.fs.Path(d)
            val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
            if (fsys.exists(p)) fsys.delete(p, true)
          }
          // independent pre-compaction ops overlap (distinct store subdirs;
          // appends never read centroids/ or codebook/) — see q381
          Q.concurrently(Seq(
            () => IvfPqStore.writeCentroids(s, root, cents),
            () => PqIndexStore.writeCodebook(s, root, cb),
            () => IvfPqStore.appendBatch(emb.filter(col("vec_id") % 3 === 0),
              cents, "vec_id", "embedding", "label", root, cb, "b0"),
            () => IvfPqStore.appendBatch(emb.filter(col("vec_id") % 3 === 1),
              cents, "vec_id", "embedding", "label", root, cb, "b1"),
            () => IvfPqStore.appendTombstones(
              emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")),
              "vec_id", root, "t0")))
          IvfPqStore.compact(s, root, "c0", "vec_id", "label")
          Q.concurrently(Seq(
            () => IvfPqStore.appendBatch(emb.filter(col("vec_id") % 3 === 2),
              cents, "vec_id", "embedding", "label", root, cb, "b2"): Unit,
            () => IvfPqStore.appendTombstones(
              emb.filter(col("vec_id") % 5 === 4).select(col("vec_id")),
              "vec_id", root, "t1"): Unit))
          // the refit generation: survivors only, fresh quantizers
          IvfPqStore.refitGeneration(s, root, gen, emb,
            "vec_id", "embedding", "label", dims = 64, m = 4, k = 4, iters = 2)
          (gen, emb.filter(col("vec_id") === 0)
            .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray)
        } finally cached.foreach(_.unpersist())
        // cold reload of the NEW generation only
        IvfPq.adcTopK(
          IvfPqStore.codes(s, gen),
          IvfPqStore.readCentroids(s, gen),
          "vec_id", "label",
          PqIndexStore.readCodebook(s, gen),
          probe, nProbe = 2, topK = 10)
      }
    },

    // SHORT-BLOCK INTENSITY STEREO (Mp3Codec mode_extension 01 over
    // window-switching type-2 granules) — the per-WINDOW variant of
    // q363's reconstruction, the last joint-stereo rejection: each of
    // the three short windows gets its OWN intensity bound (the
    // highest band holding a nonzero right-channel line in that
    // window, plus one), bands at/above it pan channel 0's lines by
    // that band's per-window is_pos (scalefactor slot sfb·3 + w), and
    // the pan lands at the NATURAL-order position 3·(start+idx)+w —
    // so the oracle replays the reorder permutation (q361), the
    // window scan, the band lookup, the per-window is_pos extraction
    // (zero-slen bands 0–5 read 0 → fully right), and the routing,
    // all in integer micro units (subblock gains are zero here; the
    // gains are q361's surface).
    Q(
      "q383_mp3_intensity_short",
      """WITH fgc AS (
        |  SELECT doc_id, f.f AS f, gr.gr AS gr, ch.ch AS ch,
        |    CASE ch.ch WHEN 0 THEN doc_id ELSE doc_id + 1000003 END AS rid,
        |    CASE ch.ch WHEN 0 THEN 18 ELSE 2 END AS bp,
        |    CASE ch.ch WHEN 0 THEN 22 ELSE 1 END AS bq
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
        |  FROM par, unnest(generate_series(0, 21)) AS p(p)
        |  WHERE p.p < npairs),
        |qq AS (SELECT doc_id, f, gr, ch, q.q AS q, j.j AS j,
        |    CASE j.j WHEN 1 THEN (rid + q.q + f) % 2
        |             WHEN 2 THEN (rid + 3*q.q + gr) % 2
        |             WHEN 3 THEN (rid + 5*q.q + f + gr) % 2
        |             ELSE (rid + 7*q.q + 1) % 2 END AS mag,
        |    (rid + q.q + j.j) % 2 AS s
        |  FROM par, unnest(generate_series(0, 24)) AS q(q),
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
        |-- short band table (44.1 kHz) out to band 7: ch0's coded
        |-- region ends at Huffman line 143 < 3·52
        |sbands AS (SELECT * FROM (VALUES (0, 0, 4), (1, 4, 8), (2, 8, 12),
        |    (3, 12, 16), (4, 16, 22), (5, 22, 30), (6, 30, 40),
        |    (7, 40, 52)) AS t(band, st, en)),
        |-- the reorder permutation: Huffman line → (band, window, idx)
        |-- → natural position 3·(start+idx)+window
        |map AS (
        |  SELECT l.*, b.band,
        |    (l.line - 3*b.st) // (b.en - b.st) AS w,
        |    3*(b.st + (l.line - 3*b.st) % (b.en - b.st))
        |      + (l.line - 3*b.st) // (b.en - b.st) AS n
        |  FROM lines l JOIN sbands b
        |    ON l.line >= 3*b.st AND l.line < 3*b.en),
        |-- the PER-WINDOW bound: highest band with a nonzero right-
        |-- channel line in that window, plus one (missing → 0)
        |rz AS (
        |  SELECT doc_id, f, gr, w, max(band) + 1 AS bound
        |  FROM map WHERE ch = 1 AND mag = 1
        |  GROUP BY doc_id, f, gr, w),
        |routed AS (
        |  SELECT m.doc_id, m.f, m.gr, m.n, m.s,
        |    CASE
        |      WHEN m.ch = 1 THEN 1
        |      WHEN m.band < coalesce(rz.bound, 0) THEN 0
        |      WHEN m.band < 6 THEN 1
        |      WHEN (m.doc_id + 1000003 + m.band + 3*m.w + m.f + m.gr) % 3 = 0
        |        THEN 1
        |      ELSE 0 END AS out_ch,
        |    CAST(power(2, a.g) AS BIGINT) AS unit
        |  FROM map m
        |  JOIN par a USING (doc_id, f, gr, ch)
        |  LEFT JOIN rz ON rz.doc_id = m.doc_id AND rz.f = m.f
        |    AND rz.gr = m.gr AND rz.w = m.w
        |  WHERE m.mag = 1),
        |feat AS (
        |  SELECT doc_id, f, gr, out_ch,
        |    CAST(count(*) AS BIGINT) AS nnz,
        |    CAST(sum(unit) * 1000000 AS BIGINT) AS sum_abs,
        |    CAST(sum((1 - 2*s) * (n + 1) * unit) * 1000000 AS BIGINT)
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
        |  CAST(2 AS BIGINT) AS block_type,
        |  CAST(a.npairs AS BIGINT) AS big_values,
        |  CAST(210 + 4*a.g AS BIGINT) AS global_gain,
        |  CAST(pb.b + qb.b + CASE a.ch WHEN 1 THEN 54 ELSE 0 END AS BIGINT)
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
      graft.multimodal.Multimodal.extractMp3SpectraTyped(
        graft.multimodal.Multimodal.synthesizeMp3CodedIntensityShort(
          Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id", "frame_idx", "granule", "channel")
    },

    // COMBINED STEREO OVER SHORT BLOCKS (mode_extension 3 + block_type
    // 2) — the last cell of the joint-stereo matrix: q379's
    // MS-with-intensity-overwrite split applied per WINDOW. MS is the
    // DEFAULT everywhere (below each window's bound, ILLEGAL
    // positions, the no-is_pos zone); intensity bands at/above the
    // per-window bound overwrite it with the pan at the natural-order
    // position. The synthesizer is byte-identical to q383's except
    // the header's mode_extension — on the SAME bits, illegal
    // positions matrix here where q383 passes through.
    Q(
      "q384_mp3_intensity_short_ms",
      """WITH fgc AS (
        |  SELECT doc_id, f.f AS f, gr.gr AS gr, ch.ch AS ch,
        |    CASE ch.ch WHEN 0 THEN doc_id ELSE doc_id + 1000003 END AS rid,
        |    CASE ch.ch WHEN 0 THEN 18 ELSE 2 END AS bp,
        |    CASE ch.ch WHEN 0 THEN 22 ELSE 1 END AS bq
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
        |  FROM par, unnest(generate_series(0, 21)) AS p(p)
        |  WHERE p.p < npairs),
        |qq AS (SELECT doc_id, f, gr, ch, q.q AS q, j.j AS j,
        |    CASE j.j WHEN 1 THEN (rid + q.q + f) % 2
        |             WHEN 2 THEN (rid + 3*q.q + gr) % 2
        |             WHEN 3 THEN (rid + 5*q.q + f + gr) % 2
        |             ELSE (rid + 7*q.q + 1) % 2 END AS mag,
        |    (rid + q.q + j.j) % 2 AS s
        |  FROM par, unnest(generate_series(0, 24)) AS q(q),
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
        |sbands AS (SELECT * FROM (VALUES (0, 0, 4), (1, 4, 8), (2, 8, 12),
        |    (3, 12, 16), (4, 16, 22), (5, 22, 30), (6, 30, 40),
        |    (7, 40, 52)) AS t(band, st, en)),
        |map AS (
        |  SELECT l.doc_id, l.f, l.gr, l.ch, l.s, l.mag, b.band,
        |    (l.line - 3*b.st) // (b.en - b.st) AS w,
        |    3*(b.st + (l.line - 3*b.st) % (b.en - b.st))
        |      + (l.line - 3*b.st) // (b.en - b.st) AS n
        |  FROM lines l JOIN sbands b
        |    ON l.line >= 3*b.st AND l.line < 3*b.en),
        |rz AS (
        |  SELECT doc_id, f, gr, w, max(band) + 1 AS bound
        |  FROM map WHERE ch = 1 AND mag = 1
        |  GROUP BY doc_id, f, gr, w),
        |spec AS (SELECT m.doc_id, m.f, m.gr, m.ch, m.n,
        |    m.mag * (1 - 2*m.s) * power(2.0, a.g) AS v
        |  FROM map m JOIN par a USING (doc_id, f, gr, ch)
        |  WHERE m.mag = 1),
        |merged AS (
        |  SELECT coalesce(m.doc_id, s.doc_id) AS doc_id,
        |    coalesce(m.f, s.f) AS f, coalesce(m.gr, s.gr) AS gr,
        |    coalesce(m.n, s.n) AS n,
        |    coalesce(m.v, 0) AS mv, coalesce(s.v, 0) AS sv
        |  FROM (SELECT * FROM spec WHERE ch = 0) m
        |  FULL OUTER JOIN (SELECT * FROM spec WHERE ch = 1) s
        |    ON m.doc_id = s.doc_id AND m.f = s.f AND m.gr = s.gr
        |    AND m.n = s.n),
        |-- 7 encodes "MS" (the default): below the per-window bound,
        |-- illegal alphabet picks, zero-slen bands stay pan (is_pos 0)
        |ip AS (
        |  SELECT g.*,
        |    CASE WHEN b.band < coalesce(rz.bound, 0) THEN 7
        |         WHEN b.band < 6 THEN 0
        |         WHEN (g.doc_id + 1000003 + b.band + 3*(g.n % 3)
        |             + g.f + g.gr) % 3 = 0 THEN 0
        |         WHEN (g.doc_id + 1000003 + b.band + 3*(g.n % 3)
        |             + g.f + g.gr) % 3 = 1 THEN 6
        |         ELSE 7 END AS ispos
        |  FROM merged g
        |  JOIN sbands b ON (g.n // 3) >= b.st AND (g.n // 3) < b.en
        |  LEFT JOIN rz ON rz.doc_id = g.doc_id AND rz.f = g.f
        |    AND rz.gr = g.gr AND rz.w = (g.n % 3)),
        |chan AS (
        |  SELECT doc_id, f, gr, 0 AS ch, n,
        |    CASE WHEN ispos = 7 THEN round((mv + sv) / sqrt(2) * 1000000)
        |         WHEN ispos = 6 THEN round(mv * 1000000)
        |         ELSE 0 END AS micro
        |  FROM ip
        |  UNION ALL
        |  SELECT doc_id, f, gr, 1, n,
        |    CASE WHEN ispos = 7 THEN round((mv - sv) / sqrt(2) * 1000000)
        |         WHEN ispos = 0 THEN round(mv * 1000000)
        |         ELSE 0 END
        |  FROM ip),
        |feat AS (SELECT doc_id, f, gr, ch,
        |    CAST(sum(CASE WHEN micro <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
        |    CAST(sum(abs(micro)) AS BIGINT) AS sum_abs,
        |    CAST(sum((n + 1) * micro) AS BIGINT) AS wsum
        |  FROM chan GROUP BY doc_id, f, gr, ch),
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
        |  CAST(2 AS BIGINT) AS block_type,
        |  CAST(a.npairs AS BIGINT) AS big_values,
        |  CAST(210 + 4*a.g AS BIGINT) AS global_gain,
        |  CAST(pb.b + qb.b + CASE a.ch WHEN 1 THEN 54 ELSE 0 END AS BIGINT)
        |    AS part2_3_length,
        |  coalesce(ft.nnz, 0) AS n_nonzero,
        |  coalesce(ft.sum_abs, 0) AS sum_abs_micro,
        |  coalesce(ft.wsum, 0) AS checksum_micro
        |FROM par a
        |JOIN pbits pb USING (doc_id, f, gr, ch)
        |JOIN qbits qb USING (doc_id, f, gr, ch)
        |LEFT JOIN feat ft ON ft.doc_id = a.doc_id AND ft.f = a.f
        |  AND ft.gr = a.gr AND ft.ch = a.ch
        |ORDER BY media_id, frame_idx, granule, channel""".stripMargin) { (s, dir) =>
      graft.multimodal.Multimodal.extractMp3SpectraTyped(
        graft.multimodal.Multimodal.synthesizeMp3CodedIntensityShortMs(
          Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id", "frame_idx", "granule", "channel")
    },

    // CAPSTONE → PIECE STORE (the full production loop) — the last
    // seam: q378 proves crawl → curated multimodal SCHEDULE, q377
    // proves schedule → incremental store; this gate runs the WHOLE
    // chain. The capstone's curation stages (revisit resolution, shard
    // roundtrip, quality, dedup, patch grids, budgets) feed the WFQ
    // mixture, and the schedule packs through PieceStore in TWO
    // position batches split at the midpoint (positions are globally
    // monotone, so the store's id-monotonicity guard passes without a
    // fence), with batch 0 replayed after batch 1 landed. The final
    // piece table must equal a whole-corpus pack of the capstone
    // schedule's per-doc TOTAL token counts — any drift in ANY of the
    // seven upstream stages shifts an offset and lands off the hash.
    Q(
      "q385_capstone_store",
      "WITH " + CapstoneOracleStages + ",\n" +
        """pk AS (SELECT position, n_text + n_img + n_cap AS n FROM pos),
          |o AS (SELECT position, n,
          |    CAST(coalesce(sum(n) OVER (ORDER BY position
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          |      AS off
          |  FROM pk),
          |p AS (SELECT position, n, off, c.c AS chunk_id
          |  FROM o, unnest(generate_series(off // 256, (off + n - 1) // 256)) AS c(c)
          |  WHERE n > 0)
          |SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
          |  CAST(position AS BIGINT) AS position,
          |  CAST(GREATEST(chunk_id * 256 - off, 0) AS BIGINT) AS doc_from,
          |  CAST(GREATEST(off - chunk_id * 256, 0) AS BIGINT) AS chunk_offset,
          |  CAST(LEAST(off + n, (chunk_id + 1) * 256)
          |    - GREATEST(off, chunk_id * 256) AS BIGINT) AS piece_len
          |FROM p ORDER BY chunk_id, position""".stripMargin) { (s, dir) =>
      import graft.operators.{Mixture, PieceStore}
      val st = capstoneStages(s, dir)
      val sched = Mixture.interleave(st.kept, "cls", "doc_id",
        Seq("en" -> 8L, "de" -> 4L, "fr" -> 3L, "es" -> 2L, "zh" -> 1L))
        .select(col("position"), col("n_total"))
        .persist()
      val maxPos = sched.agg(max("position")).head().getLong(0)
      val mid = maxPos / 2
      val root = s"target/q385_capstore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      PieceStore.appendBatch(sched.filter(col("position") <= mid),
        "position", "n_total", seqLen = 256L, root, "c0")
      PieceStore.appendBatch(sched.filter(col("position") > mid),
        "position", "n_total", seqLen = 256L, root, "c1")
      // replay the first crawl batch AFTER the second landed: recorded
      // offset, byte-identical
      PieceStore.appendBatch(sched.filter(col("position") <= mid),
        "position", "n_total", seqLen = 256L, root, "c0")
      sched.unpersist()
      PieceStore.pieces(s, root).orderBy("chunk_id", "position")
    })
}
