package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Round-12 gates: ALPHA-CARRYING PNG (color types 6 and 4 — RGBA is the
  * web's most common PNG shape, so a real crawled image corpus lives or
  * dies on it) and 16-BIT grayscale (the scan/medical/archival shape),
  * all through [[graft.multimodal.PngCodec]]'s shared filter + Adam7
  * machinery. Decode composites alpha over a declared white background
  * into the shared pixel frame (`(a·c + (255−a)·255 + 127) / 255`,
  * integer truncation), so the oracle COMPOSES the channel recipe with
  * the alpha recipe in plain integer SQL — any drift in the 4-/2-byte
  * unfilter strides, the compositing arithmetic, or the 16-bit MSB
  * mapping lands off the hash.
  */
object Round12Queries {

  /** The q332 oracle: q36's exact per-cell centroids → residuals →
    * q325's subspace algebra on them → probe the top-nProbe cells by
    * `c·c − 2·q·c` → per-cell relocated LUTs (entry = ĉ·ĉ − 2·(q−c)·ĉ)
    * plus the per-cell constant ‖q − c‖² → ADC rank.
    */
  private[queries] def ivfPqOracle(m: Int, k: Int, iters: Int, sub: Int,
      nProbe: Int, topK: Int, where: String = "TRUE",
      probeId: Long = 0L, trainWhere: String = "TRUE"): String = {
    val dims = m * sub
    // subspace s trains on the residual's r[s·sub + 1 .. (s+1)·sub]
    val subs = (0 until m).map(s => CurationQueries.kmeansCtes(
      "res", s"e.r[${s * sub} + i]", k, iters, sub, s"_$s")).mkString(",\n")
    val luts = (0 until m).map { s =>
      val off = s * sub
      s"""lut_$s AS (
         |  SELECT p.label, cb.cid,
         |    list_aggregate(list_transform(generate_series(1, $sub),
         |      i -> cb.c[i]*cb.c[i]), 'sum')
         |    - 2 * list_aggregate(list_transform(generate_series(1, $sub),
         |      i -> (q.pe[$off + i]::DOUBLE - p.c[$off + i]) * cb.c[i]), 'sum') AS d
         |  FROM cents${iters}_$s cb CROSS JOIN probe p CROSS JOIN q)""".stripMargin
    }.mkString(",\n")
    val finJoins = (0 until m)
      .map(s => s"JOIN fin_$s f$s ON f$s.vec_id = r.vec_id").mkString(" ")
    val lutJoins = (0 until m)
      .map(s => s"JOIN lut_$s l$s ON l$s.label = r.label AND l$s.cid = f$s.cid")
      .mkString(" ")
    val dsum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    s"""WITH cm AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS m
       |    FROM embeddings, unnest(generate_series(1, $dims)) AS u(i)
       |    WHERE $trainWhere GROUP BY label, i),
       |cent AS (SELECT label, list(m ORDER BY i) AS c FROM cm GROUP BY label),
       |res AS (SELECT e.vec_id, e.label,
       |    list_transform(generate_series(1, $dims),
       |      i -> e.embedding[i]::DOUBLE - ct.c[i]) AS r
       |  FROM embeddings e JOIN cent ct USING (label)
       |  WHERE $trainWhere),
       |q AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = $probeId),
       |probe AS (SELECT label, c FROM (
       |    SELECT ct.label, ct.c,
       |      list_aggregate(list_transform(generate_series(1, $dims),
       |        i -> ct.c[i]*ct.c[i]), 'sum')
       |      - 2 * list_aggregate(list_transform(generate_series(1, $dims),
       |        i -> q.pe[i]::DOUBLE * ct.c[i]), 'sum') AS d
       |    FROM cent ct CROSS JOIN q)
       |  ORDER BY d, label LIMIT $nProbe),
       |$subs,
       |$luts,
       |cellconst AS (SELECT p.label,
       |    list_aggregate(list_transform(generate_series(1, $dims),
       |      i -> (q.pe[i]::DOUBLE - p.c[i]) * (q.pe[i]::DOUBLE - p.c[i])), 'sum') AS qrq
       |  FROM probe p CROSS JOIN q),
       |scored AS (SELECT r.vec_id, round(cc.qrq + $dsum, 6) AS adc_score
       |  FROM res r JOIN probe p ON r.label = p.label
       |    JOIN cellconst cc ON cc.label = r.label
       |    $finJoins $lutJoins
       |  WHERE $where)
       |SELECT vec_id, adc_score FROM scored
       |ORDER BY adc_score, vec_id LIMIT $topK""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // RGBA PNG (color type 6), INTERLACED — alpha through the Adam7 pass
    // grid: the q298/q322 channel recipes plus an alpha plane, composited
    // over white at decode. Oracle: per-pixel integer compositing
    // ((a·c + (255−a)·255 + 127) // 255 — nonnegative, so DuckDB // is
    // Java int division) then the shared feature algebra.
    Q(
      "q328_png_alpha",
      """WITH px AS (
        |  SELECT doc_id, y.y AS y, x.x AS x,
        |    (doc_id * 37 + y.y * 5 + x.x * 11) % 256 AS r0,
        |    (doc_id * 41 + y.y * 13 + x.x * 3) % 256 AS g0,
        |    (doc_id * 43 + y.y * 7 + x.x * 17) % 256 AS b0,
        |    (doc_id * 29 + y.y * 3 + x.x * 13) % 256 AS a
        |  FROM documents,
        |       unnest(generate_series(0, 11)) AS y(y),
        |       unnest(generate_series(0, 15)) AS x(x)),
        |cp AS (
        |  SELECT doc_id, y, x,
        |    (a * r0 + (255 - a) * 255 + 127) // 255 AS r,
        |    (a * g0 + (255 - a) * 255 + 127) // 255 AS g,
        |    (a * b0 + (255 - a) * 255 + 127) // 255 AS b
        |  FROM px),
        |lum AS (
        |  SELECT doc_id, y, x, r, g, b, 299 * r + 587 * g + 114 * b AS l,
        |    lag(299 * r + 587 * g + 114 * b)
        |      OVER (PARTITION BY doc_id, y ORDER BY x) AS pl
        |  FROM cp)
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
      val media = Multimodal.synthesizePngAlpha(
        Tables.load(s, dir, "documents"), "doc_id", interlaced = true)
      Multimodal.extractPngFeatures(media).orderBy("media_id")
    },

    // GRAY+ALPHA PNG (color type 4): two-byte pixels through the same
    // filter machinery, gray composited over white then widened to
    // r = g = b (luma = 1000·v).
    Q(
      "q329_png_gray_alpha",
      """WITH px AS (
        |  SELECT doc_id, y.y AS y, x.x AS x,
        |    (doc_id * 53 + y.y * 9 + x.x * 29) % 256 AS g0,
        |    (doc_id * 19 + y.y * 23 + x.x * 5) % 256 AS a
        |  FROM documents,
        |       unnest(generate_series(0, 11)) AS y(y),
        |       unnest(generate_series(0, 15)) AS x(x)),
        |cp AS (
        |  SELECT doc_id, y, x,
        |    (a * g0 + (255 - a) * 255 + 127) // 255 AS v
        |  FROM px),
        |lum AS (
        |  SELECT doc_id, y, x, v, 1000 * v AS l,
        |    lag(1000 * v) OVER (PARTITION BY doc_id, y ORDER BY x) AS pl
        |  FROM cp)
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
      val media = Multimodal.synthesizePngGrayAlpha(
        Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.extractPngFeatures(media).orderBy("media_id")
    },

    // 16-BIT GRAYSCALE PNG (depth 16, color type 0), INTERLACED — the
    // filter/Paeth math is byte-oriented and depth-agnostic (bpp = 2);
    // decode maps each big-endian sample to the frame by its most
    // significant byte, so the oracle is the recipe // 256.
    Q(
      "q330_png_gray16",
      """WITH px AS (
        |  SELECT doc_id, y.y AS y, x.x AS x,
        |    ((doc_id * 257 + y.y * 1031 + x.x * 4099) % 65536) // 256 AS v
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
      val media = Multimodal.synthesizePngGray16(
        Tables.load(s, dir, "documents"), "doc_id", interlaced = true)
      Multimodal.extractPngFeatures(media).orderBy("media_id")
    },

    // STEREO-DECORRELATED FLAC (channel assignments 8/9/10 — what default
    // FLAC encoders emit for stereo; id mod 3 steers each doc through
    // left-side / right-side / mid-side, side at 17 bits). Losslessness
    // keeps the oracle codec-free: it replays the per-channel recipes,
    // interleaves (j = 2i + ch), and recomputes the q318 features — any
    // drift in the side reconstruction, the 17-bit reads, or mid's parity
    // bit lands off the hash.
    Q(
      "q331_flac_stereo",
      """WITH raw AS (
        |  SELECT doc_id, j,
        |    ((doc_id % 50) - 25) * 4 + (((j // 2) % 256) - 128) * ((doc_id % 3) + 1)
        |      - CASE WHEN j % 2 = 1
        |             THEN (((j // 2) % 16) - 8) * ((doc_id % 7) + 1)
        |             ELSE 0 END AS v
        |  FROM documents, unnest(generate_series(0, 1199)) AS u(j)),
        |s AS (
        |  SELECT doc_id, j, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY j) AS pv
        |  FROM raw)
        |SELECT doc_id AS media_id,
        |  CAST(16000 AS BIGINT) AS sr,
        |  CAST(2 AS BIGINT) AS channels,
        |  CAST(1200 AS BIGINT) AS n_samples,
        |  CAST(600 * 1000 // 16000 AS BIGINT) AS duration_ms,
        |  CAST(min(v) AS BIGINT) AS peak_min,
        |  CAST(max(v) AS BIGINT) AS peak_max,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) != (v < 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(sum(v) AS BIGINT) AS sum_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sum_squares,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / 1200), 6) AS rms
        |FROM s GROUP BY doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.synthesizeFlacStereo(
        Tables.load(s, dir, "documents"), "doc_id")
      Multimodal.extractFlacFeatures(media)
        .withColumn("rms", round(col("rms"), 6))
        .orderBy("media_id")
    },

    // IVF+PQ COMPOSITE INDEX (sim.IvfPq) — the production billion-vector
    // shape: coarse cells (the label column, exact mean centroids) + ONE
    // shared PQ codebook set fit on cell RESIDUALS, query relocated per
    // probed cell (LUTs from q − c plus the per-cell ‖q − c‖² constant,
    // which cannot be dropped across cells). nProbe=2 of the cells, so
    // the cross-cell constant actually decides rankings. The oracle
    // re-derives centroids (q36's CTEs), residuals, all four residual
    // sub-quantizers (q325's algebra on `res`), the probe cut, the
    // relocated LUTs, and the final ADC rank.
    Q(
      "q332_ann_ivfpq",
      ivfPqOracle(m = 4, k = 4, iters = 2, sub = 16, nProbe = 2, topK = 10)) {
      (s, dir) =>
        import graft.sim.IvfPq
        val emb = Tables.load(s, dir, "embeddings").persist()
        // both cached frames are released on every path; the returned
        // frame recomputes them from the table
        var cached = List(emb)
        try {
          val (cents, cb) = IvfPq.fitResidual(
            emb, "vec_id", "embedding", "label", dims = 64, m = 4, k = 4, iters = 2)
          cached ::= cents
          val codes = IvfPq.encode(emb, cents, "vec_id", "embedding", "label", cb)
          val probe = emb.filter(col("vec_id") === 0)
            .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
          IvfPq.adcTopK(codes, cents, "vec_id", "label", cb, probe,
            nProbe = 2, topK = 10)
        } finally cached.foreach(_.unpersist())
    },

    // INCREMENTAL PQ INDEX MAINTENANCE (sim.PqIndexStore): embeddings
    // arrive in batches, so the code table grows by encode-append against
    // a FROZEN persisted codebook — two parity batches land in their own
    // per-batch subdirs (with the drift-stat row riding each encode scan),
    // the codebook reloads from parquet, and the ADC query over the
    // store's recursive code table must equal the whole-corpus q325
    // answer — which is exactly what the q325 oracle replays. The state
    // dir is recreated per run; re-running on leftovers is idempotent
    // (per-batch Overwrite).
    Q(
      "q333_ann_pq_incremental",
      Round11Queries.pqOracle(m = 4, k = 4, iters = 2, sub = 16, topK = 10)) {
      (s, dir) =>
        import graft.sim.{ProductQuantizer, PqIndexStore}
        val emb = Tables.load(s, dir, "embeddings").persist()
        val cb = ProductQuantizer.fit(emb, "vec_id", "embedding",
          dims = 64, m = 4, k = 4, iters = 2)
        val root = s"target/q333_pqstore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
        val p = new org.apache.hadoop.fs.Path(root)
        val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fsys.exists(p)) fsys.delete(p, true)
        PqIndexStore.writeCodebook(s, root, cb)
        // the two appends are independent (distinct subdirs; b1
        // deliberately encodes against the round-tripped codebook, which
        // committed above) — overlap their driver fixed costs
        graft.Par.run(Seq(
          () => PqIndexStore.appendBatch(emb.filter(col("vec_id") % 2 === 0),
            "vec_id", "embedding", root, cb, "b0"): Unit,
          () => PqIndexStore.appendBatch(emb.filter(col("vec_id") % 2 === 1),
            "vec_id", "embedding", root, PqIndexStore.readCodebook(s, root),
            "b1"): Unit))
        val probe = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
        emb.unpersist()
        ProductQuantizer.adcTopK(
          PqIndexStore.codes(s, root), "vec_id",
          PqIndexStore.readCodebook(s, root), probe, topK = 10)
    },

    // WARC RECORD INVENTORY — the crawl-archive front door (Common Crawl
    // publishes ~100 TB of .warc.gz per snapshot; a crawl-fed training
    // pipeline starts HERE): each doc's synthesized archive (warcinfo +
    // request + response, one gzip member per record) parses through the
    // REAL RFC-1952 + WARC/1.0 machinery (ingest.WarcCodec — hand-parsed
    // gzip headers, CRC/ISIZE verified, Content-Length framing, HTTP
    // status split) into the route table an intake filters on. The
    // archive bytes are a pure function of the row and gzip is lossless,
    // so the oracle needs NO decompressor: it replays the record recipe
    // and the framing arithmetic (header constants + digit-width terms)
    // closed-form; any drift in framing, member boundaries, or the HTTP
    // split lands off the hash.
    {
      val w0 = graft.ingest.Warc.WarcinfoBlock.length
      val reqC = graft.ingest.Warc.requestBlock(0).length - 1
      val r404 = graft.ingest.Warc.responseBlock(3, "en", "x").length
      val body0 = graft.ingest.Warc.htmlBody(0, "en", "")
      val r200Hdr = graft.ingest.Warc.responseBlock(0, "en", "").length -
        body0.length - body0.length.toString.length
      Q(
        "q334_warc_inventory",
        s"""WITH resp AS (SELECT doc_id,
           |    CASE WHEN doc_id % 4 = 3 THEN NULL
           |         ELSE '<html><head><title>Doc ' || doc_id
           |           || '</title><script>var x=1;</script></head><body><h1>'
           |           || upper(lang) || '</h1><p>' || text
           |           || ' &amp; more</p><!-- note --></body></html>' END AS body
           |  FROM documents),
           |r AS (SELECT doc_id, g.i AS rec_idx, body
           |      FROM resp, unnest(generate_series(0, 2)) AS g(i))
           |SELECT doc_id AS media_id, CAST(rec_idx AS BIGINT) AS rec_idx,
           |  CASE rec_idx WHEN 0 THEN 'warcinfo' WHEN 1 THEN 'request'
           |    ELSE 'response' END AS warc_type,
           |  CASE WHEN rec_idx = 0 THEN NULL
           |    ELSE 'https://example.com/doc/' || doc_id END AS target_uri,
           |  CASE rec_idx WHEN 0 THEN 'application/warc-fields'
           |    WHEN 1 THEN 'application/http;msgtype=request'
           |    ELSE 'application/http;msgtype=response' END AS content_type,
           |  CAST(CASE rec_idx WHEN 0 THEN $w0
           |    WHEN 1 THEN $reqC + length(CAST(doc_id AS VARCHAR))
           |    ELSE CASE WHEN doc_id % 4 = 3 THEN $r404
           |      ELSE $r200Hdr + length(CAST(length(body) AS VARCHAR))
           |        + length(body) END
           |  END AS BIGINT) AS content_length,
           |  CAST(CASE WHEN rec_idx = 2 THEN
           |    CASE WHEN doc_id % 4 = 3 THEN 404 ELSE 200 END END AS BIGINT)
           |    AS http_status,
           |  CASE WHEN rec_idx = 2 THEN
           |    CASE WHEN doc_id % 4 = 3 THEN 'text/plain'
           |         ELSE 'text/html; charset=utf-8' END END AS http_content_type
           |FROM r ORDER BY media_id, rec_idx""".stripMargin) { (s, dir) =>
        graft.ingest.Warc.records(
          graft.ingest.Warc.synthesizeWarc(Tables.load(s, dir, "documents"), "doc_id"))
          .orderBy("media_id", "rec_idx")
      }
    },

    // WARC → CLEAN TEXT, end to end — the whole crawl intake as ONE gate:
    // parse the archive (real gzip + framing), split the HTTP response,
    // route only 200 text/html entities (the 404s must vanish), decode
    // the entity, extract text (script/style/comment drop, tag strip,
    // entity decode, whitespace collapse). The oracle rebuilds the HTML
    // string from the recipe and replays the extraction regexp chain —
    // the q130 discipline with the container + HTTP legs now in front.
    Q(
      "q335_warc_text",
      """WITH raw AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id
        |    || '</title><script>var x=1;</script></head><body><h1>'
        |    || upper(lang) || '</h1><p>' || text
        |    || ' &amp; more</p><!-- note --></body></html>' AS h
        |  FROM documents WHERE doc_id % 4 != 3),
        |s1 AS (SELECT doc_id,
        |    regexp_replace(h, '(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
        |      ' ', 'g') AS t
        |  FROM raw),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'), '&amp;', '&', 'g') AS t
        |  FROM s3)
        |SELECT doc_id AS media_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted
        |FROM s4 ORDER BY media_id""".stripMargin) { (s, dir) =>
      graft.ingest.Warc.htmlResponses(
        graft.ingest.Warc.synthesizeWarc(Tables.load(s, dir, "documents"), "doc_id"))
        .select(col("media_id"),
          graft.text.TextAnalysis.extractHtmlText(col("html")).as("extracted"))
        .orderBy("media_id")
    },

    // ROBOTS.TXT ADMISSION (text.RobotsRules, RFC 9309) — the crawl-
    // governance gate: three policy shapes per host (nation % 3) exercise
    // group selection (an exact `graftbot` group must SHADE the `*` group
    // — v1's star group disallows everything), multi-UA group heads,
    // no-op empty Disallow, `*` wildcards, the trailing-`$` anchor, and
    // longest-match/allow-on-tie precedence over a distinct URL grid.
    // Spark PARSES the robots text relationally (line explode + window
    // group numbering); the oracle reconstructs the effective rule table
    // from the recipe and replays only the match algebra — if the parser
    // mis-groups or mis-reads a directive, the effective rules differ and
    // every affected verdict lands off the hash.
    Q(
      "q336_robots",
      """WITH hosts AS (SELECT n_nationkey AS nk, lower(n_name) AS host,
        |    n_nationkey % 3 AS v FROM nation),
        |rules AS (SELECT * FROM (VALUES
        |    (0, 'disallow', '/private'), (0, 'allow', '/private/open'),
        |    (1, 'disallow', '/tmp*'), (1, 'allow', '/tmp/keep$'),
        |    (2, 'allow', '/api')) AS t(v, verb, rule)),
        |u0 AS (SELECT DISTINCT doc_id % 25 AS nk, doc_id % 8 AS pi FROM documents),
        |urls AS (SELECT DISTINCT h.host, h.v,
        |    CASE pi WHEN 0 THEN '/' WHEN 1 THEN '/private'
        |      WHEN 2 THEN '/private/open/x' WHEN 3 THEN '/tmp/abc'
        |      WHEN 4 THEN '/tmp/keep' WHEN 5 THEN '/tmp/keepx'
        |      WHEN 6 THEN '/api/v1' ELSE '/privatex' END AS path
        |  FROM u0 JOIN hosts h ON u0.nk = h.nk),
        |cand AS (SELECT u.host, u.path, r.verb, r.rule,
        |    u.path LIKE (CASE WHEN substr(r.rule, length(r.rule), 1) = '$'
        |      THEN replace(replace(replace(replace(substr(r.rule, 1, length(r.rule) - 1),
        |        '!', '!!'), '%', '!%'), '_', '!_'), '*', '%')
        |      ELSE replace(replace(replace(replace(r.rule,
        |        '!', '!!'), '%', '!%'), '_', '!_'), '*', '%') || '%' END)
        |      ESCAPE '!' AS hit
        |  FROM urls u JOIN rules r ON u.v = r.v),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY host, path
        |    ORDER BY CASE WHEN hit THEN length(rule) ELSE -1 END DESC,
        |      CASE WHEN verb = 'allow' THEN 1 ELSE 0 END DESC, rule) AS rk
        |  FROM cand)
        |SELECT host, path, CASE WHEN hit THEN rule END AS rule,
        |  (NOT hit) OR verb = 'allow' AS allowed
        |FROM rk WHERE rk = 1 ORDER BY host, path""".stripMargin) { (s, dir) =>
      import graft.text.RobotsRules
      val robots = Tables.load(s, dir, "nation")
        .select(lower(col("n_name")).as("host"),
          (col("n_nationkey") % 3).as("v"), col("n_nationkey"))
        .withColumn("txt",
          when(col("v") === 0, lit(
            "# crawl policy v0\nUser-agent: *\nDisallow: /private\nAllow: /private/open\n"))
            .when(col("v") === 1, lit(
              "User-agent: graftbot\nDisallow: /tmp*\nAllow: /tmp/keep$\n" +
                "User-agent: *\nDisallow: /\n"))
            .otherwise(lit(
              "User-agent: otherbot\nUser-agent: graftbot\nDisallow:\nAllow: /api\n" +
                "User-agent: *\nDisallow: /api\n")))
      val eff = RobotsRules.effectiveRules(
        RobotsRules.parseDirectives(robots, "host", "txt"), "graftbot")
      val urls = Tables.load(s, dir, "documents")
        .select((col("doc_id") % 25).as("nk"), (col("doc_id") % 8).as("pi"))
        .distinct()
        .join(broadcast(robots.select(col("n_nationkey").as("nk"), col("host"))), "nk")
        .select(col("host"),
          when(col("pi") === 0, "/").when(col("pi") === 1, "/private")
            .when(col("pi") === 2, "/private/open/x").when(col("pi") === 3, "/tmp/abc")
            .when(col("pi") === 4, "/tmp/keep").when(col("pi") === 5, "/tmp/keepx")
            .when(col("pi") === 6, "/api/v1").otherwise("/privatex").as("path"))
        .distinct()
      RobotsRules.evaluate(urls, eff).orderBy("host", "path")
    },

    // MP3 HEADER-WALK SNIFF (multimodal.MpegAudioSniff) — the O(headers)
    // duration/bitrate probe an audio pipeline runs on crawled MP3 before
    // paying for (or quarantining) a decode: hop frame to frame by the
    // header-computed Layer III length, count frames, profile the VBR
    // bitrate ladder, skip ID3v2. Honest machinery: the perceptual
    // decoder stays behind StubDecoder; the container WALK is real and
    // the oracle replays the whole recipe (frame count, bitrate cycle,
    // frame-length arithmetic, syncsafe tag size) closed-form — any hop
    // drift desyncs the walk and throws or lands off the hash.
    Q(
      "q337_mp3_sniff",
      """WITH n AS (SELECT doc_id, 20 + doc_id % 11 AS nf, doc_id % 3 AS sri
        |           FROM documents),
        |fr AS (SELECT doc_id, nf, sri, 1 + (doc_id * 7 + g.f * 3) % 14 AS bidx
        |       FROM n, unnest(generate_series(0, 30)) AS g(f) WHERE g.f < nf),
        |kb AS (SELECT doc_id, nf, sri,
        |    CASE bidx WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
        |      WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
        |      WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
        |      WHEN 13 THEN 256 ELSE 320 END AS kbps
        |  FROM fr)
        |SELECT doc_id AS media_id,
        |  CAST(min(nf) AS BIGINT) AS n_frames,
        |  CAST(CASE min(sri) WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |    AS BIGINT) AS sample_rate,
        |  CAST(sum(kbps) AS BIGINT) AS sum_bitrate_kbps,
        |  CAST(min(kbps) AS BIGINT) AS min_bitrate_kbps,
        |  CAST(max(kbps) AS BIGINT) AS max_bitrate_kbps,
        |  CAST(1152 * min(nf) * 1000 //
        |    (CASE min(sri) WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END)
        |    AS BIGINT) AS duration_ms,
        |  CAST(10 + doc_id % 100 + 4 AS BIGINT) AS id3_bytes
        |FROM kb GROUP BY doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.sniffMp3Info(
        Multimodal.synthesizeMp3(Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id")
    },

    // WEBDATASET TAR SHARDS (ingest.TarCodec/Tar) — the shard container
    // modern multimodal corpora actually ship in: documents pack into
    // real POSIX ustar archives (50 docs/shard, `<id>.txt` + `<id>.cls`
    // + `<id>.json` components, verified header checksums), then parse +
    // sample-group back into one row per stem. The tar leg is lossless,
    // so the oracle needs no archiver: it projects the expected sample
    // table straight off `documents` — any drift in header layout, octal
    // fields, 512-padding hops, or stem grouping tears the roundtrip and
    // lands off the hash (or throws typed).
    Q(
      "q338_webdataset",
      """SELECT doc_id // 50 AS shard_id,
        |  CAST(doc_id AS VARCHAR) AS stem,
        |  CAST(3 AS BIGINT) AS n_components,
        |  text AS txt, lang AS cls,
        |  CAST(length('{"id":' || doc_id || ',"source":"' || source || '"}')
        |    AS BIGINT) AS json_chars
        |FROM documents ORDER BY shard_id, doc_id""".stripMargin) { (s, dir) =>
      graft.ingest.Tar.samples(
        graft.ingest.Tar.synthesizeShards(Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy(col("shard_id"), col("stem").cast("long"))
    },

    // MAIN-CONTENT EXTRACTION (text.MainContent) — boilerplate removal,
    // the curation step BETWEEN tag stripping and training: the fixture
    // page carries a link-dense nav, the real document text, a short
    // heading SANDWICHED between two long paragraphs (the bridge case),
    // a read-more teaser, and a link-dense footer. The keep rule must
    // drop nav/teaser/footer (link density · length), keep both
    // paragraphs (length), and bridge the heading. Spark runs the
    // block-density operator; the oracle replays the identical algebra —
    // block split, per-block tag/entity chain, integer link-density
    // compare, lag/lead bridge, ordered reassembly.
    Q(
      "q339_main_content",
      """WITH raw AS (SELECT doc_id,
        |    '<html><body><div id="nav"><a href="/">Home</a> <a href="/a">About</a> '
        |    || '<a href="/b">More</a></div><p>' || text
        |    || '</p><h2>Part two</h2><p>Appendix ' || upper(lang)
        |    || ' stable words &amp; digits here</p><div><a href="/x">read more</a> '
        |    || 'teaser</div><div id="foot"><a>Terms</a> <a>Privacy</a> (c)</div>'
        |    || '</body></html>' AS h
        |  FROM documents),
        |arr AS (SELECT doc_id, regexp_split_to_array(h,
        |    '(?i)</?(?:p|div|td|li|h[1-6]|section|article|header|footer|nav|aside|ul|ol|table|tr|br)[^>]*>')
        |    AS a FROM raw),
        |b0 AS (SELECT doc_id, g.i AS i, a[g.i] AS r
        |       FROM arr, unnest(generate_series(1, len(a))) AS g(i)),
        |tx AS (SELECT doc_id, i,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(
        |          regexp_replace(r, '(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
        |            ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |        '&#39;', '''', 'g'), '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS txt,
        |    coalesce(list_aggregate(list_transform(
        |      regexp_extract_all(r, '(?s)<a[^>]*>(.*?)</a>', 1),
        |      x -> length(trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'),
        |        '\s+', ' ', 'g')))), 'sum'), 0) AS lnk
        |  FROM b0),
        |vis AS (SELECT doc_id, i, txt, lnk FROM tx WHERE txt != ''),
        |fl AS (SELECT *, length(txt) >= 25 AND lnk * 100 <= length(txt) * 33 AS base
        |       FROM vis),
        |br AS (SELECT *, base OR (coalesce(lag(base) OVER w, FALSE)
        |    AND coalesce(lead(base) OVER w, FALSE)) AS keep
        |  FROM fl WINDOW w AS (PARTITION BY doc_id ORDER BY i))
        |SELECT doc_id, string_agg(txt, ' ' ORDER BY i) FILTER (WHERE keep) AS main_text,
        |  CAST(count(*) AS BIGINT) AS total_blocks,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks
        |FROM br GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val html = concat(
        lit("<html><body><div id=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/b\">More</a></div><p>"),
        col("text"),
        lit("</p><h2>Part two</h2><p>Appendix "), upper(col("lang")),
        lit(" stable words &amp; digits here</p><div><a href=\"/x\">read more</a> " +
          "teaser</div><div id=\"foot\"><a>Terms</a> <a>Privacy</a> (c)</div>" +
          "</body></html>"))
      graft.text.MainContent.extract(
        Tables.load(s, dir, "documents").select(col("doc_id"), html.as("h")),
        "doc_id", "h")
        .orderBy("doc_id")
    },

    // SURT INDEX KEYS (TextAnalysis.surtKey ∘ canonicalizeUrl) — the
    // CDX-index key of web-archive lookups: q127's messy URL recipe
    // canonicalizes, then the host labels reverse (`org,example)…`) so a
    // plain SORT clusters every URL of a domain contiguously — the
    // sorted output IS the point (per-domain range scans over a
    // 100 TB-crawl index). The oracle replays canonicalization (q127's
    // chain verbatim) plus the label-reverse/port/rest algebra.
    Q(
      "q340_surt",
      """WITH raw AS (SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'HTTPS://WWW.' || upper(source) || '.Example.COM:443/' || lang
        |        || '/' || doc_id || '?utm_source=feed&id=' || doc_id || '#sec'
        |      WHEN 1 THEN 'http://' || source || '.example.com:8080/' || lang || '/' || doc_id
        |      WHEN 2 THEN 'https://' || source || '.example.com/docs/' || doc_id
        |        || '?xutm_source=1&utm_medium=m&id=' || doc_id
        |      ELSE 'HTTP://WWW.' || upper(source) || '.Example.COM:80/' || lang
        |    END AS u
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(u, '#.*', '', 'g') AS u FROM raw),
        |s2 AS (SELECT doc_id, u, regexp_extract(u, '^[a-zA-Z]+://[^/?]+') AS p FROM s1),
        |s3 AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(lower(p),
        |        '^(https://[^/]*):443$', '\1'), '^(http://[^/]*):80$', '\1'),
        |      '://www\.', '://', 'g') AS host,
        |    substr(u, length(p) + 1) AS rest
        |  FROM s2),
        |s4 AS (SELECT doc_id, host, rest, strpos(rest, '?') AS qp FROM s3),
        |s5 AS (SELECT doc_id, host,
        |    CASE WHEN qp > 0 THEN substr(rest, 1, qp - 1) ELSE rest END AS path,
        |    regexp_replace(regexp_replace(
        |      '&' || CASE WHEN qp > 0 THEN substr(rest, qp + 1) ELSE '' END,
        |      '&utm_[^&]*', '', 'g'), '^&', '') AS cleaned
        |  FROM s4),
        |cu AS (SELECT doc_id,
        |    host || path || CASE WHEN cleaned = '' THEN '' ELSE '?' || cleaned END AS url
        |  FROM s5),
        |sk AS (SELECT doc_id, url,
        |    regexp_extract(lower(url), '^[a-z]+://(?:www\.)?([^/:?#]+)', 1) AS h2,
        |    regexp_extract(lower(url), '^[a-z]+://(?:www\.)?[^/:?#]+(:[0-9]+)?', 1) AS prt,
        |    regexp_extract(lower(url), '^[a-z]+://[^/?#]+([/?#].*)?$', 1) AS rst
        |  FROM cu)
        |SELECT doc_id, url,
        |  array_to_string(list_reverse(string_split(h2, '.')), ',') || prt || ')'
        |    || CASE WHEN rst = '' THEN '/' ELSE rst END AS surt
        |FROM sk ORDER BY surt, doc_id""".stripMargin) { (s, dir) =>
      val d = col("doc_id").cast("string")
      val raw = when(col("doc_id") % 4 === 0, concat(
          lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443/"),
          col("lang"), lit("/"), d, lit("?utm_source=feed&id="), d, lit("#sec")))
        .when(col("doc_id") % 4 === 1, concat(
          lit("http://"), col("source"), lit(".example.com:8080/"), col("lang"),
          lit("/"), d))
        .when(col("doc_id") % 4 === 2, concat(
          lit("https://"), col("source"), lit(".example.com/docs/"), d,
          lit("?xutm_source=1&utm_medium=m&id="), d))
        .otherwise(concat(
          lit("HTTP://WWW."), upper(col("source")), lit(".Example.COM:80/"),
          col("lang")))
      val canon = graft.text.TextAnalysis.canonicalizeUrl(raw)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), canon.as("url"),
          graft.text.TextAnalysis.surtKey(canon).as("surt"))
        .orderBy(col("surt"), col("doc_id"))
    },

    // SITEMAP FRONTIER EXTRACTION (TextAnalysis.sitemapEntries) — the
    // crawl-frontier feed: one sitemap XML per host (three <url> blocks:
    // whitespace-padded loc + lastmod + an ignored <priority>, a
    // lastmod-less block, and a block with lastmod BEFORE loc), exploded
    // to one (host, idx, loc, lastmod) row per entry. The oracle knows
    // the recipe, so it projects the expected frontier closed-form — a
    // mis-parse (order sensitivity, whitespace, missing-field handling)
    // lands off the hash.
    Q(
      "q341_sitemap",
      """SELECT n_nationkey AS nk, CAST(g.i AS BIGINT) AS idx,
        |  CASE g.i
        |    WHEN 0 THEN 'https://h' || n_nationkey || '.example.org/'
        |    WHEN 1 THEN 'https://h' || n_nationkey || '.example.org/a/' || n_nationkey
        |    ELSE 'https://h' || n_nationkey || '.example.org/b?x=' || n_nationkey
        |  END AS loc,
        |  CASE g.i
        |    WHEN 0 THEN '2026-0' || (1 + n_nationkey % 9) || '-01'
        |    WHEN 1 THEN ''
        |    ELSE '2025-12-31'
        |  END AS lastmod
        |FROM nation, unnest(generate_series(0, 2)) AS g(i)
        |ORDER BY nk, idx""".stripMargin) { (s, dir) =>
      import graft.text.TextAnalysis
      val nk = col("n_nationkey").cast("string")
      val xml = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
        lit("<url><loc> https://h"), nk, lit(".example.org/ </loc><lastmod>2026-0"),
        (lit(1) + col("n_nationkey") % 9).cast("string"),
        lit("-01</lastmod><priority>0.8</priority></url>"),
        lit("<url><loc>https://h"), nk, lit(".example.org/a/"), nk, lit("</loc></url>"),
        lit("<url><lastmod>2025-12-31</lastmod><loc>https://h"), nk,
        lit(".example.org/b?x="), nk, lit("</loc></url></urlset>"))
      Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"),
          posexplode(TextAnalysis.sitemapEntries(xml)).as(Seq("idx", "_p")))
        .select(col("nk"), col("idx").cast("long").as("idx"),
          element_at(split(col("_p"), "\u001f"), 1).as("loc"),
          element_at(split(col("_p"), "\u001f"), 2).as("lastmod"))
        .orderBy("nk", "idx")
    },

    // EXIF AUDIT + GEO-PII STRIP (multimodal.ExifCodec) — real crawled
    // photos carry orientation/timestamp/GPS in APP1; a training corpus
    // must READ them (routing, geometry) and STRIP them (privacy) with
    // pixel-identical output. Every doc's JPEG gets a recipe EXIF
    // (ids ≡ 0 mod 3 carry GPS); the gate sniffs the TIFF structure
    // back, strips, re-counts APP1 (must be 0) and re-decodes
    // (pixels_unchanged must hold — asserted by double decode, not
    // assumed). The oracle projects the recipe closed-form: any drift
    // in IFD layout, byte order, rational handling, or the strip walk
    // lands off the hash.
    Q(
      "q342_exif_strip",
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
        |  '2026:08:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |    || ' 12:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS date_time,
        |  doc_id % 3 = 0 AS has_gps,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END END AS lat_ref,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 90 END AS BIGINT) AS lat_deg,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (7 * doc_id) % 60 END AS BIGINT) AS lat_min,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (13 * doc_id) % 60000 END AS BIGINT)
        |    AS lat_sec_milli,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    CASE WHEN doc_id % 4 < 2 THEN 'E' ELSE 'W' END END AS lon_ref,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 180 END AS BIGINT) AS lon_deg,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (11 * doc_id) % 60 END AS BIGINT) AS lon_min,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (17 * doc_id) % 60000 END AS BIGINT)
        |    AS lon_sec_milli,
        |  CAST(1 AS BIGINT) AS app1_before,
        |  CAST(0 AS BIGINT) AS app1_after,
        |  TRUE AS pixels_unchanged
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.extractExifAudit(
        Multimodal.withExif(
          Multimodal.synthesizeJpeg(Tables.load(s, dir, "documents"), "doc_id",
            grayscale = false)))
        .orderBy("media_id")
    },

    // HTTP ENTITY DECODING in the WARC path (WarcCodec.decodeEntity) —
    // real captures store WIRE bytes: chunked transfer framing and gzip
    // content coding, stacked on ids ≡ 5 (mod 10). Feeding either raw
    // to extraction poisons the corpus with framing bytes/binary; the
    // gate parses the archive, ROUTES on the actual response headers
    // (`encoding` comes from the parsed header fields, not the recipe),
    // undoes chunked-then-gzip in RFC order, and extracts — both codings
    // are lossless, so the oracle stays framing-free: the q335 recipe
    // chain over every doc, plus the closed-form encoding label. A
    // dechunk drift would leak hex size lines into the text; a gzip
    // drift throws — either lands off the hash.
    Q(
      "q343_warc_encodings",
      """WITH raw AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 5 THEN 'chunked+gzip'
        |         WHEN doc_id % 2 = 0 THEN 'chunked' ELSE 'gzip' END AS encoding,
        |    '<html><head><title>Doc ' || doc_id
        |    || '</title><script>var x=1;</script></head><body><h1>'
        |    || upper(lang) || '</h1><p>' || text
        |    || ' &amp; more</p><!-- note --></body></html>' AS h
        |  FROM documents),
        |s1 AS (SELECT doc_id, encoding,
        |    regexp_replace(h, '(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
        |      ' ', 'g') AS t
        |  FROM raw),
        |s2 AS (SELECT doc_id, encoding, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t
        |       FROM s1),
        |s3 AS (SELECT doc_id, encoding, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, encoding,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'), '&amp;', '&', 'g') AS t
        |  FROM s3)
        |SELECT doc_id AS media_id, encoding,
        |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted
        |FROM s4 ORDER BY media_id""".stripMargin) { (s, dir) =>
      graft.ingest.Warc.htmlResponsesDecoded(
        graft.ingest.Warc.synthesizeWarcEncoded(
          Tables.load(s, dir, "documents"), "doc_id"))
        .select(col("media_id"), col("encoding"),
          graft.text.TextAnalysis.extractHtmlText(col("html")).as("extracted"))
        .orderBy("media_id")
    },

    // OGG/OPUS HEADER SNIFF (multimodal.OggSniff) — the podcast/voice
    // container's O(headers) probe: page walk with EVERY page's Ogg
    // CRC-32 verified (the RFC polynomial, not zlib's reflected one),
    // packet counts from lacing, channels/pre-skip from OpusHead,
    // duration from the final granule minus pre-skip at 48 kHz. The
    // oracle replays the synthesis recipe closed-form — any drift in
    // lacing arithmetic, granule bookkeeping, or header offsets lands
    // off the hash; a CRC drift throws. MpegAudioSniff's twin; the
    // perceptual decoder honestly stays a stub.
    Q(
      "q344_ogg_sniff",
      """SELECT doc_id AS media_id,
        |  CAST(12 + doc_id % 7 AS BIGINT) AS n_pages,
        |  CAST(2 + 2 * (10 + doc_id % 7) AS BIGINT) AS n_packets,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(312 + doc_id % 200 AS BIGINT) AS pre_skip,
        |  CAST(48000 AS BIGINT) AS input_sample_rate,
        |  CAST(312 + doc_id % 200 + 1920 * (10 + doc_id % 7) AS BIGINT)
        |    AS granule_final,
        |  CAST(1920 * (10 + doc_id % 7) * 1000 // 48000 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.sniffOggInfo(
        Multimodal.synthesizeOgg(Tables.load(s, dir, "documents"), "doc_id"))
        .orderBy("media_id")
    },

    // SRT / WebVTT CUE PARSING (text.Subtitles) — the transcript side of
    // paired audio-text training data: even docs carry SRT (numeric cue
    // ids, comma decimals), odd docs WebVTT (header, a NOTE comment
    // block to skip, dot decimals, cue settings after the end time) —
    // ONE parse chain handles both, emitting integer-ms spans + joined
    // cue text. Spark PARSES the constructed files; the oracle projects
    // the cue table closed-form from the recipe — a timestamp-arithmetic
    // or block-split drift lands off the hash.
    Q(
      "q345_subtitle_cues",
      """WITH c AS (SELECT doc_id, g.i AS cue_idx,
        |    g.i * 2000 + doc_id % 997 AS start_ms
        |  FROM documents, unnest(generate_series(0, 2)) AS g(i))
        |SELECT doc_id AS media_id, CAST(cue_idx AS BIGINT) AS cue_idx,
        |  CAST(start_ms AS BIGINT) AS start_ms,
        |  CAST(start_ms + 1500 AS BIGINT) AS end_ms,
        |  'cue ' || cue_idx || ' first line doc ' || doc_id || ' and more words'
        |    AS text
        |FROM c ORDER BY media_id, cue_idx""".stripMargin) { (s, dir) =>
      import graft.text.Subtitles
      def ts(startMs: org.apache.spark.sql.Column, sep: String) = concat(
        lit("00:00:0"), (startMs / 1000).cast("int").cast("string"), lit(sep),
        lpad((startMs % 1000).cast("string"), 3, "0"))
      def cue(i: Int, srt: Boolean) = {
        val st = lit(i * 2000) + col("doc_id") % 997
        val en = st + lit(1500)
        val sep = if (srt) "," else "."
        val idLine = if (srt) concat(lit(s"${i + 1}\n")) else lit("")
        val settings = if (srt) lit("") else lit(" align:start")
        concat(idLine, ts(st, sep), lit(" --> "), ts(en, sep), settings,
          lit(s"\ncue $i first line doc "), col("doc_id").cast("string"),
          lit("\nand more words\n\n"))
      }
      val srt = concat(cue(0, srt = true), cue(1, srt = true), cue(2, srt = true))
      val vtt = concat(lit("WEBVTT\n\nNOTE generated by graft\n\n"),
        cue(0, srt = false), cue(1, srt = false), cue(2, srt = false))
      val sub = when(col("doc_id") % 2 === 0, srt).otherwise(vtt)
      Subtitles.cues(
        Tables.load(s, dir, "documents")
          .select(col("doc_id").as("media_id"), sub.as("sub")),
        "media_id", "sub")
        .orderBy("media_id", "cue_idx")
    })
}
