package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.PartitionBatch

/** Spark plumbing for [[WarcCodec]]: crawl archives travel as opaque
  * `binary` columns (one .warc.gz per row — the per-capture shape) or as
  * one huge shared file decoded range-parallel; building and parsing run
  * in the one-decoder-per-partition batch shape shared with the media
  * codecs ([[graft.operators.PartitionBatch.mapPartitions]]: archives are
  * built through `synthesizeArchives` and parsed through `perArchive`),
  * and the outputs are plain relational tables the rest of the curation
  * pipeline (HTML extraction, URL canonicalization, dedup, quality
  * scoring) composes onto unchanged.
  */
object Warc {

  val WarcFileSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** The per-record relational projection — what a crawl intake routes on. */
  val RecordSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("rec_idx", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_type", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("http_status", LongType, nullable = true),
    StructField("http_content_type", StringType, nullable = true)))

  // ------------------------------------------------------------ synthesize

  /** The synthesizers' shape: `src` (`media_id` first, then the columns
    * the bytes are built from) spread across the session's shuffle
    * parallelism ([[PartitionBatch.spread]] — the exchange carries only
    * the pre-payload columns, bytes are built AFTER it), then one archive
    * per row, `build(row)`.
    */
  private def synthesizeArchives(src: DataFrame)(build: Row => Array[Byte]): DataFrame =
    PartitionBatch.mapPartitions(PartitionBatch.spread(src, "media_id"), WarcFileSchema) {
      rows => rows.map(r => Row(r.getLong(0), build(r)))
    }

  /** The parsers' shape: one parse per archive, `f(media_id, payload)`
    * giving its output rows.
    */
  private def perArchive(warcFiles: DataFrame, schema: StructType)(
      f: (Long, Array[Byte]) => Iterator[Row]): DataFrame = {
    val idIdx = warcFiles.schema.fieldIndex("media_id")
    val payloadIdx = warcFiles.schema.fieldIndex("payload")
    PartitionBatch.mapPartitions(warcFiles, schema) { rows =>
      rows.flatMap(r => f(r.getLong(idIdx), r.getAs[Array[Byte]](payloadIdx)))
    }
  }

  /** The 200 text/html responses of one archive — the extraction feed. */
  private def htmlEntities(archive: Array[Byte]): Iterator[WarcCodec.HttpResponse] =
    WarcCodec.parse(archive).iterator
      .filter(rec => rec.warcType == "response" &&
        rec.contentType.startsWith("application/http"))
      .map(rec => WarcCodec.parseHttpResponse(rec.block))
      .filter(h => h.status == 200 &&
        h.contentType.exists(_.toLowerCase.startsWith("text/html")))

  /** Fixed warcinfo block — every synthesized archive opens with it. */
  val WarcinfoBlock: String =
    "software: graft-crawler/1.0\r\nformat: WARC File Format 1.0\r\n"

  private val CaptureDate = "2026-08-12T00:00:00Z"

  private def warcinfo(id: Long, date: String): WarcCodec.WarcRecord =
    WarcCodec.WarcRecord("warcinfo", s"<urn:graft:$id:0>", None, date,
      "application/warc-fields", Nil, WarcinfoBlock.getBytes(UTF_8))

  /** Doc `id`'s two-record archive: warcinfo, then the response `block`. */
  private def responseArchive(id: Long, block: Array[Byte]): Array[Byte] =
    WarcCodec.build(Seq(warcinfo(id, CaptureDate),
      WarcCodec.WarcRecord("response", s"<urn:graft:$id:1>", Some(s"https://example.com/doc/$id"),
        CaptureDate, "application/http;msgtype=response", Nil, block)), gzipPerRecord = true)

  /** The capture request for doc `id` (the crawl's own GET). */
  def requestBlock(id: Long): String =
    s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\nUser-Agent: graftbot/1.0\r\n\r\n"

  /** The HTML entity for doc `id` — the q-HTML recipe shape (script +
    * comment + entities) so the archive exercises the full extraction
    * chain downstream.
    */
  def htmlBody(id: Long, lang: String, text: String): String =
    s"<html><head><title>Doc $id</title><script>var x=1;</script></head>" +
      s"<body><h1>${lang.toUpperCase(java.util.Locale.ROOT)}</h1><p>$text &amp; more</p>" +
      "<!-- note --></body></html>"

  /** The captured HTTP response: docs with id % 4 == 3 404 (crawls are
    * full of misses — the router must not feed them to extraction),
    * everything else 200 text/html with the recipe body.
    */
  def responseBlock(id: Long, lang: String, text: String): String =
    if (id % 4 == 3)
      "HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n" +
        "Content-Length: 9\r\n\r\nnot found"
    else {
      val b = htmlBody(id, lang, text)
      // Content-Length counts UTF-8 BYTES (the block is serialized with
      // getBytes(UTF_8) downstream), not String chars — non-ASCII text
      // would otherwise misstate the entity length on the wire.
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Content-Length: ${b.getBytes(UTF_8).length}\r\n\r\n$b"
    }

  /** The three records of doc `id`'s synthesized archive, in capture
    * order (warcinfo, request, response) — deterministic ids and a pinned
    * date, zero randomness (the media-synthesizer discipline: the oracle
    * replays the recipe arithmetically, so the bytes must be a pure
    * function of the row).
    */
  def docRecords(id: Long, lang: String, text: String): Seq[WarcCodec.WarcRecord] = {
    val uri = s"https://example.com/doc/$id"
    Seq(
      warcinfo(id, CaptureDate),
      WarcCodec.WarcRecord("request", s"<urn:graft:$id:1>", Some(uri), CaptureDate,
        "application/http;msgtype=request", Nil, requestBlock(id).getBytes(UTF_8)),
      WarcCodec.WarcRecord("response", s"<urn:graft:$id:2>", Some(uri), CaptureDate,
        "application/http;msgtype=response", Nil,
        responseBlock(id, lang, text).getBytes(UTF_8)))
  }

  /** The captured response with a WIRE-ENCODED entity — what real
    * crawls actually store: even ids carry `Transfer-Encoding: chunked`
    * framing (64-byte chunks, an extension on the first size line), odd
    * ids a `Content-Encoding: gzip` body; ids ≡ 5 (mod 10) stack BOTH
    * (chunked over gzip). The HTML inside is [[htmlBody]] verbatim, so
    * losslessness of the decode chain keeps downstream oracles
    * framing-free.
    */
  def responseBlockEncoded(id: Long, lang: String, text: String): Array[Byte] = {
    val html = htmlBody(id, lang, text).getBytes(UTF_8)
    def chunked(body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(body.length + 64)
      var p = 0
      var first = true
      while (p < body.length) {
        val n = math.min(64, body.length - p)
        val ext = if (first) ";graft=1" else ""
        out.write(f"$n%x$ext\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        out.write(body, p, n)
        out.write('\r'); out.write('\n')
        p += n
        first = false
      }
      out.write("0\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      out.toByteArray
    }
    val (headers, body) =
      if (id % 10 == 5) {
        val b = chunked(WarcCodec.gzipMember(html))
        ("Content-Type: text/html; charset=utf-8\r\n" +
          "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n", b)
      } else if (id % 2 == 0) {
        val b = chunked(html)
        ("Content-Type: text/html; charset=utf-8\r\nTransfer-Encoding: chunked\r\n", b)
      } else {
        val b = WarcCodec.gzipMember(html)
        (s"Content-Type: text/html; charset=utf-8\r\nContent-Encoding: gzip\r\n" +
          s"Content-Length: ${b.length}\r\n", b)
      }
    ("HTTP/1.1 200 OK\r\n" + headers + "\r\n").getBytes(UTF_8) ++ body
  }

  /** [[synthesizeWarc]]'s wire-encoded twin: response entities arrive
    * chunked / gzipped / both, per [[responseBlockEncoded]].
    */
  def synthesizeWarcEncoded(df: DataFrame, idCol: String): DataFrame =
    synthesizeArchives(df.select(
      col(idCol).cast("long").as("media_id"), col("lang"), col("text"))) { r =>
      val id = r.getLong(0)
      responseArchive(id, responseBlockEncoded(id, r.getString(1), r.getString(2)))
    }

  /** [[htmlResponses]] with ENTITY DECODING ([[WarcCodec.decodeEntity]]):
    * chunked framing undone, content codings inflated — the feed real
    * captures need before extraction sees a byte.
    */
  def htmlResponsesDecoded(warcFiles: DataFrame): DataFrame =
    perArchive(warcFiles, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("encoding", StringType, nullable = false),
      StructField("html", StringType, nullable = false)))) { (id, archive) =>
      htmlEntities(archive).map { h =>
        def has(n: String, v: String) = h.headers.exists { case (k, hv) =>
          k.equalsIgnoreCase(n) && hv.toLowerCase.contains(v)
        }
        val enc = Seq(
          if (has("Transfer-Encoding", "chunked")) Some("chunked") else None,
          if (has("Content-Encoding", "gzip")) Some("gzip") else None)
          .flatten match {
          case Nil => "identity"
          case es => es.mkString("+")
        }
        val (_, _, text) = decodeHtmlCharset(h)
        Row(id, enc, text)
      }
    }

  // --------------------------------------------------------------- charset

  private val HttpCharsetParam = "(?i)charset\\s*=\\s*\"?([^\";\\s]+)".r
  private val MetaCharsetAttr = "(?i)<meta\\s[^>]*charset\\s*=\\s*[\"']?([\\w][\\w.:-]*)".r

  /** Resolve the charset of an HTML entity, WHATWG-HTML §13.2-style
    * (the encoding-sniffing order every browser implements, so the
    * corpus decodes the way the page actually rendered):
    *
    *   1. byte-order mark — authoritative, OVERRIDES labels (the
    *      wrong-label case: a `charset=shift_jis` header on a UTF-16LE
    *      body with a BOM decodes as UTF-16LE);
    *   2. the transport layer: the HTTP `Content-Type` charset param;
    *   3. in-document prescan of the first 1024 bytes for
    *      `<meta charset=…>` / `<meta http-equiv … charset=…>`;
    *   4. trial decode ([[Sniff.detectEncoding]] — strict UTF-8, then
    *      UTF-16);
    *   5. windows-1252, the HTML5 default for unlabeled legacy bytes.
    *
    * Unknown/unsupported labels fall through to the next source rather
    * than failing — a crawl is full of `charset=unicode` garbage.
    * Returns (lowercase charset label, source ∈ bom|http|meta|sniff|default).
    */
  def resolveCharset(httpContentType: Option[String], body: Array[Byte]): (String, String) = {
    def bom: Option[String] =
      if (body.length >= 3 && body(0) == 0xEF.toByte && body(1) == 0xBB.toByte &&
        body(2) == 0xBF.toByte) Some("utf-8")
      else if (body.length >= 2 && body(0) == 0xFF.toByte && body(1) == 0xFE.toByte)
        Some("utf-16le")
      else if (body.length >= 2 && body(0) == 0xFE.toByte && body(1) == 0xFF.toByte)
        Some("utf-16be")
      else None
    def supported(label: String): Option[String] = {
      val t = label.trim.toLowerCase
      try { java.nio.charset.Charset.forName(t); Some(t) }
      catch { case _: Exception => None }
    }
    def httpLabel = httpContentType
      .flatMap(ct => HttpCharsetParam.findFirstMatchIn(ct).map(_.group(1)))
      .flatMap(supported)
    def metaLabel = {
      // prescan window decoded as latin-1: every byte maps, and the
      // markup we are matching is ASCII regardless of the body charset
      val head = new String(body, 0, math.min(body.length, 1024),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      MetaCharsetAttr.findFirstMatchIn(head).map(_.group(1)).flatMap(supported)
    }
    bom.map((_, "bom"))
      .orElse(httpLabel.map((_, "http")))
      .orElse(metaLabel.map((_, "meta")))
      .orElse(Sniff.detectEncoding(body).map(n => (n.toLowerCase, "sniff")))
      .getOrElse(("windows-1252", "default"))
  }

  /** Entity decode + charset-routed text decode for a 200 text/html
    * response: undo transfer/content codings ([[WarcCodec.decodeEntity]]),
    * resolve the charset ([[resolveCharset]]), decode, strip a leading
    * BOM character. Returns (charset, source, text).
    */
  def decodeHtmlCharset(h: WarcCodec.HttpResponse): (String, String, String) = {
    val body = WarcCodec.decodeEntity(h)
    val (cs, src) = resolveCharset(h.contentType, body)
    val s = new String(body, java.nio.charset.Charset.forName(cs))
    val text = if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s
    (cs, src, text)
  }

  /** The charset-routed extraction feed: 200 text/html response entities
    * with wire codings undone AND the charset resolved per
    * [[resolveCharset]] — (media_id, charset, charset_source, html).
    * The fix for the silent-mojibake failure mode: a windows-1252 or
    * shift_jis capture decoded as UTF-8 poisons the corpus invisibly.
    */
  def htmlResponsesCharsetRouted(warcFiles: DataFrame): DataFrame =
    perArchive(warcFiles, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("charset", StringType, nullable = false),
      StructField("charset_source", StringType, nullable = false),
      StructField("html", StringType, nullable = false)))) { (id, archive) =>
      htmlEntities(archive).map { h =>
        val (cs, src, text) = decodeHtmlCharset(h)
        Row(id, cs, src, text)
      }
    }

  /** Per-charset payload suffix for [[synthesizeWarcCharsets]] — each
    * mode's text carries characters DIAGNOSTIC of its charset (bytes
    * that are invalid or different under UTF-8), so a routing mistake
    * cannot round-trip to the right answer.
    */
  def charsetPayload(mode: Int, text: String): String = mode match {
    case 0 => text + " — déjà vu"
    case 1 => text + " café € résumé"
    case 2 => text + " テスト"
    case 3 => text + " Ωδ — test"
    case 5 => text + " 中文—测试"
    case 6 => text + " 한국어 테스트"
    case 7 => text + " ąćęłńśźż"
    case 8 => text + " café € résumé"
    case _ => text + " naïve — ok"
  }

  /** Mode `mode`'s in-document charset label (empty when the mode labels
    * via HTTP, BOM, or not at all).
    */
  def charsetMetaTag(mode: Int): String = mode match {
    case 1 =>
      "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=windows-1252\">"
    case 2 => "<meta charset=\"shift_jis\">"
    case 6 => "<meta charset=\"euc-kr\">"
    case 7 =>
      "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=iso-8859-2\">"
    case 8 => "<meta charset=\"shift_jis\">" // the LIE the header overrides
    case _ => ""
  }

  private def charsetHtml(id: Long, mode: Int, payload: String): String =
    s"<html><head>${charsetMetaTag(mode)}<title>Doc $id</title></head>" +
      s"<body><p>$payload</p></body></html>"

  /** One captured response in labeling shape `mode` (see
    * [[responseBlockCharset]] for 0–4, [[responseBlockCharsetWide]] for
    * the full nine).
    */
  def responseBlockCharsetMode(id: Long, mode: Int, text: String): Array[Byte] =
    encodeCharsetResponse(mode, charsetHtml(id, mode, charsetPayload(mode, text)))

  /** Encode a PREBUILT html page as mode `mode`'s HTTP response block —
    * the charset/label machinery without the fixed page shape, so
    * richer fixtures ([[synthesizeWarcBoilerplate]]) route through the
    * identical encoding matrix.
    */
  def encodeCharsetResponse(mode: Int, html: String): Array[Byte] = {
    val (ctHeader, bytes) = mode match {
      case 0 => ("text/html; charset=utf-8", html.getBytes(UTF_8))
      case 1 => ("text/html", html.getBytes("windows-1252"))
      case 2 => ("text/html", html.getBytes("Shift_JIS"))
      case 3 => ("text/html; charset=shift_jis",
        Array(0xFF.toByte, 0xFE.toByte) ++ html.getBytes("UTF-16LE"))
      case 5 => ("text/html; charset=gb18030", html.getBytes("GB18030"))
      case 6 => ("text/html", html.getBytes("EUC-KR"))
      case 7 => ("text/html", html.getBytes("ISO-8859-2"))
      case 8 => ("text/html; charset=windows-1252", html.getBytes("windows-1252"))
      case _ => ("text/html", html.getBytes(UTF_8))
    }
    (s"HTTP/1.1 200 OK\r\nContent-Type: $ctHeader\r\n" +
      s"Content-Length: ${bytes.length}\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ bytes
  }

  /** The captured response in one of FIVE charset-labeling shapes, keyed
    * by id % 5 (what a real crawl mixes on every shard):
    *   0 — UTF-8, labeled in the HTTP header;
    *   1 — windows-1252, labeled ONLY by an http-equiv meta tag;
    *   2 — shift_jis, labeled ONLY by `<meta charset=…>`;
    *   3 — WRONG LABEL: header claims shift_jis, body is UTF-16LE with
    *       a BOM (the BOM must win);
    *   4 — unlabeled UTF-8 (trial decode resolves it).
    */
  def responseBlockCharset(id: Long, text: String): Array[Byte] =
    responseBlockCharsetMode(id, (id % 5).toInt, text)

  /** The WIDE labeling matrix, keyed by id % 9 — [[responseBlockCharset]]'s
    * five shapes plus the East-Asian/Central-European legacy encodings
    * real crawls carry and a SECOND conflict direction:
    *   5 — gb18030, labeled in the HTTP header;
    *   6 — euc-kr, labeled ONLY by `<meta charset=…>`;
    *   7 — iso-8859-2, labeled ONLY by an http-equiv meta tag;
    *   8 — CONFLICT: header says windows-1252, a meta tag LIES
    *       shift_jis, body is windows-1252 — the transport label must
    *       win over the in-document one (WHATWG order), the mirror of
    *       mode 3's BOM-over-header.
    */
  def responseBlockCharsetWide(id: Long, text: String): Array[Byte] =
    responseBlockCharsetMode(id, (id % 9).toInt, text)

  // ------------------------------------------------------------------ cdx

  /** sha-256 payload digest in WARC header form (`sha-256:<hex>`). The
    * WARC standard's customary algorithm is sha1/base32, but the spec
    * (ISO 28500 §5.8) allows any labeled algorithm — sha-256 hex is
    * chosen because every engine in the gate loop can replay it.
    */
  def payloadDigest(entity: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(entity)
    "sha-256:" + d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Synthesized archives WITH CRAWL-DEDUP REVISITS — the Common Crawl
    * shape [[synthesizeWarc]] lacks: docs sharing a content group
    * `doc_id div 4` have the IDENTICAL entity body; the group's first
    * doc (id % 4 == 0) stores the full `response`, the other three store
    * `revisit` records instead (WARC-Profile identical-payload-digest,
    * WARC-Payload-Digest of the body they did NOT store, WARC-Refers-To-
    * Target-URI of the original capture, empty block) — exactly how a
    * crawler avoids re-storing an unchanged page. WARC-Date seconds vary
    * per doc (id % 60) so the CDX timestamp column is non-constant.
    */
  def synthesizeWarcRevisits(df: DataFrame, idCol: String): DataFrame =
  synthesizeArchives(df.select(col(idCol).cast("long").as("media_id"))) { r =>
      val id = r.getLong(0)
      val cg = id / 4
      val uri = s"https://example.com/doc/$id"
      val date = f"2026-08-12T00:00:${id % 60}%02dZ"
      val body = htmlBody(cg, "en", s"group body $cg")
      val block =
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
          s"Content-Length: ${body.getBytes(UTF_8).length}\r\n\r\n" + body)
          .getBytes(UTF_8)
      val digest = payloadDigest(body.getBytes(UTF_8))
      val capture =
        if (id % 4 == 0)
          WarcCodec.WarcRecord("response", s"<urn:graft:$id:1>", Some(uri), date,
            "application/http;msgtype=response",
            Seq("WARC-Payload-Digest" -> digest), block)
        else
          WarcCodec.WarcRecord("revisit", s"<urn:graft:$id:1>", Some(uri), date,
            "application/http;msgtype=response",
            Seq(
              "WARC-Payload-Digest" -> digest,
              "WARC-Profile" ->
                "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
              "WARC-Refers-To-Target-URI" ->
                s"https://example.com/doc/${4 * (id / 4)}"),
            Array.emptyByteArray)
      WarcCodec.build(Seq(warcinfo(id, date), capture), gzipPerRecord = true)
    }

  /** CDX(J) capture index — the standard lookup table over a WARC
    * corpus (what wayback machines and crawl curators key on): one row
    * per `response`/`revisit` record with the SURT key, the 14-digit
    * timestamp, the payload digest, mime, HTTP status, and the record's
    * (offset, length) INTO ITS ARCHIVE so a reader can fetch the single
    * gzip member without scanning the file. Offsets come from the RFC
    * 1952 member walk ([[WarcCodec.memberOffsets]]); the digest is the
    * `WARC-Payload-Digest` header when the record carries one (revisits
    * MUST — the body is not stored), else sha-256 over the decoded
    * entity. One mapPartitions pass per archive, zero shuffle — the
    * SURT/timestamp projections are column expressions on top.
    */
  def cdxIndex(warcFiles: DataFrame): DataFrame =
    perArchive(warcFiles, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("target_uri", StringType, nullable = false),
      StructField("warc_date", StringType, nullable = false),
      StructField("digest", StringType, nullable = false),
      StructField("mime", StringType, nullable = false),
      StructField("status", LongType, nullable = true),
      StructField("offset", LongType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("is_revisit", BooleanType, nullable = false)))) { (id, bytes) =>
      WarcCodec.memberOffsets(bytes).iterator.flatMap { case (off, len) =>
        val rec = WarcCodec.parseMemberAt(bytes, off)
        def hdr(n: String): Option[String] =
          rec.headers.collectFirst { case (k, v) if k.equalsIgnoreCase(n) => v }
        rec.warcType match {
          case "revisit" =>
            Some(Row(id, rec.targetUri.getOrElse(""), rec.date,
              hdr("WARC-Payload-Digest").getOrElse(""),
              "warc/revisit", null, off.toLong, len.toLong, true))
          case "response" if rec.contentType.startsWith("application/http") =>
            val h = WarcCodec.parseHttpResponse(rec.block)
            val mime = h.contentType.map(_.takeWhile(_ != ';').trim).getOrElse("")
            val digest = hdr("WARC-Payload-Digest")
              .getOrElse(payloadDigest(WarcCodec.decodeEntity(h)))
            Some(Row(id, rec.targetUri.getOrElse(""), rec.date,
              digest, mime, h.status.toLong, off.toLong, len.toLong, false))
          case _ => None
        }
      }
    }
      .withColumn("surt", graft.text.TextAnalysis.surtKey(col("target_uri")))
      .withColumn("ts14", regexp_replace(col("warc_date"), "[^0-9]", ""))
      .select(col("media_id"), col("surt"), col("ts14"), col("digest"),
        col("mime"), col("status"), col("offset"), col("length"),
        col("is_revisit"))

  /** FETCH-BY-GEOMETRY verification — the loop [[cdxIndex]]'s (offset,
    * length) columns exist to close: a wayback reader never scans the
    * archive, it issues a ranged read of exactly [offset, offset+length)
    * and expects ONE complete gzip member whose payload digest matches
    * the index row. This operator replays that contract: each non-
    * revisit CDX row joins its archive (one media-id equi-join — the
    * archives are the big side, the index rides with it), the byte
    * slice is cut EXACTLY at the recorded geometry, the member must
    * parse standalone AND cover the slice end to end (an off-by-one in
    * either field breaks the RFC 1952 walk or truncates the inflate),
    * and the re-derived sha-256 payload digest is emitted next to the
    * indexed one. `geometry_ok` = standalone parse + exact member span
    * + digest equality.
    */
  def cdxFetch(warcFiles: DataFrame, cdx: DataFrame): DataFrame = {
    val joined = cdx.filter(!col("is_revisit"))
      .select(col("media_id"), col("digest"), col("offset"), col("length"))
      .join(warcFiles.select(col("media_id"), col("payload")), Seq("media_id"))
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("digest", StringType, nullable = false),
      StructField("fetched_digest", StringType, nullable = true),
      StructField("geometry_ok", BooleanType, nullable = false)))
    val idIdx = joined.schema.fieldIndex("media_id")
    val digIdx = joined.schema.fieldIndex("digest")
    val offIdx = joined.schema.fieldIndex("offset")
    val lenIdx = joined.schema.fieldIndex("length")
    val payIdx = joined.schema.fieldIndex("payload")
    PartitionBatch.mapPartitions(joined, outSchema) { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val indexed = r.getString(digIdx)
        val off = r.getLong(offIdx)
        val len = r.getLong(lenIdx)
        val bytes = r.getAs[Array[Byte]](payIdx)
        val fetched: Option[String] =
          if (off < 0 || len <= 0 || off + len > bytes.length) None
          else try {
            val slice = java.util.Arrays.copyOfRange(
              bytes, off.toInt, (off + len).toInt)
            // the ranged read must be ONE complete member, no slack
            if (WarcCodec.memberOffsets(slice).toSeq != Seq((0, slice.length))) None
            else {
              val rec = WarcCodec.parseMemberAt(slice, 0)
              if (!rec.contentType.startsWith("application/http")) None
              else Some(payloadDigest(
                WarcCodec.decodeEntity(WarcCodec.parseHttpResponse(rec.block))))
            }
          } catch {
            // the codec's typed rejections (torn member, bad CRC, non-
            // WARC bytes) are exactly what bad geometry produces — this
            // operator's job is to REPORT them as geometry failures,
            // not abort the audit
            case _: IllegalArgumentException => None
          }
        Row(id, indexed, fetched.orNull, fetched.contains(indexed))
      }
    }
  }

  /** Resolve `revisit` rows against the digest index: each revisit joins
    * the EARLIEST full capture with the same payload digest — (ts14,
    * media_id, offset) min, the wayback resolution rule. ONE equi-join
    * on the digest (originals pre-reduced to one row per digest by a
    * grouped min-struct, so the join side is small and broadcastable);
    * revisits whose digest has no stored capture surface with null
    * originals — the audit case (a revisit pointing outside the corpus).
    */
  def resolveRevisits(cdx: DataFrame): DataFrame = {
    val originals = cdx.filter(!col("is_revisit"))
      .groupBy(col("digest"))
      .agg(min(struct(col("ts14"), col("media_id"), col("offset"))).as("_o"))
      .select(col("digest"),
        col("_o.media_id").as("orig_media_id"),
        col("_o.ts14").as("orig_ts14"),
        col("_o.offset").as("orig_offset"))
    cdx.filter(col("is_revisit"))
      .select(col("media_id"), col("surt"), col("ts14"), col("digest"))
      .join(originals, Seq("digest"), "left")
      .select(col("media_id"), col("surt"), col("ts14"), col("digest"),
        col("orig_media_id"), col("orig_ts14"), col("orig_offset"),
        col("orig_media_id").isNotNull.as("resolved"))
  }

  /** [[synthesizeWarc]]'s charset-mix twin: response entities arrive in
    * the five labeling shapes of [[responseBlockCharset]].
    */
  def synthesizeWarcCharsets(df: DataFrame, idCol: String): DataFrame =
    synthesizeArchives(df.select(col(idCol).cast("long").as("media_id"), col("text"))) { r =>
      val id = r.getLong(0)
      responseArchive(id, responseBlockCharset(id, r.getString(1)))
    }

  /** The crawl-capstone intake: one archive per row of a PREPARED feed
    * (`media_id`, `mode`, `text`, `lang`) whose response is a
    * BOILERPLATE page — charset meta + title in the head, a link-dense
    * nav, the document paragraph (the mode's charset payload), a short
    * heading bridged between two long paragraphs, a read-more teaser,
    * and a link-dense footer — encoded through the same charset matrix
    * as [[synthesizeWarcCharsets]]. The page every capstone stage has
    * something to do with: the charset router must pick the right
    * decode, main-content must strip nav/teaser/footer and bridge the
    * heading, and the payload carries the tokens everything downstream
    * counts.
    */
  def synthesizeWarcBoilerplate(feed: DataFrame): DataFrame =
    synthesizeArchives(feed.select(col("media_id").cast("long"), col("mode").cast("int"),
      col("text"), col("lang"))) { r =>
      val id = r.getLong(0)
      val mode = r.getInt(1)
      val payload = charsetPayload(mode, r.getString(2))
      val lang = r.getString(3)
      val html =
        s"<html><head>${charsetMetaTag(mode)}<title>Doc $id</title></head><body>" +
          "<div id=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/b\">More</a></div>" +
          s"<p>$payload</p><h2>Part two</h2>" +
          s"<p>Appendix ${lang.toUpperCase(java.util.Locale.ROOT)} stable words &amp; digits here</p>" +
          "<div><a href=\"/x\">read more</a> teaser</div>" +
          "<div id=\"foot\"><a>Terms</a> <a>Privacy</a> (c)</div></body></html>"
      responseArchive(id, encodeCharsetResponse(mode, html))
    }

  /** [[synthesizeWarcCharsets]] over the WIDE nine-shape labeling matrix
    * ([[responseBlockCharsetWide]]).
    */
  def synthesizeWarcCharsetsWide(df: DataFrame, idCol: String): DataFrame =
    synthesizeArchives(df.select(col(idCol).cast("long").as("media_id"), col("text"))) { r =>
      val id = r.getLong(0)
      responseArchive(id, responseBlockCharsetWide(id, r.getString(1)))
    }

  /** One synthesized .warc.gz per document row (per-record gzip members —
    * the Common Crawl shape), payload a pure function of (doc_id, lang,
    * text).
    */
  def synthesizeWarc(df: DataFrame, idCol: String): DataFrame =
    synthesizeArchives(df.select(
      col(idCol).cast("long").as("media_id"), col("lang"), col("text"))) { r =>
      WarcCodec.build(docRecords(r.getLong(0), r.getString(1), r.getString(2)),
        gzipPerRecord = true)
    }

  // ----------------------------------------------------------------- parse

  /** Record inventory: every record of every archive as one relational
    * row — type, URI, declared content type, block length, and (for HTTP
    * records) the parsed status + entity content type. The route table a
    * crawl intake filters on BEFORE any payload decode.
    */
  def records(warcFiles: DataFrame): DataFrame =
    perArchive(warcFiles, RecordSchema) { (id, archive) =>
      WarcCodec.parse(archive).iterator.zipWithIndex.map { case (rec, i) =>
        recordRow(id, i.toLong, rec)
      }
    }

  /** One [[RecordSchema]] row. Routes on WARC-Type, not block shape:
    * request blocks are HTTP too, but their first line is a request line,
    * not a status line.
    */
  private def recordRow(mediaId: Long, recIdx: Long, rec: WarcCodec.WarcRecord): Row = {
    val http =
      if (rec.warcType == "response" && rec.contentType.startsWith("application/http"))
        Some(WarcCodec.parseHttpResponse(rec.block))
      else None
    Row(mediaId, recIdx, rec.warcType, rec.targetUri.orNull,
      rec.contentType, rec.block.length.toLong,
      http.map(h => h.status.toLong).orNull,
      http.flatMap(_.contentType).orNull)
  }

  /** The extraction feed: 200 text/html response entities, decoded UTF-8 —
    * (media_id, html). Compose [[graft.text.TextAnalysis.extractHtmlText]]
    * onto the `html` column for the full WARC → clean-text intake.
    */
  def htmlResponses(warcFiles: DataFrame): DataFrame =
    perArchive(warcFiles, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("html", StringType, nullable = false)))) { (id, archive) =>
      htmlEntities(archive).map(h => Row(id, new String(h.body, UTF_8)))
    }

  /** QUARANTINE twin of [[htmlResponses]] — per-ARCHIVE containment for
    * streaming intake: a good archive emits one (ok=true) row per
    * 200 text/html entity; an archive whose parse fails the codecs'
    * typed IllegalArgumentException emits exactly ONE (ok=false,
    * decode_error) audit row instead of failing the task — crawled
    * archives are hostile, and one torn .warc.gz in a feed must cost one
    * audit row, not the stream. Other exception types still propagate
    * (a parser BUG should stop the job; only corrupt DATA is contained).
    */
  def htmlTextQuarantine(warcFiles: DataFrame): DataFrame =
    perArchive(warcFiles, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("decode_error", StringType, nullable = true),
      StructField("html", StringType, nullable = true)))) { (id, archive) =>
      // materialized inside the try: a torn archive throws mid-walk
      try htmlEntities(archive).map(h => Row(id, true, null, new String(h.body, UTF_8)))
        .toList.iterator
      catch {
        case e: IllegalArgumentException => Iterator.single(Row(id, false, e.getMessage, null))
      }
    }

  /** Range-parallel record inventory of ONE huge .warc.gz: the member
    * walk ([[WarcCodec.memberOffsets]] — cheap, header-hop only) yields
    * the split map driver-side, then members parse across `parallelism`
    * tasks via [[WarcCodec.parseMemberAt]] — a single 1 GB Common Crawl
    * file must not pin one task. Payload ships by broadcast in the
    * single-JVM shape; on a cluster the same (offset, len) map drives
    * ranged reads against the object store (the AVI `frameOffsets`
    * contract). Output schema equals [[records]]'s with `rec_idx` =
    * member ordinal, so split == whole-file is directly assertable.
    */
  def splitRecords(
      spark: SparkSession,
      mediaId: Long,
      payload: Array[Byte],
      parallelism: Int): DataFrame = {
    val offs = WarcCodec.memberOffsets(payload)
    val bc = spark.sparkContext.broadcast(payload)
    // member ordinals, split evenly over `parallelism` tasks
    val members = spark.range(0L, offs.length.toLong, 1L, math.max(parallelism, 1)).toDF()
    PartitionBatch.mapPartitions(members, RecordSchema) { rows =>
      rows.map { r =>
        val i = r.getLong(0)
        recordRow(mediaId, i, WarcCodec.parseMemberAt(bc.value, offs(i.toInt)._1))
      }
    }
  }
}
