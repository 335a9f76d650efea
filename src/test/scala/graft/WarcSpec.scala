package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.ingest.{Warc, WarcCodec}
import org.apache.spark.sql.functions._

/** WARC intake gates: record framing round-trip (plain + per-record
  * gzip), RFC 1952 member handling (optional header fields, CRC/ISIZE
  * verification, multi-record members), HTTP response splitting, the
  * member-offset split map, boundary recovery from arbitrary byte
  * ranges, range-parallel == serial, and loud typed failure on torn or
  * corrupted archives (crawled input is hostile).
  */
class WarcSpec extends SparkSpec {

  private def recs(n: Int): Seq[WarcCodec.WarcRecord] =
    (0 until n).flatMap(i => Warc.docRecords(i.toLong, "en", s"alpha beta doc $i gamma"))

  test("WarcCodec: plain round-trip preserves every field and the block bytes") {
    val in = recs(3)
    val out = WarcCodec.parse(WarcCodec.build(in, gzipPerRecord = false))
    assert(out.size == in.size)
    in.zip(out).foreach { case (a, b) =>
      assert(a.warcType == b.warcType && a.recordId == b.recordId &&
        a.targetUri == b.targetUri && a.date == b.date &&
        a.contentType == b.contentType)
      assert(a.block.toSeq == b.block.toSeq)
    }
  }

  test("WarcCodec: per-record gzip round-trip and member map") {
    val in = recs(4)
    val gz = WarcCodec.build(in, gzipPerRecord = true)
    assert(WarcCodec.isGzip(gz))
    assert(WarcCodec.parse(gz).map(_.recordId) == in.map(_.recordId))
    val offs = WarcCodec.memberOffsets(gz)
    assert(offs.length == in.size) // one member per record
    assert(offs.head._1 == 0 && offs.map(_._2).sum == gz.length) // members tile the file
    offs.zip(in).foreach { case ((o, _), r) =>
      assert(WarcCodec.parseMemberAt(gz, o).recordId == r.recordId)
    }
  }

  test("WarcCodec: extra custom headers survive; reserved names not duplicated") {
    val r = WarcCodec.WarcRecord("metadata", "<urn:x:1>", None, "2026-08-12T00:00:00Z",
      "application/warc-fields",
      Seq("WARC-Concurrent-To" -> "<urn:x:0>", "Content-Length" -> "999"),
      "k: v\r\n".getBytes(UTF_8))
    val out = WarcCodec.parse(WarcCodec.writeRecord(r)).head
    assert(out.headers.count(_._1.equalsIgnoreCase("Content-Length")) == 1)
    assert(out.headers.contains("WARC-Concurrent-To" -> "<urn:x:0>"))
    assert(out.block.toSeq == r.block.toSeq)
  }

  test("WarcCodec: gzip member with FNAME/FCOMMENT/FEXTRA/FHCRC fields parses") {
    val raw = WarcCodec.writeRecord(recs(1).head)
    // hand-build a member with FEXTRA + FNAME + FCOMMENT set (FLG = 0x1c)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0x1c, 0, 0, 0, 0, 0, 0))
    out.write(Array[Byte](4, 0)); out.write(Array[Byte](1, 2, 3, 4)) // FEXTRA xlen=4
    out.write("name.warc".getBytes(UTF_8)); out.write(0) // FNAME
    out.write("comment".getBytes(UTF_8)); out.write(0) // FCOMMENT
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    val crc = new java.util.zip.CRC32(); crc.update(raw)
    for (v <- Seq(crc.getValue, raw.length.toLong); i <- 0 until 4)
      out.write(((v >> (8 * i)) & 0xff).toInt)
    val parsed = WarcCodec.parse(out.toByteArray)
    assert(parsed.size == 1 && parsed.head.warcType == "warcinfo")
  }

  test("WarcCodec: corrupted member CRC and torn records throw typed") {
    val gz = WarcCodec.build(recs(1), gzipPerRecord = true)
    val bad = gz.clone(); bad(gz.length / 2) = (bad(gz.length / 2) ^ 0x40).toByte
    val e1 = intercept[IllegalArgumentException](WarcCodec.parse(bad))
    assert(e1.getMessage.startsWith("warc:"))
    val torn = java.util.Arrays.copyOf(gz, gz.length - 6)
    val e2 = intercept[IllegalArgumentException](WarcCodec.parse(torn))
    assert(e2.getMessage.startsWith("warc:"))
    val plain = WarcCodec.build(recs(1), gzipPerRecord = false)
    val noTerm = java.util.Arrays.copyOf(plain, plain.length - 2)
    val e3 = intercept[IllegalArgumentException](WarcCodec.parse(noTerm))
    assert(e3.getMessage.contains("CRLF"))
  }

  test("WarcCodec: splitPoints recovers members from arbitrary byte ranges") {
    val in = recs(8)
    val gz = WarcCodec.build(in, gzipPerRecord = true)
    val truth = WarcCodec.memberOffsets(gz).map(_._1)
    // tile the file with 3 naive ranges; union of claimed starts == truth
    val cuts = Seq(0, gz.length / 3, 2 * gz.length / 3, gz.length)
    val claimed = cuts.sliding(2).flatMap { case Seq(a, b) =>
      WarcCodec.splitPoints(gz, a, b)
    }.toSeq
    assert(claimed.sorted == truth.toSeq.sorted)
    assert(claimed.distinct.size == claimed.size) // no record claimed twice
  }

  test("WarcCodec: splitPoints survives a candidate that passes the prefix " +
    "probe but fails the full inflate") {
    // hostile-data shape: a member whose first deflate bytes decompress to
    // `WARC/` (so validMemberAt accepts it) but whose CRC trailer is
    // corrupt. The range scan must DROP it and keep scanning — not abort.
    val in = recs(4)
    val gz = WarcCodec.build(in, gzipPerRecord = true)
    val offs = WarcCodec.memberOffsets(gz)
    val (secondOff, secondLen) = offs(1)
    val bad = gz.clone()
    // flip a bit in member 2's CRC32 trailer (last 8 bytes = CRC + ISIZE)
    val crcPos = secondOff + secondLen - 8
    bad(crcPos) = (bad(crcPos) ^ 0x01).toByte
    val claimed = WarcCodec.splitPoints(bad, 0, bad.length)
    // member 2 dropped; every other member still claimed
    assert(!claimed.contains(secondOff))
    assert(offs.map(_._1).filterNot(_ == secondOff).forall(claimed.contains))
  }

  test("cdxIndex: offsets fetch the exact record; lengths tile the archive; " +
    "unresolvable revisit surfaces") {
    val docs = spark.range(0, 12).toDF("doc_id")
    val files = Warc.synthesizeWarcRevisits(docs, "doc_id")
    val payloads = files.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val cdx = Warc.cdxIndex(files).collect()
    assert(cdx.length == 12)
    cdx.foreach { r =>
      val id = r.getLong(0)
      val off = r.getLong(6).toInt
      val len = r.getLong(7).toInt
      // the CDX contract: (offset, length) alone fetch the single record
      val rec = graft.ingest.WarcCodec.parseMemberAt(payloads(id), off)
      assert(rec.targetUri.contains(s"https://example.com/doc/$id"))
      assert(rec.warcType == (if (id % 4 == 0) "response" else "revisit"))
      // the member really is len bytes: parsing the slice alone works too
      val slice = java.util.Arrays.copyOfRange(payloads(id), off, off + len)
      assert(graft.ingest.WarcCodec.parseMemberAt(slice, 0).recordId == rec.recordId)
    }
    // a revisit whose digest has no stored capture resolves to nulls
    val orphanOnly = Warc.resolveRevisits(
      Warc.cdxIndex(files).filter(col("media_id") =!= 0L && col("media_id") < 4L))
    val rows = orphanOnly.orderBy("media_id").collect()
    assert(rows.length == 3 && rows.forall(r => !r.getBoolean(7) && r.isNullAt(4)))
  }

  test("Warc.resolveCharset: WHATWG order — BOM > http label > meta > sniff > default") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def cs(ct: Option[String], body: Array[Byte]) = Warc.resolveCharset(ct, body)
    // BOM overrides a contradicting http label (the wrong-label case)
    val utf16 = Array(0xFF.toByte, 0xFE.toByte) ++ "<html>x</html>".getBytes("UTF-16LE")
    assert(cs(Some("text/html; charset=shift_jis"), utf16) == ("utf-16le", "bom"))
    // UTF-8 BOM likewise wins
    val bom8 = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ "<p>é</p>".getBytes(UTF_8)
    assert(cs(Some("text/html; charset=windows-1252"), bom8) == ("utf-8", "bom"))
    // http label wins over meta when both present and no BOM
    val metaSjis = "<html><head><meta charset=\"shift_jis\"></head></html>".getBytes(UTF_8)
    assert(cs(Some("text/html; charset=utf-8"), metaSjis) == ("utf-8", "http"))
    // meta (both attribute forms) when the header has no charset param
    assert(cs(Some("text/html"), metaSjis) == ("shift_jis", "meta"))
    val metaEquiv = ("<html><head><meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=windows-1252\"></head></html>").getBytes(ISO_8859_1)
    assert(cs(None, metaEquiv) == ("windows-1252", "meta"))
    // unsupported label falls through to the next source, not a failure
    assert(cs(Some("text/html; charset=utf-99"), "<p>plain</p>".getBytes(UTF_8))
      == ("utf-8", "sniff"))
    // unlabeled valid UTF-8 resolves by trial decode
    assert(cs(Some("text/html"), "<p>déjà</p>".getBytes(UTF_8)) == ("utf-8", "sniff"))
    // unlabeled NON-UTF-8 legacy bytes land on the html5 default
    assert(cs(Some("text/html"), "<p>café</p>".getBytes(ISO_8859_1))
      == ("windows-1252", "default"))
  }

  test("Warc: charset-mix archives decode to the exact recipe text per mode") {
    val docs = spark.range(0, 10).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
    val out = Warc.htmlResponsesCharsetRouted(Warc.synthesizeWarcCharsets(docs, "doc_id"))
      .orderBy("media_id").collect()
    assert(out.length == 10)
    out.foreach { r =>
      val id = r.getLong(0)
      val mode = (id % 5).toInt
      val expCs = Seq("utf-8", "windows-1252", "shift_jis", "utf-16le", "utf-8")(mode)
      val expSrc = Seq("http", "meta", "meta", "bom", "sniff")(mode)
      assert(r.getString(1) == expCs, s"charset for id=$id")
      assert(r.getString(2) == expSrc, s"source for id=$id")
      val html = r.getString(3)
      assert(!html.startsWith("﻿")) // BOM char stripped after decode
      assert(html.contains(Warc.charsetPayload(mode, s"doc $id")), s"payload for id=$id")
    }
  }

  test("cdxFetch: exact geometry verifies; any off-by-one in offset or length " +
    "fails geometry_ok instead of silently passing") {
    val docs = spark.range(0, 8).toDF("doc_id")
    val files = Warc.synthesizeWarcRevisits(docs, "doc_id")
    val cdx = Warc.cdxIndex(files)
    val ok = Warc.cdxFetch(files, cdx).collect()
    assert(ok.length == 2) // responses only: ids 0 and 4
    ok.foreach { r =>
      assert(r.getBoolean(3), s"geometry_ok for ${r.getLong(0)}")
      assert(r.getString(1) == r.getString(2), "re-derived digest equals indexed")
    }
    // perturb the geometry: +1 offset breaks the member walk, −1 length
    // truncates the inflate, +1 length leaves slack — all must FAIL
    def perturbed(d: org.apache.spark.sql.Column*) = Warc.cdxFetch(
      files, cdx.select(col("media_id"), col("digest"), d(0).as("offset"),
        d(1).as("length"), col("is_revisit"))).collect()
    assert(perturbed(col("offset") + 1, col("length"))
      .forall(r => !r.getBoolean(3)), "offset drift must fail")
    assert(perturbed(col("offset"), col("length") - 1)
      .forall(r => !r.getBoolean(3)), "short length must fail")
    assert(perturbed(col("offset"), col("length") + 1)
      .forall(r => !r.getBoolean(3)), "slack length must fail")
    // a wrong indexed digest surfaces as mismatch, not a crash
    val wrongDigest = Warc.cdxFetch(
      files, cdx.withColumn("digest", lit("sha-256:0000"))).collect()
    assert(wrongDigest.forall(r => !r.getBoolean(3) && r.getString(2) != null))
  }

  test("Warc: WIDE charset matrix — nine labeling shapes incl. gb18030/euc-kr/" +
    "iso-8859-2 and both conflict directions") {
    val docs = spark.range(0, 18).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
    val out = Warc.htmlResponsesCharsetRouted(
      Warc.synthesizeWarcCharsetsWide(docs, "doc_id"))
      .orderBy("media_id").collect()
    assert(out.length == 18)
    val expCs = Seq("utf-8", "windows-1252", "shift_jis", "utf-16le", "utf-8",
      "gb18030", "euc-kr", "iso-8859-2", "windows-1252")
    val expSrc = Seq("http", "meta", "meta", "bom", "sniff",
      "http", "meta", "meta", "http")
    out.foreach { r =>
      val id = r.getLong(0)
      val mode = (id % 9).toInt
      assert(r.getString(1) == expCs(mode), s"charset for id=$id")
      assert(r.getString(2) == expSrc(mode), s"source for id=$id")
      assert(r.getString(3).contains(Warc.charsetPayload(mode, s"doc $id")),
        s"payload round-trip for id=$id mode=$mode")
    }
    // conflict direction 2 explicitly: header windows-1252 beats the
    // in-document shift_jis lie (mode 8 = id 8 and 17)
    val m8 = out.filter(_.getLong(0) % 9 == 8)
    assert(m8.nonEmpty && m8.forall(r =>
      r.getString(1) == "windows-1252" && r.getString(2) == "http"))
    // and the € landed (1252's 0x80 — a shift_jis decode would garble it)
    assert(m8.forall(_.getString(3).contains("€")))
  }

  test("WarcCodec: http response split — 200 html and 404 miss") {
    val ok = WarcCodec.parseHttpResponse(
      Warc.responseBlock(2, "de", "hello world").getBytes(UTF_8))
    assert(ok.status == 200 && ok.reason == "OK")
    assert(ok.contentType.contains("text/html; charset=utf-8"))
    assert(new String(ok.body, UTF_8) == Warc.htmlBody(2, "de", "hello world"))
    val miss = WarcCodec.parseHttpResponse(
      Warc.responseBlock(3, "de", "hello").getBytes(UTF_8))
    assert(miss.status == 404 && new String(miss.body, UTF_8) == "not found")
  }

  test("Warc.records: inventory routes types, lengths, and http fields") {
    val docs = spark.range(0, 8).toDF("doc_id")
      .withColumn("lang", lit("en"))
      .withColumn("text", concat(lit("doc text "), col("doc_id")))
    val inv = Warc.records(Warc.synthesizeWarc(docs, "doc_id"))
      .orderBy("media_id", "rec_idx").collect()
    assert(inv.length == 24)
    val r0 = inv(0) // doc 0, warcinfo
    assert(r0.getString(2) == "warcinfo" && r0.isNullAt(3) && r0.isNullAt(6))
    assert(r0.getLong(5) == Warc.WarcinfoBlock.length.toLong)
    val resp2 = inv.filter(r => r.getLong(0) == 2 && r.getString(2) == "response").head
    assert(resp2.getLong(6) == 200L &&
      resp2.getString(7) == "text/html; charset=utf-8")
    val resp3 = inv.filter(r => r.getLong(0) == 3 && r.getString(2) == "response").head
    assert(resp3.getLong(6) == 404L && resp3.getString(7) == "text/plain")
    // requests carry no http status (routing is on WARC-Type, not shape)
    assert(inv.filter(_.getString(2) == "request").forall(_.isNullAt(6)))
  }

  test("Warc.htmlResponses feeds only 200 text/html entities to extraction") {
    val docs = spark.range(0, 8).toDF("doc_id")
      .withColumn("lang", lit("fr"))
      .withColumn("text", lit("bonjour le monde"))
    val html = Warc.htmlResponses(Warc.synthesizeWarc(docs, "doc_id"))
      .orderBy("media_id").collect()
    assert(html.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 4L, 5L, 6L)) // %4==3 dropped
    assert(html.head.getString(1) == Warc.htmlBody(0, "fr", "bonjour le monde"))
    val extracted = Warc.htmlResponses(Warc.synthesizeWarc(docs, "doc_id"))
      .select(col("media_id"),
        graft.text.TextAnalysis.extractHtmlText(col("html")).as("t"))
      .orderBy("media_id").head()
    assert(extracted.getString(1) == "Doc 0 FR bonjour le monde & more")
  }

  test("decodeEntity: chunked, gzip, stacked, and malformed wire bodies") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def resp(headers: String, body: Array[Byte]): WarcCodec.HttpResponse =
      WarcCodec.parseHttpResponse(
        ("HTTP/1.1 200 OK\r\n" + headers + "\r\n").getBytes(ISO_8859_1) ++ body)
    // chunked with extension + trailer line
    val chunked = "5;ext=1\r\nhello\r\n6\r\n world\r\n0\r\nX-T: v\r\n\r\n"
      .getBytes(ISO_8859_1)
    assert(new String(WarcCodec.decodeEntity(
      resp("Transfer-Encoding: chunked\r\n", chunked)), ISO_8859_1) == "hello world")
    // gzip content coding
    val gz = WarcCodec.gzipMember("compressed entity".getBytes(ISO_8859_1))
    assert(new String(WarcCodec.decodeEntity(
      resp("Content-Encoding: gzip\r\n", gz)), ISO_8859_1) == "compressed entity")
    // stacked: chunked framing over a gzip stream (undo order matters)
    val stacked = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(f"${gz.length}%x\r\n".getBytes(ISO_8859_1)); out.write(gz)
      out.write("\r\n0\r\n\r\n".getBytes(ISO_8859_1)); out.toByteArray
    }
    assert(new String(WarcCodec.decodeEntity(
      resp("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n", stacked)),
      ISO_8859_1) == "compressed entity")
    // recipe shapes round-trip through the real synthesizer
    for (id <- Seq(0L, 1L, 2L, 5L, 15L)) {
      val h = WarcCodec.parseHttpResponse(Warc.responseBlockEncoded(id, "en", "text body"))
      assert(new String(WarcCodec.decodeEntity(h), ISO_8859_1) ==
        Warc.htmlBody(id, "en", "text body"), s"id $id")
    }
    // malformed: bad hex, torn chunk, unsupported codings, corrupt gzip
    def fails(headers: String, body: Array[Byte], frag: String): Unit = {
      val e = intercept[IllegalArgumentException](
        WarcCodec.decodeEntity(resp(headers, body)))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    fails("Transfer-Encoding: chunked\r\n", "zz\r\nhi\r\n".getBytes(ISO_8859_1), "chunk size")
    fails("Transfer-Encoding: chunked\r\n", "ff\r\nshort\r\n".getBytes(ISO_8859_1), "overruns")
    fails("Transfer-Encoding: deflate-raw\r\n", "x".getBytes(ISO_8859_1), "transfer-encoding")
    fails("Content-Encoding: br\r\n", "x".getBytes(ISO_8859_1), "content-encoding")
    val badGz = gz.clone(); badGz(gz.length - 5) = (badGz(gz.length - 5) ^ 1).toByte
    fails("Content-Encoding: gzip\r\n", badGz, "warc:")
  }

  test("runWarcIngestStream: torn archive quarantined once, clean text flows") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.StreamingIngest
    val root = tmpDir("warcstream")
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    val textsDir = s"$root/texts"; val quarDir = s"$root/quarantine"
    Files.createDirectories(Paths.get(inDir))
    def docsDf(ids: Seq[Long]) = {
      import spark.implicits._
      ids.toDF("doc_id")
        .withColumn("lang", lit("en"))
        .withColumn("text", concat(lit("clean text body "), col("doc_id")))
    }
    def runLeg(): Unit = StreamingIngest.runWarcIngestStream(
      spark.readStream.schema(Warc.WarcFileSchema).parquet(s"$inDir/*"),
      textsDir, quarDir, ckpt)
    // leg 1: archives 1..5; archive 5's bytes torn mid-member (gzip CRC
    // fails typed) — without containment AvailableNow would retry forever
    val rows = Warc.synthesizeWarc(docsDf(Seq(1L, 2L, 3L, 4L, 5L)), "doc_id")
      .collect().map { r =>
        val p = r.getAs[Array[Byte]](1)
        if (r.getLong(0) == 5L) { val q = p.clone(); q(p.length / 2) = (q(p.length / 2) ^ 0x55).toByte; (r.getLong(0), q) }
        else (r.getLong(0), p)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)), 1),
      Warc.WarcFileSchema).write.parquet(s"$inDir/f1")
    runLeg()
    val t1 = spark.read.parquet(textsDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t1.keySet == Set(1L, 2L, 4L)) // 3 is a 404, 5 is poisoned
    assert(t1(1L) == "Doc 1 EN clean text body 1 & more")
    val q1 = spark.read.parquet(quarDir).collect()
    assert(q1.length == 1 && q1(0).getAs[Long]("media_id") == 5L)
    assert(q1(0).getAs[String]("decode_error").contains("warc:"))
    // leg 2: clean archives arrive after the poison — stream advanced
    Warc.synthesizeWarc(docsDf(Seq(6L, 7L)), "doc_id")
      .repartition(1).write.parquet(s"$inDir/f2")
    runLeg()
    assert(spark.read.parquet(textsDir).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 4L, 6L)) // 7 is a 404
    assert(spark.read.parquet(quarDir).count() == 1, "audit row written once")
  }

  test("Warc.splitRecords: range-parallel == serial on one big archive") {
    val docs = (0 until 40).flatMap(i =>
      Warc.docRecords(i.toLong, "en", s"payload text number $i with words"))
    val big = WarcCodec.build(docs, gzipPerRecord = true)
    val split = Warc.splitRecords(spark, 7L, big, parallelism = 4)
      .orderBy("rec_idx")
      .select("warc_type", "target_uri", "content_length", "http_status")
      .collect().toSeq
    val serial = WarcCodec.parse(big)
    assert(split.size == serial.size)
    split.zip(serial).foreach { case (row, rec) =>
      assert(row.getString(0) == rec.warcType)
      assert(Option(row.getString(1)) == rec.targetUri)
      assert(row.getLong(2) == rec.block.length.toLong)
    }
    assert(split.count(r => !r.isNullAt(3) && r.getLong(3) == 200L) == 30)
    val perTask = Warc.splitRecords(spark, 7L, big, parallelism = 4)
      .rdd.mapPartitions(it => Iterator(it.length)).collect()
    assert(perTask.length == 4 && perTask.max - perTask.min <= 1, perTask.mkString(","))
  }
}
