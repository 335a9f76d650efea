package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.ingest.{CsvSource, Sniff, ZipCsv}
import graft.schema.Registry
import org.apache.spark.sql.functions.col

class IngestSpec extends SparkSpec {

  test("S4 encoding detection: BOMs and trial decode") {
    assert(Sniff.detectEncoding("héllo,1".getBytes(StandardCharsets.UTF_8)).contains("UTF-8"))
    val utf16le = Array(0xFF.toByte, 0xFE.toByte) ++ "a,b".getBytes(StandardCharsets.UTF_16LE)
    assert(Sniff.detectEncoding(utf16le).contains("UTF-16LE"))
    val utf16be = Array(0xFE.toByte, 0xFF.toByte) ++ "a,b".getBytes(StandardCharsets.UTF_16BE)
    assert(Sniff.detectEncoding(utf16be).contains("UTF-16BE"))
    // even-length latin1 bytes trial-decode as UTF-16, but never to a line
    // break or delimiter (that needs a NUL byte) → None, so the caller
    // falls back to latin1 instead of reading the file as UTF-16
    assert(Sniff.detectEncoding(Array(0xE9.toByte, 0x2C.toByte, 0xE9.toByte, 0x41.toByte, 0x42.toByte, 0x43.toByte)).isEmpty)
    // BOM-less UTF-16 text (big-endian, the charset's default) is still found
    assert(Sniff.detectEncoding("é;b\n".getBytes(StandardCharsets.UTF_16BE)).contains("UTF-16"))
    // odd-length high-byte sequence decodes as neither → None (caller falls back to latin1)
    assert(Sniff.detectEncoding(Array(0xE9.toByte, 0x2C.toByte, 0x41.toByte)).isEmpty)
  }

  test("S5 delimiter detection: most frequent candidate wins") {
    assert(Sniff.detectDelimiter("a,b,c;d") == ',')
    assert(Sniff.detectDelimiter("a;b;c,d") == ';')
    assert(Sniff.detectDelimiter("a\tb\tc") == '\t')
    assert(Sniff.detectDelimiter("a|b|c") == '|')
    assert(Sniff.detectDelimiter("abc") == ',') // default
  }

  test("S3 zip extraction takes the first entry only") {
    val dir = tmpDir("zip")
    val zipPath = s"$dir/batch.zip"
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
    zos.putNextEntry(new ZipEntry("first.csv"))
    zos.write("Email,x\na@x.com,1\n".getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("second.csv"))
    zos.write("should,not,appear\n".getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.close()
    val out = ZipCsv.extractFirstEntry(zipPath, dir)
    assert(out.isRight)
    assert(out.toOption.get.endsWith("first.csv"))
    val lines = ZipCsv.readFirstEntryLines(spark, zipPath).collect()
    assert(lines.length == 2 && lines.forall(_.getString(1) == "first.csv"))
  }

  test("S3 all-entries variant: every CSV member lands, litter skipped, bomb capped") {
    val dir = tmpDir("zipall")
    val zipPath = s"$dir/multi.zip"
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
    zos.putNextEntry(new ZipEntry("contacts.csv"))
    zos.write("Email,x\na@x.com,1\n".getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("README.txt")) // non-CSV litter: skipped
    zos.write("notes".getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("sub/")) // directory entry: skipped
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("sub/orders.csv"))
    zos.write("Id,qty\n1,2\n2,3\n".getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.close()
    val rows = ZipCsv.readAllEntryLines(spark, zipPath)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getString(3))).sorted
    assert(rows.map(_._1).distinct.toSeq == Seq("contacts.csv", "sub/orders.csv"))
    assert(rows.count(_._1 == "sub/orders.csv") == 3)
    assert(rows.contains(("contacts.csv", 1L, "a@x.com,1")))
    // the first-entry default is UNCHANGED (reference parity)
    assert(ZipCsv.readFirstEntryLines(spark, zipPath)
      .collect().forall(_.getString(1) == "contacts.csv"))
    // an entry over the byte cap fails loudly, not as an executor OOM
    val ex = intercept[org.apache.spark.SparkException] {
      ZipCsv.readAllEntryLines(spark, zipPath, maxEntryBytes = 8L).collect()
    }
    assert(ex.getCause.getMessage.contains("cap"), ex.getCause.getMessage)
  }

  test("S6 sniffed all-string CSV read (semicolon + accents)") {
    val dir = tmpDir("csv")
    val p = s"$dir/smallable_contacts_20240101.csv"
    Files.write(Paths.get(p), "Email;prénom\na@x.com;José\n".getBytes(StandardCharsets.UTF_8))
    val df = CsvSource.readSniffed(spark, p)
    assert(df.columns.toSeq == Seq("Email", "prénom"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.head().getString(1) == "José")
  }

  test("S4+S6 end-to-end: UTF-16LE file with BOM is sniffed and read correctly") {
    val dir = tmpDir("csvu16")
    val p = s"$dir/utf16.csv"
    val bom = Array(0xFF.toByte, 0xFE.toByte)
    val body = "Email;prénom\njosé@x.com;José\n".getBytes(StandardCharsets.UTF_16LE)
    Files.write(Paths.get(p), bom ++ body)
    val df = CsvSource.readSniffed(spark, p)
    assert(df.columns.toSeq == Seq("Email", "prénom"))
    val row = df.head()
    assert(row.getString(0) == "josé@x.com" && row.getString(1) == "José")
  }

  test("S6 quoted fields: embedded delimiters, quotes, and newlines survive") {
    val dir = tmpDir("csvq")
    val p = s"$dir/quoted.csv"
    Files.write(Paths.get(p),
      "Email,note\n\"a@x.com\",\"hello, world\"\n\"b@x.com\",\"line one\nline two\"\n\"c@x.com\",\"she said \"\"hi\"\"\"\n"
        .getBytes(StandardCharsets.UTF_8))
    val df = CsvSource.readAllString(spark, p)
    val notes = df.orderBy("Email").collect().map(_.getString(1))
    assert(notes(0) == "hello, world")
    assert(notes(1) == "line one\nline two")
    assert(notes(2) == "she said \"hi\"")
  }

  test("S6 malformed rows: PERMISSIVE read pads/keeps rows, never throws") {
    val dir = tmpDir("csvm")
    val p = s"$dir/bad.csv"
    Files.write(Paths.get(p),
      "a,b,c\n1,2,3\nonly_one_field\n4,5,6,EXTRA\n".getBytes(StandardCharsets.UTF_8))
    val df = CsvSource.readAllString(spark, p, columns = Some(Seq("a", "b", "c")))
    assert(df.count() == 3) // all rows survive
    val short = df.filter(col("a") === "only_one_field").head()
    assert(short.isNullAt(1) && short.isNullAt(2)) // missing fields → null
  }

  test("routing: contains-match + prefix alias, longest key wins") {
    val keys = Seq("smallable_campaign_events", "smallable_contacts")
    val alias = Map("last24h__" -> "smallable_campaign_events")
    assert(Registry.route("smallable_contacts_20241210.csv", keys, alias)
      .contains("smallable_contacts"))
    assert(Registry.route("last24h__20241210.csv", keys, alias)
      .contains("smallable_campaign_events"))
    assert(Registry.route("unknown_file.csv", keys, alias).isEmpty)
  }

  test("registry JSON parsing (reference layout)") {
    val json =
      """[{"table_name": "t1", "column_names": ["id", "a"], "column_types": ["UInt64", "Nullable(String)"],
        |  "date_columns": [], "int_columns": [], "float_columns": [], "string_columns": ["a"],
        |  "dob_columns": [], "last_id": 42}]""".stripMargin
    val schemas = Registry.parseTableSchemas(json)
    assert(schemas.head.tableName == "t1")
    assert(schemas.head.columnNames == Seq("id", "a"))
    val mappings = Registry.parseRenameMappings(
      """{"t1": {"prénom": "first_name", "Email": "email"}}""")
    assert(mappings("t1")("Email") == "email")
  }
}
