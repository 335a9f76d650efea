package graftbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Vendor-export generator for the ingest workloads.
  *
  * Two production-width tables: `campaign_events` (94 data columns + id +
  * row_hash = 96) routed by the `last24h__` file-name alias, and
  * `smallable_contacts` (92 + 2 = 94) routed by contains-match. Every row
  * carries a unique natural key in its first column; the generator records,
  * per file, the keys it holds and how many values of each column are junk,
  * empty, `nan` or `<NA>` (the values the cast stage must turn into null), so
  * the landed warehouse can be checked against this bookkeeping alone.
  */
object Gen {

  final case class Col(canon: String, raw: String, role: String)

  final case class Table(name: String, renameKey: String, cols: Vector[Col]) {
    def schemaJson: String = {
      def arr(xs: Seq[String]) = xs.map(x => "\"" + Json.esc(x) + "\"").mkString("[", ",", "]")
      def typeOf(c: Col) = c.role match {
        case "date" => "Nullable(DateTime)"
        case "int" => "Nullable(Int64)"
        case "float" => "Nullable(Float64)"
        case _ => "Nullable(String)"
      }
      def roleCols(r: String*) = cols.filter(c => r.contains(c.role)).map(_.canon)
      s"""{"table_name":"$name",
         |"column_names":${arr("id" +: cols.map(_.canon) :+ "row_hash")},
         |"column_types":${arr("UInt64" +: cols.map(typeOf) :+ "String")},
         |"date_columns":${arr(roleCols("date"))},
         |"dob_columns":${arr(roleCols("dob"))},
         |"int_columns":${arr(roleCols("int"))},
         |"float_columns":${arr(roleCols("float"))},
         |"string_columns":${arr(roleCols("key", "str"))}}""".stripMargin
    }
    def renameJson: String =
      cols.map(c => "\"" + Json.esc(c.raw) + "\":\"" + c.canon + "\"").mkString(s""""$renameKey":{""", ",", "}")
  }

  private def widen(fixed: Seq[Col], dates: Int, ints: Int, floats: Int, total: Int,
      date: Int => (String, String), int: Int => (String, String),
      float: Int => (String, String), str: Int => (String, String)): Vector[Col] = {
    val b = Vector.newBuilder[Col] ++= fixed
    var n = fixed.size
    def add(k: Int, role: String, f: Int => (String, String)): Unit =
      for (i <- 1 to k) { val (c, r) = f(i); b += Col(c, r, role); n += 1 }
    add(dates, "date", date); add(ints, "int", int); add(floats, "float", float)
    add(total - n, "str", str)
    b.result()
  }

  val campaign: Table = Table("campaign_events", "campaign_events", widen(
    Seq(
      Col("event_key", "ID Événement", "key"),
      Col("email", "Email", "str"),
      Col("first_name", "prénom", "str"),
      Col("campaign_event_type", "Campaign Event Type", "str"),
      Col("event_datetime", "Event Datetime", "date"),
      Col("total_orders", "NB_TOTAL_COMMANDES", "int"),
      Col("total_order_amount_eur", "MONTANT_TOTAL_COMMANDES_EUR", "float"),
      Col("date_of_birth", "DATE DE NAISSANCE", "dob"),
      Col("smtp_response", "SMTP response", "str")),
    dates = 5, ints = 11, floats = 9, total = 94,
    i => (s"step_${i}_at", s"Date étape $i"), i => (s"counter_$i", s"Compteur $i"),
    i => (s"amount_$i", s"Montant $i"), i => (s"attr_$i", s"Attribut $i")))

  val contacts: Table = Table("smallable_contacts", "smallable_contacts", widen(
    Seq(
      Col("card_number", "N° de carte", "key"),
      Col("email", "Email", "str"),
      Col("qualifying_points", "Points qualifiants", "int"),
      Col("open_rate_total", "% Ouverture (total)", "float"),
      Col("date_of_birth", "Date de naissance", "dob")),
    dates = 4, ints = 9, floats = 7, total = 92,
    i => (s"contact_date_$i", s"Date contact $i"), i => (s"count_$i", s"Nb $i"),
    i => (s"rate_$i", s"Taux $i"), i => (s"field_$i", s"Champ $i")))

  val tables: Seq[Table] = Seq(campaign, contacts)

  def tableSchemasJson: String = tables.map(_.schemaJson).mkString("[", ",", "]")
  def renameMappingsJson: String = tables.map(_.renameJson).mkString("{", ",", "}")

  private val words = Vector("alpha", "nord", "sud", "client", "promo", "retour", "panier",
    "été", "crème", "Hélène", "François", "Émile", "garçon", "naïve", "Noël", "où", "déjà")
  private val types = Vector("sent", "open", "click", "bounce", "unsubscribe")

  /** One generated row: raw field values plus which columns must land null. */
  final class Row(val key: String, val fields: Array[String], val nulls: Array[Boolean])

  /** Draws one row. Roughly 8% of typed values and 4% of string values are
    * null-producing (junk, empty, `nan`, `<NA>`); one string column now and
    * then carries a quoted delimiter, quote and newline.
    */
  def row(t: Table, key: String, rnd: SplittableRandom): Row = {
    val n = t.cols.size
    val f = new Array[String](n)
    val nul = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val c = t.cols(i)
      val p = rnd.nextInt(1000)
      val special: String =
        if (c.role == "key") null
        else if (p < 20) ""
        else if (p < 30) "nan"
        else if (p < 40) "<NA>"
        else if (p < 80 && c.role != "str") Seq("N/A", "??", "bad-value", "x12")(rnd.nextInt(4))
        else null
      if (special != null) { f(i) = special; nul(i) = true }
      else f(i) = c.role match {
        case "key" => key
        case "date" =>
          f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d " +
            f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
        case "dob" => f"19${40 + rnd.nextInt(60)}%02d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
        case "int" => if (p < 200) s"${rnd.nextInt(500)}.0" else rnd.nextInt(100000).toString
        case "float" => f"${rnd.nextInt(100000) / 100.0}%.2f"
        case _ =>
          if (c.canon == "email") s"${words(rnd.nextInt(7))}.${key.toLowerCase}@example.com"
          else if (c.canon == "campaign_event_type") types(rnd.nextInt(types.size))
          else if (p < 60) s"${rnd.nextInt(50)}.0"
          else if (p < 63 && (c.canon == "smtp_response" || c.canon == "field_1")) s"Rue \"Haute\", ${rnd.nextInt(99)}\nParis"
          else words(rnd.nextInt(words.size)) + " " + words(rnd.nextInt(words.size))
      }
      i += 1
    }
    new Row(key, f, nul)
  }

  private def quote(v: String, sep: Char): String =
    if (v.exists(ch => ch == sep || ch == '"' || ch == '\n' || ch == '\r'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  def csvText(t: Table, rows: Seq[Row], sep: Char): String = {
    val sb = new java.lang.StringBuilder(rows.size * 1400)
    sb.append(t.cols.map(c => quote(c.raw, sep)).mkString(sep.toString)).append('\n')
    rows.foreach { r => sb.append(r.fields.iterator.map(quote(_, sep)).mkString(sep.toString)).append('\n') }
    sb.toString
  }

  /** The byte offset the encoding sniff trims its 100,000-byte sample to. */
  val SniffCut = 100000 - 4

  /** True when a multi-byte UTF-8 character straddles the sniff's trimmed
    * sample end, which makes the sample fail to decode as UTF-8.
    */
  def straddlesSniffCut(bytes: Array[Byte]): Boolean =
    bytes.length > SniffCut && {
      var s = SniffCut - 1
      while (s > SniffCut - 4 && (bytes(s) & 0xC0) == 0x80) s -= 1
      val lead = bytes(s) & 0xFF
      val len = if (lead >= 0xF0) 4 else if (lead >= 0xE0) 3 else if (lead >= 0xC0) 2 else 1
      s + len > SniffCut
    }

  /** One generated input file with its bookkeeping. `expect` is `land`,
    * `redelivery` (content already landed: 0 rows), or the name of the sniff
    * fault it is built to hit.
    */
  final case class FileSpec(name: String, table: Table, keys: Seq[String],
      newNulls: Array[Long], newRows: Long, expect: String)

  def nullCounts(t: Table, rows: Iterable[Row]): Array[Long] = {
    val out = new Array[Long](t.cols.size)
    rows.foreach(r => { var i = 0; while (i < out.length) { if (r.nulls(i)) out(i) += 1; i += 1 } })
    out
  }

  /** Writes `rows` (plus `dups` verbatim repeats) as one file; returns its
    * spec. UTF-8 files whose row layout would straddle the sniff cut are
    * rotated one row at a time until it does not (see README: the fault is
    * kept in a fixed file of its own, so the failure share never depends
    * on the seed).
    */
  def writeFile(dir: File, name: String, t: Table, rows: Vector[Row], newKeys: Set[String],
      sep: Char, cs: Charset, bom: Boolean, zip: Boolean, dupEvery: Int, expect: String): FileSpec = {
    val withDups =
      if (dupEvery <= 0) rows
      else rows.zipWithIndex.flatMap { case (r, i) => if (i % dupEvery == dupEvery - 1) Seq(r, rows(i / 2)) else Seq(r) }
    def encode(rs: Vector[Row]): Array[Byte] = {
      val body = csvText(t, rs, sep).getBytes(cs)
      if (!bom) body
      else Array(0xFF.toByte, 0xFE.toByte) ++ body
    }
    var ordered = withDups
    var bytes = encode(ordered)
    var guard = 0
    while (cs == StandardCharsets.UTF_8 && straddlesSniffCut(bytes) && guard < ordered.size) {
      ordered = ordered.tail :+ ordered.head
      bytes = encode(ordered)
      guard += 1
    }
    val csvName = if (zip) name.stripSuffix(".zip") + ".csv" else name
    val out =
      if (!zip) bytes
      else {
        val bos = new ByteArrayOutputStream()
        val z = new ZipOutputStream(bos)
        z.putNextEntry(new ZipEntry(csvName)); z.write(bytes); z.closeEntry(); z.close()
        bos.toByteArray
      }
    Files.write(new File(dir, name).toPath, out)
    val fresh = rows.filter(r => newKeys(r.key))
    FileSpec(name, t, rows.map(_.key), nullCounts(t, fresh), fresh.size.toLong, expect)
  }

  private val Latin1 = StandardCharsets.ISO_8859_1

  /** Fault 1 input: a latin-1 contacts export with accented bytes in its
    * first 100 KB. Seed-independent content (fixed generator seed).
    */
  def latin1Export(dir: File, name: String, day: Int, rows: Int): FileSpec = {
    val rnd = new SplittableRandom(1000003L + day)
    val rs = Vector.tabulate(rows)(i => row(contacts, f"L1-$day%04d-$i%05d", rnd))
    writeFile(dir, name, contacts, rs, rs.map(_.key).toSet, ';', Latin1, bom = false, zip = false,
      dupEvery = 0, expect = "fault_latin1_read_as_utf16")
  }

  /** Fault 2 input: a UTF-8 contacts export whose byte 99,995 starts a
    * two-byte character, so trimming the sniff sample cuts it in half.
    * Seed-independent content.
    */
  def cutCharExport(dir: File, name: String, rows: Int): FileSpec = {
    val rnd = new SplittableRandom(2000003L)
    val rs = Vector.tabulate(rows)(i => row(contacts, f"U8-$i%05d", rnd))
    def len(s: String) = s.getBytes(StandardCharsets.UTF_8).length
    val lineLens = rs.map(r => len(csvText(contacts, Vector(r), ',')) - len(csvText(contacts, Vector.empty, ',')))
    val starts = lineLens.scanLeft(len(csvText(contacts, Vector.empty, ',')))(_ + _)
    // last row whose key (and its delimiter) ends before the cut: its second
    // field is padded so that an "é" starts exactly at byte SniffCut - 1
    val k = rs.indices.filter(i => starts(i) + rs(i).key.length + 1 <= SniffCut - 1).last
    val pad = SniffCut - 1 - (starts(k) + rs(k).key.length + 1)
    val fields = rs(k).fields.clone(); fields(1) = ("x" * pad) + "é" + "y"
    val nulls = rs(k).nulls.clone(); nulls(1) = false
    val rows2 = rs.updated(k, new Row(rs(k).key, fields, nulls))
    val bytes = csvText(contacts, rows2, ',').getBytes(StandardCharsets.UTF_8)
    require((bytes(SniffCut - 1) & 0xFF) == 0xC3 && straddlesSniffCut(bytes),
      s"cut-char export: byte ${SniffCut - 1} is ${bytes(SniffCut - 1) & 0xFF}")
    Files.write(new File(dir, name).toPath, bytes)
    FileSpec(name, contacts, rows2.map(_.key), nullCounts(contacts, rows2), rows2.size.toLong,
      "fault_utf8_char_cut_by_sniff")
  }
}
