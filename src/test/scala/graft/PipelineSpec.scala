package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.catalog.{Catalog, Status}
import graft.pipeline.Pipeline
import graft.schema.TableSchema
import org.apache.spark.sql.functions.col

/** End-to-end per-file ingest over FIXTURES.md-style miniature CSVs:
  * rename → conform → hash → J1 → J2 → casts → ids → J3 → snapshot append,
  * with catalog statuses and watermark commits.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val schema = TableSchema(
    tableName = "mini_campaign_events",
    columnNames = Seq("id", "email", "first_name", "event_datetime", "total_orders", "row_hash"),
    columnTypes = Seq("UInt64", "Nullable(String)", "Nullable(String)", "Nullable(DateTime)", "Nullable(Int64)", "String"),
    dateColumns = Seq("event_datetime"),
    intColumns = Seq("total_orders"),
    stringColumns = Seq("email", "first_name"))

  private val mapping = Map(
    "Email" -> "email", "prénom" -> "first_name",
    "Event Datetime" -> "event_datetime", "NB_TOTAL_COMMANDES" -> "total_orders")

  private def mkPipeline() = {
    val root = tmpDir("pipe")
    val cat = new Catalog(spark, s"$root/catalog")
    val p = new Pipeline(spark, cat, Seq(schema), Map("mini_campaign_events" -> mapping),
      s"$root/warehouse", Map("last24h__" -> "mini_campaign_events"))
    (root, cat, p)
  }

  private def write(dir: String, name: String, body: String): String = {
    val p = s"$dir/$name"
    Files.write(Paths.get(p), body.getBytes(StandardCharsets.UTF_8))
    p
  }

  private def zipCsv(zipPath: String, entry: String, body: String): String = {
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
    zos.putNextEntry(new java.util.zip.ZipEntry(entry))
    zos.write(body.getBytes(StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()
    zipPath
  }

  test("clean file: ingest, dedup, ids, statuses, watermark") {
    val (root, cat, pipe) = mkPipeline()
    val csv = write(root, "mini_campaign_events_b1.csv",
      """Email,prénom,Event Datetime,NB_TOTAL_COMMANDES
        |a@x.com,Ana,2024-01-01 10:00:00,3.0
        |b@x.com,Bob,2024-01-02 11:00:00,1
        |a@x.com,Ana,2024-01-01 10:00:00,3.0
        |c@x.com,Cleo,junk-date,
        |""".stripMargin)
    val res = pipe.processFile(csv)
    assert(res.status == Status.Uploaded)
    assert(res.inserted == 3) // 4 rows, 1 intra-file dup
    assert(cat.watermark("mini_campaign_events") == 3L)

    val table = spark.read.parquet(s"$root/warehouse/mini_campaign_events")
    assert(table.count() == 3)
    assert(table.columns.toSeq == schema.columnNames)
    assert(table.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // junk date coerced to null, "3.0" parsed to 3
    assert(table.filter($"event_datetime".isNull).count() == 1)
    assert(table.filter($"total_orders" === 3L).count() == 1)
    // statuses recorded
    val statuses = cat.statusLog.filter($"file_name" === res.fileName)
      .select("status").as[String].collect().toSet
    assert(statuses == Set(Status.Processed, Status.Uploaded))
  }

  test("cross-batch dedup + filename idempotency + watermark resume") {
    val (root, cat, pipe) = mkPipeline()
    write(root, "mini_campaign_events_b1.csv",
      "Email,prénom,Event Datetime,NB_TOTAL_COMMANDES\na@x.com,Ana,2024-01-01 10:00:00,1\nb@x.com,Bob,2024-01-01 11:00:00,2\n")
    // b2: one row duplicates b1 content, one is new
    write(root, "mini_campaign_events_b2.csv",
      "Email,prénom,Event Datetime,NB_TOTAL_COMMANDES\na@x.com,Ana,2024-01-01 10:00:00,1\nd@x.com,Dia,2024-01-03 09:00:00,4\n")
    val results = pipe.runBatch(root)
    assert(results.map(_.inserted) == Seq(2L, 1L)) // J2 dropped the cross dup
    assert(cat.watermark("mini_campaign_events") == 3L) // ids resumed 3 total

    // re-running the batch is a no-op (filename gate)
    val again = pipe.runBatch(root)
    assert(again.forall(_.inserted == 0L))
    assert(spark.read.parquet(s"$root/warehouse/mini_campaign_events").count() == 3)
  }

  test("missing column tolerated, extra column fatal") {
    val (root, cat, pipe) = mkPipeline()
    val missing = write(root, "mini_campaign_events_missing.csv",
      "Email,prénom\na@x.com,Ana\n") // Event Datetime + NB_TOTAL_COMMANDES absent
    val r1 = pipe.processFile(missing)
    assert(r1.status == Status.Uploaded && r1.inserted == 1)
    val extra = write(root, "mini_campaign_events_extra.csv",
      "Email,prénom,UNDECLARED\na@x.com,Ana,boom\n")
    val r2 = pipe.processFile(extra)
    assert(r2.status == Status.RenameError)
    assert(cat.statusLog.filter($"status" === Status.RenameError).count() == 1)
  }

  test("zip routing via last24h__ alias (first entry only)") {
    val (root, _, pipe) = mkPipeline()
    val res = pipe.processFile(zipCsv(s"$root/last24h__20240101.zip", "last24h__20240101.csv",
      "Email,prénom,Event Datetime,NB_TOTAL_COMMANDES\nz@x.com,Zoe,2024-02-01 00:00:00,9\n"))
    assert(res.table.contains("mini_campaign_events"))
    assert(res.inserted == 1)
  }

  test("zip extraction dir is deleted after the ingest, landed or failed") {
    val (root, _, pipe) = mkPipeline()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def zipDirs() = Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_zip")).toSet
    val before = zipDirs()
    val landed = pipe.processFile(zipCsv(s"$root/last24h__20240102.zip", "last24h__20240102.csv",
      "Email,prénom,Event Datetime,NB_TOTAL_COMMANDES\nz@x.com,Zoe,2024-02-01 00:00:00,9\n"))
    assert(landed.status == Status.Uploaded && landed.inserted == 1)
    // the entry name routes nowhere: a failure after extraction
    val failed = pipe.processFile(zipCsv(s"$root/unrouted.zip", "unknown_table.csv", "a,b\n1,2\n"))
    assert(failed.status == Status.NoSchema)
    assert((zipDirs() -- before).isEmpty, s"left behind: ${zipDirs() -- before}")
  }

  test("3-entry zip: all-entries read routes each CSV member to its table") {
    // a real backfill zip batches several tables into one archive — the
    // all-entries variant surfaces every member, and Registry.route sends
    // each to its table (the first-entry default would silently drop two)
    val root = tmpDir("zipall3")
    val zipPath = s"$root/daily_batch.zip"
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
    for ((name, body) <- Seq(
      "last24h__20240101.csv" -> "Email,x\na@x.com,1\n",
      "mini_campaign_events_full.csv" -> "Email,x\nb@x.com,2\nc@x.com,3\n",
      "manifest.txt" -> "not a csv")) {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    zos.close()
    val rows = graft.ingest.ZipCsv.readAllEntryLines(spark, zipPath)
    val perEntry = rows.groupBy("entry").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perEntry == Map(
      "last24h__20240101.csv" -> 2L, "mini_campaign_events_full.csv" -> 3L))
    val routed = perEntry.keys.toSeq.sorted.map(e =>
      e -> graft.schema.Registry.route(
        e, Seq("mini_campaign_events"), Map("last24h__" -> "mini_campaign_events")))
    assert(routed.forall(_._2.contains("mini_campaign_events")), routed.toString)
  }

  test("full-width 96-column pipeline: end-to-end + codegen holds at width") {
    // The reference's real tables are 96 columns wide (table_schema.json:
    // id + 94 data columns + row_hash) with roles distributed 19 date
    // (7 of them dob), 6 int, 3 float, rest string. Spark's whole-stage
    // codegen limits (spark.sql.codegen.maxFields = 100) sit exactly in
    // this range, so width is a first-class correctness risk, not a
    // cosmetic one — this fixture mirrors the real role distribution and
    // asserts the cast stage stays inside one codegen'd Project.
    val dates = (1 to 12).map(i => f"dt$i%02d")
    val dobs = (1 to 7).map(i => f"dob$i%02d")
    val ints = (1 to 6).map(i => f"int$i%02d")
    val flts = (1 to 3).map(i => f"flt$i%02d")
    val strs = (1 to 66).map(i => f"str$i%02d")
    val dataCols = dates ++ dobs ++ ints ++ flts ++ strs
    assert(dataCols.length == 94)
    val wideSchema = TableSchema(
      tableName = "wide_events",
      columnNames = "id" +: dataCols :+ "row_hash",
      columnTypes = "UInt64" +:
        (dates ++ dobs).map(_ => "Nullable(DateTime)") ++:
        ints.map(_ => "Nullable(Int64)") ++:
        flts.map(_ => "Nullable(Float64)") ++:
        strs.map(_ => "Nullable(String)") :+ "String",
      dateColumns = dates ++ dobs, // dob columns are date-parsed too
      dobColumns = dobs,
      intColumns = ints,
      floatColumns = flts,
      stringColumns = strs)
    val wideMapping = dataCols.map(c => s"Raw ${c.toUpperCase}" -> c).toMap
    val root = tmpDir("wide")
    val cat = new Catalog(spark, s"$root/catalog")
    val pipe = new Pipeline(spark, cat, Seq(wideSchema),
      Map("wide_events" -> wideMapping), s"$root/warehouse", Map.empty)

    // 40 rows, 5 exact duplicates; every role exercises its coerce cases
    def row(i: Int): String = {
      val d = dates.map(_ => if (i % 7 == 0) "junk-date" else f"2024-01-${i % 28 + 1}%02d 10:00:00")
      val b = dobs.map(_ => f"19${60 + i % 40}%02d-06-15 00:00:00")
      val n = ints.map(_ => if (i % 5 == 0) s"$i.0" else if (i % 11 == 0) "" else s"$i")
      val f = flts.map(_ => if (i % 9 == 0) "nan" else s"$i.25")
      val s = strs.map(j => if (i % 13 == 0) "<NA>" else s"v$i$j")
      (d ++ b ++ n ++ f ++ s).mkString(",")
    }
    val baseRows = (1 to 35).map(row)
    val body = (dataCols.map(c => s"Raw ${c.toUpperCase}").mkString(",") +: (
      baseRows ++ baseRows.take(5))).mkString("\n") + "\n"
    val csv = write(root, "wide_events_b1.csv", body)
    val res = pipe.processFile(csv)
    assert(res.status == Status.Uploaded)
    assert(res.inserted == 35) // 40 rows, 5 intra-file dups

    val table = spark.read.parquet(s"$root/warehouse/wide_events")
    assert(table.columns.toSeq == wideSchema.columnNames) // all 96, declared order
    assert(table.columns.length == 96)
    val types = table.dtypes.toMap
    assert(dates.forall(types(_) == "TimestampType"))
    assert(dobs.forall(types(_) == "StringType")) // dob: parsed then yyyy-MM-dd string
    assert(ints.forall(types(_) == "LongType"))
    assert(flts.forall(types(_) == "DoubleType"))
    assert(types("id") == "LongType" && types("row_hash") == "StringType")
    // coerce semantics hold at width: junk dates null, "5.0" → 5, nan → null
    assert(table.filter(col("dt01").isNull).count() == 5L) // i ∈ {7,14,21,28,35}
    assert(table.filter(col("int01") === 5L).count() == 1L)
    assert(table.filter(col("flt01").isNull).count() == 3L) // i ∈ {9,18,27}
    assert(table.filter(col("dob01") === "1961-06-15").count() == 1L)

    // codegen status of the 96-column cast stage: the rename→conform→hash→
    // cast projection must sit inside whole-stage codegen (a '*'-prefixed
    // Project), and no generated method may cross the JIT-refusal
    // threshold (spark.sql.codegen.hugeMethodLimit = 65535 bytecode)
    val raw = graft.ingest.CsvSource.readSniffed(spark, csv)
    val renamed = graft.clean.Clean.renameColumns(raw, wideMapping).toOption.get
    val conformed = graft.clean.Clean.conform(renamed, dataCols)
    val hashed = graft.clean.Clean.withRowHash(conformed, dataCols)
    val typed = graft.load.Casts.applyRoles(hashed, wideSchema)
    val planStr = typed.queryExecution.executedPlan.toString
    assert(planStr.contains("*("), s"no codegen span at 96 columns:\n$planStr")
    import org.apache.spark.sql.execution.debug._
    val subtrees = codegenStringSeq(typed.queryExecution.executedPlan)
    assert(subtrees.nonEmpty, "expected at least one WholeStageCodegen subtree")
    subtrees.foreach { case (_, _, stats) =>
      assert(stats.maxMethodCodeSize < 65535,
        s"generated method ${stats.maxMethodCodeSize} bytecode exceeds the JIT limit")
    }
    info(s"cast stage: ${subtrees.size} codegen subtree(s), max method " +
      s"${subtrees.map(_._3.maxMethodCodeSize).max} bytecode")
  }

  test("isProcessed probes hit the cached name set: zero jobs after one scan") {
    val root = tmpDir("catcache")
    val cat = new Catalog(spark, s"$root/catalog")
    cat.recordStatus("f1.csv", Status.Uploaded)
    cat.recordStatus("f2.csv", Status.NoSchema)
    assert(cat.isProcessed("f1.csv")) // warms the per-run cache (one scan)
    // count Spark jobs across repeated probes: the per-file orchestration
    // path probes once per input file, and each probe must NOT rescan the
    // status log — the round-7 O(N files)-scans-per-run regression
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to 50).foreach { i =>
        assert(cat.isProcessed("f1.csv"))
        assert(cat.isProcessed("f2.csv"))
        assert(!cat.isProcessed(s"missing_$i.csv"))
      }
      Thread.sleep(300) // let any stray job-start events drain to listeners
      assert(jobs.get() == 0, s"${jobs.get()} jobs ran for cached probes")
    } finally spark.sparkContext.removeSparkListener(listener)
    // recordStatus keeps the cache coherent without a rescan on next probe
    cat.recordStatus("f3.csv", Status.Processed)
    assert(cat.isProcessed("f3.csv"))
    // and an explicit refresh reloads from the log
    cat.refreshProcessedNames()
    assert(cat.isProcessed("f1.csv") && cat.isProcessed("f3.csv"))
  }

  test("second file into an existing table: job budget, nothing cached, re-delivery lands 0") {
    val (root, cat, pipe) = mkPipeline()
    val header = "Email,prénom,Event Datetime,NB_TOTAL_COMMANDES\n"
    assert(pipe.processFile(write(root, "mini_campaign_events_b1.csv",
      header + "a@x.com,Ana,2024-01-01 10:00:00,1\nb@x.com,Bob,2024-01-01 11:00:00,2\n")).inserted == 2)
    val b2 = header + "a@x.com,Ana,2024-01-01 10:00:00,1\nd@x.com,Dia,2024-01-03 09:00:00,4\n"
    spark.catalog.clearCache() // other suites share this session and its cache
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val res = try {
      val r = pipe.processFile(write(root, "mini_campaign_events_b2.csv", b2))
      Thread.sleep(300) // let job-start events drain to listeners
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(res.status == Status.Uploaded && res.inserted == 1)
    // the 12 jobs measured for this file (sequence: Pipeline scaladoc)
    assert(jobs.get() <= 12, s"${jobs.get()} jobs for one file")
    assert(spark.sharedState.cacheManager.isEmpty, "the ingest left cached data behind")
    assert(cat.watermark("mini_campaign_events") == 3L)
    // a byte-identical re-delivery under a new name: an empty observed write
    val again = pipe.processFile(write(root, "mini_campaign_events_b2_resend.csv", b2))
    assert(again.status == Status.Uploaded && again.inserted == 0)
    assert(cat.watermark("mini_campaign_events") == 3L)
    assert(spark.read.parquet(s"$root/warehouse/mini_campaign_events").count() == 3)
  }

  test("latin-1 ';' export lands with its accents") {
    val (root, _, pipe) = mkPipeline()
    val body = "Email;prénom;Event Datetime;NB_TOTAL_COMMANDES\n" +
      "a@x.com;Chloé;2024-01-01 10:00:00;1\nb@x.com;Zoë;2024-01-02 11:00:00;2\n"
    // an even byte count: the length at which latin-1 trial-decodes as UTF-16
    val bytes = body.getBytes(StandardCharsets.ISO_8859_1)
    val csv = s"$root/mini_campaign_events_latin1.csv"
    Files.write(Paths.get(csv), if (bytes.length % 2 == 0) bytes else bytes :+ '\n'.toByte)
    val res = pipe.processFile(csv)
    assert(res.status == Status.Uploaded && res.inserted == 2)
    val names = spark.read.parquet(s"$root/warehouse/mini_campaign_events")
      .select("first_name").as[String].collect().sorted.toSeq
    assert(names == Seq("Chloé", "Zoë"))
  }

  test("unroutable and non-CSV files get error statuses") {
    val (root, cat, pipe) = mkPipeline()
    val bad = write(root, "unknown_table.csv", "a,b\n1,2\n")
    assert(pipe.processFile(bad).status == Status.NoSchema)
    val notCsv = write(root, "data.txt", "hello")
    assert(pipe.processFile(notCsv).status == Status.NotValidCsv)
    assert(cat.statusLog.count() == 2)
  }
}
