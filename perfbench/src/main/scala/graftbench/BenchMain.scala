package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry, Tables}
import graft.catalog.{Catalog, Status}
import graft.ingest.{Sniff, ZipCsv}
import graft.pipeline.Pipeline
import graft.schema.Registry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's JVM: generates the ingest inputs, sets up (session
  * build, registry load and warm-up), runs the workload's timed rounds through
  * the program's public API, and writes `result.json` (timed operations,
  * set-up span, per-module figures when traced) plus `manifest.json` (the
  * generator's bookkeeping) into the work directory. `perfbench/run.py`
  * launches it, checks the outputs and prints the metrics.
  */
object BenchMain {

  final case class Op(name: String, round: Int, seconds: Double, cpuSeconds: Double, status: String,
      rows: Long, startMs: Long, endMs: Long, codegenNs: Long)

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time so far of each live Java thread (JIT compiler and GC threads
    * are not Java threads and are left out), by thread id. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  final class Args(m: Map[String, String]) {
    val workload: String = m("workload")
    val seed: Long = m("seed").toLong
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m("trace") == "1"
    val work: File = new File(m("work"))
    val cores: String = m("cores")
    val data: String = m.getOrElse("data", "")
    val queries: Seq[String] = m.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
  }

  val Alias: Map[String, String] = Map("last24h__" -> "campaign_events")

  def main(argv: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val a = new Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
    val res = mutable.LinkedHashMap.empty[String, Any]
    val genStart = System.nanoTime()
    val warmupFiles = a.workload match {
      case "ingest_days" => Ingest.genWarmup(a)
      case "query_sweep" => Nil
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val genS = (System.nanoTime() - genStart) / 1e9

    // --- set-up: from main entry to the first timed operation, less input generation ---
    val t0 = System.nanoTime()
    val spark = GraftSession.builder("graftbench", Some(a.cores))
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    a.workload match {
      case "query_sweep" =>
        SparkEntry.queries
        Tables.load(spark, a.data, "lineitem").write.format("noop").mode("overwrite").save()
      case _ =>
        val wd = new File(a.work, "warmup_store")
        val pipe = new Pipeline(spark, new Catalog(spark, s"$wd/catalog"), Registry.parseTableSchemas(Gen.tableSchemasJson),
          Registry.parseRenameMappings(Gen.renameMappingsJson), s"$wd/warehouse", Alias)
        warmupFiles.foreach { f =>
          val r = pipe.processFile(f.getPath)
          require(r.status == Status.Uploaded, s"warm-up ingest of ${f.getName} failed: ${r.status}")
        }
        Ingest.deleteTree(wd)
    }
    val t2 = System.nanoTime()
    res("setup") = Map("build_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
      "total_s" -> ((t2 - mainEntry) / 1e9 - genS))

    a.workload match {
      case "query_sweep" => Sweep.run(spark, a, res)
      case _ => Ingest.run(spark, a, res)
    }
    spark.stop()
    Files.writeString(new File(a.work, "result.json").toPath, Json.render(res))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Runs one operation, timing its wall and Java-thread CPU time; when traced,
    * inside a span. Returns the result and the operation's record.
    */
  def timed[T](spark: SparkSession, trace: Boolean, name: String, round: Int)(f: => T)(
      status: T => String, rows: T => Long): (T, Op) = {
    if (trace) spark.sparkContext.setLocalProperty(Trace.SpanKey, s"$round:$name")
    val cg0 = if (trace) CodeGenerator.compileTime else 0L
    val ms0 = System.currentTimeMillis()
    val cpu0 = threadCpuNs()
    val t0 = System.nanoTime()
    try {
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      // threads that ended during the call drop out; Spark's task and SQL
      // pools keep theirs alive between calls
      val cpu = threadCpuNs().map { case (id, ns) => ns - cpu0.getOrElse(id, 0L) }.sum / 1e9
      val cg = if (trace) CodeGenerator.compileTime - cg0 else 0L
      (r, Op(name, round, dt, cpu, status(r), rows(r), ms0, System.currentTimeMillis(), cg))
    } finally if (trace) spark.sparkContext.setLocalProperty(Trace.SpanKey, null)
  }

  def duBytes(f: File): Long =
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum

  def opsJson(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map(o => Map(
    "name" -> o.name, "round" -> o.round, "s" -> o.seconds, "cpu_s" -> o.cpuSeconds,
    "status" -> o.status, "rows" -> o.rows))

  def span(o: Op): String = s"${o.round}:${o.name}"

  /** Per-span figures common to both workload kinds. */
  def spanTotals(t: Trace, ops: Seq[Op]): (Seq[t.Acc], Long) = {
    val report = t.report()
    val accs = ops.map(o => report.getOrElse(span(o), new t.Acc))
    val outsideMs = ops.zip(accs).map { case (o, acc) => t.outsideJobsMs(acc, o.startMs, o.endMs) }.sum
    (accs, outsideMs)
  }
}

/** The ingest workload: simulated days of vendor deliveries into one inbox
  * and one warehouse. Each day adds two large production-width exports (a
  * ZIP of a `;` CSV and a UTF-16LE CSV with BOM), a small partly
  * re-delivered file and its byte-identical re-delivery under a new name,
  * and two seed-independent files that hit the encoding sniff's faults.
  * Every day, each file in the inbox is offered to processFile in name
  * order, as runBatch does; names already processed are skipped.
  */
object Ingest {
  import BenchMain._

  val LargeRows = 1000
  val SmallRows = 300
  val MinDays = 2

  def deleteTree(f: File): Unit =
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** The set-up's warm-up files, one per input kind the days deliver (UTF-8
    * CSV, ZIP of a `;` CSV, UTF-16LE with BOM), and the empty inbox.
    */
  def genWarmup(a: Args): Seq[File] = {
    val d = new File(a.work, "warmup"); d.mkdirs()
    val rnd = new java.util.SplittableRandom(7L)
    def rows(t: Gen.Table, p: String) = Vector.tabulate(200)(i => Gen.row(t, f"$p-$i%05d", rnd))
    def write(name: String, t: Gen.Table, p: String, sep: Char, cs: java.nio.charset.Charset, bom: Boolean,
        zip: Boolean) = {
      val rs = rows(t, p)
      Gen.writeFile(d, name, t, rs, rs.map(_.key).toSet, sep, cs, bom, zip, dupEvery = 0, expect = "land")
      new File(d, name)
    }
    new File(a.work, "inbox").mkdirs()
    Seq(
      write("last24h__warmup_a.csv", Gen.campaign, "WA", ',', utf8, bom = false, zip = false),
      write("last24h__warmup_b.zip", Gen.campaign, "WB", ';', utf8, bom = false, zip = true),
      write("smallable_contacts_warmup_c.csv", Gen.contacts, "WC", ';',
        java.nio.charset.StandardCharsets.UTF_16LE, bom = true, zip = false))
  }

  def genDay(a: Args, day: Int): Seq[Gen.FileSpec] = {
    val dir = new File(a.work, "inbox")
    val rnd = new java.util.SplittableRandom(a.seed * 1000003L + day)
    val tag = java.lang.Long.toHexString(a.seed)
    def rows(t: Gen.Table, p: String, n: Int) = Vector.tabulate(n)(i => Gen.row(t, f"$p-$tag-$day%04d-$i%05d", rnd))
    val keys = (k: Seq[Gen.Row]) => k.map(_.key).toSet
    val d = f"d$day%04d"
    val ce = rows(Gen.campaign, "CA", LargeRows)
    val ctLarge = rows(Gen.contacts, "TA", LargeRows)
    val ctNew = rows(Gen.contacts, "TB", SmallRows * 7 / 10)
    val ctPartly = ctLarge.take(SmallRows * 3 / 10) ++ ctNew
    val partly = Gen.writeFile(dir, s"smallable_contacts_${d}_b.csv", Gen.contacts, ctPartly, keys(ctNew), ',', utf8,
      bom = false, zip = false, dupEvery = 0, expect = "land")
    val resend = s"smallable_contacts_${d}_c_resend.csv"
    Files.copy(new File(dir, partly.name).toPath, new File(dir, resend).toPath)
    Seq(
      Gen.writeFile(dir, s"last24h__${d}_a.zip", Gen.campaign, ce, keys(ce), ';', utf8,
        bom = false, zip = true, dupEvery = 33, expect = "land"),
      Gen.writeFile(dir, s"smallable_contacts_${d}_a.csv", Gen.contacts, ctLarge, keys(ctLarge), ';',
        java.nio.charset.StandardCharsets.UTF_16LE, bom = true, zip = false, dupEvery = 40, expect = "land"),
      partly,
      partly.copy(name = resend, newNulls = new Array[Long](Gen.contacts.cols.size), newRows = 0L,
        expect = "redelivery"),
      Gen.latin1Export(dir, s"smallable_contacts_${d}_latin1.csv", day, SmallRows),
      Gen.cutCharExport(dir, s"smallable_contacts_${d}_utf8cut.csv", 120))
  }

  /** Per-file traced extras: direct calls into the ingest and catalog
    * functions processFile itself uses, timed outside its own span.
    */
  final class Direct {
    val sniffMs, zipMs, probeMs = mutable.ArrayBuffer.empty[Double]
  }

  private def directCalls(a: Args, cat: Catalog, path: File, d: Direct): Unit = {
    val t0 = System.nanoTime()
    cat.isProcessed(path.getName)
    Gen.tables.foreach(t => cat.watermark(t.name))
    d.probeMs += (System.nanoTime() - t0) / 1e6
    val csv =
      if (path.getName.endsWith(".zip")) {
        val out = new File(a.work, "direct_zip")
        val z0 = System.nanoTime()
        val r = ZipCsv.extractFirstEntry(path.getPath, out.getPath)
        d.zipMs += (System.nanoTime() - z0) / 1e6
        r.toOption.map(new File(_))
      } else Some(path)
    csv.foreach { c =>
      val s0 = System.nanoTime()
      Sniff.detectEncodingAt(c.getPath)
      d.sniffMs += (System.nanoTime() - s0) / 1e6
    }
    deleteTree(new File(a.work, "direct_zip"))
  }

  def run(spark: SparkSession, a: Args, res: mutable.Map[String, Any]): Unit = {
    val (schemas, renames) = (Registry.parseTableSchemas(Gen.tableSchemasJson),
      Registry.parseRenameMappings(Gen.renameMappingsJson))
    val inbox = new File(a.work, "inbox")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    // what the set-up's warm-up left in the temp dir is not the run's
    val tmpBefore = tmp.listFiles().map(_.getName).toSet
    val root = new File(a.work, "store")
    val cat = new Catalog(spark, s"$root/catalog")
    val pipe = new Pipeline(spark, cat, schemas, renames, s"$root/warehouse", Alias)
    val trace = if (a.trace) Some(Trace.install(spark)) else None
    val direct = new Direct
    val ops = mutable.ArrayBuffer.empty[Op]
    val files = mutable.ArrayBuffer.empty[Gen.FileSpec]
    val start = System.nanoTime()
    var day = 0
    while (day < MinDays || (System.nanoTime() - start) / 1e9 < a.seconds) {
      files ++= genDay(a, day)
      for (f <- inbox.listFiles().filter(f => f.getName.endsWith(".csv") || f.getName.endsWith(".zip")).sortBy(_.getName)) {
        if (trace.isDefined && !cat.isProcessed(f.getName)) directCalls(a, cat, f, direct)
        val (r, op) = timed(spark, a.trace, f.getName, day)(pipe.processFile(f.getPath))(_.status, _.inserted)
        if (!r.status.startsWith("skipped")) ops += op
      }
      day += 1
    }
    val finalBatchRows = pipe.runBatch(inbox.getPath).map(_.inserted).sum
    val tmpLeft = tmp.listFiles().filterNot(f => tmpBefore(f.getName)).map(duBytes).sum
    val diskBytes = duBytes(root) + tmpLeft
    tmp.listFiles().foreach(deleteTree)
    val rows = ops.map(_.rows).sum
    res("ops") = opsJson(ops.toSeq)
    res("final_batch_rows") = finalBatchRows
    res("warehouse") = new File(root, "warehouse").getPath
    res("catalog") = new File(root, "catalog").getPath

    trace.foreach { t =>
      Trace.drain(spark)
      val (accs, outsideMs) = spanTotals(t, ops.toSeq)
      val landedAccs = ops.toSeq.zip(accs).filter(_._1.status == Status.Uploaded).map(_._2)
      val nAtt = ops.size.max(1).toDouble
      val nLand = landedAccs.size.max(1).toDouble
      val appends = ops.count(_.status == Status.Uploaded).max(1)
      def sum(on: Seq[t.Acc])(f: t.Acc => Long) = on.map(f).sum.toDouble
      val commitDirs = Seq("processed_files", "watermarks")
        .flatMap(d => Option(new File(root, s"catalog/$d").listFiles()).toSeq.flatten)
        .count(_.getName.startsWith("c_"))
      val parts = Gen.tables.flatMap(t => Option(new File(root, s"warehouse/${t.name}").listFiles()).toSeq.flatten)
        .count(_.getName.endsWith(".parquet"))
      res("layers") = Map(
        "ingest.sniff_ms" -> median(direct.sniffMs.toSeq),
        "ingest.zip_extract_ms" -> median(direct.zipMs.toSeq),
        "ingest.csv_scan_task_s" -> sum(landedAccs)(_.csvTaskMs) / nLand / 1000,
        "ingest.csv_scan_tasks" -> sum(landedAccs)(_.csvTasks) / nLand,
        "dedup.shuffle_write_bytes" -> sum(landedAccs)(_.csvShuffleWrite) / nLand,
        "dedup.j2_target_rows_read" -> sum(landedAccs)(_.targetRowsRead) / nLand,
        "load.idassign_job_s" -> sum(landedAccs)(_.moduleJobMs("IdAssign.scala")) / nLand / 1000,
        "load.append_job_s" -> sum(landedAccs)(_.moduleJobMs("Snapshot.scala")) / nLand / 1000,
        "load.bytes_written_per_row" -> sum(landedAccs)(_.moduleBytes("Snapshot.scala")) / rows.max(1L),
        "load.files_per_append" -> parts.toDouble / appends,
        "load.disk_bytes_per_row" -> diskBytes.toDouble / rows.max(1L),
        "catalog.jobs_per_file" -> sum(accs)(_.moduleJobs("Catalog.scala")) / nAtt,
        "catalog.job_s_per_file" -> sum(accs)(_.moduleJobMs("Catalog.scala")) / nAtt / 1000,
        "catalog.commit_dirs" -> commitDirs.toDouble,
        "catalog.probe_ms" -> median(direct.probeMs.toSeq),
        "pipeline.jobs_per_file" -> sum(accs)(_.jobs.size.toLong) / nAtt,
        "pipeline.stages_per_file" -> sum(accs)(_.stages.size.toLong) / nAtt,
        "pipeline.tasks_per_file" -> sum(accs)(_.tasks) / nAtt,
        "pipeline.outside_jobs_s" -> outsideMs / nAtt / 1000,
        "pipeline.spill_bytes" -> sum(accs)(_.spill) / nAtt,
        "pipeline.tmp_left_bytes" -> tmpLeft.toDouble,
        "pipeline.codegen_ms" -> ops.map(_.codegenNs).sum / nAtt / 1e6)
    }
    Files.writeString(new File(a.work, "manifest.json").toPath, Json.render(Map(
      "tables" -> Gen.tables.map(t => Map("name" -> t.name, "cols" -> t.cols.map(_.canon),
        "roles" -> t.cols.map(_.role))),
      "files" -> files.map(f => Map("name" -> f.name, "table" -> f.table.name, "keys" -> f.keys,
        "new_rows" -> f.newRows, "new_nulls" -> f.newNulls.toSeq, "expect" -> f.expect)))))
  }
}

/** The query sweep. A first, untimed pass writes each listed query's
  * result for the DuckDB oracle (and warms the JVM and codegen caches the
  * way any earlier pass would); then timed rounds of the list follow, each
  * result materialized in full through the noop sink.
  */
object Sweep {
  import BenchMain._

  val MinRounds = 4

  def run(spark: SparkSession, a: Args, res: mutable.Map[String, Any]): Unit = {
    val qs = SparkEntry.queries
    val out = new File(a.work, "oracle_out"); out.mkdirs()
    a.queries.foreach(q => qs(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"$out/$q"))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => a.queries.contains(k) }
    Files.writeString(new File(out, "oracle_sql.json").toPath, Json.render(oracle))
    res("oracle_out") = out.getPath

    val trace = if (a.trace) Some(Trace.install(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Op]
    val start = System.nanoTime()
    var round = 0
    while (round < MinRounds || (System.nanoTime() - start) / 1e9 < a.seconds) {
      a.queries.foreach { q =>
        ops += timed(spark, a.trace, q, round) {
          qs(q)(spark, a.data).write.format("noop").mode("overwrite").save()
        }(_ => "ok", _ => 0L)._2
      }
      round += 1
    }
    res("ops") = opsJson(ops.toSeq)
    trace.foreach { t =>
      Trace.drain(spark)
      val (accs, _) = spanTotals(t, ops.toSeq)
      val n = ops.size.max(1).toDouble
      val plans = t.planMs.asScala.toSeq.filter { case (st, _) => ops.exists(o => st >= o.startMs && st <= o.endMs) }
      res("layers") = Map(
        "queries.plan_ms_p50" -> median(plans.map(_._2)),
        "queries.jobs_per_query" -> accs.map(_.jobs.size).sum / n,
        "queries.tasks_per_query" -> accs.map(_.tasks).sum / n,
        "queries.codegen_ms" -> ops.map(_.codegenNs).sum / n / 1e6,
        "queries.shuffle_bytes_per_query" -> accs.map(_.shuffleWrite).sum / n,
        "queries.spill_bytes" -> accs.map(_.spill).sum / n)
    }
  }
}
