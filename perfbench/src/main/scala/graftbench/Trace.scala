package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-span Spark accounting for the traced run.
  *
  * The harness wraps each timed operation in a span: it sets the local
  * property [[Trace.SpanKey]] before the call, so every job the call starts
  * carries the span's id. Nothing in the program is instrumented; everything
  * here is read from listener events:
  *  - each job's module is the program source file of its call site (the
  *    first `graft.` frame of the long call site). A job with no program
  *    frame of its own (adaptive query stages run on a Spark thread pool)
  *    takes the call site of the SQL execution it belongs to, and failing
  *    that the call site of the next job of the same span, which is the
  *    action that forced it;
  *  - completed stages give task counts, run time, shuffle, spill, input
  *    and output figures, and the RDD scopes tell which stages scan CSV or
  *    parquet.
  */
final class Trace extends SparkListener {
  import Trace._

  final class Job(val id: Int, val span: String, val start: Long, val ownFile: String, val sqlId: Option[Long]) {
    @volatile var end: Long = -1L
    var file: String = ""
  }

  final class Stage(val jobId: Int, val info: StageInfo) {
    private val scopes = info.rddInfos.flatMap(_.scope.map(_.name))
    val csvScan: Boolean = scopes.exists(_.startsWith("Scan csv"))
    val parquetScan: Boolean = scopes.exists(_.startsWith("Scan parquet"))
  }

  /** Aggregates of one span, built by [[report]] once the bus is drained. */
  final class Acc {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    def tasks: Long = stages.map(_.info.numTasks.toLong).sum
    private def m(f: org.apache.spark.executor.TaskMetrics => Long, on: Iterable[Stage] = stages) =
      on.map(s => Option(s.info.taskMetrics).map(f).getOrElse(0L)).sum
    def shuffleWrite: Long = m(_.shuffleWriteMetrics.bytesWritten)
    def spill: Long = m(t => t.memoryBytesSpilled + t.diskBytesSpilled)
    def csvStages: Seq[Stage] = stages.filter(_.csvScan).toSeq
    def csvTasks: Long = csvStages.map(_.info.numTasks.toLong).sum
    def csvTaskMs: Long = m(_.executorRunTime, csvStages)
    /** The J1 map side: the CSV scan stages write the row_hash exchange. */
    def csvShuffleWrite: Long = m(_.shuffleWriteMetrics.bytesWritten, csvStages)
    def targetRowsRead: Long =
      m(_.inputMetrics.recordsRead, stages.filter(s => s.parquetScan && fileOf(s.jobId) != "Catalog.scala"))
    def moduleJobs(file: String): Long = jobs.count(_.file == file).toLong
    def moduleJobMs(file: String): Long = jobs.filter(_.file == file).map(j => j.end - j.start).sum
    def moduleBytes(file: String): Long = m(_.outputMetrics.bytesWritten, stages.filter(s => fileOf(s.jobId) == file))
    private def fileOf(jobId: Int) = jobs.find(_.id == jobId).map(_.file).getOrElse("")
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val completed = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
  private val sqlCallSite = new ConcurrentHashMap[Long, String]()
  /** Planning milliseconds (QueryExecution.tracker phases) by start time. */
  val planMs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => sqlCallSite.put(e.executionId, programFile(e.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).orNull
    if (span == null) return
    val own = e.stageInfos.sortBy(-_.stageId).headOption.map(s => programFile(s.details)).getOrElse("")
    val sqlId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs.put(e.jobId, new Job(e.jobId, span, e.time, own, sqlId))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val jid = stageJob.get(e.stageInfo.stageId)
    if (jid != null && jobs.containsKey(jid)) completed.add(new Stage(jid, e.stageInfo))
  }

  /** Per-span aggregates, with every job's module resolved. */
  def report(): Map[String, Acc] = {
    val bySpan = jobs.values.asScala.toSeq.sortBy(_.id).groupBy(_.span)
    bySpan.values.foreach { js =>
      var next = "other"
      js.reverseIterator.foreach { j =>
        val sql = j.sqlId.flatMap(id => Option(sqlCallSite.get(id))).getOrElse("")
        j.file = if (j.ownFile.nonEmpty) j.ownFile else if (sql.nonEmpty) sql else next
        next = j.file
      }
    }
    val out = bySpan.map { case (span, js) => span -> { val a = new Acc; a.jobs ++= js; a } }
    completed.asScala.foreach(s => out.get(jobs.get(s.jobId).span).foreach(_.stages += s))
    out
  }

  /** Milliseconds of [from, to] covered by no job of `a` (planning,
    * filesystem calls and other work between jobs).
    */
  def outsideJobsMs(a: Acc, from: Long, to: Long): Long = {
    val iv = a.jobs.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (to - from) - covered)
  }
}

object Trace {
  val SpanKey = "graftbench.span"

  /** Source file of the first program frame (`graft.`, not the harness) in a
    * long-form call site, or "" when there is none.
    */
  def programFile(longForm: String): String =
    Option(longForm).iterator.flatMap(_.linesIterator)
      .map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .flatMap { l =>
        val i = l.lastIndexOf('(')
        val j = l.lastIndexOf(':')
        if (i >= 0 && j > i) Some(l.substring(i + 1, j))
        else if (i >= 0) Some(l.substring(i + 1).stripSuffix(")"))
        else None
      }.getOrElse("")

  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty)
          t.planMs.add((phases.map(_.startTimeMs).min, phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
      }
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    t
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}
