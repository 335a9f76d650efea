package graft

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The metrics listener of the measuring main [[Probe]]:
  * each Spark job's start, end and call site and, per completed stage, its
  * tasks, shuffle read/write bytes and spill. Read it with [[measure]].
  */
final class Meter private (sc: SparkContext) extends SparkListener {
  import Meter._

  // the bus calls a listener from one thread; `measure` reads after a drain
  @volatile private var seen = Counts()
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val sqlSites = new java.util.concurrent.ConcurrentHashMap[String, String]

  // a SQL action's jobs (AQE stages run on a Spark pool) take its call site
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId.toString, s.description)
    case s: SparkListenerSQLExecutionEnd => sqlSites.remove(s.executionId.toString)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
    val site = sql.flatMap(id => Option(sqlSites.get(id))).orElse(e.stageInfos.lastOption.map(_.name))
    started.put(e.jobId, Job(e.time, e.time, site.getOrElse("?")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(j => seen = seen.copy(jobs = seen.jobs :+ j.copy(end = e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    def sum(f: TaskMetrics => Long) = Option(e.stageInfo.taskMetrics).fold(0L)(f)
    seen = seen.copy(stages = seen.stages + 1, tasks = seen.tasks + e.stageInfo.numTasks,
      shuffleRead = seen.shuffleRead + sum(_.shuffleReadMetrics.totalBytesRead),
      shuffleWrite = seen.shuffleWrite + sum(_.shuffleWriteMetrics.bytesWritten),
      spill = seen.spill + sum(m => m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Runs `f` and returns its result with the counters of the work it did;
    * job times are ms from the start of `f`. The listener bus is drained
    * before and after, so no earlier or later work is counted. Codegen
    * figures are JVM-wide.
    */
  def measure[A](f: => A): (A, Counts) = {
    GraftExpressionBridge.drainListeners(sc)
    val before = now
    val t0 = System.currentTimeMillis()
    val a = f
    GraftExpressionBridge.drainListeners(sc)
    val d = now - before
    (a, d.copy(jobs = d.jobs.sortBy(_.start).map(j => Job(j.start - t0, j.end - t0, j.site))))
  }

  private def now = seen.copy(compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    compileNs = CodeGenerator.compileTime)
}

object Meter {
  /** One job: epoch ms as recorded, ms from the measured block's start in
    * a [[Meter.measure]] result; the call site is its SQL action's, else its
    * last stage's name.
    */
  final case class Job(start: Long, end: Long, site: String)

  final case class Counts(
      jobs: Vector[Job] = Vector.empty,
      stages: Long = 0, tasks: Long = 0,
      shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
      compiles: Long = 0, compileNs: Long = 0) {
    def -(o: Counts): Counts = Counts(jobs.drop(o.jobs.size), stages - o.stages, tasks - o.tasks,
      shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
      compiles - o.compiles, compileNs - o.compileNs)
  }

  /** A meter listening on `sc` from now on. */
  def apply(sc: SparkContext): Meter = {
    val m = new Meter(sc)
    sc.addSparkListener(m)
    m
  }
}
