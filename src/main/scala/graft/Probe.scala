package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev probe of named gate queries, on [[Bench]]'s session and data dir
  * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SF_DIR`). Per query: one untimed
  * `collect()` that writes the formatted pre-execution plan and the
  * AQE-final executed plan to `target/probe/<query>.txt`; five runs timed
  * by [[Bench.time]]; then one JSON line with every run's seconds, their
  * minimum, the median of runs 2–5 (run 1 still warms the JIT; a cold
  * JVM's whole level moves by about a fifth, so compare medians over
  * order-swapped pairs of JVMs), and the last run's [[Meter]] counters:
  * each job's start offset, duration and call site, stages, tasks,
  * shuffle bytes, spill, codegen.
  *
  * `sbt "runMain graft.Probe q23_agg_group q07_row_hash"`
  */
object Probe {
  private val Runs = 5
  private val PlanDir = Paths.get("target/probe")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query names from SparkEntry.queries")
    val spark = Bench.session("graft-probe")
    val meter = Meter(spark.sparkContext)
    Files.createDirectories(PlanDir)
    for (name <- args) {
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      val df = fn(spark, Bench.sfDir)
      val plan = try {
        val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        df.collect()
        formatted + "\n\n== Executed (AQE-final) ==\n" + df.queryExecution.executedPlan
      } catch { case e: Throwable => s"PLAN FAILED: $e" }
      Files.writeString(PlanDir.resolve(s"$name.txt"), plan)
      spark.catalog.clearCache()
      val runs = (1 to Runs).map(_ => meter.measure(Bench.time(fn(spark, Bench.sfDir))))
      spark.catalog.clearCache()
      println(line(name, runs))
    }
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private def line(name: String, runs: Seq[(Either[Throwable, Double], Meter.Counts)]): String = {
    import Verify.quote
    def obj(kv: (String, Any)*) = kv.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
    def f3(x: Double) = f"$x%.3f"
    runs.collectFirst { case (Left(e), _) => e } match {
      case Some(e) => obj("query" -> quote(name), "failed" -> quote(String.valueOf(e.getMessage)))
      case None =>
        val (secs, m) = (runs.flatMap(_._1.toOption), runs.last._2)
        val jobs = m.jobs.map(j => obj("start_s" -> f3(j.start / 1e3),
          "s" -> f3((j.end - j.start) / 1e3), "site" -> quote(j.site)))
        obj("query" -> quote(name), "runs" -> secs.map(f3).mkString("[", ",", "]"),
          "min" -> f3(secs.min), "median" -> f3(median(secs.tail)),
          "jobs" -> jobs.mkString("[", ",", "]"),
          "stages" -> m.stages, "tasks" -> m.tasks, "shuffle_read_bytes" -> m.shuffleRead,
          "shuffle_write_bytes" -> m.shuffleWrite, "spill_bytes" -> m.spill,
          "codegen_compiles" -> m.compiles, "codegen_ms" -> f"${m.compileNs / 1e6}%.1f")
    }
  }
}
