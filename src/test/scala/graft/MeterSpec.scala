package graft

import org.apache.spark.sql.Row

/** The measuring mains' listener: a block's counters are its own. */
class MeterSpec extends SparkSpec {

  private def withMeter[A](f: Meter => A): A = {
    val meter = Meter(spark.sparkContext)
    try f(meter) finally spark.sparkContext.removeSparkListener(meter)
  }

  test("Meter: a repartitioned count records its jobs, stages and shuffle write") {
    withMeter { meter =>
      val (n, m) = meter.measure(spark.range(0, 1000, 1, 4).repartition(3).count())
      assert(n == 1000)
      assert(m.jobs.nonEmpty, m)
      assert(m.stages >= 2, m)
      assert(m.tasks >= m.stages, m)
      assert(m.shuffleWrite > 0, m)
      assert(m.jobs.forall(j => j.start >= 0 && j.end >= j.start), m.jobs)
    }
  }

  test("Meter: two actions in a row each count once, in their own delta") {
    withMeter { meter =>
      val (_, a) = meter.measure(spark.range(0, 1000, 1, 4).repartition(3).count())
      val (rows, b) = meter.measure(spark.range(0, 100, 1, 2).collect())
      assert(rows.length == 100)
      assert(a.shuffleWrite > 0 && a.jobs.forall(!_.site.startsWith("collect")), a)
      // one job, one stage, two tasks, no shuffle: nothing of the first action
      assert(b.jobs.map(_.site.takeWhile(_ != ' ')) == Vector("collect"), b)
      assert((b.stages, b.tasks, b.shuffleRead, b.shuffleWrite) == ((1L, 2L, 0L, 0L)), b)
    }
  }

  test("Tables.load: building q23_agg_group a second time runs no job; the kept schema is the file's") {
    withMeter { meter =>
      SparkEntry.queries("q23_agg_group")(spark, sf)
      val (_, m) = meter.measure(SparkEntry.queries("q23_agg_group")(spark, sf))
      assert(m.jobs.isEmpty, m.jobs)
    }
    assert(Tables.load(spark, sf, "events").schema ==
      spark.read.parquet(s"$sf/events.parquet").schema)
  }

  test("Tables.load: a rewritten table, or a session with other parquet settings, infers again") {
    import spark.implicits._
    val dir = tmpDir("tables")
    Seq((1L, Array[Byte](1))).toDF("id", "b").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "b"))
    // a plain microsecond `ts` reads as timestamp_ntz unless the session says otherwise
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.load(ltz, sf, "events").schema("ts").dataType.typeName == "timestamp")
    assert(Tables.load(spark, sf, "events").schema("ts").dataType.typeName == "timestamp_ntz")
    Seq((2L, "x", 3)).toDF("id", "s", "n").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").collect().toSeq == Seq(Row(2L, "x", 3)))
  }
}
