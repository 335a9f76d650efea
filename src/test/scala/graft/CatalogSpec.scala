package graft

import graft.catalog.{Catalog, Status}

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("status log is append-only; files may carry many statuses") {
    val cat = new Catalog(spark, tmpDir("cat"))
    cat.recordStatus("f1.csv", Status.Processed)
    cat.recordStatus("f1.csv", Status.Uploaded)
    cat.recordStatus("f2.csv", Status.RenameError)
    assert(cat.statusLog.count() == 3)
    assert(cat.processedFileNames.count() == 2)
    assert(cat.isProcessed("f1.csv") && cat.isProcessed("f2.csv"))
    assert(!cat.isProcessed("f3.csv"))
  }

  test("F1 filterUnprocessed anti-joins the idempotency set") {
    val cat = new Catalog(spark, tmpDir("cat"))
    cat.recordStatus("done.csv", Status.Uploaded)
    val incoming = Seq("done.csv", "new.csv").toDF("file_name")
    val out = cat.filterUnprocessed(incoming).as[String].collect()
    assert(out.toSeq == Seq("new.csv"))
  }

  test("probe cache sees an EXTERNAL writer's append (mtime-bounded staleness)") {
    val dir = tmpDir("cat")
    val mine = new Catalog(spark, dir)
    mine.recordStatus("a.csv", Status.Processed)
    assert(mine.isProcessed("a.csv")) // warms the name cache
    assert(!mine.isProcessed("b.csv"))
    // local-FS mtime is millisecond-grained: let the tick move past the
    // cached stamp before the external append lands
    Thread.sleep(20)
    // a SECOND instance (external orchestrator) appends behind our back
    val other = new Catalog(spark, dir)
    other.recordStatus("b.csv", Status.Processed)
    // the probe must reload off the moved status-dir mtime — no manual
    // refreshProcessedNames() — closing the double-processing window
    assert(mine.isProcessed("b.csv"),
      "external append invisible: staleness bound broken")
    // and our own appends still keep the cache warm in-place
    mine.recordStatus("c.csv", Status.Uploaded)
    assert(mine.isProcessed("c.csv"))
  }

  test("watermark: 0 when unset, latest commit wins") {
    val cat = new Catalog(spark, tmpDir("cat"))
    assert(cat.watermark("t") == 0L)
    cat.setWatermark("t", 10L)
    cat.setWatermark("t", 25L)
    cat.setWatermark("other", 99L)
    assert(cat.watermark("t") == 25L)
  }

  test("watermark probes run no job while the log holds; an external commit is seen") {
    val dir = tmpDir("cat-wm")
    val mine = new Catalog(spark, dir)
    mine.setWatermark("t", 10L)
    assert(mine.watermark("t") == 10L) // loads the cache (one job)
    mine.setWatermark("t", 12L) // our own commit keeps it loaded
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to 50).foreach { _ =>
        assert(mine.watermark("t") == 12L)
        assert(mine.watermark("never_set") == 0L)
      }
      Thread.sleep(300) // let any stray job-start events drain to listeners
      assert(jobs.get() == 0, s"${jobs.get()} jobs ran for cached watermark probes")
    } finally spark.sparkContext.removeSparkListener(listener)
    // local-FS mtime is millisecond-grained: let the tick move past the
    // cached stamp before the external commit lands
    Thread.sleep(20)
    new Catalog(spark, dir).setWatermark("t", 30L)
    assert(mine.watermark("t") == 30L, "external commit invisible: staleness bound broken")
  }

  test("compareAndSetWatermark: one winner per transition; concurrent ladder loses no update") {
    val dir = tmpDir("cat-cas")
    val cat = new Catalog(spark, dir)
    // two writers racing from the same snapshot: exactly one wins
    assert(cat.compareAndSetWatermark("t", 0L, 100L))
    assert(!cat.compareAndSetWatermark("t", 0L, 200L), "second claim of from_0 must lose")
    assert(cat.watermark("t") == 100L)
    // stale expected value → immediate loss, no slot touched
    assert(!cat.compareAndSetWatermark("t", 50L, 300L))
    // concurrent ladder: 4 threads × 5 increments each, retry-on-loss —
    // every increment must land exactly once (no lost updates)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        val mine = new Catalog(spark, dir)
        for (_ <- 1 to 5) {
          var done = false
          while (!done) {
            val cur = mine.watermark("t")
            done = mine.compareAndSetWatermark("t", cur, cur + 1)
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(cat.watermark("t") == 120L, s"lost update: ${cat.watermark("t")} != 120")
  }

  test("compareAndSetWatermark: a crashed winner's transition is rolled forward") {
    val dir = tmpDir("cat-crash")
    val cat = new Catalog(spark, dir)
    cat.setWatermark("t", 10L)
    // simulate a winner that claimed from_10 (slot recorded) but died
    // before appending the watermark row
    val slotDir = java.nio.file.Paths.get(dir, "watermark_slots", "t")
    java.nio.file.Files.createDirectories(slotDir)
    java.nio.file.Files.write(slotDir.resolve("from_10"), "42".getBytes("UTF-8"))
    // the next caller loses the claim but completes the stalled commit
    assert(!cat.compareAndSetWatermark("t", 10L, 77L))
    assert(cat.watermark("t") == 42L, "crashed transition must roll forward")
    // and the ladder continues from the recovered value
    assert(cat.compareAndSetWatermark("t", 42L, 43L))
    assert(cat.watermark("t") == 43L)
  }

  test("watermark resolution: a stalled writer's late append with a newer clock cannot regress the value") {
    val dir = tmpDir("cat-stall")
    val cat = new Catalog(spark, dir)
    cat.setWatermark("t", 10L)
    // a GC-stalled winner of an OLDER transition finally lands its append:
    // smaller last_id, NEWER wall-clock timestamp (also models clock skew
    // across writers). last_id-first resolution must ignore it.
    Seq(("t", 5L, new java.sql.Timestamp(System.currentTimeMillis() + 3600000L)))
      .toDF("table_name", "last_id", "updated_at")
      .coalesce(1).write.parquet(s"$dir/watermarks/c_stalled")
    assert(cat.watermark("t") == 10L,
      "observed watermark regressed on a wall-clock-newer stale append")
  }

  test("compactWatermarkHistory: one row per table remains, committed CAS slots pruned, ladder continues") {
    val dir = tmpDir("cat-compact")
    val cat = new Catalog(spark, dir)
    assert(cat.compareAndSetWatermark("t", 0L, 1L))
    assert(cat.compareAndSetWatermark("t", 1L, 2L))
    assert(cat.compareAndSetWatermark("t", 2L, 3L))
    cat.setWatermark("u", 50L)
    cat.compactWatermarkHistory()
    assert(cat.watermark("t") == 3L && cat.watermark("u") == 50L)
    // history folded: exactly one commit subdir remains
    val dirs = new java.io.File(s"$dir/watermarks").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs.length == 1, dirs.toString)
    // fully-committed transition slots (from_0/1/2 < floor 3) are gone
    val slots = Option(new java.io.File(s"$dir/watermark_slots/t").listFiles())
      .map(_.map(_.getName).toSeq).getOrElse(Seq.empty)
    assert(slots.isEmpty, slots.toString)
    // the CAS ladder continues from the snapshot
    assert(cat.compareAndSetWatermark("t", 3L, 4L))
    assert(cat.watermark("t") == 4L)
  }
}
