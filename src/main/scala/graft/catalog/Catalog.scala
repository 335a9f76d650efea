package graft.catalog

import graft.store.CommitLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The ~17-value per-file status machine written to the catalog
  * (reference: status strings throughout `main.py:97-328`, SURVEY.md §2.9).
  */
object Status {
  val Processed = "processed"
  val Uploaded = "uploaded to warehouse"
  val ExtractionFailed = "extraction failed"
  val NotValidCsv = "not a valid CSV file"
  val NoSchema = "no schema found"
  val NoMapping = "no column mapping found"
  val RenameError = "rename error"
  val ColumnCountMismatch = "column count mismatch"
  val AddColumnError = "add column error"
  val SelfDedupError = "self deduplication error"
  val CrossDedupError = "cross-file comparison error"
  val InsertError = "insert error"
  val UploadError = "upload error"
  val WatermarkError = "update last_id error"
  def unexpected(msg: String): String = s"unexpected error: $msg"

  /** Statuses that mean "this file is done, skip it next run" (the reference's
    * idempotency set membership, `main.py:349-350,364`, counts ANY recorded
    * status — a failed file is also not retried automatically; preserved).
    */
  val all: Seq[String] = Seq(
    Processed, Uploaded, ExtractionFailed, NotValidCsv, NoSchema, NoMapping,
    RenameError, ColumnCountMismatch, AddColumnError, SelfDedupError,
    CrossDedupError, InsertError, UploadError, WatermarkError)
}

/** Parquet-backed metadata catalog replacing the reference's Postgres
  * `processed_files` table (schema `file_name, status, created_at` —
  * `test.py:26`, `util/data_pushing.py:516-519`) and the mutable
  * `last_id` watermark the reference rewrites into `table_schema.json`
  * (`util/data_pushing.py:430-460`; moving it here is SURVEY.md §7.4 item 6).
  *
  * Append-only: one file may have many status rows; the latest watermark row
  * per table wins. Both logs are [[graft.store.CommitLog]] logs: one
  * committed dir per append, folded by [[compactWatermarkHistory]].
  */
final class Catalog(spark: SparkSession, dir: String) {
  import spark.implicits._

  private val statusDir = s"$dir/processed_files"
  private val StatusSchema = "file_name STRING, status STRING, created_at TIMESTAMP"
  private val WatermarkSchema = "table_name STRING, last_id BIGINT, updated_at TIMESTAMP"

  /** A log's committed dirs read in one scan with its declared row
    * layout, so no job infers it from footers; None when it has none.
    */
  private def readLog(dirs: Seq[String], schema: String): Option[DataFrame] =
    if (dirs.isEmpty) None else Some(spark.read.schema(schema).parquet(dirs: _*))

  /** One append to a log, in its own dir: Spark's output committer
    * stages every job writing to a path under that path's shared
    * `_temporary`, so per-commit dirs keep two appending processes from
    * deleting each other's staged files.
    */
  private def append(log: String, rows: DataFrame): Unit =
    rows.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/$log/c_${java.util.UUID.randomUUID()}")

  /** Per-run cache of the processed-file NAME SET for the driver-side
    * [[isProcessed]] probe: the per-file orchestration path probes once per
    * input file, and without a cache each probe re-scans the whole status
    * log — O(N files) scans per batch run. The set is metadata-sized (one
    * name per file ever processed, not per row), loaded once per run and
    * kept in sync by [[recordStatus]]. Single-writer assumption (true of
    * the reference's poll loop — one daemon owns the catalog), but
    * staleness is BOUNDED: each probe stats the status directory (one
    * cheap FS metadata call, not a listing or scan) and reloads when its
    * modification time moved — an external writer's append changes the
    * dir mtime, so it is visible from the next probe onward. Residual
    * races (single-writer remains the contract; these only matter under
    * multi-writer misuse): an external append landing within the same
    * mtime tick as a probe's reload (ms granularity on most
    * filesystems), and an external append interleaving with OUR OWN
    * [[recordStatus]] write — the post-append re-stamp can absorb its
    * mtime change, hiding that file until the next external mtime move.
    * [[refreshProcessedNames]] remains the explicit override. The
    * SET-BASED path ([[filterUnprocessed]]) stays the scale answer and
    * never touches this cache.
    */
  @volatile private var nameCache: (Long, Set[String]) = null

  /** Drop the cached name set (next probe reloads from the status log). */
  def refreshProcessedNames(): Unit = nameCache = null

  /** A log dir's mtime (-1 when absent) — the caches' staleness key.
    * Object-store caveat: S3A and friends synthesize directory entries
    * with constant (often zero) modification times, so on such stores
    * the stamp never moves and a cache degrades to never-invalidate —
    * exactly the behavior the stamp exists to bound. That is acceptable
    * only because single-writer is the contract (our own appends go
    * through [[recordStatus]] and [[setWatermark]], which update the
    * caches in-process); multi-writer orchestration over an object store
    * must call [[refreshProcessedNames]] between batches or use the
    * set-based [[filterUnprocessed]] path, and advance watermarks with
    * [[compareAndSetWatermark]]; neither trusts a cache. */
  private def stamp(logDir: String): Long = {
    val p = new Path(logDir)
    try CommitLog.fs(spark, p).getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => -1L }
  }

  private def cachedNames(): Set[String] = {
    val now = stamp(statusDir)
    var c = nameCache
    if (c == null || c._1 != now) {
      c = (now,
        statusLog.select("file_name").distinct().as[String].collect().toSet)
      nameCache = c
    }
    c._2
  }

  /** K3 — append one status row per given status, all in ONE commit (one
    * write job), and keep the probe cache in sync.
    */
  def recordStatus(fileName: String, statuses: String*): Unit = {
    require(statuses.nonEmpty, "need at least one status")
    val preStamp = stamp(statusDir)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    append("processed_files",
      statuses.map(s => (fileName, s, now)).toDF("file_name", "status", "created_at"))
    val c = nameCache
    // keep the probe cache warm across our OWN append — but only when
    // nothing else moved the dir since we cached: re-stamping over an
    // unseen external append would absorb its mtime change and hide its
    // file from isProcessed indefinitely. On mismatch, drop the cache
    // and let the next probe reload.
    if (c != null) {
      if (c._1 == preStamp) nameCache = (stamp(statusDir), c._2 + fileName)
      else nameCache = null
    }
  }

  /** S9/S10 — the full status log. */
  def statusLog: DataFrame =
    readLog(CommitLog.dirs(spark, dir, "processed_files"), StatusSchema)
      .getOrElse(Seq.empty[(String, String, java.sql.Timestamp)]
        .toDF("file_name", "status", "created_at"))

  /** The idempotency set: distinct file names with any recorded status. */
  def processedFileNames: DataFrame = statusLog.select("file_name").distinct()

  /** F1 — drop inputs already recorded (anti-join on file name; the driver-side
    * boolean probe below is for the per-file orchestration path).
    */
  def filterUnprocessed(files: DataFrame, fileNameCol: String = "file_name"): DataFrame =
    files.join(processedFileNames.withColumnRenamed("file_name", fileNameCol),
      Seq(fileNameCol), "left_anti")

  /** Driver-side idempotency probe — one status-log scan per RUN (the
    * cached name set), not per file.
    */
  def isProcessed(fileName: String): Boolean = cachedNames().contains(fileName)

  /** K4 — watermark commit (append-only; the largest id wins), kept in the
    * probe cache by the name cache's rule (see [[recordStatus]]).
    */
  def setWatermark(table: String, lastId: Long): Unit = {
    val preStamp = stamp(watermarkDir)
    append("watermarks", Seq((table, lastId, new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("table_name", "last_id", "updated_at"))
    val c = watermarkCache
    if (c != null) {
      if (c._1 == preStamp)
        watermarkCache = (stamp(watermarkDir), c._2.updated(table, c._2.getOrElse(table, 0L).max(lastId)))
      else watermarkCache = null
    }
  }

  /** Per-run cache of every table's watermark, with the name cache's
    * staleness bound: each probe stats the watermark dir and reloads when
    * its mtime moved, so an external writer's commit is visible from the
    * next probe onward, and [[setWatermark]] keeps it in sync without a
    * reload. A commit dir is created (moving the mtime) before its job
    * writes `_SUCCESS` (which does not), so a reload that finds a dir still
    * without `_SUCCESS` is not kept. [[compareAndSetWatermark]] never
    * trusts it: it reads the log fresh, and stores what it read.
    */
  @volatile private var watermarkCache: (Long, Map[String, Long]) = null

  private def watermarkDir = s"$dir/watermarks"

  /** Every table's watermark read from the log in one job, then cached.
    * The log is metadata-sized (one row per commit), so its rows are
    * collected and reduced here.
    */
  private def loadWatermarks(): Map[String, Long] = {
    val before = stamp(watermarkDir)
    val values = readLog(CommitLog.dirs(spark, dir, "watermarks"), WatermarkSchema)
      .fold(Map.empty[String, Long])(_.select($"table_name", $"last_id").as[(String, Long)].collect()
        .groupMapReduce(_._1)(_._2)(_ max _))
    val pending = CommitLog.list(spark, watermarkDir).exists(d =>
      d.isDirectory && !CommitLog.fs(spark, d.getPath).exists(new Path(d.getPath, "_SUCCESS")))
    watermarkCache = (if (pending) Long.MinValue else before, values)
    values
  }

  /** A2 — current watermark for a table (0 when never set), from the probe
    * cache: no job while the watermark dir's mtime holds. Resolved by the
    * largest `last_id`: watermarks are strictly increasing under both the
    * single-writer path and the CAS protocol, so the largest id IS the
    * latest commit. Resolving by wall-clock `updated_at` would let a
    * stalled winner (GC pause) whose append lands after a roll-forward
    * already advanced the table temporarily REGRESS the observed
    * watermark (an older value carrying a newer timestamp), re-opening an
    * already-covered id range; it is also unsafe across writers with
    * clock skew.
    */
  def watermark(table: String): Long = {
    val c = watermarkCache
    val values = if (c != null && c._1 == stamp(watermarkDir)) c._2 else loadWatermarks()
    values.getOrElse(table, 0L)
  }

  /** The log's current value for a table, read fresh (one job). */
  private def freshWatermark(table: String): Long = loadWatermarks().getOrElse(table, 0L)

  // ---- multi-writer watermark protocol -------------------------------------

  private def slotPath(table: String, expected: Long) =
    new Path(s"$dir/watermark_slots/$table/from_$expected")

  /** K4 for CONCURRENT writers — conditional watermark commit (optimistic
    * concurrency): advances `table`'s watermark to `newId` only if it
    * still equals `expected`; returns whether THIS call won. Two ingest
    * jobs racing from the same snapshot contend on one transition slot
    * (`watermark_slots/<table>/from_<expected>`, claimed by an exclusive
    * [[CommitLog.publish]] of the new id — watermarks are strictly
    * increasing, so a value is transitioned FROM at most once and the
    * slot name is a natural CAS key); exactly one claim wins and appends
    * the watermark row, the loser returns false, re-reads, and retries
    * from the new value. The slot is published whole, so a winner that
    * crashes between claiming the slot and appending the row is ROLLED
    * FORWARD by whichever caller next touches the transition: a crash
    * never wedges the ladder. Exclusivity is the publish's: hard on
    * `file:` and HDFS. The unconditional [[setWatermark]] remains the
    * single-writer fast path.
    */
  def compareAndSetWatermark(table: String, expected: Long, newId: Long): Boolean = {
    require(newId > expected, s"watermark must advance: $expected -> $newId")
    if (freshWatermark(table) != expected) return false
    val slot = slotPath(table, expected)
    if (CommitLog.publish(spark, slot, Seq(newId.toString))) {
      setWatermark(table, newId)
      true
    } else {
      // lost the race (or found a crashed winner): roll the recorded
      // transition forward if its append never landed, then report loss
      CommitLog.read(spark, slot).flatMap(_.headOption).foreach { committed =>
        if (freshWatermark(table) == expected) setWatermark(table, committed.toLong)
      }
      false
    }
  }

  /** Maintenance: fold the append-only watermark history into ONE snapshot
    * row per table and delete fully-committed CAS transition slots.
    * Without this, a hot table driven by CAS retry loops accumulates one
    * parquet commit dir + one slot file per transition and [[watermark]]
    * reads/sorts the whole history on every call — linear degradation.
    *
    * A [[CommitLog.fold]] of the committed dirs (nothing to do under
    * two). Safe to run alongside CAS writers: a concurrent append creates
    * a new dir the fold never lists, and values strictly increase so the
    * snapshot can never shadow it under the last_id-first resolution.
    * Only slots `from_<N>` (and their claim temps) with N strictly below
    * a table's current watermark go: those transitions are fully
    * committed, and a crashed winner's roll-forward needs exactly the
    * slot AT the current value, which is kept. A fold that a crash left
    * mid-delete is finished by the next call.
    */
  def compactWatermarkHistory(): Unit = {
    CommitLog.fold(spark, dir, "watermarks", retire = true)(
      Some(CommitLog.dirs(spark, dir, "watermarks")).filter(_.size > 1).getOrElse(Nil)) {
      sources =>
      // latest row per table: last_id desc (strictly-increasing resolution)
      append("watermarks", readLog(sources, WatermarkSchema).get
        .groupBy($"table_name")
        .agg(max(struct($"last_id", $"updated_at")).as("w"))
        .select($"table_name", $"w.last_id", $"w.updated_at"))
    }
    // prune committed CAS slots (from_<N> below the table's floor)
    val floors = loadWatermarks()
    val Slot = "(?:\\._)?from_(-?[0-9]+)(?:\\..+\\.tmp)?".r
    for {
      t <- CommitLog.list(spark, s"$dir/watermark_slots")
      floor <- floors.get(t.getPath.getName)
      s <- CommitLog.list(spark, t.getPath.toString)
      Slot(n) <- Some(s.getPath.getName)
      if n.toLong < floor
    } CommitLog.delete(spark, Seq(s.getPath))
  }
}
