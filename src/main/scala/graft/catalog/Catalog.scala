package graft.catalog

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
  * per table wins.
  */
final class Catalog(spark: SparkSession, dir: String) {
  import spark.implicits._

  private val statusDir = s"$dir/processed_files"
  private val watermarkDir = s"$dir/watermarks"

  /** Read a log (recursive: one subdir per commit, plus any legacy flat
    * files) with its declared row layout, so no job infers it from footers.
    */
  private def readLog(d: String, schema: String): DataFrame =
    spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(d)

  private def watermarkLog: DataFrame =
    readLog(watermarkDir, "table_name STRING, last_id BIGINT, updated_at TIMESTAMP")

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

  /** The status dir's mtime (-1 when absent) — the cache staleness key.
    * Object-store caveat: S3A and friends synthesize directory entries
    * with constant (often zero) modification times, so on such stores
    * the stamp never moves and this cache degrades to never-invalidate —
    * exactly the behavior the stamp exists to bound. That is acceptable
    * only because single-writer is the contract (our own appends go
    * through [[recordStatus]], which updates the cache in-process);
    * multi-writer orchestration over an object store must call
    * [[refreshProcessedNames]] between batches or use the set-based
    * [[filterUnprocessed]] path, which never touches this cache. */
  private def statusStamp(): Long = {
    val p = new org.apache.hadoop.fs.Path(statusDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else -1L
  }

  private def cachedNames(): Set[String] = {
    val stamp = statusStamp()
    var c = nameCache
    if (c == null || c._1 != stamp) {
      c = (stamp,
        statusLog.select("file_name").distinct().as[String].collect().toSet)
      nameCache = c
    }
    c._2
  }

  private def existsAny(d: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** K3 — append one status row per given status, all in ONE commit (one
    * write job), and keep the probe cache in sync.
    * Each append lands in its OWN subdirectory: Spark's output committer
    * stages every job writing to a path under that path's shared
    * `_temporary` dir, so two processes appending to the same directory
    * can delete each other's staged files — per-commit dirs make the
    * append multi-writer safe (reads recurse).
    */
  def recordStatus(fileName: String, statuses: String*): Unit = {
    require(statuses.nonEmpty, "need at least one status")
    val preStamp = statusStamp()
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    statuses.map(s => (fileName, s, now))
      .toDF("file_name", "status", "created_at")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$statusDir/c_${java.util.UUID.randomUUID()}")
    val c = nameCache
    // keep the probe cache warm across our OWN append — but only when
    // nothing else moved the dir since we cached: re-stamping over an
    // unseen external append would absorb its mtime change and hide its
    // file from isProcessed indefinitely. On mismatch, drop the cache
    // and let the next probe reload.
    if (c != null) {
      if (c._1 == preStamp) nameCache = (statusStamp(), c._2 + fileName)
      else nameCache = null
    }
  }

  /** S9/S10 — the full status log. */
  def statusLog: DataFrame =
    if (existsAny(statusDir))
      readLog(statusDir, "file_name STRING, status STRING, created_at TIMESTAMP")
    else Seq.empty[(String, String, java.sql.Timestamp)].toDF("file_name", "status", "created_at")

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

  /** K4 — watermark commit (append-only; latest row wins). Per-commit
    * subdirectory for the same multi-writer committer-isolation reason
    * as [[recordStatus]].
    */
  def setWatermark(table: String, lastId: Long): Unit =
    Seq((table, lastId, new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("table_name", "last_id", "updated_at")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$watermarkDir/c_${java.util.UUID.randomUUID()}")

  /** A2 — current watermark for a table (0 when never set). Resolved by
    * `last_id` FIRST: watermarks are strictly increasing under both the
    * single-writer path and the CAS protocol, so the largest id IS the
    * latest commit. Ordering by wall-clock `updated_at` first would let a
    * stalled winner (GC pause) whose append lands after a roll-forward
    * already advanced the table temporarily REGRESS the observed
    * watermark (an older value carrying a newer timestamp), re-opening an
    * already-covered id range; it is also unsafe across writers with
    * clock skew. `updated_at` stays as a tiebreaker only.
    */
  def watermark(table: String): Long =
    if (!existsAny(watermarkDir)) 0L
    else {
      val rows = watermarkLog
        .filter($"table_name" === table)
        .orderBy($"last_id".desc, $"updated_at".desc)
        .select($"last_id")
        .head(1)
      if (rows.isEmpty) 0L else rows(0).getLong(0)
    }

  // ---- multi-writer watermark protocol -------------------------------------

  private def slotPath(table: String, expected: Long) =
    new org.apache.hadoop.fs.Path(s"$dir/watermark_slots/$table/from_$expected")

  /** Atomic create-no-overwrite of a small file. Local paths go through
    * java.nio `CREATE_NEW` (atomic open-exclusive); everything else uses
    * Hadoop `create(path, overwrite = false)`, which is atomic on HDFS.
    * Object-store caveat: classic S3A create is check-then-put, so on
    * stores without conditional writes the exclusivity is best-effort —
    * pair the catalog with a store that has atomic create (HDFS, ABFS)
    * for hard multi-writer guarantees.
    */
  private def atomicCreate(p: org.apache.hadoop.fs.Path, content: String): Boolean = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    if (p.toUri.getScheme == null || p.toUri.getScheme == "file") {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p.toUri.getPath),
          content.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  private def readSlot(p: org.apache.hadoop.fs.Path): Long = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
  }

  /** K4 for CONCURRENT writers — conditional watermark commit (optimistic
    * concurrency): advances `table`'s watermark to `newId` only if it
    * still equals `expected`; returns whether THIS call won. Two ingest
    * jobs racing from the same snapshot contend on one transition slot
    * (`watermark_slots/<table>/from_<expected>`, claimed by atomic
    * create-no-overwrite — watermarks are strictly increasing, so a
    * value is transitioned FROM at most once and the slot name is a
    * natural CAS key); exactly one create wins and appends the watermark
    * row, the loser returns false, re-reads, and retries from the new
    * value. A winner that crashes between claiming the slot and
    * appending the row is ROLLED FORWARD by whichever caller next
    * touches the transition (the slot records the committed id), so a
    * crash never wedges the ladder. The unconditional [[setWatermark]]
    * remains the single-writer fast path.
    */
  def compareAndSetWatermark(table: String, expected: Long, newId: Long): Boolean = {
    require(newId > expected, s"watermark must advance: $expected -> $newId")
    if (watermark(table) != expected) return false
    val slot = slotPath(table, expected)
    if (atomicCreate(slot, newId.toString)) {
      setWatermark(table, newId)
      true
    } else {
      // lost the race (or found a crashed winner): roll the recorded
      // transition forward if its append never landed, then report loss
      val committed = readSlot(slot)
      if (watermark(table) == expected) setWatermark(table, committed)
      false
    }
  }

  /** Maintenance: fold the append-only watermark history into ONE snapshot
    * row per table and delete fully-committed CAS transition slots.
    * Without this, a hot table driven by CAS retry loops accumulates one
    * parquet commit dir + one slot file per transition and [[watermark]]
    * reads/sorts the whole history on every call — linear degradation.
    *
    * Safe to run alongside CAS writers: only the commit subdirectories
    * listed BEFORE the snapshot lands are deleted (a concurrent append
    * creates a new subdir we never touch, and values strictly increase so
    * the snapshot can never shadow it under the last_id-first resolution),
    * and only slots `from_<N>` with N strictly below a table's current
    * watermark go (those transitions are fully committed — a crashed
    * winner's roll-forward need is exactly the slot AT the current value,
    * which is kept). Same maintenance-pass discipline as the dedup
    * store's compact+vacuum.
    */
  def compactWatermarkHistory(): Unit = {
    if (!existsAny(watermarkDir)) return
    val conf = spark.sparkContext.hadoopConfiguration
    val wmPath = new org.apache.hadoop.fs.Path(watermarkDir)
    val fs = wmPath.getFileSystem(conf)
    val oldDirs = fs.listStatus(wmPath).filter(_.isDirectory).map(_.getPath)
    // latest row per table: last_id desc (strictly-increasing resolution)
    val snapshot = watermarkLog
      .groupBy($"table_name")
      .agg(max(struct($"last_id", $"updated_at")).as("w"))
      .select($"table_name", $"w.last_id", $"w.updated_at")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2)))
    if (snapshot.isEmpty) return
    snapshot.toSeq.toDF("table_name", "last_id", "updated_at")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$watermarkDir/c_${java.util.UUID.randomUUID()}")
    oldDirs.foreach(p => fs.delete(p, true))
    // prune committed CAS slots (from_<N> below the table's floor)
    val slotsRoot = new org.apache.hadoop.fs.Path(s"$dir/watermark_slots")
    if (fs.exists(slotsRoot)) for ((table, floor, _) <- snapshot) {
      val td = new org.apache.hadoop.fs.Path(slotsRoot, table)
      if (fs.exists(td)) fs.listStatus(td).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("from_") && n.stripPrefix("from_").matches("-?[0-9]+") &&
            n.stripPrefix("from_").toLong < floor)
          fs.delete(st.getPath, false)
      }
    }
  }
}
