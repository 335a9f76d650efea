package graft.pipeline

import graft.catalog.{Catalog, Status}
import graft.clean.Clean
import graft.dedup.Dedup
import graft.ingest.{CsvSource, ZipCsv}
import graft.load.{Casts, IdAssign, Snapshot}
import graft.schema.{Registry, TableSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file ingest orchestration — the Spark re-expression of the reference's
  * `process_file` (`main.py:70-333`) and daemon loop (`main.py:335-424`).
  *
  * For each new file: route → read all-string → rename → conform → row_hash →
  * intra-batch dedup (J1) → anti-join vs target hashes (J2) → typed casts →
  * dense ids from watermark (P3) → id guard (J3) → append snapshot → commit
  * watermark → status rows. One logical plan per batch; Catalyst fuses the
  * clean/cast projections, and the anti-joins are the only exchanges.
  *
  * Spark jobs per file into an existing table: CSV header read; target
  * footer read; watermark lookup; the id stamp's stages (J1, J2, range
  * sample, partition counts); J3's broadcast of target ids above the
  * watermark; ONE write over the batch, which also observes its row count
  * and max id; one watermark commit; one status commit.
  */
object Pipeline {
  final case class Result(fileName: String, table: Option[String], inserted: Long, status: String)
}

final class Pipeline(
    spark: SparkSession,
    catalog: Catalog,
    schemas: Seq[TableSchema],
    renames: Map[String, Map[String, String]],
    warehouseDir: String,
    prefixAliases: Map[String, String] = Map.empty) {
  import Pipeline.Result

  private def fail(file: String, status: String): Result = {
    catalog.recordStatus(file, status)
    Result(file, None, 0L, status)
  }

  /** Process one CSV (or ZIP-of-CSV) file end to end. Idempotent per file name
    * (catalog gate) and per content (hash + id anti-joins).
    */
  def processFile(path: String): Result = {
    val fileName = path.split('/').last
    if (catalog.isProcessed(fileName))
      return Result(fileName, None, 0L, "skipped: already processed")
    val lower = fileName.toLowerCase
    if (lower.endsWith(".csv")) ingest(fileName, path)
    else if (!lower.endsWith(".zip")) fail(fileName, Status.NotValidCsv)
    else {
      // 1. zip extraction (first entry only, reference semantics) into a
      // scratch dir, deleted once the write has consumed the CSV
      val outDir = java.nio.file.Files.createTempDirectory("graft_zip")
      try ZipCsv.extractFirstEntry(path, outDir.toString) match {
        case Left(_) => fail(fileName, Status.ExtractionFailed)
        case Right(csvPath) => ingest(fileName, csvPath)
      } finally org.apache.hadoop.fs.FileUtil.fullyDelete(outDir.toFile)
    }
  }

  private def ingest(fileName: String, csvPath: String): Result = {
    // 2. route by file name (contains-match + prefix aliases; fixed reference bug)
    val routed = Registry.route(csvPath, schemas.map(_.tableName), prefixAliases)
    val schema = routed.flatMap(k => schemas.find(_.tableName == k)) match {
      case None => return fail(fileName, Status.NoSchema)
      case Some(s) => s
    }
    // key-substring-of-table-name, like the reference's lookup
    // (data_processing.py:34-36 — one direction only: a broader key such as
    // "events_v2" must NOT match table "events"); longest key wins so the
    // pick is deterministic when several keys match
    val mapping = renames.toSeq
      .filter { case (k, _) => schema.tableName.contains(k) }
      .sortBy { case (k, _) => (-k.length, k) }
      .headOption.map(_._2) match {
      case None => return fail(fileName, Status.NoMapping)
      case Some(m) => m
    }

    try {
      val raw = CsvSource.readSniffed(spark, csvPath)

      // 3. rename (extra columns fatal, missing tolerated)
      val renamed = Clean.renameColumns(raw, mapping) match {
        case Left(_) => return fail(fileName, Status.RenameError)
        case Right(df) => df
      }

      // 4. conform to declared columns (id + row_hash are engine-assigned)
      val dataCols = schema.columnNames.filterNot(c => c == "id" || c == "row_hash")
      if (renamed.columns.length > dataCols.length)
        return fail(fileName, Status.ColumnCountMismatch)
      val conformed = Clean.conform(renamed, dataCols)

      // 5. content hash over the raw string fields, then J1 + J2
      val hashed = Clean.withRowHash(conformed, dataCols)
      val deduped = Dedup.selfDedupAnyWins(hashed, "row_hash")
      val target = prior(schema.tableName)
      val netNew = target.fold(deduped)(Dedup.antiJoinPrior(deduped, _, "row_hash"))

      // 6-7. typed casts; ids, J3, append, watermark (land); statuses.
      // The watermark is committed BEFORE the status rows: a crash after
      // the append but before the file is marked processed means the
      // rerun's hash anti-join inserts zero rows (content idempotency) —
      // harmless. The reverse order would leave a stale watermark behind a
      // recorded file, and the id guard would then silently discard later
      // batches' reused ids.
      val inserted = land(Casts.applyRoles(netNew, schema), schema, target)
      catalog.recordStatus(fileName, Status.Processed, Status.Uploaded)
      Result(fileName, Some(schema.tableName), inserted, Status.Uploaded)
    } catch {
      case e: Exception => fail(fileName, Status.unexpected(e.getMessage))
    }
  }

  /** The table's rows so far, if it has any (the J2 and J3 build side). */
  private def prior(table: String): Option[DataFrame] = {
    val tableDir = s"$warehouseDir/$table"
    if (Snapshot.exists(spark, tableDir)) Some(Snapshot.readTable(spark, tableDir)) else None
  }

  /** The landing tail of both paths: ids from the watermark (P3), J3 floored
    * at it (every stamped id is > lastId), one observed append, then the
    * watermark commit (none for an empty batch). Nothing may evaluate the
    * batch after the write: its anti-joins would see their own output.
    */
  private def land(typed: DataFrame, schema: TableSchema, target: Option[DataFrame]): Long = {
    val lastId = catalog.watermark(schema.tableName)
    val withIds = IdAssign.denseIds(typed, lastId, Seq("row_hash"))
    val guarded = target.fold(withIds)(Dedup.idGuardAbove(withIds, _, lastId, "id"))
    val m = Snapshot.appendBatchObserved(guarded.select(schema.columnNames.map(col): _*),
      s"$warehouseDir/${schema.tableName}", Seq(count(lit(1)).as("n"), max(col("id")).as("mx")))
    Option(m("mx")).foreach(mx => catalog.setWatermark(schema.tableName, mx.asInstanceOf[Long]))
    m("n").asInstanceOf[Long]
  }

  /** Streaming variant of the ingest (SURVEY.md §7.1 step 7): one file
    * stream per TABLE directory (routing is per-file in the batch path; a
    * stream has one schema, so the stream is per table), drained with
    * `Trigger.AvailableNow`. The checkpoint replaces the processed-files
    * idempotency set; each micro-batch runs the same clean → hash → dedup →
    * cast → id → J3 → append stages through `foreachBatch`.
    */
  def runTableStream(
      tableName: String,
      inputDir: String,
      checkpointDir: String,
      rawColumns: Seq[String] = Nil): Unit = {
    val schema = schemas.find(_.tableName == tableName)
      .getOrElse(throw new IllegalArgumentException(s"no schema for $tableName"))
    val mapping = renames.getOrElse(tableName,
      renames.collectFirst { case (k, m) if tableName.contains(k) => m }.getOrElse(Map.empty))
    val dataCols = schema.columnNames.filterNot(c => c == "id" || c == "row_hash")
    // An explicit CSV schema binds by POSITION, not by header name, so the
    // caller must declare the files' actual column order (`rawColumns`).
    // enforceSchema=false makes Spark validate each file's header against it
    // — a reordered file fails loudly instead of silently swapping columns.
    val orderedRaw = if (rawColumns.nonEmpty) rawColumns else mapping.keys.toSeq.sorted
    val rawSchema = org.apache.spark.sql.types.StructType(
      orderedRaw.map(
        org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType, true)))
    val stream = graft.streaming.StreamingIngest.fileStream(spark, inputDir, rawSchema)
    graft.streaming.StreamingIngest.runAvailableNow(stream, checkpointDir) { (batch, _) =>
      val renamed = Clean.renameColumns(batch, mapping)
        .fold(e => throw new RuntimeException(e.message), identity)
      val conformed = Clean.conform(renamed, dataCols)
      val hashed = Dedup.selfDedupAnyWins(Clean.withRowHash(conformed, dataCols), "row_hash")
      val target = prior(tableName)
      val netNew = target.fold(hashed)(Dedup.antiJoinPrior(hashed, _, "row_hash"))
      land(Casts.applyRoles(netNew, schema), schema, target)
    }
  }

  /** Batch driver: list a directory, skip processed, run each new file — the
    * reference's daily `main()` (`main.py:335-410`) minus the sleep loop
    * (scheduling is external, or use Structured Streaming AvailableNow).
    */
  def runBatch(inputDir: String): Seq[Result] = {
    val p = new org.apache.hadoop.fs.Path(inputDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p)
      .map(_.getPath.toString)
      .filter(f => f.toLowerCase.endsWith(".csv") || f.toLowerCase.endsWith(".zip"))
      .sorted
      .map(processFile)
      .toSeq
  }
}
