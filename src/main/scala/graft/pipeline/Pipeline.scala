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
  * anti-join vs target hashes (J2) → typed casts → one exchange in row_hash
  * order, after which intra-batch dedup (J1) and dense ids from the watermark
  * (P3) run together → id guard (J3) → append snapshot → commit watermark →
  * status rows. One logical plan per batch; Catalyst fuses the clean/cast
  * projections, and the hash exchange is the only shuffle (both anti-joins
  * broadcast).
  *
  * Spark jobs per file into an existing table (7): CSV header read; J2's
  * broadcast of target hashes; the exchange's map stage (scan, hash, J2,
  * casts); J3's broadcast of target ids above the watermark; ONE write over
  * the batch, which also runs J1 and the stamp and observes its row count
  * and max id; one watermark commit; one status commit. A batch of more than
  * one advisory partition size adds one job that counts the rows of all
  * partitions but the last. The watermark comes from the catalog's cache.
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
    val mapping = mappingFor(schema.tableName) match {
      case None => return fail(fileName, Status.NoMapping)
      case Some(m) => m
    }
    // The watermark is committed BEFORE the status rows: a crash after the
    // append but before the file is marked processed means the rerun's hash
    // anti-join inserts zero rows (content idempotency) — harmless. The
    // reverse order would leave a stale watermark behind a recorded file,
    // and the id guard would then silently discard later batches' reused ids.
    try stage(CsvSource.readSniffed(spark, csvPath), schema, mapping, fileBytes(csvPath)) match {
      case Left(status) => fail(fileName, status)
      case Right(inserted) =>
        catalog.recordStatus(fileName, Status.Processed, Status.Uploaded)
        Result(fileName, Some(schema.tableName), inserted, Status.Uploaded)
    } catch {
      case e: Exception => fail(fileName, Status.unexpected(e.getMessage))
    }
  }

  /** The rename mapping of a table: the longest key contained in its name,
    * like the reference's key-substring-of-table-name lookup
    * (data_processing.py:34-36 — one direction only: a broader key such as
    * "events_v2" must NOT match table "events"); ties go to the smaller key.
    */
  private def mappingFor(table: String): Option[Map[String, String]] =
    renames.toSeq
      .filter { case (k, _) => table.contains(k) }
      .sortBy { case (k, _) => (-k.length, k) }
      .headOption.map(_._2)

  /** One batch of both paths, from raw string columns to the warehouse:
    * rename (extra columns are a reject) → column-count check → conform to
    * the declared columns (id + row_hash are engine-assigned) → row_hash
    * over the raw string fields → J2 → typed casts → [[land]], whose one
    * exchange also runs J1. `inputBytes` (the batch's CSV bytes) sizes
    * that exchange. Returns the rows inserted, or the status of a reject.
    */
  private def stage(
      raw: DataFrame,
      schema: TableSchema,
      mapping: Map[String, String],
      inputBytes: Long): Either[String, Long] = {
    val dataCols = schema.columnNames.filterNot(c => c == "id" || c == "row_hash")
    Clean.renameColumns(raw, mapping) match {
      case Left(_) => Left(Status.RenameError)
      case Right(renamed) if renamed.columns.length > dataCols.length => Left(Status.ColumnCountMismatch)
      case Right(renamed) =>
        val hashed = Clean.withRowHash(Clean.conform(renamed, dataCols), dataCols)
        val target = prior(schema.tableName)
        val netNew = target.fold(hashed)(Dedup.antiJoinPrior(hashed, _, "row_hash"))
        Right(land(Casts.applyRoles(netNew, schema), schema, target, inputBytes))
    }
  }

  /** The table's ids and hashes so far, if it has any (the J2 and J3 build
    * side), read with their declared types: no job infers them from footers.
    */
  private def prior(table: String): Option[DataFrame] = {
    val tableDir = s"$warehouseDir/$table"
    if (Snapshot.exists(spark, tableDir)) Some(spark.read.schema("id BIGINT, row_hash STRING").parquet(tableDir))
    else None
  }

  private def fileBytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
  }

  /** The landing tail of both paths: J1 and ids from the watermark (P3) over
    * one exchange in row_hash order, J3 floored at the watermark (every
    * stamped id is > lastId), one observed append, then the watermark commit
    * (none for an empty batch). The exchange gets one partition per advisory
    * partition size of input, at most the shuffle partition count. Nothing
    * may evaluate the batch after the write: its anti-joins would see their
    * own output.
    */
  private def land(typed: DataFrame, schema: TableSchema, target: Option[DataFrame], inputBytes: Long): Long = {
    val lastId = catalog.watermark(schema.tableName)
    val conf = spark.sessionState.conf
    val advisory = conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val parts = ((inputBytes - 1) / advisory + 1).max(1L).min(conf.numShufflePartitions.toLong).toInt
    val withIds = IdAssign.dedupDenseIdsByHash(typed, lastId, "row_hash", parts)
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
    * idempotency set; each micro-batch runs the file path's [[stage]]
    * through `foreachBatch`, and a rejected batch fails the stream.
    */
  def runTableStream(
      tableName: String,
      inputDir: String,
      checkpointDir: String,
      rawColumns: Seq[String] = Nil): Unit = {
    val schema = schemas.find(_.tableName == tableName)
      .getOrElse(throw new IllegalArgumentException(s"no schema for $tableName"))
    val mapping = mappingFor(tableName)
      .getOrElse(throw new IllegalArgumentException(s"no rename mapping for $tableName"))
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
      // a micro-batch arrives as a scan of its rows, whose size statistic
      // is the summed length of its input files
      val inputBytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes.min(Long.MaxValue).toLong
      stage(batch, schema, mapping, inputBytes)
        .fold(s => throw new IllegalStateException(s"$tableName: $s"), identity)
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
