package graft.load

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** K1/K2 — snapshot writes replacing the reference's ClickHouse bulk insert
  * (`util/data_pushing.py:211-222`) and S3 archive (`main.py:294-309`).
  *
  * One directory per table; each ingest batch appends parquet files. Batches
  * are written partitioned (no coalesce-to-1): at 100 TB a batch append is a
  * parallel write of many parquet parts, and readers prune with column
  * projection + predicate pushdown against parquet stats.
  */
object Snapshot {

  def appendBatch(df: DataFrame, tableDir: String): Unit =
    df.write.mode(SaveMode.Append).parquet(tableDir)

  /** Append with in-flight data-quality metrics: the given aggregate
    * expressions are observed DURING the write (Spark's Observation API —
    * accumulator-backed, no second scan of the batch) and returned as the
    * metrics row. The warehouse use: record rows-written / null counts /
    * value bounds in the audit catalog without re-reading what was just
    * written.
    *
    * Exactness: `observe` sits on top of the plan the write runs, so the
    * metrics are collected in the write's result stage, whose accumulator
    * updates Spark merges once per partition even when a task is retried
    * or speculated (map-stage updates merge once per successful attempt).
    * The ingest pipeline's watermark reads only `max(id)`, which a repeated
    * merge could not change anyway; its row count is only reported.
    */
  def appendBatchObserved(
      df: DataFrame,
      tableDir: String,
      metrics: Seq[org.apache.spark.sql.Column]): Map[String, Any] = {
    require(metrics.nonEmpty, "need at least one metric expression")
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, metrics.head, metrics.tail: _*)
      .write.mode(SaveMode.Append).parquet(tableDir)
    obs.get // keyed by the metric aliases; single action: the write itself
  }

  def readTable(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir)

  /** Read across batches whose schemas EVOLVED (later batches added
    * columns): parquet schema merging unions the per-file schemas; rows
    * from pre-evolution batches carry nulls in the added columns. Off the
    * default read path because merging lists every file's footer — pay it
    * only on tables known to evolve.
    */
  def readTableMerged(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(tableDir)

  /** Append sorted WITHIN partitions by `clusterCols`: rows with close key
    * values land in the same row groups, so the parquet min/max statistics
    * become selective and key-range scans skip most of the file — the
    * poor-man's clustering index (no shuffle; sorting is per-partition).
    */
  def appendBatchClustered(df: DataFrame, tableDir: String, clusterCols: Seq[String]): Unit =
    df.sortWithinPartitions(clusterCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Append).parquet(tableDir)

  def exists(spark: SparkSession, tableDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** Archive the cleaned batch alongside the table (reference uploads the
    * cleaned CSV to `processed/{table}/`, `main.py:294-309`).
    */
  def archive(df: DataFrame, archiveDir: String, batchName: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$archiveDir/$batchName")

  private val SwapTmpSuffix = "._swap_tmp"
  private val SwapOldSuffix = "._swap_old"

  /** Restore a table stranded by a crash mid-[[replaceTable]]: if the live
    * directory is missing but a rename-aside copy exists, promote it back.
    * Also probes the legacy per-operation suffixes earlier versions used,
    * so an upgrade never strands a table a previous binary moved aside.
    * Call before reading a table that is rewritten in place. Throws if the
    * restore rename itself fails — proceeding would read an empty table and
    * silently drop history.
    */
  def recoverSwap(spark: SparkSession, tableDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) return
    Seq(SwapOldSuffix, "._upsert_old", "._compact_old")
      .map(s => new org.apache.hadoop.fs.Path(tableDir + s))
      .find(fs.exists)
      .foreach { old =>
        if (!fs.rename(old, path))
          throw new java.io.IOException(
            s"recoverSwap: cannot restore $old to $path — refusing to proceed on an empty table")
      }
  }

  /** Atomically replace `tableDir`'s contents with `df` via the rename-aside
    * protocol: write a temp sibling, move the live table ASIDE (never
    * delete-first), promote the temp, drop the old copy. A crash at any
    * point leaves either the old or the new layout recoverable (run
    * [[recoverSwap]] on startup); every rename result is checked.
    */
  def replaceTable(df: DataFrame, tableDir: String): Unit = {
    val spark = df.sparkSession
    // a stranded rename-aside copy is the table's only data — restore it
    // BEFORE the deletes below could destroy it (callers may invoke
    // replaceTable without having run recoverSwap themselves)
    recoverSwap(spark, tableDir)
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(tableDir + SwapTmpSuffix)
    val old = new org.apache.hadoop.fs.Path(tableDir + SwapOldSuffix)
    fs.delete(tmp, true); fs.delete(old, true)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(path) && !fs.rename(path, old))
      throw new java.io.IOException(s"replaceTable: cannot move $path aside")
    if (!fs.rename(tmp, path)) {
      val rolledBack = fs.rename(old, path) // roll back
      throw new java.io.IOException(
        s"replaceTable: cannot promote $tmp" +
          (if (rolledBack) " (previous layout restored)"
           else s" AND rollback failed — run recoverSwap($tableDir) before reading"))
    }
    fs.delete(old, true)
  }

  /** Compact a table directory's accumulated small batch files into
    * `targetFiles` parquet parts. Append-heavy snapshot tables collect one
    * file set per batch; at scale the listing and tiny-row-group overhead
    * dominates reads. Uses the [[replaceTable]] rename-aside swap (and
    * recovers a previously stranded swap first).
    */
  def compact(spark: SparkSession, tableDir: String, targetFiles: Int): Unit = {
    recoverSwap(spark, tableDir)
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return
    // safe to read from the directory being replaced: replaceTable fully
    // writes the temp copy (consuming this plan) before any rename
    replaceTable(spark.read.parquet(tableDir).repartition(targetFiles), tableDir)
  }

  /** Order-independent table digest: the SUM (associative + commutative —
    * partitioning- and ordering-proof) of a 40-bit slice of each row's
    * canonical content hash, plus the row count. Equal digests across a
    * source table and its snapshot/backup verify integrity WITHOUT moving
    * either side: each cluster reduces its own table to one number.
    *
    * The sum accumulates in exact DECIMAL(38,0) — 40-bit slices summed over
    * up to ~10^26 rows before precision loss, so no row count a 100 TB
    * table can reach overflows it (a Long sum would wrap at ~2^23 rows
    * worst-case). Emitted as a STRING: decimal digits print identically in
    * every engine, where decimal dtypes themselves differ.
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(graft.clean.Clean.rowHashExpr(cols).as("_h"))
      .agg(
        // empty table → checksum "0", not null (sum over zero rows is null)
        coalesce(
          sum(conv(substring(col("_h"), 1, 10), 16, 10).cast("decimal(38,0)")).cast("string"),
          lit("0")).as("checksum"),
        count(lit(1)).as("n"))
  }

  /** Row-level diff of two snapshots of the same table — the backup
    * VERIFICATION primitive one step past [[tableChecksum]] (which only says
    * "something changed"): which keys were `added`, `removed`, or `changed`
    * between snapshot `a` and snapshot `b`. One full outer join on the key,
    * change detection by the canonical row hash over `compareCols` — the
    * comparison ships (key, hash) per side, never the payload, so diffing
    * two 100 TB snapshots moves only key+32-byte-hash rows through the
    * exchange. Unchanged rows are dropped (the overwhelming majority in a
    * backup — emitting them would dwarf the real diff).
    *
    * `keyCols` must uniquely key BOTH snapshots (the usual table PK): a
    * duplicated key fans the outer join out m×n and reports phantom
    * changes. Pre-aggregate or dedup first if the key is not unique.
    */
  def diffTables(
      a: DataFrame,
      b: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val ha = a.select(keyCols.map(col) :+
      graft.clean.Clean.rowHashExpr(compareCols).as("_ha"): _*)
    val hb = b.select(keyCols.map(col) :+
      graft.clean.Clean.rowHashExpr(compareCols).as("_hb"): _*)
    ha.join(hb, keyCols, "full_outer")
      .withColumn(
        "change",
        when(col("_ha").isNull, lit("added"))
          .when(col("_hb").isNull, lit("removed"))
          .when(col("_ha") =!= col("_hb"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** SCD Type-2 upsert: MERGE that keeps HISTORY. `current` rows carry
    * validity columns (`validFromCol`, `validToCol` — null = open); each
    * update row (keyed, versioned) CLOSES the key's open row (its
    * `validTo` becomes the update's version) and appends a new open row.
    * Unchanged keys pass through untouched. Pure plan — one equi-join on
    * the key (the open-row test is `validTo IS NULL`, no window needed),
    * and nothing is ever lost: the as-of state at any version v is
    * `validFrom <= v < coalesce(validTo, +inf)`.
    *
    * `updates` must carry the key columns, `versionCol`, and the payload
    * columns of `current` (everything except the two validity columns);
    * keys must be unique within `updates` (pre-aggregate with
    * [[upsertLatestWins]] semantics if not), and each update's version must
    * be STRICTLY greater than its key's open row's `validFrom` — a late or
    * replayed update would otherwise write an inverted/zero-width validity
    * interval, so the violation fails loudly per row instead.
    */
  def upsertScd2(
      current: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to"): DataFrame = {
    import org.apache.spark.sql.functions._
    // close the open row of every updated key
    val updKeys = updates.select(keyCols.map(col) :+
      col(versionCol).as("_new_ver"): _*)
    val closed = current
      .join(updKeys, keyCols, "left")
      .withColumn(
        validToCol,
        when(
          col(validToCol).isNull && col("_new_ver").isNotNull,
          when(
            col("_new_ver") <= col(validFromCol),
            raise_error(concat(
              lit("upsertScd2: non-monotonic update — version "),
              col("_new_ver").cast("string"),
              lit(" <= open row's "), lit(validFromCol), lit(" "),
              col(validFromCol).cast("string"))))
            .otherwise(col("_new_ver")))
          .otherwise(col(validToCol)))
      .drop("_new_ver")
    // append the updates as new open rows
    val opened = updates
      .withColumn(validFromCol, col(versionCol))
      .withColumn(validToCol, lit(null).cast(current.schema(validToCol).dataType))
      .select(current.columns.map(col): _*)
    closed.unionByName(opened)
  }

  /** Latest-wins upsert (MERGE semantics without a table format): one row
    * per key survives — the highest `versionCol`, updates beating current on
    * ties. Pure plan, so it composes with any sink; at 100 TB it is ONE
    * shuffle on the key (window dedup), and Spark 4's WindowGroupLimit
    * pre-filters to a per-partition top-1 before the exchange.
    *
    * `updates` must be union-compatible with `current` (same columns by
    * name).
    *
    * The winner is fully deterministic even when `updates` holds several
    * rows with the same key AND version: after (version desc, updates-beat-
    * current) the ordering falls back to a content hash, so repeated runs of
    * the same pipeline always keep the same surviving row rather than
    * whichever row_number saw first.
    */
  def upsertLatestWins(
      current: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val all = current.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val contentTieBreak = graft.functions.ContentHash.stableRowHash(current)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("_src").desc, contentTieBreak.desc)
    all.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk", "_src")
  }

  /** Apply a CDC change feed — rows of `(key, seq, op ∈ {'U','D'}, payload)`
    * — onto a base snapshot: per key the HIGHEST-`seqCol` record decides the
    * outcome ('U' upserts its payload, 'D' deletes the key), base rows act
    * as sequence −∞ upserts. The missing half of [[upsertLatestWins]]: that
    * one can only add/replace; a change feed also RETRACTS (Debezium-style
    * full-row CDC, tombstones included).
    *
    * `changes` must carry the base's payload columns by name, plus `seqCol`
    * and `opCol`; `seqCol` must be unique per key and > `baseSeq` (a change
    * LOG has a total order — enforce upstream). Scale shape: ONE shuffle on
    * the key — the winner per key is a partial `max(struct(seq, op,
    * payload))` aggregate (map-side combined, no window, no join), then
    * tombstones drop out. The base enters at the explicit `baseSeq`
    * sentinel, not NULL: null-inside-struct ordering is exactly the kind of
    * engine-specific corner a portable plan avoids.
    */
  def applyChangeFeed(
      base: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String,
      baseSeq: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "need at least one key column")
    val payload = base.columns.filterNot(keyCols.contains).toSeq
    val seqT = changes.schema(seqCol).dataType
    val all = base
      .withColumn(seqCol, lit(baseSeq).cast(seqT))
      .withColumn(opCol, lit("U"))
      .unionByName(changes.select(base.columns.map(col) :+ col(seqCol) :+ col(opCol): _*))
    val winner = struct((Seq(col(seqCol), col(opCol)) ++ payload.map(col)): _*)
    all
      .groupBy(keyCols.map(col): _*)
      .agg(max(winner).as("_w"))
      .filter(col("_w").getField(opCol) === "U")
      .select(keyCols.map(col) ++ payload.map(p => col("_w").getField(p).as(p)): _*)
  }
}
