package graft.sim

import graft.store.CommitLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, incrementally-maintained PQ index — embeddings arrive in
  * daily batches like documents do, so the code table must grow by
  * ENCODE-APPEND against a FROZEN codebook instead of re-encoding the
  * corpus: encoding is a pure function of (vector, codebook), so
  * incremental codes are bit-identical to a whole-corpus encode by
  * construction (q333 pins it end-to-end through the ADC query).
  *
  * Layout under `root` (plain parquet, object-store friendly):
  *  - `codebook/` — the frozen quantizer, one row per (subspace, cid)
  *    with its centroid (metadata-sized: m·k·subDims doubles);
  *  - `codes/<batchId>/` — one [[graft.store.CommitLog]] dir PER BATCH.
  *    Re-appending a batchId OVERWRITES its own subdir — replay-idempotent.
  *  - `stats/<batchId>/` — one row per batch: vector count and mean
  *    QUANTIZATION ERROR mean‖x − x̂‖² (x̂ = the code's reconstruction),
  *    the codebook-drift probe: a frozen codebook fits the distribution
  *    it was trained on, so a batch whose mean error runs well above the
  *    fit-time batches signals the corpus moved and the codebook needs
  *    refitting ([[staleness]] surfaces the ratio).
  *  - `compactions/<compactId>/folded` — a committed compaction's marker
  *    ([[graft.store.CommitLog]], which also defines when a batch dir is
  *    committed and which dirs a reader skips).
  *
  * Exactness of the observed counts (appends, tombstones, compaction):
  * every `observe` here sits in its write's RESULT stage — nothing but
  * local operators and the streamed side of a broadcast join lie between
  * it and the write, as the executed plans show — and Spark merges a
  * result stage's accumulator updates once per partition even when a
  * task is retried or speculated. An `observe` below a shuffle would sit
  * in a map stage, whose updates merge once per successful attempt.
  *
  * Scale shape: appends touch only the new batch (codes are m small ints
  * per vector); the error stat rides the same scan as the encode (one
  * zip_with/aggregate per subspace, no shuffle); queries read the code
  * table recursively and stay one-scan ADC ([[ProductQuantizer.adcTopK]]).
  * Single-maintenance contract like the dedup store: one writer owns a
  * batchId at a time.
  */
object PqIndexStore {

  /** Persist the frozen codebook (one row per subspace × centroid). */
  def writeCodebook(
      spark: SparkSession, root: String, cb: ProductQuantizer.Codebook): Unit = {
    import spark.implicits._
    val rows = for {
      s <- 0 until cb.m
      j <- 0 until cb.k
    } yield (s, j, cb.centroids(s)(j).toSeq)
    rows.toDF("s", "cid", "centroid")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/codebook")
  }

  /** Reload the frozen codebook (doubles round-trip parquet exactly). */
  def readCodebook(spark: SparkSession, root: String): ProductQuantizer.Codebook = {
    val rows = spark.read.parquet(s"$root/codebook").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val cents = Array.ofDim[Array[Double]](m, k)
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    require(cents.forall(_.forall(_ != null)), "corrupt codebook: missing (s, cid) rows")
    ProductQuantizer.Codebook(cents(0)(0).length, cents)
  }

  /** Encode one batch against the frozen codebook and append its codes
    * (own subdirectory) plus its drift-stat row. Returns (vectors
    * encoded, the batch's mean quantization error).
    */
  def appendBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      cb: ProductQuantizer.Codebook,
      batchId: String): (Long, Double) = {
    CommitLog.requireId(batchId)
    val spark = batch.sparkSession
    // per-subspace reconstruction = centroid literal-array lookup by the
    // assignment expression; the error stat rides the encode scan
    val errTerms = (0 until cb.m).map { s =>
      val sl = slice(col(vecCol), s * cb.subDims + 1, cb.subDims)
      val recon = element_at(
        array(cb.centroids(s).map(c => array(c.map(lit).toSeq: _*)).toSeq: _*),
        KMeans.assignExpr(sl, cb.centroids(s)) + 1)
      aggregate(
        zip_with(sl, recon, (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, v) => acc + v)
    }
    // codes and the error stat come out of ONE projection over the batch
    // (same per-row arithmetic the id self-join used to reattach), and the
    // stat aggregates are OBSERVED during the codes write — one job where
    // persist + write + aggregate used to run two over a cached copy;
    // exact: the observe is in the write's result stage (layout doc)
    val codes = (0 until cb.m).map(s =>
      KMeans.assignExpr(slice(col(vecCol), s * cb.subDims + 1, cb.subDims),
        cb.centroids(s)))
    val encoded = batch.select(
      col(idCol), array(codes: _*).as("code"), errTerms.reduce(_ + _).as("_qerr"))
    val obs = org.apache.spark.sql.Observation()
    encoded
      .observe(obs, count(lit(1)).as("n"), coalesce(avg(col("_qerr")), lit(0.0)).as("e"))
      .select(col(idCol), col("code"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/codes/$batchId")
    val st = obs.get
    val (n, meanErr) = (st("n").asInstanceOf[Long], st("e").asInstanceOf[Double])
    import spark.implicits._
    Seq((batchId, n, meanErr))
      .toDF("batch_id", "n_vectors", "mean_qerr")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/stats/$batchId")
    (n, meanErr)
  }

  /** The full code table across every appended batch — drop-in input for
    * [[ProductQuantizer.adcTopK]]/[[ProductQuantizer.adcRerankTopK]].
    * Per-batch subdir reads unioned (the [[tombstones]] cache note).
    */
  def codes(spark: SparkSession, root: String): DataFrame = {
    val dirs = CommitLog.dirs(spark, root, "codes")
    require(dirs.nonEmpty, s"pq store at $root has no code batches")
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  // ------------------------------------------------------------- deletes

  /** Record a DELETE batch — dedup kills, takedowns, right-to-be-
    *-forgotten requests ([[graft.load.Tombstone]]'s lifecycle, applied
    * to the index): ids land in their own `tombstones/<batchId>/`
    * subdir (Overwrite — replay-idempotent like [[appendBatch]]). The
    * codes stay on disk until [[compact]] folds them out; until then
    * [[liveCodes]] is the query view. Returns the batch's id count.
    */
  def appendTombstones(
      ids: DataFrame, idCol: String, root: String, batchId: String): Long = {
    CommitLog.requireId(batchId)
    // the id count is observed during the write itself — one job where
    // persist + write + count used to run two over a cached copy; exact:
    // the observe sits above the distinct's exchange, in the result stage
    val obs = org.apache.spark.sql.Observation()
    ids.select(col(idCol)).distinct()
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/tombstones/$batchId")
    obs.get("n").asInstanceOf[Long]
  }

  /** Every pending (un-compacted) tombstoned id, empty-safe. Read as a
    * UNION of per-batch subdir reads, never one recursive parent read:
    * Spark's write path refreshes the session file-listing cache for
    * the exact dir it wrote, but a cached PARENT listing survives a
    * manual delete-and-rebuild of the store — a re-invocation in the
    * same session would read the previous build's file names.
    */
  def tombstones(spark: SparkSession, root: String, idCol: String): DataFrame = {
    val dirs = CommitLog.dirs(spark, root, "tombstones")
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            idCol, org.apache.spark.sql.types.LongType))))
    else
      dirs.map(spark.read.parquet(_)).reduce(_ unionAll _)
        .toDF(idCol).distinct()
  }

  /** The QUERY view between delete and compaction: codes minus pending
    * tombstones — one broadcast anti-join (the tombstone set is a
    * request queue, metadata-sized next to the code table), so the ADC
    * scan shape is unchanged at any corpus size.
    */
  def liveCodes(spark: SparkSession, root: String): DataFrame = {
    val c = codes(spark, root)
    c.join(
      broadcast(tombstones(spark, root, c.columns.head)),
      Seq(c.columns.head), "left_anti")
  }

  /** Fold pending tombstones INTO the code table: survivors of every
    * live code batch rewrite into ONE new `codes/<compactId>/` subdir,
    * then the folded code and tombstone subdirs are deleted — a
    * [[graft.store.CommitLog.fold]], so a replay of the same compactId
    * is safe on either side of a crash.
    *
    * Compaction does NOT write a stats row: `stats/` is the ingest-time
    * drift ledger ([[staleness]] baselines on the earliest batch), not
    * row accounting. Single-maintenance contract: one compactor at a
    * time, like the ingest side. Returns (survivor rows, purged rows);
    * (-1, -1) when the compaction had already committed.
    */
  def compact(spark: SparkSession, root: String, compactId: String): (Long, Long) =
    foldCodes(spark, root, compactId, Nil)

  /** The compaction fold of both code stores ([[compact]] and
    * [[IvfPqStore.compact]]): the survivor dir is written partitioned by
    * `partitionCols`, and tombstones match on the code table's first
    * column, its id.
    */
  private[sim] def foldCodes(
      spark: SparkSession,
      root: String,
      compactId: String,
      partitionCols: Seq[String]): (Long, Long) =
    CommitLog.fold(spark, root, compactId) {
      // every live code dir but the fold's own target, and every pending
      // tombstone dir
      val codeDirs = CommitLog.dirs(spark, root, "codes").filterNot(new Path(_).getName == compactId)
      require(codeDirs.nonEmpty, "compact: no code batches to fold")
      codeDirs ++ CommitLog.dirs(spark, root, "tombstones")
    } { sources =>
      val (codeDirs, tombDirs) = sources.partition(new Path(_).getParent.getName == "codes")
      // both row counts are OBSERVED during the survivor write: the input
      // count below the anti-join, the survivor count above it — the same
      // values the separate count + read-back-count jobs used to fetch;
      // exact: the anti-join broadcasts the tombstones, so both observes
      // (streamed side and top, under at most a local partition sort) run
      // in the write's result stage
      val allObs = org.apache.spark.sql.Observation()
      val liveObs = org.apache.spark.sql.Observation()
      val all = codeDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
        .observe(allObs, count(lit(1)).as("n"))
      val idCol = all.columns.head
      val survivors =
        if (tombDirs.isEmpty) all
        else all.join(broadcast(tombDirs.map(spark.read.parquet(_)).reduce(_ unionAll _)
          .toDF(idCol).distinct()), Seq(idCol), "left_anti")
      survivors.observe(liveObs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(s"$root/codes/$compactId")
      val nAll = allObs.get("n").asInstanceOf[Long]
      val nLive = liveObs.get("n").asInstanceOf[Long]
      (nLive, nAll - nLive)
    }.getOrElse((-1L, -1L))

  /** Per-batch drift stats with `drift_ratio` = mean_qerr / the EARLIEST
    * batch's mean_qerr (the fit-time baseline — the codebook was trained
    * on that distribution). A ratio well above 1 on new batches means the
    * corpus moved under the frozen codebook: time to refit and re-encode.
    */
  def staleness(spark: SparkSession, root: String): DataFrame = {
    val dirs = CommitLog.dirs(spark, root, "stats")
    if (dirs.isEmpty) return spark.emptyDataFrame
    val st = dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val base = st.orderBy("batch_id").select("mean_qerr").head().getDouble(0)
    st.withColumn("drift_ratio",
      when(lit(base) > 0.0, round(col("mean_qerr") / lit(base), 6)).otherwise(lit(null)))
      .orderBy("batch_id")
  }
}
