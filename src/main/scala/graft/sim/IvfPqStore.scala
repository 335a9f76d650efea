package graft.sim

import graft.store.CommitLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, incrementally-maintained IVF+PQ index — the cell-aware
  * twin of [[PqIndexStore]] for the composite [[IvfPq]] shape
  * FAISS-style deployments actually run: the coarse centroids and the
  * shared residual codebook freeze at fit time, batches ENCODE-APPEND
  * against them, deletes arrive as tombstones, and compaction folds
  * tombstones out with the same [[graft.store.CommitLog]] fold.
  *
  * Layout under `root` (plain parquet, object-store friendly):
  *  - `centroids/` — one row per cell with its exact-mean centroid
  *    (metadata-sized);
  *  - `codebook/` — the frozen residual quantizer
  *    ([[PqIndexStore.writeCodebook]]'s format, shared);
  *  - `codes/<batchId>/cell=<v>/…` — per-batch subdirs PARTITIONED BY
  *    the cell column, so an `nProbe`-cell query prunes STORAGE, not
  *    just compute: Spark's partition discovery turns the probed-cell
  *    filter into directory pruning inside every batch dir;
  *  - `tombstones/<batchId>/` + `compactions/<compactId>/` — exactly
  *    [[PqIndexStore]]'s delete lifecycle.
  *
  * Scale shape: appends touch only the new batch; a query reads only
  * the probed cells' directories across batch dirs (bounded listing —
  * batch count is an ops cadence, not a data volume); compaction's
  * survivor rewrite keeps the cell partitioning so the pruning property
  * survives every fold. Single-maintenance contract: one writer owns a
  * batchId at a time, one compactor at a time. [[codes]] skips every dir
  * a committed fold lists, so a read between a fold's marker and its
  * source deletes cannot double-count a batch.
  */
object IvfPqStore {

  /** Persist the frozen coarse centroids (one row per cell). */
  def writeCentroids(
      spark: SparkSession, root: String, centroids: DataFrame): Unit =
    centroids.coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/centroids")

  /** Reload the frozen coarse centroids. */
  def readCentroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/centroids")

  /** Encode one batch against the frozen (centroids, codebook) and
    * append its codes under `codes/<batchId>/`, partitioned by the cell
    * column. Returns the batch's vector count.
    */
  def appendBatch(
      batch: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      root: String,
      cb: ProductQuantizer.Codebook,
      batchId: String): Long = {
    CommitLog.requireId(batchId)
    // the vector count is observed during the write itself — one job
    // where persist + write + count used to run two over a cached copy;
    // exact: only the write's local partition sort lies above the
    // observe, so it runs in the result stage ([[PqIndexStore]] layout doc)
    val obs = org.apache.spark.sql.Observation()
    IvfPq.encode(batch, centroids, idCol, vecCol, cellCol, cb)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(cellCol)
      .parquet(s"$root/codes/$batchId")
    obs.get("n").asInstanceOf[Long]
  }

  /** The full code table across every appended batch — (idCol, code,
    * cellCol) with the cell recovered from the partition directories.
    * Per-batch reads (bounded listing) unioned, so partition discovery
    * works under the batch level; a cell filter on the result prunes
    * directories inside every batch.
    */
  def codes(spark: SparkSession, root: String): DataFrame = {
    val dirs = CommitLog.dirs(spark, root, "codes")
    require(dirs.nonEmpty, s"ivfpq store at $root has no code batches")
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  /** Record a DELETE batch — [[PqIndexStore.appendTombstones]]'s
    * lifecycle verbatim (the layout is shared).
    */
  def appendTombstones(
      ids: DataFrame, idCol: String, root: String, batchId: String): Long =
    PqIndexStore.appendTombstones(ids, idCol, root, batchId)

  /** The QUERY view between delete and compaction: codes minus pending
    * tombstones — one broadcast anti-join, ADC scan shape unchanged.
    */
  def liveCodes(spark: SparkSession, root: String, idCol: String): DataFrame =
    codes(spark, root).join(
      broadcast(PqIndexStore.tombstones(spark, root, idCol)),
      Seq(idCol), "left_anti")

  /** REFIT a new store GENERATION from the survivors — the maintenance
    * step the delete lifecycle alone cannot provide: centroids and the
    * residual codebook FREEZE at fit time, so as appends and deletes
    * shift cell occupancy the fixed-nProbe recall decays ([[compact]]
    * reclaims space but keeps the stale quantizers). The refit joins
    * the store's LIVE id set back to the caller's raw-vector corpus
    * (codes are not invertible — the lake keeps the vectors, the store
    * keeps the index), retrains (exact cell means + residual k-means)
    * on the survivors only, and writes a FRESH store at `newRoot`
    * (one `g0` batch, cell-partitioned). The old generation stays
    * readable until the caller swaps roots — generations are the
    * store-level twin of [[graft.operators.PieceStore.repackGeneration]].
    * Returns the new generation's vector count.
    */
  def refitGeneration(
      spark: SparkSession,
      root: String,
      newRoot: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      dims: Int,
      m: Int,
      k: Int,
      iters: Int): Long = {
    // cache the survivor join: training (centroid pass + residual
    // materialization + codebook init) and the final encode-append each
    // scan it, and uncached every scan re-lists the store dirs and
    // re-runs the id join
    val survivors = corpus.join(
      liveCodes(spark, root, idCol).select(col(idCol)), Seq(idCol))
      .persist()
    try {
      // fitResidual hands back its centroids cached: released here too
      val (cents, cb) = IvfPq.fitResidual(
        survivors, idCol, vecCol, cellCol, dims, m, k, iters)
      try {
        writeCentroids(spark, newRoot, cents)
        PqIndexStore.writeCodebook(spark, newRoot, cb)
        appendBatch(survivors, cents, idCol, vecCol, cellCol, newRoot, cb, "g0")
      } finally cents.unpersist()
    } finally survivors.unpersist()
  }

  /** Fold pending tombstones INTO the code table — [[PqIndexStore
    * .compact]]'s fold with the cell partitioning kept on the survivor
    * rewrite (per-cell survivor subdirs under `codes/<compactId>/`, so
    * probe-time pruning survives the fold). Returns (survivor rows,
    * purged rows); (-1, -1) when the compaction had already committed.
    */
  def compact(
      spark: SparkSession,
      root: String,
      compactId: String,
      idCol: String,
      cellCol: String): (Long, Long) =
    CommitLog.fold(spark, root, compactId)(
      PqIndexStore.foldSources(spark, root, compactId)) { sources =>
      val (codeDirs, tombDirs) = sources.partition(new Path(_).getParent.getName == "codes")
      // both row counts are OBSERVED during the survivor write — the same
      // values the separate count + read-back-count jobs used to fetch;
      // exact: broadcast anti-join + local partition sort keep both
      // observes in the write's result stage ([[PqIndexStore]] layout doc)
      val allObs = org.apache.spark.sql.Observation()
      val liveObs = org.apache.spark.sql.Observation()
      val all = codeDirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
        .observe(allObs, count(lit(1)).as("n"))
      val survivors =
        if (tombDirs.isEmpty) all
        else all.join(broadcast(tombDirs.map(spark.read.parquet(_)).reduce(_ unionAll _)
          .toDF(idCol).distinct()), Seq(idCol), "left_anti")
      survivors.observe(liveObs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(cellCol)
        .parquet(s"$root/codes/$compactId")
      val nAll = allObs.get("n").asInstanceOf[Long]
      val nLive = liveObs.get("n").asInstanceOf[Long]
      (nLive, nAll - nLive)
    }.getOrElse((-1L, -1L))
}
