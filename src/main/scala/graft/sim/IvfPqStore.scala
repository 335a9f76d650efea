package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, incrementally-maintained IVF+PQ index — the cell-aware
  * twin of [[PqIndexStore]] for the composite [[IvfPq]] shape
  * FAISS-style deployments actually run: the coarse centroids and the
  * shared residual codebook freeze at fit time, batches ENCODE-APPEND
  * against them, deletes arrive as tombstones, and compaction folds
  * tombstones out with the same marker discipline (survivor data first,
  * folded-dir marker second, deletes last — replay-idempotent on either
  * side of the crash line).
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
  *    [[PqIndexStore]]'s delete lifecycle (those helpers are reused,
  *    not copied).
  *
  * Scale shape: appends touch only the new batch; a query reads only
  * the probed cells' directories across batch dirs (bounded listing —
  * batch count is an ops cadence, not a data volume); compaction's
  * survivor rewrite keeps the cell partitioning so the pruning property
  * survives every fold. Single-maintenance contract: one writer owns a
  * batchId at a time, one compactor at a time; readers ARE safe
  * concurrent with a fold — [[codes]] skips every dir a committed
  * compaction marker records, so the window between the marker commit
  * and the deferred source deletes cannot double-count a batch.
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
    require(batchId.matches("[A-Za-z0-9._-]+"), s"batchId '$batchId' is not filename-safe")
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

  private def batchDirs(spark: SparkSession, d: String): Seq[String] = {
    val f = PqIndexStore.fs(spark, d)
    if (!f.exists(new Path(d))) Seq.empty
    else f.listStatus(new Path(d)).filter(_.isDirectory).map(_.getPath.toString).toSeq
  }

  /** Every source dir already folded by a COMMITTED compaction — a
    * committed marker means the survivor rewrite holds those dirs'
    * live rows, so until their deferred deletes land a listing sees
    * BOTH; readers must skip them or double-count. Bounded: one row
    * per folded dir per compaction.
    */
  private def foldedDirs(spark: SparkSession, root: String): Set[String] =
    batchDirs(spark, s"$root/compactions")
      .filter(PqIndexStore.isCommittedDir(spark, _))
      .flatMap(PqIndexStore.readMarker(spark, _))
      .toSet

  /** The full code table across every appended batch — (idCol, code,
    * cellCol) with the cell recovered from the partition directories.
    * Per-batch reads (bounded listing) unioned, so partition discovery
    * works under the batch level; a cell filter on the result prunes
    * directories inside every batch. Safe against the compaction
    * window: dirs recorded in a COMMITTED compaction marker are
    * skipped, so a read concurrent with [[compact]]'s deferred source
    * deletes never double-counts a folded batch.
    */
  def codes(spark: SparkSession, root: String): DataFrame = {
    val folded = foldedDirs(spark, root)
    val dirs = batchDirs(spark, s"$root/codes").filterNot(folded)
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
    val (cents, cb) = IvfPq.fitResidual(
      survivors, idCol, vecCol, cellCol, dims, m, k, iters)
    // the two metadata writes land in distinct subdirs and neither feeds
    // the other — overlap their driver fixed costs
    graft.Par.run(Seq(
      () => writeCentroids(spark, newRoot, cents),
      () => PqIndexStore.writeCodebook(spark, newRoot, cb)))
    val n = appendBatch(survivors, cents, idCol, vecCol, cellCol, newRoot, cb, "g0")
    survivors.unpersist()
    n
  }

  /** Fold pending tombstones INTO the code table — [[PqIndexStore
    * .compact]]'s marker discipline with the cell partitioning kept on
    * the survivor rewrite (per-cell survivor subdirs under
    * `codes/<compactId>/`, so probe-time pruning survives the fold).
    * Returns (survivor rows, purged rows); (-1, -1) on a finish-
    * deletions replay.
    */
  def compact(
      spark: SparkSession,
      root: String,
      compactId: String,
      idCol: String,
      cellCol: String): (Long, Long) = {
    require(compactId.matches("[A-Za-z0-9._-]+"), s"compactId '$compactId' is not filename-safe")
    val f = PqIndexStore.fs(spark, root)
    val markerDir = s"$root/compactions/$compactId"
    if (PqIndexStore.isCommittedDir(spark, markerDir)) {
      PqIndexStore.readMarker(spark, markerDir)
        .foreach(p => f.delete(new Path(p), true))
      return (-1L, -1L)
    }
    if (PqIndexStore.existsAny(spark, markerDir))
      f.delete(new Path(markerDir), true) // crash mid-marker-write: refold
    // skip dirs a PRIOR committed compaction already folded (its
    // deferred deletes may not have landed) — folding them again would
    // duplicate their survivors into this rewrite
    val prior = foldedDirs(spark, root)
    val foldedCodes = batchDirs(spark, s"$root/codes")
      .filterNot(_.endsWith(s"/$compactId")).filterNot(prior)
    val foldedTombs = batchDirs(spark, s"$root/tombstones").filterNot(prior)
    require(foldedCodes.nonEmpty, "compact: no code batches to fold")
    // both row counts are OBSERVED during the survivor write — the same
    // values the separate count + read-back-count jobs used to fetch;
    // exact: broadcast anti-join + local partition sort keep both
    // observes in the write's result stage ([[PqIndexStore]] layout doc)
    val allObs = org.apache.spark.sql.Observation()
    val liveObs = org.apache.spark.sql.Observation()
    val all = foldedCodes.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .observe(allObs, count(lit(1)).as("n"))
    val tomb =
      if (foldedTombs.isEmpty) null
      else foldedTombs.map(spark.read.parquet(_)).reduce(_ unionAll _)
        .toDF(idCol).distinct()
    val survivors =
      if (tomb == null) all
      else all.join(broadcast(tomb), Seq(idCol), "left_anti")
    survivors.observe(liveObs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(cellCol)
      .parquet(s"$root/codes/$compactId")
    val nAll = allObs.get("n").asInstanceOf[Long]
    val nLive = liveObs.get("n").asInstanceOf[Long]
    PqIndexStore.writeMarker(spark, markerDir, foldedCodes ++ foldedTombs)
    (foldedCodes ++ foldedTombs).foreach(p => f.delete(new Path(p), true))
    (nLive, nAll - nLive)
  }
}
