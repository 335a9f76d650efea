package graft.operators

import graft.store.CommitLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, incrementally-maintained PIECE TABLE — the production
  * loop around [[SequencePack]]: curated documents arrive in daily
  * batches, and the training-sequence index must GROW at the stream
  * tail instead of repacking the corpus. Each append packs its batch at
  * the store's recorded token total, so chunk ids continue seamlessly —
  * a chunk straddling a batch boundary holds its head piece from one
  * append and its tail piece from the next, exactly as a whole-corpus
  * pack would emit them (the q375 gate pins incremental == rebuild).
  *
  * Layout under `root` (plain parquet, [[graft.store.CommitLog]] dirs):
  *  - `pieces/<batchId>/` — the batch's piece rows (Overwrite:
  *    re-appending a batchId rewrites its own subdir);
  *  - `state/<batchId>/`  — ONE row (batch_id, first_offset, n_tokens),
  *    written AFTER the pieces commit (the state row is the marker: a
  *    crash between the two leaves orphan piece files that the replay
  *    overwrites byte-identically);
  *  - `compactions/<compactId>/` — [[compactState]]'s fold markers.
  *
  * Replay idempotence: an append whose batchId already has a state row
  * re-uses its RECORDED first_offset — replaying batch k after batches
  * k+1… landed reproduces identical pieces instead of packing at the
  * (now larger) stream tail. Single-writer, in-arrival-order contract
  * like every store here: one writer owns the tail at a time.
  *
  * ID-MONOTONICITY contract (ENFORCED): `incremental == whole-corpus
  * rebuild` holds only if `idCol` is globally increasing across
  * batches — within a batch [[SequencePack.packChunks]] sorts, but a
  * later batch whose min id does not EXCEED the committed max would
  * pack at the tail while a whole-corpus rebuild would interleave it
  * earlier. Each state row records the batch's native-typed `max_id`
  * and a first landing fails loudly if the new batch's min does not
  * exceed every committed batch's max (replays are exempt — their
  * offset is already recorded). Feeding a SCHEDULE (mixture positions
  * restart at 0 per batch) therefore needs a POSITION-EPOCH FENCE:
  * id = epoch·F + position with F above any batch size, so batch k's
  * ids all exceed batch k−1's — the construction the schedule-pack
  * gate (q377) pins; [[graft.streaming.StreamingIngest.runPackStream]]
  * inherits the same contract.
  *
  * Scale shape: an append touches only its batch (one range exchange
  * from [[SequencePack.packChunks]]); the state read is a bounded
  * per-batch listing (batch count is an ops cadence, not a data
  * volume) and [[compactState]] folds it to ONE file so append cost
  * stays flat at a years-long daily cadence; [[pieces]] is a recursive
  * parquet read of slim integer rows.
  */
object PieceStore {

  // store reads are UNIONS of per-subdir reads, never one recursive
  // parent read: Spark's write path refreshes the session file-listing
  // cache for the exact dir it wrote, but a cached PARENT listing
  // survives a manual delete-and-rebuild — a same-session re-build
  // would read the previous build's file names
  private def stateDf(spark: SparkSession, root: String): Option[DataFrame] = {
    val dirs = CommitLog.dirs(spark, root, "state")
    if (dirs.isEmpty) None
    else Some(dirs.map(spark.read.parquet(_)).reduce(_ unionByName _))
  }

  private def stateRows(spark: SparkSession, root: String): Seq[(String, Long, Long)] =
    stateDf(spark, root).toSeq.flatMap {
      _.select(col("batch_id"), col("first_offset"), col("n_tokens"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }

  /** Pack one batch at the stream tail and append its pieces + state
    * row. Returns (the batch's first stream offset, its token count).
    * A FIRST landing requires the batch's min id to EXCEED every
    * committed batch's recorded max (the id-monotonicity contract
    * above) and fails loudly otherwise; a replay re-packs at its
    * recorded offset and skips the guard.
    */
  def appendBatch(
      batch: DataFrame,
      idCol: String,
      nTokensCol: String,
      seqLen: Long,
      root: String,
      batchId: String): (Long, Long) = {
    CommitLog.requireId(batchId)
    val spark = batch.sparkSession
    // ONE state read (full rows, max_id included) feeds the replay
    // lookup, the tail offset AND the guard — no second file scan
    val stateOpt = stateDf(spark, root)
    val stateSchema = stateOpt.map(_.schema)
    val existingRows = stateOpt.toSeq.flatMap(_.collect().toSeq)
    val aggFrame = batch.agg(
      coalesce(sum(when(col(nTokensCol) > 0, col(nTokensCol).cast("long"))
        .otherwise(lit(0L))), lit(0L)).as("n_tokens"),
      min(col(idCol)).as("min_id"),
      max(col(idCol)).as("max_id"))
    val aggRow = aggFrame.head()
    val existing = existingRows.map(r => (
      r.getAs[String]("batch_id"), r.getAs[Long]("first_offset"),
      r.getAs[Long]("n_tokens")))
    // replay: a batch that already committed re-packs at its RECORDED
    // offset (later batches must not shift it); first landing: the tail
    val recorded = existing.find(_._1 == batchId).map(_._2)
    if (recorded.isEmpty && existing.nonEmpty) {
      // first landing with committed predecessors: the monotonicity
      // guard — a native-typed comparison over values already in hand.
      // Long/int/string ids compare DRIVER-side with Spark's own order
      // semantics (numeric ascending, strings by unsigned UTF-8 byte
      // order — [[graft.dedup.DupClusters.driverOrdering]]), skipping
      // nulls exactly as the SQL max/<= did; other id types keep the
      // local-frame Spark comparison (no batch or file scan either way).
      val idxMin = aggFrame.schema.fieldIndex("min_id")
      val idxMax = stateSchema.get.fieldIndex("max_id")
      val violated = graft.dedup.DupClusters.driverOrdering(
        aggFrame.schema("min_id").dataType,
        stateSchema.get("max_id").dataType) match {
        case Some(ord) =>
          val pmax = existingRows.map(_.get(idxMax)).filter(_ != null)
            .reduceOption((a, b) => ord.max(a, b))
          val bmin = aggRow.get(idxMin)
          bmin != null && pmax.exists(m => ord.lteq(bmin, m))
        case None =>
          val priorMax = spark.createDataFrame(
            java.util.Arrays.asList(existingRows: _*), stateSchema.get)
            .agg(max(col("max_id")).as("_pmax"))
          spark
            .createDataFrame(java.util.Arrays.asList(aggRow), aggFrame.schema)
            .select(col("min_id").as("_bmin"))
            .crossJoin(broadcast(priorMax))
            .filter(col("_bmin") <= col("_pmax")).count() > 0L
      }
      require(!violated,
        s"pieceStore: batch '$batchId' min $idCol does not exceed the " +
          "committed max — ids must be globally increasing across batches " +
          "(schedule feeds need a position-epoch fence; see PieceStore doc)")
    }
    val offset = recorded
      .getOrElse(existing.map(s => s._2 + s._3).foldLeft(0L)(math.max))
    SequencePack.packChunks(batch, idCol, nTokensCol, seqLen, streamOffset = offset)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/pieces/$batchId")
    // the state row is written from the shared agg Row so max_id keeps
    // the id column's native type in parquet
    val stateFrame = spark
      .createDataFrame(java.util.Arrays.asList(aggRow), aggFrame.schema)
      .select(lit(batchId).as("batch_id"), lit(offset).as("first_offset"),
        col("n_tokens"), col("max_id"))
    stateFrame.coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/state/$batchId")
    (offset, aggRow.getLong(0))
  }

  /** Fold every per-batch state row into ONE file — the append path
    * reads the state dir on every call, so a years-long daily cadence
    * otherwise accumulates thousands of tiny state files. A
    * [[graft.store.CommitLog.fold]] of the live state dirs into
    * `state/<compactId>`: readers skip the folded dirs, so no state row
    * is ever read twice, and recorded first_offsets survive verbatim, so
    * replay idempotence survives the fold. Returns the folded row count
    * (0 when this call folded nothing: no state, or a replay that only
    * finished a committed fold's deletes).
    */
  def compactState(
      spark: SparkSession, root: String, compactId: String): Long =
    CommitLog.fold(spark, root, compactId)(
      CommitLog.dirs(spark, root, "state").filterNot(new Path(_).getName == compactId)) {
      sources =>
      // the row count is observed during the write (no shuffle: exact)
      val obs = org.apache.spark.sql.Observation()
      sources.map(spark.read.parquet(_)).reduce(_ unionByName _)
        .coalesce(1).observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/state/$compactId")
      obs.get("n").asInstanceOf[Long]
    }.getOrElse(0L)

  /** The full piece table across every appended batch — identical rows
    * to a whole-corpus [[SequencePack.packChunks]] over the batches'
    * concatenation. Per-batch reads unioned (bounded listing — see the
    * cache note on [[stateDf]]).
    */
  def pieces(spark: SparkSession, root: String): DataFrame = {
    val dirs = CommitLog.dirs(spark, root, "pieces")
    require(dirs.nonEmpty, s"piece store at $root has no piece batches")
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  /** Total tokens committed to the stream (the next append's offset). */
  def totalTokens(spark: SparkSession, root: String): Long =
    stateRows(spark, root).map(s => s._2 + s._3).foldLeft(0L)(math.max)

  // ------------------------------------------------------------- deletes

  /** Record a DELETE batch (dedup kills, takedowns) —
    * [[graft.sim.PqIndexStore.appendTombstones]]'s replay-idempotent
    * layout verbatim (`tombstones/<batchId>/`, shared discipline).
    * Removing a document from a PACKED stream cannot shrink it in
    * place — every later offset would shift — so deletes are mask-outs:
    * [[livePieces]] is the query view, and reclaiming the pad space is
    * an explicit NEW GENERATION ([[repackGeneration]]).
    */
  def appendTombstones(
      ids: DataFrame, idCol: String, root: String, batchId: String): Long =
    graft.sim.PqIndexStore.appendTombstones(ids, idCol, root, batchId)

  /** The query view under pending deletes: pieces minus tombstoned
    * documents — one broadcast anti-join; chunk ids and offsets are
    * UNCHANGED (the dead pieces become in-chunk padding the loader
    * masks, exactly like [[SequencePack.lossMaskSpans]]'s pad spans).
    */
  def livePieces(spark: SparkSession, root: String, idCol: String): DataFrame = {
    val p = pieces(spark, root)
    p.join(
      broadcast(graft.sim.PqIndexStore.tombstones(spark, root, idCol)),
      Seq(idCol), "left_anti")
      // a USING join fronts the key column; keep the stored piece order
      .select(p.columns.map(col): _*)
  }

  /** Reclaim tombstoned space by packing the SURVIVORS into a fresh
    * store at `newRoot` (one batch, offset 0) — the piece table carries
    * everything needed: each survivor's token count is the sum of its
    * piece lengths, and the survivor order is the original id order, so
    * the new generation equals a from-scratch pack of the surviving
    * corpus without re-reading any document. Returns the new
    * generation's total tokens.
    */
  def repackGeneration(
      spark: SparkSession,
      root: String,
      newRoot: String,
      idCol: String,
      seqLen: Long): Long = {
    val survivors = livePieces(spark, root, idCol)
      .groupBy(col(idCol))
      .agg(sum(col("piece_len")).as("_n"))
    appendBatch(survivors, idCol, "_n", seqLen, newRoot, "g0")._2
  }
}
