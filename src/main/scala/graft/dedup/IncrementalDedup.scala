package graft.dedup

import graft.store.CommitLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The production incremental near-dup loop a 100 TB corpus actually runs —
  * ONE pipeline op composing the pieces the per-verb gates already prove
  * (q31 banding, q129 incremental probe, q81 components, q82 canonical):
  *
  *   1. band the day's batch ([[MinHashLsh.bandedTable]] — signature pass
  *      over the NEW docs only),
  *   2. probe the STORED band index ([[MinHashLsh.candidatePairsAgainst]] —
  *      the shuffle carries the batch plus colliding index rows, never the
  *      corpus),
  *   3. append the batch's band rows and the new pairs to the stored state,
  *   4. fold the new pairs into the stored cluster assignment
  *      INCREMENTALLY: existing components are already collapsed to their
  *      min-id representative, so the merge graph is REP-level — one node
  *      per touched component plus the batch's fresh ids, one edge per new
  *      pair — i.e. batch-sized, never corpus-sized. [[DupClusters.components]]
  *      runs over that tiny graph only; the corpus never reclusters.
  *   5. the canonical set = every ingested id minus stored losers — a scan
  *      of the (loser-sized) rep table, no graph pass at all.
  *
  * The invariant the gate query (q313) pins and [[audit]] re-proves: after
  * any sequence of batches, the canonical set EQUALS what one full-corpus
  * batch run would produce — pair (a,b) forms exactly once, when the LATER
  * of the two arrives, and rep-level merging preserves connectivity (a
  * collapsed component is one node; new edges union components exactly as
  * member-level edges would). Because pairs only accumulate, components
  * only MERGE and the min-id representative only DECREASES — which is why
  * the rep state can be an append-only delta log resolved by `min(rep)`
  * per id: no ordering column, no latest-wins window, just an associative
  * map-side-combinable aggregate.
  *
  * State layout under `root` (all plain parquet appends — object-store
  * friendly, no in-place mutation, the K4 append-only discipline), every
  * table partitioned by `batch` and carrying an `attempt` tag:
  * `band_index/` (id, band, bucket), `pairs/` (id_a, id_b), `doc_ids/`
  * (id), `reps/` (id, rep — strictly rep < id, i.e. losers only), plus
  * `_commits/<batchId>` markers.
  *
  * '''Crash recovery / idempotence''' (the commit-marker protocol): a
  * batch's data files land FIRST, the marker LAST, and every reader
  * filters to (batch, attempt) pairs named by a marker — so a failure
  * between appends leaves invisible garbage, never inconsistent state,
  * and re-running the batch (same `batchId`, fresh attempt) is safe: the
  * old attempt's rows never match any marker. Re-ingesting an
  * already-committed `batchId` is a no-op that reports from state.
  * Markers are published whole ([[graft.store.CommitLog.publish]]). The
  * four tables commit at one marker, which a per-dir commit cannot
  * express, hence the (batch, attempt) tags.
  *
  * Single-WRITER contract like the catalog (one daily ingest job owns
  * the state). [[audit]] is a READER and safe to run concurrently with
  * ingest: it pins the commit-marker map once at entry, so it sees one
  * consistent generation throughout (a batch committing mid-audit is
  * wholly invisible). [[compact]]/[[vacuum]] remain exclusive — vacuum
  * deletes partitions a concurrent reader may still hold. [[compact]] is
  * the maintenance op: it folds the accumulated daily deltas into one
  * snapshot generation (the q222 small-files answer for this store) and
  * vacuums superseded partitions; `autoCompactEvery` on [[ingestBatch]]/
  * `runDedupStream` wires it into the ingest cadence.
  */
object IncrementalDedup {

  /** Parquet state dirs under one root. */
  final case class State(root: String) {
    val indexDir: String = s"$root/band_index"
    val pairsDir: String = s"$root/pairs"
    val docsDir: String = s"$root/doc_ids"
    val repsDir: String = s"$root/reps"
    val commitsDir: String = s"$root/_commits"
  }

  /** One batch report: sizes after ingesting the batch.
    *
    * Counts are LAZY — computed on first access against the state as
    * committed at that moment (compaction preserves row content, so the
    * totals survive an intervening [[compact]] unchanged; only a LATER
    * ingest would shift them, and the single-writer contract means the
    * caller controls that ordering). The ingest hot path (q326, the
    * streaming loop) never reads the counts, so it never pays the five
    * state scans the eager report used to run per batch.
    */
  final class BatchReport(
      batchDocsThunk: () => Long,
      newPairsThunk: () => Long,
      totalDocsThunk: () => Long,
      totalPairsThunk: () => Long,
      canonicalDocsThunk: () => Long) {
    lazy val batchDocs: Long = batchDocsThunk()
    lazy val newPairs: Long = newPairsThunk()
    lazy val totalDocs: Long = totalDocsThunk()
    lazy val totalPairs: Long = totalPairsThunk()
    lazy val canonicalDocs: Long = canonicalDocsThunk()
    override def toString: String =
      s"BatchReport(batchDocs=$batchDocs, newPairs=$newPairs, " +
        s"totalDocs=$totalDocs, totalPairs=$totalPairs, canonicalDocs=$canonicalDocs)"
  }

  /** One committed batch: marker contents. Snapshot markers carry the
    * batchIds their compaction folded (transitively, including what prior
    * snapshots had folded) so the idempotent-replay check survives
    * [[vacuum]] deleting the folded deltas' own markers — without it, a
    * stream-epoch replay of a pre-compact batchId would proceed as a
    * fresh ingest and duplicate its rows. ~One short id per batch ever
    * ingested: a year of daily batches is a few KB of marker.
    */
  private final case class Commit(
      attempt: String, seq: Long, snapshot: Boolean,
      folded: Set[String] = Set.empty)

  /** Rep-merge graphs at or under this many edges fold on the driver
    * (union-find) instead of through the distributed star alternation.
    */
  private val SmallMergeEdges = 100000L

  /** Committed batches: batchId → marker. Driver-side, O(#batches) — a
    * year of daily ingest is ~366 tiny files (and [[compact]] prunes).
    * Markers are published whole; one that does not parse (a torn marker
    * that older versions wrote in place) is treated as ABSENT: re-ingest
    * of its batchId proceeds with a fresh attempt and replaces it, and
    * [[vacuum]] clears it.
    */
  private def committed(spark: SparkSession, state: State): Map[String, Commit] =
    CommitLog.markers(spark, state.commitsDir).flatMap {
      case (batchId, Seq(attempt, seq, kind, folded @ _*))
          if seq.matches("-?[0-9]+") && folded.sizeIs <= 1 =>
        Some(batchId -> Commit(attempt, seq.toLong, kind == "snapshot",
          folded.flatMap(_.split(",")).filter(_.nonEmpty).toSet))
      case _ => None
    }.toMap

  private def writeMarker(
      spark: SparkSession, state: State, batchId: String, c: Commit): Unit = {
    val p = new Path(state.commitsDir, batchId)
    val kind = if (c.snapshot) "snapshot" else "delta"
    val lines = Seq(c.attempt, c.seq.toString, kind) ++
      (if (c.folded.isEmpty) Nil else Seq(c.folded.toSeq.sorted.mkString(",")))
    if (!CommitLog.publish(spark, p, lines)) { // a torn marker: replace it
      CommitLog.delete(spark, Seq(p))
      require(CommitLog.publish(spark, p, lines), s"marker $p published concurrently")
    }
  }

  /** Every batchId the state already accounts for: live markers plus ids
    * folded into snapshots (whose own markers vacuum deleted).
    */
  private def knownBatchIds(com: Map[String, Commit]): Set[String] =
    com.keySet ++ com.values.iterator.flatMap(_.folded)

  private def nextSeq(com: Map[String, Commit]): Long =
    com.values.foldLeft(-1L)((m, c) => math.max(m, c.seq)) + 1

  /** Batches a reader must see: the latest snapshot plus every delta that
    * committed after it (earlier generations are superseded — [[compact]]
    * vacuums them lazily).
    */
  private def liveBatches(com: Map[String, Commit]): Map[String, Commit] = {
    val snapSeq = com.values.filter(_.snapshot)
      .foldLeft(-1L)((m, c) => math.max(m, c.seq))
    com.filter { case (_, c) => c.seq >= snapSeq }
  }

  /** The committed view of one state table: rows whose (batch, attempt)
    * matches a live marker IN THE CALLER-PINNED commit map. The filter is
    * a broadcast join against an O(#batches) in-memory frame; partition
    * pruning on `batch` makes superseded generations free even before
    * vacuum. Pinning the map once per OPERATION (not per table read) is
    * what lets [[audit]] run concurrently with ingest: every table it
    * touches reflects the same marker generation — a batch committing
    * mid-audit is invisible to the whole audit, never half-visible.
    */
  private def visible(
      spark: SparkSession, state: State, dir: String, schema: String,
      com: Map[String, Commit]): DataFrame = {
    val declared = StructType.fromDDL(schema)
    // read with the declared layout plus the commit tags: no job infers
    // it from footers, and `batch` stays a string whatever a batchId
    // looks like (partition inference would type "007" as an int)
    val stored = StructType(declared.filterNot(f => f.name == "batch" || f.name == "attempt"))
      .add("attempt", StringType).add("batch", StringType)
    val raw =
      try spark.read.schema(stored).parquet(dir)
      catch { // no dir yet
        case _: AnalysisException =>
          return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], declared)
      }
    val live = liveBatches(com).toSeq
      .map { case (b, c) => (b, c.attempt) }
    import spark.implicits._
    raw.join(broadcast(live.toDF("batch", "attempt")), Seq("batch", "attempt"))
      .select(declared.fieldNames.map(col): _*)
  }

  /** The current id → representative map, losers only (rep < id): the
    * delta log resolved by `min(rep)` — correct because reps only ever
    * decrease (components only merge; see the object doc).
    */
  private def resolvedReps(
      spark: SparkSession, state: State, com: Map[String, Commit]): DataFrame =
    visible(spark, state, state.repsDir, "id BIGINT, rep BIGINT", com)
      .groupBy("id").agg(min("rep").as("rep"))

  /** Replay-path report: every count lazy, each pinning the committed map
    * fresh at access (the batch is already committed, so any later marker
    * generation sees the same rows — folded batches report batch-local 0,
    * exactly as the eager path documented).
    */
  private def reportFromState(
      spark: SparkSession, state: State, batchId: String): BatchReport = {
    def docs(com: Map[String, Commit]) =
      visible(spark, state, state.docsDir, "id BIGINT, batch STRING", com)
    def pairs(com: Map[String, Commit]) =
      visible(spark, state, state.pairsDir,
        "id_a BIGINT, id_b BIGINT, batch STRING", com)
    new BatchReport(
      () => docs(committed(spark, state)).filter(col("batch") === batchId).count(),
      () => pairs(committed(spark, state)).filter(col("batch") === batchId).count(),
      () => docs(committed(spark, state)).count(),
      () => pairs(committed(spark, state)).count(),
      () => {
        val com = committed(spark, state)
        docs(com).count() - resolvedReps(spark, state, com).count()
      })
  }

  /** Ingest one day's batch of (id, text) documents: probe, append, fold
    * the new pairs into the stored clusters (rep-level, batch-sized — no
    * full recluster), commit. Returns the post-batch sizes. Ids must be
    * globally unique across batches (the caller's ingest contract —
    * surrogate ids from the watermark, P3). `batchId` names the batch for
    * idempotent re-ingest (crash recovery re-runs the same id safely);
    * default is `b<seq>` under the single-writer contract.
    * `autoCompactEvery` > 0 wires the small-files maintenance into the
    * ingest cadence itself: once the live DELTA count since the last
    * snapshot reaches it, [[compact]] runs right after the commit — the
    * year-horizon flatness no longer depends on an operator remembering.
    */
  def ingestBatch(
      state: State,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      batchId: String = null,
      autoCompactEvery: Int = 0): BatchReport = {
    val spark = batch.sparkSession
    val com = committed(spark, state)
    val seq = nextSeq(com)
    val bid = Option(batchId).getOrElse(f"b$seq%06d")
    CommitLog.requireId(bid)
    // already committed (directly, or folded into a snapshot by a compact
    // that vacuumed the delta's own marker) → idempotent no-op; recovery
    // re-runs land here. A folded batch's rows now live under the
    // snapshot partition, so its batch-local counts report 0 — totals
    // stay exact, which is what a replay caller acts on.
    if (knownBatchIds(com).contains(bid)) return reportFromState(spark, state, bid)
    val attempt = java.util.UUID.randomUUID().toString
    def tag(df: DataFrame): DataFrame =
      df.withColumn("attempt", lit(attempt)).withColumn("batch", lit(bid))
    def append(df: DataFrame, dir: String): Unit =
      tag(df).write.mode(SaveMode.Append).partitionBy("batch").parquet(dir)

    val ids = batch.select(col(idCol).cast("long").as("id"))

    // every persisted frame is released in `finally`, on every path
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df; df.persist() }
    val nNewPairs = try {
      // 1. band the new docs (cached: probed once, appended once)
      val newBanded = cache(MinHashLsh
        .bandedTable(batch.select(col(idCol).cast("long").as("id"), col(textCol)),
          "id", textCol, shingleSize, numHashes, bands))

      // 2. probe stored index ∪ own rows: new×old plus new×new pairs —
      // exactly the pairs the batch recompute would add (q129 invariant)
      val storedBanded = visible(spark, state, state.indexDir,
        "id BIGINT, band INT, bucket STRING", com)
      val newPairs = cache(MinHashLsh
        .candidatePairsAgainst(newBanded, storedBanded.unionByName(newBanded), "id"))
      val nNewPairs = newPairs.count()

      // 3. fold new pairs into the stored clusters at REP level: one node
      // per touched component (or fresh batch id), one edge per new pair —
      // the graph DupClusters sees is batch-sized regardless of corpus age.
      // The caches feeding the delta stay live until the APPEND below
      // materializes it — no extra count-to-materialize job.
      val repDelta: DataFrame = if (nNewPairs == 0) null else {
        val reps = cache(resolvedReps(spark, state, com))
        val endpoints = newPairs.select(col("id_a").as("id"))
          .unionByName(newPairs.select(col("id_b").as("id"))).distinct()
        val epReps = cache(endpoints.join(reps, Seq("id"), "left")
          .select(col("id"), coalesce(col("rep"), col("id")).as("rep")))
        val repEdges = newPairs
          .join(epReps.select(col("id").as("id_a"), col("rep").as("_ra")), "id_a")
          .join(epReps.select(col("id").as("id_b"), col("rep").as("_rb")), "id_b")
          .select(col("_ra"), col("_rb"))
          .filter(col("_ra") =!= col("_rb"))
          .distinct()
        // merged old reps / losing fresh ids → their new (smaller) rep.
        // Small-batch fast path: the rep graph is ≤ nNewPairs edges, and a
        // DAILY batch's merge graph is batch-sized by construction — driver
        // union-find (min-id roots, identical semantics to
        // DupClusters.components) costs ONE collect where the distributed
        // star alternation costs ~10 scheduler round-trips; the distributed
        // path remains for backfill-scale merges. The collect is bounded by
        // the threshold (2 longs/edge — the sanctioned O(small) inventory).
        val changed: DataFrame = if (nNewPairs <= SmallMergeEdges) {
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          repEdges.collect().foreach { row =>
            val a = row.getLong(0); val b = row.getLong(1)
            nodes += a; nodes += b
            val ra = find(a); val rb = find(b)
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          val rows = nodes.iterator.flatMap { n =>
            val r = find(n)
            if (r != n) Some(Row(n, r)) else None
          }.toSeq
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            StructType.fromDDL("node BIGINT, component BIGINT"))
        } else DupClusters.components(repEdges, "_ra", "_rb")
          .filter(col("node") =!= col("component"))
        // existing members of a merged component follow their old rep down.
        // Broadcast `changed` only on the small-merge driver path, where it
        // is provably bounded by SmallMergeEdges nodes; the distributed path
        // runs precisely when the merge graph is backfill-scale and
        // `changed` can approach corpus size — there a broadcast hint is an
        // OOM risk, so let Catalyst plan a keyed shuffle join.
        val changedRenamed =
          changed.select(col("node").as("rep"), col("component").as("_nr"))
        val changedForJoin =
          if (nNewPairs <= SmallMergeEdges) broadcast(changedRenamed) else changedRenamed
        val memberUpdates = reps
          .join(changedForJoin, Seq("rep"))
          .select(col("id"), col("_nr").as("rep"))
        changed.select(col("node").as("id"), col("component").as("rep"))
          .unionByName(memberUpdates)
      }

      // 4. append-only state updates — data first, marker LAST (the commit
      // point); a crash anywhere before the marker leaves invisible rows.
      // The rep-delta append is the action that materializes the delta.
      append(newBanded, state.indexDir)
      if (nNewPairs > 0) append(newPairs, state.pairsDir)
      append(ids, state.docsDir)
      if (repDelta != null) append(repDelta, state.repsDir)
      nNewPairs
    } finally cached.foreach(_.unpersist())
    writeMarker(spark, state, bid, Commit(attempt, seq, snapshot = false))

    // the report's totals are LAZY (the caller may never read them — the
    // ingest loop doesn't): each pins the committed map fresh at access,
    // so even a later compact (which preserves row content) reads back the
    // same numbers. newPairs is already in hand.
    val report = new BatchReport(
      () => batch.select(col(idCol)).count(),
      () => nNewPairs,
      () => visible(spark, state, state.docsDir, "id BIGINT",
        committed(spark, state)).count(),
      () => visible(spark, state, state.pairsDir, "id_a BIGINT, id_b BIGINT",
        committed(spark, state)).count(),
      () => {
        val c = committed(spark, state)
        visible(spark, state, state.docsDir, "id BIGINT", c).count() -
          resolvedReps(spark, state, c).count()
      })
    // generation-count compaction trigger: fold once the delta tail since
    // the last snapshot reaches the cadence (state is bit-identical by
    // compact()'s contract, so the lazy report reads identically either
    // side of the fold)
    val com2 = com + (bid -> Commit(attempt, seq, snapshot = false))
    if (autoCompactEvery > 0 &&
        liveBatches(com2).values.count(!_.snapshot) >= autoCompactEvery)
      compact(spark, state)
    report
  }

  /** The current canonical id set: every ingested id minus stored losers.
    * A scan + anti-join over the (loser-sized) rep state — no graph pass,
    * which is the point of maintaining reps incrementally.
    */
  def canonicalIds(spark: SparkSession, state: State): DataFrame = {
    val com = committed(spark, state)
    val docs = visible(spark, state, state.docsDir, "id BIGINT", com)
    val losers = resolvedReps(spark, state, com).select("id")
    docs.join(losers, Seq("id"), "left_anti")
  }

  /** The decoupled consistency audit (run daily/weekly): full
    * [[DupClusters.components]] recluster over every stored pair,
    * compared against the incrementally-maintained rep state. Returns the
    * number of mismatched (id, rep) rows — 0 means the incremental fold
    * is exactly the batch answer.
    *
    * SAFE CONCURRENT WITH INGEST: the commit-marker map is pinned ONCE at
    * entry, so the audit sees the consistent generation at that instant —
    * pairs and reps from the same marker set, a batch committing mid-audit
    * invisible to both sides (a committed batch's pairs and rep deltas
    * land atomically at its single marker). Only [[compact]]/[[vacuum]]
    * must still not run concurrently: vacuum DELETES superseded
    * partitions a pinned audit may still be reading.
    */
  def audit(spark: SparkSession, state: State): Long = {
    val com = committed(spark, state) // pinned: one consistent generation
    val pairs = visible(spark, state, state.pairsDir, "id_a BIGINT, id_b BIGINT", com)
    val inc = resolvedReps(spark, state, com)
    if (pairs.isEmpty) return inc.count()
    val full = DupClusters.components(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("id"), col("component").as("rep"))
    full.exceptAll(inc).unionByName(inc.exceptAll(full)).count()
  }

  /** Maintenance: fold every live batch into ONE snapshot generation
    * (reps resolved to their current minimum, each table rewritten into
    * `outputFiles` files) and vacuum superseded partitions + markers —
    * the small-files answer for this store: a year of daily appends reads
    * as one compact generation plus the days since the last compact.
    */
  def compact(spark: SparkSession, state: State, outputFiles: Int = 4): Unit = {
    val com = committed(spark, state)
    if (com.isEmpty) return
    val seq = nextSeq(com)
    val bid = f"snap$seq%06d"
    val attempt = java.util.UUID.randomUUID().toString
    def write(df: DataFrame, dir: String): Unit =
      if (!df.isEmpty)
        df.withColumn("attempt", lit(attempt)).withColumn("batch", lit(bid))
          .repartition(outputFiles)
          .write.mode(SaveMode.Append).partitionBy("batch").parquet(dir)
    write(visible(spark, state, state.indexDir, "id BIGINT, band INT, bucket STRING", com),
      state.indexDir)
    write(visible(spark, state, state.pairsDir, "id_a BIGINT, id_b BIGINT", com),
      state.pairsDir)
    write(visible(spark, state, state.docsDir, "id BIGINT", com), state.docsDir)
    write(resolvedReps(spark, state, com), state.repsDir)
    // the snapshot marker carries every batchId it supersedes (plus what
    // earlier snapshots had folded) so vacuum deleting those markers never
    // re-opens an already-ingested batchId to replay
    writeMarker(spark, state, bid,
      Commit(attempt, seq, snapshot = true, folded = knownBatchIds(com)))
    vacuum(spark, state)
  }

  /** Delete superseded batch partitions and markers (everything older
    * than the latest snapshot), plus partitions never committed at all
    * (crashed attempts). Safe to re-run; a crash mid-vacuum leaves only
    * invisible data.
    */
  def vacuum(spark: SparkSession, state: State): Unit = {
    val com = committed(spark, state)
    val live = liveBatches(com).keySet
    for (dir <- Seq(state.indexDir, state.pairsDir, state.docsDir, state.repsDir)) {
      CommitLog.delete(spark, CommitLog.list(spark, dir).map(_.getPath).filter { p =>
        p.getName.startsWith("batch=") && !live.contains(p.getName.stripPrefix("batch="))
      })
    }
    // superseded markers, torn markers and the temps of crashed publishes
    CommitLog.delete(spark, CommitLog.list(spark, state.commitsDir).map(_.getPath)
      .filterNot(p => live.contains(p.getName)))
  }
}
