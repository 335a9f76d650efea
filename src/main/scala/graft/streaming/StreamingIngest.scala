package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface.
  *
  * The reference's "streaming" is a daily poll loop over an S3 prefix with a
  * processed-files catalog for idempotency (`main.py:412-424`, SURVEY.md
  * §2.8). `FileStreamSource` + `Trigger.AvailableNow` + checkpointing
  * reproduces that contract exactly: each run drains all new files once, the
  * checkpoint replaces the manual processed-files set, and a file arriving
  * later is simply picked up by the next run — the reference's late-data
  * story verbatim.
  */
object StreamingIngest {

  /** File-arrival stream over a directory of CSVs (all-string schema, like
    * the batch path — the cast stage runs inside the foreachBatch pipeline).
    */
  def fileStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      delimiter: String = ","): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("sep", delimiter)
      // validate each file's header against the declared schema: explicit
      // schemas bind by position, and a silently reordered file would
      // otherwise land values in the wrong columns
      .option("enforceSchema", "false")
      .option("maxFilesPerTrigger", "64") // bound per-micro-batch work at scale
      .csv(inputDir)

  /** Drain everything currently available through a per-batch sink function,
    * then stop — the daemon loop's single wake-up. The checkpoint directory
    * carries exactly-once-per-file across invocations.
    */
  def runAvailableNow(
      stream: DataFrame,
      checkpointDir: String)(sink: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window aggregate over an event stream — the
    * streaming twin of the q28 batch query (count + sum per hour), tolerating
    * `lateness` of out-of-order data before state is dropped.
    */
  def hourlyAggregate(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(
        col("window.start").as("hour"),
        col("event_type"),
        col("n"),
        col("total"))

  /** Event-time sessionization with the BUILT-IN session window (compose
    * existing ops before custom state): sessions close after `gap` of
    * event-time inactivity, finalized once the watermark passes.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes", lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("events"), sum(col("value")).as("total"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("events"),
        col("total"))

  /** Streaming twin of the dedup core (J1/J2): exactly-once keyed rows
    * across micro-batches. `dropDuplicatesWithinWatermark` keeps per-key
    * state only until the watermark passes — bounded state, unlike plain
    * streaming `dropDuplicates`, whose key set grows forever (a leak at
    * 100 TB/day). `tsCol` is the event-time column the watermark rides on.
    */
  def dedupedStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked stream-stream INTERVAL join — the attribution primitive
    * (click within [0, maxDelay] AFTER its impression, reading joined to
    * its write, etc.). Both sides carry event-time watermarks and the join
    * condition bounds `rightTs` to a window after `leftTs`, so Spark can
    * size and EVICT the join state: a buffered left row dies once no
    * in-window right row can still arrive (watermark + maxDelay), and
    * vice versa — without the interval bound, stream-stream inner join
    * state grows forever. Column names must be disjoint across sides
    * except the equi-key, passed as (leftKey, rightKey).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      maxDelay: String = "15 minutes",
      lateness: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(
      r,
      expr(s"$leftKey = $rightKey AND " +
        s"$rightTs >= $leftTs AND $rightTs <= $leftTs + interval $maxDelay"))
  }

  /** Stream-static dimension enrichment: every micro-batch joins against
    * the STATIC side with a broadcast hash join — no state store at all
    * (unlike stream-stream joins there is nothing to buffer: the static
    * side is wholly known). Spark re-resolves the static plan per batch, so
    * a dim table backed by files picks up overwrites between batches.
    * `how` may be "inner" or "left_outer" (stream side preserved); the
    * stream side never shuffles.
    */
  def enrichWithDim(
      stream: DataFrame,
      dim: DataFrame,
      keyCols: Seq[String],
      how: String = "left_outer"): DataFrame = {
    require(Set("inner", "left_outer").contains(how),
      s"how=$how: stream-static enrichment preserves the stream side" +
        " (inner or left_outer)")
    stream.join(broadcast(dim), keyCols, how)
  }

  /** Streaming corpus curation: the training-data intake loop as ONE
    * AvailableNow pass — per micro-batch: quality gate (token count), intra-
    * batch exact dedup (first-wins by id on the content hash), cross-run
    * dedup (anti-join against the snapshot's hashes — the accumulated-state
    * twin of `dropDuplicatesWithinWatermark` when dedup must span RUNS, not
    * a watermark window), then append. The checkpoint makes each FILE
    * exactly-once across invocations; the content-hash anti-join makes each
    * DOCUMENT exactly-once across arrivals. Past broadcast size,
    * [[graft.operators.BloomPrune.antiJoinReduced]] is the bloom-pruned form
    * of the same anti-join; hashes-only ships to the join either way.
    */
  def runCurationStream(
      stream: DataFrame,
      tableDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 5): Unit =
    runAvailableNow(stream, checkpointDir) { (batch, _) =>
      val spark = batch.sparkSession
      val hashed = batch
        .filter(graft.text.TextAnalysis.tokenCount(col(textCol)) >= minTokens)
        .withColumn("text_hash", md5(col(textCol)))
      val intra = graft.dedup.Dedup.selfDedupFirstWins(hashed, Seq("text_hash"), idCol)
      val fresh =
        if (graft.load.Snapshot.exists(spark, tableDir))
          graft.dedup.Dedup.antiJoinPrior(
            intra, spark.read.parquet(tableDir), "text_hash")
        else intra
      graft.load.Snapshot.appendBatch(fresh, tableDir)
    }

  /** Streaming SEQUENCE PACKING: the training-sequence index grows at
    * the stream tail as curated documents arrive — each micro-batch
    * appends to the [[graft.operators.PieceStore]] under the store's
    * recorded token total, batch id = the STREAMING batch id, so the
    * combination of the checkpoint (exactly-once micro-batches) and the
    * store's recorded-offset replay (idempotent re-appends) makes the
    * piece table exactly-once end to end: a crashed-and-retried batch
    * re-packs at its recorded offset instead of double-advancing the
    * stream. The batch twin is q356; incremental == rebuild is q375's
    * gate; this wires the loop to a live source.
    *
    * Inherits [[graft.operators.PieceStore]]'s ID-MONOTONICITY
    * contract: micro-batches must arrive with globally increasing
    * `idCol` (file sources named in id order satisfy this; an
    * out-of-order batch fails the store's guard LOUDLY rather than
    * silently diverging from the whole-corpus rebuild). Schedule
    * feeds (per-batch mixture positions) need the position-epoch
    * fence construction documented there.
    */
  def runPackStream(
      stream: DataFrame,
      storeRoot: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      nTokensCol: String = "n_tokens",
      seqLen: Long = 512L): Unit =
    runAvailableNow(stream, checkpointDir) { (batch, id) =>
      graft.operators.PieceStore.appendBatch(
        batch, idCol, nTokensCol, seqLen, storeRoot, s"b$id")
      ()
    }

  /** Streaming MEDIA curation with poison-pill quarantine: the q307
    * corruption-containment property wired into the stream. Each
    * micro-batch of media rows (the [[graft.multimodal.Multimodal
    * .MediaSchema]] contract) decodes through the QUARANTINE twin of the
    * format's extractor — good rows append their features to
    * `featuresDir`, rows whose payload fails the codec's typed
    * IllegalArgumentException land in `quarantineDir` as
    * (media_id, decode_error, batch_id) audit rows — and the stream
    * ADVANCES: one corrupt payload in a 100 TB/day media feed must cost
    * one audit row, not the stream (without the quarantine twin, the
    * task throws, the micro-batch fails, and AvailableNow retries the
    * same poison forever). Other exception types still propagate — a
    * decoder BUG should stop the stream, only corrupt DATA is contained.
    */
  def runMediaCurationStream(
      stream: DataFrame,
      featuresDir: String,
      quarantineDir: String,
      checkpointDir: String,
      format: String): Unit = {
    import graft.multimodal.Multimodal
    val quarantineDecode: DataFrame => DataFrame = format match {
      case "png" => Multimodal.extractPngFeaturesQuarantine
      case "jpeg" => Multimodal.extractJpegFeaturesQuarantine
      case "gif" => Multimodal.extractGifFeaturesQuarantine
      case other => throw new IllegalArgumentException(
        s"unsupported media stream format '$other' (png/jpeg/gif)")
    }
    runAvailableNow(stream, checkpointDir) { (batch, batchId) =>
      // one decode pass feeds both sinks (persist: the mapPartitions
      // decode would otherwise run once per sink)
      val out = quarantineDecode(batch).persist()
      try {
        graft.load.Snapshot.appendBatch(
          out.filter(col("ok")).drop("ok", "decode_error"), featuresDir)
        val bad = out.filter(!col("ok"))
          .select(col("media_id"), col("decode_error"), lit(batchId).as("batch_id"))
        if (!bad.isEmpty) graft.load.Snapshot.appendBatch(bad, quarantineDir)
      } finally out.unpersist()
    }
  }

  /** The INCREMENTAL NEAR-DUP LOOP as a stream: each micro-batch of
    * (id, text) documents runs [[graft.dedup.IncrementalDedup.ingestBatch]]
    * against the shared parquet state — band the batch, probe the stored
    * index, fold the new pairs into the stored clusters at rep level,
    * commit. The checkpoint makes micro-batch REPLAY the crash mode, and
    * the op's commit-marker protocol makes replay a NO-OP (`batchId` =
    * the stream's epoch id), so exactly-once state maintenance falls out
    * of at-least-once delivery — the same idempotent-sink discipline as
    * [[runUpsertStream]], with the marker doing what the MERGE key does
    * there. Run [[graft.dedup.IncrementalDedup.audit]]/`compact` on a
    * maintenance cadence outside the stream (single-writer contract:
    * not concurrently with it).
    */
  def runDedupStream(
      stream: DataFrame,
      stateRoot: String,
      checkpointDir: String,
      idCol: String = "id",
      textCol: String = "text",
      autoCompactEvery: Int = 0): Unit = {
    val state = graft.dedup.IncrementalDedup.State(stateRoot)
    runAvailableNow(stream, checkpointDir) { (batch, epoch) =>
      graft.dedup.IncrementalDedup.ingestBatch(
        state, batch, idCol, textCol, batchId = f"epoch$epoch%06d",
        autoCompactEvery = autoCompactEvery)
      ()
    }
  }

  /** Streaming WARC intake: crawl archives arrive as (media_id, payload)
    * rows ([[graft.ingest.Warc.WarcFileSchema]] — the shape a fetcher
    * fleet lands .warc.gz files in), and each micro-batch parses through
    * the QUARANTINE twin ([[graft.ingest.Warc.htmlTextQuarantine]]):
    * 200 text/html entities extract to clean text rows in `textsDir`
    * (the [[graft.text.TextAnalysis.extractHtmlText]] chain), archives
    * failing the typed IllegalArgumentException land in `quarantineDir`
    * as (media_id, decode_error, batch_id) audit rows, and the stream
    * ADVANCES past poison — the q307 containment property at the
    * archive grain, in front of the whole text-curation pipeline.
    */
  def runWarcIngestStream(
      stream: DataFrame,
      textsDir: String,
      quarantineDir: String,
      checkpointDir: String): Unit =
    runAvailableNow(stream, checkpointDir) { (batch, batchId) =>
      // one parse pass feeds both sinks
      val out = graft.ingest.Warc.htmlTextQuarantine(batch).persist()
      try {
        val good = out.filter(col("ok"))
          .select(col("media_id"),
            graft.text.TextAnalysis.extractHtmlText(col("html")).as("text"))
        if (!good.isEmpty) graft.load.Snapshot.appendBatch(good, textsDir)
        val bad = out.filter(!col("ok"))
          .select(col("media_id"), col("decode_error"), lit(batchId).as("batch_id"))
        if (!bad.isEmpty) graft.load.Snapshot.appendBatch(bad, quarantineDir)
      } finally out.unpersist()
    }

  /** Streaming MERGE sink: each micro-batch upserts into a parquet snapshot
    * with latest-wins semantics ([[graft.load.Snapshot.upsertLatestWins]]).
    * `foreachBatch` is the escape hatch for sinks Structured Streaming
    * doesn't ship (idempotent MERGE targets): the whole-table rewrite per
    * batch is the parquet-without-a-table-format cost — at 100 TB pair with
    * a real table format or partition-scoped rewrites.
    */
  def runUpsertStream(
      stream: DataFrame,
      tableDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      versionCol: String): Unit = {
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // a crash mid-swap leaves only the renamed-aside copy — restore it
        // before reading, or the batch would merge into an empty table and
        // drop history (recoverSwap throws if the restore itself fails)
        graft.load.Snapshot.recoverSwap(spark, tableDir)
        // empty current on first batch — the upsert still dedups keys
        // WITHIN the batch (latest version wins there too)
        val current =
          if (graft.load.Snapshot.exists(spark, tableDir))
            graft.load.Snapshot.readTable(spark, tableDir)
          else batch.toDF().limit(0)
        val merged = graft.load.Snapshot.upsertLatestWins(
          current, batch.toDF(), keyCols, versionCol)
        // rename-aside swap shared with Snapshot.compact: old or new layout
        // survives any crash, never neither
        graft.load.Snapshot.replaceTable(merged, tableDir)
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Open-session accumulator for [[statefulSessions]]. */
  final case class OpenSession(startMs: Long, lastMs: Long, n: Long)

  /** Closed session emitted by [[statefulSessions]]. */
  final case class ClosedSession(
      userId: Long, sessionStart: java.sql.Timestamp,
      sessionEnd: java.sql.Timestamp, nEvents: Long)

  /** Sessionization as an EXPLICIT state machine —
    * `flatMapGroupsWithState` + event-time timeout, the surface for session
    * semantics `session_window` can't express (custom close conditions,
    * side outputs, per-key TTLs). A key's open session absorbs events and
    * re-arms a timeout at `lastEvent + gap`; when the WATERMARK passes that
    * point the state times out and the closed session is emitted (Append
    * mode — exactly once per session, not per update).
    *
    * State is one fixed-size record per ACTIVE key — the store holds open
    * sessions only, never events; eviction is the timeout itself, so state
    * can't grow with history. Input rows: (userId, eventTime).
    */
  def statefulSessions(
      events: Dataset[(Long, java.sql.Timestamp)],
      gapMinutes: Int = 30,
      lateness: String = "10 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    require(gapMinutes > 0, s"gapMinutes=$gapMinutes must be positive")
    val gapMillis = gapMinutes * 60000L
    events
      .toDF("userId", "ts")
      .withWatermark("ts", lateness)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(
              userId, new java.sql.Timestamp(s.startMs),
              new java.sql.Timestamp(s.lastMs), s.n))
          } else {
            val times = rows.map(_._2.getTime).toSeq
            val prev = state.getOption.getOrElse(OpenSession(times.min, times.min, 0L))
            // NOTE: a gap INSIDE one batch's events still merges — the
            // timeout only closes sessions between batches. Good enough for
            // the monitoring shape; exact splits are sessionize()'s job.
            val next = OpenSession(
              math.min(prev.startMs, times.min), math.max(prev.lastMs, times.max),
              prev.n + times.size)
            state.update(next)
            state.setTimeoutTimestamp(next.lastMs + gapMillis)
            Iterator.empty
          }
      }
  }

  /** Running per-user state for [[runningUserState]]. */
  final case class UserState(events: Long, total: Double)

  /** Custom cross-batch state: per-user lifetime counters maintained with
    * `mapGroupsWithState` — the KeyValueGroupedDataset surface for state that
    * windows can't express. Emits the updated state each micro-batch
    * (Update mode, no timeout). Input rows: (userId, value).
    */
  def runningUserState(events: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, (Long, Long, Double)](GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          val batch = rows.toSeq
          val next = UserState(prev.events + batch.size, prev.total + batch.map(_._2).sum)
          state.update(next)
          (userId, next.events, next.total)
      }
  }
}
