package graft.pipeline

import graft.catalog.Catalog
import graft.dedup.{Decontaminate, Dedup, DupClusters, MinHashLsh, NGramJaccard}
import graft.load.{Snapshot, Splits}
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental training-corpus curation: the LLM-data twin of the warehouse
  * [[Pipeline]]. Each batch of raw documents is annotated, quality-filtered,
  * exact-deduplicated (within the batch and against the existing corpus),
  * near-deduplicated (MinHash candidates → exact Jaccard verify → connected
  * components → one canonical doc per cluster, batch and cross-corpus),
  * optionally decontaminated against a benchmark set, then appended to the
  * corpus snapshot with provenance and a deterministic train/val/test split.
  *
  * Scale shape per batch: two content-hash anti-joins (shuffles keyed by the
  * hash), one LSH bucket join (keyed by band bucket — near-linear output),
  * one Jaccard verify over candidates only, a diameter-bounded component
  * fixpoint over the verified pair graph, and a broadcast shingle semi-join
  * for decontamination. The corpus side ships only its hash / signature
  * columns into each join, never full documents.
  */
final class CorpusPipeline(
    spark: SparkSession,
    catalog: Catalog,
    corpusDir: String,
    minQualityTokens: Int = 5,
    nearDupJaccard: Double = 0.8,
    benchmark: Option[DataFrame] = None,
    splitWeights: Seq[(String, Int)] = Seq("train" -> 8, "val" -> 1, "test" -> 1),
    rebalanceRates: Map[String, Double] = Map.empty) {

  final case class Result(
      batchName: String,
      ingested: Long,
      exactDups: Long,
      nearDups: Long,
      rejected: Long,
      contaminated: Long = 0L,
      rebalanced: Long = 0L)

  /** Annotate one raw batch: content hash, token stats, language guess,
    * quality metrics. Pure projection — fuses into the scan.
    */
  def annotate(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      col(textCol).as("text"),
      md5(col(textCol)).as("text_hash"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      TextAnalysis.langId(col(textCol)).as("lang_guess"),
      TextAnalysis.distinctTokenRatio(col(textCol)).as("distinct_ratio"),
      TextAnalysis.bagFingerprint(col(textCol)).as("bag_fp"))

  /** Process one batch end to end; returns counts for the audit log. */
  def processBatch(raw: DataFrame, batchName: String, idCol: String = "doc_id", textCol: String = "text"): Result = {
    if (catalog.isProcessed(batchName))
      return Result(batchName, 0L, 0L, 0L, 0L)

    val annotated = annotate(raw, idCol, textCol)

    // 1. quality gate
    val quality = annotated.filter(col("n_tokens") >= minQualityTokens)

    // 2. exact dedup: within batch (keep lowest id) then vs corpus hashes
    val inBatch = Dedup.selfDedupFirstWins(quality, Seq("text_hash"), "doc_id")
    val corpus = if (Snapshot.exists(spark, corpusDir)) Some(Snapshot.readTable(spark, corpusDir)) else None
    val exactNew = corpus.fold(inBatch)(c => Dedup.antiJoinPrior(inBatch, c.select("text_hash"), "text_hash"))

    // 3. near-dup: LSH candidates within batch + vs corpus, verified by
    // Jaccard; verified pairs cluster via connected components so a CHAIN
    // a~b~c keeps exactly one canonical doc (pairwise lower-id dropping
    // keeps transitively-duplicated middles)
    val batchCands = MinHashLsh.candidatePairs(exactNew, "doc_id", "text")
    val verified = NGramJaccard.verifyPairs(batchCands, exactNew, "doc_id", "text")
      .filter(col("jaccard") >= nearDupJaccard)
    val batchNear = DupClusters.components(verified, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    val crossNear = corpus match {
      case Some(c) =>
        // bucket-join the batch against corpus fingerprints: bag_fp equality
        // is the cheap cross-corpus near-dup proxy (full cross-corpus LSH
        // would ship corpus signatures; bag_fp catches re-tokenized copies)
        exactNew.join(c.select(col("bag_fp")), Seq("bag_fp"), "left_semi").select("doc_id")
      case None => spark.emptyDataFrame.withColumn("doc_id", lit(0L)).filter(lit(false)).select("doc_id")
    }
    val dropIds = batchNear.unionByName(crossNear).distinct()
    val deduped = exactNew.join(dropIds, Seq("doc_id"), "left_anti")

    // 4. benchmark decontamination (broadcast shingle semi-join; corpus
    // side never shuffles)
    val kept = benchmark match {
      case Some(bench) => Decontaminate.removeContaminated(
        deduped, "doc_id", "text", bench, "text", k = 4)
      case None => deduped
    }

    // 5. optional stratified rebalancing by detected language (deterministic
    // per-stratum keep rates — downsample the over-represented stratum).
    // `kept` feeds both the rebalance and its own audit count, so persist it
    // while rebalancing is on — recomputing it would replay the dedup DAG
    val keptCached = if (rebalanceRates.isEmpty) kept else kept.persist()
    val balanced =
      if (rebalanceRates.isEmpty) keptCached
      else Splits.stratifiedSample(keptCached, "lang_guess", col("doc_id"), rebalanceRates)

    // 6. append with provenance + deterministic split; audit counts are
    // computed BEFORE the append (the anti-joins read the corpus this batch
    // writes into)
    val stamped = balanced
      .withColumn("batch_name", lit(batchName))
      .withColumn("split", Splits.assignSplit(col("doc_id"), splitWeights))
      .persist()
    val nTotal = annotated.count()
    val nQuality = quality.count()
    val nExactNew = exactNew.count()
    val nDeduped = deduped.count()
    val nKept = stamped.count()
    // decontamination and rebalancing drops are separate audit lines; the
    // pre-rebalance count reads the cache, not a recomputed DAG
    val nDecon = if (rebalanceRates.isEmpty) nKept else keptCached.count()
    Snapshot.appendBatch(stamped, corpusDir)
    stamped.unpersist()
    if (rebalanceRates.nonEmpty) keptCached.unpersist()
    catalog.recordStatus(batchName, graft.catalog.Status.Processed)

    Result(
      batchName,
      ingested = nKept,
      exactDups = nQuality - nExactNew,
      nearDups = nExactNew - nDeduped,
      rejected = nTotal - nQuality,
      contaminated = nDeduped - nDecon,
      rebalanced = nDecon - nKept)
  }
}
