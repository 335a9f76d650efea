package graft

import graft.catalog.Catalog
import graft.pipeline.CorpusPipeline

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def mkPipe() = {
    val root = tmpDir("corpus")
    val cat = new Catalog(spark, s"$root/catalog")
    (root, cat, new CorpusPipeline(spark, cat, s"$root/corpus", minQualityTokens = 3, nearDupJaccard = 0.7))
  }

  private val longA = "the quick brown fox jumps over the lazy dog near the river bank every single day"

  test("batch 1: quality gate, exact dedup, near-dup, annotations") {
    val (root, _, pipe) = mkPipe()
    val b1 = Seq(
      (1L, longA),
      (2L, longA), // exact dup of 1
      (3L, longA + " tonight"), // near-dup of 1
      (4L, "el perro de la casa es una maravilla de verdad dice la gente"),
      (5L, "too short")) // fails quality gate (< 3 tokens)
      .toDF("doc_id", "text")
    val r = pipe.processBatch(b1, "batch_001")
    assert(r.rejected == 1)
    assert(r.exactDups == 1)
    assert(r.nearDups == 1)
    assert(r.ingested == 2) // docs 1 and 4

    val corpus = spark.read.parquet(s"$root/corpus")
    assert(corpus.count() == 2)
    val langs = corpus.select("doc_id", "lang_guess").as[(Long, String)].collect().toMap
    assert(langs(1L) == "en" && langs(4L) == "es")
    assert(corpus.columns.contains("text_hash") && corpus.columns.contains("batch_name"))
  }

  test("batch 2: cross-corpus exact + fingerprint dedup, batch idempotency") {
    val (root, _, pipe) = mkPipe()
    val b1 = Seq((1L, longA)).toDF("doc_id", "text")
    assert(pipe.processBatch(b1, "b1").ingested == 1)

    val b2 = Seq(
      (10L, longA), // exact dup of corpus doc
      (11L, "fox quick the brown jumps over the lazy dog near the river bank every single day"), // shuffled tokens: same bag fingerprint
      (12L, "der hund und die katze ist ein tier im haus sagt man oft"))
      .toDF("doc_id", "text")
    val r2 = pipe.processBatch(b2, "b2")
    assert(r2.exactDups == 1)
    assert(r2.nearDups == 1) // bag-fingerprint cross-corpus match
    assert(r2.ingested == 1) // only the German doc

    // same batch name again: no-op
    assert(pipe.processBatch(b2, "b2").ingested == 0)
    assert(spark.read.parquet(s"$root/corpus").count() == 2)
  }

  test("near-dup chains keep exactly one canonical doc (component, not pairwise)") {
    val (root, cat, _) = (tmpDir("corpuschain"), null, null)
    val catalog = new Catalog(spark, s"$root/catalog")
    val pipe = new CorpusPipeline(spark, catalog, s"$root/corpus",
      minQualityTokens = 3, nearDupJaccard = 0.5)
    // a ~ b and b ~ c but a !~ c directly: clustering must still fold all
    // three into one canonical doc
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = Seq(
      (1L, base),
      (2L, base + " lambda mu nu xi"), // ~ 1
      (3L, base + " lambda mu nu xi omicron pi rho sigma tau")) // ~ 2, weaker vs 1
      .toDF("doc_id", "text")
    val r = pipe.processBatch(b, "chain")
    val kept = spark.read.parquet(s"$root/corpus").select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L))
    assert(r.ingested == kept.size.toLong)
    assert(kept.size < 3) // at minimum the adjacent near-dups folded
  }

  test("decontamination stage drops benchmark-overlapping docs; split column appended") {
    val root = tmpDir("corpusdecon")
    val catalog = new Catalog(spark, s"$root/catalog")
    val bench = Seq((100L, "secret benchmark question about spark internals today")).toDF("doc_id", "text")
    val pipe = new CorpusPipeline(spark, catalog, s"$root/corpus",
      minQualityTokens = 3, benchmark = Some(bench))
    val batch = Seq(
      (1L, "prefix secret benchmark question about spark internals today suffix"), // contaminated
      (2L, "a completely unrelated document with plenty of distinct tokens here"))
      .toDF("doc_id", "text")
    val r = pipe.processBatch(batch, "b1")
    assert(r.contaminated == 1 && r.ingested == 1)
    val corpus = spark.read.parquet(s"$root/corpus")
    assert(corpus.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    assert(corpus.columns.contains("split"))
    assert(Set("train", "val", "test").contains(corpus.select("split").as[String].head()))
  }

  test("rebalanceRates downsamples the named stratum and audits it separately") {
    val root = tmpDir("corpusrb")
    val cat = new Catalog(spark, s"$root/catalog")
    val pipe = new CorpusPipeline(spark, cat, s"$root/corpus",
      minQualityTokens = 3, rebalanceRates = Map("en" -> 0.25))
    // lexically diverse (every 3-shingle carries per-doc tokens, so no doc
    // pair survives the Jaccard near-dup gate) yet stopword-voted English
    val docs = (1L to 400L).map { i =>
      val body = (1 to 10).map(k => s"the w${i}x$k and v${i}y$k of z${i}q$k").mkString(" ")
      (i, body)
    }.toDF("doc_id", "text")
    val r = pipe.processBatch(docs, "b1")
    assert(r.contaminated == 0)
    assert(r.rebalanced > 200 && r.rebalanced < 350) // ~75% of the en stratum dropped
    assert(r.ingested == 400 - r.rebalanced)
    assert(spark.read.parquet(s"$root/corpus").count() == r.ingested)
  }
}
