package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval-OVERLAP join — "which events fall inside which maintenance
  * windows", "which shipments straddle which audit periods" — the range
  * predicate (`s1 <= e2 AND s2 <= e1`) that a naive spelling plans as a
  * cartesian product: Catalyst has no equi-key to hash on, so BOTH sides
  * replicate to every task and the work is |L|·|R| regardless of how few
  * pairs actually overlap.
  *
  * The scale formulation every range-join implementation uses (bucketed /
  * grid join): quantize the timeline into `grain`-sized buckets, explode
  * each interval to the buckets it spans, equi-join on the bucket id, then
  * re-check the exact predicate. Work becomes Σ spans·matches-per-bucket —
  * output-sized for intervals ≪ `grain` apart — and the join is an
  * ordinary keyed shuffle that partitions across a cluster.
  *
  * Each overlapping pair would surface once PER SHARED BUCKET, so the
  * standard dedup trick is applied instead of a `distinct` shuffle: a pair
  * is emitted only from the single bucket containing the LATER of the two
  * interval starts (`bucket == floor(max(s1, s2) / grain)`) — every
  * overlapping pair has exactly one such bucket, so the join output is
  * exact without a second aggregate.
  *
  * Pick `grain` near the typical interval length: much smaller explodes
  * long intervals into many buckets; much larger packs unrelated intervals
  * into the same bucket (degrading toward the cartesian).
  *
  * HOT BUCKETS (a day every interval touches) — measured mitigations
  * (2M-row hot bucket × 200 windows = 400M pairs through one key;
  * historical, by the removed `graft.Stress` main at local[32], last
  * present at commit 4e7a95a; ScaleOpsSpec pins the salted pairs exact):
  * when the window side broadcasts, the hot rows never shuffle and skew
  * is structurally immune. When both sides are large, AQE's
  * skew-split nominally applies to the bucket key — but it detects skew
  * by COMPRESSED shuffle bytes, and a hot bucket's near-constant rows
  * compress ~100× (2M rows ≈ 200 KB) while the join OUTPUT explodes
  * quadratically, so against ordinary multi-megabyte sibling partitions
  * the hot key is INVISIBLE to byte-based detection at any plausible
  * threshold (measured: no split, single-task grind). `saltBuckets` is
  * the guard that works by construction: left rows spread over S
  * content-hash salts (retry-stable — never position-derived), the right
  * side replicates ×S, and the join key becomes (bucket, salt) — the hot
  * bucket's pair work fans out over S tasks no matter how its bytes
  * compress. Cost: right-side shuffle volume ×S; use when the window
  * side is past broadcast size AND hot buckets are expected.
  *
  * Salt caveat — the salt is CONTENT-derived (xxhash64 over every left
  * column), so left rows that are byte-identical duplicates all land on
  * ONE salt and a hot bucket made of such clones still grinds in a
  * single task. That is the price of retry-stability; if the left input
  * can contain exact duplicate rows at hot keys, include a unique row
  * id column (any pre-existing key, or `monotonically_increasing_id()`
  * materialized BEFORE the join so retries see stable values) so the
  * hash spreads them.
  *
  * Bounds are NON-NEGATIVE LONGS (epoch days/seconds/micros — caller's
  * choice; `div` truncates toward zero, so negative bounds would quantize
  * inconsistently), inclusive on both ends; every comparison is
  * integer-exact.
  */
object IntervalJoin {

  /** Overlapping pairs of `left(lCols*, lStart, lEnd)` ×
    * `right(rCols*, rStart, rEnd)`: all columns of both inputs, one row
    * per pair with `max(lStart, rStart) <= min(lEnd, rEnd)`. Column names
    * must be disjoint. Degenerate (end < start) intervals never match.
    * `saltBuckets > 1` enables the hot-bucket salt guard (see the object
    * doc): identical output, join key widened to (bucket, content salt),
    * right side replicated ×saltBuckets.
    */
  def overlapJoin(
      left: DataFrame,
      lStart: String,
      lEnd: String,
      right: DataFrame,
      rStart: String,
      rEnd: String,
      grain: Long,
      saltBuckets: Int = 1): DataFrame = {
    require(grain >= 1, s"grain=$grain must be >= 1")
    require(saltBuckets >= 1, s"saltBuckets=$saltBuckets must be >= 1")
    require(
      left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "left/right column names must be disjoint")
    val reserved = Set("_bkt", "_bkt2", "_salt", "_salt2")
    require(
      !(left.columns ++ right.columns).exists(reserved),
      s"column names ${reserved.mkString(", ")} are reserved by overlapJoin")
    def buckets(df: DataFrame, s: String, e: String): DataFrame = df
      .filter(col(s) <= col(e))
      .withColumn(
        "_bkt",
        explode(sequence(
          expr(s"$s div ${grain}L"),
          expr(s"$e div ${grain}L"))))
    val exact =
      greatest(col(lStart), col(rStart)) <= least(col(lEnd), col(rEnd)) &&
        col("_bkt") === expr(s"greatest($lStart, $rStart) div ${grain}L")
    val lb = buckets(left, lStart, lEnd)
    val rb = buckets(right, rStart, rEnd).withColumnRenamed("_bkt", "_bkt2")
    if (saltBuckets == 1) {
      lb.join(rb, col("_bkt") === col("_bkt2"))
        .filter(exact)
        .drop("_bkt", "_bkt2")
    } else {
      // content-derived salt (retry-stable — a position-derived salt would
      // re-bucket rows on stage retry, the SPARK-23207 class of bugs)
      val lbs = lb.withColumn(
        "_salt", pmod(xxhash64(left.columns.map(col): _*), lit(saltBuckets.toLong)))
      val rbs = rb.withColumn(
        "_salt2", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
      lbs.join(rbs, col("_bkt") === col("_bkt2") && col("_salt") === col("_salt2"))
        .filter(exact)
        .drop("_bkt", "_bkt2", "_salt", "_salt2")
    }
  }
}
