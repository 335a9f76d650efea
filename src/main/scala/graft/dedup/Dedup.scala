package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The three deduplication joins at the semantic core of the reference
  * (SURVEY.md §2.5), re-expressed as Spark joins.
  *
  * Scale notes (the reference streams Python hash-sets; these are real joins):
  *  - J1 is a shuffle on the hash column — at 100 TB this is one exchange,
  *    AQE-coalesced; no driver-side set.
  *    The ingest pipeline's J1 rides the id stamp's hash-ordered exchange
  *    ([[graft.load.IdAssign.dedupDenseIdsByHash]]).
  *  - J2's build side (prior batches' hashes) broadcasts when small; beyond
  *    `autoBroadcastJoinThreshold` Catalyst falls back to shuffled hash /
  *    sort-merge automatically. The reference's per-prior-file loop collapses
  *    into ONE anti-join against the union of prior hashes.
  *  - J3 prunes the build side to the batch's id range (or, for ids stamped
  *    from a watermark, to ids above it) BEFORE the join, so the probe of a
  *    100 TB target table reads only the overlapping id range (parquet
  *    min/max row-group skipping makes the pruned scan cheap).
  */
object Dedup {

  /** J1 — intra-batch dedup, first-wins by `orderCol` (the reference keeps the
    * first occurrence in file order, `util/data_processing.py:396-524`).
    * One shuffle on `hashCol`; whole-stage-codegen window.
    */
  def selfDedupFirstWins(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** J1 variant — any-wins (observationally equivalent when duplicates are
    * exact copies; cheaper: partial-aggregate dedup, map-side combine).
    */
  def selfDedupAnyWins(df: DataFrame, hashCol: String): DataFrame =
    df.dropDuplicates(hashCol)

  /** J2 — cross-batch dedup: keep rows whose hash is absent from prior batches.
    * `prior` may be the union of all previous batches or the target table
    * itself; only its hash column is shipped to the join.
    */
  def antiJoinPrior(df: DataFrame, prior: DataFrame, hashCol: String): DataFrame =
    df.join(prior.select(hashCol), Seq(hashCol), "left_anti")

  /** J3 — re-insert guard: drop batch rows whose id already exists in the
    * target, pruning the target scan to the batch's id range first
    * (reference: `prevent_id_duplicate`, `util/data_pushing.py:115-166`,
    * including the empty-target fast path).
    */
  def idGuard(batch: DataFrame, target: DataFrame, idCol: String = "id"): DataFrame = {
    // One driver job (batch min/max), then one join job. The bounds are
    // collected eagerly ON PURPOSE: as literals they push into the target
    // scan (PushedFilters → parquet row-group skipping), which is what makes
    // probing a 100 TB target affordable. An empty target needs no special
    // case — the anti-join is then the identity (the reference's fast path,
    // `util/data_pushing.py:125-131`, is only observable in its logs).
    val bounds = batch.agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx")).head()
    if (bounds.isNullAt(0)) batch
    else antiJoinIds(batch, target, idCol,
      col(idCol).between(bounds.getAs[Any]("mn"), bounds.getAs[Any]("mx")))
  }

  /** J3 for a batch whose ids are all known to exceed `floor` (ids stamped
    * from a watermark): the same rows as [[idGuard]], and the same literal
    * pushed into the target scan, without the bounds job.
    */
  def idGuardAbove(batch: DataFrame, target: DataFrame, floor: Long, idCol: String = "id"): DataFrame =
    antiJoinIds(batch, target, idCol, col(idCol) > floor)

  private def antiJoinIds(batch: DataFrame, target: DataFrame, idCol: String, range: Column) =
    batch.join(target.select(col(idCol)).filter(range), Seq(idCol), "left_anti")
}
