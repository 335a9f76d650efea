package graft.load

import graft.operators.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** P3 — dense, monotonically increasing surrogate ids resuming from a
  * watermark (reference: `df.insert(0,'id', range(last_id+1, ...))`,
  * `util/data_pushing.py:329-331`).
  *
  * [[denseIdsWindow]] is the exact reference: `row_number()` over a global
  * order, whose window collapses to ONE partition — fine for
  * reference-scale batches (~10⁷ rows), wrong at 100 TB. The scalable paths
  * are both [[graft.operators.GlobalRank]]'s two-pass prefix stamp started
  * at the watermark, under two layouts:
  *  - [[denseIds]]: range-repartition (a sampling job) and sort, for any
  *    order columns.
  *  - [[dedupDenseIdsByHash]]: the landing path's J1 and ids in hash order
  *    over ONE exchange with no sample, for a column of hex digests.
  */
object IdAssign {

  /** Scalable dense ids in `orderCols` order (in the frame's partition
    * order when `orderCols` is empty).
    */
  def denseIds(
      df: DataFrame,
      offset: Long,
      orderCols: Seq[String],
      idCol: String = "id"): DataFrame =
    idFirst(GlobalRank.stamp(
      df, if (orderCols.isEmpty) identity else GlobalRank.rangeSorted(_, orderCols), orderCols,
      GlobalRank.Ties.Allow, start = offset, rnCol = Some(idCol)), idCol)

  /** J1 (any-wins) and dense ids in `hashCol` order, over one exchange that
    * runs no sampling job. `hashCol` holds hex digests (md5): their leading
    * 16 bits are uniform, so `prefix * n / 65536` spreads rows evenly over
    * `numPartitions` partitions, and partition order is hash order. After
    * the exchange each partition is sorted by the hash, so equal hashes are
    * adjacent and the stamp keeps the first of each run (the rows are exact
    * copies: the hash is over their raw fields). The caller sizes
    * `numPartitions`: a pass-through partition id is never coalesced.
    */
  def dedupDenseIdsByHash(
      df: DataFrame,
      offset: Long,
      hashCol: String,
      numPartitions: Int,
      idCol: String = "id"): DataFrame = {
    val prefix = conv(substring(col(hashCol), 1, 4), 16, 10).cast(LongType)
    val part = coalesce(shiftright(prefix * numPartitions, 16).cast("int"), lit(0))
    val byHash = (d: DataFrame) => d.repartitionById(numPartitions, part).sortWithinPartitions(col(hashCol))
    idFirst(GlobalRank.stamp(
      df, byHash, Seq(hashCol), GlobalRank.Ties.Drop, start = offset, rnCol = Some(idCol)), idCol)
  }

  /** The id column moved to the front, where the reference inserts it. */
  private def idFirst(stamped: DataFrame, idCol: String): DataFrame =
    stamped.select((idCol +: stamped.columns.filter(_ != idCol).toSeq)
      .map(c => col("`" + c.replace("`", "``") + "`")): _*)

  /** Exact single-window variant — use only when the batch is known-small. */
  def denseIdsWindow(
      df: DataFrame,
      offset: Long,
      orderCols: Seq[String],
      idCol: String = "id"): DataFrame = {
    val w = Window.orderBy(orderCols.map(col): _*)
    df.withColumn(idCol, row_number().over(w).cast("long") + lit(offset))
      .select((idCol +: df.columns.toSeq).map(col): _*)
  }
}
