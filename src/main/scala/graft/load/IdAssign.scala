package graft.load

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** P3 — dense, monotonically increasing surrogate ids resuming from a
  * watermark (reference: `df.insert(0,'id', range(last_id+1, ...))`,
  * `util/data_pushing.py:329-331`).
  *
  * Three strategies behind one stamp (SURVEY.md §7.4 item 1):
  *  - [[denseIdsWindow]]: `row_number()` over a global order — exact semantic
  *    match, but the window collapses to ONE partition; fine for
  *    reference-scale batches (~10⁷ rows), wrong at 100 TB.
  *  - [[denseIds]]: range-repartition (a sampling job), sort, then
  *    per-partition offsets — no single-partition bottleneck; the general
  *    scale path for any order columns.
  *  - [[dedupDenseIdsByHash]]: the landing path's J1 and ids in hash order
  *    over ONE exchange with no sample, for a column of hex digests.
  */
object IdAssign {

  /** Scalable dense ids: range-repartition by the order columns (so ids follow
    * the global order), then per-partition offsets ([[stamp]]).
    */
  def denseIds(
      df: DataFrame,
      offset: Long,
      orderCols: Seq[String],
      idCol: String = "id"): DataFrame = {
    val sorted =
      if (orderCols.isEmpty) df
      else df.repartitionByRange(orderCols.map(col): _*).sortWithinPartitions(orderCols.map(col): _*)
    stamp(sorted, offset, idCol, distinctOn = None)
  }

  /** J1 (any-wins) and dense ids in `hashCol` order, over one exchange that
    * runs no sampling job. `hashCol` holds hex digests (md5): their leading
    * 16 bits are uniform, so `prefix * n / 65536` spreads rows evenly over
    * `numPartitions` partitions, and partition order is hash order. After
    * the exchange each partition is sorted by the hash, so equal hashes are
    * adjacent and [[stamp]] keeps the first of each run (the rows are exact
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
    val sorted = df.repartitionById(numPartitions, part).sortWithinPartitions(col(hashCol))
    stamp(sorted, offset, idCol, distinctOn = Some(sorted.schema.fieldIndex(hashCol)))
  }

  /** Prepend `offset + global position` to each row of `sorted`, whose
    * partitions are in the global order; with `distinctOn`, a row whose
    * string at that ordinal equals the previous row's is dropped first.
    * Both passes run over the INTERNAL row RDD (the [[graft.operators
    * .GlobalRank]] stamp shape; the shuffle's files are reused between
    * them), so no row is converted to an external Row and back. Pass 1
    * counts the rows of every partition but the last (the last one's
    * size moves no id; a one-partition batch runs no count job); pass 2
    * prepends `offset(partition) + local position`. The prepended struct
    * and the JoinedRow are reused per partition — the standard SparkPlan
    * output contract.
    */
  private def stamp(sorted: DataFrame, offset: Long, idCol: String, distinctOn: Option[Int]): DataFrame = {
    val rdd = graft.operators.Lineage.internalRdd(sorted)
    val rows: Iterator[InternalRow] => Iterator[InternalRow] =
      distinctOn.fold((it: Iterator[InternalRow]) => it)(ord => distinctAdjacent(_, ord))
    val last = rdd.getNumPartitions - 1
    val sizes =
      if (last <= 0) Array.empty[Long]
      else sorted.sparkSession.sparkContext.runJob(
        rdd, (it: Iterator[InternalRow]) => rows(it).size.toLong, 0 until last)
    val offsets = sizes.scanLeft(offset)(_ + _)
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var i = offsets(pid)
      val prepended = new GenericInternalRow(1)
      val joined = new JoinedRow
      rows(it).map { r =>
        i += 1
        prepended.update(0, i)
        joined(prepended, r): InternalRow
      }
    }
    val outSchema = StructType(StructField(idCol, LongType, nullable = false) +: sorted.schema.fields)
    graft.operators.Lineage.internalDataFrame(sorted.sparkSession, stamped, outSchema)
  }

  /** The rows of `it` whose string at `ord` differs from the previous
    * row's (nulls equal each other, as in `dropDuplicates`). The previous
    * value is copied: a sorted partition's rows are views into the
    * sorter's reused buffers.
    */
  private def distinctAdjacent(it: Iterator[InternalRow], ord: Int): Iterator[InternalRow] = {
    var started = false
    var prev: UTF8String = null
    it.filter { r =>
      val h = if (r.isNullAt(ord)) null else r.getUTF8String(ord)
      val fresh = !started || h != prev
      if (fresh) { started = true; prev = if (h == null) null else h.clone() }
      fresh
    }
  }

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
