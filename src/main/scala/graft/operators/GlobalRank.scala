package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed global ranking — `row_number`/`rank`/`ntile`/`percent_rank`/
  * `cume_dist` and exclusive running totals over a WHOLE table without the
  * single-partition `Window.orderBy(...)` plan (an empty PARTITION BY
  * collapses every row into one window partition: one task sorts 100 TB —
  * the scale-killer [[graft.load.IdAssign.denseIdsWindow]] documents).
  *
  * Every stamp here, and the landing path's dense ids ([[graft.load.IdAssign]]),
  * is ONE two-pass prefix stamp ([[stamp]]) over rows laid out so partition
  * p holds rows ordered before partition p+1. Every rank statistic is
  * arithmetic over (row_number, total): `rank = min row_number over the
  * tied group`, `percent_rank = (rank−1)/(N−1)`, `cume_dist = (max
  * row_number over the tied group)/N`, `ntile(k)` from row_number and N
  * with the standard SQL first-`N mod k`-buckets-get-one-extra fill.
  */
object GlobalRank {

  /** What [[stamp]] does with a row whose key equals the previous row's:
    * stamp it (Allow), fail because the caller promised a total order
    * (Fail), or skip it in both passes so positions stay dense (Drop).
    */
  private[graft] sealed trait Ties
  private[graft] object Ties {
    case object Allow extends Ties
    case object Fail extends Ties
    case object Drop extends Ties
  }

  /** Order-key cell copied out of a (possibly reused) InternalRow buffer
    * and normalized for equality: UTF8String/array/struct values alias the
    * row's bytes and MUST be cloned before being held across rows; binary
    * comes back as `Array[Byte]`, whose `==` is reference equality — two
    * tied md5 keys in different rows would compare unequal and slip past
    * the tie guard.
    */
  private def normKeyCell(v: Any): Any = v match {
    case a: Array[Byte] => a.toSeq
    case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
    case s: InternalRow => s.copy()
    case ad: org.apache.spark.sql.catalyst.util.ArrayData => ad.copy()
    case d: org.apache.spark.sql.types.Decimal => d.toBigDecimal
    case x => x
  }

  private def requireFresh(df: DataFrame, cols: String*): Unit =
    for (c <- cols)
      require(
        !df.columns.contains(c),
        s"GlobalRank: output column '$c' already exists in the input —" +
          " withColumn would replace it in place while the stamped schema appends," +
          " corrupting row arity; pass a different output column name")

  /** Range-repartition on `orderCols`, sorted within partitions. A
    * RangePartitioner never splits EQUAL keys across partitions, so tied
    * rows are adjacent in one partition: [[stamp]]'s tie check is complete.
    */
  private[graft] def rangeSorted(df: DataFrame, orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "global ranking needs at least one order column")
    df.repartitionByRange(orderCols.map(col): _*).sortWithinPartitions(orderCols.map(col): _*)
  }

  /** The two-pass prefix stamp. `layout` orders the rows of `df` by
    * partition (p before p+1, each sorted by `keys`). The result appends,
    * each only when named: `rnCol` (`start` + 1-based position), `value`'s
    * output column (the EXCLUSIVE running total of its input column, cast to
    * long, null as 0) and `nCol` (the total row count). `ties` rules a row
    * whose `keys` equal the previous row's (nulls equal each other).
    *
    * Pass 1 ships per-partition (rows, value sum) to the driver: every
    * partition when the total is emitted, else all but the last (its size
    * moves no offset, so a one-partition frame runs no count job). Pass 2
    * stamps `offset(partition) + local position`. Both run over the INTERNAL
    * row RDD, reusing the exchange's files, so no row is converted to an
    * external Row; the appended row and the JoinedRow are reused per
    * partition (the SparkPlan output contract: consumers copy to buffer).
    */
  private[graft] def stamp(
      df: DataFrame,
      layout: DataFrame => DataFrame,
      keys: Seq[String],
      ties: Ties,
      start: Long = 0L,
      rnCol: Option[String] = None,
      value: Option[(String, String)] = None,
      nCol: Option[String] = None): DataFrame = {
    val outCols = rnCol.toSeq ++ value.map(_._2) ++ nCol
    requireFresh(df, outCols: _*)
    val valTmp = "_gr_stamp_val"
    val sorted = layout(value.fold(df) { case (valueCol, _) =>
      require(!df.columns.contains(valTmp), s"GlobalRank: reserved column $valTmp in input")
      df.withColumn(valTmp, coalesce(col(valueCol).cast("long"), lit(0L)))
    })
    val rdd = Lineage.internalRdd(sorted)
    val vIdx = if (value.isDefined) sorted.schema.fieldIndex(valTmp) else -1
    val keyIdx = keys.map(sorted.schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(i => sorted.schema(i).dataType)
    val keyNames = keys.mkString("(", ",", ")")
    // the rows of one partition under a tie rule; pass 1 only needs Drop's
    // filter (a broken Fail promise is caught once, in pass 2)
    def kept(it: Iterator[InternalRow], rule: Ties): Iterator[InternalRow] =
      if (rule == Ties.Allow) it
      else {
        var prev: Seq[Any] = null
        it.filter { r =>
          val key = keyIdx.indices.map(k => normKeyCell(r.get(keyIdx(k), keyTypes(k))))
          val repeat = prev != null && prev == key
          if (repeat && rule == Ties.Fail)
            throw new IllegalStateException(
              s"GlobalRank: order key $keyNames = ${key.mkString("(", ",", ")")} is duplicated," +
                " but tiesPossible=false — ranks and running totals would be nondeterministic;" +
                " pass tiesPossible=true or append a unique tie-break column")
          prev = key
          !repeat
        }
      }
    // pass 1: per-partition (rows, value sum) — O(partitions) pairs
    val countRule = if (ties == Ties.Drop) Ties.Drop else Ties.Allow
    val counted = if (nCol.isDefined) rdd.getNumPartitions else rdd.getNumPartitions - 1
    val stats =
      if (counted <= 0) Array.empty[(Long, Long)]
      else sorted.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        var n = 0L; var s = 0L
        kept(it, countRule).foreach { r => n += 1; if (vIdx >= 0) s += r.getLong(vIdx) }
        (n, s)
      }, 0 until counted)
    val offsets = stats.scanLeft((start, 0L)) { case ((n0, s0), (n, s)) => (n0 + n, s0 + s) }
    val total = offsets.last._1 - start
    val rnAt = if (rnCol.isDefined) 0 else -1
    val cumAt = if (value.isDefined) rnAt + 1 else -1
    // pass 2: stamp behind the same reused exchange
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var (rn, acc) = offsets(pid)
      val appended = new GenericInternalRow(outCols.length)
      if (nCol.isDefined) appended.update(outCols.length - 1, total)
      val joined = new JoinedRow
      kept(it, ties).map { r =>
        rn += 1
        if (rnAt >= 0) appended.update(rnAt, rn)
        if (cumAt >= 0) { appended.update(cumAt, acc); acc += r.getLong(vIdx) }
        joined(r, appended): InternalRow
      }
    }
    val outSchema = StructType(sorted.schema.fields ++ outCols.map(StructField(_, LongType, nullable = false)))
    val out = Lineage.internalDataFrame(sorted.sparkSession, stamped, outSchema)
    if (value.isDefined) out.drop(valTmp) else out
  }

  /** `df` + `rnCol` (1-based global row_number, long) + `nCol` (total rows,
    * long), ordered by `orderCols`. Row order within ties follows the sort's
    * (stable) placement, so make `orderCols` a TOTAL order (append a unique
    * tie-break) whenever downstream math assumes `row_number == rank`;
    * `failOnTies` makes a broken promise fail LOUDLY, not silently misrank.
    */
  def withRowNumber(
      df: DataFrame,
      orderCols: Seq[String],
      rnCol: String = "_rn",
      nCol: String = "_n",
      failOnTies: Boolean = false): DataFrame =
    stamp(df, rangeSorted(_, orderCols), orderCols, if (failOnTies) Ties.Fail else Ties.Allow,
      rnCol = Some(rnCol), nCol = Some(nCol))

  /** [[withRowNumber]] and [[withRunningTotal]] FUSED over one order:
    * when a caller needs both the global rank AND the exclusive prefix
    * sum of the same ordering (token-budget selection does), two
    * separate stamps would range-shuffle the same projection twice.
    * This pays one range exchange and one stamp. Ties fail loudly (both
    * outputs are meaningless under a non-total order).
    */
  def withRowNumberAndRunningTotal(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      rnCol: String = "_rn",
      cumCol: String = "_cum"): DataFrame =
    stamp(df, rangeSorted(_, orderCols), orderCols, Ties.Fail,
      rnCol = Some(rnCol), value = Some(valueCol -> cumCol))

  /** Distributed EXCLUSIVE prefix sum of `valueCol` in `orderCols` order —
    * the running-total twin of [[withRowNumber]], and the primitive behind
    * sequence packing (concat-then-split bin assignment) and token-budget
    * selection, without the one-task `sum over (ORDER BY …)` window.
    * `orderCols` must be a total order; a tie fails loudly.
    */
  def withRunningTotal(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      outCol: String = "_cum"): DataFrame =
    stamp(df, rangeSorted(_, orderCols), orderCols, Ties.Fail, value = Some(valueCol -> outCol))

  /** SQL-standard `ntile(buckets)` from (row_number, total): the first
    * `N mod k` buckets take `ceil(N/k)` rows, the rest `floor(N/k)`.
    */
  def ntileCol(rn: Column, n: Column, buckets: Int): Column = {
    require(buckets > 0, "ntile needs a positive bucket count")
    // Spark's `/` is double division even on longs; floor+cast keeps the
    // math integral (exact to 2^53 rows — comfortably past 100 TB counts)
    val k = lit(buckets.toLong)
    val q = floor(n / k).cast("long")
    val r = n % k
    val cut = r * (q + 1)
    when(rn <= cut, floor((rn - 1) / (q + 1)).cast("long") + 1)
      .otherwise(r + floor((rn - 1 - cut) / q).cast("long") + 1)
  }

  /** `df` + an ntile bucket column, no single-partition window. */
  def ntile(
      df: DataFrame,
      orderCols: Seq[String],
      buckets: Int,
      outCol: String = "bucket"): DataFrame =
    withRowNumber(df, orderCols)
      .withColumn(outCol, ntileCol(col("_rn"), col("_n"), buckets))
      .drop("_rn", "_n")

  /** `df` + `percent_rank` (`prkCol`) and `cume_dist` (`cdCol`) columns.
    *
    * With `tiesPossible = true` (default) tied groups are resolved exactly —
    * one extra aggregate+join keyed on `orderCols` computes each group's
    * min/max row_number (SQL rank / cume_dist numerator). Pass `false` when
    * `orderCols` is already a total order (unique tie-break column present)
    * to skip that join: `rank == row_number` then.
    */
  def rankRatios(
      df: DataFrame,
      orderCols: Seq[String],
      prkCol: String = "percent_rank",
      cdCol: String = "cume_dist",
      tiesPossible: Boolean = true): DataFrame = {
    // Tie path: a RangePartitioner cannot split EQUAL keys across
    // partitions, so a heavily repeated order value (rank by language,
    // status, …) would pile onto one partition. Appending a deterministic
    // content-hash spreader to the range keys splits tied rows across
    // partitions; row_number within a tie group becomes arbitrary-but-
    // deterministic, and the min/max bounds join below restores the EXACT
    // SQL rank/cume_dist regardless of that placement. (Without ties the
    // order is total and needs no spreader.) The ranked output feeds two
    // plan branches (probe + bounds aggregate); the range exchange is
    // reused across both, so the recompute is the in-partition sort only.
    val ranked =
      if (!tiesPossible) withRowNumber(df, orderCols, failOnTies = true)
      else {
        val spread = "_tiespread"
        withRowNumber(
          df.withColumn(
            spread,
            pmod(graft.functions.ContentHash.stableRowHash(df), lit(1024L))),
          orderCols :+ spread).drop(spread)
      }
    val withBounds =
      if (!tiesPossible) {
        ranked.withColumn("_rkmin", col("_rn")).withColumn("_rkmax", col("_rn"))
      } else {
        // null-SAFE join: a NULL order value is a legitimate rank group
        // (SQL sorts it first); a plain equi-join would silently drop those
        // rows from the output
        val bounds = ranked
          .groupBy(orderCols.map(col): _*)
          .agg(min(col("_rn")).as("_rkmin"), max(col("_rn")).as("_rkmax"))
          .select(orderCols.map(c => col(c).as(s"_b_$c")) ++
            Seq(col("_rkmin"), col("_rkmax")): _*)
        val cond = orderCols.map(c => col(c) <=> col(s"_b_$c")).reduce(_ && _)
        ranked.join(bounds, cond).drop(orderCols.map(c => s"_b_$c"): _*)
      }
    withBounds
      .withColumn(
        prkCol,
        when(col("_n") === 1, lit(0.0))
          .otherwise((col("_rkmin") - 1).cast("double") / (col("_n") - 1).cast("double")))
      .withColumn(cdCol, col("_rkmax").cast("double") / col("_n").cast("double"))
      .drop("_rn", "_n", "_rkmin", "_rkmax")
  }
}
