package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering keys — the data-LAYOUT lever for
  * multi-dimensional scans: interleaving the bits of two sort dimensions
  * gives one key whose total order keeps BOTH dimensions locally clustered,
  * so `repartitionByRange(zkey) + sortWithinPartitions(zkey)` before a
  * parquet write (e.g. [[graft.load.Snapshot.appendBatchClustered]] with the
  * key column) produces row groups whose min/max statistics are tight on
  * both columns at once — a filter on EITHER dimension prunes row groups,
  * where a plain lexicographic sort only serves its leading column.
  *
  * The key is a pure bit-arithmetic projection (shift/and/or — exact
  * integers, engine-portable), computed per row with no shuffle of its own.
  */
object ZOrder {

  /** 32-bit Morton key from the LOW 16 bits of each of two non-negative
    * dimension columns (callers bucket/clamp wider domains first — e.g.
    * `pmod(col, lit(1 << 16))` or a range-rank). Bit i of x lands at 2i,
    * bit i of y at 2i+1; the terms occupy disjoint bits so their sum IS the
    * bitwise OR.
    */
  def mortonKey16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Zone-map effectiveness audit: how well would file-level min/max
    * statistics on `keyCol` prune a table laid out in `orderCols` order?
    *
    * The table is cut into `chunks` equal files-in-spirit (SQL-standard
    * ntile over the physical order — [[GlobalRank.ntile]], so no
    * single-partition window), each chunk records its key min/max "zone
    * map", and each chunk's DEPTH is the number of chunks (itself included)
    * whose key range overlaps its own — exactly the "average depth of
    * overlapping files" metric clustering services (e.g. the OPTIMIZE
    * ZORDER literature) report. Depth 1 everywhere = perfectly clustered
    * (a point lookup on `keyCol` reads one file); depth ≈ `chunks` = the
    * layout is useless for skipping on this key.
    *
    * Output: one row per chunk — `chunk`, `n_rows`, `min_key`, `max_key`,
    * `depth`. Callers aggregate avg/max depth as needed.
    *
    * Scale shape: the ntile is one range exchange (GlobalRank); the audit
    * itself aggregates to `chunks` rows and the overlap join is
    * chunks×chunks driver-trivial work — at a real 100 TB layout audit,
    * `chunks` is the FILE count (10⁴–10⁵), still a broadcast-sized
    * self-join.
    */
  def skippingDepth(
      df: org.apache.spark.sql.DataFrame,
      orderCols: Seq[String],
      keyCol: String,
      chunks: Int): org.apache.spark.sql.DataFrame = {
    require(chunks >= 1, s"chunks=$chunks must be >= 1")
    val zones = GlobalRank.ntile(df, orderCols, chunks, "_chunk")
      .groupBy(col("_chunk"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        min(col(keyCol)).as("min_key"),
        max(col(keyCol)).as("max_key"))
    val other = zones.select(
      col("_chunk").as("_c2"), col("min_key").as("_mn2"), col("max_key").as("_mx2"))
    zones.join(broadcast(other),
        col("min_key") <= col("_mx2") && col("_mn2") <= col("max_key"))
      .groupBy(col("_chunk").as("chunk"), col("n_rows"), col("min_key"), col("max_key"))
      .agg(count(lit(1)).cast("long").as("depth"))
  }

  /** [[skippingDepth]] for SEVERAL candidate layouts over one table in
    * ONE range exchange — the layout-advisor shape: scoring three sort
    * orders as three separate ntile stamps range-shuffles the same rows
    * three times and pays three driver count passes. Here each layout
    * contributes a branch (layout label + its order tuple, key columns
    * cast to long and right-padded with 0 — every layout's order must
    * already be total, so the pad never decides placement) to one UNION,
    * and a single [[GlobalRank.withRowNumber]] over (layout, k1…kP)
    * ranks every layout at once: layout blocks are contiguous in that
    * order, so each row's per-layout rank is `rn − min(rn over layout)
    * + 1` via a #layouts-row broadcast join-back, and
    * [[GlobalRank.ntileCol]] over (per-layout rank, per-layout count)
    * equals the per-layout ntile exactly. Same total shuffled bytes as
    * the three separate stamps, one exchange and one count pass instead
    * of three of each.
    *
    * Output: [[skippingDepth]]'s row per (layout, chunk) with a leading
    * `layout` column. Order columns must be Byte/Short/Int/Long (the long
    * cast must preserve their order); any other type is rejected.
    */
  def skippingDepthMulti(
      df: org.apache.spark.sql.DataFrame,
      layouts: Seq[(String, Seq[String])],
      keyCol: String,
      chunks: Int): org.apache.spark.sql.DataFrame = {
    require(chunks >= 1, s"chunks=$chunks must be >= 1")
    require(layouts.nonEmpty, "need at least one layout")
    require(layouts.map(_._1).distinct.size == layouts.size, "duplicate layout label")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    for ((label, ord) <- layouts; c <- ord) require(
      Seq(ByteType, ShortType, IntegerType, LongType).contains(df.schema(c).dataType),
      s"layout $label: order column $c is ${df.schema(c).dataType.simpleString}, not integral")
    val p = layouts.map(_._2.size).max
    val branches = layouts.map { case (label, ord) =>
      df.select(
        lit(label).as("_layout") +:
          (0 until p).map(i =>
            (if (i < ord.size) col(ord(i)).cast("long") else lit(0L)).as(s"_k$i")) :+
          col(keyCol): _*)
    }
    val ranked = GlobalRank.withRowNumber(
      branches.reduce(_ unionByName _),
      "_layout" +: (0 until p).map(i => s"_k$i"))
    val bounds = ranked.groupBy(col("_layout"))
      .agg(min(col("_rn")).as("_rn0"), count(lit(1)).cast("long").as("_ln"))
    val zones = ranked.join(broadcast(bounds), Seq("_layout"))
      .withColumn("_chunk",
        GlobalRank.ntileCol(col("_rn") - col("_rn0") + 1L, col("_ln"), chunks))
      .groupBy(col("_layout"), col("_chunk"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        min(col(keyCol)).as("min_key"),
        max(col(keyCol)).as("max_key"))
    val other = zones.select(
      col("_layout").as("_l2"), col("_chunk").as("_c2"),
      col("min_key").as("_mn2"), col("max_key").as("_mx2"))
    zones.join(broadcast(other),
        col("_layout") === col("_l2") &&
          col("min_key") <= col("_mx2") && col("_mn2") <= col("max_key"))
      .groupBy(col("_layout").as("layout"), col("_chunk").as("chunk"),
        col("n_rows"), col("min_key"), col("max_key"))
      .agg(count(lit(1)).cast("long").as("depth"))
  }

  /** Workload-aware data-skipping score: for each predicate range
    * `[lo, hi]` (inclusive, on `keyCol`), how many of the layout's chunk
    * zone maps must be SCANNED (range intersects the predicate) vs
    * skipped? The [[skippingDepth]] audit scores the layout in the
    * abstract; this scores it against the query ranges you actually run —
    * the number a table-layout service optimizes before rewriting
    * 100 TB.
    *
    * Output: one row per predicate — `pred_id` (input order), `lo`, `hi`,
    * `n_scanned`, `scan_frac_micro` (`n_scanned·1e6 div chunks`, exact).
    *
    * Predicates ship as a literal inline table (workloads are small); the
    * chunk zone maps come from the same GlobalRank ntile pass, so the
    * fact table is scanned once.
    */
  def workloadSkipScore(
      df: org.apache.spark.sql.DataFrame,
      orderCols: Seq[String],
      keyCol: String,
      chunks: Int,
      predicates: Seq[(Long, Long)]): org.apache.spark.sql.DataFrame = {
    require(chunks >= 1, s"chunks=$chunks must be >= 1")
    require(predicates.nonEmpty, "workloadSkipScore needs at least one predicate")
    val zones = GlobalRank.ntile(df, orderCols, chunks, "_chunk")
      .groupBy(col("_chunk"))
      .agg(min(col(keyCol)).as("_mn"), max(col(keyCol)).as("_mx"))
    val spark = df.sparkSession
    import spark.implicits._
    val preds = predicates.zipWithIndex
      .map { case ((lo, hi), i) => (i.toLong, lo, hi) }
      .toDF("pred_id", "lo", "hi")
    preds.join(broadcast(zones),
        col("lo") <= col("_mx") && col("_mn") <= col("hi"), "left")
      .groupBy(col("pred_id"), col("lo"), col("hi"))
      .agg(sum(when(col("_chunk").isNotNull, 1L).otherwise(0L)).as("n_scanned"))
      .withColumn("scan_frac_micro", expr(s"(n_scanned * 1000000L) div ${chunks}L"))
  }
}
