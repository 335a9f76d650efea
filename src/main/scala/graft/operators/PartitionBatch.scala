package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The partition-batch shape of the codec, WARC and tar operators: one
  * function over each partition's rows (a decoder or encoder is set up once
  * per partition and amortized over its rows — the Scala analog of a
  * pandas-batch UDF) with a declared output schema. Every such operator
  * goes through [[mapPartitions]], so moving the family to internal rows or
  * to a logical node is a change to this one function.
  */
object PartitionBatch {

  /** `f` over each partition of `df`'s rows, as a frame of `schema`. The
    * rows are external on both sides (`df.rdd`, then `createDataFrame`):
    * one conversion per row each way, and the plan above is a scan of an
    * RDD, so nothing below it is column-pruned.
    */
  def mapPartitions(df: DataFrame, schema: StructType)(
      f: Iterator[Row] => Iterator[Row]): DataFrame = {
    val rdd = df.rdd.mapPartitions(f)
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Hash-repartition `df` on `key` to the session's shuffle partition
    * count. A small parquet table arrives as ONE input split, and every
    * [[mapPartitions]] chain built on it inherits that layout — the whole
    * CPU-bound codec path then runs on one core. Spread BEFORE the payload
    * bytes exist, so the exchange carries only ids (and any text the
    * bytes are built from). The explicit count makes this a user
    * repartition, so AQE's size-based coalescing (tuned for shuffle bytes,
    * not decode CPU) cannot fold the work back onto one task.
    */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(key))
}
