package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.PartitionBatch

/** Spark plumbing for [[TarCodec]]: WebDataset-style shard handling.
  * Shards travel as opaque `binary` columns (one tar per row); samples —
  * the `stem.{txt,cls,json,…}` component groups — explode into one
  * relational row each, which is exactly the access pattern a training
  * loader needs and the shape the rest of the curation pipeline (dedup,
  * quality, tokenization) composes onto. The per-shard grain is ALSO the
  * scale story: a 100 TB corpus is millions of ~100 MB shards, and
  * shard-per-row parallelism is embarrassing by construction.
  */
object Tar {

  val ShardSchema: StructType = StructType(Seq(
    StructField("shard_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** The JSON sidecar of doc `id` — pinned shape, pure function of the row. */
  def jsonBody(id: Long, source: String): String =
    s"""{"id":$id,"source":"$source"}"""

  /** Pack documents into WebDataset-style tar shards of `docsPerShard`
    * (shard = doc_id / docsPerShard): each doc contributes
    * `<id>.txt` (text), `<id>.cls` (lang), `<id>.json` (sidecar), in
    * doc-id order within the shard — byte-deterministic archives.
    */
  def synthesizeShards(df: DataFrame, idCol: String, docsPerShard: Int = 50): DataFrame = {
    // spread after the groupBy: AQE's byte-based coalescing folds the tiny
    // grouped frame onto one task, serializing the CPU-bound tar builds
    // (and the downstream per-shard parse that inherits this layout); the
    // exchange carries the grouped doc structs once, keyed by shard_id
    val src = PartitionBatch.spread(df
      .select(col(idCol).cast("long").as("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("shard_id", expr(s"doc_id div $docsPerShard"))
      .groupBy("shard_id")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"), col("lang"),
        col("source")))).as("docs")), "shard_id")
    PartitionBatch.mapPartitions(src, ShardSchema) { rows =>
      rows.map { r =>
        val shard = r.getLong(0)
        val entries = r.getSeq[Row](1).flatMap { d =>
          val id = d.getLong(0)
          Seq(
            TarCodec.TarEntry(s"$id.txt", '0', d.getString(1).getBytes(UTF_8)),
            TarCodec.TarEntry(s"$id.cls", '0', d.getString(2).getBytes(UTF_8)),
            TarCodec.TarEntry(s"$id.json", '0',
              jsonBody(id, d.getString(3)).getBytes(UTF_8)))
        }
        Row(shard, TarCodec.build(entries))
      }
    }
  }

  /** Explode shards into one row per SAMPLE (WebDataset grouping by
    * basename stem): the `.txt` component decoded, the `.cls` label,
    * component inventory sizes. One parse per shard, samples streamed
    * out inside the mapPartitions batch shape.
    */
  def samples(shards: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("shard_id", LongType, nullable = false),
      StructField("stem", StringType, nullable = false),
      StructField("n_components", LongType, nullable = false),
      StructField("txt", StringType, nullable = true),
      StructField("cls", StringType, nullable = true),
      StructField("json_chars", LongType, nullable = true)))
    val idIdx = shards.schema.fieldIndex("shard_id")
    val payloadIdx = shards.schema.fieldIndex("payload")
    PartitionBatch.mapPartitions(shards, outSchema) { rows =>
      rows.flatMap { r =>
        val shard = r.getLong(idIdx)
        TarCodec.samples(TarCodec.parse(r.getAs[Array[Byte]](payloadIdx))).iterator
          .map { case (stem, comps) =>
            val m = comps.toMap
            Row(shard, stem, comps.size.toLong,
              m.get("txt").map(new String(_, UTF_8)).orNull,
              m.get("cls").map(new String(_, UTF_8)).orNull,
              m.get("json").map(_.length.toLong).orNull)
          }
      }
    }
  }
}
