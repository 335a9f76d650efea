package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.catalog.Catalog
import graft.pipeline.Pipeline
import graft.schema.TableSchema

class PipelineStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schema = TableSchema(
    tableName = "mini_campaign_events",
    columnNames = Seq("id", "email", "first_name", "row_hash"),
    columnTypes = Seq("UInt64", "Nullable(String)", "Nullable(String)", "String"),
    stringColumns = Seq("email", "first_name"))

  private val mapping = Map("Email" -> "email", "prénom" -> "first_name")

  test("streaming ingest: AvailableNow drains, dedups, resumes ids across runs") {
    val root = tmpDir("pstream")
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))
    val cat = new Catalog(spark, s"$root/catalog")
    val pipe = new Pipeline(spark, cat, Seq(schema),
      Map("mini_campaign_events" -> mapping), s"$root/warehouse")

    def write(name: String, body: String): Unit =
      Files.write(Paths.get(s"$in/$name"), body.getBytes(StandardCharsets.UTF_8))

    // NOTE: the all-string stream schema is the sorted mapping keys
    write("b1.csv", "Email,prénom\na@x.com,Ana\nb@x.com,Bob\n")
    pipe.runTableStream("mini_campaign_events", in, ckpt)
    val t1 = spark.read.parquet(s"$root/warehouse/mini_campaign_events")
    assert(t1.count() == 2)
    assert(cat.watermark("mini_campaign_events") == 2L)

    // second run: one dup row + one new; checkpoint skips b1 entirely
    write("b2.csv", "Email,prénom\na@x.com,Ana\nc@x.com,Cleo\n")
    pipe.runTableStream("mini_campaign_events", in, ckpt)
    val t2 = spark.read.parquet(s"$root/warehouse/mini_campaign_events")
    assert(t2.count() == 3)
    assert(t2.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(cat.watermark("mini_campaign_events") == 3L)
  }

  test("streaming ingest picks the batch path's rename mapping: longest key in the table name") {
    val root = tmpDir("pstream_map")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/b1.csv"),
      "Email,prénom\na@x.com,Ana\nb@x.com,Bob\n".getBytes(StandardCharsets.UTF_8))
    val renames = Map("events" -> Map("Mail" -> "email"), "campaign_events" -> mapping)
    val pipe = new Pipeline(spark, new Catalog(spark, s"$root/catalog"), Seq(schema),
      renames, s"$root/warehouse")
    pipe.runTableStream("mini_campaign_events", in, s"$root/ckpt")
    val got = spark.read.parquet(s"$root/warehouse/mini_campaign_events")
      .select("email", "first_name").as[(String, String)].collect().sorted.toSeq
    assert(got == Seq(("a@x.com", "Ana"), ("b@x.com", "Bob")))
    // a table no mapping key names fails before the stream starts
    val bare = new Pipeline(spark, new Catalog(spark, s"$root/catalog2"), Seq(schema),
      Map("orders" -> mapping), s"$root/warehouse2")
    val e = intercept[IllegalArgumentException](
      bare.runTableStream("mini_campaign_events", in, s"$root/ckpt2"))
    assert(e.getMessage == "no rename mapping for mini_campaign_events")
  }
}
