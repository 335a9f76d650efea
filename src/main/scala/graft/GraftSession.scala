package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Central SparkSession factory — every entry point (Verify, Bench, tests,
  * pipeline mains) builds its session here so scale-sensitive settings are
  * applied uniformly.
  *
  * Tuned for the harness's local[32] single-JVM mode, but every setting is the
  * one you would also want on a 1000-executor cluster: AQE on (runtime skew /
  * coalesce handling), shuffle partitions sized to the parallelism rather than
  * the 200 default, UTC session time zone for oracle parity.
  */
object GraftSession {
  def builder(appName: String = "graft", cores: Option[String] = None): SparkSession.Builder = {
    val n = cores.orElse(sys.env.get("SPARK_GRAFT_CPUS")).getOrElse("32")
    SparkSession
      .builder()
      .master(s"local[$n]")
      .appName(appName)
      // graft's custom expressions + optimizer rules on every session
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false") // null-on-error casts (reference: errors="coerce")
      // testdata events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's
      // vectorized reader rejects; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Test-data table access. Queries receive the scale-factor directory and read
  * one parquet file per table (TESTDATA.md).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table read with its schema given, so building a query starts no
    * schema-inference job. The schema is inferred once per path and kept
    * while the path's files keep their length and mtime; a rewrite is
    * inferred again. Sessions whose parquet settings differ (such as
    * `nanosAsLong`) infer apart.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted)
    val stamp = fileStamp(spark, path)
    val schema = Option(schemas.get(key)).filter(_._1 == stamp).map(_._2).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemas.put(key, (stamp, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  private val schemas =
    new ConcurrentHashMap[(String, Seq[(String, String)]), (Seq[(String, Long, Long)], StructType)]

  /** (file, length, mtime) of every file under `path`; empty if it is absent. */
  private def fileStamp(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
    }
  }

  /** `events` with `ts` normalized to a session-zone timestamp regardless of
    * how the generator wrote it: older drops used INT64 TIMESTAMP(NANOS)
    * (surfaced as long under `nanosAsLong`, converted here by integer ns→us
    * division — not fp, ns epochs exceed double's 2^53), newer drops write a
    * plain microsecond timestamp (surfaced as TIMESTAMP_NTZ, cast to the
    * session-UTC timestamp so downstream queries and oracle dumps see the
    * identical values and type either way).
    */
  def events(spark: SparkSession, dir: String) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
