package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** All-string CSV reads with sniffed options.
  *
  * The reference reads every CSV with `dtype=str` and defers all typing to the
  * load stage (`util/data_processing.py:171-176`, `util/data_pushing.py:311-324`
  * with a latin1 fallback). Here the same contract: schema-on-read is
  * all-string; the cast stage (graft.load.Casts) applies roles later. Chunked
  * reads map onto Spark partitions — no manual chunking.
  */
object CsvSource {

  /** Read with an explicit all-string schema (header row present). */
  def readAllString(
      spark: SparkSession,
      path: String,
      delimiter: Char = ',',
      encoding: String = "UTF-8",
      columns: Option[Seq[String]] = None): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("sep", delimiter.toString)
      .option("encoding", encoding)
      .option("mode", "PERMISSIVE")
      // quoted fields may embed delimiters AND newlines (pandas handles both;
      // Spark needs multiLine for the latter). Cost: a multiLine file isn't
      // line-splittable — acceptable because the unit of work IS the file.
      .option("multiLine", "true")
      .option("escape", "\"")
    columns match {
      case Some(cols) =>
        base.schema(StructType(cols.map(StructField(_, StringType, nullable = true)))).csv(path)
      case None =>
        // header-driven column names, everything string (no inference)
        base.option("inferSchema", "false").csv(path)
    }
  }

  /** Sniff encoding + delimiter from one read of the file's head, then
    * read; latin1 fallback when the sample decodes as neither UTF-8 nor
    * UTF-16 (reference: `data_pushing.py:311-324`). The delimiter comes
    * from the first line of the sample's first 64 KiB.
    */
  def readSniffed(spark: SparkSession, path: String): DataFrame = {
    val head = Sniff.headBytes(path, Sniff.DefaultSampleSize)
    val enc = Sniff.detectEncoding(head).getOrElse("ISO-8859-1")
    val text = new String(head.take(64 * 1024), java.nio.charset.Charset.forName(enc))
    val delim = Sniff.detectDelimiter(text.linesIterator.nextOption().getOrElse(""))
    readAllString(spark, path, delim, enc)
  }
}
