package graft.ingest

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.zip.ZipInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ZIP-of-CSV handling. Spark has no zip codec for the CSV source, so zips are
  * read via `binaryFiles` + `java.util.zip.ZipInputStream` inside a
  * distributed map (one task per archive — archives are the unit of work, like
  * the reference's per-file loop).
  *
  * Semantics preserved from the reference (`util/data_processing.py:40-62`):
  * only the FIRST entry of each archive is taken (`namelist()[0]`), and
  * non-CSV entries are rejected.
  */
object ZipCsv {

  /** Distributed extraction: every zip under `pathGlob` → (archivePath,
    * entryName, csv text lines). Lines (not whole files) are exposed so a
    * downstream CSV parse can run partition-parallel.
    */
  def readFirstEntryLines(spark: SparkSession, pathGlob: String, encoding: String = "UTF-8"): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .binaryFiles(pathGlob)
      .flatMap { case (archive, stream) =>
        val zin = new ZipInputStream(stream.open())
        try {
          Option(zin.getNextEntry) match {
            case Some(e) if e.getName.toLowerCase.endsWith(".csv") =>
              val text = new String(zin.readAllBytes(), encoding)
              text.linesIterator.zipWithIndex.map { case (l, i) => (archive, e.getName, i.toLong, l) }
            case _ => Iterator.empty
          }
        } finally zin.close()
      }
      .toDF("archive", "entry", "line_no", "line")
  }

  /** ALL-entries variant of [[readFirstEntryLines]]: every CSV entry of
    * every archive, same distributed binaryFiles path and output shape
    * (entry name distinguishes members). The first-entry form stays the
    * DEFAULT — it is the reference's contract (`namelist()[0]`) and the
    * parity gates pin it — but a real backfill drops data with it: multi-
    * CSV zips are how upstream systems batch a day's tables into one
    * archive. Non-CSV members are skipped (manifest/readme litter), and
    * `maxEntryBytes` bounds a zip-bomb member to a loud failure instead
    * of an executor OOM.
    */
  def readAllEntryLines(
      spark: SparkSession,
      pathGlob: String,
      encoding: String = "UTF-8",
      maxEntryBytes: Long = 1L << 30): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .binaryFiles(pathGlob)
      .flatMap { case (archive, stream) =>
        val zin = new ZipInputStream(stream.open())
        val out = Seq.newBuilder[(String, String, Long, String)]
        try {
          var e = zin.getNextEntry
          while (e != null) {
            if (!e.isDirectory && e.getName.toLowerCase.endsWith(".csv")) {
              require(e.getSize <= maxEntryBytes,
                s"zip entry ${e.getName} in $archive declares ${e.getSize} bytes" +
                  s" (> $maxEntryBytes cap)")
              // clamp BEFORE narrowing: a cap above Int.MaxValue must not
              // overflow to a wrong/negative read length
              val bytes = zin.readNBytes(math.min(maxEntryBytes, Int.MaxValue.toLong).toInt)
              require(zin.read() < 0,
                s"zip entry ${e.getName} in $archive exceeds the $maxEntryBytes-byte cap")
              val text = new String(bytes, encoding)
              text.linesIterator.zipWithIndex.foreach { case (l, i) =>
                out += ((archive, e.getName, i.toLong, l))
              }
            }
            e = zin.getNextEntry
          }
        } finally zin.close()
        out.result().iterator
      }
      .toDF("archive", "entry", "line_no", "line")
  }

  /** Driver-side extraction of a single archive (any Hadoop-visible path)
    * to a CSV file in `outDir` — the direct analog of the reference's
    * `extract_file` for the per-file pipeline. The entry streams to disk,
    * so neither the archive nor the entry is held in memory. Returns the
    * extracted path or an error; a read error (a truncated upload ends in
    * `EOFException`) is an error, not an exception, so the caller can
    * record the file's status and go on.
    */
  def extractFirstEntry(zipPath: String, outDir: String): Either[String, String] =
    try {
      val p = new Path(zipPath)
      val zin = new ZipInputStream(p.getFileSystem(new Configuration()).open(p))
      try Option(zin.getNextEntry) match {
        case None => Left(s"empty archive: $zipPath")
        case Some(e) if !e.getName.toLowerCase.endsWith(".csv") =>
          Left(s"first entry is not a CSV: ${e.getName}")
        case Some(e) =>
          val out = Paths.get(outDir, Paths.get(e.getName).getFileName.toString)
          Files.createDirectories(out.getParent)
          Files.copy(zin, out, StandardCopyOption.REPLACE_EXISTING)
          Right(out.toString)
      } finally zin.close()
    } catch {
      case e: java.io.IOException => Left(s"cannot extract $zipPath: $e")
    }
}
