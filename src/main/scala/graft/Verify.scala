package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes — dev-loop subset runs
    // (the correctness gate always passes exactly two), e.g.
    // `q01_scan_rename,q07`; `tools/check_oracle.py <sf> <out> --subset`
    // then checks what was written
    val (sfDir, outDir) = (args(0), args(1))
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(','); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = Bench.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in an oracle query would otherwise make the
    * oracle compare's json.load fail and silently zero the correctness check.
    */
  private[graft] def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
