package graft.ingest

import java.io.InputStream
import java.nio.charset.{Charset, CharsetDecoder, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Per-file scan-option inference: encoding + delimiter sniffing.
  *
  * These are driver-side helpers (a few KB of I/O per file) mirroring the
  * reference's detection (reference: `util/data_processing.py:71-105` for the
  * BOM sniff + trial decode, `util/data_processing.py:64-69` for the
  * first-line delimiter frequency count). The result feeds Spark's CSV reader
  * options (`encoding`, `sep`); the data-plane read itself stays distributed.
  */
object Sniff {

  val DefaultSampleSize: Int = 100 * 1000 // reference samples 100 KB (data_processing.py:71)
  val CandidateDelimiters: Seq[Char] = Seq(',', ';', '\t', '|')
  private val TextMarks: Set[Char] = CandidateDelimiters.toSet ++ Set('\n', '\r')

  /** Read up to n bytes from any Hadoop-visible path (local, s3a, hdfs). */
  private[ingest] def headBytes(path: String, n: Int, conf: Configuration = new Configuration()): Array[Byte] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in: InputStream = fs.open(p)
    try in.readNBytes(n)
    finally in.close()
  }

  /** BOM sniff then trial decode (UTF-8, then UTF-16): returns the charset name
    * Spark's CSV reader should use, or None if the sample decodes as neither.
    * BOM-less UTF-16 is accepted only when the decoded sample holds a line
    * break or a candidate delimiter: those chars need a NUL byte, which
    * latin-1 text never has, while almost any even-length latin-1 sample
    * trial-decodes as UTF-16 — so latin-1 gets None (the caller's
    * ISO-8859-1 fallback) instead of being read as UTF-16.
    */
  def detectEncoding(sample: Array[Byte]): Option[String] = {
    def startsWith(bom: Array[Byte]) =
      sample.length >= bom.length && sample.take(bom.length).sameElements(bom)
    if (startsWith(Array(0xFF.toByte, 0xFE.toByte))) Some("UTF-16LE")
    else if (startsWith(Array(0xFE.toByte, 0xFF.toByte))) Some("UTF-16BE")
    else if (startsWith(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))) Some("UTF-8")
    else if (decoded(sample, StandardCharsets.UTF_8).isDefined) Some("UTF-8")
    else if (decoded(sample, StandardCharsets.UTF_16).exists(_.exists(TextMarks.contains))) Some("UTF-16")
    else None
  }

  def detectEncodingAt(path: String, sampleSize: Int = DefaultSampleSize): Option[String] =
    detectEncoding(headBytes(path, sampleSize))

  private def decoded(bytes: Array[Byte], cs: Charset): Option[String] = {
    val dec: CharsetDecoder = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    // A multi-byte sequence may be truncated at the sample boundary; trim the
    // tail few bytes before judging, like the reference's sample decode.
    val trimmed = if (bytes.length > 4) bytes.dropRight(4) else bytes
    try Some(dec.decode(ByteBuffer.wrap(trimmed)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }
  }

  /** Most frequent candidate delimiter in the first line (ties: candidate order,
    * matching the reference's `Counter.most_common` stability).
    */
  def detectDelimiter(firstLine: String): Char = {
    val counts = CandidateDelimiters.map(d => d -> firstLine.count(_ == d))
    counts.maxBy(_._2)._1 match {
      case d if counts.exists(_._2 > 0) => d
      case _ => ','
    }
  }
}
