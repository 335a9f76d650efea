package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit protocol of the catalog and the stores, on the Hadoop
  * FileSystem API alone (any scheme). It starts no Spark action: each
  * store keeps its own reads and writes, and a fold takes the store's
  * survivor write as a function.
  *
  * Layout under a store root:
  *  - `<log>/<batchId>/` — one dir per commit, written by one Spark job.
  *    Distinct dirs keep concurrent writers out of each other's shared
  *    `_temporary` staging. A dir is committed once it holds `_SUCCESS`,
  *    which the job commit writes last; a crashed write leaves at most
  *    `_temporary` or part of its files, and reads as absent.
  *  - `compactions/<foldId>/folded` — a committed fold's marker: the dirs
  *    it folded, one root-relative entry per line (an absolute entry, as
  *    older markers hold, resolves to itself). Readers skip those dirs:
  *    the fold's survivor dir holds their rows.
  *
  * A marker is published whole: it is written under a hidden temp name
  * and then linked (`file:`) or renamed (any other scheme) to its name,
  * a step that fails when the name exists. HDFS's rename refuses an
  * existing target; a store whose rename replaces one (S3A's copy, a
  * local disk under another scheme) keeps the publish whole but not
  * exclusive.
  *
  * A fold rewrites several batch dirs into one: survivor data first, the
  * marker second (the commit point), the source deletes last. A replay
  * of the same fold id that finds the marker only finishes the deletes;
  * one without it clears the marker dir's debris and folds again from
  * the still-present sources. CrashSpec proves each store on this
  * protocol by failing every filesystem step in turn.
  */
object CommitLog {

  /** `id` when it is a filename-safe batch, fold or marker name. */
  def requireId(id: String, what: String = "batchId"): String = {
    require(id.matches("[A-Za-z0-9._-]+"), s"$what '$id' is not filename-safe")
    id
  }

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The entries directly under `dir`, by name; none when it is absent. */
  def list(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    try fs(spark, p).listStatus(p).toSeq.sortBy(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** The committed dirs of `root/log` minus every dir a committed fold
    * lists. The dirs are listed before the markers are read, so a read
    * racing a fold's deletes cannot see a folded dir beside its survivor.
    * A folded path stays retired: a dir re-created there (a replayed
    * append whose rows the fold already holds) reads as folded.
    */
  def dirs(spark: SparkSession, root: String, log: String): Seq[String] = {
    val f = fs(spark, new Path(root))
    val committed = list(spark, s"$root/$log").filter(_.isDirectory).map(_.getPath)
      .filter(d => f.exists(new Path(d, "_SUCCESS")))
    val r = f.makeQualified(new Path(root))
    val folded = visible(spark, s"$root/compactions")
      .flatMap(c => read(spark, new Path(c, "folded")).toSeq.flatten)
      .map(e => new Path(r, e)).toSet
    committed.filterNot(folded).map(_.toString)
  }

  /** The published markers in `dir`: name → lines. */
  def markers(spark: SparkSession, dir: String): Seq[(String, Seq[String])] =
    visible(spark, dir).flatMap(p => read(spark, p).map(p.getName -> _))

  /** The entries of `dir` but hidden ones (a publish's temps, `_SUCCESS`). */
  private def visible(spark: SparkSession, dir: String): Seq[Path] =
    list(spark, dir).map(_.getPath)
      .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))

  /** A published marker's lines; None when it is absent. */
  def read(spark: SparkSession, p: Path): Option[Seq[String]] =
    try {
      val in = fs(spark, p).open(p)
      try Some(new String(in.readAllBytes(), UTF_8).split("\n").toSeq.filter(_.nonEmpty))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Publish `lines` as the marker `p`, whole and exclusively: false,
    * publishing nothing, when `p` already exists.
    */
  def publish(spark: SparkSession, p: Path, lines: Seq[String]): Boolean = {
    val f = fs(spark, p)
    val tmp = new Path(p.getParent, s"._${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, false)
    try out.write(lines.mkString("\n").getBytes(UTF_8)) finally out.close()
    val local = f.getScheme == "file"
    def onDisk(q: Path) = java.nio.file.Paths.get(f.makeQualified(q).toUri)
    val won =
      if (local)
        try { java.nio.file.Files.createLink(onDisk(p), onDisk(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else !f.exists(p) && f.rename(tmp, p)
    if (local || !won) f.delete(tmp, false)
    won
  }

  def delete(spark: SparkSession, paths: Seq[Path]): Unit =
    paths.foreach(p => fs(spark, p).delete(p, true))

  /** Fold `sources` (dirs under `root`) into one survivor dir that
    * `write` fills, under the marker `compactions/<id>/folded`. `write`
    * must write outside the sources, and `sources` is evaluated only
    * when no marker is found. Returns `write`'s result; None when this
    * call folded nothing (the marker was found and its deletes are now
    * finished, or `sources` is empty). `retire` drops the marker once
    * its deletes are done, for a store whose fold ids are never replayed.
    * Every fold first finishes the deletes of any other committed fold
    * whose listed dirs a crash left on disk.
    */
  def fold[A](spark: SparkSession, root: String, id: String, retire: Boolean = false)(
      sources: => Seq[String])(write: Seq[String] => A): Option[A] = {
    val f = fs(spark, new Path(root))
    val r = f.makeQualified(new Path(root))
    for (c <- visible(spark, s"$r/compactions") if c.getName != id)
      delete(spark, read(spark, new Path(c, "folded")).toSeq.flatten.map(new Path(r, _)).filter(f.exists))
    val markerDir = new Path(r, s"compactions/${requireId(id, "compactId")}")
    val marker = new Path(markerDir, "folded")
    val done = read(spark, marker) match {
      case Some(entries) =>
        delete(spark, entries.map(new Path(r, _)))
        None
      case None =>
        delete(spark, Seq(markerDir))
        val src = sources
        if (src.isEmpty) None
        else {
          val result = write(src)
          val entries = src.map(s => r.toUri.relativize(new Path(s).toUri).toString)
          require(publish(spark, marker, entries), s"fold marker already published: $marker")
          delete(spark, src.map(new Path(_)))
          Some(result)
        }
    }
    if (retire) delete(spark, Seq(markerDir))
    done
  }
}
