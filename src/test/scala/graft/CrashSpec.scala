package graft

import java.io.{ByteArrayOutputStream, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.chaining._

import graft.catalog.{Catalog, Status}
import graft.dedup.IncrementalDedup
import graft.load.Snapshot
import graft.operators.PieceStore
import graft.sim.{IvfPq, IvfPqStore, PqIndexStore, ProductQuantizer}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import graft.dedup.IncrementalDedup.State
import graft.store.CommitLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[GraftTestFileSystem]] under its own scheme, with crash switches.
  * Its mutating steps — `create`, the `close` of a created stream,
  * `mkdirs`, `rename` and `delete` — are numbered per tracked dir (the
  * driver and the tasks share one JVM, so one dir's count spans both).
  * Once a dir's switch trips, that step and every later step under the
  * dir throw, as in a dead process. As on HDFS, `create` makes the file
  * visible at once and empty, its bytes land only when `close`
  * succeeds, and `rename` refuses an existing file target.
  */
class CrashFs extends GraftTestFileSystem {
  override def getScheme: String = "crashfs"
  override def getUri: URI = URI.create("crashfs:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    created(f, overwrite)
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    created(f, overwrite)
  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    created(f, flags.contains(CreateFlag.OVERWRITE))

  private def step(f: Path, what: String): Unit = CrashFs.step(pathToFile(f).toString, what)

  private def created(f: Path, overwrite: Boolean): FSDataOutputStream = {
    step(f, s"create $f")
    val file = pathToFile(f).toPath
    if (Files.isDirectory(file) || (Files.exists(file) && !overwrite))
      throw new FileAlreadyExistsException(s"$f exists")
    Files.createDirectories(file.getParent)
    Files.write(file, Array.emptyByteArray)
    val bytes = new ByteArrayOutputStream {
      private var closed = false
      override def close(): Unit = if (!closed) {
        closed = true
        step(f, s"close $f")
        Files.write(file, toByteArray)
      }
    }
    new FSDataOutputStream(bytes, statistics)
  }

  // RawLocalFileSystem makes missing parents through the public mkdirs:
  // only the outermost call is a step
  private def mkdirsStep(f: Path)(body: => Boolean): Boolean =
    if (CrashFs.inMkdirs.get) body
    else {
      step(f, s"mkdirs $f")
      CrashFs.inMkdirs.set(true)
      try body finally CrashFs.inMkdirs.set(false)
    }
  override def mkdirs(f: Path): Boolean = mkdirsStep(f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mkdirsStep(f)(super.mkdirs(f, permission))

  override def rename(src: Path, dst: Path): Boolean = {
    step(src, s"rename $src -> $dst")
    !Files.isRegularFile(pathToFile(dst).toPath) && super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    step(f, s"delete $f")
    super.delete(f, recursive)
  }
}

object CrashFs {
  /** The steps under one dir, and its crash switch: the first step that
    * `crashAt` (step number from 1, step name) matches trips it. */
  final class Track(val dir: String, crashAt: (Int, String) => Boolean) {
    private val log = scala.collection.mutable.ArrayBuffer.empty[String]
    private var dead = false
    private[CrashFs] def step(name: String): Unit = synchronized {
      log += name
      if (!dead && crashAt(log.size, name)) dead = true
      if (dead) throw new IOException(s"crashfs: crashed at step ${log.size} ($name)")
    }
    def steps: Seq[String] = synchronized(log.toSeq)
  }

  private val tracks = new java.util.concurrent.ConcurrentHashMap[String, Track]
  private[graft] val inMkdirs = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  private def step(file: String, name: String): Unit =
    tracks.values.asScala.find(t => file == t.dir || file.startsWith(t.dir + "/"))
      .foreach(_.step(name))

  /** Count the steps under the local dir `dir` until [[untrack]]. */
  def track(dir: String, crashAt: (Int, String) => Boolean = (_, _) => false): Track = {
    val t = new Track(dir, crashAt)
    tracks.put(dir, t)
    t
  }
  def untrack(t: Track): Unit = tracks.remove(t.dir)

  def register(conf: Configuration): Unit = conf.set("fs.crashfs.impl", classOf[CrashFs].getName)
  def uri(localDir: String): String = s"crashfs://$localDir"

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    }
  }

  /** Every dir and file under `dir`, by relative path, with file bytes. */
  def tree(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.map { p =>
      root.relativize(p).toString ->
        (if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
    }.toMap
  }
}

/** Crash injection at every filesystem step of every store operation on
  * [[graft.store.CommitLog]] (and Snapshot's rename-aside swap). For each
  * operation a clean run counts its M steps; then for each k in 1..M the
  * call runs on a copy of the pre-state with step k failing, and a rerun
  * of the same call, with the same ids, on a fresh store object must
  * reach the clean run's read views. The crashed call must fail and
  * leave no cached frame behind.
  *
  * The (operation, k) runs share six worker threads. Each worker has
  * its own SparkSession with its own shared state, so the cache check of
  * one worker sees only its own frames.
  */
class CrashSpec extends SparkSpec {
  import spark.implicits._

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    CrashFs.register(c)
    c
  }

  /** One store operation: `pre` builds its pre-state at a root (once),
    * `run` makes the call at a root on a fresh store object, `view`
    * reads the store's read views; `recover` runs before the rerun.
    */
  private case class Op(
      name: String,
      pre: (SparkSession, String) => Unit,
      run: (SparkSession, String) => Unit,
      view: (SparkSession, String) => Any,
      recover: (SparkSession, String) => Unit = (_, _) => ())

  private val Workers = 6

  /** A session with its own cache manager; one shuffle partition, so M
    * stays small, and neither adaptive re-planning nor whole-stage code
    * generation, which on these few rows only cost time. */
  private def workerSession(): SparkSession = {
    val s = SparkSession.builder().create()
    SparkSession.setDefaultSession(spark) // create() made `s` the default
    SparkSession.setActiveSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s
  }

  /** Run `tasks` on the workers; the problems they report, in order. */
  private def onWorkers(tasks: Seq[SparkSession => Seq[String]]): Seq[String] = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue(tasks.zipWithIndex.asJava)
    val found = new java.util.concurrent.ConcurrentSkipListMap[Int, Seq[String]]
    val threads = (1 to Workers).map { _ =>
      val s = workerSession()
      new Thread(() => {
        SparkSession.setActiveSession(s)
        var next = queue.poll()
        while (next != null) {
          val (task, i) = next
          found.put(i, Try(task(s)).fold(e => Seq(s"threw $e"), identity))
          next = queue.poll()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    found.values.asScala.toSeq.flatten
  }

  private def crashEverywhere(ops: Op*): Unit = {
    conf
    val t0 = System.nanoTime()
    spark.sparkContext.setLogLevel("OFF") // the crashed jobs' task errors
    try {
      // the pre-state (built once) and a clean run: its steps and views
      val clean = new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[String], Any)]
      val setupProblems = onWorkers(ops.map { op => (s: SparkSession) =>
        val pre = tmpDir(s"crash-${op.name}-pre")
        op.pre(s, CrashFs.uri(pre))
        val root = copy(op, pre)
        val t = CrashFs.track(root)
        try op.run(s, CrashFs.uri(root)) finally CrashFs.untrack(t)
        clean.put(op.name, (pre, t.steps, op.view(s, CrashFs.uri(root))))
        if (t.steps.isEmpty) Seq(s"${op.name}: no filesystem step counted") else Nil
      })
      assert(setupProblems.isEmpty, setupProblems.mkString("\n"))
      info(f"setup ${(System.nanoTime() - t0) / 1e9}%.1f s")
      // the longest sweeps first, so no worker is left with a long tail
      val problems = onWorkers(for {
        op <- ops.sortBy(op => -clean.get(op.name)._2.size)
        (pre, names, want) = clean.get(op.name)
        k <- names.indices.map(_ + 1)
      } yield (s: SparkSession) => {
        val local = copy(op, pre)
        val root = CrashFs.uri(local)
        val t = CrashFs.track(local, (n, _) => n >= k)
        val crashed = try Try(op.run(s, root)) finally CrashFs.untrack(t)
        val leaked = !s.sharedState.cacheManager.isEmpty
        s.catalog.clearCache()
        val rerun = Try { op.recover(s, root); op.run(s, root); op.view(s, root) }
        val at = s"${op.name}, crash at step $k of ${names.size} (${names(k - 1)})"
        Seq(
          Option.when(crashed.isSuccess)(s"$at: the call did not fail"),
          Option.when(leaked)(s"$at: the crashed call left a cached frame"),
          Option.when(rerun != scala.util.Success(want))(s"$at: the rerun gave $rerun, not $want")
        ).flatten.tap(_ => deleteTree(local))
      })
      assert(problems.isEmpty, problems.mkString("\n"))
      info(ops.map(op => s"${op.name} ${clean.get(op.name)._2.size}").mkString("steps: ", ", ", ""))
    } finally spark.sparkContext.setLogLevel("WARN")
    info(f"wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def deleteTree(dir: String): Unit =
    Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def copy(op: Op, pre: String): String = {
    val d = tmpDir(s"crash-${op.name}-")
    CrashFs.copyTree(pre, d)
    d
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog again and again today",
    2L -> "completely different text about spark shuffles and partition pruning",
    3L -> "the quick brown fox jumps over the lazy dog again and again today",
    5L -> "completely different text about spark shuffles and partition pruning",
    6L -> "the quick brown fox jumps over the lazy dog again and again today")
  private def docs(s: SparkSession, ids: Long*) =
    s.createDataFrame(corpus.filter(t => ids.contains(t._1))).toDF("id", "text").coalesce(1)

  // 8 vectors in 2 clearly separated cells; the quantizers fit once
  private val vectorRows = (0 until 8).map { i =>
    val base = if (i % 2 == 0) 0.0f else 100.0f
    (i.toLong, i % 2, Seq(base + i, base + 2 * i, base - i, base + 3 * i).map(_.toFloat))
  }
  private def vectors(s: SparkSession) =
    s.createDataFrame(vectorRows).toDF("vec_id", "cell", "embedding").coalesce(1)
  private def ids(s: SparkSession, v: Long*) = s.createDataFrame(v.map(Tuple1(_))).toDF("vec_id").coalesce(1)
  private lazy val pqBook =
    ProductQuantizer.fit(vectors(spark), "vec_id", "embedding", dims = 4, m = 2, k = 2, iters = 2)
  private lazy val ivf =
    IvfPq.fitResidual(vectors(spark), "vec_id", "embedding", "cell", dims = 4, m = 2, k = 2, iters = 2)

  private def pqPre(s: SparkSession, r: String): Unit = {
    val v = vectors(s)
    PqIndexStore.writeCodebook(s, r, pqBook)
    PqIndexStore.appendBatch(v.filter(col("vec_id") < 3), "vec_id", "embedding", r, pqBook, "b0")
    PqIndexStore.appendBatch(v.filter(col("vec_id").between(3, 5)),
      "vec_id", "embedding", r, pqBook, "b1")
    PqIndexStore.appendTombstones(ids(s, 2L, 4L), "vec_id", r, "t0")
  }

  private def catalogOps: Seq[Op] = {
    def pre(s: SparkSession, r: String): Unit = {
      val cat = new Catalog(s, r)
      cat.recordStatus("a.csv", Status.Uploaded)
      cat.setWatermark("t", 10L)
      assert(cat.compareAndSetWatermark("t", 10L, 20L))
      cat.setWatermark("u", 5L)
    }
    // a retried append may land its identical row twice: statuses are a set
    def view(s: SparkSession, r: String) = {
      val cat = new Catalog(s, r)
      (sorted(cat.statusLog.select("file_name", "status").distinct()),
        cat.watermark("t"), cat.watermark("u"))
    }
    Seq(
      Op("recordStatus", pre,
        (s, r) => new Catalog(s, r).recordStatus("b.csv", Status.Processed, Status.Uploaded),
        view),
      Op("setWatermark", pre, (s, r) => new Catalog(s, r).setWatermark("t", 30L), view),
      Op("compareAndSetWatermark", pre,
        (s, r) => new Catalog(s, r).compareAndSetWatermark("t", 20L, 30L), view),
      Op("compactWatermarkHistory", pre,
        (s, r) => new Catalog(s, r).compactWatermarkHistory(), view))
  }

  private def snapshotOps = Seq(Op("replaceTable",
    (s, r) => Snapshot.appendBatch(
      s.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "v").coalesce(1), s"$r/tbl"),
    (s, r) => Snapshot.replaceTable(
      s.createDataFrame(Seq((3L, "c"), (4L, "d"))).toDF("id", "v").coalesce(1), s"$r/tbl"),
    (s, r) => sorted(s.read.parquet(s"$r/tbl")),
    recover = (s, r) => Snapshot.recoverSwap(s, s"$r/tbl")))

  private def dedupOps: Seq[Op] = {
    def pre1(s: SparkSession, r: String): Unit =
      IncrementalDedup.ingestBatch(State(r), docs(s, 1L, 3L), "id", "text", batchId = "d1")
    def pre(s: SparkSession, r: String): Unit = {
      pre1(s, r)
      IncrementalDedup.ingestBatch(State(r), docs(s, 2L), "id", "text", batchId = "d2")
    }
    // the replay of a committed batch reports the totals from state
    def view(s: SparkSession, r: String) = (
      sorted(IncrementalDedup.canonicalIds(s, State(r))),
      IncrementalDedup.ingestBatch(State(r), docs(s), "id", "text", batchId = "d1").totalPairs)
    Seq(
      Op("ingestBatch", pre, (s, r) =>
        IncrementalDedup.ingestBatch(State(r), docs(s, 5L, 6L), "id", "text", batchId = "d3"),
        view),
      Op("IncrementalDedup.compact", pre1,
        (s, r) => IncrementalDedup.compact(s, State(r), outputFiles = 1), view))
  }

  private def pieceOps: Seq[Op] = {
    def batch(s: SparkSession, id: Long, n: Long) =
      s.createDataFrame(Seq((id, n))).toDF("doc_id", "n").coalesce(1)
    def pre(s: SparkSession, r: String): Unit = {
      PieceStore.appendBatch(batch(s, 1L, 3L), "doc_id", "n", 4L, r, "b0")
      PieceStore.appendBatch(batch(s, 2L, 5L), "doc_id", "n", 4L, r, "b1")
    }
    def view(s: SparkSession, r: String) = (
      sorted(PieceStore.pieces(s, r)), PieceStore.totalTokens(s, r),
      sorted(CommitLog.dirs(s, r, "state").map(s.read.parquet(_)).reduce(_ unionByName _)))
    Seq(
      Op("PieceStore.appendBatch", pre,
        (s, r) => PieceStore.appendBatch(batch(s, 3L, 4L), "doc_id", "n", 4L, r, "b2"), view),
      Op("compactState", pre, (s, r) => PieceStore.compactState(s, r, "s0"), view))
  }

  private def pqOps: Seq[Op] = {
    def view(s: SparkSession, r: String) = (
      sorted(PqIndexStore.codes(s, r)),
      sorted(PqIndexStore.tombstones(s, r, "vec_id")),
      sorted(PqIndexStore.staleness(s, r).select("batch_id", "n_vectors")))
    Seq(
      Op("PqIndexStore.appendBatch", pqPre,
        (s, r) => PqIndexStore.appendBatch(vectors(s).filter(col("vec_id") > 5),
          "vec_id", "embedding", r, pqBook, "b2"), view),
      Op("appendTombstones", pqPre,
        (s, r) => PqIndexStore.appendTombstones(ids(s, 1L), "vec_id", r, "t1"), view),
      Op("PqIndexStore.compact", pqPre, (s, r) => PqIndexStore.compact(s, r, "c0"), view))
  }

  private def ivfOps: Seq[Op] = {
    val (cents, cb) = ivf
    def pre(s: SparkSession, r: String): Unit = {
      IvfPqStore.writeCentroids(s, r, cents)
      PqIndexStore.writeCodebook(s, r, cb)
      IvfPqStore.appendBatch(vectors(s).filter(col("vec_id") < 4), IvfPqStore.readCentroids(s, r),
        "vec_id", "embedding", "cell", r, cb, "b0")
      IvfPqStore.appendTombstones(ids(s, 2L), "vec_id", r, "t0")
    }
    def view(s: SparkSession, r: String) = (
      sorted(IvfPqStore.codes(s, r).select("vec_id", "cell", "code")),
      sorted(IvfPqStore.liveCodes(s, r, "vec_id").select("vec_id")))
    Seq(
      Op("IvfPqStore.appendBatch", pre,
        (s, r) => IvfPqStore.appendBatch(vectors(s).filter(col("vec_id") >= 4),
          IvfPqStore.readCentroids(s, r), "vec_id", "embedding", "cell", r, cb, "b1"), view),
      Op("IvfPqStore.compact", pre,
        (s, r) => IvfPqStore.compact(s, r, "c0", "vec_id", "cell"), view))
  }

  test("every filesystem step of every store operation: the crashed call fails, " +
    "caches nothing, and a rerun converges") {
    crashEverywhere(catalogOps ++ snapshotOps ++ dedupOps ++ pieceOps ++ pqOps ++ ivfOps: _*)
  }

  test("a compaction crashed mid-delete replays at a copied root without " +
    "touching the original") {
    conf
    val local = tmpDir("crash-pq-orig")
    val root = CrashFs.uri(local)
    pqPre(spark, root)
    // crash at the SECOND source-dir delete: one folded dir gone, two left
    var deletes = 0
    val t = CrashFs.track(local, (_, name) => name.startsWith("delete ") &&
      name.matches(".*/(codes/b[0-9]|tombstones/t[0-9])") && { deletes += 1; deletes == 2 })
    spark.sparkContext.setLogLevel("OFF")
    try assert(Try(PqIndexStore.compact(spark, root, "c0")).isFailure)
    finally { CrashFs.untrack(t); spark.sparkContext.setLogLevel("WARN") }
    val before = CrashFs.tree(local)
    val copy = tmpDir("crash-pq-copy")
    CrashFs.copyTree(local, copy)
    PqIndexStore.compact(spark, CrashFs.uri(copy), "c0")
    assert(CrashFs.tree(local) == before, "the replay at the copy changed the original store")
    assert(sorted(PqIndexStore.codes(spark, CrashFs.uri(copy)).select("vec_id")) ==
      Seq("0", "1", "3", "5"))
    assert(Seq("codes/b0", "codes/b1", "tombstones/t0").forall(d => !Files.exists(Paths.get(copy, d))))
  }

  test("IvfPqStore.refitGeneration: a crashed refit leaves no cached frame") {
    conf
    val (cents, cb) = ivf
    val root = tmpDir("crash-refit")
    IvfPqStore.writeCentroids(spark, root, cents)
    PqIndexStore.writeCodebook(spark, root, cb)
    IvfPqStore.appendBatch(vectors(spark), cents, "vec_id", "embedding", "cell", root, cb, "b0")
    spark.catalog.clearCache()
    val local = tmpDir("crash-refit-gen")
    val t = CrashFs.track(local, (_, _) => true) // its first write fails
    spark.sparkContext.setLogLevel("OFF")
    try assert(Try(IvfPqStore.refitGeneration(spark, root, CrashFs.uri(local), vectors(spark),
      "vec_id", "embedding", "cell", dims = 4, m = 2, k = 2, iters = 2)).isFailure)
    finally { CrashFs.untrack(t); spark.sparkContext.setLogLevel("WARN") }
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
