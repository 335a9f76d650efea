package graft

import graft.clean.Clean
import graft.dedup.Dedup
import graft.load.Casts
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated properties from the SURVEY §5 test plan: dedup
  * idempotence, anti-join disjointness, cast totality, hash determinism —
  * checked on generated data, not fixtures. (Plain scalatest + scalacheck
  * Gens with a fixed seed; the scalatestplus shim isn't in the offline
  * dependency cache.)
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[(String, String)]] =
    Gen.listOfN(30, Gen.zip(
      Gen.oneOf("a", "b", "c", "d", "e"),
      Gen.oneOf("x", "y", "z")))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    for (rows <- samples(rowsGen, 5) if rows.nonEmpty) {
      val df = Clean.withRowHash(rows.toDF("k", "v"))
      val once = Dedup.selfDedupAnyWins(df, "row_hash")
      val twice = Dedup.selfDedupAnyWins(once, "row_hash")
      assert(once.count() == twice.count())
      assert(once.count() == rows.distinct.size)
    }
  }

  test("anti-join disjointness: inserted ∩ existing = ∅, inserted = batch \\ prior") {
    val pairs = samples(rowsGen, 4).grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    for ((batchRows, priorRows) <- pairs if batchRows.nonEmpty) {
      val batch = Clean.withRowHash(batchRows.toDF("k", "v"))
      val prior = Clean.withRowHash(priorRows.toDF("k", "v"))
      val inserted = Dedup.antiJoinPrior(batch, prior, "row_hash")
        .select("k", "v").as[(String, String)].collect().toSet
      val priorSet = priorRows.toSet
      assert(inserted.intersect(priorSet).isEmpty)
      assert(batchRows.toSet.diff(priorSet) == inserted)
    }
  }

  test("cast totality: numeric/timestamp coercion never throws, for any string") {
    val strGen = Gen.oneOf(
      Gen.numStr, Gen.alphaStr, Gen.const(""), Gen.const("3.5"),
      Gen.const("<NA>"), Gen.const("nan"), Gen.const("2024-01-01 00:00:00"))
    for (vals <- samples(Gen.listOfN(20, strGen), 5) if vals.nonEmpty) {
      val df = vals.toDF("s")
      val n = df.select(
        Casts.toLongCoerce(Casts.normalizeNullStrings($"s")),
        Casts.toDoubleCoerce(Casts.normalizeNullStrings($"s")),
        Casts.toTimestampCoerce(Casts.normalizeNullStrings($"s")),
        Casts.dobFormat(Casts.normalizeNullStrings($"s"))).count()
      assert(n == vals.size)
    }
  }

  test("row hash: equal rows hash equal, differing rows hash differently") {
    for (rows <- samples(rowsGen, 5) if rows.nonEmpty) {
      val hashes = Clean.withRowHash(rows.toDF("k", "v"))
        .select("k", "v", "row_hash")
        .as[(String, String, String)].collect()
      val byContent = hashes.groupBy(r => (r._1, r._2)).values
      assert(byContent.forall(g => g.map(_._3).distinct.length == 1))
      assert(hashes.map(_._3).distinct.length == rows.distinct.length)
    }
  }

  test("sessionize: partitions each key's rows into contiguous 1..n ordinals, count-preserving") {
    val evGen = Gen.listOfN(40, Gen.zip(Gen.choose(1, 4), Gen.choose(0, 5000)))
    for (raw <- samples(evGen, 5) if raw.nonEmpty) {
      val rows = raw.zipWithIndex.map { case ((k, s), i) =>
        (i.toLong, k.toLong, new java.sql.Timestamp(1700000000000L + s * 1000L))
      }
      val out = graft.operators.Sessionize
        .sessionize(rows.toDF("event_id", "user_id", "ts"), "user_id", "ts", "event_id", 600L)
        .select("user_id", "session_id").as[(Long, Long)].collect()
      assert(out.length == rows.length) // no rows created or lost
      out.groupBy(_._1).values.foreach { g =>
        val ords = g.map(_._2).sorted
        assert(ords.head == 1L && ords.last == ords.distinct.length) // contiguous from 1
      }
    }
  }

  test("hash split: total, deterministic, and a pure function of the key") {
    val weights = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val keyGen = Gen.listOfN(50, Gen.choose(0L, 1000000L))
    for (keys <- samples(keyGen, 3) if keys.nonEmpty) {
      val a = keys.toDF("id")
        .select($"id", graft.load.Splits.assignSplit($"id", weights).as("s"))
        .as[(Long, String)].collect().toMap
      assert(a.values.forall(Set("train", "val", "test")))
      // same key → same split on a differently-partitioned re-evaluation
      val b = keys.toDF("id").repartition(5)
        .select($"id", graft.load.Splits.assignSplit($"id", weights).as("s"))
        .as[(Long, String)].collect().toMap
      assert(a == b)
    }
  }

  test("fuzzy join == brute-force edit-distance-1 pairs on random strings") {
    val strGen = Gen.listOfN(25, Gen.listOfN(6, Gen.oneOf('a', 'b')).map(_.mkString))
    for ((strs, si) <- samples(strGen, 4).zipWithIndex) {
      val rows = strs.zipWithIndex.map { case (s, i) => (i.toLong, s, 0) }
      val got = graft.operators.FuzzyJoin
        .pairsWithinOne(rows.toDF("id", "s", "blk"), "id", "s", Seq("blk"), 3, 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val want = (for {
        (i, a, _) <- rows; (j, b, _) <- rows if i < j
        if editDistance(a, b) <= 1
      } yield (i, j)).toSet
      assert(got == want, s"sample $si")
    }
  }

  test("upsert idempotence: applying the same update batch twice changes nothing") {
    import graft.load.Snapshot
    val curGen = Gen.listOfN(20, Gen.zip(Gen.choose(1L, 10L), Gen.choose(1L, 5L)))
    for (raw <- samples(curGen, 4) if raw.nonEmpty) {
      // dedup keys in current (a table has one row per key)
      val current = raw.groupBy(_._1).map { case (k, g) => (k, g.map(_._2).max, s"c$k") }
        .toSeq.toDF("k", "ver", "v")
      val updates = raw.take(8).map { case (k, ver) => (k, ver + 1, s"u$k") }
        .groupBy(_._1).map(_._2.maxBy(_._2)).toSeq.toDF("k", "ver", "v")
      val once = Snapshot.upsertLatestWins(current, updates, Seq("k"), "ver")
      val twice = Snapshot.upsertLatestWins(once, updates, Seq("k"), "ver")
      assert(once.collect().toSet == twice.collect().toSet)
    }
  }

  test("checksum distributes over union: chk(a ++ b).n == chk(a).n + chk(b).n, digest order-free") {
    import graft.load.Snapshot
    for (rows <- samples(rowsGen, 3) if rows.size >= 4) {
      val (a, b) = rows.splitAt(rows.size / 2)
      val whole = Snapshot.tableChecksum(rows.toDF("k", "v"), Seq("k", "v")).head()
      val shuffled = Snapshot.tableChecksum(
        (b ++ a).toDF("k", "v").repartition(5), Seq("k", "v")).head()
      assert(whole == shuffled) // digest independent of order AND partitioning
    }
  }

  test("decontaminated corpus shares no k-shingle with the benchmark") {
    import graft.dedup.{Decontaminate, MinHashLsh}
    val textGen = Gen.listOfN(15, Gen.listOfN(8,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")).map(_.mkString(" ")))
    for ((texts, i) <- samples(textGen, 3).zipWithIndex) {
      val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
      val bench = docs.filter($"doc_id" < 3)
      val corpus = docs.filter($"doc_id" >= 3)
      val clean = Decontaminate.removeContaminated(corpus, "doc_id", "text", bench, "text", k = 4)
      val cleanSh = clean
        .select(explode(MinHashLsh.shingles($"text", 4)).as("s")).distinct()
      val benchSh = bench
        .select(explode(MinHashLsh.shingles($"text", 4)).as("s")).distinct()
      assert(cleanSh.join(benchSh, "s").count() == 0, s"sample $i")
    }
  }

  test("GlobalRank.rankRatios == window oracle on random duplicated keys (tiesPossible=true)") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    // keys drawn from a tiny domain so heavy duplication is guaranteed;
    // nulls included — a repeated NULL key is a legitimate rank group
    val keyGen = Gen.listOfN(60, Gen.oneOf(
      Gen.choose(0, 5).map(v => Option(v.toLong)), Gen.const(Option.empty[Long])))
    for ((keys, i) <- samples(keyGen, 5).zipWithIndex if keys.nonEmpty) {
      val df = keys.zipWithIndex.map { case (v, j) => (j.toLong, v) }.toDF("id", "v")
      val got = GlobalRank.rankRatios(df, Seq("v"), prkCol = "prk", cdCol = "cd",
        tiesPossible = true)
        .select($"id", $"prk", $"cd").as[(Long, Double, Double)].collect()
        .map { case (id, p, c) => id -> (p, c) }.toMap
      val want = df.select(
        $"id",
        percent_rank().over(Window.orderBy("v")).as("prk"),
        cume_dist().over(Window.orderBy("v")).as("cd"))
        .as[(Long, Double, Double)].collect().map { case (id, p, c) => id -> (p, c) }.toMap
      assert(got == want, s"sample $i")
    }
  }

  test("GlobalRank.withRunningTotal == exclusive window prefix sum on random values") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    val valGen = Gen.listOfN(50, Gen.choose(0L, 100L))
    for ((vals, i) <- samples(valGen, 5).zipWithIndex if vals.nonEmpty) {
      val df = vals.zipWithIndex.map { case (v, j) => (j.toLong, v) }
        .toDF("id", "v").repartition(7) // arbitrary input partitioning
      val got = GlobalRank.withRunningTotal(df, Seq("id"), "v", "cum")
        .select($"id", $"cum").as[(Long, Long)].collect().toMap
      val want = df.select(
        $"id",
        coalesce(
          sum($"v").over(Window.orderBy("id").rowsBetween(Long.MinValue, -1)),
          lit(0L)).as("cum"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"sample $i")
    }
  }

  test("GlobalRank fused stamp == separate rank + running total on random values") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    val valGen = Gen.listOfN(60, Gen.choose(0L, 100L))
    for ((vals, i) <- samples(valGen, 5).zipWithIndex if vals.nonEmpty) {
      val df = vals.zipWithIndex.map { case (v, j) => (j.toLong, v) }
        .toDF("id", "v").repartition(7)
      val got = GlobalRank.withRowNumberAndRunningTotal(df, Seq("id"), "v",
        rnCol = "rn", cumCol = "cum")
        .select($"id", $"rn", $"cum").as[(Long, Long, Long)].collect()
        .map { case (id, rn, c) => id -> (rn, c) }.toMap
      val want = df.select(
        $"id",
        row_number().over(Window.orderBy("id")).cast("long").as("rn"),
        coalesce(
          sum($"v").over(Window.orderBy("id").rowsBetween(Long.MinValue, -1)),
          lit(0L)).as("cum"))
        .as[(Long, Long, Long)].collect()
        .map { case (id, rn, c) => id -> (rn, c) }.toMap
      assert(got == want, s"sample $i")
    }
    // duplicated order key fails loudly — both outputs would be wrong
    val dup = Seq((1L, 5L), (1L, 7L)).toDF("k", "v")
    val ex = intercept[org.apache.spark.SparkException] {
      GlobalRank.withRowNumberAndRunningTotal(dup, Seq("k"), "v").collect()
    }
    assert(ex.getMessage.contains("nondeterministic") || Option(ex.getCause)
      .exists(_.getMessage.contains("nondeterministic")))
  }

  test("GlobalRank.withRunningTotal on a duplicated order key fails loudly") {
    import graft.operators.GlobalRank
    val df = Seq((1L, 5L), (1L, 7L), (2L, 1L)).toDF("k", "v")
    val ex = intercept[org.apache.spark.SparkException] {
      GlobalRank.withRunningTotal(df, Seq("k"), "v").collect()
    }
    assert(ex.getMessage.contains("nondeterministic") || Option(ex.getCause)
      .exists(_.getMessage.contains("nondeterministic")))
  }

  test("GlobalRank: colliding output column names are rejected up front") {
    import graft.operators.GlobalRank
    val df = Seq((1L, 5L)).toDF("id", "v")
    // withColumn would REPLACE an existing column while the stamped schema
    // APPENDS one — arity corruption at createDataFrame; must fail eagerly
    intercept[IllegalArgumentException] {
      GlobalRank.withRunningTotal(df, Seq("id"), "v", outCol = "v")
    }
    intercept[IllegalArgumentException] {
      GlobalRank.withRowNumber(df, Seq("id"), rnCol = "id")
    }
    intercept[IllegalArgumentException] {
      GlobalRank.withRowNumber(df, Seq("id"), nCol = "v")
    }
  }

  test("GlobalRank: duplicated BINARY order keys are detected as ties") {
    import graft.operators.GlobalRank
    // binary cells surface as Array[Byte], whose == is reference equality —
    // the tie guard must compare contents or md5-keyed ties slip through
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("s", "v")
      .select(unhex(md5($"s")).as("k"), $"v") // k duplicated for the two "a"s
    val ex = intercept[org.apache.spark.SparkException] {
      GlobalRank.withRunningTotal(df, Seq("k"), "v").collect()
    }
    assert(ex.getMessage.contains("nondeterministic") || Option(ex.getCause)
      .exists(_.getMessage.contains("nondeterministic")))
  }

  test("triangle sub-blocking == plain all-pairs join for any cap (random vectors)") {
    import graft.sim.Similarity
    val vecGen: Gen[List[(Int, Int, Int, Int)]] =
      Gen.listOfN(35, Gen.zip(
        Gen.choose(0, 1), Gen.choose(-100, 100), Gen.choose(-100, 100), Gen.choose(-100, 100)))
    for ((rows, si) <- samples(vecGen, 2).zipWithIndex) {
      val df = rows.zipWithIndex.map { case ((lbl, a, b, c), i) =>
        // +1.0 on the last dim keeps every vector non-zero (cosine defined)
        (i.toLong, Seq(a / 100.0f, b / 100.0f, c / 100.0f, 1.0f), lbl)
      }.toDF("vec_id", "embedding", "label")
      val plain = Similarity.nearDuplicatePairs(
        df, "vec_id", "embedding", "label", -2.0, maxBlockRows = Int.MaxValue)
        .as[(Long, Long, Double)].collect().toSet
      for (cap <- Seq(1, 6)) {
        val capped = Similarity.nearDuplicatePairs(
          df, "vec_id", "embedding", "label", -2.0, maxBlockRows = cap)
          .as[(Long, Long, Double)].collect().toSet
        assert(capped == plain, s"sample $si cap=$cap: capped pairs diverge from plain join")
      }
    }
  }

  test("count-min estimates upper-bound exact counts on random streams") {
    import graft.operators.CountMinSketch
    val streamGen: Gen[List[String]] =
      Gen.listOfN(120, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
    for (stream <- samples(streamGen, 3) if stream.nonEmpty) {
      val occ = stream.toDF("t")
      val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val keys = exact.keys.toSeq.map(k => (k, exact(k))).toDF("t", "exact_n")
      val est = CountMinSketch.estimate(
        CountMinSketch.build(occ, $"t", 3, 32), keys, "t", 3, 32)
        .as[(String, Long, Long)].collect()
      for ((k, ex, cm) <- est) assert(cm >= ex, s"CM($k)=$cm < exact $ex")
    }
  }

  test("temperature rebalance (sqrt): subset of input, smallest stratum whole, deterministic") {
    import graft.load.Splits
    val mixGen: Gen[List[(Long, String)]] = Gen.listOfN(60, Gen.zip(
      Gen.choose(0L, 100000L), Gen.frequency(5 -> Gen.const("big"), 1 -> Gen.const("small"))))
    for (rows0 <- samples(mixGen, 3)) {
      val rows = rows0.distinctBy(_._1)
      if (rows.map(_._2).distinct.size == 2) {
        val df = rows.toDF("id", "s")
        val kept = Splits.temperatureRebalanceSqrt(df, "s", col("id"))
          .select("id", "s").as[(Long, String)].collect().toSet
        assert(kept.subsetOf(rows.toSet)) // never invents rows
        val minStratum = rows.groupBy(_._2).minBy(_._2.size)._1
        val minRows = rows.filter(_._2 == minStratum).toSet
        assert(minRows.subsetOf(kept), "smallest stratum must be kept whole")
      }
    }
  }

  test("GlobalRank: tiesPossible=false on genuinely tied keys fails loudly, not silently") {
    import graft.operators.GlobalRank
    val df = Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("id", "v") // v=10 duplicated
    val ex = intercept[org.apache.spark.SparkException] {
      GlobalRank.rankRatios(df, Seq("v"), tiesPossible = false).collect()
    }
    assert(ex.getMessage.contains("tiesPossible") || Option(ex.getCause)
      .exists(_.getMessage.contains("tiesPossible")))
    // the stamp itself, asked to fail on ties, fails the same way
    val exRn = intercept[org.apache.spark.SparkException] {
      GlobalRank.withRowNumber(df, Seq("v"), failOnTies = true).collect()
    }
    assert(exRn.getMessage.contains("tiesPossible") || Option(exRn.getCause)
      .exists(_.getMessage.contains("tiesPossible")))
    // and the same data under a total order (unique tie-break appended) is fine
    val ok = GlobalRank.rankRatios(df, Seq("v", "id"), tiesPossible = false)
    assert(ok.count() == 3)
  }

  test("prefix join equals brute force on random corpora (no false negatives)") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = Gen.listOfN(12, Gen.choose(3, 9).flatMap(n => Gen.listOfN(n, wordGen)))
    for (docs <- samples(docGen, 3)) {
      val corpus = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toDF("doc_id", "text")
      val got = graft.dedup.PrefixJoin
        .jaccardPairs(corpus, "doc_id", "text", shingleSize = 2, tNum = 1, tDen = 3)
        .as[(Long, Long, Double)].collect().toSet
      val sets = corpus.select($"doc_id",
          graft.dedup.NGramJaccard.shingleSet($"text", 2).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      val brute = (for {
        a <- sets.keys; b <- sets.keys
        if a < b && sets(a).nonEmpty && sets(b).nonEmpty
        o = sets(a).toSet.intersect(sets(b).toSet).size
        u = sets(a).size + sets(b).size - o
        if o * 3 >= u
      } yield (a, b, o.toDouble / u)).toSet
      assert(got == brute)
    }
  }

  test("hyperloglog merge law on random splits: merge(parts) == whole-stream build") {
    import graft.operators.HyperLogLog
    val nGen = Gen.choose(200, 800)
    for (n <- samples(nGen, 3)) {
      val ids = spark.range(n.toLong).select($"id")
      val whole = HyperLogLog.registers(ids, $"id")
        .orderBy("bucket").as[(Int, Int)].collect().toSeq
      // split by an arbitrary hash predicate, not a range, then merge
      val p = pmod(xxhash64($"id"), lit(3))
      val parts = (0 until 3).map(i => HyperLogLog.registers(ids.filter(p === i), $"id"))
      val merged = parts.reduce(HyperLogLog.merge)
        .orderBy("bucket").as[(Int, Int)].collect().toSeq
      assert(merged == whole)
      // estimates therefore identical too
      assert(HyperLogLog.estimate(parts.reduce(HyperLogLog.merge)).as[Double].head() ==
        HyperLogLog.estimate(HyperLogLog.registers(ids, $"id")).as[Double].head())
    }
  }

  test("containment join equals brute force on random corpora (directed, no false negatives)") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = Gen.listOfN(12, Gen.choose(2, 9).flatMap(n => Gen.listOfN(n, wordGen)))
    for (docs <- samples(docGen, 3)) {
      val corpus = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toDF("doc_id", "text")
      val got = graft.dedup.PrefixJoin
        .containmentPairs(corpus, "doc_id", "text", shingleSize = 2, tNum = 1, tDen = 2)
        .as[(Long, Long, Double)].collect().toSet
      val sets = corpus.select($"doc_id",
          graft.dedup.NGramJaccard.shingleSet($"text", 2).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      val brute = (for {
        a <- sets.keys; b <- sets.keys
        if a != b && sets(a).nonEmpty && sets(b).nonEmpty
        o = sets(a).toSet.intersect(sets(b).toSet).size
        if o * 2 >= sets(a).size
      } yield (a, b, o.toDouble / sets(a).size)).toSet
      assert(got == brute)
    }
  }

  test("skip-gram pairs equal the brute-force window definition on random docs") {
    val wordGen = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.listOfN(8, Gen.choose(0, 7).flatMap(n => Gen.listOfN(n, wordGen)))
    for ((docs, w) <- samples(docGen, 3).zip(Seq(1, 2, 3))) {
      val corpus = docs.map(_.mkString(" ")).toDF("text")
      val got = graft.text.Vocab.skipgramPairs(corpus, "text", window = w)
        .as[(String, String, Long)].collect()
        .map { case (c, x, n) => ((c, x), n) }.toMap
      val brute = docs.flatMap { toks =>
        for {
          i <- toks.indices; j <- toks.indices
          if i != j && math.abs(i - j) <= w
        } yield (toks(i), toks(j))
      }.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      assert(got == brute)
    }
  }

  test("triangles equal brute force on random graphs; counts are orientation-free") {
    val edgeGen = Gen.listOfN(25, Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9)))
    for (raw <- samples(edgeGen, 3)) {
      val edges = raw.map { case (a, b) => (s"n$a", s"n$b") }.toDF("a", "b")
      val got = graft.operators.Triangles.perVertexCounts(edges)
        .as[(String, Long)].collect().toMap
      val und = raw.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2))
      val tris = for {
        a <- nodes; b <- nodes; c <- nodes
        if a < b && b < c && und((a, b)) && und((b, c)) && und((a, c))
      } yield (a, b, c)
      val brute = tris.toSeq.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (k, v) => (s"n$k", v.size.toLong) }
      assert(got == brute)
    }
  }

  test("pagerank: total rank is bounded and node relabeling permutes ranks exactly") {
    import graft.operators.PageRank
    val edgeGen = Gen.listOfN(20, Gen.zip(Gen.choose(0, 7), Gen.choose(0, 7)))
    for (raw <- samples(edgeGen, 2)) {
      val clean = raw.filter(p => p._1 != p._2)
      if (clean.nonEmpty) {
        // undirected: both directions, so no dangling mass
        val sym = (clean ++ clean.map(_.swap)).distinct
        val edges = sym.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst")
        val r = PageRank.ranks(edges, iters = 2).as[(String, Long)].collect().toMap
        val n = r.size
        val scale = 1000000000000L
        // truncation only ever LOSES mass; the 0.15 floor is exact
        assert(r.values.sum <= n * scale)
        assert(r.values.forall(_ >= 3L * (scale / 20)))
        // relabel nodes: ranks must follow the relabeling bijectively
        val edges2 = sym.map { case (a, b) => (s"m${9 - a}", s"m${9 - b}") }.toDF("src", "dst")
        val r2 = PageRank.ranks(edges2, iters = 2).as[(String, Long)].collect().toMap
        assert(r.map { case (k, v) => (s"m${9 - k.drop(1).toInt}", v) } == r2)
      }
    }
  }

  test("KS statistic == brute-force max CDF gap on random labeled scores") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.oneOf(true, false), Gen.choose(0L, 20L)))
    for (rows <- samples(gen, 5)
         if rows.exists(_._1) && rows.exists(!_._1)) {
      val df = rows.toDF("lbl", "sc")
      val got = graft.operators.Experiment.ksStatistic(df, "lbl", "sc").head()
      // brute force: for every threshold t, |F_pos(t) − F_neg(t)| via exact
      // integer cross products; tie -> smallest t
      val nP = rows.count(_._1).toLong
      val nN = rows.size - nP
      val byT = rows.map(_._2).distinct.sorted.map { t =>
        val ip = rows.count(r => r._1 && r._2 <= t).toLong
        val in = rows.count(r => !r._1 && r._2 <= t).toLong
        (t, math.abs(ip * nN - in * nP))
      }
      val dMax = byT.map(_._2).max
      val tStar = byT.filter(_._2 == dMax).map(_._1).min
      assert(got.getAs[Long]("n_pos") == nP && got.getAs[Long]("n_neg") == nN)
      assert(got.getAs[Long]("ks_score") == tStar, s"rows=$rows")
      val ksExpected = math.floor(dMax.toDouble / (nP * nN).toDouble * 1e6 + 0.5) / 1e6
      assert(got.getAs[Double]("ks") == ksExpected, s"rows=$rows")
    }
  }

  test("rolling z-score matches the brute-force trailing baseline everywhere") {
    val gen = Gen.listOfN(25, Gen.choose(0L, 50L))
    for (vals <- samples(gen, 5) if vals.size >= 5) {
      val df = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("g", "t", "v")
      val got = graft.operators.TimeSeries
        .rollingZScore(df, Seq("g"), "t", "v", window = 4)
        .orderBy("t").select("z").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      vals.indices.foreach { i =>
        val base = vals.slice(math.max(0, i - 4), i)
        val expect =
          if (base.size < 4) None
          else {
            val n = base.size.toLong
            val s = base.sum
            val ss = base.map(x => BigInt(x) * BigInt(x)).sum
            val varNum = BigInt(n) * ss - BigInt(s) * BigInt(s)
            if (varNum <= 0) None
            else Some((vals(i).toDouble - s.toDouble / n.toDouble) /
              math.sqrt(varNum.toDouble / (n * (n - 1)).toDouble))
          }
        assert(got(i) == expect, s"i=$i vals=$vals")
      }
    }
  }

  test("components == driver union-find on random graphs, any id alphabet") {
    // the star alternation must produce EXACTLY the transitive closure's
    // min-id labeling for arbitrary edge sets — including the adversarial
    // unpadded-string alphabet ("n1" < "n10" < "n2") the hash remap is
    // there to neutralize
    // mixed family: random sparse graphs (many components, odd shapes)
    // plus PATHS over randomly-offset ids — paths are the adversarial
    // shape for min-based component algorithms (the unsound depth-only
    // convergence probe this test guards against accepted a 5-path whose
    // hash ranks ran min-at-one-end-next-to-max after ONE round, quietly
    // splitting the component)
    val edgesGen: Gen[List[(Int, Int)]] =
      Gen.listOfN(40, Gen.zip(Gen.choose(0, 24), Gen.choose(0, 24)))
    val pathGen: Gen[List[(Int, Int)]] = for {
      n <- Gen.choose(4, 12)
      off <- Gen.choose(0, 5000)
      step <- Gen.oneOf(1, 7, 13, 101)
    } yield (0 until n - 1).map(i => (off + i * step, off + (i + 1) * step)).toList
    for (raw <- samples(edgesGen, 8) ++ samples(pathGen, 24)) {
      val edges = raw.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver union-find ground truth over string ids
        val parent = scala.collection.mutable.Map[String, String]()
        def find(x: String): String = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        def union(a: String, b: String): Unit = {
          val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
        }
        val named = edges.map { case (a, b) => (s"n$a", s"n$b") }
        named.foreach { case (a, b) => union(a, b) }
        val nodes = named.flatMap(p => Seq(p._1, p._2)).distinct
        val want = nodes
          .groupBy(find)
          .flatMap { case (_, members) =>
            val m = members.min // min ORIGINAL (string-ordered) id
            members.map(_ -> m)
          }
        val got = graft.dedup.DupClusters
          .components(named.toDF("a", "b"), "a", "b")
          .as[(String, String)].collect().toMap
        assert(got == want, s"edges=$named")
      }
    }
  }

  test("PNG decode is corruption-safe: any single-byte flip throws, never wrong pixels") {
    // CRC32 covers every chunk's type+data and the signature/length fields
    // are structurally checked, so NO single-byte corruption can decode
    // silently — the property a crawler-facing decoder actually needs
    // (wrong pixels poison fingerprints downstream; exceptions are cheap)
    import graft.multimodal.PngCodec
    val px = Array.tabulate(8 * 6)(i => (i * 0x04050B + 7) & 0xFFFFFF)
    val png = PngCodec.encode(8, 6, px)
    val offsets = samples(Gen.choose(0, png.length - 1), 60).distinct
    for (off <- offsets; bit <- Seq(0x01, 0x80)) {
      val c = png.clone()
      c(off) = (c(off) ^ bit).toByte
      try {
        val img = PngCodec.decode(c)
        // a flip that still decodes must yield the ORIGINAL image (can
        // only happen if the flip round-tripped to the same byte — it
        // can't — so reaching here with equal pixels is also a failure)
        fail(s"byte $off flip $bit decoded silently " +
          s"(pixels equal: ${img.pixels.toSeq == px.toSeq})")
      } catch {
        case _: IllegalArgumentException => // loud and typed — correct
      }
    }
  }

  test("JPEG decode is corruption-contained: any single-byte flip throws typed or decodes dims") {
    // JPEG carries NO integrity checks (no CRC anywhere in T.81), so a
    // flipped entropy byte CAN decode silently to wrong pixels — that is
    // the format, not a codec bug. The property a 100 TB ingest needs is
    // CONTAINMENT: corruption must never escape as an untyped error
    // (ArrayIndexOutOfBounds, NegativeArraySize, OOM-sized allocations) or
    // a malformed frame — every flip either throws
    // IllegalArgumentException or yields a frame with the declared
    // dimensions, deterministically.
    import graft.multimodal.JpegCodec
    val px = Array.tabulate(16 * 16)(i => (i * 0x030507 + 11) & 0xFFFFFF)
    val jpg = JpegCodec.encode(16, 16, px)
    val offsets = samples(Gen.choose(2, jpg.length - 1), 80).distinct
    for (off <- offsets; bit <- Seq(0x01, 0x80)) {
      val c = jpg.clone()
      c(off) = (c(off) ^ bit).toByte
      try {
        val a = JpegCodec.decode(c)
        // a flip in the SOF dimension bytes legitimately changes the
        // declared dims — containment means the frame is internally
        // consistent and allocation-bounded, not that dims survive
        assert(a.pixels.length == a.width * a.height && a.width > 0 && a.height > 0,
          s"byte $off flip $bit: malformed frame")
        val b = JpegCodec.decode(c)
        assert(a.pixels.toSeq == b.pixels.toSeq,
          s"byte $off flip $bit: nondeterministic decode")
      } catch {
        case _: IllegalArgumentException => // loud and typed — also correct
      }
    }
  }

  private def editDistance(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
