package graft

import graft.operators.{AsOfJoin, PartitionBatch, RangeJoin}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join: latest prior match per key, equality included, none -> null") {
    val left = Seq((1, 10L, "e1"), (1, 20L, "e2"), (2, 5L, "e3"))
      .toDF("k", "t", "name")
    val right = Seq((1, 10L, "r@10"), (1, 15L, "r@15"), (1, 30L, "r@30"))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.lastPriorMatch(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("name", "asof_v").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("e1") == Some("r@10")) // equal timestamp matches (<=)
    assert(out("e2") == Some("r@15")) // latest prior, not first
    assert(out("e3") == None) // key with no right rows at all
  }

  test("native as-of exec: plans AsOfJoinExec and matches the window formulation") {
    val left = Seq((1, 10L, "e1"), (1, 20L, "e2"), (2, 5L, "e3"), (3, 7L, "e4"))
      .toDF("k", "t", "name")
    val right = Seq((1, 10L, "r@10"), (1, 15L, "r@15"), (1, 30L, "r@30"), (2, 5L, "r@5"))
      .toDF("k", "rt", "v")
    val native = AsOfJoin.lastPriorMatchNative(left, right, Seq("k"), "t", "rt", Seq("v"))
    assert(native.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      native.queryExecution.executedPlan.toString)
    val a = native.orderBy("k", "t").collect().map(_.toSeq).toSeq
    val b = AsOfJoin.lastPriorMatch(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy("k", "t").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("native as-of exec == naive quadratic implementation on random data") {
    val rnd = new scala.util.Random(13)
    val left = (1 to 150).map(i => (rnd.nextInt(6), rnd.nextInt(1000).toLong, i))
    val right = (1 to 90).map(i => (rnd.nextInt(6), rnd.nextInt(1000).toLong, s"v$i"))
    val got = AsOfJoin.lastPriorMatchNative(
      left.toDF("k", "t", "lid"), right.toDF("k", "rt", "v"),
      Seq("k"), "t", "rt", Seq("rt"))
      .select("lid", "asof_rt").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val want = left.map { case (k, t, lid) =>
      val cands = right.filter(r => r._1 == k && r._2 <= t)
      lid -> (if (cands.isEmpty) -1L else cands.map(_._2).max)
    }.toMap
    assert(got == want)
  }

  test("native as-of exec: empty right side yields all-null matches") {
    val left = Seq((1, 10L, "e1")).toDF("k", "t", "name")
    val right = Seq.empty[(Int, Long, String)].toDF("k", "rt", "v")
    val out = AsOfJoin.lastPriorMatchNative(left, right, Seq("k"), "t", "rt", Seq("v"))
    assert(out.collect().map(r => Option(r.getString(3))).toSeq == Seq(None))
  }

  test("range join: boundary semantics [lo, hi) across bucket edges") {
    val points = Seq((1, 0.0), (2, 49.999), (3, 50.0), (4, 99.999), (5, 100.0), (6, -1.0))
      .toDF("id", "p")
    val intervals = Seq(("a", 0.0, 50.0), ("b", 50.0, 100.0)).toDF("band", "lo", "hi")
    val out = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", 30.0)
      .select("id", "band").as[(Int, String)].collect().toSet
    assert(out == Set((1, "a"), (2, "a"), (3, "b"), (4, "b"))) // 100.0 and -1.0 unmatched
  }

  test("range join: interval spanning many buckets matches throughout") {
    val points = Seq((1, 5.0), (2, 95.0), (3, 250.0)).toDF("id", "p")
    val intervals = Seq(("wide", 0.0, 300.0)).toDF("band", "lo", "hi")
    val out = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", 10.0)
    assert(out.count() == 3)
  }

  test("as-of join == naive quadratic implementation on random data") {
    val rnd = new scala.util.Random(7)
    val left = (1 to 120).map(i => (rnd.nextInt(5), rnd.nextInt(1000).toLong, i))
    val right = (1 to 80).map(i => (rnd.nextInt(5), rnd.nextInt(1000).toLong, s"v$i"))
    val got = AsOfJoin.lastPriorMatch(
      left.toDF("k", "t", "lid"), right.toDF("k", "rt", "v"),
      Seq("k"), "t", "rt", Seq("rt"))
      .select("lid", "asof_rt").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val want = left.map { case (k, t, lid) =>
      val cands = right.filter(r => r._1 == k && r._2 <= t)
      lid -> (if (cands.isEmpty) -1L else cands.map(_._2).max)
    }.toMap
    assert(got == want)
  }

  test("range join == naive inequality join on random data") {
    val rnd = new scala.util.Random(11)
    val points = (1 to 150).map(i => (i, rnd.nextDouble() * 400 - 50))
    val intervals = (1 to 25).map { i =>
      val lo = rnd.nextDouble() * 300 - 25
      (i, lo, lo + rnd.nextDouble() * 120)
    }
    val got = RangeJoin.pointInInterval(
      points.toDF("pid", "p"), intervals.toDF("iid", "lo", "hi"),
      "p", "lo", "hi", bucketWidth = 37.0)
      .select("pid", "iid").as[(Int, Int)].collect().toSet
    val want = (for {
      (pid, p) <- points; (iid, lo, hi) <- intervals
      if p >= lo && p < hi
    } yield (pid, iid)).toSet
    assert(got == want)
  }

  // ---- time series / robust stats ----------------------------------------

  test("interpolateLinear: interior nulls on the line, edges stay null, values pass through") {
    import graft.operators.TimeSeries
    val df = Seq(
      (1L, 0L, None: Option[Double]), // leading edge -> null
      (1L, 10L, Some(1.0)),
      (1L, 12L, None: Option[Double]), // interior -> 1 + (5-1)*(2/10) = 1.8
      (1L, 15L, None: Option[Double]), // interior -> 1 + (5-1)*(5/10) = 3.0
      (1L, 20L, Some(5.0)),
      (1L, 30L, None: Option[Double]), // trailing edge -> null
      (2L, 1L, None: Option[Double])) // key with no observations at all
      .toDF("k", "x", "v")
    val out = TimeSeries.interpolateLinear(df, Seq("k"), "x", "v", "y")
      .select("k", "x", "y").as[(Long, Long, Option[Double])].collect()
      .map { case (k, x, y) => (k, x) -> y }.toMap
    assert(out((1L, 0L)).isEmpty && out((1L, 30L)).isEmpty && out((2L, 1L)).isEmpty)
    assert(out((1L, 10L)).contains(1.0) && out((1L, 20L)).contains(5.0))
    assert(math.abs(out((1L, 12L)).get - 1.8) < 1e-12)
    assert(math.abs(out((1L, 15L)).get - 3.0) < 1e-12)
  }

  test("groupTrend: exact slope on a known line; degenerate groups null") {
    import graft.operators.TimeSeries
    val df = Seq(
      // y = 2x + 1 exactly (2-dp values): slope 2
      ("line", 0L, 1.0), ("line", 10L, 21.0), ("line", 20L, 41.0),
      // constant y: slope 0
      ("flat", 0L, 5.25), ("flat", 100L, 5.25),
      // single point → denominator 0 → null
      ("one", 7L, 3.0),
      // constant x → denominator 0 → null
      ("vert", 4L, 1.0), ("vert", 4L, 9.0))
      .toDF("g", "x", "y")
    val got = TimeSeries.groupTrend(df, Seq("g"), "x", "y")
      .select("g", "slope").as[(String, Option[Double])].collect().toMap
    assert(got("line").contains(2.0))
    assert(got("flat").contains(0.0))
    assert(got("one").isEmpty && got("vert").isEmpty)
  }

  test("madOutlierStats: hand-computed median/MAD/outlier count") {
    import graft.operators.RobustStats
    // values 1..9 plus a wild 1000: median 5.5, |x-5.5| = {4.5,3.5,...,0.5,994.5}
    // -> MAD = 2.5; only 1000 exceeds 5.5 + 3*2.5 = 13
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).map(v => ("a", v)).toDF("g", "v")
    val r = RobustStats.madOutlierStats(df, Seq("g"), "v").head()
    assert(r.getAs[Double]("median") == 5.5)
    assert(r.getAs[Double]("mad") == 2.5)
    assert(r.getAs[Long]("n_outliers") == 1L)
  }

  test("madOutlierStats: a NULL group key is a group, not dropped rows") {
    import graft.operators.RobustStats
    val df = (Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)) ++
      Seq((null: String, 10.0), (null, 20.0), (null, 30.0))).toDF("g", "v")
    val out = RobustStats.madOutlierStats(df, Seq("g"), "v").collect()
    assert(out.length == 2, "NULL-keyed group must appear in the stats")
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getAs[Double]("median") == 20.0)
  }

  // ---- bloom-reduced joins ------------------------------------------------

  test("BloomPrune semi/anti == plain semi/anti joins on random data with nulls") {
    import graft.operators.BloomPrune
    val rng = new scala.util.Random(13)
    val big = (1 to 2000).map(i =>
      (if (rng.nextInt(20) == 0) null else rng.nextInt(300).toString, i))
      .toDF("k", "payload")
    val small = (1 to 60).map(_ => rng.nextInt(400).toString).toDF("sk")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("payload").as[Int].collect().toSet
    val wantSemi = ids(big.join(small.select(col("sk").as("k")), Seq("k"), "left_semi"))
    val wantAnti = ids(big.join(small.select(col("sk").as("k")), Seq("k"), "left_anti"))
    assert(ids(BloomPrune.semiJoinReduced(big, small, "k", "sk", 1000L)) == wantSemi)
    assert(ids(BloomPrune.antiJoinReduced(big, small, "k", "sk", 1000L)) == wantAnti)
    assert(wantSemi.nonEmpty && wantAnti.nonEmpty) // both paths actually exercised
  }

  test("BloomPrune: empty small side — semi empty, anti keeps everything") {
    import graft.operators.BloomPrune
    val big = Seq(("a", 1), ("b", 2), (null, 3)).toDF("k", "payload")
    val small = Seq.empty[String].toDF("sk")
    assert(BloomPrune.semiJoinReduced(big, small, "k", "sk", 10L).count() == 0)
    assert(BloomPrune.antiJoinReduced(big, small, "k", "sk", 10L).count() == 3)
  }

  // ---- global rank --------------------------------------------------------

  test("GlobalRank.ntile == built-in ntile under a total order") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(7)
    val df = (1L to 997L).map(i => (i, rng.nextInt(50).toDouble)).toDF("id", "v")
    val w = Window.orderBy(col("v"), col("id"))
    val want = df.select(col("id"), ntile(7).over(w).cast("long").as("b"))
      .as[(Long, Long)].collect().toMap
    val got = GlobalRank.ntile(df, Seq("v", "id"), buckets = 7, outCol = "b")
      .select("id", "b").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("GlobalRank.rankRatios == built-in percent_rank/cume_dist including tied groups") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(11)
    // only 9 distinct values over 500 rows: heavy ties exercise the
    // tie-group min/max join
    val df = (1L to 500L).map(i => (i, rng.nextInt(9).toDouble)).toDF("id", "v")
    val w = Window.orderBy(col("v"))
    val want = df.select(
      col("id"),
      round(percent_rank().over(w), 9).as("prk"),
      round(cume_dist().over(w), 9).as("cd"))
      .as[(Long, Double, Double)].collect().map { case (i, p, c) => i -> ((p, c)) }.toMap
    val got = GlobalRank.rankRatios(df, Seq("v"), prkCol = "prk", cdCol = "cd")
      .select(col("id"), round(col("prk"), 9), round(col("cd"), 9))
      .as[(Long, Double, Double)].collect().map { case (i, p, c) => i -> ((p, c)) }.toMap
    assert(got == want)
  }

  test("GlobalRank.rankRatios keeps NULL order-key rows (null-safe tie join)") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, None: Option[Double]), (2L, Some(10.0)), (3L, Some(10.0)),
      (4L, None: Option[Double]))
      .toDF("id", "v")
    val w = Window.orderBy(col("v"))
    val want = df.select(col("id"), round(percent_rank().over(w), 9).as("prk"),
      round(cume_dist().over(w), 9).as("cd"))
      .as[(Long, Double, Double)].collect().toSet
    val got = GlobalRank.rankRatios(df, Seq("v"), prkCol = "prk", cdCol = "cd")
      .select(col("id"), round(col("prk"), 9), round(col("cd"), 9))
      .as[(Long, Double, Double)].collect().toSet
    assert(got == want) // 4 rows in, 4 rows out — nulls are a rank group
  }

  test("GlobalRank: single row and n < buckets edge cases") {
    import graft.operators.GlobalRank
    val one = Seq((1L, 1.0)).toDF("id", "v")
    assert(GlobalRank.rankRatios(one, Seq("v", "id")).select("percent_rank", "cume_dist")
      .as[(Double, Double)].head() == ((0.0, 1.0)))
    // 3 rows into 5 buckets: each row its own bucket 1..3 (SQL semantics)
    val three = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
    assert(GlobalRank.ntile(three, Seq("v", "id"), 5, "b")
      .select("id", "b").as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("morton key: bit interleave exact, locality beats lexicographic on the minor dimension") {
    import graft.operators.ZOrder
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (65535L, 65535L))
      .toDF("x", "y")
      .select(ZOrder.mortonKey16($"x", $"y")).as[Long].collect().toSeq
    // z(1,0)=1 (x bits even), z(0,1)=2 (y bits odd), z(1,1)=3, z(max,max)=2^32-1
    assert(got == Seq(0L, 1L, 2L, 3L, 4294967295L))
    // locality: points sorted by z-key — a window of the order contains
    // near neighbors in BOTH dims, so y-ranges per z-run stay bounded,
    // unlike an x-lexicographic sort where y is arbitrary within equal x
    val z82 = ZOrder.mortonKey16(lit(8L), lit(2L))
    val z83 = ZOrder.mortonKey16(lit(8L), lit(3L))
    val z8big = ZOrder.mortonKey16(lit(8L), lit(60000L))
    val r = spark.range(1).select(z82.as("a"), z83.as("b"), z8big.as("c")).head()
    assert(math.abs(r.getLong(1) - r.getLong(0)) < math.abs(r.getLong(2) - r.getLong(0)))
  }

  test("skippingDepthMulti: integral order columns only") {
    import graft.operators.ZOrder
    val df = Seq((1, "b", 10L), (2, "a", 20L), (3, "c", 30L)).toDF("i", "s", "k")
    val e = intercept[IllegalArgumentException](
      ZOrder.skippingDepthMulti(df, Seq("by_i" -> Seq("i"), "by_s" -> Seq("s")), "k", 2))
    assert(e.getMessage.contains("order column s is string"))
    val depths = ZOrder.skippingDepthMulti(df, Seq("by_i" -> Seq("i")), "k", 2)
      .select("chunk", "n_rows", "depth").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(depths == Seq((1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("count-min sketch: estimates upper-bound exact counts; unseen key is 0; merge = rebuild") {
    import graft.operators.CountMinSketch
    val occ = (Seq.fill(50)("hot") ++ Seq.fill(7)("warm") ++ Seq("cold")).toDF("t")
    val sk = CountMinSketch.build(occ, $"t", depth = 4, width = 64)
    // sketch table is bounded by depth*width no matter the stream
    assert(sk.count() <= 4L * 64)
    val keys = Seq(("hot", 50L), ("warm", 7L), ("cold", 1L), ("never", 0L)).toDF("t", "exact_n")
    val est = CountMinSketch.estimate(sk, keys, "t", depth = 4, width = 64)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    for ((k, (exact, cm)) <- est) assert(cm >= exact, s"$k: CM $cm under-estimates $exact")
    assert(est("never")._2 == 0L) // nothing hashed there in this tiny stream
    // merging two half-streams equals building over the whole stream
    val (a, b) = ((Seq.fill(25)("hot") ++ Seq.fill(7)("warm")).toDF("t"),
      (Seq.fill(25)("hot") ++ Seq("cold")).toDF("t"))
    val merged = CountMinSketch.merge(
      CountMinSketch.build(a, $"t", 4, 64), CountMinSketch.build(b, $"t", 4, 64))
    val whole = sk.orderBy("row", "cell").as[(Int, Long, Long)].collect().toSeq
    assert(merged.orderBy("row", "cell").as[(Int, Long, Long)].collect().toSeq == whole)
    // keys carrying the operator's internal column names are rejected up
    // front (the join/groupBy would otherwise be ambiguous or silently wrong)
    for (bad <- Seq("row", "cell", "c", "_p")) {
      val ex = intercept[IllegalArgumentException] {
        CountMinSketch.estimate(sk, keys.withColumn(bad, lit(1)), "t", 4, 64)
      }
      assert(ex.getMessage.contains(bad))
    }
  }

  test("hyperloglog: bounded sketch, sane estimate, merge = whole-stream build") {
    import graft.operators.HyperLogLog
    val ids = spark.range(10000).select($"id")
    val reg = HyperLogLog.registers(ids, $"id")
    val regs = reg.as[(Int, Int)].collect()
    assert(regs.length <= HyperLogLog.Buckets)
    assert(regs.forall { case (b, r) => b >= 0 && b < 256 && r >= 1 && r <= 53 })
    // raw estimator at n/m ~ 39 (well past the small-range regime): the
    // standard error is 1.04/sqrt(256) = 6.5%; 15% is a generous pin
    val est = HyperLogLog.estimate(reg).as[Double].head()
    assert(math.abs(est - 10000.0) <= 1500.0, s"estimate $est off by >15%")
    // composition law: merging two half-stream sketches equals one build
    val lo = HyperLogLog.registers(ids.filter($"id" < 5000), $"id")
    val hi = HyperLogLog.registers(ids.filter($"id" >= 5000), $"id")
    val merged = HyperLogLog.merge(lo, hi).orderBy("bucket").as[(Int, Int)].collect().toSeq
    assert(merged == reg.orderBy("bucket").as[(Int, Int)].collect().toSeq)
    // grouped build collapsed over the group column is the same registers
    val viaGroups = HyperLogLog
      .groupedRegisters(ids, $"id", pmod($"id", lit(7)))
      .groupBy("bucket").agg(max("rho").as("rho"))
      .orderBy("bucket").as[(Int, Int)].collect().toSeq
    assert(viaGroups == merged)
    // per-group estimates equal independent whole-builds of each group
    val byGroup = HyperLogLog
      .estimateByGroup(HyperLogLog.groupedRegisters(ids, $"id", pmod($"id", lit(2))))
      .as[(Long, Double)].collect().toMap
    for (g <- 0 to 1) {
      val solo = HyperLogLog
        .estimate(HyperLogLog.registers(ids.filter(pmod($"id", lit(2)) === g), $"id"))
        .as[Double].head()
      assert(byGroup(g.toLong) == solo)
    }
  }

  test("rendezvous sharding: balanced, stable under growth (moves only to the new shard)") {
    import graft.operators.Rendezvous
    val keys = spark.range(10000)
    val assigned = keys.select($"id",
      Rendezvous.shard($"id", 4).as("s4"), Rendezvous.shard($"id", 5).as("s5"))
      .as[(Long, Long, Long)].collect()
    // every shard id in range, roughly balanced (within 3x of ideal)
    val by4 = assigned.groupBy(_._2).view.mapValues(_.length).toMap
    assert(by4.keySet.subsetOf((0L until 4L).toSet))
    assert(by4.values.forall(n => n > 10000 / 12 && n < 10000 * 3 / 4))
    // growth property: s5 == s4 (unmoved) or s5 == 4 (the NEW shard); a key
    // migrating between two old shards is impossible by construction
    assert(assigned.forall { case (_, s4, s5) => s5 == s4 || s5 == 4L })
    val moved = assigned.count { case (_, s4, s5) => s5 != s4 }
    assert(moved > 10000 / 10 && moved < 10000 * 3 / 10, s"moved=$moved, expected ~1/5")
  }

  test("sample sketch: min-k merge law — merged partial sketches == whole-stream sketch") {
    import graft.operators.SampleSketch
    val all = spark.range(5000L).toDF("id")
    val whole = SampleSketch.bottomK(all, col("id"), 64)
      .select("id").as[Long].collect().toSet
    // split into 3 arbitrary parts, sketch each, merge the sketches, re-sketch
    val parts = Seq(
      all.filter(col("id") % 3 === 0), all.filter(col("id") % 3 === 1),
      all.filter(col("id") % 3 === 2))
    val merged = SampleSketch.bottomK(
      parts.map(p => SampleSketch.bottomK(p, col("id"), 64)).reduce(_ unionByName _)
        .select("id"),
      col("id"), 64)
      .select("id").as[Long].collect().toSet
    assert(merged == whole && whole.size == 64)
  }

  test("sample sketch: reserved '_h' column is rejected, not silently overwritten") {
    import graft.operators.SampleSketch
    val bad = Seq((1L, "x")).toDF("id", "_h")
    val ex = intercept[IllegalArgumentException] {
      SampleSketch.bottomK(bad, col("id"), 10)
    }
    assert(ex.getMessage.contains("_h"))
  }

  test("sample sketch: quantiles of a full-coverage sample are the exact quantiles") {
    import graft.operators.SampleSketch
    // k >= N: the sample IS the population, so estimates must be exact
    val df = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0, 100.0).toDF("v")
      .withColumn("id", monotonically_increasing_id())
    val s = SampleSketch.bottomK(df, col("id"), 100)
    val q = SampleSketch.quantiles(s, Seq("v", "_h"), Seq(50, 90, 100))
      .as[(Int, Double)].collect().toMap
    // rank = ceil(p*10/100): p50 -> rank 5 -> 50.0; p90 -> rank 9 -> 90.0
    assert(q == Map(50 -> 50.0, 90 -> 90.0, 100 -> 100.0))
  }

  test("group bottom-k aggregator: equals the rank-window sample at any partitioning") {
    import graft.functions.TypedAggregators
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md5.digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val rows = (0L until 300L).map(i => (s"g${i % 3}", i))
    val expected = rows.groupBy(_._1).view.mapValues(
      _.map(_._2).sortBy(id => (h(id), id)).take(4)).toMap
    for (parts <- Seq(1, 7)) {
      val got = rows.toDF("g", "id").repartition(parts).as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(TypedAggregators.groupBottomK(4).toColumn.name("ids"))
        .collect().toMap
      assert(got.view.mapValues(_.toSeq).toMap == expected, s"parts=$parts")
    }
  }

  test("sorted neighborhood: equals the rank-window brute force, catches a close pair") {
    import graft.operators.FuzzyJoin
    val names = Seq(
      (1L, "ann smith"), (2L, "ann smyth"), (3L, "bob jones"),
      (4L, "bob jonez"), (5L, "carol white"), (6L, "zed zulu"))
    val df = names.toDF("id", "nm")
    val got = FuzzyJoin.sortedNeighborhoodPairs(df, "id", "nm", window = 2, maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    // brute force over the same definition: global (nm, id) rank, pairs
    // within 2 rank positions, levenshtein <= 2
    val ranked = names.sortBy { case (id, nm) => (nm, id) }.zipWithIndex
    val brute = (for {
      ((ia, na), ra) <- ranked; ((ib, nb), rb) <- ranked
      if rb > ra && rb <= ra + 2
      d = levenshteinRef(na, nb) if d <= 2
    } yield (math.min(ia, ib), math.max(ia, ib), d)).toSet
    assert(got == brute)
    assert(got.contains((1L, 2L, 1)) && got.contains((3L, 4L, 1)))
  }

  test("dyadicEwma: exact hand-computed weighted means, null value drops its weight") {
    import graft.operators.TimeSeries
    val df = Seq(
      ("a", 1L, Some(1.00)), ("a", 2L, Some(2.00)), ("a", 3L, Some(3.00)),
      ("a", 4L, Some(4.00)), ("a", 5L, Some(5.00)),
      // null at the 2nd position: its weight vanishes from later windows
      ("b", 1L, Some(1.00)), ("b", 2L, None), ("b", 3L, Some(3.00)))
      .toDF("g", "seq", "v")
    val got = TimeSeries.dyadicEwma(df, Seq("g"), Seq(col("seq")), "v")
      .select("g", "seq", "ewma").as[(String, Long, Option[Double])]
      .collect().map { case (g, s, e) => (g, s) -> e }.toMap
    assert(got(("a", 1L)).contains(1.0)) // 8·100/8/100
    assert(got(("a", 2L)).contains(2000.0 / 12 / 100)) // (8·200+4·100)/12
    assert(got(("a", 3L)).contains(3400.0 / 14 / 100))
    assert(got(("a", 4L)).contains(4900.0 / 15 / 100))
    assert(got(("a", 5L)).contains(6400.0 / 15 / 100)) // window slid past v=1
    assert(got(("b", 2L)).contains(400.0 / 4 / 100)) // c0 null → only lag1 left
    assert(got(("b", 3L)).contains((8 * 300 + 2 * 100).toDouble / 10 / 100))
  }

  test("misraGries: heavy hitters guaranteed, undercount bounded, survives partitioned merge") {
    import graft.functions.TypedAggregators
    val rows = Seq.fill(400)("hot") ++ Seq.fill(200)("warm") ++
      (1 to 40).flatMap(i => Seq.fill(10)(s"cold$i"))
    val n = rows.size // 1000; with k=3 the error bound is n/(k+1) = 250
    val ds = rows.toDS().repartition(7) // force partial buffers + merges
    val got = ds.select(TypedAggregators.misraGries(3).toColumn)
      .collect().head.map(kc => kc.key -> kc.n).toMap
    assert(got.size <= 3, "buffer bound holds through merge")
    assert(got.contains("hot"), "freq 400 > 250 is guaranteed to survive")
    val bound = n / 4
    got.foreach { case (key, est) =>
      val truth = rows.count(_ == key).toLong
      assert(est <= truth, s"MG never overcounts: $key $est > $truth")
      assert(truth - est <= bound, s"undercount bound broken for $key: $truth - $est > $bound")
    }
  }

  test("record linkage: phonetic (soundex) blocking pairs sound-alikes only") {
    import graft.operators.RecordLinkage
    // smith/smyth/smithe share soundex S530; jones is J520 — never paired
    val df = Seq((1L, "smith"), (2L, "smyth"), (3L, "smithe"), (4L, "jones"))
      .toDF("id", "nm")
      .withColumn("blk", soundex(col("nm")))
    val pairs = RecordLinkage.blockedSelfPairs(df, "id", Seq("blk"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("groupCorr: perfect lines hit ±1, constant series null") {
    import graft.operators.TimeSeries
    val df = Seq(
      ("up", 0L, 1.00), ("up", 10L, 21.00), ("up", 20L, 41.00), // y = 2x+1
      ("down", 0L, 9.00), ("down", 5L, 4.00), ("down", 10L, -1.00), // y = -x+9
      ("flat", 0L, 5.0), ("flat", 9L, 5.0), // zero y-variance
      ("one", 3L, 2.0))
      .toDF("g", "x", "y")
    val got = TimeSeries.groupCorr(df, Seq("g"), "x", "y")
      .select("g", "corr").as[(String, Option[Double])].collect().toMap
    assert(math.abs(got("up").get - 1.0) < 1e-12)
    assert(math.abs(got("down").get + 1.0) < 1e-12)
    assert(got("flat").isEmpty && got("one").isEmpty)
  }

  test("weightedMedian: mass-weighted crossing, not the row median") {
    import graft.operators.RobustStats
    // quantities: 1.0×1, 2.0×3, 3.0×2 → W=6, ⌈W/2⌉=3, crossing at 2.0
    // (the UNweighted median of the three rows would be 2.0 too, so also
    // check a skewed case where they differ)
    val df = Seq((1L, 1.00, 1L), (2L, 2.00, 3L), (3L, 3.00, 2L))
      .toDF("id", "v", "w")
    val m1 = RobustStats.weightedMedian(df, "v", "w", Seq("id"))
      .as[Double].collect().head
    assert(m1 == 2.00)
    // 1.0×9, 5.0×1, 9.0×1 → half the mass sits on 1.0: weighted 1.0, row median 5.0
    val skew = Seq((1L, 1.00, 9L), (2L, 5.00, 1L), (3L, 9.00, 1L)).toDF("id", "v", "w")
    val m2 = RobustStats.weightedMedian(skew, "v", "w", Seq("id"))
      .as[Double].collect().head
    assert(m2 == 1.00)
  }

  test("record linkage: blocked pairs, FS score arithmetic, null agrees with nothing") {
    import graft.operators.RecordLinkage
    val df = Seq(
      (1L, "x", "s1", 10L), (2L, "x", "s1", 10L), (3L, "x", "s2", 11L),
      (4L, "y", "s1", 10L), // different block — never paired with 1-3
      (5L, "x", null, 10L)) // null source: disagreement, not agreement
      .toDF("id", "blk", "src", "len")
    val pairs = RecordLinkage.blockedSelfPairs(df, "id", Seq("blk"))
    assert(pairs.count() == 6) // C(4,2) within block x (ids 1,2,3,5)
    val scored = RecordLinkage.linkPairs(
      df, "id", Seq("blk"),
      evidence = Seq(
        (col("a_src") === col("b_src"), 1000, -500),
        (col("a_len") === col("b_len"), 700, -300)),
      minScore = 0L)
      .select("a_id", "b_id", "link_score").as[(Long, Long, Long)]
      .collect().map { case (a, b, s) => (a, b) -> s }.toMap
    assert(scored((1L, 2L)) == 1700L) // both fields agree
    assert(scored.get((1L, 3L)).isEmpty) // -500 + -300 < 0: thresholded out
    assert(scored((1L, 5L)) == -500L + 700L) // null src = disagree; len agrees
  }

  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("PartitionBatch.mapPartitions: 0, 1 and 3 rows per input row, nulls kept, declared schema") {
    val schema = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("bin", BinaryType, nullable = true),
      StructField("st", StructType(Seq(StructField("a", IntegerType))), nullable = true)))
    val in = Seq(0L, 1L, 3L).toDF("n").coalesce(1)
    assert(in.rdd.getNumPartitions == 1)
    // input row n yields n rows; each row's first output carries null cells
    val out = PartitionBatch.mapPartitions(in, schema) { rows =>
      rows.flatMap { r =>
        val n = r.getLong(0)
        (0L until n).iterator.map { i =>
          if (i == 0L) Row(n, null, null) else Row(n, Array(i.toByte), Row(i.toInt))
        }
      }
    }
    assert(out.schema == schema)
    val got = out.collect().toSeq.map(r => (r.getLong(0),
      Option(r.getAs[Array[Byte]](1)).map(_.toSeq), Option(r.getStruct(2)).map(_.getInt(0))))
    assert(got == Seq(
      (1L, None, None),
      (3L, None, None),
      (3L, Some(Seq(1.toByte)), Some(1)),
      (3L, Some(Seq(2.toByte)), Some(2))))
  }
}
