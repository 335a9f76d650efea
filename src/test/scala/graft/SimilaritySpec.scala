package graft

import graft.sim.{KMeans, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0), // close to 0
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1),
    (3L, Seq(0.0f, 0.9f, 0.2f, 0.0f), 1),
    (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f), 2))
    .toDF("vec_id", "embedding", "label")

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val out = vecs.select(
      $"vec_id",
      Similarity.cosine($"embedding", array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f))).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(0L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
    assert(math.abs(out(4L) + 1.0) < 1e-12)
  }

  test("brute-force top-k ranks the self vector first, then the near one") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f, 0.0f), 3)
      .select("vec_id").as[Long].collect()
    assert(top.take(2).toSeq == Seq(0L, 1L))
  }

  test("IVF: probe lands in its own cluster and never scans the rest") {
    val centroids = Similarity.centroidsOf(vecs, "embedding", "label")
    assert(centroids.count() == 3)
    val hits = Similarity.ivfTopK(
      vecs, centroids, "vec_id", "embedding", "label", Seq(1.0f, 0.0f, 0.0f, 0.0f), 10, nProbe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(hits == Set(0L, 1L)) // only cluster 0 scanned
  }

  test("centroids are element-wise means") {
    val c = Similarity.centroidsOf(vecs, "embedding", "label")
      .filter($"label" === 0).select("centroid").head().getSeq[Double](0)
    assert(math.abs(c.head - 0.95) < 1e-6)
    assert(math.abs(c(1) - 0.05) < 1e-6)
  }

  test("LSH buckets: deterministic, identical vectors share a bucket") {
    val b1 = vecs.select(Similarity.hyperplaneBucket($"embedding", 8, dims = 4).as("b"))
      .as[String].collect()
    val b2 = vecs.select(Similarity.hyperplaneBucket($"embedding", 8, dims = 4).as("b"))
      .as[String].collect()
    assert(b1.toSeq == b2.toSeq)
    assert(b1.forall(s => s.length == 8 && s.forall(c => c == '0' || c == '1')))
    // opposite vectors flip every projection sign (no projection is exactly 0
    // for these planes), so their buckets are bitwise complements
    val flipped = b1(4).map(c => if (c == '1') '0' else '1')
    assert(b1(0) == flipped)
    val pairs = Similarity.lshCandidatePairs(vecs, "vec_id", "embedding", 8, dims = 4)
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "bucket"))
  }

  test("LSH buckets: null vector -> all-zero bucket; wrong dims fail loudly") {
    val withNull = Seq((1L, Some(Array(1.0f, 2.0f, 3.0f, 4.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val got = withNull.select(Similarity.hyperplaneBucket($"embedding", 8, dims = 4).as("b"))
      .as[String].collect()
    assert(got(1) == "00000000") // tolerated, as before the guard
    val wrong = Seq(Tuple1(Array(1.0f, 2.0f))).toDF("embedding")
    val ex = intercept[Exception] {
      wrong.select(Similarity.hyperplaneBucket($"embedding", 8, dims = 4)).collect()
    }
    assert(ex.getMessage.contains("expected 4-dim") ||
      Option(ex.getCause).exists(_.getMessage.contains("expected 4-dim")))
  }

  test("driver-side hyperplane matrix matches the md5 SQL formula") {
    val mat = Similarity.hyperplaneComponents(3, 5)
    val viaSql = spark.range(1)
      .select((for { h <- 0 until 3; d <- 0 until 5 }
        yield Similarity.planeComponent(lit(h), lit(d)).as(s"c_${h}_$d")): _*)
      .head()
    for { h <- 0 until 3; d <- 0 until 5 }
      assert(mat(h)(d) == viaSql.getDouble(h * 5 + d), s"plane $h dim $d")
  }

  test("k-means: separable clusters recovered, deterministic across partitionings") {
    import graft.sim.KMeans
    // two tight groups around (1,0,0,0) and (0,1,0,0) + the opposite vector
    val data = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), (3L, Seq(0.1f, 0.9f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cs = KMeans.fit(data, "vec_id", "embedding", k = 2, iters = 4)
    val got = KMeans.assign(data, "embedding", cs)
      .select("vec_id", "_cluster").as[(Long, Int)].collect().toMap
    assert(got(0L) == got(1L) && got(2L) == got(3L) && got(0L) != got(2L))
    // determinism: different partitioning, same centroids
    val cs2 = KMeans.fit(data.repartition(3), "vec_id", "embedding", k = 2, iters = 4)
    assert(cs.map(_.toSeq).toSeq == cs2.map(_.toSeq).toSeq)
  }

  test("k-means accepts array<double> vectors too") {
    import graft.sim.KMeans
    val data = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val cs = KMeans.fit(data, "vec_id", "embedding", k = 2, iters = 2)
    val got = KMeans.assign(data, "embedding", cs)
      .select("vec_id", "_cluster").as[(Long, Int)].collect().toMap
    assert(got(0L) != got(1L))
  }

  test("k-means: ProductQuantizer.fit(m = 1) and KMeans.fit are one fit") {
    import graft.sim.{KMeans, ProductQuantizer}
    // quarter-step values: every sum is exact, so the order in which
    // partial sums merge cannot move a bit between the two fits
    val vecs = (0 until 12).map(i => (i.toLong, Seq.tabulate(4)(d => ((i * 7 + d * 3) % 11) * 0.25)))
    for (float <- Seq(false, true); parts <- Seq(1, 3)) {
      val df = (
        if (float) vecs.map { case (i, v) => (i, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
        else vecs.toDF("vec_id", "embedding")).repartition(parts)
      val km = KMeans.fit(df, "vec_id", "embedding", k = 3, iters = 3)
      val pq = ProductQuantizer.fit(df, "vec_id", "embedding", dims = 4, m = 1, k = 3, iters = 3)
      assert(pq.centroids(0).map(_.toSeq).toSeq == km.map(_.toSeq).toSeq,
        s"float=$float partitions=$parts")
    }
  }

  test("k-means: a shorter vector joins centroid 0 with the elements it has; a longer one fails") {
    import graft.sim.KMeans
    val base = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)), (1L, Seq(4.0, 4.0, 4.0, 4.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)), (3L, Seq(3.0, 4.0, 4.0, 4.0)),
      (4L, Seq(0.0, 1.0)), (5L, Seq(4.0, 4.0, 3.0, 4.0)))
    // vector 4's dot products are null, so it goes to centroid 0 and
    // adds its two elements to that centroid's first two means
    val cs = KMeans.fit(base.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 2, iters = 2)
    assert(cs.map(_.toSeq).toSeq == Seq(
      Seq(1.0 / 3, 1.0 / 3, 0.0, 0.0), Seq(11.0 / 3, 4.0, 11.0 / 3, 4.0)))
    val long = (base :+ ((6L, Seq(4.0, 4.0, 4.0, 4.0, 4.0)))).toDF("vec_id", "embedding")
    val e = intercept[Exception](KMeans.fit(long, "vec_id", "embedding", k = 2, iters = 2))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("longer than the 4-element init vectors")),
      s"unclear failure: $e")
  }

  test("native as-of rejects mismatched key types (merge ordering is left-typed)") {
    import graft.operators.AsOfJoin
    val l = Seq((1, 10L, "e")).toDF("k", "t", "name") // k: int
    val r = Seq((1L, 5L, "v")).toDF("k", "rt", "v") // k: long
    assertThrows[IllegalArgumentException] {
      AsOfJoin.lastPriorMatchNative(l, r, Seq("k"), "t", "rt", Seq("v"))
    }
  }

  test("k-means: empty cluster keeps its previous centroid") {
    import graft.sim.KMeans
    val data = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cs = KMeans.fit(data, "vec_id", "embedding", k = 3, iters = 2)
    assert(cs.length == 3) // no crash; duplicate-point clusters survive
  }

  test("near-duplicate pairs within blocks above threshold") {
    val out = Similarity.nearDuplicatePairs(vecs, "vec_id", "embedding", "label", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L), (2L, 3L)))
  }

  test("planesFor: ~log2(N)+margin, floored at the 8-plane minimum") {
    assert(Similarity.planesFor(2) == 8) // tiny corpus keeps the old default
    assert(Similarity.planesFor(100) == 11) // ceil(log2(100))=7, +4
    assert(Similarity.planesFor(256) == 12)
    assert(Similarity.planesFor(1L << 30) == 34) // 1B vectors -> 2^34 buckets
    // auto path (numPlanes<=0) at 5 rows resolves to the same 8-plane set
    val auto = Similarity.lshCandidatePairs(vecs, "vec_id", "embedding", dims = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val explicit = Similarity.lshCandidatePairs(vecs, "vec_id", "embedding", 8, dims = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto == explicit)
  }

  test("banded LSH: superset of plain bucketing; one band reproduces it exactly") {
    val plain = Similarity.lshCandidatePairs(vecs, "vec_id", "embedding", 8, dims = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // band 0 of the 16-plane/2-band index reuses plane indices 0..7, so the
    // multi-probe candidates can only ADD recall, never lose it
    val banded = Similarity.bandedCandidatePairs(vecs, "vec_id", "embedding", 16, 2, dims = 4)
      .as[(Long, Long)].collect().toSet
    assert(plain.subsetOf(banded))
    val oneBand = Similarity.bandedCandidatePairs(vecs, "vec_id", "embedding", 8, 1, dims = 4)
      .as[(Long, Long)].collect().toSet
    assert(oneBand == plain)
    // an explicit numPlanes that doesn't divide bands is rejected, never
    // silently rounded up to a different candidate set
    val ex = intercept[IllegalArgumentException] {
      Similarity.bandedCandidatePairs(vecs, "vec_id", "embedding", 14, 4, dims = 4)
    }
    assert(ex.getMessage.contains("not divisible"))
  }

  test("int8 quantization: codes bounded, reconstruction error <= scale/2, zero vector safe") {
    val withZero = vecs.union(Seq((9L, Seq(0.0f, 0.0f, 0.0f, 0.0f), 3)).toDF("vec_id", "embedding", "label"))
    val rows = withZero
      .select($"vec_id", $"embedding", Similarity.int8Scale($"embedding").as("sc"))
      .select($"vec_id", $"embedding", $"sc", Similarity.quantizeInt8($"embedding", $"sc").as("q"))
      .select($"vec_id", $"embedding", $"sc", $"q", Similarity.dequantizeInt8($"q", $"sc").as("d"))
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val emb = r.getSeq[Float](1); val sc = r.getDouble(2)
      val q = r.getSeq[Int](3); val d = r.getSeq[Double](4)
      assert(q.forall(c => c >= -127 && c <= 127), s"codes out of range: $q")
      emb.zip(d).foreach { case (v, dv) =>
        assert(math.abs(v.toDouble - dv) <= sc / 2 + 1e-12, s"error > scale/2 for $v -> $dv (sc=$sc)")
      }
    }
    // the max-|v| element must hit +/-127 exactly (no clamp needed by design)
    val unit = rows.find(_.getLong(0) == 0L).get.getSeq[Int](3)
    assert(unit.contains(127))
  }

  test("capped near-dup (forced triangle sub-blocking) is row-identical to uncapped") {
    // 40 vectors in ONE block: cap 7 -> g=6 sub-blocks, 21 group-pair keys
    val one = (0 until 40).map { i =>
      (i.toLong, Seq(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat, 0.1f * (i % 3), 1.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val unc = Similarity.nearDuplicatePairs(one, "vec_id", "embedding", "label", -2.0)
      .as[(Long, Long, Double)].collect().toSet
    val cap = Similarity.nearDuplicatePairs(one, "vec_id", "embedding", "label", -2.0, maxBlockRows = 7)
      .as[(Long, Long, Double)].collect().toSet
    assert(unc.size == 40 * 39 / 2) // every pair present exactly once
    assert(cap == unc)
    // multi-block data under cap 1 (every block splits) also matches
    val unc2 = Similarity.nearDuplicatePairs(vecs, "vec_id", "embedding", "label", -2.0)
      .as[(Long, Long, Double)].collect().toSet
    val cap2 = Similarity.nearDuplicatePairs(vecs, "vec_id", "embedding", "label", -2.0, maxBlockRows = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(cap2 == unc2)
  }

  test("projectExpr: exact hand-computed projection; ragged matrix rejected") {
    val df = Seq((1L, Array(1f, 2f, 4f))).toDF("vec_id", "embedding")
    val m = Array(Array(0.5, 0.0, 0.25), Array(-1.0, 1.0, 0.0))
    val got = df.select(Similarity.projectExpr($"embedding", m))
      .as[Seq[Double]].collect().head
    assert(got == Seq(0.5 * 1 + 0.25 * 4, -1.0 + 2.0)) // (1.5, 1.0) exactly
    intercept[IllegalArgumentException] {
      Similarity.projectExpr($"embedding", Array(Array(1.0), Array(1.0, 2.0)))
    }
  }

  test("centroidOutliers: exact integer distances, farthest-first, id tie-break") {
    // 4 at origin + 1 at (1,1): centroid_micro = (0·4 + 10⁶) div 5 = 200000
    val df = Seq(
      (1L, Array(0f, 0f)), (2L, Array(0f, 0f)), (3L, Array(0f, 0f)),
      (4L, Array(0f, 0f)), (5L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val r = Similarity.centroidOutliers(df, "vec_id", "embedding", topK = 3)
      .select("vec_id", "d2").as[(Long, Long)].collect()
    assert(r(0) == (5L, 2L * 800000L * 800000L))
    // the four origin points tie at 2·200000² — ids ascend
    assert(r(1) == (1L, 2L * 200000L * 200000L))
    assert(r(2) == (2L, 2L * 200000L * 200000L))
  }

  test("simplifiedSilhouette: boundary point 0, on-centroid 1, interior exact") {
    val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val df = Seq(
      (1L, Array(1f, 0f)),   // a=1, b=9 → (9−1)/9
      (2L, Array(5f, 0f)),   // equidistant → 0
      (3L, Array(0f, 0f)),   // on centroid → 1
      (4L, Array(6f, 0f)))   // cluster 1: a=4, b=6 → 2/6
      .toDF("vec_id", "embedding")
    val r = KMeans.simplifiedSilhouette(df, "embedding", cents)
      .select("vec_id", "cluster", "sil").as[(Long, Int, Double)]
      .collect().sortBy(_._1)
    assert(r(0) == ((1L, 0, 0.888889)))
    assert(r(1)._2 == 0 && r(1)._3 == 0.0) // tie → lower centroid index
    assert(r(2) == ((3L, 0, 1.0)))
    assert(r(3) == ((4L, 1, 0.333333)))
    intercept[IllegalArgumentException] {
      KMeans.simplifiedSilhouette(df, "embedding", Array(Array(0.0, 0.0)))
    }
  }

  test("ProductQuantizer: exact reconstruction when subspaces have <= k distinct slices; ADC ranks truly") {
    import graft.sim.ProductQuantizer
    // 4-dim vectors, m=2 subspaces of 2 dims; each subspace draws from
    // exactly TWO distinct subvectors, so k=2 codebooks converge to the
    // points themselves and PQ is EXACT: ADC == true ||q−x||² ranking
    val subA = Seq(Array(1.0f, 2.0f), Array(5.0f, 6.0f))
    val subB = Seq(Array(0.0f, 1.0f), Array(9.0f, 4.0f))
    val rows = (0 until 8).map { i =>
      (i.toLong, (subA(i % 2) ++ subB((i / 2) % 2)).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb = ProductQuantizer.fit(df, "vec_id", "embedding",
      dims = 4, m = 2, k = 2, iters = 2)
    assert(cb.m == 2 && cb.k == 2 && cb.subDims == 2)
    val codes = ProductQuantizer.encode(df, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // same slice combination => same code; different => different
    assert(codes(0L) == codes(4L) && codes(1L) == codes(5L))
    assert(codes(0L) != codes(1L) && codes(0L) != codes(2L))
    val query = Array(1.0, 2.0, 0.0, 1.0) // == vector 0's values
    val got = ProductQuantizer.adcTopK(codes = ProductQuantizer.encode(
      df, "vec_id", "embedding", cb), "vec_id", cb, query, topK = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // exact PQ: scores are cc - 2qc of the TRUE vectors; verify ordering
    // against brute-force squared distance (monotone to adc + const qq)
    val brute = rows.map { case (id, v) =>
      id -> v.zip(query).map { case (x, q) => (x - q) * (x - q) }.sum
    }.sortBy(t => (t._2, t._1)).map(_._1)
    assert(got.map(_._1).toSeq == brute)
    // the identical-slice pairs tie exactly (ids break the tie)
    assert(got(0)._1 == 0L && got(1)._1 == 4L && got(0)._2 == got(1)._2)
    // dim mismatch is loud
    intercept[IllegalArgumentException](
      ProductQuantizer.adcTopK(ProductQuantizer.encode(df, "vec_id", "embedding", cb),
        "vec_id", cb, Array(1.0, 2.0), topK = 3))
    intercept[IllegalArgumentException](
      ProductQuantizer.fit(df, "vec_id", "embedding", dims = 4, m = 3, k = 2, iters = 1))
    // two-stage rerank: with candidates covering everything, the result
    // is the TRUE exact top-k regardless of code granularity
    val rr = ProductQuantizer.adcRerankTopK(
      ProductQuantizer.encode(df, "vec_id", "embedding", cb), df,
      "vec_id", "embedding", cb, query, candidates = 8, topK = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(rr == brute.take(4), s"rerank $rr != exact ${brute.take(4)}")
    intercept[IllegalArgumentException](
      ProductQuantizer.adcRerankTopK(
        ProductQuantizer.encode(df, "vec_id", "embedding", cb), df,
        "vec_id", "embedding", cb, query, candidates = 2, topK = 4))
  }

  // clustered corpus where residual-PQ is EXACT: 3 cells at offsets
  // 0/+10/−10, each with the same four symmetric residual combos, so the
  // cell mean IS the base and k=2 residual codebooks converge to the
  // residual patterns themselves — ADC == true ‖q−x‖² on probed cells
  private def ivfPqFixture = {
    val bases = Seq(0.0f, 10.0f, -10.0f)
    val combosA = Seq(Seq(1.0f, 2.0f), Seq(-1.0f, -2.0f))
    val combosB = Seq(Seq(3.0f, 0.0f), Seq(-3.0f, 0.0f))
    val rows = for {
      (b, cell) <- bases.zipWithIndex
      j <- 0 until 4
    } yield {
      // j = 0..3 → (A0,B0), (A1,B1), (A0,B1), (A1,B0): all four combos,
      // symmetric, so each cell's mean is exactly its base
      val a = combosA(j % 2)
      val bb = combosB(if (j < 2) j else 3 - j)
      ((cell * 4 + j).toLong, (a ++ bb).map(_ + b), cell)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("IvfPq: residual codebooks exact on symmetric cells; probe prunes; cross-cell constant ranks truly") {
    import graft.sim.IvfPq
    val df = ivfPqFixture
    val (cents, cb) = IvfPq.fitResidual(
      df, "vec_id", "embedding", "label", dims = 4, m = 2, k = 2, iters = 2)
    assert(cents.count() == 3 && cb.m == 2 && cb.k == 2)
    val codes = IvfPq.encode(df, cents, "vec_id", "embedding", "label", cb)
    // query = cell 1's first member: probes cells {1, 0}, never cell 2
    val query = Array(11.0, 12.0, 13.0, 10.0)
    val got = IvfPq.adcTopK(codes, cents, "vec_id", "label", cb, query,
      nProbe = 2, topK = 12).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 8, s"cell pruning leaked: ${got.length} rows")
    assert(got.forall(_._1 < 8L), "cell 2 must never be scanned")
    // exact residual PQ: ranking == true squared distance on probed cells
    val data = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val brute = data.filter(_._1 < 8L).toSeq.map { case (id, v) =>
      (id, v.zip(query).map { case (x, q) => (x - q) * (x - q) }.sum)
    }.sortBy { case (id, d) => (d, id) }
    assert(got.map(_._1).toSeq == brute.map(_._1),
      s"got ${got.toSeq} vs brute $brute")
    // and the ADC VALUES equal the true distances (exact reconstruction)
    got.zip(brute).foreach { case ((_, adc), (_, d)) =>
      assert(math.abs(adc - d) < 1e-9, s"adc $adc != true $d")
    }
    // the cross-cell constant is live: the best cell-0 member must rank
    // behind every cell-1 member here (cell 0 is 10 away per dim)
    assert(got.take(4).forall(t => t._1 >= 4L && t._1 < 8L))
    // nProbe=1 scans only cell 1
    val one = IvfPq.adcTopK(codes, cents, "vec_id", "label", cb, query,
      nProbe = 1, topK = 12).collect().map(_.getLong(0)).toSet
    assert(one == Set(4L, 5L, 6L, 7L))
  }

  test("PqIndexStore: append == whole-corpus encode; codebook round-trips; staleness flags drift") {
    import graft.sim.{ProductQuantizer, PqIndexStore}
    val subA = Seq(Array(1.0f, 2.0f), Array(5.0f, 6.0f))
    val subB = Seq(Array(0.0f, 1.0f), Array(9.0f, 4.0f))
    val rows = (0 until 8).map { i =>
      (i.toLong, (subA(i % 2) ++ subB((i / 2) % 2)).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb = ProductQuantizer.fit(df, "vec_id", "embedding", dims = 4, m = 2, k = 2, iters = 2)
    val root = tmpDir("pqstore")
    PqIndexStore.writeCodebook(spark, root, cb)
    val cb2 = PqIndexStore.readCodebook(spark, root)
    assert(cb2.subDims == cb.subDims &&
      cb2.centroids.map(_.map(_.toSeq).toSeq).toSeq ==
        cb.centroids.map(_.map(_.toSeq).toSeq).toSeq)
    // two parity batches against the frozen (reloaded) codebook
    val (n0, e0) = PqIndexStore.appendBatch(
      df.filter($"vec_id" % 2 === 0), "vec_id", "embedding", root, cb2, "b0")
    val (n1, e1) = PqIndexStore.appendBatch(
      df.filter($"vec_id" % 2 === 1), "vec_id", "embedding", root, cb2, "b1")
    assert(n0 == 4 && n1 == 4)
    assert(e0 < 1e-12 && e1 < 1e-12, "exact codebooks: zero quantization error")
    val stored = PqIndexStore.codes(spark, root)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val direct = ProductQuantizer.encode(df, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored == direct, "incremental codes must equal the whole-corpus encode")
    // replaying a batchId overwrites its own subdir — no duplication
    PqIndexStore.appendBatch(
      df.filter($"vec_id" % 2 === 1), "vec_id", "embedding", root, cb2, "b1")
    assert(PqIndexStore.codes(spark, root).count() == 8)
    // a DRIFTED batch (far from every codebook point) flags in staleness
    val drifted = rows.map { case (id, v) => (id + 100L, v.map(_ + 50.0f)) }
      .toDF("vec_id", "embedding")
    val (_, eDrift) = PqIndexStore.appendBatch(
      drifted, "vec_id", "embedding", root, cb2, "b2-drift")
    assert(eDrift > 1000.0, s"drifted batch error $eDrift should be large")
    val st = PqIndexStore.staleness(spark, root)
      .collect().map(r => r.getAs[String]("batch_id") -> r).toMap
    assert(st.size == 3)
    // fit-time batches sit at ~zero error; baseline guard: ratio is null
    // when the base error is 0 (exact fixture), drift shows in mean_qerr
    assert(st("b2-drift").getAs[Double]("mean_qerr") > 1000.0)
    assert(st("b0").getAs[Double]("mean_qerr") < 1e-12)
  }

  test("PqIndexStore deletes: live view pre-compact, compact == rebuild-from-" +
    "survivors, marker replay idempotent") {
    import graft.sim.{ProductQuantizer, PqIndexStore}
    import org.apache.hadoop.fs.Path
    val subA = Seq(Array(1.0f, 2.0f), Array(5.0f, 6.0f))
    val subB = Seq(Array(0.0f, 1.0f), Array(9.0f, 4.0f))
    val rows = (0 until 8).map { i =>
      (i.toLong, (subA(i % 2) ++ subB((i / 2) % 2)).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb = ProductQuantizer.fit(df, "vec_id", "embedding", dims = 4, m = 2, k = 2, iters = 2)
    val root = tmpDir("pqstore-del")
    PqIndexStore.writeCodebook(spark, root, cb)
    PqIndexStore.appendBatch(df.filter($"vec_id" < 4), "vec_id", "embedding", root, cb, "b0")
    PqIndexStore.appendBatch(df.filter($"vec_id" >= 4), "vec_id", "embedding", root, cb, "b1")
    // delete ids 2, 5, 6 across both batches
    val nT = PqIndexStore.appendTombstones(
      Seq(2L, 5L, 6L, 5L).toDF("vec_id"), "vec_id", root, "t0")
    assert(nT == 3)
    // pre-compact query view excludes them; raw codes still hold all 8
    assert(PqIndexStore.liveCodes(spark, root).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 3L, 4L, 7L))
    assert(PqIndexStore.codes(spark, root).count() == 8)
    // compact: survivors fold to one dir, sources + tombstones deleted
    val (nLive, nPurged) = PqIndexStore.compact(spark, root, "c0")
    assert(nLive == 5 && nPurged == 3)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codeDirs = fs.listStatus(new Path(s"$root/codes")).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    assert(codeDirs == Set("c0"))
    assert(!fs.exists(new Path(s"$root/tombstones/t0")))
    // cold reload == rebuild-from-survivors
    val stored = PqIndexStore.codes(spark, root)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rebuilt = ProductQuantizer.encode(
      df.filter(!$"vec_id".isin(2L, 5L, 6L)), "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored == rebuilt)
    // marker replay (the crash-mid-delete path): re-running the SAME
    // compactId must not refold or touch the survivor data
    PqIndexStore.compact(spark, root, "c0")
    assert(PqIndexStore.codes(spark, root)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap == rebuilt)
    // post-compact appends keep working against the frozen codebook
    PqIndexStore.appendBatch(
      Seq((100L, (subA(0) ++ subB(0)).toSeq)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, cb, "b2")
    assert(PqIndexStore.codes(spark, root).count() == 6)
  }

  test("PqIndexStore: after a compaction crashed at its first source delete, " +
    "codes count each vector once and the next compaction keeps each survivor once") {
    import graft.sim.{ProductQuantizer, PqIndexStore}
    CrashFs.register(spark.sparkContext.hadoopConfiguration)
    val subA = Seq(Array(1.0f, 2.0f), Array(5.0f, 6.0f))
    val subB = Seq(Array(0.0f, 1.0f), Array(9.0f, 4.0f))
    val df = (0 until 8).map { i =>
      (i.toLong, (subA(i % 2) ++ subB((i / 2) % 2)).toSeq)
    }.toDF("vec_id", "embedding")
    val cb = ProductQuantizer.fit(df, "vec_id", "embedding", dims = 4, m = 2, k = 2, iters = 2)
    val local = tmpDir("pqstore-crash")
    val root = CrashFs.uri(local)
    PqIndexStore.writeCodebook(spark, root, cb)
    PqIndexStore.appendBatch(df.filter($"vec_id" < 4), "vec_id", "embedding", root, cb, "b0")
    PqIndexStore.appendBatch(df.filter($"vec_id" >= 4), "vec_id", "embedding", root, cb, "b1")
    PqIndexStore.appendTombstones(Seq(2L, 5L, 6L).toDF("vec_id"), "vec_id", root, "t0")
    // the survivors and the marker are committed; every source dir remains
    val t = CrashFs.track(local, (_, step) => step.startsWith("delete ") &&
      step.matches(".*/(codes/b[0-9]|tombstones/t[0-9])"))
    try intercept[java.io.IOException](PqIndexStore.compact(spark, root, "c0"))
    finally CrashFs.untrack(t)
    def ids() = PqIndexStore.codes(spark, root).select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids() == Seq(0L, 1L, 3L, 4L, 7L))
    PqIndexStore.compact(spark, root, "c1")
    assert(ids() == Seq(0L, 1L, 3L, 4L, 7L))
    // the next fold finished the crashed one's deletes
    for (d <- Seq("codes/b0", "codes/b1", "tombstones/t0"))
      assert(!new java.io.File(s"$local/$d").exists, s"$d left on disk")
  }

  test("IvfPqStore lifecycle: cell-partitioned appends, live view, compact == " +
    "rebuild-from-survivors, uncommitted marker refolds") {
    import graft.sim.{IvfPq, IvfPqStore, PqIndexStore}
    import org.apache.hadoop.fs.Path
    // two clearly separated cells, 4 vectors each (dims 4, m 2)
    val rows = (0 until 8).map { i =>
      val cell = i % 2
      val base = if (cell == 0) 0.0f else 100.0f
      (i.toLong, cell,
        Seq(base + i, base + 2 * i, base - i, base + 3 * i).map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "cell", "embedding")
    val (cents, cb) = IvfPq.fitResidual(
      df, "vec_id", "embedding", "cell", dims = 4, m = 2, k = 2, iters = 2)
    val root = tmpDir("ivfpqstore-del")
    IvfPqStore.writeCentroids(spark, root, cents)
    PqIndexStore.writeCodebook(spark, root, cb)
    IvfPqStore.appendBatch(df.filter($"vec_id" < 4), cents,
      "vec_id", "embedding", "cell", root, cb, "b0")
    IvfPqStore.appendBatch(df.filter($"vec_id" >= 4), cents,
      "vec_id", "embedding", "cell", root, cb, "b1")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the cell partitioning is REAL: batch dirs contain cell=… subdirs
    assert(fs.listStatus(new Path(s"$root/codes/b0")).filter(_.isDirectory)
      .map(_.getPath.getName).toSet == Set("cell=0", "cell=1"))
    // codes recover the cell column across batches
    val all = IvfPqStore.codes(spark, root)
    assert(all.count() == 8)
    assert(all.filter($"cell" === 0).collect().map(_.getLong(0)).toSet ==
      Set(0L, 2L, 4L, 6L))
    // deletes: live view pre-compact
    IvfPqStore.appendTombstones(Seq(2L, 5L).toDF("vec_id"), "vec_id", root, "t0")
    assert(IvfPqStore.liveCodes(spark, root, "vec_id")
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L, 3L, 4L, 6L, 7L))
    // an UNCOMMITTED marker (crash mid-marker-write: only _temporary
    // debris) must take the REFOLD path, not the finish-deletions path
    fs.mkdirs(new Path(s"$root/compactions/c0/_temporary"))
    val (nLive, nPurged) = IvfPqStore.compact(spark, root, "c0", "vec_id", "cell")
    assert(nLive == 6 && nPurged == 2)
    // survivor rewrite kept the per-cell layout
    assert(fs.listStatus(new Path(s"$root/codes/c0")).filter(_.isDirectory)
      .map(_.getPath.getName).toSet == Set("cell=0", "cell=1"))
    assert(fs.listStatus(new Path(s"$root/codes")).filter(_.isDirectory)
      .map(_.getPath.getName).toSet == Set("c0"))
    // cold reload == rebuild-from-survivors
    val stored = IvfPqStore.codes(spark, root)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](r.fieldIndex("code"))).toMap
    val rebuilt = IvfPq.encode(
      df.filter(!$"vec_id".isin(2L, 5L)), cents, "vec_id", "embedding", "cell", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](r.fieldIndex("code"))).toMap
    assert(stored == rebuilt)
    // committed-marker replay: finish-deletions only, survivors untouched
    IvfPqStore.compact(spark, root, "c0", "vec_id", "cell")
    assert(IvfPqStore.codes(spark, root).count() == 6)
    // ADC through the reloaded store ranks the probe's own vector first
    val probe = Array(0.0, 0.0, 0.0, 0.0)
    val top = IvfPq.adcTopK(
      IvfPqStore.codes(spark, root), IvfPqStore.readCentroids(spark, root),
      "vec_id", "cell", PqIndexStore.readCodebook(spark, root),
      probe, nProbe = 1, topK = 3)
    assert(top.count() == 3)
  }

  // 1000 planted clusters in 64 dims (center + small id-driven noise), 20
  // vectors each: the clustered shape PQ exists for, at tier-1 size
  private def centerTerm(g: Column, d: Column): Column =
    (pmod(g * 7919L + d * 104729L, lit(2000L)) - 1000L).cast("double") / 1000.0
  private def clustered(from: Long, n: Long, shift: Double = 0.0) =
    spark.range(from, from + n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (centerTerm(pmod(col("id"), lit(1000L)), d) + lit(shift) +
          (pmod(col("id") * 31L + d * 17L, lit(200L)) - 100L).cast("double") / 2000.0)
          .cast("float")).as("embedding"))
  private def clusterCenter(q: Int): Array[Double] =
    Array.tabulate(64)(d => (((q * 7919L + d * 104729L) % 2000L) - 1000L).toDouble / 1000.0)

  test("residual IVF+PQ recall@10 beats flat PQ at equal code bytes on a clustered corpus") {
    import graft.sim.{IvfPq, ProductQuantizer}
    val vecs = clustered(0L, 20000L).persist()
    val cells = vecs.withColumn("cell", pmod(col("vec_id"), lit(1000L)))
    try {
      val cb = ProductQuantizer.fit(vecs, "vec_id", "embedding", dims = 64, m = 8, k = 16, iters = 3)
      val codes = ProductQuantizer.encode(vecs, "vec_id", "embedding", cb).persist()
      val (cents, icb) = IvfPq.fitResidual(cells, "vec_id", "embedding", "cell",
        dims = 64, m = 8, k = 16, iters = 3)
      val icodes = IvfPq.encode(cells, cents, "vec_id", "embedding", "cell", icb).persist()
      val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      def top10(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet
      val (flatHits, ivfHits) = (0 until 20).map { q =>
        val qv = clusterCenter(q)
        val exact = raw.map { case (id, v) =>
          (v.iterator.zip(qv.iterator).map { case (x, y) => (x - y) * (x - y) }.sum, id)
        }.sorted.take(10).map(_._2).toSet
        (top10(ProductQuantizer.adcTopK(codes, "vec_id", cb, qv, 10)).intersect(exact).size,
          top10(IvfPq.adcTopK(icodes, cents, "vec_id", "cell", icb, qv, nProbe = 4, topK = 10))
            .intersect(exact).size)
      }.unzip
      assert(ivfHits.sum > flatHits.sum,
        s"residual IVF+PQ hits ${ivfHits.sum}/200 must beat flat PQ ${flatHits.sum}/200")
      codes.unpersist(); icodes.unpersist(); cents.unpersist()
    } finally vecs.unpersist()
  }

  test("PqIndexStore staleness: an in-distribution day reads ~1x, a drifted day > 3x") {
    import graft.sim.{PqIndexStore, ProductQuantizer}
    val day0 = clustered(0L, 20000L)
    val cb = ProductQuantizer.fit(day0, "vec_id", "embedding", dims = 64, m = 8, k = 16, iters = 3)
    val root = tmpDir("pqstale")
    PqIndexStore.writeCodebook(spark, root, cb)
    val frozen = PqIndexStore.readCodebook(spark, root)
    PqIndexStore.appendBatch(day0, "vec_id", "embedding", root, frozen, "day0")
    PqIndexStore.appendBatch(clustered(20000L, 2000L), "vec_id", "embedding", root, frozen, "day1")
    PqIndexStore.appendBatch(clustered(22000L, 2000L, shift = 0.5),
      "vec_id", "embedding", root, frozen, "day2-drift")
    val ratio = PqIndexStore.staleness(spark, root).collect()
      .map(r => r.getAs[String]("batch_id") -> r.getAs[Double]("drift_ratio")).toMap
    assert(ratio("day1") < 1.5 && ratio("day2-drift") > 3.0, ratio)
    assert(PqIndexStore.codes(spark, root).count() == 24000L)
  }
}
