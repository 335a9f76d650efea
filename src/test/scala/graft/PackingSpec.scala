package graft

import graft.operators.{Mixture, Preference, SequencePack}
import org.apache.spark.sql.functions._

/** Training-schedule operators: sequence packing (piece algebra, full
  * chunks, boundary splits, zero-token docs), the WFQ mixture
  * interleave (±1 prefix fairness — the property the schedule exists
  * for), and preference-pair construction (tie-breaks, tie-only drop).
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packChunks: exact piece algebra, boundary split, full chunks, empty docs") {
    // tokens: 3, 0, 5, 4, 2 at seqLen 4 → stream of 14 tokens, 4 chunks
    val docs = Seq((1L, 3L), (2L, 0L), (3L, 5L), (4L, 4L), (5L, 2L))
      .toDF("doc_id", "n_tokens")
    val out = SequencePack.packChunks(docs, "doc_id", "n_tokens", seqLen = 4L)
      .orderBy("chunk_id", "doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc1 [0,3), doc3 [3,8), doc4 [8,12), doc5 [12,14)
    assert(out == Seq(
      (0L, 1L, 0L, 0L, 3L), // doc1 whole, chunk 0 offset 0
      (0L, 3L, 0L, 3L, 1L), // doc3 first token closes chunk 0
      (1L, 3L, 1L, 0L, 4L), // doc3 middle fills chunk 1
      (2L, 4L, 0L, 0L, 4L), // doc4 exactly fills chunk 2
      (3L, 5L, 0L, 0L, 2L))) // doc5 opens the (partial) last chunk
    // doc2 (zero tokens) carries no piece
    assert(!out.exists(_._2 == 2L))
    // every chunk except the last is exactly full
    val byChunk = out.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(byChunk == Map(0L -> 4L, 1L -> 4L, 2L -> 4L, 3L -> 2L))
    // piece doc_from spans reassemble each document exactly
    val doc3 = out.filter(_._2 == 3L).sortBy(_._3).map(p => (p._3, p._5))
    assert(doc3 == Seq((0L, 1L), (1L, 4L)))
  }

  test("packChunksMultimodal: segment order survives, modality spans tile chunks, " +
    "ceil patch grids, negative counts fail loudly") {
    // doc 1: text 3 + image 2 + text 1; doc 2: image 5; seqLen 4
    val segs = Seq(
      (1L, 0L, "text", 3L), (1L, 1L, "image", 2L), (1L, 2L, "text", 1L),
      (2L, 0L, "image", 5L))
      .toDF("doc_id", "seg", "modality", "n_tokens")
    val out = SequencePack.packChunksMultimodal(
      segs, "doc_id", "seg", "modality", "n_tokens", seqLen = 4L)
      .orderBy("chunk_id", "doc_id", "seg")
      .as[(Long, Long, Long, String, Long, Long, Long)].collect().toSeq
    // stream: d1s0 [0,3) d1s1 [3,5) d1s2 [5,6) d2s0 [6,11)
    assert(out == Seq(
      (0L, 1L, 0L, "text", 0L, 0L, 3L),
      (0L, 1L, 1L, "image", 0L, 3L, 1L), // image splits across the boundary
      (1L, 1L, 1L, "image", 1L, 0L, 1L),
      (1L, 1L, 2L, "text", 0L, 1L, 1L),
      (1L, 2L, 0L, "image", 0L, 2L, 2L),
      (2L, 2L, 0L, "image", 2L, 0L, 3L)))
    // every chunk's pieces tile it: offsets contiguous from 0
    out.groupBy(_._1).foreach { case (c, ps) =>
      val sorted = ps.sortBy(_._6)
      assert(sorted.head._6 == 0L, s"chunk $c starts at 0")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._6 + a._7 == b._6, s"chunk $c gap")
        case _ =>
      }
    }
    // reassembly: each segment's seg_from spans cover [0, n) exactly
    val d2 = out.filter(r => r._2 == 2L).sortBy(_._5).map(p => (p._5, p._7))
    assert(d2 == Seq((0L, 2L), (2L, 3L)))
    // placeholder math: ceil grids, non-multiple width
    val dims = Seq((10, 6), (17, 11), (24, 16), (31, 8)).toDF("w", "h")
    val toks = dims.select(
      SequencePack.imagePlaceholderTokens(col("w"), col("h"), 8).as("t"))
      .as[Long].collect().toSeq
    assert(toks == Seq(2L * 1, 3L * 2, 3L * 2, 4L * 1))
    // corrupt upstream counter fails loudly
    intercept[Exception] {
      SequencePack.packChunksMultimodal(
        Seq((1L, 0L, "text", -2L)).toDF("doc_id", "seg", "modality", "n_tokens"),
        "doc_id", "seg", "modality", "n_tokens", 4L).collect()
    }
  }

  test("lossMaskSpans: every chunk tiles [0, seqLen) exactly, pad span closes " +
    "the tail, masks ride through") {
    // tokens 3, 5, 4 at seqLen 4 → 12 tokens, 3 exact chunks (no pad)
    val exact = Seq((1L, 3L, true), (2L, 5L, false), (3L, 4L, true))
      .toDF("doc_id", "n_tokens", "m")
    val outE = SequencePack.lossMaskSpans(exact, "doc_id", "n_tokens", "m", 4L)
      .orderBy("chunk_id", "span_offset").collect()
    assert(outE.length == 4 && outE.forall(!_.isNullAt(1)), "no pad when exact")
    // tokens 3, 0, 5 at seqLen 4 → 8 tokens... make it ragged: 3 + 5 + 3
    val ragged = Seq((1L, 3L, false), (2L, 5L, true), (3L, 3L, true))
      .toDF("doc_id", "n_tokens", "m")
    val out = SequencePack.lossMaskSpans(ragged, "doc_id", "n_tokens", "m", 4L)
      .orderBy("chunk_id", "span_offset")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
    // stream: d1 [0,3) mask F, d2 [3,8) mask T, d3 [8,11) mask T, pad [11,12)
    assert(out == Seq(
      (0L, 1L, 0L, 3L, false),
      (0L, 2L, 3L, 1L, true),
      (1L, 2L, 0L, 4L, true),
      (2L, 3L, 0L, 3L, true),
      (2L, -1L, 3L, 1L, false))) // the pad span, null doc, mask off
    // tiling: every chunk's spans cover [0, 4) with no gap or overlap
    out.groupBy(_._1).foreach { case (c, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L && sorted.map(_._4).sum == 4L, s"chunk $c")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 + a._4 == b._3, s"chunk $c gap")
        case _ =>
      }
    }
  }

  test("lossMaskSpansMultimodal: spans tile every chunk, modality and mask " +
    "ride the carried label, pad closes the tail") {
    import graft.operators.SequencePack
    // doc 1: text 3 (loss) + image 2 (no loss); doc 2: text 4 (loss);
    // seqLen 4 → total 9 tokens, 3 chunks, last padded by 3
    val segs = Seq(
      (1L, 0L, "text", 3L, true), (1L, 1L, "image", 2L, false),
      (2L, 0L, "text", 4L, true))
      .toDF("doc_id", "seg", "modality", "nt", "is_loss")
    val out = SequencePack.lossMaskSpansMultimodal(
      segs, "doc_id", "seg", "modality", "is_loss", "nt", seqLen = 4L)
      .orderBy("chunk_id", "span_offset").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getString(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(out == Seq(
      (0L, Some(1L), "text", 0L, 3L, true),
      (0L, Some(1L), "image", 3L, 1L, false),
      (1L, Some(1L), "image", 0L, 1L, false),
      (1L, Some(2L), "text", 1L, 3L, true),
      (2L, Some(2L), "text", 0L, 1L, true),
      (2L, None, null, 1L, 3L, false)))
    // tiling: every chunk's spans cover [0, 4) exactly
    out.groupBy(_._1).foreach { case (_, spans) =>
      assert(spans.map(_._5).sum == 4L)
      assert(spans.sortBy(_._4).foldLeft(0L) { (at, s) =>
        assert(s._4 == at); at + s._5
      } == 4L)
    }
  }

  test("mixture interleave: every prefix holds each source within 1 of its share") {
    val rows = (0 until 60).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
    val df = rows.toDF("id", "src") // 20 a, 40 b
    val w = Seq("a" -> 1L, "b" -> 2L)
    val sched = Mixture.interleave(df, "src", "id", w)
      .orderBy("position").select("src").as[String].collect()
    assert(sched.length == 60)
    var na = 0; var nb = 0
    sched.zipWithIndex.foreach { case (s, i) =>
      if (s == "a") na += 1 else nb += 1
      val t = i + 1
      assert(math.abs(na - t / 3.0) <= 1.0, s"prefix $t: a=$na")
      assert(math.abs(nb - 2 * t / 3.0) <= 1.0, s"prefix $t: b=$nb")
    }
    // deterministic: same inputs, same schedule
    val again = Mixture.interleave(df, "src", "id", w)
      .orderBy("position").select("src").as[String].collect()
    assert(sched.toSeq == again.toSeq)
    // a source value without a weight fails loudly, not silently last
    val bad = Seq((1L, "a"), (2L, "zz")).toDF("id", "src")
    intercept[Exception] {
      Mixture.interleave(bad, "src", "id", Seq("a" -> 1L)).collect()
    }
  }

  test("interleaveAnnealed: phase boundary prefix-closed, straddler stays phase 1, " +
    "each phase fair under its own weights, positions contiguous") {
    // 30 a-docs and 30 b-docs, 10 tokens each; boundary at 95 tokens →
    // phase 1 = the first 10 scheduled docs (doc 10's cum is 100 ≥ 95;
    // doc 9 STARTS at 90 < 95 so it finishes in phase 1)
    val rows = (0 until 60).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", 10L))
    val df = rows.toDF("id", "src", "n")
    val out = graft.operators.Mixture.interleaveAnnealed(
      df, "src", "id", "n",
      weights1 = Seq("a" -> 1L, "b" -> 1L),
      weights2 = Seq("a" -> 3L, "b" -> 1L),
      phase1Tokens = 95L)
      .orderBy("position")
      .select("position", "phase", "src").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(out.map(_._1) == (0L until 60L), "positions contiguous 0..N-1")
    val phase1 = out.filter(_._2 == 1)
    assert(phase1.length == 10, "exclusive-cum boundary: straddler in phase 1")
    assert(phase1.map(_._1) == (0L until 10L), "phase 1 is the position prefix")
    // phase 1 under equal weights alternates a/b within ±1 at every prefix
    var na = 0; var nb = 0
    phase1.foreach { case (_, _, s) =>
      if (s == "a") na += 1 else nb += 1
      assert(math.abs(na - nb) <= 1, "phase-1 fairness")
    }
    // phase 2 under a 3:1 anneal: HIGHER weight = more frequent (vtime
    // = rank·L/w), so every prefix holds a at ~3/4 share ±1; remaining
    // docs are 25 a + 25 b, so check fairness until one source exhausts
    val phase2 = out.filter(_._2 == 2)
    assert(phase2.length == 50)
    var a2 = 0; var b2 = 0
    phase2.zipWithIndex.foreach { case ((_, _, s), i) =>
      if (s == "a") a2 += 1 else b2 += 1
      val t = i + 1
      // the ±1 WFQ bound holds while BOTH sources still have documents
      if (a2 < 25 && b2 < 25)
        assert(math.abs(a2 - 3.0 * t / 4.0) <= 1.0, s"phase-2 prefix $t: a=$a2")
    }
    assert(a2 == 25 && b2 == 25)
    // deterministic end to end
    val again = graft.operators.Mixture.interleaveAnnealed(
      df, "src", "id", "n",
      Seq("a" -> 1L, "b" -> 1L), Seq("a" -> 3L, "b" -> 1L), 95L)
      .orderBy("position").select("position", "phase", "src").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(out == again)
  }

  test("PieceStore: incremental == whole-corpus pack, boundary chunk spans " +
    "batches, replay at recorded offset, watermark") {
    import graft.operators.{PieceStore, SequencePack}
    // tokens 3, 5, 4, 2 at seqLen 4: batch 1 = docs 1-2 (8 tokens, exact
    // chunks), batch 2 = docs 3-4 — then re-split UNevenly so the
    // boundary chunk spans batches: batch 1 = docs 1 only (3 tokens)
    val docs = Seq((1L, 3L), (2L, 5L), (3L, 4L), (4L, 2L)).toDF("doc_id", "n")
    val whole = SequencePack.packChunks(docs, "doc_id", "n", 4L)
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq
    val root = tmpDir("piecestore")
    val (o0, n0) = PieceStore.appendBatch(
      docs.filter($"doc_id" <= 1), "doc_id", "n", 4L, root, "b0")
    assert(o0 == 0L && n0 == 3L)
    val (o1, n1) = PieceStore.appendBatch(
      docs.filter($"doc_id" > 1), "doc_id", "n", 4L, root, "b1")
    assert(o1 == 3L && n1 == 11L)
    assert(PieceStore.totalTokens(spark, root) == 14L)
    val stored = PieceStore.pieces(spark, root)
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(stored == whole, "incremental must equal the whole-corpus pack")
    // chunk 0 spans the batch boundary: doc 1 (b0) + doc 2's head (b1)
    val chunk0Docs = stored.filter(_.head == 0L).map(_(1))
    assert(chunk0Docs == Seq(1L, 2L))
    // replaying b0 AFTER b1 landed re-packs at offset 0, table unchanged
    val (ro, _) = PieceStore.appendBatch(
      docs.filter($"doc_id" <= 1), "doc_id", "n", 4L, root, "b0")
    assert(ro == 0L)
    assert(PieceStore.pieces(spark, root)
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq == whole)
  }

  test("PieceStore guard: a first landing whose min id does not exceed the " +
    "committed max fails loudly; replays stay exempt") {
    import graft.operators.PieceStore
    val root = tmpDir("piecestore-guard")
    PieceStore.appendBatch(
      Seq((1L, 3L), (5L, 5L)).toDF("doc_id", "n"), "doc_id", "n", 4L, root, "b0")
    // out-of-order landing: min id 3 <= committed max 5 — must refuse
    val e = intercept[IllegalArgumentException] {
      PieceStore.appendBatch(
        Seq((3L, 2L)).toDF("doc_id", "n"), "doc_id", "n", 4L, root, "b1")
    }
    assert(e.getMessage.contains("does not exceed"))
    // nothing committed for b1 by the failed attempt
    assert(PieceStore.totalTokens(spark, root) == 8L)
    // a monotone landing and a replay both still work
    PieceStore.appendBatch(
      Seq((6L, 2L)).toDF("doc_id", "n"), "doc_id", "n", 4L, root, "b1")
    assert(PieceStore.totalTokens(spark, root) == 10L)
    val (ro, _) = PieceStore.appendBatch(
      Seq((1L, 3L), (5L, 5L)).toDF("doc_id", "n"), "doc_id", "n", 4L, root, "b0")
    assert(ro == 0L)
  }

  test("PieceStore.compactState: one state file afterwards, replay and tail " +
    "byte-identical across the fold, interrupted fold's duplicates harmless") {
    import graft.operators.{PieceStore, SequencePack}
    val docs = Seq((1L, 3L), (2L, 5L), (3L, 4L), (4L, 2L)).toDF("doc_id", "n")
    val root = tmpDir("piecestore-cstate")
    PieceStore.appendBatch(docs.filter($"doc_id" <= 1), "doc_id", "n", 4L, root, "b0")
    PieceStore.appendBatch(docs.filter($"doc_id" === 2L), "doc_id", "n", 4L, root, "b1")
    PieceStore.appendBatch(docs.filter($"doc_id" > 2), "doc_id", "n", 4L, root, "b2")
    val whole = SequencePack.packChunks(docs, "doc_id", "n", 4L)
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(PieceStore.compactState(spark, root, "s0") == 3L)
    // state dir folded to the single compaction subdir
    val f = new org.apache.hadoop.fs.Path(s"$root/state")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sub = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/state"))
      .filter(_.isDirectory).map(_.getPath.getName).toSeq
    assert(sub == Seq("s0"))
    // tail, pieces, and a replay at the RECORDED offset all survive
    assert(PieceStore.totalTokens(spark, root) == 14L)
    val (ro, _) = PieceStore.appendBatch(
      docs.filter($"doc_id" === 2L), "doc_id", "n", 4L, root, "b1")
    assert(ro == 3L, "recorded first_offset must survive the fold")
    assert(PieceStore.pieces(spark, root)
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq == whole)
    // the replay above re-wrote state/b1, a dir the fold retired: readers
    // skip it, a second fold leaves it out, and appends keep flowing
    assert(PieceStore.compactState(spark, root, "s1") == 3L)
    PieceStore.appendBatch(
      Seq((9L, 6L)).toDF("doc_id", "n"), "doc_id", "n", 4L, root, "b3")
    assert(PieceStore.totalTokens(spark, root) == 20L)
  }

  test("PieceStore deletes: live view masks out with offsets unchanged, " +
    "generation repack equals a from-scratch survivor pack") {
    import graft.operators.{PieceStore, SequencePack}
    val docs = Seq((1L, 3L), (2L, 5L), (3L, 4L), (4L, 2L)).toDF("doc_id", "n")
    val root = tmpDir("piecestore-del"); val gen = tmpDir("piecestore-gen")
    PieceStore.appendBatch(docs, "doc_id", "n", 4L, root, "b0")
    PieceStore.appendTombstones(Seq(2L).toDF("doc_id"), "doc_id", root, "t0")
    // live: doc 2's pieces gone, everyone else's chunk ids/offsets UNCHANGED
    val live = PieceStore.livePieces(spark, root, "doc_id")
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq
    val whole = SequencePack.packChunks(docs, "doc_id", "n", 4L)
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(live == whole.filter(_(1) != 2L))
    // generation: equals packing the survivors from scratch
    PieceStore.repackGeneration(spark, root, gen, "doc_id", 4L)
    val g = PieceStore.pieces(spark, gen)
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq
    val fresh = SequencePack.packChunks(
      docs.filter($"doc_id" =!= 2L), "doc_id", "n", 4L)
      .orderBy("chunk_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(g == fresh)
    assert(PieceStore.totalTokens(spark, gen) == 9L)
  }

  test("packWholeDocs: harmonic classing, no bin overflows, fill bound holds, " +
    "oversize and negative loud") {
    // seqLen 10: sizes 6 (cap 1), 4 (cap 2), 3 (cap 3), 2 (cap 5)
    val docs = Seq((1L, 6L), (2L, 6L), (3L, 4L), (4L, 4L), (5L, 4L),
      (6L, 3L), (7L, 3L), (8L, 3L), (9L, 3L), (10L, 2L), (11L, 0L))
      .toDF("doc_id", "n")
    val out = graft.operators.SequencePack.packWholeDocs(docs, "doc_id", "n", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(!out.exists(_._1 == 11L), "zero-token doc drops")
    // every (cap, bin) group: <= cap docs, total <= seqLen
    out.groupBy(t => (t._3, t._4)).foreach { case ((cap, bin), ds) =>
      assert(ds.length <= cap, s"cap=$cap bin=$bin holds ${ds.length}")
      assert(ds.map(_._2).sum <= 10L, s"cap=$cap bin=$bin overflows")
      // slots are 0..k-1 within the bin
      assert(ds.map(_._5).sorted == (0L until ds.length), s"slots cap=$cap bin=$bin")
    }
    // FULL bins meet the harmonic fill bound: fill > seqLen·c/(c+1)
    out.groupBy(t => (t._3, t._4)).filter { case ((cap, _), ds) => ds.length == cap }
      .foreach { case ((cap, bin), ds) =>
        assert(ds.map(_._2).sum * (cap + 1) > 10L * cap, s"fill bound cap=$cap")
      }
    // classing: cap = seqLen div n
    out.foreach { case (_, n, cap, _, _) => assert(cap == 10L / n) }
    // oversize and negative token counts fail loudly
    intercept[Exception] {
      graft.operators.SequencePack.packWholeDocs(
        Seq((1L, 11L)).toDF("doc_id", "n"), "doc_id", "n", 10L).collect()
    }
    intercept[Exception] {
      graft.operators.SequencePack.packWholeDocs(
        Seq((1L, -1L)).toDF("doc_id", "n"), "doc_id", "n", 10L).collect()
    }
  }

  test("upsampleEpochs: copy counts per source, epoch-major schedule order, " +
    "missing repeat factor loud") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "src")
    val up = graft.operators.Mixture.upsampleEpochs(
      df, "src", Seq("a" -> 1L, "b" -> 3L))
    val rows = up.orderBy("id", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", 0L), (2L, "a", 0L),
      (3L, "b", 0L), (3L, "b", 1L), (3L, "b", 2L)))
    // composed with interleave on an epoch-major order: b's epoch-1 copy
    // schedules after its epoch-0 copy
    val sched = graft.operators.Mixture.interleave(
      up.withColumn("ord", col("epoch") * 1000L + col("id")),
      "src", "ord", Seq("a" -> 1L, "b" -> 1L))
      .orderBy("position")
      .select("src", "epoch").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val bEpochs = sched.filter(_._1 == "b").map(_._2)
    assert(bEpochs == Seq(0L, 1L, 2L), "epoch-major within source")
    intercept[Exception] {
      graft.operators.Mixture.upsampleEpochs(
        df, "src", Seq("a" -> 1L)).collect()
    }
  }

  test("tokenBudget: prefix truncation — the crossing doc and everything after drop") {
    import graft.operators.TokenBudget
    // domain a, best-first by quality: q=9(n=4), q=7(n=3), q=5(n=2), q=3(n=1)
    // budget 7 → cum_after = 4, 7, 9, 10 → kept, kept, DROP, DROP —
    // even though the q=3 doc (n=1) would fit a remaining gap of 0…
    // prefix semantics: once crossed, nothing later is taken
    val docs = Seq(
      (1L, "a", 9L, 4L), (2L, "a", 7L, 3L), (3L, "a", 5L, 2L), (4L, "a", 3L, 1L),
      (5L, "b", 1L, 10L)) // domain b: first doc already over budget 5
      .toDF("id", "dom", "q", "n")
    val out = TokenBudget.selectUnderBudget(
      docs, "dom", "q", "id", "n", Seq("a" -> 7L, "b" -> 5L))
      .orderBy("id")
      .select("id", "dom_rank", "cum_before", "kept")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 0L, true), (2L, 2L, 4L, true),
      (3L, 3L, 7L, false), (4L, 4L, 9L, false),
      (5L, 1L, 0L, false)))
    // a domain without a budget fails loudly
    intercept[Exception] {
      TokenBudget.selectUnderBudget(
        docs, "dom", "q", "id", "n", Seq("a" -> 7L)).collect()
    }
  }

  test("preferencePairs: tie-breaks deterministic, tie-only prompts dropped") {
    val c = Seq(
      // prompt 1: clear winner/loser
      (1L, 10L, 5L), (1L, 11L, 9L), (1L, 12L, 2L),
      // prompt 2: top score TIED between 20 and 21 → chosen = LOWER id;
      // bottom tied between 22 and 23 → rejected = HIGHER id
      (2L, 20L, 7L), (2L, 21L, 7L), (2L, 22L, 3L), (2L, 23L, 3L),
      // prompt 3: all tied → no pair
      (3L, 30L, 4L), (3L, 31L, 4L),
      // prompt 4: single candidate → no pair
      (4L, 40L, 8L))
      .toDF("prompt_id", "cand", "score")
    val out = Preference.preferencePairs(c, "prompt_id", "cand", "score")
      .orderBy("prompt_id")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 11L, 9L, 12L, 2L, 7L),
      (2L, 4L, 20L, 7L, 23L, 3L, 4L)))
  }
}
