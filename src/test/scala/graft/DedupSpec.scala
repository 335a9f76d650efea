package graft

import graft.clean.Clean
import graft.dedup.Dedup
import graft.load.IdAssign
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def hashed(rows: Seq[(Int, String)]) =
    Clean.withRowHash(rows.toDF("ord", "payload"), Seq("payload"))

  test("J1 first-wins keeps the earliest occurrence") {
    val df = hashed(Seq((1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")))
    val out = Dedup.selfDedupFirstWins(df, Seq("row_hash"), "ord")
    assert(out.select("ord").as[Int].collect().sorted.toSeq == Seq(1, 3, 5))
  }

  test("J1 any-wins drops duplicates") {
    val df = hashed(Seq((1, "a"), (2, "a"), (3, "b")))
    assert(Dedup.selfDedupAnyWins(df, "row_hash").count() == 2)
  }

  test("J1 idempotence: dedup(dedup(x)) == dedup(x)") {
    val df = hashed(Seq((1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "c")))
    val once = Dedup.selfDedupAnyWins(df, "row_hash")
    val twice = Dedup.selfDedupAnyWins(once, "row_hash")
    assert(once.count() == twice.count())
  }

  test("J1 + ids over one exchange equal the window stamp after any-wins dedup, at 1, 3 and 7 partitions") {
    // 120 distinct payloads, every 3rd twice and every 5th three times,
    // spread over 4 input partitions so copies start on different tasks
    val rows = (1 to 120).flatMap(i => Seq.fill(1 + (if (i % 3 == 0) 1 else 0) + (if (i % 5 == 0) 2 else 0))(
      (s"p$i", i % 7)))
    val df = Clean.withRowHash(rows.toDF("payload", "k").repartition(4), Seq("payload", "k"))
    val want = IdAssign.denseIdsWindow(Dedup.selfDedupAnyWins(df, "row_hash"), 40L, Seq("row_hash"))
      .as[(Long, String, Int, String)].collect().sorted.toSeq
    assert(want.map(_._1) == (41L to 160L))
    for (n <- Seq(1, 3, 7)) {
      val got = IdAssign.dedupDenseIdsByHash(df, 40L, "row_hash", n)
      assert(got.rdd.getNumPartitions == n)
      assert(got.as[(Long, String, Int, String)].collect().sorted.toSeq == want, s"at $n partitions")
    }
  }

  test("J1 + ids over one exchange: mostly empty partitions and an all-duplicates batch") {
    // 10 rows over 64 hash partitions: most partitions, very likely the
    // last one too, hold nothing, and no id may be skipped for them
    val rows = (1 to 8).map(i => (s"p$i", i)) ++ Seq(("p3", 3), ("p7", 7))
    val df = Clean.withRowHash(rows.toDF("payload", "k"), Seq("payload", "k"))
    val want = IdAssign.denseIdsWindow(Dedup.selfDedupAnyWins(df, "row_hash"), 7L, Seq("row_hash"))
      .as[(Long, String, Int, String)].collect().sorted.toSeq
    assert(want.map(_._1) == (8L to 15L))
    val got = IdAssign.dedupDenseIdsByHash(df, 7L, "row_hash", 64)
    assert(got.rdd.getNumPartitions == 64)
    assert(got.as[(Long, String, Int, String)].collect().sorted.toSeq == want)
    // every row a copy of one: one row survives, with the first id
    val same = Clean.withRowHash(Seq.fill(25)(("x", 1)).toDF("payload", "k").repartition(3), Seq("payload", "k"))
    for (n <- Seq(1, 4)) {
      val one = IdAssign.dedupDenseIdsByHash(same, 100L, "row_hash", n)
        .as[(Long, String, Int, String)].collect().toSeq
      assert(one.map(r => (r._1, r._2, r._3)) == Seq((101L, "x", 1)), s"at $n partitions")
    }
  }

  test("J2 anti-join removes rows present in prior batches") {
    val batch = hashed(Seq((1, "a"), (2, "b"), (3, "c")))
    val prior = hashed(Seq((9, "b")))
    val out = Dedup.antiJoinPrior(batch, prior, "row_hash")
    assert(out.select("payload").as[String].collect().sorted.toSeq == Seq("a", "c"))
  }

  test("J2 re-run idempotence: second pass inserts zero rows") {
    val batch = hashed(Seq((1, "a"), (2, "b")))
    assert(Dedup.antiJoinPrior(batch, batch, "row_hash").count() == 0)
  }

  test("J3 id guard drops overlapping ids, keeps the rest") {
    val batch = Seq((5L, "x"), (6L, "y"), (7L, "z")).toDF("id", "v")
    val target = Seq(Tuple1(6L), Tuple1(100L)).toDF("id")
    val out = Dedup.idGuard(batch, target, "id")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 7L))
  }

  test("J3 floored at the watermark drops the same rows as the bounds-probing guard") {
    // batch ids 11..15 stamped above watermark 10; target ids lie below,
    // inside and above the batch's range
    val batch = (11L to 15L).map(i => (i, s"v$i")).toDF("id", "v")
    val target = Seq(3L, 10L, 12L, 14L, 20L).map(Tuple1(_)).toDF("id")
    val floored = Dedup.idGuardAbove(batch, target, 10L, "id").as[(Long, String)].collect().sorted
    assert(floored.toSeq == Dedup.idGuard(batch, target, "id").as[(Long, String)].collect().sorted.toSeq)
    assert(floored.map(_._1).toSeq == Seq(11L, 13L, 15L))
  }

  test("J3 empty-target fast path keeps everything") {
    val batch = Seq((1L, "x")).toDF("id", "v")
    val target = spark.emptyDataFrame.withColumn("id", lit(0L)).filter(lit(false))
    assert(Dedup.idGuard(batch, target.select("id"), "id").count() == 1)
  }
}
