package graft

import graft.clean.Clean
import graft.dedup.Dedup
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

  test("J2 bloom-reduced variant matches the plain anti-join") {
    val batch = (1 to 500).map(i => (s"h${i % 120}", i)).toDF("row_hash", "payload")
    val prior = (0 to 40).map(i => Tuple1(s"h$i")).toDF("row_hash")
    val want = Dedup.antiJoinPrior(batch, prior, "row_hash")
      .select("payload").as[Int].collect().toSet
    val got = Dedup.antiJoinPriorBloom(batch, prior, "row_hash", expectedItems = 1000L)
      .select("payload").as[Int].collect().toSet
    assert(got == want && want.nonEmpty)
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
