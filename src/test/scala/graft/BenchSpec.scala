package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the bench harness's baseline parser: the baseline file is a prior
  * Bench output line, which carries BOTH a `"queries"` durations object and
  * a `"started"` offsets object keyed by the same query names. The parser
  * must read only the durations — a whole-file match would let the start
  * offsets clobber them (the round-5 retry pass was silently inert for
  * exactly this reason).
  */
class BenchSpec extends AnyFunSuite {

  private val line =
    """{"metric":"total","value":12.3,"unit":"sec",""" +
      """"queries":{"q01_clean":0.42,"q99_zzz":0.112},""" +
      """"started":{"q01_clean":0.000,"q99_zzz":76.088},""" +
      """"retried":{"q99_zzz":0.105},"sf":"/root/testdata/sf0.1"}"""

  test("parseBaseline reads durations, not started offsets") {
    val b = Bench.parseBaseline(line)
    assert(b == Map("q01_clean" -> 0.42, "q99_zzz" -> 0.112))
  }

  test("parseBaseline round-trips the standing BASELINE_QUERIES.json") {
    val p = java.nio.file.Paths.get("BASELINE_QUERIES.json")
    assume(java.nio.file.Files.exists(p))
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val b = Bench.parseBaseline(txt)
    assert(b.nonEmpty)
    // every parsed duration must be a plausible per-query wall time, not a
    // cumulative start offset (the file's total is ~tens of seconds; no
    // single gate query legitimately takes >20 s at sf0.1)
    assert(b.values.forall(v => v >= 0 && v < 20.0), b.filter(_._2 >= 20.0))
  }

  test("a query that throws is a failure, not a duration") {
    val boom = new IllegalStateException("boom")
    assert(Bench.time(throw boom) == Left(boom))
  }

  test("parseBaseline tolerates missing or malformed queries object") {
    assert(Bench.parseBaseline("""{"metric":"total"}""").isEmpty)
    assert(Bench.parseBaseline("").isEmpty)
    assert(Bench.parseBaseline("""{"queries":""").isEmpty)
  }
}
