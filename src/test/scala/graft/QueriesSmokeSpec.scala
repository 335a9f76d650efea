package graft

/** Every gate query must run at sf0.001 and (where it should) return rows.
  * Value-level correctness is checked against DuckDB by the driver (and
  * locally by tools/check_oracle.py); this spec catches runtime breakage fast.
  */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle-backed query has matching column aliases in its SQL") {
    SparkEntry.allQs.foreach { q =>
      q.oracle.foreach { sql =>
        val df = q.run(spark, sf)
        df.columns.foreach { c =>
          assert(
            sql.toLowerCase.contains(c.toLowerCase),
            s"${q.name}: column '$c' not mentioned in oracle SQL")
        }
      }
    }
  }

  test("IVF+PQ queries release the frames they cache") {
    spark.catalog.clearCache() // other suites share this session and its cache
    for (name <- Seq("q332_ann_ivfpq", "q366_ivfpq_delete", "q381_ivfpq_recall", "q382_ivfpq_refit")) {
      assert(SparkEntry.allQs.find(_.name == name).get.run(spark, sf).count() > 0)
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cached frame")
    }
  }

  SparkEntry.allQs.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val n = q.run(spark, sf).count()
      assert(n >= 0)
    }
  }
}
