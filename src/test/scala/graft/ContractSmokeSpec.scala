package graft

import graft.ops.SourceOps

/** Contract-wide smoke: EVERY declared query builds, executes at sf0.001,
  * and returns rows. Catches a broken builder or an sf-dependent assumption
  * before Verify does.
  *
  * Each run also checks the registry's `staged` flags: with every flagged
  * row pre-staged the way Bench does it (analyzed plan only), building and
  * running any declared query must stage nothing new — otherwise Bench
  * times that query's one-time staging IO. */
class ContractSmokeSpec extends SparkSpec {

  private lazy val prestaged: Unit = {
    SparkEntry.registry.filter(_.staged).foreach(_.run(spark, sf0001).queryExecution.analyzed)
    spark.catalog.clearCache()
  }

  test("staged rows pre-stage from their analyzed plans, as Bench does") {
    prestaged
    assert(SourceOps.stagedKeyCount > 0)
  }

  SparkEntry.registry.sortBy(_.name).foreach { case SparkEntry.QuerySpec(name, fn, _, _) =>
    test(s"$name runs and returns rows at sf0.001") {
      prestaged
      val staged = SourceOps.stagedKeyCount
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned zero rows")
      assert(SourceOps.stagedKeyCount == staged,
        s"$name staged a write after pre-staging: flag its registry row staged")
      // several query builders persist() shared frames and rely on the
      // caller-side cache contract (Bench/Verify clearCache per query) —
      // honor it here too, or the suite accumulates one cache per query
      spark.catalog.clearCache()
    }
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
