package graft

import graft.ops.SourceOps

/** Contract-wide smoke: EVERY declared query builds, executes at sf0.001,
  * and returns rows. Catches a broken builder or an sf-dependent assumption
  * before Verify does.
  *
  * Each run also checks the registry's `staged` flags: with every flagged
  * row pre-staged the way Bench does it (analyzed plan only), building and
  * running any declared query must stage nothing new — otherwise Bench
  * times that query's one-time staging IO.
  *
  * And it checks that no query writes the session's conf: the queries
  * share one session, so a conf one query leaves behind changes the next.
  * Each run compares `conf.getAll` before and after, on a session of its
  * own that no other suite has written (a conf an earlier suite leaked
  * could otherwise hide the same leak here); a source lint keeps conf
  * writes out of the library. */
class ContractSmokeSpec extends SparkSpec {

  private lazy val session = spark.newSession()

  private lazy val prestaged: Unit = {
    SparkEntry.registry.filter(_.staged).foreach(_.run(session, sf0001).queryExecution.analyzed)
    session.catalog.clearCache()
  }

  private def assertConfKept[A](what: String)(body: => A): A = {
    val before = session.conf.getAll
    val a = body
    val after = session.conf.getAll
    assert(after == before, s"$what changed the session conf: " +
      s"${(after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)}")
    a
  }

  test("staged rows pre-stage from their analyzed plans, as Bench does") {
    assertConfKept("pre-staging")(prestaged)
    assert(SourceOps.stagedKeyCount > 0)
  }

  SparkEntry.registry.sortBy(_.name).foreach { case SparkEntry.QuerySpec(name, fn, _, _) =>
    test(s"$name runs and returns rows at sf0.001") {
      prestaged
      val staged = SourceOps.stagedKeyCount
      val n = assertConfKept(name) {
        val df = fn(session, sf0001)
        assert(df.columns.nonEmpty)
        df.count()
      }
      assert(n > 0, s"$name returned zero rows")
      assert(SourceOps.stagedKeyCount == staged,
        s"$name staged a write after pre-staging: flag its registry row staged")
      // several query builders persist() shared frames and rely on the
      // caller-side cache contract (Bench/Verify clearCache per query) —
      // honor it here too, or the suite accumulates one cache per query
      session.catalog.clearCache()
    }
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(session).count() > 0)
  }

  // ---- source lint: library code does not write the session conf ---------

  private val confWrite = raw"\.conf\s*\.\s*(?:set|unset)\s*\(".r

  /** The runner mains own their session and set its conf by design. */
  private val runners = Set("Bench.scala", "Verify.scala", "Plans.scala",
    "Profile.scala", "ProfileStages.scala")

  /** The library's conf writes that stay, each with its reason:
    * (file, text on the line) -> reason. */
  private val ledger = Map(
    ("streaming/StreamOps.scala", "scoped.conf.set(") ->
      "the stream drain's scoped clone: the caller's session is never written")

  /** (violations, ledger entries that matched a line). */
  private def lint(sources: Seq[(String, String)]): (Seq[String], Set[(String, String)]) = {
    val hits = sources.filterNot { case (file, _) => runners(file) }.flatMap { case (file, src) =>
      val code = SourceLint.stripComments(src)
      val lines = code.split("\n", -1)
      confWrite.findAllMatchIn(code).map { m =>
        val i = code.substring(0, m.start).count(_ == '\n')
        (s"$file:${i + 1}: ${lines(i).trim}",
          ledger.keys.find { case (f, text) => f == file && lines(i).contains(text) })
      }
    }
    (hits.collect { case (v, None) => v }, hits.flatMap(_._2).toSet)
  }

  test("source lint: no conf.set/conf.unset in the library outside the ledger") {
    val sources = SourceLint.mainSources
    assert(sources.exists(_._1 == "streaming/StreamOps.scala"))
    val (violations, used) = lint(sources)
    assert(violations.isEmpty,
      "session conf writes in library code (scope them to a clone, or ledger them " +
        "with a reason):\n" + violations.mkString("\n"))
    assert(used == ledger.keySet, s"stale ledger entries: ${ledger.keySet -- used}")
  }

  test("source lint: planted conf writes trip it; comments, runners and the ledger do not") {
    val planted = Seq(
      "ops/Planted.scala" ->
        """object Planted {
          |  def a(spark: SparkSession) = spark.conf.set("k", "v")
          |  def b(spark: SparkSession) = spark.conf
          |    .unset("k")
          |  def c(spark: SparkSession) = spark.conf.get("k")
          |  // spark.conf.set("commented", "out")
          |  /* spark.conf.unset("block comment") */
          |  def d(spark: SparkSession) = spark.sessionState.conf .set ("k", "v")
          |}""".stripMargin,
      "Verify.scala" -> """spark.conf.set("spark.sql.shuffle.partitions", "13")""",
      "streaming/StreamOps.scala" ->
        """scoped.conf.set("spark.sql.shuffle.partitions", "4")
          |spark.conf.set("spark.sql.shuffle.partitions", "4")""".stripMargin)
    val (violations, used) = lint(planted)
    assert(violations.map(_.takeWhile(_ != ' ')) == Seq(
      "ops/Planted.scala:2:", "ops/Planted.scala:3:", "ops/Planted.scala:8:",
      "streaming/StreamOps.scala:2:"),
      violations.mkString("\n"))
    assert(used == Set(("streaming/StreamOps.scala", "scoped.conf.set(")))
  }
}
