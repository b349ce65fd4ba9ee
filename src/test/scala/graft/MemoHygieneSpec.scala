package graft

import graft.ops.{Artifacts, SourceOps}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

/** The artifact store ([[graft.ops.Artifacts]]): its teardown, its build
  * protocol, its atomic model save, and a source lint that keeps it the
  * engine's only memo mechanism.
  *
  * Populating any session artifact arms an onApplicationEnd listener whose
  * body is `Artifacts.clearAll(appId)`; the teardown specs drive that body
  * directly (the shared suite context cannot be stopped mid-run) and
  * assert the session entries gone, the persisted frames released, and
  * the getters rebuilding cleanly afterwards — the full listener path
  * minus the context stop itself. */
class MemoHygieneSpec extends SparkSpec {

  test("clearAll empties every context-bound memo and the getters rebuild") {
    // populate one session artifact per family: a token relation (bm25),
    // an embedding projection + a chain (the ANN lifecycle probes build
    // both), a dedup base relation + the cluster table (dupClusters builds
    // both), and the graph edge relation (graphMetrics)
    val bm25Before = graft.ops.TextOps.bm25(spark, sf0001).collect().toSeq
    val probeBefore =
      graft.ops.VectorOps.annLifecycleProbes(spark, sf0001, useCompacted = true)
        .collect().toSeq
    val clustersBefore = graft.ops.TextOps.dupClusters(spark, sf0001).collect().toSeq
    val metricsBefore = graft.ops.GraphOps.graphMetrics(spark, sf0001).collect().toSeq
    assert(Artifacts.sessionEntryCount > 0)
    // populating a session artifact must have armed the application-end hook
    assert(Artifacts.installedFor(spark),
      "session lookup did not install the session-stop listener")

    val staged = SourceOps.stagedKeyCount
    Artifacts.clearAll(spark.sparkContext.applicationId)
    assert(Artifacts.sessionEntryCount == 0, "session artifacts survived clearAll")
    assert(SourceOps.stagedKeyCount == staged, "clearAll dropped staged directories")
    // the getters rebuild from scratch — same results, fresh entries
    val bm25After = graft.ops.TextOps.bm25(spark, sf0001).collect().toSeq
    assert(bm25After == bm25Before, "bm25 diverged after memo teardown")
    val probeAfter =
      graft.ops.VectorOps.annLifecycleProbes(spark, sf0001, useCompacted = true)
        .collect().toSeq
    assert(probeAfter == probeBefore, "ANN probes diverged after memo teardown")
    assert(graft.ops.TextOps.dupClusters(spark, sf0001).collect().toSeq
      == clustersBefore, "dup clusters diverged after memo teardown")
    assert(graft.ops.GraphOps.graphMetrics(spark, sf0001).collect().toSeq
      == metricsBefore, "graph metrics diverged after memo teardown")
    assert(Artifacts.sessionEntryCount > 0)
    // the hook stays armed across an explicit mid-life clearAll (only a
    // real application end drops the installed mark — re-installing here
    // would register a second listener for the same context)
    assert(Artifacts.installedFor(spark))
  }

  test("the embedding-projection memo holds ONE persisted entry across the ANN family (r17 verdict #1)") {
    val before = Artifacts.sessionEntryCount
    // three family members that each used to persist their own projection
    graft.ops.VectorOps.annPq(spark, sf0001).collect()
    graft.ops.VectorOps.ivfTopk(spark, sf0001).collect()
    graft.ops.VectorOps.annDelete(spark, sf0001).collect()
    val after = Artifacts.sessionEntryCount
    // at most the one (context, sf, confs) projection entry was added by
    // the three calls together — no per-invocation growth
    assert(after - before <= 1,
      s"ANN family added ${after - before} session entries across three calls")
  }

  test("the dedup family's prod entry points share ONE memoized shingle relation (r18 verdict #1)") {
    // first call may add the (context, sf, confs) shingle entry...
    graft.ops.TextOps.dedupJaccard(spark, sf0001).collect()
    val before = Artifacts.sessionEntryCount
    // ...after which every other family member reuses it — each of these
    // used to park its own per-call persist of the same corpus-sized plan
    graft.ops.TextOps.dedupPrefix(spark, sf0001).collect()
    graft.ops.TextOps.dedupMinhash(spark, sf0001).collect()
    graft.ops.TextOps.decontaminate(spark, sf0001).collect()
    graft.ops.TextOps.dedupIncremental(spark, sf0001).collect()
    assert(Artifacts.sessionEntryCount == before,
      "a dedup prod entry point added a per-invocation session entry")
  }

  // ---- the build protocol ----------------------------------------------

  private val tag = s"spec${System.nanoTime()}"

  private def tempModel(name: String): Path = {
    val dir = Files.createTempDirectory("artifacts_spec")
    dir.resolve(name)
  }

  test("store: builds of different keys nested three deep never throw") {
    // every build nests two more, so thousands of inserts land while outer
    // builds are in flight — across hash bins and table resizes. A store
    // built on computeIfAbsent throws "Recursive update" here.
    val sum = (0 until 1000).map { i =>
      Artifacts.session(spark, s"$tag-a", i)(
        Artifacts.session(spark, s"$tag-b", i)(
          Artifacts.session(spark, s"$tag-c", i)(i) + 1) + 1)
    }.sum
    assert(sum == (0 until 1000).map(_ + 2).sum)
    // and across the three tiers: stage → session → fitOrLoad
    val file = tempModel("nested.txt")
    val dir = SourceOps.materialize(s"$tag-stage") { d =>
      val v = Artifacts.session(spark, s"$tag-mid")(
        Artifacts.fitOrLoad[String](file.toString)(
          load = p => Files.readString(p), save = (s, p) => Files.writeString(p, s))("fitted"))
      Files.writeString(java.nio.file.Paths.get(d, "v"), v)
    }
    assert(Files.readString(java.nio.file.Paths.get(dir, "v")) == "fitted")
    assert(Files.readString(file) == "fitted")
  }

  test("store: same-key re-entry fails fast with the cycle message") {
    val e = intercept[IllegalArgumentException] {
      Artifacts.session(spark, s"$tag-cycle")(
        Artifacts.session(spark, s"$tag-cycle")(1))
    }
    assert(e.getMessage.contains("cycle") && e.getMessage.contains(s"$tag-cycle"),
      e.getMessage)
    // the failed build left no entry: a well-behaved builder succeeds
    assert(Artifacts.session(spark, s"$tag-cycle")(2) == 2)
  }

  test("store: a failed build leaves no entry and the next call rebuilds") {
    val builds = new AtomicInteger(0)
    val before = Artifacts.sessionEntryCount
    val e = intercept[IllegalStateException] {
      Artifacts.session(spark, s"$tag-fail") {
        builds.incrementAndGet()
        throw new IllegalStateException("builder failed")
      }
    }
    // the builder's own exception, not the task's wrapper
    assert(e.getMessage == "builder failed")
    assert(Artifacts.sessionEntryCount == before, "a failed build left an entry")
    assert(Artifacts.session(spark, s"$tag-fail") { builds.incrementAndGet(); "ok" } == "ok")
    assert(builds.get() == 2)
    // and the rebuilt value is now memoized
    assert(Artifacts.session(spark, s"$tag-fail") { builds.incrementAndGet(); "again" } == "ok")
    assert(builds.get() == 2)
  }

  test("store: stagedKeyCount counts staging entries only") {
    val staged = SourceOps.stagedKeyCount
    Artifacts.session(spark, s"$tag-count")(1)
    Artifacts.fitOrLoad[String](tempModel("count.txt").toString)(
      load = p => Files.readString(p), save = (s, p) => Files.writeString(p, s))("m")
    assert(SourceOps.stagedKeyCount == staged,
      "a session or fitOrLoad entry moved the staging count")
    SourceOps.materialize(s"$tag-count-stage")(_ => ())
    assert(SourceOps.stagedKeyCount == staged + 1)
  }

  test("fitOrLoad: a save that fails halfway leaves nothing at the final path; the next call re-fits") {
    val file = tempModel("half.tsv")
    val fits = new AtomicInteger(0)
    def get(save: (String, Path) => Unit): String =
      Artifacts.fitOrLoad[String](file.toString)(load = p => {
        val s = Files.readString(p)
        require(s.endsWith("\nend"), "truncated artifact")
        s
      }, save = save) { fits.incrementAndGet(); "line 1\nline 2\nend" }
    val halfThenDie: (String, Path) => Unit = { (s, p) =>
      Files.writeString(p, s.take(7))
      throw new java.io.IOException("killed mid-write")
    }
    // the failed save is not fatal: the fitted value serves this JVM...
    assert(get(halfThenDie) == "line 1\nline 2\nend")
    // ...but neither the half-written file nor its temp sibling survives
    assert(!Files.exists(file), "a half-written artifact reached the final path")
    assert(file.getParent.toFile.list().isEmpty, "the temp path was left behind")
    // a fresh JVM (the entry dropped) finds nothing to load and re-fits
    Artifacts.forgetModel(file.toString)
    assert(get((s, p) => Files.writeString(p, s)) == "line 1\nline 2\nend")
    assert(fits.get() == 2)
    assert(Files.readString(file) == "line 1\nline 2\nend")
    // and the next fresh JVM loads the complete artifact without fitting
    Artifacts.forgetModel(file.toString)
    assert(get(halfThenDie) == "line 1\nline 2\nend")
    assert(fits.get() == 2)
  }

  test("fitOrLoad: a missing file is fitted without a load attempt; a corrupt one is re-fitted") {
    val file = tempModel("absent.txt")
    val loads = new AtomicInteger(0)
    def get(): String =
      Artifacts.fitOrLoad[String](file.toString)(load = p => {
        loads.incrementAndGet()
        val s = Files.readString(p)
        require(s == "model", "corrupt artifact")
        s
      }, save = (s, p) => Files.writeString(p, s))("model")
    assert(!Files.exists(file))
    assert(get() == "model")
    assert(loads.get() == 0, "load was invoked on a missing file")
    assert(Files.readString(file) == "model")
    // a file that exists but fails to load still takes the re-fit path
    Files.writeString(file, "garbage")
    Artifacts.forgetModel(file.toString)
    assert(get() == "model")
    assert(loads.get() == 1)
    assert(Files.readString(file) == "model")
  }

  // ---- source lint: one memo mechanism -----------------------------------

  private val memoMechanism = raw"\b(?:ConcurrentHashMap|computeIfAbsent|MemoHygiene)\b".r

  /** `Artifacts` owns the one map. The only other concurrent map allowed is
    * the audit sink's commit-protocol state, which is sink state, not a
    * memo. */
  private def allowed(file: String, line: String): Boolean =
    file == "ops/Artifacts.scala" ||
      (file == "sources/AuditSink.scala" &&
        raw"private val (committed|abortedRuns) =".r.findFirstIn(line).isDefined)

  private def lintViolations(sources: Seq[(String, String)]): Seq[String] =
    sources.flatMap { case (file, src) =>
      SourceLint.stripComments(src).split("\n", -1).toSeq.zipWithIndex.collect {
        case (line, i) if memoMechanism.findFirstIn(line).isDefined && !allowed(file, line) =>
          s"$file:${i + 1}: ${line.trim}"
      }
    }

  test("source lint: no memo map, computeIfAbsent or MemoHygiene outside Artifacts") {
    val sources = SourceLint.mainSources
    assert(sources.exists(_._1 == "ops/Artifacts.scala"))
    val violations = lintViolations(sources)
    assert(violations.isEmpty,
      "memo mechanisms outside Artifacts (store the value there instead):\n" +
        violations.mkString("\n"))
  }

  test("source lint: planted memo maps trip it; comments, Artifacts and the audit sink state do not") {
    val planted = Seq(
      "ops/Planted.scala" ->
        """object Planted {
          |  private val cache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
          |  def get(k: String) = cache.computeIfAbsent(k, _ => build(k))
          |  MemoHygiene.register(_ => cache.clear())
          |  // a ConcurrentHashMap in a comment
          |  /* computeIfAbsent in a block comment */
          |  def ok(spark: SparkSession) = Artifacts.session(spark, "x")(1)
          |}""".stripMargin,
      "ops/Artifacts.scala" -> "private val entries = new ConcurrentHashMap[(Tier, String), Entry]()",
      "sources/AuditSink.scala" ->
        """private val committed = new java.util.concurrent.ConcurrentHashMap[String, AuditSink.Stats]()
          |private val abortedRuns = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
          |private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()""".stripMargin)
    val violations = lintViolations(planted)
    assert(violations.map(_.takeWhile(_ != ' ')) == Seq(
      "ops/Planted.scala:2:", "ops/Planted.scala:3:", "ops/Planted.scala:4:",
      "sources/AuditSink.scala:3:"), violations.mkString("\n"))
  }
}
