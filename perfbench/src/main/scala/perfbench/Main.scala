package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{Scoring, SourceOps}

/** The benchmark's JVM side: one run of one workload.
  *
  * Sets the engine up once, cold (a fresh session and an empty artifact
  * cache), checks every query's result once, then runs a closed loop with one
  * client thread: each round calls `SparkEntry.queries(name)(spark, dir)` and
  * writes the result to the `noop` sink, for every query of the workload in a
  * seeded order. Rounds repeat until `--seconds` have passed and the minimum
  * number of rounds is done. It writes one raw JSON record to `--out`; the
  * launcher turns that into metrics.
  *
  * With `--trace true`, rounds alternate traced and untraced, and the traced
  * ones record spans through [[Recorder]]. */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, queries: Seq[String], cores: Int,
      minRounds: Int, marginSample: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace").toBoolean,
      m("data"), m("out"), list("queries"), m("cores").toInt,
      m.getOrElse("min-rounds", "1").toInt, m.getOrElse("margin-sample", "0").toInt)
  }

  private def now(): Double = System.nanoTime() / 1e9

  private[perfbench] def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private[perfbench] def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = parse(argv)
    val heap = new HeapWatch
    val dir = a.data
    val (spark, setup) = setUp(a, dir)
    // the result checks run before the timed region, so they also take the
    // first-execution JIT and codegen cost out of it (the role of the untimed
    // warm-ups in graft.Bench)
    val w0 = now()
    val checks = new scala.util.Random(a.seed).shuffle(a.queries.distinct)
      .map(q => check(spark, dir, q))
    val margins = if (a.marginSample > 0) marginCheck(spark, dir, a) else "null"
    val warmup = now() - w0
    val timed = new Timed(spark, a, dir, heap)
    timed.run()
    val record = Json.obj(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed),
      "cores" -> a.cores.toString,
      "jvm_start_ms" -> Json.num(ManagementFactory.getRuntimeMXBean.getStartTime),
      "main_ms" -> Json.num(mainMs),
      "setup" -> Json.obj(setup :+ ("warmup_s" -> Json.num(warmup)): _*),
      "timed" -> timed.json,
      "checks" -> Json.arr(checks),
      "margin_check" -> margins)
    Files.writeString(Paths.get(a.out), record)
    spark.stop()
  }

  // ---- set-up ----

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The engine's set-up: a session and the staging writes, from an emptied
    * fit-or-load artifact cache. Returns the session and the phase times. */
  private def setUp(a: Args, dir: String): (SparkSession, Seq[(String, String)]) = {
    deleteTree(Paths.get("target/models"))
    val t0 = now()
    val spark = session(a.cores)
    val t1 = now()
    a.queries.distinct.filter(SourceOps.stagedQueries.contains).foreach { q =>
      val s0 = now()
      SparkEntry.queries(q)(spark, dir).queryExecution.analyzed
      progress(f"set-up: staged $q in ${now() - s0}%.2f s")
    }
    spark.catalog.clearCache()
    val t2 = now()
    progress(f"set-up: session ${t1 - t0}%.2f s, staging ${t2 - t1}%.2f s")
    (spark, Seq("session_s" -> Json.num(t1 - t0), "staging_s" -> Json.num(t2 - t1)))
  }

  // ---- result checks (outside the timed region) ----

  private def check(spark: SparkSession, dir: String, q: String): String = {
    val t0 = now()
    val fields = try {
      val d = Digest.of(SparkEntry.queries(q)(spark, dir))
      Seq("rows" -> Json.num(d.rows), "digest" -> Json.str(d.digest), "error" -> "null")
    } catch {
      case e: Throwable => Seq("rows" -> "null", "digest" -> "null", "error" -> Json.str(String.valueOf(e)))
    }
    spark.catalog.clearCache()
    progress(f"check $q: ${now() - t0}%.2f s")
    Json.obj(("query" -> Json.str(q)) +: fields: _*)
  }

  /** A seeded sample of customers: the margin `xgb_margin` computes inside
    * Spark must equal, bit for bit, the scalar `XgbModel.margin` on the same
    * features, and `q_score_exact`'s probability must be that margin's. */
  private def marginCheck(spark: SparkSession, dir: String, a: Args): String = {
    import graft.functions.XgbFunctions.xgb_margin
    val n = graft.sources.Tables.load(spark, dir, "customer").count()
    val rnd = new java.util.Random(a.seed)
    val ids = Seq.fill(a.marginSample)(math.floorMod(rnd.nextLong(), n)).distinct
    val feats = Scoring.featureCols.map(col)
    val rows = Scoring.preprocess(Scoring.synthCustomers(spark, dir))
      .filter(col("customer_id").isin(ids: _*))
      .select(col("customer_id") +: feats :+ xgb_margin(array(feats: _*)).as("m"): _*)
      .collect()
    val probs = SparkEntry.queries("q_score_exact")(spark, dir)
      .filter(col("customer_id").isin(ids: _*))
      .select("customer_id", "churn_prob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    var bad = 0
    rows.foreach { r =>
      val f = Array.tabulate(feats.size)(i => r.getDouble(i + 1))
      val scalar = graft.functions.XgbModel.margin(f)
      val m = r.getDouble(feats.size + 1)
      val p = (1.0 / (1.0 + StrictMath.exp(-scalar.toDouble))).toFloat.toDouble
      if (m != scalar.toDouble || !probs.get(r.getLong(0)).contains(p)) bad += 1
    }
    Json.obj("sampled" -> rows.length.toString, "expected" -> ids.size.toString,
      "mismatches" -> bad.toString)
  }

  private[perfbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}

/** Largest heap still in use just after a collection, from the JVM's GC
  * notifications; sums the heap pools after each GC. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile var armed = false
  @volatile var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peakBytes) peakBytes = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}

/** The timed closed loop and its guards. */
final class Timed(spark: SparkSession, a: Main.Args, dir: String, heap: HeapWatch) {
  import Main.noop

  private val sc = spark.sparkContext
  private val execs = ArrayBuffer.empty[String]
  private val guards = ArrayBuffer.empty[String]
  private val recorder = if (a.trace) Some(new Recorder(spark)) else None
  private var wall, tracedWall, untracedWall, guardPause = 0.0
  private var rounds, nextExec = 0
  private var cachedPeak = 0L

  private def guard(kind: String, query: String, detail: String): Unit =
    guards += Json.obj("kind" -> Json.str(kind), "query" -> Json.str(query), "detail" -> Json.str(detail))

  /** Traced and untraced rounds alternate, so the tracing overhead is
    * measured inside one run. */
  private def traced(round: Int): Boolean = a.trace && round % 2 == 0

  def run(): Unit = {
    val baselineRdds = sc.getPersistentRDDs.keySet.toSet
    val maxSetupRdd = (baselineRdds + -1).max
    val staged0 = SourceOps.stagedKeyCount
    val gc0 = heap.gcSeconds
    val compile0 = CodeGenerator.compileTime
    heap.armed = true
    val minRounds = if (a.trace) math.max(2, a.minRounds) else a.minRounds
    startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9 - guardPause
    while (rounds < minRounds || elapsed < a.seconds) {
      val tr = traced(rounds)
      val r0 = System.nanoTime()
      if (tr) recorder.foreach(_.attach())
      val order = new scala.util.Random(a.seed * 1000003L + rounds).shuffle(a.queries)
      order.foreach(q => exec(q, rounds, tr))
      if (tr) recorder.foreach(_.detach())
      val roundWall = (System.nanoTime() - r0) / 1e9
      if (tr) tracedWall += roundWall else untracedWall += roundWall
      roundGuard(maxSetupRdd)
      rounds += 1
    }
    wall = elapsed
    heap.armed = false
    stagedDelta = SourceOps.stagedKeyCount - staged0
    gcS = heap.gcSeconds - gc0
    compileS = (CodeGenerator.compileTime - compile0) / 1e9
    if (stagedDelta != 0) guard("staging_in_timed", "*", s"$stagedDelta staging writes")
  }
  private var stagedDelta = 0
  private var startMs = 0L
  private var gcS, compileS = 0.0

  private def exec(q: String, round: Int, tr: Boolean): Unit = {
    val id = nextExec
    nextExec += 1
    val staged = SourceOps.stagedKeyCount
    if (tr) {
      sc.setLocalProperty(Recorder.EXEC, id.toString)
      sc.setLocalProperty(Recorder.PHASE, "build")
    }
    val gc0 = heap.gcSeconds
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var buildMs = startMs
    val error = try {
      val df = SparkEntry.queries(q)(spark, dir)
      t1 = System.nanoTime()
      buildMs = System.currentTimeMillis()
      if (tr) sc.setLocalProperty(Recorder.PHASE, "write")
      noop(df)
      None
    } catch { case e: Throwable => Some(String.valueOf(e)) }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    Main.progress(f"round $round $q: ${(t2 - t0) / 1e9}%.3f s${error.fold("")(e => s" FAILED $e")}")
    val gc = heap.gcSeconds - gc0
    if (tr) {
      sc.setLocalProperty(Recorder.EXEC, null)
      sc.setLocalProperty(Recorder.PHASE, null)
    }
    // query boundary: untimed by the per-query clock, inside the loop's wall
    if (SourceOps.stagedKeyCount != staged) guard("staging_in_timed", q, "staging write during the query")
    val active = spark.streams.active
    if (active.nonEmpty) {
      guard("stream_active", q, s"${active.length} streaming queries still active")
      active.foreach(s => scala.util.Try(s.stop()))
    }
    if (tr) cachedPeak = math.max(cachedPeak,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    spark.catalog.clearCache()
    execs += Json.obj("id" -> id.toString, "query" -> Json.str(q), "round" -> round.toString,
      "traced" -> tr.toString, "start_ms" -> Json.num(startMs), "build_end_ms" -> Json.num(buildMs),
      "end_ms" -> Json.num(endMs), "build_s" -> Json.num((t1 - t0) / 1e9),
      "lat_s" -> Json.num((t2 - t0) / 1e9), "gc_s" -> Json.num(gc), "error" -> Json.opt(error))
  }

  /** After each round: a block persisted in the timed region that is still
    * referenced after `clearCache` (and a full GC, which drops the
    * unreferenced ones) would let a later query read an earlier one's work.
    * Local checkpoints are left out: the scheduler keeps finished shuffle
    * stages, and with them their checkpointed parents, until the shuffle is
    * cleaned, and no later query can reach them. The pause is excluded from
    * the timed wall. */
  private def roundGuard(maxSetupRdd: Int): Unit = {
    val g0 = System.nanoTime()
    System.gc()
    val leaked = sc.getPersistentRDDs.filter { case (id, rdd) =>
      id > maxSetupRdd && !(rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty)
    }
    if (leaked.nonEmpty) {
      val cached = sc.getRDDStorageInfo.filter(i => leaked.contains(i.id) && i.numCachedPartitions > 0)
      if (cached.nonEmpty) guard("persisted_after_clear", "*",
        cached.map(i => s"rdd ${i.id} ${i.name}").mkString("; "))
    }
    guardPause += (System.nanoTime() - g0) / 1e9
  }

  def json: String = Json.obj(
    "start_ms" -> Json.num(startMs),
    "wall_s" -> Json.num(wall),
    "rounds" -> rounds.toString,
    "traced_wall_s" -> Json.num(tracedWall),
    "untraced_wall_s" -> Json.num(untracedWall),
    "guard_pause_s" -> Json.num(guardPause),
    "heap_live_peak_mb" -> Json.num(heap.peakBytes / 1048576.0),
    "gc_s" -> Json.num(gcS),
    "compile_s" -> Json.num(compileS),
    "staged_delta" -> stagedDelta.toString,
    "cached_peak_mb" -> Json.num(cachedPeak / 1048576.0),
    "execs" -> Json.arr(execs),
    "guards" -> Json.arr(guards),
    "trace" -> recorder.map(_.toJson).getOrElse("null"))
}

