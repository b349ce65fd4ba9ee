package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The engine's one artifact store. The paper's app fits nothing at run
  * time: it loads one pre-fitted pipeline and scores with it many times.
  * Everything the engine builds once and reads many times lives here, in
  * ONE key → `FutureTask` map with one build protocol and one teardown, in
  * three tiers:
  *
  *  - [[stage]]: a directory written once per JVM — a staging fixture or a
  *    derived artifact. Bench pre-stages these untimed.
  *  - [[session]]: a value bound to the SparkContext that built it —
  *    persisted relations, `localCheckpoint`ed tables, composed chains.
  *    Dropped when that context ends.
  *  - [[fitOrLoad]]: a fitted model, kept in the JVM and under
  *    `target/models`, so a fresh JVM loads instead of re-fitting.
  *
  * Builds NEST across tiers (a lifecycle chain builds the embedding
  * projection, fits the quantizer and codebooks, then stages its compacted
  * index), which is why the protocol is `putIfAbsent` of a task that the
  * winner runs OUTSIDE the map operation, never `computeIfAbsent`: a nested
  * `computeIfAbsent` on the same map throws "Recursive update" whenever the
  * two keys land in one hash bin or the nested insert resizes the table —
  * bin-layout-dependent, so it surfaced only when an unlucky key set
  * shifted the map (first hit: the round-16 Plans dump, q_pca_k3 after the
  * lex_postings_ keys landed). Losers wait on the winner's task; a failed
  * build leaves no entry, and every caller sees the builder's own
  * exception. */
object Artifacts {

  private sealed abstract class Tier
  private case object Stage extends Tier
  private case object Session extends Tier
  private case object Model extends Tier

  /** A built (or building) value. `appId` names the owning context
    * (session tier only); `writer` is the closure that wrote a staged
    * artifact the stability gate re-derives. */
  private final class Entry(val task: FutureTask[AnyRef], val appId: String,
      val writer: Option[String => Unit])

  private val entries = new ConcurrentHashMap[(Tier, String), Entry]()

  /** Keys the current THREAD is building — the cycle detector. */
  private val building: ThreadLocal[java.util.HashSet[(Tier, String)]] =
    ThreadLocal.withInitial(() => new java.util.HashSet[(Tier, String)]())

  private val installedApps = ConcurrentHashMap.newKeySet[String]()

  private def build[A](tier: Tier, key: String, appId: String = "",
      writer: Option[String => Unit] = None)(make: => A): A = {
    val k = (tier, key)
    // a builder that transitively asks for its OWN key would block forever
    // in get() on its own incomplete task: fail fast instead. Per THREAD —
    // another thread building the same key is the normal winner/waiter case
    require(!building.get().contains(k),
      s"artifact cycle: '$key' is already under construction by this thread")
    val entry = new Entry(new FutureTask[AnyRef](() => make.asInstanceOf[AnyRef]), appId, writer)
    val prior = entries.putIfAbsent(k, entry)
    val winner = if (prior == null) {
      building.get().add(k)
      try entry.task.run() finally building.get().remove(k)
      entry
    } else prior
    try winner.task.get().asInstanceOf[A]
    catch {
      case e: ExecutionException =>
        entries.remove(k, winner)
        throw e.getCause
    }
  }

  /** Stage a directory once per JVM under `key`: `write` fills a fresh
    * temp directory, whose path every later call returns. With `record`,
    * the writer is kept for [[recordedStages]]. */
  private[graft] def stage(key: String, record: Boolean)(write: String => Unit): String =
    build(Stage, key, writer = if (record) Some(write) else None) {
      val dir = Files.createTempDirectory(
        "graft_" + key.replaceAll("[^A-Za-z0-9._-]", "_")).toString
      write(dir)
      dir
    }

  /** Number of staging entries (in flight included); the other tiers do
    * not count. Bench and the benchmark compare it around each timed
    * query to catch a staging write inside the timed region. */
  private[graft] def stagedKeyCount: Int = entries.keySet.asScala.count(_._1 == Stage)

  /** key → (directory, writer) for every staged artifact built with a
    * recorded writer. A task that completed exceptionally is done too, in
    * the window before its caller removes the entry; it has no artifact,
    * so it is skipped. */
  private[graft] def recordedStages: Map[String, (String, String => Unit)] =
    entries.asScala.toSeq.flatMap {
      case ((Stage, key), e) if e.task.isDone =>
        e.writer.flatMap(w => Try(e.task.get()).toOption.map(d => key -> (d.asInstanceOf[String], w)))
      case _ => None
    }.toMap

  /** The value `name`/`parts` builds in `spark`'s context. The key adds the
    * application id — a session recreated in the same JVM rebuilds instead
    * of reading frames bound to a dead context — and the two confs the
    * stability gate perturbs, so its perturbed re-run builds its own value
    * instead of reading one built under default partitioning. A typed SQL
    * conf validates an explicit default string, hence the no-default gets.
    * Steady state holds one entry per value; the gate adds one per
    * perturbed conf set. */
  private[graft] def session[A](spark: SparkSession, name: String, parts: Any*)(make: => A): A = {
    val appId = install(spark)
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    val mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    build(Session, ((appId +: name +: parts) :+ sp :+ mpb).mkString("|"), appId)(make)
  }

  /** Fit-or-load a model artifact at `file`, memoized in the JVM. A missing
    * file is fitted without a load attempt (a Spark model read of a missing
    * path fails only after logging its stack trace); one that exists but
    * fails to load is re-fitted. Either way the fit is saved through a
    * sibling temp path renamed into place, so a JVM killed mid-save leaves a
    * stray temp, never a truncated artifact that reloads as a different
    * model. A failed save is not fatal: the fitted value still serves this
    * JVM. */
  private[graft] def fitOrLoad[A](file: String)(load: Path => A, save: (A, Path) => Unit)(
      fit: => A): A =
    build(Model, file) {
      val path = Paths.get(file)
      (if (Files.exists(path)) Try(load(path)).toOption else None).getOrElse {
        val a = fit
        Try(saveAtomically(path)(save(a, _)))
        a
      }
    }

  /** The model file for `key` (a corpus path, sanitized) under
    * `target/models`: `<name><key><ext>`. */
  private[graft] def modelFile(name: String, key: String, ext: String = ""): String =
    s"target/models/$name${key.replaceAll("[^A-Za-z0-9.]", "_")}$ext"

  private def saveAtomically(path: Path)(write: Path => Unit): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp-${System.nanoTime()}")
    try {
      write(tmp)
      deleteTree(path) // the artifact that failed to load, if any
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    } finally deleteTree(tmp)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Arm the application-end teardown once per context; returns its id.
    *
    * The first install for a NEW context also sweeps: teardown runs on the
    * listener-bus thread with no lock against concurrent builds, so a build
    * racing the application end can insert an entry for the stopping
    * context after its teardown ran. Only one SparkContext is live per JVM,
    * and [[session]] installs before inserting, so every session entry
    * surviving to this point is dead-context garbage. */
  private def install(spark: SparkSession): String = {
    val sc = spark.sparkContext
    val appId = sc.applicationId
    if (installedApps.add(appId)) {
      clearAll(appId)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          // only a real end drops the mark: an explicit mid-life clearAll
          // must not, or the next lookup would add a second listener
          installedApps.remove(appId)
          clearAll(appId)
        }
      })
    }
    appId
  }

  /** Drop EVERY session entry — at application end no other context in the
    * JVM is live — unpersisting only `appId`'s DataFrame values: an earlier
    * context's cache died with it, and unpersisting against it would
    * throw. Try-guarded, since the listener runs while the context stops.
    * Staged directories and fitted models are not context-bound and stay.
    * Also callable directly: the spec's seam, and a teardown for hosts that
    * keep a context alive but want its values dropped. */
  private[graft] def clearAll(appId: String): Unit =
    entries.asScala.foreach { case (k, e) =>
      if (k._1 == Session && entries.remove(k, e) && e.appId == appId && e.task.isDone)
        Try(e.task.get()).foreach {
          case ds: Dataset[_] => Try(ds.unpersist())
          case _ =>
        }
    }

  /** Spec seams: the session-entry count, whether `spark`'s context has
    * its teardown armed, and dropping one model's JVM entry (what a fresh
    * JVM sees). */
  private[graft] def sessionEntryCount: Int = entries.keySet.asScala.count(_._1 == Session)
  private[graft] def installedFor(spark: SparkSession): Boolean =
    installedApps.contains(spark.sparkContext.applicationId)
  private[graft] def forgetModel(file: String): Unit = { entries.remove((Model, file)); () }

  /** Persist `df` only if it is not cached already. Callers re-register a
    * stored relation on every lookup this way: Bench and Verify
    * `clearCache()` between queries, and an evicted relation would quietly
    * lose the sharing within a query it exists for. It also makes the
    * deliberate reuse of plan-identical intermediates (the unigram table of
    * pmiCollocations and lmPerplexity, the minhash banded rows) silent:
    * CacheManager no-ops the second persist but logs "Asked to cache
    * already cached data". Callers must NOT unpersist the returned frame —
    * the cache entry may belong to an earlier query. */
  private[graft] def persistOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist() else df

  /** `.persistOnce()` postfix syntax, so call sites read like the
    * `.persist()` they replace. */
  private[graft] object PersistSyntax {
    implicit class PersistOnceOps(private val df: DataFrame) extends AnyVal {
      def persistOnce(): DataFrame = Artifacts.persistOnce(df)
    }
  }
}
