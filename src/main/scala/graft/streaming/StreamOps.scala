package graft.streaming

import java.sql.Timestamp
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{
  DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Per-user session accumulator carried across micro-batches. */
case class SessState(startMs: Long, lastMs: Long, n: Long)

/** A closed session (gap > threshold observed after it). */
case class UserSession(user_id: Long, session_start: Timestamp,
                       session_end: Timestamp, n_events: Long)

/** Per-user funnel progress: furthest stage (1-based) and when it was hit. */
case class FunnelState(stage: Int, stageTsMs: Long)

/** One funnel advancement (user reached `stage` at `ts`), emitted append-mode. */
case class FunnelAdvance(user_id: Long, stage: String, ts: Timestamp)

/** Input row for [[RunningTotalProcessor]]: value pre-scaled to integer
  * cents so cross-batch accumulation is EXACT (no float-association drift
  * between the streamed fold and the oracle's window sum); `tsMicros` is event
  * time in MICROseconds (full fixture resolution, so the within-batch sort
  * key equals the oracle's ORDER BY ts). */
case class TwsEvent(user_id: Long, event_id: Long, tsMicros: Long, value_cents: Long)

/** [[RunningTotalProcessor]] state: events seen + exact running total. */
case class TwsRunning(n: Long, cum_cents: Long)

/** One enriched output row: the event's per-user arrival index and the
  * running total AFTER it. */
case class TwsSeq(user_id: Long, event_id: Long, seq: Long, cum_cents: Long)

/** `transformWithState` processor (Spark 4's arbitrary-stateful-processing
  * API — the successor of `flatMapGroupsWithState`, used by [[StreamOps
  * .sessionize]]/[[StreamOps.funnelAdvancements]]): per-user running event
  * counter + exact cumulative value, one `ValueState` row per user managed
  * by the RocksDB state store. Within a micro-batch the user's rows are
  * sorted by (tsMicros, event_id) — per-key-per-batch sized, never the batch —
  * so with event-time-ordered replay (ties co-staged) the assigned sequence
  * is the GLOBAL per-user (ts, event_id) order regardless of batch slicing,
  * which is what makes the drained output oracle-checkable. */
class RunningTotalProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwsEvent, TwsSeq] {
  import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders => E}

  @transient private var running: ValueState[TwsRunning] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    running = getHandle.getValueState[TwsRunning]("running",
      E.product[TwsRunning], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsSeq] = {
    val sorted = rows.toIndexedSeq.sortBy(r => (r.tsMicros, r.event_id))
    var st = if (running.exists()) running.get() else TwsRunning(0L, 0L)
    val out = sorted.map { r =>
      st = TwsRunning(st.n + 1L, st.cum_cents + r.value_cents)
      TwsSeq(r.user_id, r.event_id, st.n, st.cum_cents)
    }
    running.update(st)
    out.iterator
  }
}

/** Input row for [[CovMomentProcessor]]: shard key + the embedding as
  * doubles (float32 values widen exactly, the CovAccumAgg contract). */
case class CovEvent(shard: Long, v: Array[Double])

/** [[CovMomentProcessor]] state AND per-batch snapshot payload: micro-batch
  * update counter, row count, Σ floor(x·2²⁴) lanes (d) and the packed
  * upper-triangle Σ floor(xᵢxⱼ·2²⁴) (d(d+1)/2) — graft.functions.CovBuffer
  * re-expressed as an encodable product so it can live in a `ValueState`
  * row. All Long: exact, order-independent, mergeable. */
case class CovMoments(upd: Long, n: Long, sx: Array[Long], sxy: Array[Long])

/** One running-state snapshot per (shard, micro-batch) emitted by
  * [[CovMomentProcessor]] — the reader keeps each shard's LAST snapshot
  * (max upd), so the sink stays shard-sized while every intermediate
  * state remains visible for the state-crosses-batches assertion. */
case class CovSnap(shard: Long, upd: Long, n: Long, sx: Array[Long], sxy: Array[Long])

/** `transformWithState` processor holding the STREAMING MOMENT STORE —
  * the covariance buffer ([[graft.functions.CovAccumAgg]]'s exact
  * quantized-Long triangle) as keyed RocksDB state, folded per micro-batch:
  * the streaming twin of the batch store's incremental maintenance
  * (`VectorOps.covUpdate` merges a batch by Long ADDITION; this processor
  * does the same merge per micro-batch arrival). Because the sums are
  * exact Longs, accumulation is associative/commutative — the drained
  * result is BIT-identical to the one-pass batch aggregate for ANY file
  * slicing into micro-batches, which is what makes the stream oracle-able
  * against the batch q_embed_cov SQL. Per-key state is one (d + d(d+1)/2)
  * Long array (~17 KB at d=64) regardless of stream length — the bounded-
  * state property a 100 TB ingest pipeline needs from its moment store.
  * `Math.addExact` on every lane: headroom overflow fails loudly, exactly
  * like the batch aggregate (same ~140 TB bound at |x| ≲ 1). */
class CovMomentProcessor(d: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CovEvent, CovSnap] {
  import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders => E}

  @transient private var st: ValueState[CovMoments] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[CovMoments]("moments",
      E.product[CovMoments], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[CovEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CovSnap] = {
    val grid = graft.functions.CovFunctions.CovGridScale.toDouble
    val prev = if (st.exists()) st.get()
               else CovMoments(0L, 0L, new Array[Long](d), new Array[Long](d * (d + 1) / 2))
    var n = prev.n
    val sx = prev.sx.clone()
    val sxy = prev.sxy.clone()
    rows.foreach { r =>
      require(r.v.length == d, s"cov stream: dimension ${r.v.length} != $d")
      var i = 0
      while (i < d) {
        sx(i) = Math.addExact(sx(i), math.floor(r.v(i) * grid).toLong)
        i += 1
      }
      var p = 0
      i = 0
      while (i < d) {
        val xi = r.v(i)
        var j = i
        while (j < d) {
          sxy(p) = Math.addExact(sxy(p), math.floor(xi * r.v(j) * grid).toLong)
          p += 1; j += 1
        }
        i += 1
      }
      n += 1L
    }
    val next = CovMoments(prev.upd + 1L, n, sx, sxy)
    st.update(next)
    Iterator.single(CovSnap(key, next.upd, next.n, next.sx, next.sxy))
  }
}

/** Input row for the TTL / timer processor tier: a timestamped per-user
  * event (the watermark column stays a real TIMESTAMP so `withWatermark`
  * applies directly). */
case class TimedEvent(user_id: Long, event_id: Long, ts: Timestamp)

/** Per-(key, micro-batch) observation emitted by [[TtlCountProcessor]]:
  * how many rows this batch carried and the running total AFTER them —
  * the pair that makes TTL expiry visible (total resets to batch_n). */
case class TtlCount(user_id: Long, batch_n: Long, total_n: Long)

/** Timer-driven flush emitted by [[IdleFlushProcessor]]. */
case class IdleFlush(user_id: Long, n_events: Long, flush_ms: Long)

/** `transformWithState` processor with state TTL — the retention half of a
  * production stateful job (round-10 review #7): the per-key running count
  * lives in a `ValueState` declared with `TTLConfig(ttlMs)`, so a key idle
  * longer than the TTL is DROPPED by the state store (RocksDB compaction
  * does the deletion — no per-key scan, which is why TTL beats hand-rolled
  * cleanup timers for simple retention at 100 TB key cardinalities) and a
  * later arrival starts from zero. TTL is processing-time-based, hence
  * [[StreamOps.ttlCounts]] runs in `TimeMode.ProcessingTime`. `ttlMs <= 0`
  * declares no TTL (state lives forever) — the control arm. */
class TtlCountProcessor(ttlMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TimedEvent, TtlCount] {
  import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders => E}

  @transient private var total: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    total = getHandle.getValueState[Long]("total", E.scalaLong,
      if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs)) else TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TtlCount] = {
    val n = rows.size.toLong
    val prev = if (total.exists()) total.get() else 0L
    total.update(prev + n)
    Iterator.single(TtlCount(key, n, prev + n))
  }
}

/** `transformWithState` processor with an EVENT-TIME TIMER — the flush half
  * of a production stateful job (round-10 review #7): each batch folds the
  * key's events into a [[SessState]] and re-arms ONE timer at
  * `last event time + gapMs`; when the WATERMARK passes that expiry,
  * [[handleExpiredTimer]] fires — with no new input for the key — emitting
  * the accumulated session and clearing state. Timers live in the state
  * store, so a registered timer survives a checkpoint restart and fires in
  * a later run (proven in StreamingSpec): the property that lets a
  * production job promise "every idle session is eventually emitted" across
  * deploys. The single-live-timer discipline (delete-then-register) keeps
  * timer state O(keys), not O(events). */
class IdleFlushProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TimedEvent, IdleFlush] {
  import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders => E}

  @transient private var sess: ValueState[SessState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[SessState]("sess", E.product[SessState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[IdleFlush] = {
    val ts = rows.map(_.ts.getTime).toIndexedSeq
    val st =
      if (sess.exists()) {
        val s0 = sess.get()
        SessState(math.min(s0.startMs, ts.min), math.max(s0.lastMs, ts.max), s0.n + ts.size)
      } else SessState(ts.min, ts.max, ts.size.toLong)
    sess.update(st)
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(st.lastMs + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[IdleFlush] = {
    val n = if (sess.exists()) sess.get().n else 0L
    sess.clear()
    Iterator.single(IdleFlush(key, n, expiredTimerInfo.getExpiryTimeInMs))
  }
}

/** Structured Streaming forms of the batch event operators (SURVEY.md §2.10).
  *
  * The reference has no stream processing — its only "incremental" behavior is
  * Streamlit's rerun-over-cached-snapshot loop (`app_test.py:36,67`) — but the
  * engine's `events` surface generalizes to streams for free: the SAME
  * transform runs on a batch DataFrame and on a `readStream` DataFrame
  * (`withWatermark` is a no-op in batch). At scale: watermarked state keeps
  * the agg incremental; state store size is bounded by (windows in flight ×
  * group cardinality), not input size.
  */
object StreamOps {

  /** The ONE staging recipe every drained stream's file source replays:
    * write `df` into `parts` range-partitioned files at `dir/sub`, then
    * space the part files' mtimes one minute apart in name order so the
    * file source's oldest-first ordering replays the slices
    * deterministically (and `maxFilesPerTrigger` makes the drain
    * genuinely multi-micro-batch). Extracted after the sixth copy-paste
    * of this block (r16 review): a future fix to the recipe — the mtime
    * base, the part sort, listFiles null-handling — now lands once. */
  private def stageSlices(df: DataFrame, dir: String, sub: String,
      parts: Int, partCol: org.apache.spark.sql.Column,
      minParts: Int = 1): Unit = {
    df.repartitionByRange(parts, partCol).write.parquet(s"$dir/$sub")
    val files = Option(new java.io.File(s"$dir/$sub").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // fail fast if the write emitted fewer part files than the caller's
    // contract needs (empty range buckets, or an unlistable dir): a
    // drained stream's multi-micro-batch guarantee rests on
    // maxFilesPerTrigger seeing the slice count its spec asserts (r16
    // advisor #4). SCOPED per caller (r17 advisor #3): Spark writes no
    // file for an empty range bucket, so demanding the full `parts` for
    // every caller would abort streams whose contracts never needed
    // >= parts batches on a small or skewed fixture slice — callers whose
    // specs pin an nb>=N drain pass minParts accordingly; the default 1
    // only rejects a genuinely empty staging.
    require(files.length >= minParts,
      s"stageSlices($dir/$sub): ${files.length} part files staged, " +
        s"$minParts required ($parts requested) — the drain would not " +
        "meet its micro-batch contract")
    files.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 60000L)
    }
  }

  /** Create a fresh run directory (sink + checkpoint) under `target/tmp`,
    * run `body` with its path, and delete it in a `finally` — success OR
    * failure, so a throwing drain can't leak staged sinks/checkpoints into
    * target/tmp (ADVICE r10; the pre-r11 sites deleted only on success).
    * Callers must eagerly materialize (`localCheckpoint()`) any DataFrame
    * they return: its backing files are gone when `body` exits. */
  private def withRunDir[A](prefix: String)(body: String => A): A = {
    val base = java.nio.file.Paths.get("target", "tmp")
    java.nio.file.Files.createDirectories(base)
    val run = java.nio.file.Files.createTempDirectory(base, prefix).toString
    try body(run)
    finally {
      import scala.jdk.CollectionConverters._
      scala.util.Try {
        java.nio.file.Files.walk(java.nio.file.Paths.get(run)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      ()
    }
  }

  /** Shuffle partitions of every state-pinned drain (see [[drain]]). */
  private val StatePartitions = 4

  /** The engine's one stream drain: builds the caller's writer on a scoped
    * clone of `spark`, runs it under `Trigger.AvailableNow` and blocks until
    * every available input has been processed. The writer's streams must
    * be read on the session it is handed ([[replay]], or the caller's own
    * reader), so the query runs there.
    *
    * The clone carries the caller's runtime conf — Verify's perturbed
    * partitioning, a test's time zone — and the drain writes only the
    * clone, never the caller's session:
    *  - `pinState` sets [[StatePartitions]] shuffle partitions. Spark fixes
    *    a stateful query's partition count from its session at first start
    *    (and keeps it in the checkpoint), and that count is a deploy-time
    *    choice sized to state VOLUME, not to the session's batch-shuffle
    *    width: a stream-stream join commits ~4 state stores per partition
    *    per side per micro-batch, so at 32 session partitions
    *    `q_stream_attrib` paid hundreds of checkpoint commits for a 33-row
    *    result (profiled: 9.9 s → ~3 s at 4 partitions). The pinned
    *    foreachBatch drain ([[streamAsof]]) runs its batch bodies at that
    *    width too.
    *  - `rocksDb` sets the RocksDB state store provider, which
    *    `transformWithState` requires (and its production configuration).
    * A stateless drain sets nothing and runs at the caller's width, so
    * Verify's `--stability` perturbation still reaches its batch bodies.
    * The caller's streaming listeners are attached to the clone, so a
    * monitor on the caller's session still sees the drain's progress. */
  private def drain(spark: SparkSession, pinState: Boolean = false, rocksDb: Boolean = false)(
      writer: SparkSession => DataStreamWriter[_]): Unit = {
    val scoped = Bridge.cloneSession(spark)
    if (pinState) scoped.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    if (rocksDb) scoped.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.streams.listListeners().foreach(scoped.streams.addListener)
    writer(scoped).trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** File-stream replay of the staged parquet slices at `dir`, `perTrigger`
    * files per micro-batch (oldest first: see [[stageSlices]]). */
  private def replay(s: SparkSession, dir: String, perTrigger: Int): DataFrame =
    s.readStream.schema(Tables.parquet(s, dir).schema)
      .option("maxFilesPerTrigger", perTrigger.toLong).parquet(dir)

  /** Append-mode parquet sink at `run/out`, checkpointed at `run/ckpt`. */
  private def parquetSink(ds: Dataset[_], run: String): DataStreamWriter[_] =
    ds.writeStream.format("parquet")
      .option("path", s"$run/out").option("checkpointLocation", s"$run/ckpt")

  /** foreachBatch sink running `body` on each micro-batch and its id. */
  private def eachBatch(df: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.option("checkpointLocation", checkpointDir).foreachBatch(body)

  /** Tumbling 1-hour windowed counts + sums with a 1-hour watermark — the
    * streaming twin of EventOps.timeBucket (identical results in batch). */
  def hourlyEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Windowed approximate-distinct users — the streaming twin of the batch
    * sketch family (q_approx_distinct / q_sketch_stats): HLL++ partials
    * merge associatively, so the same aggregate runs incrementally under a
    * watermark with state = one sketch per open window (KB-sized,
    * cardinality-independent) instead of the per-user set an exact distinct
    * would hoard. The batch run of this SAME function computes the full
    * answer (watermark is a no-op in batch) — asserted in StreamingSpec. */
  def hourlyApproxUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("hour"), col("approx_users"))

  /** Exact dedup on a stream: state-bounded via the watermark (an event id
    * must recur within 1 hour to be caught — the streaming contract for the
    * batch TextOps.dedupExact capability). */
  def dedupEvents(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream interval join: match each purchase to the
    * same user's clicks in the preceding hour. Both sides carry watermarks
    * so the join state is bounded — Spark can discard click state older
    * than (purchase watermark − interval). The equality key routes both
    * streams to the same partition; the range predicate bounds buffering. */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame,
                          delay: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("p_user").as("user_id"), col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** LEFT OUTER form of [[purchaseAttribution]] — the semantics tier inner
    * joins cannot express: a purchase with NO qualifying click must still
    * emit (with a null click), and in a stream that answer is only safe
    * once the WATERMARK proves no matching click can ever arrive — outer
    * rows are watermark-triggered state evictions, not row-driven output.
    * Both sides carry watermarks and the condition bounds click_ts by
    * purchase_ts, so Spark can evict purchase state (emitting the null
    * row) once the join watermark passes the purchase time. */
  def purchaseAttributionOuter(clicks: DataFrame, purchases: DataFrame,
                               delay: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"), "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("value"))
  }

  /** Declared query for the OUTER stream-stream tier: [[purchaseAttributionOuter]]
    * drained as a real two-source file stream. Two disciplines make the
    * result deterministic where the inner drain ([[streamAttrib]]) needed
    * only one:
    *  - EVENT-TIME-ORDERED replay on BOTH sources (range-staged files,
    *    mtime-forced order — the [[streamWindow]] backfill discipline) with
    *    a LIVE 1 h watermark: no row is ever late, so the watermark sweeps
    *    forward and outer rows actually emit (a span-covering delay would
    *    hold the watermark before all data and silently degrade the outer
    *    join to its inner half).
    *  - a FLUSH RESTART: outer emissions run one watermark commit behind
    *    the data, so after the first `AvailableNow` drain the final
    *    tranche is still pending in state; re-starting the SAME checkpoint
    *    with no new input processes that commit and emits it. This is the
    *    deploy-safe "every pending answer eventually flushes across a
    *    restart" contract the TWS timer spec already proves, applied to
    *    join state — and it makes the emitted set a pure function of the
    *    final watermark, independent of file slicing.
    * The drained output folds per user: matched pairs, expired-unmatched
    * purchases (click null — only emitted for purchases the final
    * watermark passed), and the unmatched value at risk. The DuckDB twin
    * computes both halves from the batch tables, with the watermark
    * boundary wm = min(max click ts, max purchase ts) − delay written into
    * the predicate — the exact min-of-sources rule Spark's multi-input
    * watermark tracker applies. */
  def streamAttribOuter(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val inDir = graft.ops.SourceOps.materialize(s"stream_attrib_outer_in_$sf") { d =>
      val ev = graft.ops.EventOps.events(spark, sf)
        .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      def stage(df: DataFrame, sub: String): Unit =
        // minParts = 2 (r18 advisor #2): the scaladoc's pending-tranche
        // flush-restart scenario needs each side's drain to span >= 2
        // micro-batches — a single-file staging would degenerate it
        stageSlices(df, d, sub, 3, col("ts"), minParts = 2)
      stage(ev.filter(col("event_type") === "click").select("user_id", "ts"), "clicks")
      stage(ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value"), "purch")
    }
    withRunDir("stream_attrib_outer_run_") { run =>
      // second identical drain = the flush restart (see scaladoc)
      (1 to 2).foreach { _ =>
        drain(spark, pinState = true) { s =>
          parquetSink(purchaseAttributionOuter(replay(s, s"$inDir/clicks", 1),
            replay(s, s"$inDir/purch", 1), delay = "1 hour"), run)
        }
      }
      Tables.parquet(spark, s"$run/out")
        .groupBy("user_id")
        .agg(count(col("click_ts")).as("n_matched"),
          count(when(col("click_ts").isNull, 1)).as("n_expired"),
          round(sum(when(col("click_ts").isNull, col("value"))
            .otherwise(0.0)), 4).as("value_at_risk"))
        .orderBy("user_id")
        .localCheckpoint() // eager — the run dir (sink + checkpoint) is deleted on exit
    }
  }

  /** Stream-static (dimension) enrichment join — the most common production
    * streaming shape: each micro-batch of the fact stream joins a static
    * dimension snapshot. The dim side is broadcast, so NO shuffle and no
    * stream state at all; at 100 TB-scale streams the dim refreshes by
    * restarting the query (or via a slowly-changing broadcast re-resolved
    * per batch — Spark re-plans the static side each micro-batch). */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim("c_custkey"))
      .select(col("event_id"), col("user_id"), col("value"), col("c_mktsegment"))

  /** Declared query for the STREAM-ENRICHMENT as-of tier (round 11): the
    * event file stream drained through `foreachBatch`, each micro-batch
    * as-of-joined — the same union + ordered-window core the batch
    * `q_asof_join` runs — against the STATIC orders table. Each event's
    * answer depends only on the static side, so the drained output is
    * batching-independent and equals the batch as-of join exactly, which
    * is why the DuckDB oracle is `q_asof_join`'s SQL verbatim: the whole
    * streaming pipeline (file source → micro-batches → per-batch window →
    * append sink) sits under the batch hash check. At 100 TB this is the
    * standard "enrich the live stream against the warehouse" shape; the
    * static side re-resolves per batch, so a slowly-changing orders table
    * picks up new snapshots between batches (the [[enrichStream]] note). */
  def streamAsof(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val inDir = graft.ops.SourceOps.materialize(s"stream_asof_in_$sf") { d =>
      graft.ops.EventOps.events(spark, sf)
        .select("event_id", "ts", "user_id")
        .repartition(4).write.parquet(s"$d/in")
    }
    withRunDir("stream_asof_run_") { run =>
      val ord = graft.sources.Tables.load(spark, sf, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      drain(spark, pinState = true) { s =>
        eachBatch(replay(s, s"$inDir/in", 2), s"$run/ckpt") { (batch, _) =>
          graft.ops.EventOps
            .asofJoinFrom(batch.select("event_id", "user_id", "ts"), ord)
            .write.mode("append").parquet(s"$run/out")
        }
      }
      Tables.parquet(spark, s"$run/out")
        .orderBy("event_id")
        .localCheckpoint() // eager — the run dir (sink + checkpoint) is deleted on exit
    }
  }

  /** foreachBatch merge sink — the no-transactional-format upsert pattern:
    * each micro-batch appends its per-key latest rows to an immutable log
    * tagged with the batch id; [[latestState]] is the compaction view that
    * collapses the log to one row per key. Appends are idempotent per
    * (key, batch_id) under the view's argmax, so a replayed batch cannot
    * change the answer — the exactly-once contract without MERGE INTO.
    * With a transactional table format the body becomes a real MERGE. */
  def foreachBatchMerge(events: DataFrame, logDir: String,
                        checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    mergeSink(events, logDir, checkpointDir).start()

  private def mergeSink(events: DataFrame, logDir: String, checkpointDir: String) =
    eachBatch(events, checkpointDir)(mergeBatch(_, _, logDir))

  /** The per-micro-batch body of [[foreachBatchMerge]], exposed so the
    * checkpoint-restart spec can wrap it with an injected crash AFTER the
    * append (the write-succeeded-commit-lost window that the
    * idempotent-compaction contract exists for). */
  private[graft] def mergeBatch(batch: DataFrame, batchId: Long, logDir: String): Unit = {
    batch.groupBy("user_id")
      .agg(max_by(struct(col("ts"), col("value")),
        struct(col("ts"), col("event_id"))).as("b"))
      .select(col("user_id"), col("b.ts").as("ts"),
        col("b.value").as("value"), lit(batchId).as("batch_id"))
      .write.mode("append").parquet(logDir)
    ()
  }

  /** foreachBatch incremental-MV sink — the streaming twin of
    * `Relational.mvRefresh`: each micro-batch of the (key, op, old_bal,
    * new_bal) change feed is reduced to per-bucket (Δcount, Δsum) PARTIALS
    * and appended to an immutable delta log tagged with the batch id.
    * Because count/sum deltas are associative and commutative, the sum of
    * the log IS the total delta — no read-modify-write of MV state inside
    * the stream, so the sink is a pure append (the cheapest possible
    * foreachBatch body) and a replayed batch is neutralized at read time
    * by the (bucket, batch_id) dedup in [[mvState]], the same
    * idempotence-at-compaction contract as [[foreachBatchMerge]]. */
  def mvDeltaSink(feed: DataFrame, logDir: String,
                  checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(feed, checkpointDir) { (batch, batchId) =>
      graft.ops.Relational.feedDeltas(batch)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(logDir)
    }.start()

  /** The refreshed MV: base aggregate ⊕ the summed delta log. Replay-safe:
    * duplicate (bucket, batch_id) rows — a batch re-run after a crash
    * between write and commit — collapse to one before summing. */
  def mvState(spark: org.apache.spark.sql.SparkSession, baseMv: DataFrame,
              logDir: String): DataFrame = {
    // a freshly started pipeline has no log yet (and a feed that produced
    // zero change rows never writes one): the zero-delta refresh IS the
    // base MV, projected through mvMerge's output contract
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(logDir)))
      return baseMv.select(col("bucket"), col("n"),
          round(col("s"), 2).as("sum_bal"))
        .filter(col("n") > 0).orderBy("bucket")
    val deltas = Tables.parquet(spark, logDir)
      .dropDuplicates("bucket", "batch_id")
      .groupBy("bucket")
      .agg(sum("dn").as("dn"), sum("ds").as("ds"))
    graft.ops.Relational.mvMerge(baseMv, deltas)
  }

  /** Declared END-TO-END form of the merge-sink pipeline (the second
    * CORRECTNESS-tracked streaming query after `q_session_window`, verdict
    * r8 #5): stages the harness events table as a 4-file parquet directory,
    * runs the REAL structured stream — file source, `maxFilesPerTrigger=2`
    * so the log genuinely spans multiple micro-batches, `Trigger
    * .AvailableNow` to drain and stop — through [[foreachBatchMerge]]'s sink, and
    * returns the [[latestState]] compaction view. Deterministic and
    * batching-independent, which is the very property the sink's
    * idempotent-compaction contract promises: (user_id, ts) is unique in
    * the fixture (checked r9), so per-user latest-by-(ts, batch_id) equals
    * the global argmax the DuckDB oracle computes, HOWEVER the file source
    * happens to slice batches. Staging lives under `target/tmp` (fresh dir
    * per run; the checkpoint dies with it, so every call replays). */
  def streamCompact(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame =
    withRunDir("stream_compact_") { run =>
      val ev = graft.ops.EventOps.events(spark, sf)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      ev.repartition(4, col("user_id")).write.parquet(s"$run/in")
      drain(spark) { s =>
        mergeSink(s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "2").parquet(s"$run/in"), s"$run/log", s"$run/ckpt")
      }
      // materialize the (small: one row per user) compaction BEFORE the run
      // dir is deleted — without the cleanup every bench/verify/spec call
      // left a full staged copy of the events table behind (review r9)
      latestState(spark, s"$run/log")
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("value"))
        .orderBy("user_id")
        .localCheckpoint() // eager
    }

  /** Declared query for the STREAM-STREAM tier: runs [[purchaseAttribution]]
    * as a REAL two-source structured stream — clicks and purchases staged as
    * separate parquet dirs, two file sources with `maxFilesPerTrigger=2` (so
    * the join genuinely spans micro-batches and carries state across
    * triggers), append-mode parquet sink, `Trigger.AvailableNow` to drain —
    * then reads the sink back. An inner interval join emits each matched
    * (purchase, click) pair exactly once whatever the batch slicing, so the
    * result is batching-independent and the DuckDB oracle checks the full
    * value set: the third CORRECTNESS-tracked streaming query, and the one
    * that puts stream-stream join state under the hash check.
    *
    * Watermark honesty: this is a REPLAY of a month+ of history whose file
    * arrival order is not time-ordered, so the declared run uses a delay
    * covering the whole fixture span (nothing is ever "late", state is never
    * evicted early — exactly how a production backfill replays cold data).
    * The LIVE configuration (1 h delay = bounded state, late clicks dropped)
    * is the default and is what StreamingSpec exercises; the trade is the
    * delay parameter, not the plan. */
  def streamAttrib(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    // input staging is deterministic per sf → memoized (Bench pre-stages it
    // untimed: the registry row is flagged staged); only out/ckpt are per-run
    val inDir = graft.ops.SourceOps.materialize(s"stream_attrib_in_$sf") { d =>
      val ev = graft.ops.EventOps.events(spark, sf)
        .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      ev.filter(col("event_type") === "click").select("user_id", "ts")
        .repartition(4).write.parquet(s"$d/clicks")
      ev.filter(col("event_type") === "purchase").select("user_id", "ts", "value")
        .repartition(4).write.parquet(s"$d/purch")
    }
    withRunDir("stream_attrib_run_") { run =>
    drain(spark, pinState = true) { s =>
      parquetSink(purchaseAttribution(replay(s, s"$inDir/clicks", 2),
        replay(s, s"$inDir/purch", 2), delay = "90 days"), run)
    }
    Tables.parquet(spark, s"$run/out")
      .select(col("user_id"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        round(col("value"), 4).as("value"))
      .orderBy("user_id", "purchase_ts", "click_ts")
      .localCheckpoint() // eager — the run dir (sink + checkpoint) is deleted on exit
    }
  }

  /** Declared query for the stateful-DEDUP tier: drains [[dedupEvents]]
    * (`dropDuplicatesWithinWatermark`) over a staged file source whose
    * input has REAL duplicates planted — every purchase event appears
    * twice — so the state store provably earns its keep (without the dedup
    * the drained counts are inflated; StreamingSpec pins that). Duplicate
    * copies are row-identical and the first arrival wins, so the drained
    * set is batching-independent = the plain per-type aggregate over the
    * ORIGINAL events table, which is the DuckDB oracle. Same replay
    * discipline as [[streamAttrib]]: span-covering watermark delay (state
    * is never evicted mid-backfill; the live 1 h-delay bounded-state
    * config is the spec'd default), a state-pinned [[drain]]. */
  def streamDedup(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val inDir = graft.ops.SourceOps.materialize(s"stream_dedup_in_$sf") { d =>
      val ev = graft.ops.EventOps.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value")
      ev.union(ev.filter(col("event_type") === "purchase"))
        .repartition(6).write.parquet(s"$d/in")
    }
    withRunDir("stream_dedup_run_") { run =>
    drain(spark, pinState = true) { s =>
      parquetSink(dedupEvents(replay(s, s"$inDir/in", 2), delay = "3650 days"), run)
    }
    Tables.parquet(spark, s"$run/out")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum("value"), 4).as("total_value"))
      .orderBy("event_type")
      .localCheckpoint() // eager — the run dir (sink + checkpoint) is deleted on exit
    }
  }

  /** Declared query for the WINDOWED-aggregation tier — the canonical
    * Structured Streaming shape ([[hourlyEventCounts]]) drained end to
    * end: plain events staged as a multi-file source, tumbling 1 h windows
    * under a 1 h watermark, append-mode parquet sink, `AvailableNow`.
    * Append mode only emits windows the FINAL watermark (global max event
    * time − delay) has closed, and intermediate emissions are subsets of
    * that set — so the drained output is batching-independent and equals
    * the batch group-by restricted to closed windows, which is exactly the
    * DuckDB oracle's WHERE clause. The windows still open at drain end
    * (the last hour of history) are deliberately absent: that is append
    * mode's contract, not an artifact — a production pipeline reads them
    * from the NEXT run, or runs update mode. */
  def streamWindow(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    // Replay discipline: a 1 h-watermark window agg DROPS rows arriving
    // > 1 h late, so a hash-scattered staging (each file spanning the whole
    // history) would lose data nondeterministically as the watermark
    // advances across micro-batches. A real backfill feeds history in
    // EVENT-TIME order — staged here as disjoint ts ranges
    // (repartitionByRange) replayed oldest-first (file mtimes force the
    // source's modified-time ordering): no row is ever late, state stays
    // bounded to the open windows, and the drained result is
    // batching-independent.
    val inDir = graft.ops.SourceOps.materialize(s"stream_window_in_$sf") { d =>
      stageSlices(graft.ops.EventOps.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value"),
        // minParts = 3 (r18 advisor #2): with maxFilesPerTrigger=2 the
        // watermark-advance-across-micro-batches property this scaladoc
        // documents needs >= 2 triggers, i.e. >= 3 staged files
        d, "in", 6, col("ts"), minParts = 3)
    }
    withRunDir("stream_window_run_") { run =>
    drain(spark, pinState = true) { s =>
      parquetSink(hourlyEventCounts(replay(s, s"$inDir/in", 2)), run)
    }
    Tables.parquet(spark, s"$run/out")
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")
      .localCheckpoint() // eager — the run dir (sink + checkpoint) is deleted on exit
    }
  }

  /** The UPDATE-mode stateful aggregate a live dashboard runs: per
    * (day, event_type) running count + exact cent total, NO watermark —
    * every key stays updatable forever and each micro-batch emits the keys
    * it changed (update mode's contract), which a dashboard upserts. Cents
    * (Long) rather than a double sum so the accumulated totals are exact —
    * the cross-batch fold cannot drift from the batch aggregate. */
  def dailyDashboard(events: DataFrame): DataFrame =
    events
      .select(col("ts"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))

  /** Declared query for the UPDATE-mode output surface (round 12 — the one
    * Structured Streaming output mode previously without a declared query):
    * [[dailyDashboard]] drained through a `foreachBatch` upsert log — each
    * micro-batch appends the keys it UPDATED tagged with the batch id (the
    * dashboard-store shape: Kafka-compacted topic / KV upsert), and the
    * declared output is the dashboard's FINAL state, i.e. the latest update
    * per key.
    *
    * Batching-independence argument (why update mode can sit under the
    * batch hash check): update mode re-emits a key every time new rows
    * touch it, so WHICH intermediate rows the log holds depends on file
    * slicing — but the latest update per key reflects every input row for
    * that key (state is cumulative and never evicted: no watermark), so
    * the final upsert state equals the batch GROUP BY over the whole input
    * for ANY slicing. Values are exact Longs (counts + cents), so there is
    * no float-order drift either ([[dailyDashboard]]). The DuckDB oracle is
    * the plain batch aggregate; StreamingSpec additionally proves the drain
    * was genuinely multi-update (log rows > final keys) — i.e. this
    * exercises update semantics, not a disguised single append. */
  def streamUpdate(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val inDir = graft.ops.SourceOps.materialize(s"stream_update_in_$sf") { d =>
      graft.ops.EventOps.events(spark, sf)
        .select("event_id", "ts", "event_type", "value")
        .repartition(6).write.parquet(s"$d/in")
    }
    withRunDir("stream_update_run_") { run =>
      drain(spark, pinState = true) { s =>
        eachBatch(dailyDashboard(replay(s, s"$inDir/in", 2)), s"$run/ckpt") { (batch, batchId) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$run/log")
        }.outputMode("update")
      }
      dashboardFinalState(Tables.parquet(spark, s"$run/log"))
        .localCheckpoint() // eager — the run dir (sink + ckpt) dies on exit
    }
  }

  /** Compaction view over a [[streamUpdate]] upsert log: latest update per
    * dashboard key — what the serving store holds after the drain. */
  private[graft] def dashboardFinalState(log: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day", "event_type").orderBy(col("batch_id").desc)
    log.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_cents"))
      .orderBy("day", "event_type")
  }

  /** `transformWithState` pipeline: typed event stream → per-user
    * [[RunningTotalProcessor]] (ValueState in RocksDB). The state row is
    * per-USER (two longs), so state volume is key-cardinality-bounded —
    * the processor never buffers events, it folds them. */
  def runningTotals(events: DataFrame): Dataset[TwsSeq] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"),
        round(col("value") * 100, 0).cast("long").as("value_cents"))
      .as[TwsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-key counting with state TTL (see [[TtlCountProcessor]]).
    * ProcessingTime mode — TTL is a processing-time retention contract.
    * CAVEAT (measured, StreamingSpec): in this mode the engine
    * SELF-TRIGGERS timer-check micro-batches indefinitely, so
    * `Trigger.AvailableNow` never terminates and `processAllAvailable`
    * never settles — a production job runs it under a processing-time
    * trigger; a bounded drain uses `Trigger.Once()` per batch. */
  def ttlCounts(events: Dataset[TimedEvent], ttlMs: Long): Dataset[TtlCount] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TtlCountProcessor(ttlMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Idle-session flush via event-time timers (see [[IdleFlushProcessor]]).
    * The watermark delay bounds out-of-order tolerance exactly as in
    * [[sessionWindowCounts]]; timers fire when the watermark passes
    * `last event + gapMs`. */
  def idleFlush(events: Dataset[TimedEvent], gapMs: Long,
                delay: String = "10 minutes"): Dataset[IdleFlush] = {
    val s = events.sparkSession
    import s.implicits._
    events.withWatermark("ts", delay)
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new IdleFlushProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Declared query for the `transformWithState` tier (round 10) — Spark
    * 4's arbitrary-stateful-processing API drained end to end as a REAL
    * multi-micro-batch stream: events staged in event-time-ordered files
    * (the [[streamWindow]] replay discipline; ties co-staged because the
    * range partitioner keeps equal keys together), `maxFilesPerTrigger=2`
    * so per-user state provably crosses micro-batches, the RocksDB state
    * store provider (required by transformWithState — also its production
    * configuration), append parquet sink, `AvailableNow`. The processor
    * assigns each event its per-user arrival index and EXACT running
    * cents total; the declared output folds the per-event stream into one
    * row per user — final count, final total, and a bit-xor md5 digest
    * over EVERY intermediate (seq, cum) row, so the oracle's window
    * functions value-check the full per-event history, not just the
    * endpoint, while the result stays user-sized. */
  def streamRunning(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val inDir = graft.ops.SourceOps.materialize(s"stream_running_in_$sf") { d =>
      stageSlices(graft.ops.EventOps.events(spark, sf)
        .select("event_id", "ts", "user_id", "value"),
        // minParts = 3 (r18 advisor #2): per-user state "provably crosses
        // micro-batches" needs >= 2 triggers at maxFilesPerTrigger=2
        d, "in", 6, col("ts"), minParts = 3)
    }
    withRunDir("stream_running_run_") { run =>
    drain(spark, pinState = true, rocksDb = true) { s =>
      parquetSink(runningTotals(replay(s, s"$inDir/in", 2)), run)
    }
    def f(c: org.apache.spark.sql.Column) = c.cast("string")
    val rowDigest = conv(substring(md5(concat_ws("|",
      f(col("user_id")), f(col("event_id")), f(col("seq")),
      f(col("cum_cents")))), 1, 15), 16, 10).cast("long")
    Tables.parquet(spark, s"$run/out")
      .select(col("user_id"), col("seq"), col("cum_cents"),
        rowDigest.as("digest"))
      .groupBy("user_id")
      .agg(max(col("seq")).as("n_events"),
        max_by(col("cum_cents"), col("seq")).as("cents_total"),
        expr("bit_xor(digest)").as("xor_digest"))
      .orderBy("user_id")
      .localCheckpoint() // eager — the run dir (sink + checkpoint) is deleted on exit
    }
  }

  /** State shards for [[streamCov]] — small and fixed so every shard's
    * moment row is updated by (nearly) every micro-batch, making the
    * state-crosses-batches property structural rather than lucky. */
  val CovShards = 4L

  /** Drained snapshot stream of the STREAMING MOMENT STORE (see
    * [[CovMomentProcessor]]): embeddings staged as 6 range-partitioned
    * files, `maxFilesPerTrigger=2` (≥ 3 micro-batches; vec_id % shard
    * mixes every shard into every file, so each shard's state provably
    * crosses batches), RocksDB state store provider, append parquet sink,
    * `AvailableNow` — the [[streamRunning]] drain discipline verbatim.
    * Returns the per-(shard, batch) snapshots eagerly checkpointed (the
    * run dir dies on exit); [[streamCov]] compacts them to the declared
    * covariance and StreamingSpec reads the upd counters for the
    * crosses-batches assertion. */
  private[graft] def streamCovSnaps(spark: org.apache.spark.sql.SparkSession,
      sf: String): DataFrame = {
    val inDir = graft.ops.SourceOps.materialize(s"stream_cov_in_$sf") { d =>
      stageSlices(graft.sources.Tables.load(spark, sf, "embeddings")
        .select("vec_id", "embedding"),
        d, "in", 6, col("vec_id"),
        // the spec's crosses-batches assertion needs >= 2 micro-batches
        // at maxFilesPerTrigger=2 -> >= 3 staged files
        minParts = 3)
    }
    withRunDir("stream_cov_run_") { run =>
      drain(spark, pinState = true, rocksDb = true) { s =>
        import s.implicits._
        parquetSink(replay(s, s"$inDir/in", 2)
          .select((col("vec_id") % CovShards).as("shard"),
            graft.ops.VectorOps.asDouble(col("embedding")).as("v"))
          .as[CovEvent]
          .groupByKey(_.shard)
          .transformWithState(new CovMomentProcessor(graft.ops.VectorOps.Dim),
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append()), run)
      }
      Tables.parquet(spark, s"$run/out").localCheckpoint()
    }
  }

  /** Declared query for the streaming moment store — the marriage of the
    * repo's two standing-store disciplines (r14 verdict #2): the
    * `transformWithState` tier ([[RunningTotalProcessor]]'s drain) carrying
    * the EXACT mergeable covariance moments (`VectorOps.covUpdate`'s Long
    * triangle) as keyed RocksDB state. The drained per-shard final states
    * merge by Long addition (associative — batching- and shard-count-
    * independent), the packed triangle unpacks positionally, and the final
    * covariance arithmetic is the shared `covFromSums` spelling — so the
    * oracle is the batch q_embed_cov SQL VERBATIM, exact for any file
    * slicing. This is the 100 TB ingest shape: the moment store absorbs
    * each micro-batch with bounded per-key state (~17 KB), no history
    * rescan ever, and every covariance consumer reads the same numbers the
    * batch pipeline would have produced — bit-for-bit (spec'd). Plan: the
    * drain (shard-sized state), then a 2080-row merge — shuffle volume is
    * snapshots + triangle rows, corpus-independent after the stream. */
  def streamCov(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val d = graft.ops.VectorOps.Dim.toLong
    val snaps = streamCovSnaps(spark, sf)
    val finals = snaps.groupBy("shard")
      .agg(max_by(struct(col("n"), col("sx"), col("sxy")), col("upd")).as("f"))
      .select(col("f.n").as("n"), col("f.sx").as("sx"), col("f.sxy").as("sxy"))
    val nTot = finals.agg(sum("n").as("n"))
    val sxTot = finals.select(posexplode(col("sx")).as(Seq("i", "sxv")))
      .groupBy(col("i").cast("long").as("i")).agg(sum("sxv").as("sxv"))
    val sxyTot = finals.select(posexplode(col("sxy")).as(Seq("p", "sxyv")))
      .groupBy(col("p").cast("long").as("p")).agg(sum("sxyv").as("sxy"))
    // p → (i, j) unpack of the packed upper triangle (row-major from the
    // diagonal): p = i·d − i(i−1)/2 + (j − i); i(i−1) is even, so the
    // Long division is exact
    val pairs = spark.range(d).select(col("id").as("i"))
      .crossJoin(spark.range(d).select(col("id").as("j")))
      .filter(col("i") <= col("j"))
      .select(col("i"), col("j"),
        (col("i") * d - col("i") * (col("i") - 1L) / 2L + col("j") - col("i")).as("p"))
    pairs.join(sxyTot, "p")
      .join(broadcast(sxTot.select(col("i"), col("sxv").as("sx"))), "i")
      .join(broadcast(sxTot.select(col("i").as("j"), col("sxv").as("sy"))), "j")
      .crossJoin(broadcast(nTot))
      .select(col("i"), col("j"),
        graft.ops.VectorOps.covFromSums(struct(col("sxy"), col("sx"), col("sy"), col("n"))))
      .orderBy("i", "j")
  }

  /** STREAMING INDEX INGEST — the ANN twin of [[streamCov]] (with it, BOTH
    * of the repo's standing stores now have streaming ingest forms): the
    * `VectorOps.annAppend` discipline driven as a real multi-micro-batch
    * stream. The append batch (vec_id % 5 == 4, the same genuinely-unseen
    * split) arrives as a file stream; each micro-batch is encoded under
    * the FROZEN c80 artifacts inside a foreachBatch body — assign to the
    * nearest frozen coarse cell, PQ-encode against the frozen sub-
    * codebooks, append to an immutable ingest log tagged with the batch
    * id (the [[foreachBatchMerge]] idempotent-append contract: encode is
    * a deterministic pure map, so a replayed batch rewrites identical
    * rows and the (vec_id, batch_id)-keyed log compacts them away). After
    * the drain, probes run over standing ∪ ingest-log — and because the
    * encode is batching-independent, the result is BIT-IDENTICAL to the
    * batch [[graft.ops.VectorOps.annAppend]] (spec'd), the same way
    * [[streamCov]] is bit-identical to the batch covariance. This is the
    * 100 TB ingest shape for a vector store: micro-batch-sized encode
    * work (one broadcast join per batch), zero index rebuilds, versioned
    * frozen artifacts, append-only log compacted on the store's own
    * schedule ([[graft.ops.VectorOps.annCompact]]). Declared no-oracle
    * (twin `q_knn_join`, like its whole lifecycle family). */
  def streamAnnIngest(spark: org.apache.spark.sql.SparkSession, sf: String,
      nprobe: Int = 2): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val V = graft.ops.VectorOps
    // the ANN family's shared memoized projection — this is the exact plan
    // the per-call persist here used to rebuild, and its unpersist below
    // evicted the memo's live cache entry out from under the batch family
    // (the memo self-heals via its storageLevel==NONE re-persist, but the
    // eviction threw away a warm corpus-sized cache mid-session)
    val emb = V.embProjection(spark, sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 4)
    val km = V.coarseQuantizer(s"$sf-c80", 16, corpus)
    val codebook = V.pqCodebookFrame(spark,
      V.pqCodebooksFrom(s"$sf-c80", corpus.select("v")))
    val standing = V.standingIndex(spark, sf, km, codebook, corpus)
    // stage the append batch as 4 event-files so the drain is genuinely
    // multi-micro-batch at maxFilesPerTrigger=1
    val inDir = graft.ops.SourceOps.materialize(s"stream_ann_in_$sf") { d =>
      stageSlices(graft.sources.Tables.load(spark, sf, "embeddings")
        .filter(col("vec_id") % 5 === 4)
        .select("vec_id", "embedding"),
        d, "in", 4, col("vec_id"),
        // the spec's nb >= 2 audit column needs >= 2 staged files
        minParts = 2)
    }
    withRunDir("stream_ann_run_") { run =>
      drain(spark) { s =>
        eachBatch(replay(s, s"$inDir/in", 1), s"$run/ckpt") { (batch, batchId) =>
          // THE INGEST: micro-batch-sized assign + encode under the frozen
          // artifacts — the annAppend body, per arrival
          val assigned = km.transform(
              batch.select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
                .withColumn("fv", array_to_vector(col("v"))))
            .select(col("vec_id"), col("v"), col("cell"))
          V.pqEncodeFrom(assigned, codebook)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$run/log")
        }
      }
      val log = Tables.parquet(spark, s"$run/log")
      // replay-safe compaction on the ENCODING's key — one row per
      // (vector, PQ subspace), so the dedup key is (vec_id, s); keying on
      // vec_id alone would silently discard 7 of the 8 subspace codes
      // (idempotent encode ⇒ replayed duplicates are identical rows);
      // then drop the log-only tag so the union schema matches standing
      val ingested = log.dropDuplicates("vec_id", "s").drop("batch_id")
      val nBatches = log.select(countDistinct("batch_id").as("nb"))
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      // surface the multi-batch reality to the spec WITHOUT a driver
      // action: every probe row carries the drain's batch count
      val out = V.pqProbe(spark, probes, standing.unionByName(ingested),
          emb.select(col("vec_id"), col("v")), km, codebook, nprobe)
        .crossJoin(broadcast(nBatches))
        .localCheckpoint() // eager — the run dir (log + ckpt) dies on exit
      // no unpersist: emb is the session-scoped embProjection artifact,
      // owned and released by Artifacts' teardown / the harness clearCache
      out
    }
  }

  /** Drained ingest log of the STREAMING LEXICAL STORE (see [[streamDf]]):
    * the ingest batch's documents (doc_id % 10 == 0 — the same
    * dedup-incremental split [[graft.ops.TextOps.dfUpdate]] folds in)
    * staged as 4 range-partitioned files, `maxFilesPerTrigger=1` (≥ 4
    * micro-batches, doc-DISJOINT by the range partitioning — which is what
    * makes df additive across them), each arrival counted BATCH-SIZED
    * inside foreachBatch (`lexCounts`: one explode + aggregate over the
    * micro-batch only) and appended to an immutable (tok, df, tf,
    * batch_id) log. Counting is a deterministic pure aggregate of the
    * batch, so a replayed batch rewrites identical rows and the
    * (tok, batch_id)-keyed compaction drops them — the
    * [[foreachBatchMerge]] idempotent-append contract, lexical edition.
    * Returns the compacted log WITH batch_id (the spec's multi-batch
    * seam), eagerly checkpointed — the run dir dies on exit. */
  /** The staged ingest-document slices BOTH lexical-tier streams replay
    * ([[streamDfLog]] and [[streamPostingsLog]] — one staging, two
    * standing-store ingest forms): the doc_id % 10 == 0 batch as 4
    * range-partitioned (⇒ doc-DISJOINT) files, mtime-spaced for a
    * deterministic oldest-first replay. Extracted so the recipe — and
    * any future hardening of it — has exactly one spelling. */
  private def stagedIngestDocsDir(spark: org.apache.spark.sql.SparkSession,
      sf: String): String =
    graft.ops.SourceOps.materialize(s"stream_df_in_$sf") { d =>
      stageSlices(graft.sources.Tables.load(spark, sf, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select("doc_id", "text"),
        d, "in", 4, col("doc_id"),
        // both lexical-tier drains' specs assert nb >= 3 micro-batches
        minParts = 3)
    }

  private[graft] def streamDfLog(spark: org.apache.spark.sql.SparkSession,
      sf: String): DataFrame = {
    val inDir = stagedIngestDocsDir(spark, sf)
    withRunDir("stream_df_run_") { run =>
      drain(spark) { s =>
        eachBatch(replay(s, s"$inDir/in", 1), s"$run/ckpt") { (batch, batchId) =>
          graft.ops.TextOps.lexCounts(batch)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$run/log")
        }
      }
      Tables.parquet(spark, s"$run/log")
        .dropDuplicates("tok", "batch_id")
        .localCheckpoint() // eager — the run dir (log + ckpt) dies on exit
    }
  }

  /** STREAMING INGEST for the lexical standing store — the text-tier twin
    * of [[streamCov]] (r15 verdict #2; with it, ALL THREE of the engine's
    * standing stores — moments, ANN index, lexical table — have both
    * incremental maintenance and real streaming ingest forms): the ingest
    * batch's documents arrive as a multi-micro-batch file stream, each
    * micro-batch's (token, df, tf) exact Long counts fold batch-sized into
    * an append log ([[streamDfLog]]), and the drained log compacts into
    * ONE batch-counts table that merges into the standing corpus-partition
    * artifact by [[graft.ops.TextOps.lexMerge]] — the very merge
    * `q_df_update` runs. Doc-disjoint micro-batches make df additive
    * (distinct-doc counts over disjoint doc sets add exactly, the
    * q_df_update argument one level down), and Long addition is
    * batching-independent — so the result is BIT-IDENTICAL to the batch
    * [[graft.ops.TextOps.dfUpdate]] for ANY file slicing, and the oracle
    * is the full-corpus recompute SQL VERBATIM. This is the 100 TB ingest
    * shape for retrieval state: per-arrival work is micro-batch-sized, the
    * standing store absorbs each batch by one vocabulary-sized Long merge,
    * and every consumer ([[graft.ops.TextOps.bm25Store]],
    * [[graft.ops.TextOps.tfidfStore]]) reads the same numbers a full
    * corpus pass would produce. */
  def streamDf(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val batchCounts = streamDfLog(spark, sf)
      .groupBy("tok").agg(sum("df").as("df"), sum("tf").as("tf"))
    graft.ops.TextOps.lexMerge(
      graft.ops.TextOps.lexDfArtifact(spark, sf), batchCounts, negate = false)
  }

  /** Drained ingest log for the POSTINGS standing artifact (see
    * [[streamPostings]]): the same staged ingest slices [[streamDfLog]]
    * replays (the input dir is SHARED — one staging, two standing-store
    * ingest forms), each micro-batch's per-document (doc_id, tok, tf)
    * rows counted batch-sized in foreachBatch and appended to an
    * immutable (… , batch_id) log. Idempotence: counting is a pure
    * deterministic aggregate of the batch, so a replayed batch rewrites
    * identical rows and the (doc_id, tok, batch_id)-keyed compaction
    * drops them. Returns the compacted log WITH batch_id (the spec's
    * multi-batch / doc-disjointness seam), eagerly checkpointed — the
    * run dir dies on exit. */
  private[graft] def streamPostingsLog(spark: org.apache.spark.sql.SparkSession,
      sf: String): DataFrame =
    streamPostingsDrain(spark, sf, withCounts = false)._1

  /** The full postings-tier drain: the compacted per-document postings log
    * AND (when `withCounts`) the compacted per-batch raw document counts —
    * the postings log alone cannot serve the all-documents counter,
    * because a zero-token document produces no postings row yet counts
    * toward n_docs (the whole reason
    * [[graft.ops.TextOps.docCntPartArtifact]] exists apart from
    * `lex_stats`). The count side is one extra 1-row aggregate per
    * micro-batch over the RAW slice (before tokenization), written to its
    * own idempotent (batch_id)-keyed log: counting is a pure deterministic
    * aggregate of the batch, so a replayed batch rewrites the identical
    * row and the keyed compaction drops it — the [[foreachBatchMerge]]
    * contract shrunk to one number. The count log is materialized ONLY
    * when the caller serves the counter ([[streamNdocs]]): in a real
    * deployment one drain serves every postings-tier relation and the
    * count write amortizes across them, but the bench times each declared
    * query's drain in isolation — charging the counter's per-batch write
    * (+ its compaction checkpoint) to the four relations that never read
    * it showed up as a uniform +0.6 s on the whole family. Frames eagerly
    * checkpointed — the run dir dies on exit. */
  private[graft] def streamPostingsDrain(spark: org.apache.spark.sql.SparkSession,
      sf: String, withCounts: Boolean): (DataFrame, Option[DataFrame]) = {
    val inDir = stagedIngestDocsDir(spark, sf)
    withRunDir("stream_post_run_") { run =>
      drain(spark) { s =>
        eachBatch(replay(s, s"$inDir/in", 1), s"$run/ckpt") { (batch, batchId) =>
          batch.select(col("doc_id"),
              explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
            .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$run/log")
          if (withCounts)
            batch.agg(count(lit(1)).as("n_docs"))
              .withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$run/nlog")
        }
      }
      (Tables.parquet(spark, s"$run/log")
        .dropDuplicates("doc_id", "tok", "batch_id")
        .localCheckpoint(), // eager — the run dir (log + ckpt) dies on exit
       if (withCounts)
         Some(Tables.parquet(spark, s"$run/nlog")
           .dropDuplicates("batch_id")
           .localCheckpoint())
       else None)
    }
  }

  /** STREAMING INGEST for the postings standing artifact — the fourth
    * standing artifact joins the streaming-symmetry club (r16 verdict
    * #4): the ingest docs arrive as a multi-micro-batch file stream and
    * each micro-batch's per-document postings rows APPEND through an
    * idempotent log onto the standing corpus-partition artifact — the
    * very append [[graft.ops.TextOps.postingsUpdate]] runs in batch.
    * Doc-disjoint micro-batches (the range partitioner keys on doc_id)
    * mean append-only with NO merge arithmetic at all: each document's
    * rows are produced whole by exactly one micro-batch, so the result
    * is BIT-identical to the batch update for ANY file slicing, and the
    * oracle is the full-corpus recompute verbatim. This is the 100 TB
    * ingest shape for the serving index: per-arrival work is
    * micro-batch-sized, the standing table absorbs each batch as a
    * partition write, and [[graft.ops.TextOps.bm25Index]] serves
    * post-ingest state unchanged. */
  def streamPostings(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame =
    graft.ops.TextOps.postingsPartArtifact(spark, sf)
      .unionByName(streamPostingsLog(spark, sf).select("doc_id", "tok", "tf"))
      .orderBy("doc_id", "tok")

  /** STREAMING doc-length maintenance — with it (and [[streamLexStats]])
    * EVERY relation [[graft.ops.TextOps.postingsLifecycle]] serves has a
    * streaming ingest form (r17 verdict #2; postings rows already did via
    * [[streamPostings]]). No new stream: the SAME drained idempotent log
    * carries everything the length relation needs — doc-disjoint
    * micro-batches contribute each document's postings rows WHOLE, so the
    * ingest docs' lengths are one exact-Long aggregate over the compacted
    * log, APPENDED onto the standing corpus-partition lengths exactly as
    * the batch form inside `postingsChain` does. Per-document append with
    * no merge arithmetic ⇒ BIT-identical to the batch append for ANY file
    * slicing, and the oracle is the full-corpus per-document token count
    * verbatim. At 100 TB the length row rides the same partition write as
    * its postings — one arrival, both relations maintained. */
  def streamDocLen(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame =
    graft.ops.TextOps.docLenPartArtifact(spark, sf)
      .unionByName(streamPostingsLog(spark, sf)
        .groupBy("doc_id").agg(sum("tf").as("len")))
      .orderBy("doc_id")

  /** STREAMING scalar-counter maintenance — the (n_docs, Σ len) 1-row
    * state the per-document tier's BM25 serving derives avg_len from,
    * maintained the streaming way: each micro-batch's OWN two Long sums
    * (its doc count, its total length — computed per batch_id from the
    * drained log, the idempotent-log pattern shrunk to two numbers) fold
    * into the standing counters by pure Long addition. Addition is
    * batching-independent and doc-disjoint slicing keeps every document
    * in exactly one batch's delta, so the result is BIT-identical to the
    * batch counter arithmetic inside `postingsChain` for ANY slicing —
    * oracled by the full-corpus recompute (token-bearing docs, exact
    * Longs: the [[graft.ops.TextOps.lexCntPartArtifact]] discipline). */
  def streamLexStats(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    // per-micro-batch deltas first (the counters a streaming maintainer
    // would actually emit per arrival), then the Long fold across batches
    val perBatch = streamPostingsLog(spark, sf)
      .groupBy("batch_id", "doc_id").agg(sum("tf").as("len"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("bn"), sum("len").as("bs"))
    val delta = perBatch.agg(coalesce(sum("bn"), lit(0L)).as("bn"),
      coalesce(sum("bs"), lit(0L)).as("bs"))
    graft.ops.TextOps.lexCntPartArtifact(spark, sf)
      .crossJoin(broadcast(delta))
      .select((col("n_docs") + col("bn")).as("n_docs"),
        (col("sum_len") + col("bs")).as("sum_len"))
  }

  /** STREAMING maintenance for the ALL-DOCUMENTS counter — the last
    * maintained lexical relation without a streaming ingest form (r18
    * verdict #4; with it, every input of `q_tfidf_lifecycle` has one):
    * the 1-row Long [[graft.ops.TextOps.docCntPartArtifact]] maintains,
    * fed the streaming way. Each micro-batch's OWN raw document count —
    * taken from the staged slice BEFORE tokenization, because zero-token
    * documents count toward n_docs but never reach the postings log
    * (that inclusion is this counter's whole reason to exist apart from
    * `lex_stats`) — folds into the standing counter by pure Long
    * addition. Addition is batching-independent and doc-disjoint slicing
    * keeps every document in exactly one batch's delta, so the result is
    * BIT-identical to the batch counter arithmetic inside
    * [[graft.ops.TextOps.tfidfLifecycle]] for ANY file slicing — oracled
    * by the all-documents recompute verbatim (`count(*)`, zero-token
    * docs included: standing %10≠0 partition + the streamed %10==0
    * ingest = the whole corpus). */
  def streamNdocs(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val delta = streamPostingsDrain(spark, sf, withCounts = true)._2.get
      .agg(coalesce(sum("n_docs"), lit(0L)).as("bn"))
    graft.ops.TextOps.docCntPartArtifact(spark, sf)
      .crossJoin(broadcast(delta))
      .select((col("n_docs") + col("bn")).as("n_docs"))
  }

  /** Compaction view over the [[foreachBatchMerge]] log: latest value per
    * key by (event time, batch id) — one aggregate, map-side combinable. */
  def latestState(spark: org.apache.spark.sql.SparkSession, logDir: String): DataFrame =
    Tables.parquet(spark, logDir)
      .groupBy("user_id")
      .agg(max_by(struct(col("ts"), col("value")),
        struct(col("ts"), col("batch_id"))).as("b"))
      .select(col("user_id"), col("b.ts").as("ts"), col("b.value").as("value"))

  /** Gap-based sessionization via the NATIVE `session_window` aggregate —
    * the built-in counterpart of the custom [[sessionize]] below (which
    * exists for per-session state richer than an aggregate). Spark merges
    * overlapping event-time windows per key as rows arrive; a session
    * closes — and its state drops — once the watermark passes its end + gap.
    * In batch the same expression computes the full gap-split directly, so
    * one definition serves both runtimes (asserted in StreamingSpec).
    * The watermark delay defaults to the GAP (not a fixed constant): a
    * delay shorter than the gap would drop in-gap-but-late events in
    * streaming that the batch run keeps, silently breaking the agreement
    * this docstring promises. Callers who want a tighter out-of-order
    * tolerance pass `delay` explicitly and own that trade. */
  def sessionWindowCounts(events: DataFrame, gap: String = "1 hour",
                          delay: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", delay.getOrElse(gap))
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Declared BATCH form of [[sessionWindowCounts]] over the harness events
    * table — puts the BUILT-IN `session_window` operator under the DuckDB
    * hash check, not just the hand-rolled twin (EventOps.sessionize).
    * Semantics note the oracle mirrors: a session's END is the last event
    * time PLUS the gap (the half-open [first, last + gap) range Spark
    * assigns), where the lag-based sessionize reports last event time —
    * same grouping, shifted end. Sessions of one user are disjoint, so
    * (user_id, session_start) is a unique deterministic order key. */
  def sessionWindowBatch(spark: org.apache.spark.sql.SparkSession, sf: String): DataFrame =
    sessionWindowCounts(graft.ops.EventOps.events(spark, sf))
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** Stateful gap-based sessionization — the streaming twin of
    * EventOps.sessionize. Per-user state (start, last-seen, count) lives in
    * the state store; a session is EMITTED either when a later event arrives
    * more than `gap` after it, or — for the trailing open session — when the
    * event-time watermark passes its gap horizon (`setTimeoutTimestamp(last
    * + gap)`), so every session eventually flushes and state is dropped.
    * State size: O(users active within the gap), independent of stream
    * length. `delay` is the out-of-order tolerance (watermark lag): rows
    * later than it are DROPPED by the state operator, so the default is a
    * full hour — tight delays flush sooner but lose more stragglers, a
    * trade the caller owns. A late row within the tolerance that sorts
    * before the session's current end MERGES into the session (min start /
    * max end), never rewinding the end or the timeout horizon. */
  def sessionize(events: Dataset[(Long, Timestamp)],
                 gapMs: Long = 3600 * 1000L,
                 delay: String = "1 hour"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    def close(user: Long, s: SessState) =
      UserSession(user, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n)
    events
      .withWatermark("_2", delay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, evs, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap with no new events: the open
            // session can never be extended — flush and free the state
            val out = state.getOption.map(close(user, _)).iterator
            state.remove()
            out
          } else {
            val times = evs.map(_._2.getTime).toSeq.sorted
            var closed = List.empty[UserSession]
            var st = state.getOption
            times.foreach { t =>
              st = st match {
                case Some(s) if t < s.startMs - gapMs =>
                  // straggler from BEFORE the open session's window: merging
                  // would stitch a hole wider than the gap into one session.
                  // Emit it as its own closed session (approximation: multiple
                  // such stragglers fragment rather than re-group — the
                  // no-internal-hole-over-gap invariant is what we keep)
                  closed ::= close(user, SessState(t, t, 1)); Some(s)
                case Some(s) if t - s.lastMs <= gapMs =>
                  // covers start-gap <= t <= lastMs too (late within
                  // watermark): absorb without shrinking the session or its
                  // timeout horizon
                  Some(SessState(math.min(s.startMs, t), math.max(s.lastMs, t), s.n + 1))
                case Some(s) =>
                  closed ::= close(user, s); Some(SessState(t, t, 1))
                case None => Some(SessState(t, t, 1))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverse.iterator
          }
      }
  }

  /** Stateful streaming funnel — the incremental twin of EventOps.funnelFrom
    * (same stages, same 24 h advancement window). Per-user state is ONE
    * (stage, stage-ts) pair; an Append-mode row is emitted the moment a user
    * ADVANCES a stage, so downstream stage counts are a plain aggregate over
    * the advancement log. State — including a converted user's terminal
    * stage, kept so a later view can't re-enter stage 1 and double-count
    * the user in the log — is dropped via event-time timeout once the
    * watermark passes the advancement deadline (stage-ts + window), so
    * state size is O(users active within one window), independent of
    * stream length; a user re-appearing after that forgetting horizon
    * starts a fresh funnel pass. In-order contract: like the batch form,
    * t1 is the FIRST view; an out-of-order view arriving after a later view
    * has already set t1 cannot rewind it (batch min() would) — events
    * within a micro-batch are sorted, so the twins agree on any stream
    * whose disorder stays within one batch. */
  def funnelAdvances(events: Dataset[(Long, String, Timestamp)],
                     windowMs: Long = graft.ops.EventOps.FunnelWindowSec * 1000L,
                     delay: String = "1 hour"): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    val stages = Seq("view", "click", "purchase")
    events
      .withWatermark("_3", delay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, evs, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // watermark passed stage-ts + window: no event can advance this
            // user any more — the funnel outcome is final, free the state
            state.remove()
            Iterator.empty
          } else {
            var out = List.empty[FunnelAdvance]
            var st = state.getOption
            evs.toSeq.sortBy(e => (e._3.getTime, stages.indexOf(e._2))).foreach { e =>
              val (stage, t) = (st.map(_.stage).getOrElse(0), e._3.getTime)
              val advances = stage < stages.length &&
                e._2 == stages(stage) &&
                (stage == 0 || (t >= st.get.stageTsMs && t - st.get.stageTsMs <= windowMs))
              if (advances) {
                st = Some(FunnelState(stage + 1, t))
                out ::= FunnelAdvance(user, s"${stage + 1}_${stages(stage)}", e._3)
              }
            }
            st.foreach { s =>
              // keep CONVERTED users' state too (stage == stages.length is
              // terminal — nothing advances past it): dropping it on
              // conversion would let a later view of the same user re-enter
              // stage 1 and re-emit, double-counting the user in any
              // aggregate over the advancement log. State is freed only by
              // the event-time timeout, which is the documented forgetting
              // horizon: a user re-appearing AFTER it re-enters the funnel
              // (bounded state has to forget; the batch twin over the same
              // retention window agrees).
              state.update(s)
              // deadline for the NEXT advancement; must stay ahead of the
              // current watermark or Spark rejects the timestamp
              state.setTimeoutTimestamp(
                math.max(s.stageTsMs + windowMs, state.getCurrentWatermarkMs() + 1))
            }
            out.reverse.iterator
          }
      }
  }
}
