package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Event-stream batch operators (SURVEY.md §2.9 X5, §2.10 X6) over the
  * `events` table (`ts, user_id, event_type, value, props`).
  *
  * Scale notes: at 100 TB `events` is partitioned by `date_trunc('day', ts)`
  * so time-bucket queries prune partitions; both queries below are single
  * scan→agg shapes with map-side partial aggregation.
  */
object EventOps {

  /** Schema-adaptive `events` read. The harness fixture has shipped `ts` as
    * both parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS, not-UTC-adjusted)
    * across driver rounds, so dispatch on the resolved type instead of
    * assuming one:
    *  - NANOS: Spark 4 rejects it outright (PARQUET_TYPE_ILLEGAL), so
    *    `Tables` reads nanos as raw longs and this converts with integer
    *    division (`div`, not `/` — double division loses precision above
    *    2^53 and ~1.7e18 ns is well past it), then `timestamp_micros`.
    *  - MICROS not-UTC-adjusted: arrives as TIMESTAMP_NTZ; cast to the
    *    session-TZ timestamp every downstream op already expects (session
    *    TZ is pinned UTC, so the wall clock is unchanged).
    * Either way the result is TIMESTAMP with UTC wall-clock matching
    * DuckDB's naive read of the same file. */
  def events(spark: SparkSession, sf: String): DataFrame = {
    val raw = Tables.load(spark, sf, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** JSON field extraction — `get_json_object` over the `props` JSON column,
    * aggregated per event type. Models semi-structured payload analytics the
    * reference's flat Mongo projection sidesteps (`app_test.py:38-52`).
    * `try_cast`, not `cast`: under ANSI mode a non-numeric field would
    * fail the whole query instead of null-skipping the row — dirty payload
    * rows must degrade, not abort (and [[variantExtract]]'s `try_` forms
    * mirror exactly this behavior). */
  def jsonExtract(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").try_cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("k"), 4).as("avg_k"))
      .orderBy("event_type")

  /** VARIANT twin of [[jsonExtract]]: `parse_json` decodes the props string
    * ONCE into Spark 4's binary Variant encoding, then `variant_get`
    * navigates it as typed O(1) field access. Same answer (and oracle) as
    * the `get_json_object` form by construction — the difference is the
    * cost model at 100 TB: get_json_object re-parses the JSON text on
    * every field access (k accesses = k parses), while Variant pays one
    * parse and then binary offsets, which is why it is the lakehouse
    * answer to semi-structured columns. In production the Variant column
    * would be materialized at ingest (shredded into the file format), not
    * re-parsed per query — this query shows the access path. The `try_`
    * forms keep the twin contract on dirty data: malformed JSON or a
    * non-numeric field nulls the row exactly like the string path's
    * `cast("long")`, instead of erroring where the twin succeeds. */
  def variantExtract(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .select(
        col("event_type"),
        try_variant_get(try_parse_json(col("props")), "$.k", "long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("k"), 4).as("avg_k"))
      .orderBy("event_type")

  /** Time bucketing — tumbling 1-hour window as a batch aggregate
    * (SURVEY.md §2.10): `date_trunc('hour', ts)` ≡ `window($"ts","1 hour")`,
    * the same physical agg Structured Streaming runs incrementally. The
    * bucket is emitted as a formatted string so the hash-compare is immune
    * to timestamp-encoding differences between engines. */
  /** As-of join — for each event, the most recent order at-or-before the
    * event time for that user (SURVEY.md custom-op family; composed per the
    * preference ladder: built-in union + ordered window, no custom operator
    * needed).
    *
    * UNION + ORDERED-WINDOW plan (the merge-join formulation every native
    * as-of implementation uses), replacing the earlier equi-join-with-
    * inequality-residual + `max_by` form: that join materializes
    * Σ_u (events_u × orders_u) intermediate rows — multiplicative PER KEY,
    * so one hot user with 10k events and 10k orders costs 10⁸ rows before
    * the aggregate sees them (the classic as-of scale trap; flagged weak in
    * round-10 review). Here both sides are unioned on (user, time) with
    * order rows sorting BEFORE event rows at equal timestamps (the `<=`
    * tie rule), and `last(payload, ignoreNulls)` over an ordered running
    * window carries the latest order forward onto each event row: one
    * shuffle + one sort, O((|ev|+|ord|)·log) per user, NO fan-out — a
    * 10k×10k hot key costs 20k rows, not 10⁸ (hot-key decade measured in
    * EventOpsSpec / PLANS.md). Same pattern as [[gapFill]]. Within equal
    * (user, t): orders sort by o_orderkey ascending so the running last
    * is the max-orderkey argmax the previous form (and the DuckDB oracle's
    * `ORDER BY o_orderdate DESC, o_orderkey DESC` rank) picked; event rows
    * tie-break by event_id and contribute null payloads that `ignoreNulls`
    * skips, so co-timed events never disturb the carried order. */
  def asofJoin(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf).select(col("event_id"), col("user_id"), col("ts"))
    val ord = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    asofJoinFrom(ev, ord)
  }

  /** Core over any (event_id, user_id, ts) × (o_custkey, o_orderkey,
    * o_orderdate, o_totalprice) pair of relations, for spec-level hot-key
    * planting. Inner-join semantics: events with no at-or-before order for
    * their user are dropped (`best` stays null → filtered). */
  private[graft] def asofJoinFrom(ev: DataFrame, ord: DataFrame): DataFrame = {
    val orders = ord.select(
      col("o_custkey").as("user_id"),
      col("o_orderdate").cast("timestamp").as("t"),
      lit(0).as("is_event"),
      lit(null).cast("long").as("event_id"),
      struct(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")).as("payload"))
    val eventRows = ev.select(
      col("user_id"),
      col("ts").as("t"),
      lit(1).as("is_event"),
      col("event_id"),
      lit(null).cast(orders.schema("payload").dataType).as("payload"))
    // running frame, not the default RANGE frame: with rows-between the
    // window is computed in one pass over the sorted partition
    val w = Window.partitionBy("user_id")
      .orderBy(col("t"), col("is_event"), col("payload.o_orderkey"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.unionByName(eventRows)
      .withColumn("best", last(col("payload"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1 && col("best").isNotNull)
      .select(col("event_id"), col("user_id"), col("best.o_orderkey").as("o_orderkey"),
        date_format(col("best.o_orderdate"), "yyyy-MM-dd").as("asof_date"),
        col("best.o_totalprice").as("o_totalprice"))
      .orderBy("event_id")
  }

  /** Nearest-in-time join — the `direction='nearest'` member of the as-of
    * family ([[asofJoin]] is `backward`): for each event, the order whose
    * date is CLOSEST to the event time in either direction, ties preferring
    * the backward candidate (the already-known-at-event-time one — the
    * leakage-safe default). Same union + ordered-window machinery as
    * [[asofJoin]], ONE shuffle + ONE sort serving BOTH directions: the
    * running `last(payload, ignoreNulls)` carries the latest at-or-before
    * order forward, and a `first(payload, ignoreNulls)` over the mirrored
    * (currentRow, unboundedFollowing) frame of the SAME sort carries the
    * earliest strictly-after order backward — equal-date orders sort before
    * the event, so the forward frame is strictly `>`. Emits the direction
    * and the absolute gap in seconds, so the pandas `merge_asof
    * tolerance=...` form is a one-predicate filter on this output. */
  def asofNearest(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf).select(col("event_id"), col("user_id"), col("ts"))
    val ord = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    asofNearestFrom(ev, ord)
  }

  /** Core over the same relations as [[asofJoinFrom]]. Tie-breaks: backward
    * = latest date then MAX orderkey (the [[asofJoinFrom]] argmax); forward
    * = earliest date then MIN orderkey; equidistant → backward. Events
    * whose user has no orders at all drop (inner semantics). */
  private[graft] def asofNearestFrom(ev: DataFrame, ord: DataFrame): DataFrame = {
    val orders = ord.select(
      col("o_custkey").as("user_id"),
      col("o_orderdate").cast("timestamp").as("t"),
      lit(0).as("is_event"),
      lit(null).cast("long").as("event_id"),
      struct(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")).as("payload"))
    val eventRows = ev.select(
      col("user_id"),
      col("ts").as("t"),
      lit(1).as("is_event"),
      col("event_id"),
      lit(null).cast(orders.schema("payload").dataType).as("payload"))
    val order = Seq(col("t"), col("is_event"), col("payload.o_orderkey"), col("event_id"))
    val wPrev = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // whole-second gap on TRUNCATED seconds (unix_seconds floors), matching
    // DuckDB's boundary-counting date_diff('second', …) on fractional ts
    def gap(o: Column) =
      abs(unix_seconds(col("t")) - unix_seconds(o.getField("o_orderdate").cast("timestamp")))
    val marked = orders.unionByName(eventRows)
      .withColumn("prev", last(col("payload"), ignoreNulls = true).over(wPrev))
      .withColumn("nxt", first(col("payload"), ignoreNulls = true).over(wNext))
      .filter(col("is_event") === 1 && (col("prev").isNotNull || col("nxt").isNotNull))
      .withColumn("back_s", gap(col("prev")))
      .withColumn("fwd_s", gap(col("nxt")))
      .withColumn("take_back",
        col("nxt").isNull || (col("prev").isNotNull && col("back_s") <= col("fwd_s")))
    val best = when(col("take_back"), col("prev")).otherwise(col("nxt"))
    marked.select(
        col("event_id"), col("user_id"),
        best.getField("o_orderkey").as("o_orderkey"),
        when(col("take_back"), "back").otherwise("fwd").as("direction"),
        when(col("take_back"), col("back_s")).otherwise(col("fwd_s")).as("sec_diff"),
        best.getField("o_totalprice").as("o_totalprice"))
      .orderBy("event_id")
  }

  /** Range (interval) join — pairs of a user's events within 60 s of each
    * other (burst detection). The equi key (user) bounds the quadratic term
    * to per-user event counts; the range predicate filters inside the
    * equi-join — the standard shape until per-user history explodes, at
    * which point the time axis gets bucketed (join on (user, minute) ±1)
    * exactly like the LSH banding pattern. */
  def rangeJoin(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf).select(col("user_id"), col("event_id"), col("ts"))
    val a = ev.select(col("user_id"), col("event_id").as("id_a"), col("ts").as("ts_a"))
    val b = ev.select(col("user_id").as("user_b"), col("event_id").as("id_b"), col("ts").as("ts_b"))
    a.join(b,
        col("user_id") === col("user_b") && col("id_a") < col("id_b") &&
          unix_micros(col("ts_b")) - unix_micros(col("ts_a")) <= 60L * 1000000L &&
          unix_micros(col("ts_b")) >= unix_micros(col("ts_a")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_close_pairs"))
      .orderBy("user_id")
  }

  /** Window-frame family over the event stream, per user ordered by time:
    * 3-row moving average (ROWS BETWEEN frame), previous/next values
    * (lag/lead), and quartile assignment (ntile) — the analytic-window
    * surface beyond plain ranking. One hash-partitioning on user_id serves
    * every window (same spec), so this is a single-shuffle plan. */
  def windowFrames(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val frame = w.rowsBetween(-2, Window.currentRow)
    events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("mov_avg", round(avg("value").over(frame), 4))
      .withColumn("prev_value", lag("value", 1).over(w))
      .withColumn("next_value", lead("value", 1).over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .select("user_id", "event_id", "mov_avg", "prev_value", "next_value", "quartile")
      .orderBy("user_id", "event_id")
  }

  /** Batch sessionization: classic gap-based session assignment — lag the
    * previous event time per user, mark gaps > 1 h as session starts, running
    * sum of markers = session number, then aggregate per (user, session).
    * Two window passes over ONE hash-partitioning by user_id (both windows
    * share it), then the final agg re-uses the same partitioning — Catalyst
    * collapses the exchanges. The streaming twin
    * (graft.streaming.StreamOps.sessionize) holds the same per-user gap
    * state incrementally in flatMapGroupsWithState. */
  def sessionize(spark: SparkSession, sf: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 3600L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum("new_session").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_no")
  }

  def timeBucket(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 4).as("sum_value"))
      .orderBy("hour")

  /** Per-user z-score outliers (|z| > 2) — anomaly flagging via whole-
    * partition window aggregates: one shuffle on user_id computes mean and
    * sample stddev and scores every row in the same pass (no join back).
    * Single-event users get NULL stddev → NULL z → dropped, both engines.
    * z is rounded before the threshold so last-ulp accumulation differences
    * can't flip a row across the |z| = 2 boundary. */
  def zscoreOutliers(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val z = (col("value") - avg("value").over(w)) / stddev_samp(col("value")).over(w)
    events(spark, sf)
      // + 0.0: z-scores are negative-capable and this rounded value is the
      // declared output — canonicalize the zero on both engine sides
      .select(col("event_id"), col("user_id"), col("value"),
        (round(z, 4) + lit(0.0)).as("z"))
      .filter(abs(col("z")) > 2.0)
      .orderBy("event_id")
  }

  /** Conversion funnel — view → click → purchase, each step a per-user
    * first-qualifying-event aggregate with a 24 h conversion window (the
    * reference's analytics page reports single-stage rates,
    * `app_test.py:99`; a funnel is the multi-stage generalization every
    * product-analytics store ships). Three scan→filter→agg passes over the
    * one events table; every stage aggregates and joins on the SAME key
    * (user_id) so one hash partitioning serves the whole chain, and stage
    * frames shrink monotonically (150 → 60 → 25 on the sf0.01 fixture) so
    * later joins fall under the broadcast threshold. At 100 TB the
    * event-type filters prune first (partition/row-group level), and the
    * per-stage state is one (user, min-ts) row — map-side combinable. */
  def funnel(spark: SparkSession, sf: String): DataFrame =
    funnelFrom(events(spark, sf))

  /** Funnel over any frame with (user_id, event_type, ts) — the form the
    * streaming twin (StreamOps.funnelAdvances) is tested against. */
  def funnelFrom(eventsDf: DataFrame): DataFrame = {
    val winUs = FunnelWindowSec * 1000000L
    val ev = eventsDf.select(col("user_id"), col("event_type"), col("ts"))
    def stage(from: DataFrame, prevTs: String, evType: String, outTs: String): DataFrame =
      ev.filter(col("event_type") === evType)
        .join(from, "user_id")
        .filter(col("ts") >= col(prevTs) &&
          unix_micros(col("ts")) - unix_micros(col(prevTs)) <= winUs)
        .groupBy("user_id").agg(min("ts").as(outTs))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = stage(v, "t1", "click", "t2")
    val p = stage(c, "t2", "purchase", "t3")
    def counted(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    counted(v, "1_view").unionAll(counted(c, "2_click")).unionAll(counted(p, "3_purchase"))
      .orderBy("stage")
  }

  /** 24 h conversion window per funnel stage, shared with the streaming twin. */
  val FunnelWindowSec: Long = 86400L

  /** 7-day rolling distinct active users per day. COUNT(DISTINCT) over a
    * sliding frame has no window form, so the standard decomposition: one
    * distinct pass collapses events to (day, user) pairs — the ONLY scan
    * of the big table — then the tiny day spine (time axis: thousands of
    * rows at any scale) range-joins the pair table and a distinct-agg
    * counts per day. The range join broadcasts the day spine, so the pair
    * table is never shuffled for it; each pair lands in ≤ 7 day-groups. */
  def rollingDau(spark: SparkSession, sf: String): DataFrame = {
    val du = events(spark, sf)
      .select(date_trunc("day", col("ts")).as("d"), col("user_id")).distinct()
    val days = du.select(col("d").as("day_d")).distinct()
    du.join(broadcast(days),
        col("d") <= col("day_d") && col("d") > col("day_d") - expr("INTERVAL 7 DAY"))
      .groupBy(date_format(col("day_d"), "yyyy-MM-dd").as("day"))
      .agg(count_distinct(col("user_id")).as("dau7"))
      .orderBy("day")
  }

  /** Sketch twin of [[rollingDau]]: the same 7-day sliding distinct-user
    * count, but each day is reduced to ONE mergeable theta sketch before
    * the window join — the form that survives 100 TB. The exact twin's
    * window join carries every (day, user) row into the 7-day groups
    * (each user re-shuffled once per window it falls in, ×7
    * amplification); here the join carries 7 SKETCH ROWS per output day —
    * O(days × k) total, independent of user count — and the per-day
    * sketches are partial-aggregate friendly (built map-side in one
    * events pass) and storable, so tomorrow's window is an incremental
    * union of stored sketches, not a rescan. Same
    * below-saturation-exactness contract as [[thetaSets]] (lgK=12 →
    * 4096 retained hashes ≫ the fixture's 1.5 k users), which is what
    * lets this hash-match the exact COUNT DISTINCT oracle at verify SFs;
    * beyond saturation it degrades to ±~2% with [[rollingDau]] as the
    * audit path. */
  def rollingDauSketch(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(theta_sketch_agg(col("user_id")).as("sk"))
    val days = daily.select(col("d").as("day_d"))
    daily.join(broadcast(days),
        col("d") <= col("day_d") && col("d") > col("day_d") - expr("INTERVAL 7 DAY"))
      .groupBy(date_format(col("day_d"), "yyyy-MM-dd").as("day"))
      .agg(theta_sketch_estimate(theta_union_agg(col("sk"))).cast("long")
        .as("dau7"))
      .orderBy("day")
  }

  /** Generic sliding-window aggregate via the built-in `window(ts, size,
    * slide)` generator — each event lands in size/slide windows (7 here),
    * produced map-side by an Expand-style Generate BEFORE the one shuffle
    * on window start. This is the batch form of the Structured Streaming
    * windowed aggregate (identical call streaming-side, where partial
    * sums also fold into the state store incrementally), and the
    * value-sum complement of [[rollingDauSketch]]'s distinct-count
    * window: sums are algebraic, so the ×7 fan-out carries map-combined
    * partials, not rows — shuffle volume is windows × partitions,
    * independent of event count. Epoch-aligned day boundaries match
    * `date_trunc('day', …)`, which is what makes the DuckDB spine oracle
    * line up exactly. */
  def slidingWindowSum(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(window(col("ts"), "7 days", "1 day"))
      .agg(round(sum("value"), 4).as("value_sum"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("window_start"),
        col("value_sum"), col("n_events"))
      .orderBy("window_start")

  /** Hourly gap-fill + forward-fill for a small user cohort — the
    * time-series regularization every downstream model expects: a complete
    * hourly spine per user (`sequence` over the observed bounds, exploded),
    * left-joined against the hourly sums, missing hours as 0 plus a
    * last-observation-carried-forward column via `last(ignoreNulls)` over
    * an unbounded-preceding frame. One shuffle for the hourly agg, one for
    * the per-user window; the spine explode is map-side. At 100 TB the
    * spine is (users × hours) — generate it per user-partition (as here)
    * and the window never sees more than one user's timeline. */
  def gapFill(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf).filter(col("user_id") <= 3)
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum("value"), 4).as("v"))
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("user_id", "h"), "left")
      .select(
        col("user_id"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("v"), lit(0.0)).as("v"),
        coalesce(round(last(col("v"), ignoreNulls = true).over(w), 4), lit(0.0))
          .as("v_ffill"))
      .orderBy("user_id", "hour")
  }

  /** Cohort retention — users cohorted by first-signup day, then counted
    * distinct per (cohort day, day offset) over their subsequent activity.
    * One agg builds the cohort map (per-user min-day — tiny, one row per
    * user), one join on user_id tags every event, one distinct-agg counts.
    * At 100 TB the cohort map is orders of magnitude smaller than the event
    * log (users ≪ events) and broadcasts; the distinct-count shuffles on
    * (cohort, offset) with partial-HLL if approximate is acceptable — kept
    * exact here for the oracle. */
  def cohortRetention(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(date_trunc("day", col("ts"))).as("cohort_day"))
    ev.join(cohort, "user_id")
      .filter(col("ts") >= col("cohort_day"))
      .groupBy(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        datediff(to_date(date_trunc("day", col("ts"))), to_date(col("cohort_day")))
          .cast("long").as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Audience set algebra with theta sketches (DataSketches, built into
    * Spark 4): distinct-user counts for two behavioral segments — big-ticket
    * purchasers and big-ticket viewers — plus their intersection,
    * difference, and union, all computed from TWO mergeable sketches built
    * in ONE scan. This is the operation HLL cannot do (HLL unions but never
    * intersects) and the exact form cannot afford at 100 TB: every pairwise
    * audience overlap as a self-join of distinct-user sets is a shuffle per
    * pair, while theta sketches are O(k) state, partial-aggregate friendly,
    * and compose set-algebraically AFTER aggregation — segment sketches can
    * be stored per day/partition and overlapped later without touching raw
    * events. Below saturation (lgK=12 → 4096 retained hashes, far above the
    * fixture's 1.5 k users) the estimate IS the exact count, which is what
    * lets the declared query hash-match an exact COUNT DISTINCT oracle; the
    * docstring contract degrades to ±~2% beyond that, with the exact twin
    * (`q_funnel`-style joins) remaining the audit path. */
  def thetaSets(spark: SparkSession, sf: String): DataFrame =
    thetaSetsFrom(events(spark, sf))

  /** Taps in the [[ewma]] finite-impulse window (k = 0 .. EwmaTaps-1). */
  val EwmaTaps = 8

  /** Per-user exponentially-weighted moving average of event values —
    * the smoothing pass an anomaly detector runs before thresholding
    * (a spike matters relative to the user's own recent level, not the
    * global mean; [[zscoreOutliers]] is the global twin). Truncated to
    * [[EwmaTaps]] taps so it's a FINITE window: α = 1/2 makes every
    * weight 2^-k, so each product is an exact binary scaling and the
    * fixed left-to-right tap sum is BIT-IDENTICAL on any IEEE engine —
    * the one α where an EWMA can hash-match a foreign oracle. All taps
    * read one window sort (same spec → one Exchange + sort per user
    * partition); at 100 TB that shuffle is the query, and the state per
    * row is 8 lags, not unbounded history. First events use the
    * renormalized partial-window denominator (standard
    * `adjust=True` EWMA semantics). */
  def ewma(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val taps = (0 until EwmaTaps).map { k =>
      val wk = math.pow(0.5, k) // 2^-k: exact
      val lagged = lag(col("value"), k).over(w)
      (when(lagged.isNotNull, lagged * lit(wk)).otherwise(lit(0.0)),
        when(lagged.isNotNull, lit(wk)).otherwise(lit(0.0)))
    }
    events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"),
        round(taps.map(_._1).reduce(_ + _) /
          taps.map(_._2).reduce(_ + _), 6).as("ewma"))
      .orderBy("user_id", "event_id")
  }

  /** DuckDB twin of [[ewma]] — generated from the same tap loop so the
    * weights and the left-to-right sum order match term for term. */
  def ewmaOracleSql: String = {
    val num = (0 until EwmaTaps).map { k =>
      val wk = math.pow(0.5, k)
      s"CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN lag(value, $k) OVER w * $wk ELSE 0.0 END"
    }.mkString(" + ")
    val den = (0 until EwmaTaps).map { k =>
      val wk = math.pow(0.5, k)
      s"CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN $wk ELSE 0.0 END"
    }.mkString(" + ")
    s"""SELECT user_id, event_id, value,
       |  round(($num) / ($den), 6) AS ewma
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** Interval-overlap join WITHOUT a shared equi key — sessions × global
    * incident windows (30 min after every error event). [[rangeJoin]]'s
    * user key bounded its quadratic term; here there is none, so the naive
    * plan is a Cartesian with a range residual. The scale path is TIME
    * BINNING: explode both interval sets onto an hourly grid
    * (`sequence` over bin indices — cost ∝ interval length / bin), equi-
    * join on the bin, keep true overlaps, and de-duplicate pairs that
    * share several bins. Shuffle volume is rows × avg bins-per-interval
    * and candidate volume is co-binned pairs only — the 1-D version of
    * the LSH-banding discipline (and of Spark's own
    * binned-interval-join literature shape). The spec pins the plan:
    * a hash equi-join on `bin`, no BNLJ/Cartesian, and equality with the
    * direct all-pairs form. */
  val OverlapBinMicros: Long = 3600L * 1000000L

  def intervalOverlap(spark: SparkSession, sf: String): DataFrame = {
    // EXPLICIT-width pre-partition on the window key: the sessionize
    // windows, bin explode, bin join and both aggregates below all key on
    // user_id (or supersets), so this ONE exchange feeds the whole
    // pipeline — and AQE's byte-based coalescing can't fold the ~MB of
    // events onto one task (its sizing is blind to the downstream
    // window + join compute; measured 1.3 s single-task, twice, at bench
    // scale). At cluster scale the same exchange is the window's anyway.
    val ev = events(spark, sf).repartition(
      spark.conf.get("spark.sql.shuffle.partitions").toInt, col("user_id"))
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sessions = ev
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 3600L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(unix_micros(min("ts")).as("s_start"), unix_micros(max("ts")).as("s_end"))
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("inc_id"),
        unix_micros(col("ts")).as("i_start"),
        (unix_micros(col("ts")) + 1800L * 1000000L).as("i_end"))
    intervalOverlapFrom(sessions, incidents)
  }

  /** Core over any (user_id, session_no, s_start, s_end) × (inc_id,
    * i_start, i_end) interval frames — split out so the spec can A/B the
    * binned plan against the direct all-pairs form on the same inputs. */
  private[graft] def intervalOverlapFrom(
      sessions: DataFrame, incidents: DataFrame): DataFrame = {
    val b = OverlapBinMicros
    val sBinned = sessions.withColumn("bin",
      explode(sequence(expr(s"s_start div $b"), expr(s"s_end div $b"))))
    val iBinned = incidents.withColumn("bin",
      explode(sequence(expr(s"i_start div $b"), expr(s"i_end div $b"))))
    sBinned.join(iBinned, "bin")
      .filter(col("s_start") <= col("i_end") && col("i_start") <= col("s_end"))
      .select("user_id", "session_no", "inc_id").distinct()
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_incidents"))
      .orderBy("user_id", "session_no")
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the sequence-mining primitive behind next-event prediction and
    * journey analysis: P(next type | current type), estimated from every
    * consecutive pair in each user's ts-ordered stream. One window
    * (`lead` over user_id) pairs the events — shuffle on user_id, sort
    * within, linear in events and embarrassingly parallel across users at
    * 100 TB (no cross-user state). The per-source normalization reuses
    * the grouped counts via a SECOND window over the 25-row transition
    * table, not a re-scan: by then the data is type×type sized,
    * independent of event count. (ts, event_id) total order makes each
    * user's sequence — and therefore every count — engine-independent. */
  def markovTransitions(spark: SparkSession, sf: String): DataFrame = {
    val seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = events(spark, sf)
      .select(col("event_type").as("from_type"),
        lead("event_type", 1).over(seq).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    pairs
      .withColumn("prob", round(col("n") /
        sum("n").over(Window.partitionBy("from_type")), 4))
      .orderBy("from_type", "to_type")
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands shape (date minus per-user row_number is constant
    * within a run of consecutive days). Three shuffles, each strictly
    * smaller than the last: distinct (user, day) collapses the event
    * stream to at most users × days rows, the island grouping keys on
    * (user, anchor), and the per-user max is user-sized. The window sort
    * is per-user — no global ordering anywhere before the final top-20.
    * Ties on max_streak break by user_id so the k-boundary is
    * deterministic. */
  def activityStreaks(spark: SparkSession, sf: String): DataFrame = {
    val days = events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val rn = Window.partitionBy("user_id").orderBy("d")
    val streaks = days
      .withColumn("anchor", date_sub(col("d"), row_number().over(rn)))
      .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
    streaks.groupBy("user_id")
      .agg(max("len").as("max_streak"), sum("len").as("n_active_days"))
      .orderBy(col("max_streak").desc, col("user_id"))
      .limit(20)
  }

  /** The sketch algebra over any (event_type, value, user_id) frame —
    * split out so empty/degenerate inputs are testable. */
  private[graft] def thetaSetsFrom(ev: DataFrame): DataFrame = {
    val big = col("value") > 150
    val sk = ev.agg(
      theta_sketch_agg(when(col("event_type") === "purchase" && big,
        col("user_id"))).as("sa"),
      theta_sketch_agg(when(col("event_type") === "view" && big,
        col("user_id"))).as("sb"))
    sk.select(
      theta_sketch_estimate(col("sa")).cast("long").as("n_buy"),
      theta_sketch_estimate(col("sb")).cast("long").as("n_view"),
      theta_sketch_estimate(theta_intersection(col("sa"), col("sb")))
        .cast("long").as("n_both"),
      theta_sketch_estimate(theta_difference(col("sa"), col("sb")))
        .cast("long").as("n_buy_only"),
      theta_sketch_estimate(theta_union(col("sa"), col("sb")))
        .cast("long").as("n_either"))
  }

  /** Exact monthly unique users — the rollup the sketch-merge twin
    * ([[hllMerge]]) is measured against. One shuffle on (month, user)
    * for the distinct, then the per-month count. */
  def monthlyUniques(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(date_trunc("month", col("ts")).cast("date").as("month"))
      .agg(count_distinct(col("user_id")).as("uniq_users"))
      .orderBy("month")

  /** Mergeable-sketch rollup — the pattern that makes sketches matter at
    * 100 TB: per-DAY HLL blobs are materialized once (`hll_sketch_agg`,
    * DataSketches, lgK=14 ≈ 0.8% rse), and every coarser rollup — monthly
    * here — MERGES the stored blobs (`hll_union_agg`) without ever
    * rescanning the event table. Register-max union is associative,
    * commutative and idempotent, so the merged estimate is bit-identical
    * to sketching the month directly (the spec asserts exactly that, plus
    * the accuracy bound vs the oracled exact twin [[monthlyUniques]]) —
    * and late-arriving days just re-union. This is the storage/merge
    * discipline behind every incremental-analytics store (druid/pinot
    * style); [[rollingDauSketch]] covers the windowed-estimate form,
    * THIS covers sketch persistence + re-aggregation. Declared no-oracle:
    * the blob layer isn't SQL-expressible in the oracle engine. */
  def hllMerge(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    daily
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("uniq_est"),
        count(lit(1)).as("n_days"))
      .orderBy("month")
  }

  /** Exact monthly value quantiles — the oracled twin [[kllMerge]] is
    * measured against (Spark's exact interpolated `percentile` matches
    * DuckDB `quantile_cont` bit-for-bit; q_percentile pins the parity).
    * Exact per-group percentile SORTS each group's full value set — the
    * cost the sketch twin exists to avoid at 100 TB. */
  def monthlyMedian(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(date_trunc("month", col("ts")).cast("date").as("month"))
      .agg(
        round(percentile(col("value"), lit(0.5)), 4).as("median_value"),
        round(percentile(col("value"), lit(0.95)), 4).as("p95_value"))
      .orderBy("month")

  /** KLL quantile-sketch rollup — the quantile half of the mergeable-sketch
    * storage discipline ([[hllMerge]] is the distinct-count half): per-DAY
    * KLL(200) blobs over `value` are materialized once
    * (`KllFunctions.kll_sketch_agg`, DataSketches, ±1.65% rank error), and
    * the monthly rollup MERGES the stored blobs (`kll_union_agg`) without
    * rescanning events — median/p95 then read off the merged sketch.
    * Declared no-oracle: KLL compaction is randomized, so the contract is
    * the rank-error bound vs the exact twin [[monthlyMedian]] (spec
    * EventOpsSpec "kll merge rollup"), not a value hash — per the sketch
    * library's own validation discipline. */
  def kllMerge(spark: SparkSession, sf: String): DataFrame = {
    import graft.functions.KllFunctions._
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(kll_sketch_agg(col("value")).as("sk"))
    daily
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(kll_union_agg(col("sk")).as("mk"), count(lit(1)).as("n_days"))
      .select(col("month"),
        round(kll_quantile(col("mk"), 0.5), 4).as("median_est"),
        round(kll_quantile(col("mk"), 0.95), 4).as("p95_est"),
        col("n_days"))
      .orderBy("month")
  }

  /** t-digest tail-quantile rollup — [[kllMerge]]'s discipline (per-day
    * blobs, monthly merge, no fact rescan) carried by the TAIL-accurate
    * sketch: per-day t-digest(200) blobs over `value`
    * (`TDigestFunctions.td_sketch_agg`, DataSketches), monthly
    * `td_union_agg` merge, and the month's p50/p99 read off the merged
    * digest — the latency-SLO shape, where the reported quantile lives in
    * the tail KLL's uniform ±1.65% rank error is weakest at and the
    * t-digest's scale function is strongest at (its centroid resolution
    * grows toward the extremes, ~1 KB blob vs KLL's ~5 KB). `max_val`
    * rides along because the digest tracks the exact maximum — a
    * deterministic cross-check in an otherwise order-dependent sketch.
    * Declared no-oracle (centroid merging is input-order dependent); the
    * contract is rank-error bounds vs the exact twin [[monthlyMedian]]
    * (EventOpsSpec "tdigestMerge"). */
  def tdigestMerge(spark: SparkSession, sf: String): DataFrame = {
    import graft.functions.TDigestFunctions._
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(td_sketch_agg(col("value")).as("sk"))
    daily
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(td_union_agg(col("sk")).as("mk"), count(lit(1)).as("n_days"))
      .select(col("month"),
        round(td_quantile(col("mk"), 0.5), 4).as("p50_est"),
        round(td_quantile(col("mk"), 0.99), 4).as("p99_est"),
        round(td_quantile(col("mk"), 1.0), 4).as("max_val"),
        col("n_days"))
      .orderBy("month")
  }

  /** The LITERAL sketch store — [[hllMerge]]/[[kllMerge]] demonstrate the
    * merge algebra in-plan; THIS persists the per-day blob table (day,
    * HLL blob, KLL blob, row count) to parquet ONCE (SourceOps staging
    * memo, the partition-prune discipline) and the rollup query reads
    * ONLY the store — the spec asserts the executed plan scans no
    * events file at all, which is the "answer monthly questions without
    * rescanning the fact table" claim made literal. A day's blobs are a
    * few KB against millions of raw rows: at 100 TB this table is the
    * difference between an incremental-analytics serving layer and a
    * nightly full scan; late days re-write one row and re-union.
    * Register-max HLL union is deterministic, so uniq_est must EXACTLY
    * equal the in-plan [[hllMerge]] (spec-pinned); the KLL median rides
    * the usual rank-error contract. Declared no-oracle (blob layer). */
  def sketchStore(spark: SparkSession, sf: String): DataFrame = {
    import graft.functions.KllFunctions._
    val dir = SourceOps.materialize(s"sketch_store_$sf") { d =>
      events(spark, sf)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("hsk"),
          kll_sketch_agg(col("value")).as("ksk"),
          count(lit(1)).as("n_rows"))
        .write.mode("overwrite").parquet(d)
    }
    Tables.parquet(spark, dir)
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(hsk, false))").as("uniq_est"),
        kll_union_agg(col("ksk")).as("mk"),
        sum("n_rows").as("n_events"),
        count(lit(1)).as("n_days"))
      .select(col("month"), col("uniq_est"),
        round(kll_quantile(col("mk"), 0.5), 4).as("median_est"),
        col("n_events"), col("n_days"))
      .orderBy("month")
  }

  /** Probe keys for the point-frequency pair ([[userFreq]] exact /
    * [[cmsFreq]] sketch): a fixed low-id user set, identical in the Spark
    * query, the oracle SQL, and the accuracy spec. */
  val FreqProbeUsers: Seq[Long] = (1L to 8L)

  /** Exact monthly per-user event counts for the probe users — the oracled
    * twin [[cmsFreq]] is measured against. Exact point frequency is one
    * shuffle on (month, user): cheap for 8 probe users, but a 100 TB store
    * answering ad-hoc "how often did key X occur" probes can't re-shuffle
    * the fact table per question — that asymmetry is what the CMS blob
    * exists for. */
  def userFreq(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .filter(col("user_id").isin(FreqProbeUsers: _*))
      .groupBy(date_trunc("month", col("ts")).cast("date").as("month"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("month", "user_id")

  /** Count-Min point-frequency rollup — the FREQUENCY member of the
    * mergeable-sketch storage discipline ([[hllMerge]] distinct counts,
    * [[kllMerge]] quantiles): per-DAY CMS blobs over `user_id`
    * ([[graft.functions.CmsFunctions]], width 2048 × depth 5, ~80 KB), the
    * monthly rollup MERGES the stored blobs, and any key's frequency is
    * then a scalar probe of the merged sketch — no fact-table rescan, and
    * unlike a pre-aggregated (month, user) table the blob answers keys
    * nobody enumerated in advance. Probes ride a literal frame cross-joined
    * against the one-row-per-month sketch side (broadcast, no shuffle).
    * Declared no-oracle (blob layer); the contract vs the exact twin
    * [[userFreq]] is one-sided: est ≥ exact always, est ≤ exact + ε·N
    * w.h.p. — EventOpsSpec pins both plus merge == direct determinism. */
  def cmsFreq(spark: SparkSession, sf: String): DataFrame = {
    import graft.functions.CmsFunctions._
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(cms_sketch_agg(col("user_id")).as("sk"))
    val monthly = daily
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(cms_union_agg(col("sk")).as("mk"), count(lit(1)).as("n_days"))
    val probeDf = spark.createDataFrame(FreqProbeUsers.map(Tuple1(_)))
      .toDF("user_id")
    monthly.join(broadcast(probeDf))
      .select(col("month"), col("user_id"),
        cms_estimate(col("mk"), col("user_id")).as("est_events"),
        col("n_days"))
      .orderBy("month", "user_id")
  }
}
