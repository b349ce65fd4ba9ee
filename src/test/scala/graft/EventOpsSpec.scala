package graft

import org.apache.spark.sql.functions._

class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  test("get_json_object yields null for malformed or missing JSON, not errors") {
    val df = Seq(
      (1L, """{"k": 42}"""),
      (2L, """{"other": 1}"""),
      (3L, "not json at all"),
      (4L, ""))
      .toDF("id", "props")
      .select(col("id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
    val rows = df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1L).contains(42L))
    assert(rows(2L).isEmpty && rows(3L).isEmpty && rows(4L).isEmpty)
  }

  test("from_json parses props into a typed map for key-level analytics") {
    val df = Seq(
      (1L, """{"k": 42, "extra": 7}"""),
      (2L, """{"k": 1}"""))
      .toDF("id", "props")
      .select(col("id"),
        explode(from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")))
          .as(Seq("key", "value")))
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set((1L, "k", 42L), (1L, "extra", 7L), (2L, "k", 1L)))
  }

  test("zscoreOutliers only flags |z| > 2 and drops degenerate users") {
    val rows = graft.ops.EventOps.zscoreOutliers(spark, sf0001).collect()
    rows.foreach { r =>
      assert(!r.isNullAt(3))
      assert(math.abs(r.getDouble(3)) > 2.0, s"z=${r.getDouble(3)}")
    }
  }

  test("events loader converts nanos exactly (div, not double division)") {
    val first = graft.ops.EventOps.events(spark, sf0001)
      .orderBy("event_id").select("ts").head().getTimestamp(0)
    // fixture events start 2024-01-01; exact to the microsecond
    assert(first.toString.startsWith("2024-01-01"))
    assert(graft.ops.EventOps.events(spark, sf0001).schema("ts").dataType.typeName == "timestamp")
  }

  test("events loader reads a TIMESTAMP(NANOS) column exactly, without a session conf") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    // every value is far above 2^53 ns; the third is one where double
    // division rounds up into the next second (…201000000 µs)
    val ns = Seq(1704067200000000000L, 1704067200123456789L, 1704067200999999999L)
    val dir = java.nio.file.Files.createTempDirectory("nanos_events")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try ns.zipWithIndex.foreach { case (v, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", v))
    } finally writer.close()
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val confBefore = spark.conf.getOption(nanosKey)
    def micros(): Seq[Long] = graft.ops.EventOps.events(spark, dir.toString)
      .orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    // the scan reads the raw longs with either parquet reader
    val vectorized = "spark.sql.parquet.enableVectorizedReader"
    val readers = Seq("true", "false").map { v =>
      val prev = spark.conf.getOption(vectorized)
      spark.conf.set(vectorized, v)
      try micros() finally prev.fold(spark.conf.unset(vectorized))(spark.conf.set(vectorized, _))
    }
    assert(readers.forall(_ == Seq(1704067200000000L, 1704067200123456L, 1704067200999999L)),
      readers.toString)
    assert(spark.conf.getOption(nanosKey) == confBefore, "events() wrote the session conf")
  }

  test("funnel stages are ordered and monotonically non-increasing") {
    val rows = graft.ops.EventOps.funnel(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(rows.map(_._1).toSeq == Seq("1_view", "2_click", "3_purchase"))
    val counts = rows.map(_._2)
    assert(counts(0) >= counts(1) && counts(1) >= counts(2),
      s"funnel not monotone: ${counts.mkString(",")}")
    assert(counts(0) > 0)
  }

  test("rollingDau: 7-day window is a superset of any single day's actives") {
    val ev = graft.ops.EventOps.events(spark, sf0001)
    val daily = ev.select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      .groupBy("d").count().collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val rolling = graft.ops.EventOps.rollingDau(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolling.keySet == daily.keySet)
    rolling.foreach { case (day, dau7) =>
      assert(dau7 >= daily(day), s"$day: rolling $dau7 < daily ${daily(day)}")
    }
  }

  test("gapFill: spine is complete and forward-fill carries the last observation") {
    val rows = graft.ops.EventOps.gapFill(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val byUser = rows.groupBy(_._1)
    assert(byUser.nonEmpty)
    val spineSizes = byUser.values.map(_.length).toSet
    assert(spineSizes.size == 1, s"unequal spines: $spineSizes") // same bounds for all
    byUser.values.foreach { timeline =>
      val sorted = timeline.sortBy(_._2)
      var lastObs = 0.0
      sorted.foreach { case (_, hour, v, ffill) =>
        if (v != 0.0) lastObs = v
        assert(ffill == lastObs, s"$hour: ffill $ffill != carried $lastObs")
      }
    }
  }

  test("cohort retention: day-0 count equals cohort size, offsets non-negative") {
    val rows = graft.ops.EventOps.cohortRetention(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, off, n) => assert(off >= 0 && n > 0) }
    // every user has activity on their cohort day (the signup itself),
    // so within a cohort day-0 is the maximum
    rows.groupBy(_._1).foreach { case (day, rs) =>
      val byOff = rs.map(r => r._2 -> r._3).toMap
      assert(byOff.contains(0L), s"cohort $day missing day-0")
      assert(byOff.values.max == byOff(0L), s"cohort $day day-0 not max")
    }
  }

  test("theta sets: exact below saturation, inclusion-exclusion holds") {
    import org.apache.spark.sql.functions._
    val r = graft.ops.EventOps.thetaSets(spark, sf0001).head()
    val (nBuy, nView, nBoth, nBuyOnly, nEither) = (r.getAs[Long]("n_buy"),
      r.getAs[Long]("n_view"), r.getAs[Long]("n_both"),
      r.getAs[Long]("n_buy_only"), r.getAs[Long]("n_either"))
    assert(nEither == nBuy + nView - nBoth) // inclusion-exclusion
    assert(nBuyOnly == nBuy - nBoth)
    // below lgK saturation the sketch estimates are exact — check against
    // a direct distinct-set recompute
    val ev = graft.ops.EventOps.events(spark, sf0001)
    val a = ev.filter(col("event_type") === "purchase" && col("value") > 150)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val b = ev.filter(col("event_type") === "view" && col("value") > 150)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(nBuy == a.size && nView == b.size)
    assert(nBoth == (a & b).size && nEither == (a | b).size)
  }

  test("variant access path equals the get_json_object path row-for-row") {
    val viaJson = graft.ops.EventOps.jsonExtract(spark, sf0001).collect().toSeq
    val viaVariant = graft.ops.EventOps.variantExtract(spark, sf0001).collect().toSeq
    assert(viaVariant == viaJson)
  }

  test("variant_get on a missing path yields null, not an error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val r = Seq("""{"k": 7}""").toDF("props")
      .select(
        variant_get(parse_json(col("props")), "$.k", "long").as("k"),
        variant_get(parse_json(col("props")), "$.absent", "long").as("absent"))
      .head()
    assert(r.getLong(0) == 7L && r.isNullAt(1))
  }

  test("variant path nulls dirty rows exactly like the string-JSON path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // malformed JSON and a non-numeric field: get_json_object + cast yields
    // null; the try_ variant forms must match, not error
    val dirty = Seq("""{"k": 7}""", """{"k": "abc"}""", """not json""")
      .toDF("props")
    val rows = dirty.select(
      get_json_object(col("props"), "$.k").try_cast("long").as("via_json"),
      try_variant_get(try_parse_json(col("props")), "$.k", "long").as("via_variant"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
  }

  test("theta sets: empty and one-sided inputs yield zero counts, no crash") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double, Long)]
      .toDF("event_type", "value", "user_id")
    val e = graft.ops.EventOps.thetaSetsFrom(empty).head()
    assert((0 until 5).forall(i => e.getLong(i) == 0L))
    // purchases only: view-side sketch is empty, algebra must still hold
    val oneSided = Seq(("purchase", 200.0, 1L), ("purchase", 300.0, 2L))
      .toDF("event_type", "value", "user_id")
    val r = graft.ops.EventOps.thetaSetsFrom(oneSided).head()
    assert(r.getAs[Long]("n_buy") == 2L && r.getAs[Long]("n_view") == 0L)
    assert(r.getAs[Long]("n_both") == 0L && r.getAs[Long]("n_buy_only") == 2L)
    assert(r.getAs[Long]("n_either") == 2L)
  }

  test("ewma: first event equals value, constant series stays constant, hand-check") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.EventOps.ewma(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    // the window orders by (ts, event_id) — derive every user's TRUE head
    // from that order, never from event_id alone (fixture-shape-agnostic)
    val heads = graft.ops.EventOps.events(spark, sf0001)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")))
      .filter(col("rk") === 1)
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byUser.foreach { case (user, rs) =>
      val head = rs.find(_.getAs[Long]("event_id") == heads(user)).get
      assert(math.abs(head.getAs[Double]("ewma") -
        math.rint(head.getAs[Double]("value") * 1e6) / 1e6) < 1e-9)
    }
    // hand recompute one user's full tap series in the same (ts, id) order
    val u = byUser.keys.head
    val ordered = graft.ops.EventOps.events(spark, sf0001)
      .filter(col("user_id") === u)
      .orderBy("ts", "event_id")
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val got = rs2map(byUser(u))
    ordered.zipWithIndex.foreach { case ((eid, _), i) =>
      val taps = (0 until graft.ops.EventOps.EwmaTaps)
        .filter(k => i - k >= 0)
        .map(k => (math.pow(0.5, k), ordered(i - k)._2))
      val manual = taps.map { case (w, v) => w * v }.sum / taps.map(_._1).sum
      assert(math.abs(got(eid) - manual) < 1e-5, s"event $eid: ${got(eid)} vs $manual")
    }
  }

  private def rs2map(rs: Array[org.apache.spark.sql.Row]): Map[Long, Double] =
    rs.map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap

  test("rollingDauSketch equals the exact sliding distinct below saturation") {
    def asPairs(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[String]("day"), r.getAs[Long]("dau7"))).toSeq
    val exact = asPairs(graft.ops.EventOps.rollingDau(spark, sf0001).collect())
    val sketch = asPairs(
      graft.ops.EventOps.rollingDauSketch(spark, sf0001).collect())
    assert(sketch == exact)
  }

  test("slidingWindowSum: every event lands in exactly 7 day-windows") {
    val ev = graft.ops.EventOps.events(spark, sf0001)
    val total = ev.count()
    val rows = graft.ops.EventOps.slidingWindowSum(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_events")).sum == 7L * total)
    // window starts span exactly [min_day − 6, max_day], consecutively —
    // pins the epoch alignment, not just distinctness
    val starts = rows.map(r =>
      java.time.LocalDate.parse(r.getAs[String]("window_start"))).sorted
    val bounds = ev.agg(min(to_date(date_trunc("day", col("ts")))),
      max(to_date(date_trunc("day", col("ts"))))).collect().head
    val (lo, hi) = (bounds.getDate(0).toLocalDate, bounds.getDate(1).toLocalDate)
    assert(starts.head == lo.minusDays(6) && starts.last == hi)
    starts.zip(starts.tail).foreach { case (a, b) =>
      assert(b == a.plusDays(1), s"gap between $a and $b")
    }
  }

  test("intervalOverlap: binned plan is an equi-join and equals the all-pairs form") {
    val binned = graft.ops.EventOps.intervalOverlap(spark, sf0001)
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"binned overlap must be an equi-join on bin, got:\n$plan")
    // direct all-pairs twin on identical interval inputs
    import spark.implicits._
    val sess = Seq((1L, 1L, 100L, 200L), (1L, 2L, 900L, 950L),
      (2L, 1L, 0L, 5000L)).toDF("user_id", "session_no", "s_start", "s_end")
    val inc = Seq((10L, 150L, 300L), (11L, 400L, 800L), (12L, 120L, 180L),
      (13L, 4000L, 9000L)).toDF("inc_id", "i_start", "i_end")
    val got = graft.ops.EventOps.intervalOverlapFrom(sess, inc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = sess.crossJoin(inc)
      .filter(col("s_start") <= col("i_end") && col("i_start") <= col("s_end"))
      .groupBy("user_id", "session_no").agg(count(lit(1)).as("n"))
      .orderBy("user_id", "session_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(binned.collect().nonEmpty)
  }

  test("markovTransitions: rows are a probability matrix that reconciles with raw pairs") {
    val rows = graft.ops.EventOps.markovTransitions(spark, sf0001).collect()
    // per-source probabilities sum to 1 (within rounding of 25 cells)
    rows.groupBy(_.getString(0)).foreach { case (from, rs) =>
      val p = rs.map(_.getAs[Double]("prob")).sum
      assert(math.abs(p - 1.0) < 0.003, s"$from probs sum to $p")
    }
    // total transition count = events - one terminal event per user
    val ev = graft.ops.EventOps.events(spark, sf0001)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == expected)
  }

  test("activityStreaks agrees with a hand-rolled streak scan for the top user") {
    val top = graft.ops.EventOps.activityStreaks(spark, sf0001).collect().head
    val days = graft.ops.EventOps.events(spark, sf0001)
      .filter(col("user_id") === top.getLong(0))
      .select(to_date(col("ts"))).distinct().collect()
      .map(_.getDate(0).toLocalDate).sorted
    assert(days.length.toLong == top.getAs[Long]("n_active_days"))
    val runs = days.foldLeft(List.empty[(java.time.LocalDate, Long)]) {
      case ((last, len) :: tail, d) if last.plusDays(1) == d =>
        (d, len + 1) :: tail
      case (acc, d) => (d, 1L) :: acc
    }
    assert(runs.map(_._2).max == top.getAs[Long]("max_streak"))
  }

  test("rollingDauSketch plan carries sketches into the window join, not users") {
    val plan = graft.ops.EventOps.rollingDauSketch(spark, sf0001)
      .queryExecution.executedPlan.toString
    // theta aggregates run in ObjectHashAggregate; no distinct pass anywhere
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(!plan.toLowerCase.contains("distinct"), plan.take(800))
  }

  test("hllMerge: union of daily blobs == direct month sketch, close to exact") {
    val merged = graft.ops.EventOps.hllMerge(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    assert(merged.nonEmpty && merged.forall(_._3 > 0))
    // mergeability is EXACT: register-max union is associative, so the
    // per-day-then-union estimate must equal sketching each month directly
    val direct = graft.ops.EventOps.events(spark, sf001)
      .groupBy(date_trunc("month", col("ts")).cast("date").as("month"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("est"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    merged.foreach { case (m, est, _) =>
      assert(direct(m) == est, s"merge broke at $m: $est vs direct ${direct(m)}")
    }
    // accuracy vs the oracled exact twin: lgK=14 is ~0.8% rse; allow 5%
    val exact = graft.ops.EventOps.monthlyUniques(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(exact.keySet == merged.map(_._1).toSet)
    merged.foreach { case (m, est, _) =>
      val e = exact(m)
      assert(math.abs(est - e).toDouble / e <= 0.05, s"$m: est $est exact $e")
    }
  }

  /** month → sorted value array of the fixture (shared by the two
    * sketch-accuracy specs' true-rank checks). */
  private def monthValues(sf: String): Map[String, Array[Double]] =
    graft.ops.EventOps.events(spark, sf)
      .select(date_trunc("month", col("ts")).cast("date").as("m"), col("value"))
      .collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toArray).toMap

  test("kllMerge: merged daily blobs answer quantiles within KLL rank-error bounds") {
    // KLL compaction is randomized, so (unlike hllMerge's register-max
    // union) merge-of-daily vs direct-month is NOT bit-equal — the sketch
    // contract is the rank-error bound, and that is what this asserts:
    // the TRUE rank of each estimated quantile, measured against the
    // month's exact value set, must sit within the k=200 envelope
    // (±1.65% normalized rank error at 99% conf; 5% allowed for slack).
    val est = graft.ops.EventOps.kllMerge(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(est.nonEmpty && est.forall(_._4 > 0))
    val vals = monthValues(sf001)
    def rankOf(sorted: Array[Double], v: Double): Double =
      sorted.count(_ <= v).toDouble / sorted.length
    assert(est.map(_._1).toSet == vals.keySet)
    est.foreach { case (m, med, p95, _) =>
      val s = vals(m)
      assert(math.abs(rankOf(s, med) - 0.5) <= 0.05,
        s"$m: median est $med has true rank ${rankOf(s, med)}")
      assert(math.abs(rankOf(s, p95) - 0.95) <= 0.05,
        s"$m: p95 est $p95 has true rank ${rankOf(s, p95)}")
    }
    // and the oracled exact twin covers the same months (the pairing its
    // registry row's Twin records)
    val exactMonths = graft.ops.EventOps.monthlyMedian(spark, sf001).collect()
      .map(_.getDate(0).toString).toSet
    assert(exactMonths == est.map(_._1).toSet)
  }

  test("sketchStore: rollup scans ONLY the blob store, estimates match the twins") {
    val q = graft.ops.EventOps.sketchStore(spark, sf001)
    // the literal no-rescan proof: the executed plan's file scans must not
    // touch the events table — every byte read is the persisted blob store
    // (plan inspected as text: AQE wraps the tree, so node collect() sees
    // no children)
    val planText = q.queryExecution.executedPlan.toString
    assert(planText.contains("graft_sketch_store"),
      s"rollup must scan the staged store:\n$planText")
    assert(!planText.contains("events.parquet"),
      s"rollup must not rescan the fact table:\n$planText")
    val rows = q.collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows.nonEmpty && rows.forall(_._5 > 0))
    // row mass check: stored per-day counts must re-sum to the fact table
    val total = graft.ops.EventOps.events(spark, sf001).count()
    assert(rows.map(_._4).sum == total)
    // HLL register-max union is deterministic: the store's estimate must
    // EXACTLY equal the in-plan hllMerge for every month
    val inPlan = graft.ops.EventOps.hllMerge(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    rows.foreach { case (m, est, _, _, _) =>
      assert(inPlan(m) == est, s"$m: store $est vs in-plan ${inPlan(m)}")
    }
    // KLL median rides the rank-error contract vs the exact oracled twin
    val exact = graft.ops.EventOps.monthlyMedian(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1))).toMap
    val vals = monthValues(sf001)
    rows.foreach { case (m, _, med, _, _) =>
      val s = vals(m)
      val rank = s.count(_ <= med).toDouble / s.length
      assert(math.abs(rank - 0.5) <= 0.05, s"$m: store median $med rank $rank")
      assert(exact.contains(m))
    }
    // the store is staged once per JVM — a second call reuses it
    val stagedBefore = graft.ops.SourceOps.stagedKeyCount
    graft.ops.EventOps.sketchStore(spark, sf001).collect()
    assert(graft.ops.SourceOps.stagedKeyCount == stagedBefore)
  }

  test("kll aggregates: 97-group union over 8 partitions stays in rank bounds") {
    // hardens the TypedImperativeAggregate serialize/merge path: partial
    // sketches cross a shuffle per level (build in 8 partitions, union
    // across 97 groups), so blob (de)serialization and sketch merge run
    // many times. v = (id * 7) mod 100003 over 100k ids is near-uniform on
    // [0, 100003): true median ≈ 50001, p90 ≈ 90003. k=200 rank error
    // 1.65% of 100k ranks ≈ ±1650 ranks ≈ ±1650 in value; ±4000 allows
    // the distribution's own lumpiness.
    import graft.functions.KllFunctions._
    import org.apache.spark.sql.functions.col
    val df = spark.range(100000).repartition(8)
      .select((col("id") % 97).as("g"),
        ((col("id") * 7) % 100003).cast("double").as("v"))
    val r = df.groupBy("g").agg(kll_sketch_agg(col("v")).as("sk"))
      .agg(kll_quantile(kll_union_agg(col("sk")), 0.5).as("med"),
        kll_quantile(kll_union_agg(col("sk")), 0.9).as("p90"))
      .head()
    assert(math.abs(r.getDouble(0) - 50001.0) < 4000, s"median ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 90003.0) < 4000, s"p90 ${r.getDouble(1)}")
  }

  test("tdigestMerge: merged daily digests answer quantiles in bounds, max exactly") {
    // t-digest centroid merging is input-order dependent (like KLL's
    // randomized compaction), so the contract is rank error vs the exact
    // twin: ±5% at the median (same slack as kllMerge), ±1% at p99 — the
    // tail is where the t-digest's scale function concentrates resolution,
    // so the TIGHTER tail bound is the point of the sketch. The digest's
    // maximum is tracked exactly, so max_val must EQUAL the true month max.
    val est = graft.ops.EventOps.tdigestMerge(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(est.nonEmpty && est.forall(_._5 > 0))
    val vals = monthValues(sf001)
    def rankOf(sorted: Array[Double], v: Double): Double =
      sorted.count(_ <= v).toDouble / sorted.length
    assert(est.map(_._1).toSet == vals.keySet)
    est.foreach { case (m, p50, p99, mx, _) =>
      val s = vals(m)
      assert(math.abs(rankOf(s, p50) - 0.5) <= 0.05,
        s"$m: p50 est $p50 has true rank ${rankOf(s, p50)}")
      assert(math.abs(rankOf(s, p99) - 0.99) <= 0.01,
        s"$m: p99 est $p99 has true rank ${rankOf(s, p99)}")
      // max_val is round(true max, 4) — compare within rounding radius
      assert(math.abs(mx - s.last) <= 5e-5,
        s"$m: max_val $mx vs true max ${s.last}")
    }
    // and the oracled exact twin covers the same months (the pairing its
    // registry row's Twin records)
    val exactMonths = graft.ops.EventOps.monthlyMedian(spark, sf001).collect()
      .map(_.getDate(0).toString).toSet
    assert(exactMonths == est.map(_._1).toSet)
  }

  test("td aggregates: 97-group union over 8 partitions, tail ranks tighter than bulk") {
    // same serialize/merge hardening shape as the KLL 97-group case, plus
    // the t-digest's own claim: the p999 estimate's rank error must come in
    // far under the bulk envelope
    import graft.functions.TDigestFunctions._
    import org.apache.spark.sql.functions.col
    val df = spark.range(100000).repartition(8)
      .select((col("id") % 97).as("g"),
        ((col("id") * 7) % 100003).cast("double").as("v"))
    val r = df.groupBy("g").agg(td_sketch_agg(col("v")).as("sk"))
      .agg(td_quantile(td_union_agg(col("sk")), 0.5).as("med"),
        td_quantile(td_union_agg(col("sk")), 0.999).as("p999"),
        td_rank(td_union_agg(col("sk")), lit(50001.0)).as("rank_mid"))
      .head()
    assert(math.abs(r.getDouble(0) - 50001.0) < 4000, s"median ${r.getDouble(0)}")
    // true p999 of (id*7) % 100003 over 100k ids ≈ 99903; tail rank error
    // at k=200 is ~1e-4 ⇒ ±~10 ranks ⇒ ±~10 in value; ±200 is generous
    assert(math.abs(r.getDouble(1) - 99903.0) < 200, s"p999 ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 0.5) < 0.04, s"rank_mid ${r.getDouble(2)}")
  }

  test("cmsFreq: merged daily blobs == direct month sketch, bounds hold vs exact twin") {
    import graft.functions.CmsFunctions._
    val est = graft.ops.EventOps.cmsFreq(spark, sf001).collect()
      .map(r => ((r.getDate(0).toString, r.getLong(1)), r.getLong(2))).toMap
    assert(est.nonEmpty)
    // counter addition is fully deterministic: day-blob merge must equal
    // sketching the month directly, bit-for-bit at the estimate level
    val direct = graft.ops.EventOps.events(spark, sf001)
      .groupBy(date_trunc("month", col("ts")).cast("date").as("month"))
      .agg(cms_sketch_agg(col("user_id")).as("mk"))
      .join(broadcast(spark.createDataFrame(
        graft.ops.EventOps.FreqProbeUsers.map(Tuple1(_))).toDF("user_id")))
      .select(col("month"), col("user_id"),
        cms_estimate(col("mk"), col("user_id")).as("e"))
      .collect().map(r => ((r.getDate(0).toString, r.getLong(1)), r.getLong(2))).toMap
    assert(est == direct, s"merge != direct: $est vs $direct")
    // one-sided CMS contract vs the oracled exact twin: est >= exact and
    // est <= exact + eps*N (eps = 2/width; N = month row count)
    val exact = graft.ops.EventOps.userFreq(spark, sf001).collect()
      .map(r => ((r.getDate(0).toString, r.getLong(1)), r.getLong(2))).toMap
    val monthN = graft.ops.EventOps.events(spark, sf001)
      .groupBy(date_trunc("month", col("ts")).cast("date").as("m"))
      .count().collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    val eps = 2.0 / DefaultWidth
    est.foreach { case ((m, u), e) =>
      val t = exact.getOrElse((m, u), 0L)
      assert(e >= t, s"CMS under-counted ($m, $u): $e < $t")
      assert(e <= t + math.ceil(eps * monthN(m) * 4).toLong,
        s"CMS error way past bound at ($m, $u): est $e exact $t N ${monthN(m)}")
    }
    // every probe user appears for every month the fixture has
    assert(est.keySet.map(_._1) == monthN.keySet)
    assert(est.keySet.map(_._2) == graft.ops.EventOps.FreqProbeUsers.toSet)
  }

  test("cms aggregates: string keys, many-group shuffle, and empty groups survive serde") {
    import graft.functions.CmsFunctions._
    // string-keyed sketch over 8 partitions x 50 groups: the serde/merge
    // path runs many times; skewed key "hot" must dominate every estimate
    val df = spark.range(20000).repartition(8)
      .select((col("id") % 50).as("g"),
        when(col("id") % 4 === 0, "hot").otherwise(concat(lit("k"), col("id") % 100))
          .as("key"))
    val blob = df.groupBy("g").agg(cms_sketch_agg(col("key")).as("sk"))
      .agg(cms_union_agg(col("sk")).as("mk"))
    val r = blob.select(
      cms_estimate(col("mk"), lit("hot")).as("hot"),
      cms_estimate(col("mk"), lit("nope")).as("missing")).head()
    assert(r.getLong(0) >= 5000L, s"hot ${r.getLong(0)}")
    // a never-added key can only be hash noise: far below the hot key
    assert(r.getLong(1) <= 2.0 / DefaultWidth * 20000 + 1, s"missing ${r.getLong(1)}")
    // an all-null group yields a valid empty blob that merges cleanly
    val empty = spark.range(10)
      .select(lit(null).cast("string").as("key"))
      .agg(cms_sketch_agg(col("key")).as("sk"))
      .select(cms_estimate(col("sk"), lit("hot"))).head().getLong(0)
    assert(empty == 0L)
  }

  test("asofJoinFrom: latest at-or-before order per event, ties and misses handled") {
    import java.sql.{Date, Timestamp}
    def ts(s: String) = Timestamp.valueOf(s)
    def d(s: String) = Date.valueOf(s)
    val ev = Seq(
      (10L, 1L, ts("2024-03-05 12:00:00")), // after two orders → latest (3/03)
      (11L, 1L, ts("2024-03-01 00:00:00")), // exactly midnight of order date → <= includes it
      (12L, 1L, ts("2024-02-28 23:59:59")), // before every order → dropped
      (13L, 2L, ts("2024-03-10 00:00:00")), // two orders SAME date → max orderkey wins
      (14L, 3L, ts("2024-03-10 00:00:00"))  // user with no orders at all → dropped
    ).toDF("event_id", "user_id", "ts")
    val ord = Seq(
      (1L, 100L, d("2024-03-01"), 10.0),
      (1L, 101L, d("2024-03-03"), 20.0),
      (2L, 200L, d("2024-03-02"), 30.0),
      (2L, 201L, d("2024-03-02"), 40.0)
    ).toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = graft.ops.EventOps.asofJoinFrom(ev, ord).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getDouble(4))).toSet
    assert(got == Set(
      (10L, 101L, "2024-03-03", 20.0),
      (11L, 100L, "2024-03-01", 10.0),
      (13L, 201L, "2024-03-02", 40.0)))
  }

  test("asofNearestFrom: direction choice, per-direction tie-breaks, equidistant prefers back") {
    import java.sql.{Date, Timestamp}
    def ts(s: String) = Timestamp.valueOf(s)
    def d(s: String) = Date.valueOf(s)
    val ev = Seq(
      (10L, 1L, ts("2024-03-02 12:00:00")), // back 1.5d vs fwd 0.5d -> fwd
      (11L, 1L, ts("2024-03-01 00:00:00")), // exact hit -> back, gap 0
      (12L, 1L, ts("2024-02-28 00:00:00")), // only fwd candidates exist
      (13L, 2L, ts("2024-03-03 00:00:00")), // back tie on date -> MAX orderkey
      (14L, 3L, ts("2024-03-03 00:00:00")), // equidistant 2d/2d -> back wins
      (15L, 5L, ts("2024-03-08 00:00:00")), // fwd tie on date -> MIN orderkey
      (16L, 4L, ts("2024-03-03 00:00:00"))  // user with no orders -> dropped
    ).toDF("event_id", "user_id", "ts")
    val ord = Seq(
      (1L, 100L, d("2024-03-01"), 10.0),
      (1L, 101L, d("2024-03-03"), 20.0),
      (2L, 200L, d("2024-03-02"), 30.0),
      (2L, 201L, d("2024-03-02"), 40.0),
      (3L, 300L, d("2024-03-01"), 50.0),
      (3L, 301L, d("2024-03-05"), 60.0),
      (5L, 500L, d("2024-03-10"), 70.0),
      (5L, 501L, d("2024-03-10"), 80.0)
    ).toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = graft.ops.EventOps.asofNearestFrom(ev, ord).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getLong(4))).toSet
    assert(got == Set(
      (10L, 101L, "fwd", 43200L),
      (11L, 100L, "back", 0L),
      (12L, 100L, "fwd", 2L * 86400L),
      (13L, 201L, "back", 86400L),
      (14L, 300L, "back", 2L * 86400L),
      (15L, 500L, "fwd", 2L * 86400L)))
  }

  test("asofJoinFrom: hot key (1 user x 10k events x 10k orders) stays linear, no fanout") {
    // the pre-round-11 equi-join+max_by plan materializes 10^8 intermediate
    // rows on this fixture; the union+ordered-window plan sorts 20k rows.
    // Completing inside the suite's timeout IS the assertion of shape; the
    // value checks pin the carried-forward semantics on a dense tie-scape.
    val n = 10000
    val ev = spark.range(n).select(
      col("id").as("event_id"), lit(7L).as("user_id"),
      to_timestamp(date_add(lit("2020-01-01").cast("date"), col("id").cast("int")))
        .as("ts"))
    val ord = spark.range(n).select(
      lit(7L).as("o_custkey"), col("id").as("o_orderkey"),
      date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("o_orderdate"),
      (col("id") * 1.5).as("o_totalprice"))
    val out = graft.ops.EventOps.asofJoinFrom(ev, ord)
    val rows = out.collect()
    assert(rows.length == n) // every event has an order at exactly its ts (<=)
    val byEvent = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byEvent(0L) == 0L && byEvent(9999L) == 9999L && byEvent(1234L) == 1234L)
  }

  test("cms SQL registration answers point frequencies end to end") {
    import org.apache.spark.sql.SparkSession
    // getOrCreate returns the shared test session (ignoring extensions)
    // unless the active/default slots are cleared first (the
    // VectorExpressionsSpec extension-session pattern)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .config("spark.sql.shuffle.partitions", "2")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      // key 3 occurs exactly 100 times in 0..999 (mod 10); CMS may only
      // over-count, and with 10 distinct keys in width 2048 it shouldn't
      // collide at all — allow a whisker anyway
      val out = s2.sql(
        """SELECT cms_estimate(cms_union_agg(sk), CAST(3 AS BIGINT)) AS e FROM (
          |  SELECT id % 2 AS half, cms_sketch_agg(id % 10) AS sk
          |  FROM range(1000) GROUP BY 1
          |)""".stripMargin).head().getLong(0)
      assert(out >= 100L && out <= 102L, s"est $out")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
