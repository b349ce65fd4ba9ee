package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

class RelationalSpec extends SparkSpec {

  test("quantileNorm: deciles balance within segments and the grid is monotone") {
    import org.apache.spark.sql.functions._
    val rows = Relational.quantileNorm(spark, sf0001).collect()
    // aligned values are a nondecreasing function of the decile
    val grid = rows.map(r => r.getLong(1) -> r.getDouble(4)).distinct.sortBy(_._1)
    assert(grid.map(_._1).toSeq == (1L to Relational.QNormBuckets.toLong))
    assert(grid.sliding(2).forall(p => p(0)._2 <= p(1)._2), s"grid not monotone: ${grid.toSeq}")
    // ntile balance: within a segment, bucket sizes differ by at most 1,
    // and they sum back to the segment's population
    val bySeg = rows.groupBy(_.getString(0))
    val truth = graft.sources.Tables.load(spark, sf0001, "customer")
      .groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySeg.foreach { case (seg, rs) =>
      val ns = rs.map(_.getLong(2))
      assert(ns.max - ns.min <= 1, s"$seg buckets unbalanced: ${ns.toSeq}")
      assert(ns.sum == truth(seg), s"$seg: ${ns.sum} != ${truth(seg)}")
    }
  }

  test("scd2Asof: the stab census re-derives from raw orders per snapshot") {
    import org.apache.spark.sql.functions._
    val got = Relational.scd2Asof(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Relational.Scd2Snapshots.toSet)
    // active at d ⇔ first order ≤ d; the in-effect version number = the
    // count of orders up to d (scd2 intervals tile the timeline)
    val orders = graft.sources.Tables.load(spark, sf0001, "orders")
      .select(col("o_custkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
    Relational.Scd2Snapshots.foreach { snap =>
      val per = orders.filter(col("d") <= snap)
        .groupBy("o_custkey").agg(count(lit(1)).as("v"))
      val n = per.count()
      val avgV = per.agg(round(avg("v"), 4)).head().getDouble(0)
      assert(got(snap) == ((n, avgV)), s"$snap: ${got(snap)} != ($n, $avgV)")
    }
  }

  test("entry (flagship q_groupby_avg) returns one row per return flag") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 3) // A, N, R
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("A", "N", "R"))
    rows.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("topk is a TakeOrderedAndProject, not a global sort") {
    val plan = Relational.topk(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("joinBroadcast plans a BroadcastHashJoin (no fact-side shuffle)") {
    val plan = Relational.joinBroadcast(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("scanProject prunes columns at the parquet scan") {
    val plan = Relational.scanProject(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_returnflag"), "unused column must not be read:\n" + plan)
  }

  test("filterEq pushes the predicate to the scan") {
    val plan = Relational.filterEq(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_returnflag"), plan)
  }

  test("custom TopKPerKey operator reproduces the window-rank answer") {
    val window = Relational.windowRank(spark, sf0001).collect().toSeq
    val custom = Relational.topkCustom(spark, sf0001).collect().toSeq
    assert(custom == window)
    // and it really is the custom exec, not a planner fallback
    val plan = Relational.topkCustom(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("windowRank emits exactly top-3 per segment with ranks 1..3") {
    val rows = Relational.windowRank(spark, sf0001).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
      val bals = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(bals.zip(bals.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bucketCase boundaries: strict < (p=0.3 Medium, p=0.7 High)") {
    val rows = Relational.bucketCase(spark, sf0001)
      .filter(col("p").isin(0.3, 0.7)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, risk) = (r.getDouble(1), r.getString(3))
      assert(if (p == 0.3) risk == "Medium" else risk == "High", s"p=$p risk=$risk")
    }
  }

  test("idFallback: dense 1..N ordinals in c_name order, no global Window") {
    val df = Relational.idFallback(spark, sf0001)
    // two-phase ordinal synthesis must not plan a single-partition Window
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "global Window found in idFallback plan")
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    val names = rows.map(_.getString(1))
    assert(names.sameElements(names.sorted))
  }

  test("joinOuter preserves unmatched keys from BOTH sides") {
    val rows = Relational.joinOuter(spark, sf0001).collect()
    // left-only: customers with a big order but acctbal <= 5000 → null acctbal
    val leftOnly = rows.filter(_.isNullAt(3))
    // right-only: rich customers with no big order → coalesced zero counts
    val rightOnly = rows.filter(r => !r.isNullAt(3) && r.getLong(1) == 0L)
    assert(leftOnly.nonEmpty, "expected left-only rows (null acctbal)")
    assert(rightOnly.nonEmpty, "expected right-only rows (zero big orders)")
    assert(rows.forall(!_.isNullAt(0)), "custkey must never be null after coalesce")
  }

  test("unionTagged: all-count >= distinct-count, distinct has no duplicates") {
    val rows = Relational.unionTagged(spark, sf0001).collect()
    val (all, dist) = rows.partition(_.getString(0) == "union_all")
    assert(all.length >= dist.length)
    val distKeys = dist.map(_.getLong(1))
    assert(distKeys.distinct.length == distKeys.length, "union_distinct must dedup")
    assert(all.map(_.getLong(1)).toSet == distKeys.toSet)
  }

  test("unpivotMeans melts 3 metric columns into rows per group") {
    val rows = Relational.unpivotMeans(spark, sf0001).collect()
    val byGroup = rows.groupBy(_.getString(0))
    byGroup.foreach { case (_, rs) =>
      assert(rs.map(_.getString(1)).sorted.toSeq ==
        Seq("avg_discount", "avg_price", "avg_qty"))
    }
  }

  test("upsert: updates override, inserts append, untouched rows survive") {
    val rows = Relational.upsert(spark, sf0001).collect()
    val byKey = rows.map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(byKey.size == rows.length, "custkey must be unique after merge")
    val inserted = rows.filter(_.getLong(0) > 10000000L)
    assert(inserted.nonEmpty && inserted.forall(r => r.getDouble(1) == 0.0 && r.getString(2) == "new"))
    rows.filter(_.getLong(0) <= 10000000L).foreach { r =>
      val expectedSrc = if (r.getLong(0) % 5 == 0) "new" else "base"
      assert(r.getString(2) == expectedSrc, s"custkey=${r.getLong(0)}")
    }
  }

  test("dateFuncs: arithmetic consistency (due_date = date + 30, month bounds)") {
    val rows = Relational.dateFuncs(spark, sf0001).limit(200).collect()
    assert(rows.nonEmpty)
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    rows.foreach { r =>
      val start = java.time.LocalDate.parse(r.getString(3), fmt)
      val due = java.time.LocalDate.parse(r.getString(5), fmt)
      val end = java.time.LocalDate.parse(r.getString(6), fmt)
      assert(start.getDayOfMonth == 1)
      assert(end == start.plusMonths(1).minusDays(1))
      assert(start.getYear == r.getLong(1) && start.getMonthValue == r.getLong(2))
      val date = java.time.LocalDate.of(1995, 1, 1).plusDays(r.getLong(4))
      assert(due == date.plusDays(30), s"due $due != $date + 30d")
    }
  }

  test("brandRevenue 4-decimal revenue equals the exact decimal sum (order-independent)") {
    // Each term price*(1-disc) has exactly 4 decimal digits, so the TRUE
    // group sum sits on the 4-decimal grid and rounding the double sum to 4
    // is stable under any summation order. Replaying the aggregation with
    // exact BigDecimal arithmetic on the driver and matching every group
    // proves it (the old 2-decimal round sat on the half-cent boundary,
    // where partial-agg order could flip the cent vs the oracle).
    import graft.sources.Tables
    val got = Relational.brandRevenue(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    def longAt(r: org.apache.spark.sql.Row, i: Int) = r.getAs[Number](i).longValue
    val brand = Tables.load(spark, sf0001, "part").select("p_partkey", "p_brand")
      .collect().map(r => longAt(r, 0) -> r.getString(1)).toMap
    val suppNat = Tables.load(spark, sf0001, "supplier").select("s_suppkey", "s_nationkey")
      .collect().map(r => longAt(r, 0) -> longAt(r, 1)).toMap
    val natName = Tables.load(spark, sf0001, "nation").select("n_nationkey", "n_name")
      .collect().map(r => longAt(r, 0) -> r.getString(1)).toMap
    val exact = scala.collection.mutable.Map[(String, String), (BigDecimal, Long)]()
    Tables.load(spark, sf0001, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .collect().foreach { r =>
        val key = (brand(longAt(r, 0)), natName(suppNat(longAt(r, 1))))
        // recover the exact 2-decimal values the doubles encode
        val price = BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        val disc = BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        val (s, n) = exact.getOrElse(key, (BigDecimal(0), 0L))
        exact(key) = (s + price * (1 - disc), n + 1)
      }
    assert(got.keySet == exact.keySet)
    exact.foreach { case (key, (s, n)) =>
      val (rev, cnt) = got(key)
      assert(cnt == n, s"$key count")
      assert(rev == s.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"$key: query $rev != exact $s")
    }
  }

  test("scd2: versions contiguous, exactly one current row per key, intervals chain") {
    val rows = graft.ops.Relational.scd2(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(5)))
    rows.groupBy(_._1).foreach { case (key, hist) =>
      val sorted = hist.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to hist.length).toSeq, s"key $key versions")
      assert(hist.count(_._5) == 1, s"key $key current-row count")
      assert(sorted.last._5 && sorted.last._4 == "9999-12-31", s"key $key horizon")
      // each version's valid_to is the next version's valid_from
      sorted.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(0)._4 == w(1)._3, s"key $key interval chain")
      }
    }
  }

  test("snapshotDiff: applying the feed to the old snapshot yields the new one") {
    val old = graft.sources.Tables.load(spark, sf0001, "customer")
      .selectExpr("c_custkey AS key", "round(c_acctbal, 2) AS bal")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val feed = graft.ops.Relational.snapshotDiff(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // replay: start from old, apply I/U/D
    val replayed = scala.collection.mutable.Map(old.toSeq: _*)
    feed.foreach {
      case (k, "I", b) => assert(!replayed.contains(k)); replayed(k) = b
      case (k, "U", b) => assert(replayed.contains(k)); replayed(k) = b
      case (k, "D", _) => assert(replayed.remove(k).isDefined)
      case other => fail(s"unexpected op $other")
    }
    // reconstruct the expected new snapshot independently
    val expected = old.collect {
      case (k, b) if k % 13 != 0 => k -> (if (k % 5 == 0) math.round((b + 100.0) * 100) / 100.0 else b)
    } ++ old.collect { case (k, _) if k % 7 == 0 => (k + 20000000L) -> 1.0 }
    assert(replayed.toMap == expected.toMap)
    // minimality: no no-op rows in the feed
    feed.foreach { case (k, op, b) =>
      if (op == "U") assert(old(k) != b, s"no-op update for $k")
    }
  }

  test("grouping sets: subtotal and grand-total rows reconcile with the detail rows") {
    val rows = graft.ops.Relational.groupingSetsAgg(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val detail = rows.filter(r => r._3 == 0 && r._4 == 0)
    val byFlag = rows.filter(r => r._3 == 0 && r._4 == 1)
    val grand = rows.filter(r => r._3 == 1 && r._4 == 1)
    assert(grand.length == 1 && grand.head._1 == "ALL" && grand.head._2 == "ALL")
    assert(grand.head._5 == detail.map(_._5).sum)
    byFlag.foreach { case (rf, ls, _, _, n) =>
      assert(ls == "ALL")
      assert(n == detail.filter(_._1 == rf).map(_._5).sum, s"subtotal $rf")
    }
    // no cube-only rows: (ALL, linestatus) must not appear
    assert(!rows.exists(r => r._3 == 1 && r._4 == 0))
  }

  test("brandRevenue's unhinted dims still auto-broadcast at fixture scale") {
    val plan = graft.ops.Relational.brandRevenue(spark, sf0001)
      .queryExecution.executedPlan.toString
    // part/supplier carry no hint (they scale with the data); Spark's
    // autoBroadcastJoinThreshold must still pick broadcast for them here
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("winsorize: each tail clips ~5%, winsorized mean stays inside the band") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Relational.winsorize(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n").toDouble
      val lo = r.getAs[Long]("n_clipped_lo").toDouble
      val hi = r.getAs[Long]("n_clipped_hi").toDouble
      // strictly-outside-[p05,p95] counts: at most the tail mass, near it
      // for a continuous-ish value column
      assert(lo <= 0.055 * n + 1 && hi <= 0.055 * n + 1, s"clip counts $lo/$hi of $n")
      assert(lo >= 0.03 * n && hi >= 0.03 * n, s"clip counts $lo/$hi of $n")
      // clipping pulls tails inward: winsorized mean within the raw band
      assert(math.abs(r.getAs[Double]("mean_winsor") - r.getAs[Double]("mean_raw"))
        < 0.2 * r.getAs[Double]("mean_raw"))
    }
  }

  test("corrMatrix: r in [-1,1], price~quantity strongly positive, one row per pair") {
    val rows = graft.ops.Relational.corrMatrix(spark, sf0001).collect()
    val k = graft.ops.Relational.CorrCols.size
    assert(rows.length == k * (k - 1) / 2)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("r")) <= 1.0))
    // every unordered pair appears exactly once
    val seen = rows.map(r => Set(r.getAs[String]("col_x"),
      r.getAs[String]("col_y"))).toSet
    assert(seen.size == rows.length)
    // one coefficient recomputed from raw moments must agree
    val pq = rows.find(r => r.getAs[String]("col_x") == "l_quantity" &&
      r.getAs[String]("col_y") == "l_extendedprice").get
    val m = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .select(avg("l_quantity").as("mx"), avg("l_extendedprice").as("my"),
        avg(col("l_quantity") * col("l_extendedprice")).as("mxy"),
        stddev_pop("l_quantity").as("sx"),
        stddev_pop("l_extendedprice").as("sy"))
      .collect().head
    val manual = (m.getAs[Double]("mxy") -
      m.getAs[Double]("mx") * m.getAs[Double]("my")) /
      (m.getAs[Double]("sx") * m.getAs[Double]("sy"))
    assert(math.abs(pq.getAs[Double]("r") - manual) < 1e-3,
      s"reported ${pq.getAs[Double]("r")} vs manual $manual")
  }

  test("madOutliers: MAD never negative, outliers beyond the cut when recomputed") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Relational.madOutliers(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byFlag = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Long]("n") == byFlag(r.getAs[String]("l_returnflag")))
      // a 3-sigma-equivalent cut keeps outliers rare (< 5% of the group)
      assert(r.getAs[Long]("n_outliers") < 0.05 * r.getAs[Long]("n"))
    }
  }

  test("rfm: segment census covers every customer, scores in 1..4") {
    val rows = graft.ops.Relational.rfm(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nCust = graft.sources.Tables.load(spark, sf0001, "orders")
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCust)
    rows.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val s = r.getAs[Int](c); assert(s >= 1 && s <= 4, s"$c=$s")
      }
      assert(r.getAs[Double]("avg_monetary") > 0.0)
    }
    // quartile scoring: no single bucket of any axis may hold everyone
    val byM = rows.groupBy(_.getAs[Int]("m_score"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("n_customers")).sum }
    assert(byM.size > 1 && byM.max < nCust)
  }

  test("ksDrift: D in [0,1] and matches a driver-side recompute") {
    val r = graft.ops.Relational.ksDrift(spark, sf0001).collect().head
    val d = r.getAs[Double]("d_stat")
    assert(d >= 0.0 && d <= 1.0)
    // recompute D from the two sorted samples on the driver
    val pairs = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_returnflag").isin("R", "A"))
      .select("l_extendedprice", "l_returnflag").collect()
      .map(row => (row.getDouble(0), row.getString(1)))
    val a = pairs.filter(_._2 == "R").map(_._1).sorted
    val b = pairs.filter(_._2 == "A").map(_._1).sorted
    assert(a.length == r.getAs[Long]("n_a") && b.length == r.getAs[Long]("n_b"))
    val grid = (a ++ b).distinct.sorted
    def cdf(s: Array[Double], x: Double) =
      s.count(_ <= x).toDouble / s.length
    val manual = grid.map(x => math.abs(cdf(a, x) - cdf(b, x))).max
    assert(math.abs(d - manual) < 1e-6, s"query $d vs manual $manual")
    // sketch twin: same populations reduced to two KLL blobs; D-hat must
    // sit within the two sketches' combined rank-error envelope (±1.65%
    // each at k=200; 0.05 allows slack + grid resolution) of the exact D
    val sk = graft.ops.Relational.ksDriftSketch(spark, sf0001).collect().head
    assert(sk.getAs[Long]("n_a") == a.length && sk.getAs[Long]("n_b") == b.length)
    assert(sk.getAs[Boolean]("both_present"))
    val dEst = sk.getAs[Double]("d_est")
    assert(dEst >= 0.0 && dEst <= 1.0)
    assert(math.abs(dEst - manual) <= 0.05, s"sketch $dEst vs exact $manual")
  }

  test("gini: in [0,1), zero when flat, hand-checked on a skewed frame") {
    import spark.implicits._
    val r = graft.ops.Relational.gini(spark, sf0001).collect().head
    val g = r.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0)
    // everyone equal → exactly 0
    val flat = Seq((1L, 10.0), (2L, 10.0), (3L, 10.0), (4L, 10.0))
      .toDF("key", "rev")
    val gFlat = graft.ops.Relational.giniFrom(flat)
      .collect().head.getAs[Double]("gini")
    assert(math.abs(gFlat) < 1e-9)
    // (1,1,1,7): G = 2*(1+2+3+28)/(4*10) - 5/4 = 0.45
    val skew = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 7.0))
      .toDF("key", "rev")
    val gSkew = graft.ops.Relational.giniFrom(skew)
      .collect().head.getAs[Double]("gini")
    assert(math.abs(gSkew - 0.45) < 1e-9, s"got $gSkew")
  }

  test("chi2: non-negative, dof from observed domains, n reconciles") {
    val r = graft.ops.Relational.chi2(spark, sf0001).collect().head
    assert(r.getAs[Double]("chi2") >= 0.0)
    val nSeg = graft.sources.Tables.load(spark, sf0001, "customer")
      .select("c_mktsegment").distinct().count()
    val nPrio = graft.sources.Tables.load(spark, sf0001, "orders")
      .select("o_orderpriority").distinct().count()
    assert(r.getAs[Long]("dof") == (nSeg - 1) * (nPrio - 1))
    assert(r.getAs[Long]("n") ==
      graft.sources.Tables.load(spark, sf0001, "orders").count())
  }

  test("psi: non-negative (every term has matching signs), populations reconcile") {
    val r = graft.ops.Relational.psi(spark, sf0001).collect().head
    assert(r.getAs[Double]("psi") >= 0.0)
    val n = graft.sources.Tables.load(spark, sf0001, "lineitem").count()
    assert(r.getAs[Long]("n_early") + r.getAs[Long]("n_late") == n)
    assert(r.getAs[Long]("n_bins_used") > 0)
  }

  test("autocorr: |acf1| <= 1 and pairs = days - 1") {
    import org.apache.spark.sql.functions._
    val r = graft.ops.Relational.autocorr(spark, sf0001).collect().head
    assert(math.abs(r.getAs[Double]("acf1")) <= 1.0)
    val days = graft.sources.Tables.load(spark, sf0001, "orders")
      .select(col("o_orderdate").cast("date")).distinct().count()
    assert(r.getAs[Long]("n_pairs") == days - 1)
  }

  test("bomRollup: levels double down the binary tree, closed-form depth agrees") {
    val rows = graft.ops.Relational.bomRollup(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val n = graft.sources.Tables.load(spark, sf0001, "customer").count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == n, "every node labeled once")
    // parent = k div 2 means depth(k) = floor(log2(k)) + 2 for k > 0:
    // level d holds the keys in [2^(d-2), 2^(d-1)) clipped to [0, n)
    rows.foreach { r =>
      val d = r.getAs[Long]("depth")
      val expected =
        if (d == 1L) 1L
        else {
          val lo = 1L << (d - 2); val hi = 1L << (d - 1)
          math.max(0L, math.min(hi, n) - lo)
        }
      assert(r.getAs[Long]("n_nodes") == expected,
        s"depth $d: ${r.getAs[Long]("n_nodes")} vs $expected")
    }
  }

  test("mvRefresh: incremental delta-merge equals full recompute of the new snapshot") {
    import org.apache.spark.sql.functions._
    val old = graft.sources.Tables.load(spark, sf0001, "customer")
      .select(col("c_custkey").as("key"), round(col("c_acctbal"), 2).as("bal"))
    // direct recompute of the new snapshot (the fixture rules, re-derived)
    val neu = old.filter(col("key") % 13 =!= 0)
      .select(col("key"),
        when(col("key") % 5 === 0, round(col("bal") + 100.0, 2))
          .otherwise(col("bal")).as("bal"))
      .union(old.filter(col("key") % 7 === 0)
        .select((col("key") + 20000000L).as("key"), lit(1.0).as("bal")))
    val direct = neu.groupBy((col("key") % 20).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("bal"), 2).as("sum_bal"))
      .orderBy("bucket").collect()
    val incremental = graft.ops.Relational.mvRefresh(spark, sf0001).collect()
    assert(incremental.toSeq == direct.toSeq)
  }

  test("columnProfile: one scan, one Expand; key metrics reconcile") {
    val df = graft.ops.Relational.columnProfile(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // all 5 columns' distincts share ONE Expand over ONE scan — not 5 scans
    assert("(?s)Scan parquet".r.findAllIn(plan).size == 1, plan.take(800))
    assert("(?s)Expand".r.findAllIn(plan).size == 1, plan.take(800))
    val rows = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toMap
    assert(rows.keySet == graft.ops.Relational.ProfileColumns.toSet)
    val nCust = graft.sources.Tables.load(spark, sf0001, "customer").count()
    val (nulls, nd, minV, _) = rows("c_custkey")
    assert(nulls == 0L && nd == nCust) // the key is unique and non-null
    assert(minV.toLong >= 0L)
    assert(rows("c_mktsegment")._2 == 5L) // 5 market segments
  }

  test("topNamesListAgg concatenates exactly the top-3 by balance, in order") {
    val got = graft.ops.Relational.topNamesListAgg(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val want = graft.sources.Tables.load(spark, sf0001, "customer")
      .select("c_mktsegment", "c_name", "c_acctbal", "c_custkey").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (seg, rows) =>
        seg -> rows.sortBy(t => (-t._3, t._4)).take(3).map(_._2).mkString(",")
      }
    assert(got == want)
  }

  test("rankPack: distribution ranks agree with a per-segment recompute") {
    val rows = graft.ops.Relational.rankPack(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val byBal = graft.sources.Tables.load(spark, sf0001, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._2)
    rows.groupBy(_._2).foreach { case (seg, rs) =>
      val bals = byBal(seg).map(t => t._1 -> t._3).toMap
      val n = bals.size
      assert(rs.length == n)
      rs.foreach { case (ck, _, drank, prank, cdist) =>
        val v = bals(ck)
        val higher = bals.values.count(_ > v)
        val geq = bals.values.count(_ >= v)
        // rank = higher+1; percent_rank = (rank-1)/(n-1); cume_dist = geq/n
        assert(prank == math.rint(higher.toDouble / (n - 1) * 10000) / 10000)
        assert(cdist == math.rint(geq.toDouble / n * 10000) / 10000)
        val distinctHigher = bals.values.filter(_ > v).toSet.size
        assert(drank == distinctHigher + 1L)
      }
    }
  }

  test("lateralTopN decorrelates to one join and equals the window rewrite") {
    val lat = graft.ops.Relational.lateralTopN(spark, sf0001)
    val plan = lat.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"lateral should decorrelate to an equi-join, got:\n$plan")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val rewrite = graft.sources.Tables.load(spark, sf0001, "orders")
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .join(graft.sources.Tables.load(spark, sf0001, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select("c_custkey", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    assert(lat.collect().toSeq == rewrite.collect().toSeq)
  }

  test("tryArithmetic: NULL contract reconciles with the poisoned-row counts") {
    val li = graft.sources.Tables.load(spark, sf0001, "lineitem")
    val r = graft.ops.Relational.tryArithmetic(spark, sf0001).collect().head
    val n = r.getAs[Long]("n")
    assert(n == li.count())
    // division survives exactly the quantity≠1 rows
    assert(r.getAs[Long]("n_div_ok") ==
      n - li.filter(col("l_quantity") === 1.0).count())
    // the ~0.1% poisoned rows (key ≡ 0 mod 1000) overflow; the rest survive
    assert(r.getAs[Long]("n_add_ok") ==
      li.filter(col("l_orderkey") % 1000 =!= 0L).count())
    assert(!r.getAs[Double]("avg_ratio").isNaN)
  }

  test("aqpSample: estimates scale the sample, hash draw is reproducible, error sane") {
    val a = Relational.aqpSample(spark, sf001).collect()
    val b = Relational.aqpSample(spark, sf001).collect()
    assert(a.toSeq == b.toSeq) // md5 draw — no RNG, any engine reproduces it
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getAs[Long]("est_rows") == r.getAs[Long]("n_sample") * Relational.AqpBuckets)
      val est = r.getAs[Long]("est_rows").toDouble
      val exact = r.getAs[Long]("exact_rows").toDouble
      // a uniform hash at n≈20k/flag keeps the estimate well inside ±50%
      assert(math.abs(est - exact) / exact < 0.5, s"est $est vs exact $exact")
      assert(r.getAs[Double]("rows_ci95") > 0.0)
    }
  }

  test("forecastBacktest: both models score the same eval window, errors positive") {
    val rows = Relational.forecastBacktest(spark, sf001).collect()
    assert(rows.map(_.getAs[String]("model")).sorted.toSeq == Seq("naive1", "seasonal7"))
    val n = rows.map(_.getAs[Long]("n_days")).distinct
    assert(n.length == 1 && n.head > 0) // shared eval window
    rows.foreach { r =>
      assert(r.getAs[Double]("mape") > 0.0)
      val s = r.getAs[Double]("smape")
      assert(s > 0.0 && s <= 2.0) // sMAPE is bounded by construction
    }
  }

  test("mutualInfo: nonnegative, entropies bounded, nmi in unit range") {
    val r = Relational.mutualInfo(spark, sf001).collect().head
    val mi = r.getAs[Double]("mi")
    val hx = r.getAs[Double]("h_segment")
    val hy = r.getAs[Double]("h_priority")
    assert(mi >= 0.0) // finite-sample MI is a KL divergence
    assert(mi <= math.min(hx, hy) + 1e-9)
    assert(hx > 0.0 && hx <= math.log(5.0) / math.log(2.0) + 1e-9) // ≤ log2(5 segments)
    assert(hy > 0.0 && hy <= math.log(5.0) / math.log(2.0) + 1e-9)
    val nmi = r.getAs[Double]("nmi")
    assert(nmi >= 0.0 && nmi <= 1.0)
  }
}
