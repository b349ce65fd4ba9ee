package graft

import graft.ops.GraphOps

class GraphOpsSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {

  // graph operators persist edge frames and rely on the caller to clear
  // them (Bench/Verify clearCache per query); mirror that here so six
  // tests' worth of cached edge lists don't pressure the shared heap
  override def afterEach(): Unit = {
    spark.catalog.clearCache()
    super.afterEach()
  }

  test("degree-oriented triangle count equals the key-oriented formulation") {
    val metrics = GraphOps.graphMetrics(spark, sf0001).collect().head
    val oriented = metrics.getLong(2)
    val keyed = GraphOps.trianglesKeyOriented(spark, sf0001)
    assert(oriented == keyed, s"degree-oriented $oriented != key-oriented $keyed")
    assert(oriented > 0) // fixture graph has triangles
  }

  test("graph metrics are internally consistent") {
    val m = GraphOps.graphMetrics(spark, sf0001).collect().head
    val (nodes, edges, maxDeg, avgDeg) =
      (m.getLong(0), m.getLong(1), m.getLong(3), m.getDouble(4))
    // handshake: sum of degrees = 2 * edges, so avg = 2e/n
    assert(math.abs(avgDeg - 2.0 * edges / nodes) < 1e-3)
    assert(maxDeg < nodes) // simple graph: no self-loops or multi-edges
  }

  test("triangle counters agree on a hand-built graph with a hub") {
    import spark.implicits._
    // K4 on parts 1-4 via one 4-item order, plus a hub part 99 sharing an
    // order with each of 10 otherwise-isolated parts (wedges but no new
    // triangles): K4 has exactly 4 triangles
    val k4 = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L))
    val hub = (0 until 10).flatMap(i => Seq((200L + i, 99L), (200L + i, 50L + i)))
    val li = (k4 ++ hub).toDF("l_orderkey", "l_partkey")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_graph_fixture"
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val m = GraphOps.graphMetrics(spark, dir).collect().head
    assert(m.getLong(2) == 4L, s"expected 4 triangles, got ${m.getLong(2)}")
    assert(GraphOps.trianglesKeyOriented(spark, dir) == 4L)
    assert(m.getLong(3) == 10L) // the hub's degree
  }

  test("pageRank matches a hand-run power iteration on a star graph") {
    import spark.implicits._
    // star: hub 1 co-purchased with leaves 2, 3, 4 via three 2-item orders
    val li = Seq((100L, 1L), (100L, 2L), (200L, 1L), (200L, 3L), (300L, 1L), (300L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_star_fixture"
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.ops.GraphOps.pageRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference power iteration: hub degree 3, leaves degree 1
    var (h, l) = (0.25, 0.25)
    (1 to 10).foreach { _ =>
      val nh = 0.15 / 4 + 0.85 * 3 * l   // hub receives all three leaves
      val nl = 0.15 / 4 + 0.85 * h / 3   // each leaf receives a third of the hub
      h = nh; l = nl
    }
    def scaled(x: Double) = math.round(x * 4 * 1e4) / 1e4
    assert(got(1L) == scaled(h), s"hub ${got(1L)} != ${scaled(h)}")
    Seq(2L, 3L, 4L).foreach(k => assert(got(k) == scaled(l), s"leaf $k"))
  }

  test("pageRank conserves rank mass on the fixture graph") {
    val m = graft.ops.GraphOps.graphMetrics(spark, sf0001).collect().head
    val nodes = m.getLong(0)
    val ranks = graft.ops.GraphOps.pageRank(spark, sf0001).collect()
    // top-20 of a mean-1 scaled distribution: all positive, none below mean/10
    assert(ranks.length == 20)
    ranks.foreach(r => assert(r.getDouble(1) > 0.1))
    // descending order with deterministic tie-break
    ranks.sliding(2).foreach { w =>
      assert(w(0).getDouble(1) > w(1).getDouble(1) ||
        (w(0).getDouble(1) == w(1).getDouble(1) && w(0).getLong(0) < w(1).getLong(0)))
    }
    assert(nodes > 20)
  }

  test("marketBasket is deterministically ordered and bounded") {
    val rows = GraphOps.marketBasket(spark, sf0001).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
    assert(rows.length == 20)
    // (n desc, u, v) total order
    rows.sliding(2).foreach { w =>
      val (a, b) = (w(0), w(1))
      assert(a._1 > b._1 || (a._1 == b._1 && (a._2 < b._2 || (a._2 == b._2 && a._3 < b._3))))
    }
  }

  test("graphMetrics and pageRank: forced shuffle paths equal the broadcast paths") {
    import graft.ops.GraphOps
    val metricsB = GraphOps.graphMetrics(spark, sf0001).collect().toSeq
    val ranksB = GraphOps.pageRank(spark, sf0001).collect().toSeq
    spark.conf.set(GraphOps.GraphBroadcastMaxEdgesKey, "1") // force shuffle
    try {
      assert(GraphOps.graphMetrics(spark, sf0001).collect().toSeq == metricsB)
      assert(GraphOps.pageRank(spark, sf0001).collect().toSeq == ranksB)
    } finally spark.conf.unset(GraphOps.GraphBroadcastMaxEdgesKey)
  }

  test("kHop level counts equal an in-memory BFS over the same graph") {
    import org.apache.spark.sql.functions._
    val got = GraphOps.kHop(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rebuild the co-purchase graph and BFS it on the driver (sf0.001 is
    // thousands of edges — cheap, and a fully independent implementation)
    val li = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values.map(_.map(_._2).distinct)
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    for (parts <- byOrder; a <- parts; b <- parts if a != b)
      adj(a) = adj(a) + b
    val seeds = graft.sources.Tables.load(spark, sf0001, "part")
      .filter(col("p_partkey") % GraphOps.KHopSeedMod === 0)
      .collect().map(_.getLong(0)).toSet
    assert(seeds.nonEmpty)
    var visited = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (lvl <- 1 to GraphOps.KHopDepth) {
      val next = frontier.flatMap(adj).diff(visited.keySet)
      visited = visited ++ next.map(_ -> lvl.toLong)
      frontier = next
    }
    val want = visited.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got == want.filter(_._2 > 0), s"got $got want $want")
    assert(got(0L) == seeds.size)
  }

  test("alsoBought ranks by Jaccard and reconciles with raw order sets") {
    val rows = GraphOps.alsoBought(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    // per-target: ranks are 1..n, n <= K, jac non-increasing
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.length <= GraphOps.AlsoBoughtK)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._5 >= b._5; case _ => true })
    }
    // reconcile one row against order sets computed independently
    val li = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ordersOf = li.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val (p, _, q, cooc, jac) = rows.head
    val (op, oq) = (ordersOf(p), ordersOf(q))
    val inter = op.intersect(oq).size
    assert(cooc == inter.toLong)
    assert(jac == math.rint(inter.toDouble / (op.size + oq.size - inter) * 10000) / 10000)
  }

  test("ssspFrom matches hand-computed distances on a planted weighted graph") {
    import spark.implicits._
    // 1 --2--> 2 --1--> 3 --1--> 4 ; 1 --5--> 3 ; 5 isolated seedless node
    // shortest: d(1)=0, d(2)=2, d(3)=3 (via 2, not the direct 5), d(4)=4
    val dir = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 3L, 5L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val got = GraphOps.ssspFrom(spark, dir, seeds, hops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // horizon contract: with hops=1 only direct edges are reachable
    val h1 = GraphOps.ssspFrom(spark, dir, seeds, hops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == Map(1L -> 0L, 2L -> 2L, 3L -> 5L))
  }

  test("sssp census: seeds at distance zero, distances bounded by hops x max weight") {
    val rows = GraphOps.sssp(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byDist = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nSeeds = graft.sources.Tables.load(spark, sf0001, "part")
      .filter(org.apache.spark.sql.functions.col("p_partkey") % GraphOps.KHopSeedMod === 0)
      .count()
    // every seed sits at dist 0 (no negative weights, so nothing beats 0)
    assert(byDist.getOrElse(0L, 0L) == nSeeds)
    assert(byDist.keys.forall(d => d >= 0L && d <= GraphOps.SsspHops * 5L))
  }

  test("communities: two disjoint cliques each collapse to their min-key label") {
    import spark.implicits._
    // K4 on parts 1-4 (one 4-item order) + K3 on parts 10-12: round 1 every
    // node's vote set is all-distinct labels, so the min-label tie-break
    // hands each clique its smallest key; later rounds are stable
    val li = (Seq(1L, 2L, 3L, 4L).map((100L, _)) ++ Seq(10L, 11L, 12L).map((200L, _)))
      .toDF("l_orderkey", "l_partkey")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lpa_cliques"
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = GraphOps.communities(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 4L, 10L -> 3L), s"got $got")
  }

  test("modularity: two disjoint cliques score the hand-computed Q") {
    import spark.implicits._
    // same planted graph as the communities spec: K4 ∪ K3, m = 9.
    // LPA → {1,2,3,4} and {10,11,12}; e_c = 6, 3 (all intra); d_c = 12, 6.
    // Q = (6/9 − (12/18)²) + (3/9 − (6/18)²) = 2/9 + 2/9 = 0.444444
    val li = (Seq(1L, 2L, 3L, 4L).map((100L, _)) ++ Seq(10L, 11L, 12L).map((200L, _)))
      .toDF("l_orderkey", "l_partkey")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lpa_cliques"
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = GraphOps.modularity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      (1L, 4L, 6L, 12L, 0.222222, 0.444444),
      (10L, 3L, 3L, 6L, 0.222222, 0.444444)), s"got $got")
  }

  test("kcore: peel census matches the hand trace and reaches its fixpoint") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4 on 3 + isolated pair {5,6}:
    // N=6, E=5 ⇒ k = 2·5/6 + 1 = 2. Peel 1 drops the degree-1 nodes
    // {4,5,6} → the triangle (3 nodes, 3 edges); every later round is the
    // fixpoint — consecutive equal rows prove peeling idempotence
    val li = Seq((100L, 1L), (100L, 2L), (100L, 3L), (200L, 3L), (200L, 4L),
      (300L, 5L), (300L, 6L)).toDF("l_orderkey", "l_partkey")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_kcore_fixture"
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = GraphOps.kcore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = (0L, 6L, 5L) +: (1L to GraphOps.KCoreRounds.toLong).map(r => (r, 3L, 3L))
    assert(got == want, s"got $got")
  }

  test("assortativity: a star is perfectly disassortative (r = -1)") {
    import spark.implicits._
    // hub 1 — leaves 2,3,4: every directed edge instance pairs degree 3
    // with degree 1, so the degree correlation is exactly -1
    val li = Seq((100L, 1L), (100L, 2L), (200L, 1L), (200L, 3L),
      (300L, 1L), (300L, 4L)).toDF("l_orderkey", "l_partkey")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_assort_fixture"
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = GraphOps.assortativity(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((4L, 3L, -1.0)), s"got $r")
  }

  test("linkPredict: Adamic-Adar hand trace on the square, hub center capped out") {
    import spark.implicits._
    // square 1-2-3-4-1 plus hub 100 adjacent to 1, 3 and 66 pendants:
    // deg(100) = 68 > cap ⇒ it centers NO wedge, so (1,3) keeps its
    // two-center score 2/ln2 = 2.8854 (an uncapped run would add 1/ln68);
    // nodes 1 and 3 gain degree 3, so their centered pairs score 1/ln3 each
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 100L), (3L, 100L))
    val hub = (0 until 66).map(i => (100L, 200L + i))
    val li = (square ++ hub).zipWithIndex.flatMap { case ((u, v), o) =>
      Seq((o.toLong, u), (o.toLong, v))
    }.toDF("l_orderkey", "l_partkey")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_linkpred_fixture"
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = GraphOps.linkPredict(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = Seq(
      (1L, 3L, 2L, 2.8854),  // centers 2 and 4 (deg 2): 2/ln2; hub capped out
      (2L, 4L, 2L, 1.8205),  // centers 1 and 3 (deg 3): 2/ln3
      (2L, 100L, 2L, 1.8205), (4L, 100L, 2L, 1.8205))
    assert(got == want, s"got $got")
  }

  test("communities: the self-vote damps the 4-cycle 2-coloring oscillation") {
    import spark.implicits._
    // C4: 1-2, 2-3, 3-4, 4-1. Without the self-vote synchronous LPA
    // oscillates between the two bipartition colorings forever; with it the
    // min label wins a strict majority by round 3 and the cycle is ONE
    // community of 4 at the fixed round count
    val li = Seq((100L, 1L), (100L, 2L), (200L, 2L), (200L, 3L),
      (300L, 3L), (300L, 4L), (400L, 4L), (400L, 1L))
      .toDF("l_orderkey", "l_partkey")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lpa_cycle"
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = GraphOps.communities(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 4L), s"got $got")
  }

  test("graph loops: results are identical under perturbed partitioning") {
    import spark.implicits._
    // the stability gate re-runs queries over MEMOIZED staging artifacts,
    // so construction-order sensitivity is its documented blind spot (r12
    // advisor). Each loop claims determinism — LPA by integer-exact votes
    // and deterministic tie-breaks, pageRank's per-destination sums by the
    // edge layout's order — so machine-check it: run each at coprime
    // shuffle-partition counts and demand equal results.
    val dir = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 3L, 5L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val loops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "lpaLabels" -> (() => GraphOps.lpaLabels(spark, sf0001)),
      "pageRank" -> (() => GraphOps.pageRank(spark, sf0001)),
      "kHop" -> (() => GraphOps.kHop(spark, sf0001)),
      "ssspFrom" -> (() => GraphOps.ssspFrom(spark, dir, seeds, hops = 4)),
      "kcore" -> (() => GraphOps.kcore(spark, sf0001)))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try loops.foreach { case (name, loop) =>
      val Seq(a, b) = Seq("7", "31").map { width =>
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", width)
        loop().collect().map(_.toString).sorted.toSeq
      }
      assert(a.nonEmpty && a == b, s"$name must be a pure function of the graph")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
