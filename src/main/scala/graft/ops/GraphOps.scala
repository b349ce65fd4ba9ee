package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Artifacts.PersistSyntax._

/** Graph analytics over the co-purchase graph (parts linked when they share
  * an order — the classic market-basket projection of `lineitem`).
  * Complements the near-dup similarity graph in TextOps (connected
  * components) with counting-style graph ops: co-occurrence mining and
  * triangle counting.
  */
object GraphOps {

  /** Distinct undirected co-purchase edges, canonically keyed u < v. The
    * pair generation is an equi-self-join on the order key, so fan-out is
    * bounded by per-order basket size (TPC-H ≤ 7), never by catalog size;
    * DISTINCT collapses repeat co-purchases into one edge.
    *
    * MATERIALIZED once per sf (SourceOps staging memo, round 10): five
    * traversal queries (metrics, PageRank, k-hop, SSSP, also-bought) share
    * this relation, and each was re-deriving the self-join + distinct from
    * the raw fact — the dominant term of every graph query's bench time.
    * At 100 TB the edge list is a STANDING table a pipeline maintains
    * incrementally next to the fact, not something re-joined per
    * traversal; the memo is that table (the r9 dup-cluster-closure
    * discipline applied to the graph family). Bench pre-stages it untimed
    * like every other staged artifact; the derivation itself stays
    * covered by [[marketBasket]], whose pair counts re-derive from the
    * fact by construction (it aggregates order multiplicity, not edges). */
  private def edges(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"graph_edges_$sf") { d =>
      val li = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .distinct()
        .write.parquet(s"$d/edges")
    }
    Tables.parquet(spark, s"$dir/edges")
  }

  /** The PERSISTED edge scan (and its degree-oriented derivative) per
    * (context, sf, gate confs) — a session artifact
    * ([[Artifacts.session]]), the token-relation / [[VectorOps.embProjection]]
    * discipline's application to the graph family (r18 verdict #1):
    * [[graphMetrics]] and [[trianglesKeyOriented]] each persisted [[edges]]'
    * scan per call (the same logical plan, so repeat calls tripped
    * CacheManager's "already cached" warning and parked duplicate
    * registrations). The iteration-internal persists of DERIVED frames
    * (both-ways unions, vote edges) keep their per-call persist/unpersist
    * pairing — those are parameterized intermediates with explicit
    * cleanup, not this class. */
  private def graphRelation(spark: SparkSession, sf: String, kind: String)(
      build: => DataFrame): DataFrame =
    Artifacts.session(spark, "graph", sf, kind)(build).persistOnce()

  private def edgeRelation(spark: SparkSession, sf: String): DataFrame =
    graphRelation(spark, sf, "edges")(edges(spark, sf))

  /** Market-basket pair mining — the top co-purchased part pairs by number
    * of distinct orders containing both (distinct, so a part repeated
    * within one order can't inflate its pairs). The plan is equi-join →
    * distinct-agg on the pair key → TakeOrderedAndProject: at 100 TB the
    * count shuffles on the pair key and the top-k never materializes a
    * global sort. The (n desc, u, v) order makes the k-boundary
    * deterministic. */
  def marketBasket(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
      // EXPLICIT-width pre-partition on the join key: the basket self-join
      // and the pair aggregate both run on this one exchange's layout, and
      // AQE's byte-based coalescing would otherwise fold the ~10 MB of
      // lineitem onto 1-2 tasks, serializing the pair fan-out
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("l_orderkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_orderkey").as("o"),
        col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .groupBy("u", "v").agg(count_distinct(col("o")).as("n_orders"))
      .orderBy(col("n_orders").desc, col("u"), col("v"))
      .limit(20)
  }

  /** Global co-purchase graph metrics in one row: nodes, edges, max/avg
    * degree, and the exact triangle count via DEGREE-ORIENTED wedge joins
    * (the node-iterator++ / MR shape: Suri & Vassilvitskii, WWW'11). Each
    * undirected edge is directed from its lower-(degree, key) endpoint to
    * the higher; wedges are pairs of out-edges of one source, closed by an
    * oriented edge between their tips. Every triangle has exactly one
    * source whose two out-edges span it, so the count needs no /3 fixup —
    * and out-degree under this orientation is O(√m), so wedge volume is
    * bounded by Σ outdeg² ≈ m^1.5 instead of Σ deg² (which a hub node
    * makes quadratic). That bound is what survives a 100× scale-up; the
    * key-oriented formulation (the DuckDB oracle, and the spec's equality
    * twin) counts identically but wedge-explodes on hubs. */
  /** Above this edge count the directed edge list stops being broadcast in
    * [[graphMetrics]] and the wedge joins become shuffle joins. ~4M edges ≈
    * 100 MB broadcast — comfortably under executor memory; past it the
    * broadcast's driver collect + per-executor network copy grows without
    * bound (the 100 TB OOM cliff), while the shuffle path's cost stays ∝
    * wedge volume, which the degree orientation already bounds at m^1.5.
    * Measured at the 10× graph decade (PLANS.md): on local[32] — where a
    * broadcast pays no network — the broadcast plan is still ~1.3× faster
    * at 8.8M edges (46 s vs 63 s warm), so a single fat node can raise
    * [[GraphBroadcastMaxEdgesKey]]; on a real cluster the default stands. */
  val GraphBroadcastMaxEdges = 4000000L

  /** Conf override for the broadcast/shuffle switchover (same pattern as
    * `TextOps.ForceCappedPlanKey`): production callers size it to executor
    * memory × network fan-out instead of the conservative default. The cap
    * is a broadcast-side ROW bound for the whole graph family — the
    * directed edge list in [[graphMetrics]], the rank table in
    * [[pageRank]] (both ~24-byte rows). */
  val GraphBroadcastMaxEdgesKey = "spark.graft.graph.broadcastMaxEdges"

  /** The family's one broadcast guard: hint `broadcast` on node- or
    * edge-sized state of `rows` rows while it fits under
    * [[GraphBroadcastMaxEdgesKey]] (default [[GraphBroadcastMaxEdges]]),
    * else leave the join to the planner. */
  private def broadcastIfFits(spark: SparkSession, rows: Long): DataFrame => DataFrame =
    if (rows <= spark.conf.getOption(GraphBroadcastMaxEdgesKey).map(_.toLong)
        .getOrElse(GraphBroadcastMaxEdges)) broadcast else identity

  /** Per-task byte target of [[iterParts]]. From the r20 sweep
    * (ProfileStages min-of-3 warm, local[32], sf0.1, targets 8M/4M/2M/1M ⇒
    * widths ~7/14/28/32): the vote/peel loops were fastest at width ~14
    * (q_communities 4.25 s vs 4.74 at w7 and 6.84 at w32; q_kcore 1.94 vs
    * 2.20/2.80) while the lighter per-round joins were flat between w7 and
    * w14 (q_pagerank 3.46/3.63, q_khop 1.46/1.47, q_sssp 1.94/2.01) and ALL
    * loops degraded hard at session width 32 (pagerank 7.8 s — the r18
    * shape). The sweep ran when every round still shuffled at that width. */
  private val IterPartsTargetBytes = 4L << 20

  /** Partition count of an iterated loop's static edge relation, derived
    * from its size (r19, guide §2: derive partitioning from input size,
    * never a constant tuned for one machine): rows × ~24 B over
    * [[IterPartsTargetBytes]], capped at the session's shuffle width — a
    * 100 TB edge list saturates the cap, so a cluster's sizing is
    * untouched; only the small-relation regime stops over-splitting.
    *
    * Round layout (GraphX's edge partitioning, Gonzalez et al., OSDI 2014):
    * each loop persists its static edge relation ONCE, hash-partitioned at
    * `p` on the key its rounds aggregate by — [[pageRank]] on `d`,
    * [[kHop]] and [[ssspFrom]] on `dst`, [[lpaLabels]] and [[kcore]] on
    * `src`. Per-round state is node-sized, broadcast and
    * `localCheckpoint`ed, so a round is a broadcast hash join that keeps the
    * edge layout plus aggregates the layout already satisfies: no round
    * exchanges, `p` only sets the tasks per round, and the session's
    * shuffle width never reaches the rounds. A persisted
    * `repartition(p, key)` keeps its hash partitioning; a `localCheckpoint`
    * does not (it reports unknown partitioning), so the edge relation is
    * never checkpointed. Past the broadcast guard the round joins become
    * shuffle joins at the session width — the over-cap fallback. */
  private def iterParts(spark: SparkSession, rows: Long): Int = {
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(conf.toLong, rows * 24L / IterPartsTargetBytes + 1L)).toInt
  }

  def graphMetrics(spark: SparkSession, sf: String): DataFrame = {
    val e = edgeRelation(spark, sf)
    // one count materializes the persisted edges, reuses as the n_edges
    // stat below, AND picks the wedge-join strategy (broadcast vs shuffle)
    // — the same 1-row data-dependent plan choice as dedupJaccard's df
    // probe (driver-side-action ledger, PLANS.md)
    val m = e.count()
    val maybeBroadcast = broadcastIfFits(spark, m)
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // direct each edge from the (deg, key)-smaller endpoint to the larger
    // rank = the destination's (degree, key), kept as two PRIMITIVE columns:
    // the wedge join evaluates its ordering predicate once per candidate
    // pair (tens of millions of rows), where primitive comparisons stay in
    // codegen registers and struct comparators don't
    val fwd = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    // three consumers (both wedge sides + the closing join): materialize
    // once or the deg-join subtree runs three times. Memoized like the
    // edge scan it derives from (r18 verdict #1's "…"): the per-call
    // persist-with-no-unpersist parked a duplicate registration per
    // graphMetrics call — deterministic given (sf, confs), so it carries
    // the same honest key
    val dir = graphRelation(spark, sf, "oriented")(e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("d"),
        when(fwd, col("dv")).otherwise(col("du")).as("rdeg")))
    // Triangles via ADJACENCY-LIST INTERSECTION over the oriented edges —
    // the r19 optimization of the wedge-join form (kept in scaladoc
    // history): every triangle's three nodes are totally ordered by rank
    // and all edges point low → high, so for each oriented edge (s, d) the
    // triangles it closes LOW-to-MID are exactly |N⁺(s) ∩ N⁺(d)| — each
    // triangle counted once, at its (rank-lowest, rank-middle) edge. Same
    // integer by the same orientation argument as the wedge join (the
    // GraphOpsSpec equality with the key-oriented form pins it), but the
    // wedge stream never materializes: the old plan pushed every wedge —
    // Σ outdeg², ~30-40× the edge count — through TWO hash-join probes
    // (measured 145 s of CPU at bench scale, 73% of the query); this one
    // walks the same element volume inside a per-row array intersection at
    // nanoseconds per element (measured 10 s CPU). At a scale where the
    // adjacency table outgrows broadcast, both joins degrade to shuffles
    // keyed on the node — the orientation's O(√m) out-degree cap bounds
    // every array either way.
    val adj = dir.groupBy(col("s")).agg(collect_list(col("d")).as("nbrs"))
    val triCount = dir
      .join(maybeBroadcast(adj), Seq("s"))
      // inner join: an edge whose destination has no out-neighbors closes
      // no triangle and can simply drop out of the sum
      .join(maybeBroadcast(adj.select(col("s").as("d"), col("nbrs").as("dn"))), Seq("d"))
      .select(size(array_intersect(col("nbrs"), col("dn"))).as("c"))
      // coalesce: the wedge join's count() yielded 0 on a triangle-free
      // graph where sum() over no rows yields null — keep that contract
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      max("deg").as("max_degree"),
      round(avg("deg"), 4).as("avg_degree"))
    degStats
      .withColumn("n_edges", lit(m))
      .crossJoin(triCount)
      .select("n_nodes", "n_edges", "n_triangles", "max_degree", "avg_degree")
  }

  /** PageRank (damping 0.85, 10 fixed iterations) over the undirected
    * co-purchase graph, reported as the top-20 parts by rank scaled to
    * mean 1 (`r × n`, rounded to 4 decimals — ~1e-12 cross-engine float
    * noise after 10 iterations never reaches the 4th decimal of an O(1)
    * value). Each iteration is one join of the rank table (node-sized)
    * against the out-degree-annotated edge list plus one sum per
    * destination; ranks `localCheckpoint` every round so the logical plan
    * stays one-iteration deep instead of growing 10 joins tall (the
    * lineage lesson from the dup-clusters loop, PLANS.md). The edge list
    * is the big side: it is partitioned once by destination (see
    * [[iterParts]]), so with the rank table broadcast each destination's
    * inflow sums inside its own partition and the rank state stays
    * node-sized. Undirected ⇒ no dangling nodes, so the teleport term
    * conserves rank mass exactly (asserted in the spec). */
  def pageRank(spark: SparkSession, sf: String): DataFrame = {
    val e = edges(spark, sf)
    // staged-parquet row count (metadata-cheap) sizes the edge layout
    val p = iterParts(spark, 2L * e.count())
    val und = e.select(col("u").as("s"), col("v").as("d"))
      .unionAll(e.select(col("v").as("s"), col("u").as("d")))
    val deg = und.groupBy("s").agg(count(lit(1)).as("outdeg"))
    val undDeg = und.join(deg, "s").repartition(p, col("d")).persist()
    // undirected: every node is some edge's destination
    val n = undDeg.select(count_distinct(col("d"))).head().getLong(0)
    // node-sized rank state broadcasts only while it FITS (same guarded
    // choice as graphMetrics' wedge joins; node threshold via the shared
    // conf key): profiled 10.6 -> 7.6 s warm at sf0.1 vs re-shuffling the
    // edges every round. Past the threshold — a billion-node graph — the
    // join degrades to shuffle; a hard hint there would OOM every executor
    // instead.
    val maybeBroadcast = broadcastIfFits(spark, n)
    var ranks = undDeg.select(col("d").as("n")).distinct()
      .withColumn("r", lit(1.0 / n))
    (1 to 10).foreach { _ =>
      // each iteration: one broadcast hash join plus one sum per d, both
      // inside undDeg's partitions; the floor is the 10 sequential passes
      // over the edge list. Checkpoint cadence was swept in r19 (every
      // 1/2/5/10 rounds, eager and lazy): per-round eager is
      // flat-to-fastest — the cost lives in the edge pass itself, not the
      // checkpoint.
      ranks = undDeg.join(maybeBroadcast(ranks), undDeg("s") === ranks("n"))
        .groupBy(col("d"))
        .agg(sum(col("r") / col("outdeg")).as("inflow"))
        .select(col("d").as("n"), (lit(0.15 / n) + lit(0.85) * col("inflow")).as("r"))
        .localCheckpoint()
    }
    undDeg.unpersist()
    ranks
      .select(col("n"), round(col("r") * n, 4).as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("n"))
      .limit(20)
  }

  /** Key-oriented triangle count — the textbook u<v formulation the DuckDB
    * oracle uses; spec asserts it equals [[graphMetrics]]'s degree-oriented
    * count. Kept private to the test via this accessor: its wedge volume is
    * Σ succ² which hub nodes blow up — [[graphMetrics]] is the scale path. */
  def trianglesKeyOriented(spark: SparkSession, sf: String): Long = {
    val e = edgeRelation(spark, sf)
    e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("m"), col("e2.v").as("c"))
      .join(e.as("e3"), col("a") === col("e3.u") && col("c") === col("e3.v"))
      .count()
  }

  /** BFS depth bound for [[kHop]]. */
  val KHopDepth = 3

  /** Seed selector for [[kHop]]: every part whose key is a multiple of 100
    * (2 / 20 / 200 seeds at the three harness scales — deterministic, no
    * sampling). */
  val KHopSeedMod = 100L

  /** k-hop reachability — frontier-parallel BFS over the co-purchase graph
    * from a fixed seed set, reporting how many parts are FIRST reached at
    * each hop (the blast-radius / recommendation-horizon query; also the
    * building block of distributed shortest-path). Per round: one equi-join
    * of the frontier against the persisted directed-both-ways edge list,
    * one distinct, and one anti-join against the visited set. Frontier and
    * visited are NODE-bounded, so both sides broadcast under the same
    * guarded choice as [[pageRank]]'s rank table
    * ([[GraphBroadcastMaxEdgesKey]]): `localCheckpoint`ed frames carry no
    * stats, so without the hint every round SMJ-re-shuffles the persisted
    * edge list. Warm sf0.1 is flat either way (5.0 vs 5.1 s — the 1.2M-row
    * local shuffle is nearly free and the dominant cost is the `edges()`
    * self-join+distinct derivation); the hint is for the cluster, where
    * re-shuffling the 100 TB edge list 3× is the bottleneck and a
    * node-state broadcast is exactly what the rank table already pays.
    * The edge list is partitioned once by destination (see [[iterParts]]),
    * so the round's distinct over the reached nodes runs inside its
    * partitions. Frontier and visited `localCheckpoint`
    * per round (the dup-clusters lineage lesson: an iterated plan
    * re-analyzes its whole history otherwise). The fixed [[KHopDepth]]
    * keeps the oracle a genuine depth-bounded `WITH RECURSIVE` twin. */
  def kHop(spark: SparkSession, sf: String): DataFrame = {
    val e = edges(spark, sf)
    // edge layout width (see iterParts): staged row count is metadata-cheap
    val p = iterParts(spark, 2L * e.count())
    val dir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("src"), col("v").as("dst"))
      .repartition(p, col("dst"))
      .persist()
    // node-count probe for the guarded broadcast — same 1-row
    // data-dependent plan choice as graphMetrics/pageRank (both ways:
    // every node is some edge's dst)
    val n = dir.select(count_distinct(col("dst"))).head().getLong(0)
    val maybeBroadcast = broadcastIfFits(spark, n)
    val seeds = Tables.load(spark, sf, "part")
      .filter(col("p_partkey") % KHopSeedMod === 0)
      .select(col("p_partkey").as("node"), lit(0L).as("lvl"))
    var visited = seeds.localCheckpoint()
    var frontier = visited
    for (lvl <- 1 to KHopDepth) {
      val next = dir
        .join(maybeBroadcast(frontier), frontier("node") === dir("src"))
        .select(col("dst").as("node")).distinct()
        .join(maybeBroadcast(visited), Seq("node"), "left_anti")
        .select(col("node"), lit(lvl.toLong).as("lvl"))
        .localCheckpoint()
      visited = visited.union(next).localCheckpoint()
      frontier = next
    }
    // the result is built entirely from checkpointed frames, so the edge
    // cache is dead weight past this point (unlike alsoBought's deg, which
    // the RETURNED lazy plan still references and must stay cached)
    dir.unpersist()
    visited.groupBy("lvl")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("lvl")
  }

  /** Relaxation-round bound for [[sssp]] — results are exact for every
    * node whose shortest path uses ≤ this many edges (the bounded-horizon
    * contract that keeps the DuckDB oracle a finite recursion). */
  val SsspHops = 4

  /** Multi-source weighted shortest paths — [[kHop]]'s BFS upgraded to
    * WEIGHTED edges (w = 1 + (u+v) mod 5, pure key arithmetic so the
    * oracle reproduces it bit-for-bit): distance from the nearest seed
    * "depot" to every part within [[SsspHops]] relaxation rounds,
    * reported as the distance histogram. Each round is one Bellman-Ford
    * relaxation — frontier ⋈ edges, then a min-aggregate merging relaxed
    * candidates into the standing distance table — so dist_r(v) is
    * EXACTLY min over ≤ r-edge walks, which is what the depth-bounded
    * recursive-CTE oracle enumerates. Distance state is node-bounded and
    * rides the same guarded broadcast as the [[kHop]] frontier.
    * `localCheckpoint` per round keeps lineage flat (the iterated-plan
    * lesson). At 100 TB: H sequential rounds of (edges ⋈ node-state + min
    * per destination) over a directed edge list partitioned once up front
    * ([[ssspFrom]]), so no round shuffles. */
  def sssp(spark: SparkSession, sf: String): DataFrame = {
    val e = edges(spark, sf)
    val dir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("src"), col("v").as("dst"),
        (lit(1L) + (col("u") + col("v")) % 5L).as("w"))
    val seeds = Tables.load(spark, sf, "part")
      .filter(col("p_partkey") % KHopSeedMod === 0)
      .select(col("p_partkey").cast("long").as("node"))
    ssspFrom(spark, dir, seeds, SsspHops)
      .groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("dist")
  }

  /** Core bounded Bellman-Ford over directed weighted edges (src, dst, w)
    * from a seed set: returns (node, dist) with dist = min cost over walks
    * of ≤ `hops` edges. Extracted from [[sssp]] so the planted-graph spec
    * can check hand-computed distances.
    *
    * A zero-weight self-loop on every node that can hold a distance (each
    * edge head and each seed) carries that node's distance into the next
    * round — LPA's self-vote trick — so `dist ∪ relaxed → min` is one min
    * per destination, inside the dst-partitioned edge layout (see
    * [[iterParts]]). */
  def ssspFrom(spark: SparkSession, dirEdges: DataFrame, seeds: DataFrame,
      hops: Int): DataFrame = {
    // size the edge layout from the (cheap, un-persisted) edge count —
    // one extra pass over the slim edge projection, paid once
    val p = iterParts(spark, dirEdges.count())
    val loops = dirEdges.select(col("dst").as("node")).union(seeds.select("node"))
      .distinct()
      .select(col("node").as("src"), col("node").as("dst"), lit(0L).as("w"))
    val dir = dirEdges.unionByName(loops).repartition(p, col("dst")).persist()
    // every node that can hold a distance has a self-loop, so is some dst
    val n = dir.select(count_distinct(col("dst"))).head().getLong(0)
    val maybeBroadcast = broadcastIfFits(spark, n)
    var dist = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint()
    for (_ <- 1 to hops) {
      dist = dir
        .join(maybeBroadcast(dist), dist("node") === dir("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dir.unpersist()
    dist
  }

  /** Synchronous vote rounds in [[communities]] — fixed so the DuckDB
    * oracle can unroll them as materialized CTEs (the [[kHop]]/bpe-merges
    * bounded-recursion discipline). */
  val LpaRounds = 4

  /** Community sizes reported by [[communities]]. */
  val LpaTopK = 20

  /** Community detection via synchronous label propagation (Raghavan et
    * al., Phys. Rev. E 76, 2007) over the co-purchase graph: every node
    * starts labeled with its own key, and each round adopts the most
    * frequent label among its neighbors plus ITSELF (the self-vote damps
    * the 2-coloring oscillation plain synchronous LPA is prone to), ties
    * broken toward the smallest label. [[LpaRounds]] fixed rounds with a
    * deterministic tie-break make the result exactly reproducible — the
    * property that lets a DuckDB oracle value-check a community algorithm
    * most engines can only smoke-test — and the declared query reports
    * the [[LpaTopK]] largest communities. LPA is the community detector
    * that survives 100 TB where modularity methods (Louvain) don't
    * shard: per round it is ONE equi-join of the node-sized label table
    * against the standing edge list (guarded broadcast, the
    * [[pageRank]] rank-table discipline) and two aggregations by voter,
    * both inside the src-partitioned edge layout (see [[iterParts]]) — no
    * global modularity state, no sequential vertex sweeps.
    * `localCheckpoint` per round keeps the iterated plan flat (the
    * dup-clusters lineage lesson). The per-node argmax is a single
    * `max_by(label, (cnt, -label))` — highest count, then smallest
    * label — instead of a rank window, so round state never needs a
    * per-node sort, only a combinable max. */
  def communities(spark: SparkSession, sf: String): DataFrame =
    lpaLabels(spark, sf).groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(LpaTopK)

  /** The final (node, label) table after [[LpaRounds]] synchronous vote
    * rounds — the seam [[communities]] (census) and [[modularity]]
    * (quality) both consume, so the two declared queries provably score
    * the SAME partition of the graph. */
  private[graft] def lpaLabels(spark: SparkSession, sf: String): DataFrame = {
    val e = edges(spark, sf)
    // edge layout width (see iterParts): staged row count is metadata-cheap
    val p = iterParts(spark, 2L * e.count())
    val dir = e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
    val nodes = dir.select(col("src").as("node")).distinct()
    // self-vote = one extra (node, node) edge per node; src receives dst's
    // label, and both vote aggregates group by src
    val votesTo = dir
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
      .repartition(p, col("src"))
      .persist()
    val n = votesTo.select(count_distinct(col("src"))).head().getLong(0)
    val maybeBroadcast = broadcastIfFits(spark, n)
    // every node votes for itself, so the initial labels come off the layout
    var labels = votesTo.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    for (_ <- 1 to LpaRounds) {
      labels = votesTo
        .join(maybeBroadcast(labels), labels("node") === votesTo("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max_by(col("label"), struct(col("cnt"), -col("label"))).as("label"))
        .select(col("src").as("node"), col("label"))
        .localCheckpoint()
    }
    votesTo.unpersist()
    labels
  }

  /** Modularity of the LPA partition (Newman & Girvan 2004) — the quality
    * number next to [[communities]]' census, answering "are these
    * communities better than chance?": Q = Σ_c (e_c/m − (d_c/2m)²) where
    * e_c = intra-community edges, d_c = Σ degree over the community's
    * members, m = |edges|. Plan: the label table is read from the staged
    * per-corpus artifact ([[lpaLabels]] materialized once — the evaluation
    * never re-derives the detection), then ONE pass over the edge list for
    * degrees, one (edges ⋈ node-sized labels ×2) for intra counts, one
    * node-sized rollup per community — all map-combined, shuffle bounded
    * by Σ deg;
    * the Louvain comparison question answered WITHOUT Louvain's
    * unshardable global state (LPA detects, modularity evaluates).
    * Declared output: the [[LpaTopK]] largest communities with their
    * intra/degree counts and per-community contribution, plus the GLOBAL
    * Q repeated per row (computed over ALL communities before the limit).
    *
    * Draw-stability by construction (the round-12 discipline): every
    * aggregate here is an exact integer (counts, degree sums, Σe_c,
    * Σd_c²), so the rounded doubles are single divisions of exact Longs —
    * deterministic in any order; the identical spelling runs in DuckDB.
    * Σd_c² fits a Long while 2m < ~3e9 (d_c ≤ 2m); at a 100 TB edge count
    * the evaluation would widen to decimal lanes — same query shape. */
  def modularity(spark: SparkSession, sf: String): DataFrame = {
    val e = edges(spark, sf)
    // the label table is the standing artifact the quality evaluation
    // reads (q_communities keeps timing the LPA derivation itself) —
    // staged once per corpus, the dup-cluster-closure discipline
    val labDir = graft.ops.SourceOps.materialize(s"lpa_labels_$sf") { d =>
      lpaLabels(spark, sf).write.parquet(s"$d/labels")
    }
    val labels = Tables.parquet(spark, s"$labDir/labels")
    val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val mTot = e.agg(count(lit(1)).as("m"))
    val byComm = labels.join(deg, "node")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), sum("deg").as("deg_sum"))
    val intra = e
      .join(labels.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("node").as("v"), col("label").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("community")).agg(count(lit(1)).as("intra_edges"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    byComm.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(mTot))
      .withColumn("tot_intra", sum("intra_edges").over(w))
      .withColumn("tot_d2", sum(col("deg_sum") * col("deg_sum")).over(w))
      .select(col("community"), col("n_members"), col("intra_edges"), col("deg_sum"),
        (round(col("intra_edges").cast("double") / col("m") -
          (col("deg_sum").cast("double") / (lit(2.0) * col("m"))) *
            (col("deg_sum").cast("double") / (lit(2.0) * col("m"))), 6) + lit(0.0))
          .as("q_contrib"),
        (round(col("tot_intra").cast("double") / col("m") -
          col("tot_d2").cast("double") / (lit(4.0) * col("m") * col("m")), 6) + lit(0.0))
          .as("modularity"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(LpaTopK)
  }

  /** Peel rounds in [[kcore]] — fixed so the DuckDB oracle can unroll them
    * (the same bounded-iteration contract as [[kHop]]/[[communities]]). */
  val KCoreRounds = 4

  /** Bounded k-core peeling census (Seidman 1983; distributed peeling à la
    * Montresor et al. 2013): repeatedly delete nodes of degree < k, where
    * k = ⌊2E/N⌋ + 1 — one above the initial average degree, computed with
    * INTEGER arithmetic so both engines derive the identical threshold from
    * the data and the query self-adapts across scales (a fixed absolute k
    * is meaningless on a co-purchase graph whose density grows with sf).
    * Reports (round, n_nodes, n_edges) after each of [[KCoreRounds]] peels,
    * round 0 = the initial graph — the densification census that shows how
    * much of the graph survives each peel and whether the fixpoint was
    * reached (consecutive equal rows). Deterministic by construction, so
    * the oracle VALUE-checks it with mechanically unrolled peel rounds.
    * Per round: two semi-joins of the edge list against the node-sized
    * set of nodes left (guarded broadcast, the family discipline) and one
    * degree count per node, inside the src-partitioned edge layout (see
    * [[iterParts]]); the node-sized degree state `localCheckpoint`s per
    * round to keep lineage flat, while the edge relation stays persisted —
    * a checkpointed edge state would lose its partitioning and re-shuffle
    * every round. The census is one LAZY aggregate over node-sized
    * per-round tallies — no per-round driver action or exchange, only the
    * one k/N probe. */
  def kcore(spark: SparkSession, sf: String): DataFrame = {
    val e = edges(spark, sf)
    // edge layout width (see iterParts): staged row count is metadata-cheap
    val p = iterParts(spark, 2L * e.count())
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("src"), col("v").as("dst"))
      .repartition(p, col("src"))
      .persist()
    // one probe returns N and 2E: k = 2E/N + 1 and the broadcast guard
    val probe = und.agg(count_distinct(col("src")), count(lit(1))).head()
    val (n, twoE) = (probe.getLong(0), probe.getLong(1))
    val k = twoE / n + 1
    val maybeBroadcast = broadcastIfFits(spark, n)
    // round r's state: every node left after peel r that still has an
    // edge, with its degree among the nodes left (round 0: the whole graph)
    var deg = und.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    // census row r = (nodes left, Σ deg / 2), tallied as (round, v, d) rows;
    // the zero rows keep a round that peeled everything
    var tally = Seq(
      spark.range(KCoreRounds + 1).select(col("id").as("round"), lit(0L).as("v"), lit(0L).as("d")),
      deg.select(lit(0L), lit(1L), col("deg")))
    for (r <- 1 to KCoreRounds) {
      val left = deg.filter(col("deg") >= k).select(col("src"))
      deg = und
        .join(maybeBroadcast(left), Seq("src"), "left_semi")
        .join(maybeBroadcast(left.select(col("src").as("dst"))), Seq("dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      tally = tally ++ Seq(left.select(lit(r.toLong), lit(1L), lit(0L)),
        deg.select(lit(r.toLong), lit(0L), col("deg")))
    }
    und.unpersist()
    tally.reduce(_ unionAll _)
      .groupBy("round")
      .agg(sum("v").as("n_nodes"), (sum("d") / 2).cast("long").as("n_edges"))
      .orderBy("round")
  }

  /** Degree assortativity (Newman 2002, eq. 4 over the edge list): the
    * Pearson correlation of endpoint degrees across all DIRECTED edge
    * instances (each undirected edge counted in both orientations, the
    * standard convention — corr is shift-invariant, so correlating raw
    * degrees equals correlating Newman's excess degrees). r > 0: hubs link
    * to hubs (social-network shape); r < 0: hubs link to leaves
    * (technological/dependency shape) — the one-number diagnostic that
    * tells you whether hub-targeted mitigations (salting, degree caps)
    * will pay off on THIS graph. Plan: one degree aggregate (map-combined,
    * ≤ Σ deg), two node-sized joins onto the edge endpoints (guarded
    * broadcast, the family discipline), then a single `corr` aggregate —
    * one row out, no per-node state beyond the degree table. Emitted with
    * the edge/node counts so the row is self-describing. */
  def assortativity(spark: SparkSession, sf: String): DataFrame = {
    val e = edges(spark, sf)
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val n = deg.count()
    val maybeBroadcast = broadcastIfFits(spark, n)
    sym
      .join(maybeBroadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
      .join(maybeBroadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
      .agg(
        lit(n).as("n_nodes"),
        (count(lit(1)) / 2).cast("long").as("n_edges"),
        (round(corr(col("du").cast("double"), col("dv").cast("double")), 4) + lit(0.0))
          .as("assortativity"))
  }

  /** Wedge-CENTER degree cap in [[linkPredict]] — centers above it are
    * dropped before pair enumeration (they contribute ≤ 1/ln(cap) per pair
    * but deg² pair volume; the df-cap discipline of the dedup family). */
  val LinkPredDegCap = 64

  /** Predicted links reported by [[linkPredict]]. */
  val LinkPredTopK = 20

  /** Adamic-Adar link prediction (Adamic & Adar 2003; the LibenNowell &
    * Kleinberg 2007 benchmark's strongest local score) over the co-purchase
    * graph: score every NON-adjacent pair (u,v) by Σ_{w ∈ N(u)∩N(v)}
    * 1/ln(deg w) — common neighbors, discounted by how promiscuous each is
    * — and report the [[LinkPredTopK]] strongest predicted edges. Plan:
    * wedge enumeration keyed on the CENTER w (self-join of the adjacency
    * list, u < v canonical), weight attached before the join so the
    * aggregate is a plain map-combined sum on the (u,v) key, then one
    * anti-join against the edge list removes already-connected pairs and a
    * TakeOrderedAndProject keeps the top-k without a global sort. Scale
    * bound: centers are capped at [[LinkPredDegCap]] (deg ≥ 2 is implied —
    * a degree-1 center spans no pair, and ln(1) would divide by zero), so
    * wedge volume is Σ_{deg(w) ≤ cap} deg(w)² ≤ cap · 2E — LINEAR in the
    * edge count, not the Σ deg² a hub makes quadratic; the dropped hubs
    * are exactly the centers Adamic-Adar itself discounts hardest. Both
    * sides round the score to 4 decimals and tie-break on (u, v), so the
    * k-boundary is deterministic and the DuckDB oracle VALUE-checks the
    * whole ranking. */
  def linkPredict(spark: SparkSession, sf: String): DataFrame = {
    val e = edges(spark, sf)
    val adj = e.select(col("u").as("w"), col("v").as("x"))
      .union(e.select(col("v").as("w"), col("u").as("x")))
    val centers = adj.groupBy("w").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= LinkPredDegCap)
      .select(col("w"), (lit(1.0) / log(col("deg").cast("double"))).as("wt"))
    val nb = adj.join(centers, "w")
    val wedges = nb.as("a").join(nb.as("b"),
        col("a.w") === col("b.w") && col("a.x") < col("b.x"))
      .select(col("a.x").as("u"), col("b.x").as("v"), col("a.wt").as("wt"))
    wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"), round(sum("wt"), 4).as("aa_score"))
      .join(e, Seq("u", "v"), "left_anti")
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(LinkPredTopK)
  }

  /** Neighbors reported per target part in [[alsoBought]]. */
  val AlsoBoughtK = 3

  /** Target parts (by descending order-degree) in [[alsoBought]]. */
  val AlsoBoughtTargets = 10

  /** Item-item collaborative filtering — "customers who bought X also
    * bought Y": for the [[AlsoBoughtTargets]] most-ordered parts, the top
    * [[AlsoBoughtK]] co-purchased parts ranked by Jaccard similarity of
    * their order neighborhoods, jac = cooc / (orders_p + orders_q − cooc).
    * The normalization is what [[marketBasket]]'s raw pair counts lack: a
    * bestseller co-occurs with everything, Jaccard discounts it. Plan: the
    * directed pair counts and per-part degrees come off the same lineitem
    * scan; the 10-row target list broadcasts into the pair table, so only
    * target-adjacent pairs survive to the degree join and the per-target
    * top-k window runs over candidate-sized partitions. At 100 TB the pair
    * generation is the basket-bounded self-join (fan-out ≤ basket², never
    * catalog-sized) and everything downstream is target-pruned. */
  def alsoBought(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    // stays cached for the session (released by the harness clearCache):
    // the RETURNED plan references deg on both the target build and the
    // q-degree join, so an eager unpersist here would re-run the aggregate
    val deg = li.groupBy(col("l_partkey").as("p"))
      .agg(count_distinct(col("l_orderkey")).as("orders"))
      .persistOnce()
    val targets = deg
      .orderBy(col("orders").desc, col("p")).limit(AlsoBoughtTargets)
      .select(col("p"), col("orders").as("p_orders"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("p"), col("b.l_partkey").as("q"),
        col("a.l_orderkey").as("o"))
      .join(broadcast(targets), "p")
      .groupBy("p", "p_orders", "q").agg(count_distinct(col("o")).as("cooc"))
    val scored = pairs
      .join(deg.select(col("p").as("q"), col("orders").as("q_orders")), "q")
      .select(col("p"), col("q"), col("cooc"),
        round(col("cooc").cast("double") /
          (col("p_orders") + col("q_orders") - col("cooc")), 4).as("jac"))
    val w = Window.partitionBy("p")
      .orderBy(col("jac").desc, col("q"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= AlsoBoughtK)
      .select("p", "rk", "q", "cooc", "jac")
      .orderBy("p", "rk")
  }
}
