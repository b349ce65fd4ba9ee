package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.ops.Artifacts.PersistSyntax._

/** Embedding / similarity-search operators over the `embeddings` table
  * (`vec_id, embedding: array<float> (64), label`) — SURVEY.md §2.9 X3/X7.
  *
  * All dot/norm math casts float→double first (exact widening) so results are
  * bit-comparable with the DuckDB oracle's double arithmetic, then rounds to
  * 4 decimals before any order-by on similarity.
  */
object VectorOps {

  /** float[] → double[] (exact). */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Σ aᵢbᵢ — native codegen'd expression (graft.functions.DotProduct); the
    * composable `aggregate(zip_with(...))` form is semantically identical but
    * walks a lambda interpreter per element. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot_product(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine (graft.functions.CosineSimilarity) — same
    * left-to-right double summation as dot/(√·√), so oracle hashes match. */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorFunctions.cosine_sim(a, b)

  /** L2 norm per vector — the basic array-column op (X7). */
  def embedNorm(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), round(l2norm(asDouble(col("embedding"))), 4).as("l2"))
      .orderBy("vec_id")

  /** Exact top-k cosine against a single probe vector (vec_id 0). The 1-row
    * probe side is broadcast, so the scan side never shuffles; top-k is
    * TakeOrderedAndProject (per-partition heaps, no global sort). Ordering is
    * on the *rounded* similarity with vec_id tie-break — deterministic across
    * engines. */
  def cosineTopk(spark: SparkSession, sf: String): DataFrame =
    cosineTopkN(spark, sf, 10)

  /** [[cosineTopk]] with a caller-chosen k — the dense retrieval arm
    * [[TextOps.hybridRetrieval]] fuses (same probe, same arithmetic). */
  private[graft] def cosineTopkN(spark: SparkSession, sf: String, n: Int,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // optional corpus view (e.g. the post-erasure vec_id % 7 != 3 of the
    // lifecycle compositions); the probe comes from the same view, so a
    // predicate that erased the probe would fail loudly (empty probe),
    // never silently rank against a ghost
    val embAll = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val emb = pred.fold(embAll)(embAll.filter)
    val probe = emb.filter(col("vec_id") === 0).select(col("v").as("pv"))
    emb.filter(col("vec_id") =!= 0)
      .join(broadcast(probe))
      .select(col("vec_id"), round(cosine(col("v"), col("pv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(n)
  }

  /** Brute-force k-NN join: top-3 neighbors for each of a set of probe
    * vectors (vec_id < 5), ranked per-probe by a window. The probe set is
    * broadcast; cost is |probes| × |corpus| — the exact baseline the
    * approximate path ([[annLsh]]) is measured against. */
  def knnJoin(spark: SparkSession, sf: String): DataFrame = {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        // + 0.0: cosines are negative-capable, and this rounded value is a
        // DECLARED output — canonicalize the zero on both engine sides
        // (the r12 cov sign-divergence class, found by the r14 CTE audit)
        (round(cosine(col("v"), col("pv")), 4) + lit(0.0)).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("probe_id", "rk", "vec_id", "cos")
      .orderBy("probe_id", "rk")
  }

  /** Triplet mining for contrastive training — per anchor, the hardest
    * POSITIVE (most-similar same-label vector) and hardest NEGATIVE
    * (most-similar different-label vector) plus the margin between them:
    * the data-prep step a triplet/InfoNCE loss consumes (FaceNet-style
    * hard mining; semi-hard selection is the same scored relation with a
    * band predicate on cos). Shape: broadcast the bounded anchor set, one
    * map-only scoring pass over the corpus (|anchors| × |corpus|, the
    * exact baseline), then ONE aggregate computing both argmaxes via
    * conditional `max_by` — Spark's MaxBy skips rows whose ordering key
    * is null, so the same-label and different-label maxima fall out of a
    * single shuffle on anchor_id. Deterministic: ties on the rounded cos
    * break toward the smaller vec_id (negated id in the ordering struct).
    * At 100 TB the scoring pass swaps the brute-force scan for the IVF
    * cell-probe ([[annIvf]]) — the aggregate is unchanged. */
  def tripletMine(spark: SparkSession, sf: String): DataFrame = {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val anchors = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"), col("v").as("av"))
    val scored = emb.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"),
        (col("label") === col("a_label")).as("same"),
        col("vec_id"), (round(cosine(col("v"), col("av")), 4) + lit(0.0)).as("cos"))
    val ord = struct(col("cos"), (-col("vec_id")).as("nid"))
    val payload = struct(col("vec_id"), col("cos"))
    scored.groupBy("anchor_id")
      .agg(
        max_by(payload, when(col("same"), ord)).as("p"),
        max_by(payload, when(!col("same"), ord)).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor_id"),
        col("p.vec_id").as("pos_id"), col("p.cos").as("pos_cos"),
        col("n.vec_id").as("neg_id"), col("n.cos").as("neg_cos"),
        (round(col("p.cos") - col("n.cos"), 4) + lit(0.0)).as("margin"))
      .orderBy("anchor_id")
  }

  /** Per-label embedding centroids, long form: one row per (label,
    * dimension) via posexplode → grouped avg. Two codegen'd aggregates
    * (partial+final) over label×dim keys — the building block for IVF-style
    * coarse quantizers and per-class prototypes. The typed single-pass
    * Aggregator form (graft.functions.CentroidAggregator) computes the same
    * centroids without the explode fan-out — preferable when dim is large
    * and rows are wide; this declared form is the oracle-checkable one. */
  def centroids(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((round(avg("x"), 4) + lit(0.0)).as("c"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("c"))
      .orderBy("label", "pos")

  /** Embedding-cosine near-dup pairs (threshold on rounded similarity —
    * 0.45 marks the fixture's closest pairs; a production dedup would use
    * ~0.95 on real near-identical embeddings). Exact all-pairs form: the
    * 1-sided broadcast nested-loop is the oracle-checkable baseline; the
    * 100 TB path buckets by [[lshBucket]] first (see [[annLsh]]) so only
    * same-bucket pairs are compared. */
  def dedupCosine(spark: SparkSession, sf: String): DataFrame = {
    val raw = cosine(col("v"), col("vb"))
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      // the corpus parquet scan is 1-2 partitions at bench scale, which
      // would run the O(n²) compare loop on 1-2 cores — spread the stream
      // side so the broadcast NLJ uses the whole machine (the mediaDedup
      // discipline; at cluster scale the scan is already wide and the
      // node-sized exchange is noise next to the pair loop it parallelizes).
      // EXPLICIT count: AQE's coalescing sizes partitions by shuffle BYTES,
      // blind to the O(n²) compute each row fans into downstream — without
      // it the 1 MB exchange coalesces straight back to one task
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("vec_id"))
    emb.as("a")
      .join(broadcast(emb.select(col("vec_id").as("ib"), col("v").as("vb"))),
        col("vec_id") < col("ib"))
      // prefilter on the RAW cosine (pure codegen'd arithmetic) so the
      // BigDecimal-allocating round() runs on the handful of survivors,
      // not every one of the n²/2 candidate pairs; a full 1e-4 of slack
      // (2× the rounding step) keeps every x that could still satisfy
      // round(x,4) >= threshold — same predicate split as mediaDedup
      .filter(raw >= 0.45 - 1e-4)
      .select(col("vec_id").as("ia"), col("ib"),
        round(raw, 4).as("cos"))
      .filter(col("cos") >= 0.45)
      .orderBy("ia", "ib")
  }

  /** Per-dimension symmetric int8 quantization of the embedding column —
    * the 4× memory cut that makes a 100 TB ANN corpus servable. Calibration
    * (per-dim max-abs, one 64-double row) is a single map-side-combined
    * aggregate broadcast back to the scan; quantize + reconstruction-error
    * is then map-only. Reported per vector: max abs error and RMSE of the
    * round-trip — the numbers a quantization rollout is judged by. At 100 TB
    * the calibration agg runs on a sample instead of the full corpus. */
  def quantizeErr(spark: SparkSession, sf: String): DataFrame = {
    // the memoized persisted projection: the calibration agg and the
    // quantize pass share one cached scan (the extra fv column rides
    // along — one standing entry beats a second per-call registration)
    val emb = embProjection(spark, sf).select("vec_id", "v")
    val sc = emb.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(max(abs(col("x"))).as("m"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("scale"))
    emb.join(broadcast(sc))
      .select(col("vec_id"),
        explode(zip_with(col("v"), col("scale"),
          // a zero scale means the whole dimension is zero -> zero error
          // (guards the 0/0 NaN, engine-dependent). The + 0.0 after the
          // inner d=0 round is the registry-wide zero canonicalization
          // (Spark already emits +0.0; DuckDB preserves −0.0) — value-
          // neutral here since the subtraction kills the sign anyway,
          // spelled so the margin audit sees one discipline everywhere.
          (x, s) => when(s === 0.0, lit(0.0))
            .otherwise(x - (round(x / s * 127) + 0.0) / 127 * s))).as("e"))
      .groupBy("vec_id")
      .agg(round(max(abs(col("e"))), 4).as("max_abs_err"),
        round(sqrt(avg(col("e") * col("e"))), 4).as("rmse"))
      .orderBy("vec_id")
  }

  /** Higher-order array functions as a declared surface — `filter`,
    * `aggregate`, `exists` over the embedding column, WITHOUT exploding:
    * per label, the average fraction of positive dimensions, average L1
    * mass, and how many vectors have any dimension beyond ±2. The
    * contrast with [[centroids]] is the point: posexplode multiplies the
    * row count ×64 before its shuffle, while a lambda pipeline computes
    * per-vector scalars in place — map-only work feeding a label-sized
    * aggregate, the shape that wins when the array is wide and the
    * output is per-row (or per-group) rather than per-element. Lambdas
    * are interpreter-evaluated per element (no codegen) — fine off the
    * hot path; [[dot]]'s native expression is the pattern when it isn't.
    * Left-to-right double folds match DuckDB's list_* evaluation order,
    * so sums are bit-identical, not just close. */
  def arrayHof(spark: SparkSession, sf: String): DataFrame = {
    val v = asDouble(col("embedding"))
    Tables.load(spark, sf, "embeddings")
      .select(col("label"),
        (size(filter(v, x => x > 0)) / lit(Dim.toDouble)).as("pos_frac"),
        aggregate(v, lit(0.0), (acc, x) => acc + abs(x)).as("l1"),
        exists(v, x => abs(x) > 2.0).cast("long").as("has_extreme"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("pos_frac"), 4).as("avg_pos_frac"),
        round(avg("l1"), 4).as("avg_l1"),
        sum("has_extreme").as("n_extreme"))
      .orderBy("label")
  }

  /** Number of random hyperplanes for sign-LSH bucketing. */
  val LshBits = 8

  /** Embedding dimensionality of the harness table. */
  val Dim = 64

  /** Deterministic pseudo-random hyperplanes in [-1, 1]^Dim, fixed at
    * class-load via splitmix64 — plan-time CONSTANTS, so the per-row work is
    * just n dot products (hash-deriving each component inside the
    * expression re-ran xxhash64 per row per component and profiled 6 s). */
  private def mkPlanes(n: Int, seedOffset: Long): Array[Array[Double]] = {
    def splitmix(seed: Long): Long = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.tabulate(n, Dim) { (p, j) =>
      (math.floorMod(splitmix(seedOffset + p.toLong * Dim + j), 2000001L) - 1000000L) / 1000000.0
    }
  }

  private val planes: Array[Array[Double]] = mkPlanes(LshBits, 0L)

  /** Sign-LSH bucket id: bit p = sign of ⟨v, plane_p⟩. Vectors with high
    * cosine land in the same bucket with high probability. */
  def lshBucket(v: Column): Column =
    (0 until LshBits).map { p =>
      when(dot(v, typedLit(planes(p).toSeq)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Banding shape for [[dedupCosineLsh]]: 8 bands × 2 hyperplanes =
    * OR-amplification over AND-pairs. Per-plane agreement for cosine s is
    * p = 1 − arccos(s)/π, so a pair collides in ≥1 band with probability
    * 1 − (1 − p²)⁸ — ≈ 0.99 at the fixture threshold 0.45 and ≈ 1 − 4e-7 at
    * a production 0.95. Few wide bands (e.g. 1×8 bits) would be far more
    * selective but miss most true pairs below s ≈ 0.9; banding trades
    * candidate volume for recall exactly like the MinHash band table
    * (TextOps.dedupMinhash). */
  val DedupBands = 8
  val DedupBandBits = 2
  private val bandPlanes: Array[Array[Double]] = mkPlanes(DedupBands * DedupBandBits, 1L << 32)

  /** One bucket id per band (the sign pattern of that band's hyperplanes),
    * with the array's length: the rows a `posexplode` of it emits per
    * vector, which a broadcast guard on the banded relation multiplies by. */
  def bandBuckets(v: Column): (Column, Int) =
    (bandBucketsOf(v, DedupBands, DedupBandBits, bandPlanes), DedupBands)

  /** Generalized banding — `bits` is the LOG-SCALE knob a production dedup
    * raises with corpus size: candidate volume in a band is Σ(bucket²) ≈
    * n²/2^bits for background pairs, so holding bits fixed while n grows 10×
    * grows candidates 100× — bits must track log₂(n) to keep the candidate
    * join linear, while `bands` independently sets recall via
    * OR-amplification (1 − (1 − p^bits)^bands). The declared q_dedup_
    * cosine_lsh keeps the fixture shape (8×2 at threshold 0.45); the
    * scale-smoke measures a production shape (8×8 at 0.95) — see PLANS.md. */
  def bandBucketsOf(v: Column, bands: Int, bits: Int,
                    planes: Array[Array[Double]]): Column =
    array((0 until bands).map { b =>
      (0 until bits).map { r =>
        val p = b * bits + r
        when(dot(v, typedLit(planes(p).toSeq)) > 0, lit(1L << r)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** Cosine-threshold dedup, LSH-bucketed — the 100 TB twin of
    * [[dedupCosine]]: candidates are generated by an equi-join on
    * (band, bucket) instead of all pairs, then exact-verified with the same
    * cosine ≥ 0.45 predicate, so its output is always a subset of the exact
    * form's with ~0.99 expected recall (see [[DedupBands]]). Shuffle volume
    * is rows × bands plus the candidate pairs — never O(n²). Precision is 1
    * by construction (the verify step recomputes the true cosine); only
    * recall is probabilistic, which is why this is declared no-oracle with
    * a recall test against the oracled exact twin (VectorOpsSpec). */
  def dedupCosineLsh(spark: SparkSession, sf: String): DataFrame =
    dedupCosineLshFrom(Tables.load(spark, sf, "embeddings"),
      0.45, DedupBands, DedupBandBits)

  /** Production-shaped variant for the scale smoke (not a declared query —
    * the harness fixtures have no pairs at a production threshold): real
    * near-identical embedding dedup runs at ~0.95, where per-plane agreement
    * p ≈ 0.90 supports NARROW-angle 8-bit bands (recall 1−(1−p⁸)⁸ ≈ 0.99)
    * that background pairs (p ≈ 0.5, p⁸ ≈ 0.004) almost never collide in —
    * the selectivity that keeps candidate volume near-linear as n grows. */
  def dedupCosineLshProd(spark: SparkSession, sf: String): DataFrame =
    dedupCosineLshFrom(Tables.load(spark, sf, "embeddings"), 0.95, 8, 8)

  /** Broadcast-side ROW cap for the similarity family's pinned build-side
    * hints (the banded table and the verify re-attach features): the same
    * guarded-broadcast discipline as GraphOps.broadcastMaxEdges. Below the
    * cap the hint is load-bearing (a stats misestimate after the explicit
    * repartition would otherwise flip the plan to a skewed SMJ on the
    * low-cardinality band key); past it — a corpus whose banded relation
    * no longer fits executor memory — the pinned hint would force an OOM
    * where the unhinted planner degrades to a shuffle join, so the hint is
    * dropped instead (ADVICE r19). Default sized like the graph family's
    * edge cap (~4M 24-byte rows ≈ 100 MB broadcast). */
  val VectorBroadcastMaxRowsKey = "spark.graft.vector.broadcastMaxRows"
  val VectorBroadcastMaxRows = 4000000L

  private def broadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption(VectorBroadcastMaxRowsKey).map(_.toLong)
      .getOrElse(VectorBroadcastMaxRows)

  private[graft] def dedupCosineLshFrom(embSrc: DataFrame, threshold: Double,
                                        bands: Int, bits: Int): DataFrame = {
    // same seed offset for every shape: at (8, 2) the planes array equals
    // the declared bandPlanes, keeping q_dedup_cosine_lsh's output stable
    val planes = if (bands == DedupBands && bits == DedupBandBits) bandPlanes
      else mkPlanes(bands * bits, 1L << 32)
    // persist both shared shapes: emb feeds the banding plus BOTH verify
    // re-attach joins, banded feeds both sides of the candidate self-join —
    // without the cache each reference re-scans and re-evaluates the
    // hyperplane dot products per row (same discipline as dedupJaccard)
    val emb = embSrc
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .persistOnce()
    val banded = emb
      .select(col("vec_id"),
        posexplode(bandBucketsOf(col("v"), bands, bits, planes)).as(Seq("band", "bucket")))
      // spread the STREAM side of the candidate join by the high-cardinality
      // id, with an EXPLICIT width — the scan is 1 partition at bench scale
      // and AQE's byte-based coalescing would keep it there, serializing the
      // pair-generating map stage (its sizing is blind to the quadratic
      // compute each bucket row fans into). NOT by (band, bucket): that key
      // has ~bands×2^bits distinct values, so hashing on it skews and forces
      // a sort-merge join with giant equal-key runs — the broadcast-hash
      // shape below keeps pair generation map-side at any stream width
      .repartition(embSrc.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("vec_id"))
      .persistOnce()
    // distinct candidate id-pairs first (a pair colliding in k bands must be
    // verified once, not k times), then re-attach vectors and exact-verify.
    // broadcast() GUARDED (1-row probe on the already-persisted emb — the
    // graphMetrics pattern): below the row cap the hint is load-bearing (a
    // stats misestimate after the repartition could flip the plan to the
    // skewed SMJ above); past it the banded relation no longer fits
    // executor memory and the hint must drop rather than pin an OOM
    val maybeBroadcast: DataFrame => DataFrame =
      if (emb.count() * bands <= broadcastMaxRows(embSrc.sparkSession)) broadcast
      else identity
    val cand = banded.as("a")
      .join(maybeBroadcast(banded.select(col("vec_id").as("ib"), col("band"), col("bucket"))),
        Seq("band", "bucket"))
      .filter(col("vec_id") < col("ib"))
      .select(col("vec_id").as("ia"), col("ib"))
      .distinct()
    // prefilter on the RAW cosine so the BigDecimal-allocating round() runs
    // on survivors only, not every candidate pair (the mediaDedup predicate
    // split; 1e-4 slack = 2× the rounding step keeps every x that could
    // still round over the threshold)
    val raw = cosine(col("va"), col("vb"))
    cand
      .join(emb.select(col("vec_id").as("ia"), col("v").as("va")), Seq("ia"))
      .join(emb.select(col("vec_id").as("ib"), col("v").as("vb")), Seq("ib"))
      .filter(raw >= threshold - 1e-4)
      .select(col("ia"), col("ib"), round(raw, 4).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("ia", "ib")
  }

  /** IVF-style ANN: a k-means coarse quantizer (Spark ML, fixed seed —
    * deterministic on fixed input) assigns every vector to a cell; each
    * probe searches only its `nprobe` nearest cells, exact-ranking the
    * candidates. Complements [[annLsh]]: IVF adapts cells to the data
    * distribution where sign-LSH uses data-independent hyperplanes. At
    * 100 TB the quantizer trains on a sample, cells become partition keys,
    * and a probe touches nprobe/k of the corpus. */
  /** Fit-or-load the k-cell coarse quantizer for `sf` (expects an `fv`
    * vector column). Shared by [[ivfTopk]] and [[semDedup]] so both see the
    * SAME cells for a given (sf, k). A model artifact like Scoring's GBT
    * ([[Artifacts.fitOrLoad]]): deterministic fit (fixed seed), so
    * Verify/Bench sessions share one artifact. */
  private[graft] def coarseQuantizer(sf: String, k: Int, emb: DataFrame)
      : org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
    Artifacts.fitOrLoad[KMeansModel](Artifacts.modelFile(s"ivf$k-", sf))(
      load = p => KMeansModel.load(p.toString),
      save = (m, p) => m.write.save(p.toString)) {
      // a coarse quantizer only buckets — 5 iterations is plenty;
      // seed keeps it deterministic
      new KMeans().setK(k).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("fv").setPredictionCol("cell").fit(emb)
    }
  }

  def ivfTopk(spark: SparkSession, sf: String, k: Int = 16, nprobe: Int = 2): DataFrame = {
    val emb = embProjection(spark, sf)
    val km = coarseQuantizer(sf, k, emb)
    val assigned = km.transform(emb).select(col("vec_id"), col("v"), col("cell"))
    // centroids are driver-side constants (k × dim doubles) → literal frame
    val centroids = spark.createDataFrame(
      km.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq)
      .toDF("cell", "centroid")
    val probes = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    // nprobe nearest cells per probe (k rows per probe, tiny)
    val wCell = Window.partitionBy("probe_id").orderBy(col("cdist"), col("cell"))
    val probeCells = probes.join(broadcast(centroids))
      .select(col("probe_id"), col("pv"), col("cell"),
        (dot(col("pv"), col("pv")) - lit(2.0) * dot(col("pv"), col("centroid")) +
          dot(col("centroid"), col("centroid"))).as("cdist"))
      .withColumn("rk", row_number().over(wCell))
      .filter(col("rk") <= nprobe)
      .select("probe_id", "pv", "cell")
    // search only the probed cells
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("v"), col("pv")), 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("probe_id", "rk", "vec_id", "cos")
      .orderBy("probe_id", "rk")
  }

  /** ANN via sign-LSH bucketing — the 100 TB path for [[knnJoin]]: bucket all
    * vectors by [[lshBucket]], compare probes only against their own bucket
    * (candidate set ≈ corpus / 2^bits per probe instead of the full corpus),
    * then exact-rank the candidates. Recall < 1 by construction; the exact
    * forms above are the oracle-checked baseline. */
  def annLsh(spark: SparkSession, sf: String): DataFrame = {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v")))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("bucket"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("v"), col("pv")), 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("probe_id", "rk", "vec_id", "cos")
      .orderBy("probe_id", "rk")
  }

  /** PQ geometry: 64-dim embeddings → [[PqSubspaces]] × [[PqSubDim]]-dim
    * slices, [[PqCodes]] centroids per sub-codebook → one nibble-sized code
    * per subspace, 8 codes per vector. */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodes = 16

  /** The codebooks are a model artifact ([[Artifacts.fitOrLoad]], the
    * [[coarseQuantizer]] / Scoring GBT registry discipline): fixed seeds +
    * fixed data ⇒ the nine k-means fits are deterministic, but they are a
    * ONE-TIME index build — ~8 s at sf0.1 — and letting a fresh JVM (the
    * driver's `sbt clean` bench) re-fit them inside q_ann_pq's timed region
    * reports the build, not the compressed-domain scan a PQ index exists to
    * amortize (round-10 review). The codebooks derive from the CANONICAL
    * embeddings table for `sf` (resolved internally — the cache key is
    * honest; no caller-supplied frame can desync it).
    *
    * Fit-or-load the per-subspace PQ codebooks: [subspace][code][dim].
    * Disk format: one line per (subspace, code) — `s c d1 d2 ... d8` with
    * full `Double.toString` precision, so a reload is bit-identical. */
  private[graft] def pqCodebooks(spark: SparkSession, sf: String): Array[Array[Array[Double]]] =
    pqCodebooksFrom(sf,
      Tables.load(spark, sf, "embeddings").select(asDouble(col("embedding")).as("v")))

  /** [[pqCodebooks]] generalized to an explicit fit corpus (`v` double-array
    * column) under an explicit registry key — the seam [[annAppend]] uses to
    * fit FROZEN codebooks on the standing corpus only. Cache-key honesty
    * (the r10 lesson): every caller derives `key`'s corpus deterministically
    * from `key` itself (canonical table for `sf`, or the fixed vec_id
    * partition for `sf-c80`), so a disk reload can never desync. */
  private[graft] def pqCodebooksFrom(key: String, corpus: DataFrame): Array[Array[Array[Double]]] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    Artifacts.fitOrLoad[Array[Array[Array[Double]]]](Artifacts.modelFile("pq-", key, ".txt"))(
      load = path => {
        val rows = Files.readAllLines(path).asScala.filter(_.nonEmpty).map { line =>
          val f = line.trim.split("\\s+")
          (f(0).toInt, f(1).toInt, f.drop(2).map(_.toDouble))
        }
        val books = Array.ofDim[Array[Double]](PqSubspaces, PqCodes)
        rows.foreach { case (s, c, cent) => books(s)(c) = cent }
        require(books.forall(_.forall(c => c != null && c.length == PqSubDim)))
        books
      },
      save = (books, path) => {
        val lines = for (s <- books.indices; c <- books(s).indices)
          yield s"$s $c ${books(s)(c).mkString(" ")}"
        Files.write(path, lines.asJava)
      }) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      (0 until PqSubspaces).map { s =>
        val sub = corpus.select(
          array_to_vector(slice(col("v"), s * PqSubDim + 1, PqSubDim)).as("fv"))
        new KMeans().setK(PqCodes).setSeed(42L + s).setMaxIter(5)
          .setFeaturesCol("fv").setPredictionCol("c").fit(sub)
          .clusterCenters.map(_.toArray)
      }.toArray
    }
  }

  /** Pre-build every ANN index artifact for `sf` (coarse quantizer + PQ
    * codebooks), fit-or-disk-load — Bench calls this untimed so q_ann_pq /
    * q_ann_ivf measure the QUERY (cell-restricted ADC scan + re-rank), not
    * the one-time index build a production system amortizes over its whole
    * lifetime (exactly the [[graft.ops.Scoring.warmModel]] contract). */
  def warmAnnIndexes(spark: SparkSession, sf: String): Unit = {
    val emb = embProjection(spark, sf)
    coarseQuantizer(sf, 16, emb)
    pqCodebooks(spark, sf)
    ()
  }

  /** Squared L2 distance via the codegen'd dot products (‖a‖² − 2a·b + ‖b‖²). */
  private def sqdist(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** IVF-PQ ANN (Jégou et al., TPAMI'11 — the FAISS IVFPQ shape): the
    * third approximate tier after [[annLsh]] (data-independent buckets)
    * and [[ivfTopk]] (adaptive cells, raw-vector scan within probed
    * cells). PQ adds the COMPRESSED-DOMAIN scan: each vector is encoded
    * once as [[PqSubspaces]] sub-codebook ids (8 bytes here vs 256 bytes
    * of float32 — the reason a 100 TB embedding corpus fits a PQ index in
    * RAM-adjacent storage), and a probe scores candidates by Asymmetric
    * Distance Computation — a broadcast (probe × subspace × code) lookup
    * table of partial squared distances, summed per candidate with ZERO
    * arithmetic on raw vectors. Plan: encode = one slice-explode ⋈
    * broadcast codebook + min_by per (vector, subspace) — in production
    * this table is MATERIALIZED once and re-scanned forever, which is the
    * whole point; query = candidates from the probed IVF cells (equi-join
    * on cell), ⋈ broadcast LUT on (s, code), one sum-aggregate per
    * (probe, candidate), ADC shortlist, then exact re-rank of the top
    * [[PqRerank]] by true cosine — touching raw floats for only
    * shortlist-sized fetches. Recall < 1 by construction (quantization +
    * cell probing); [[knnJoin]] is the oracled exact twin the spec
    * measures against. */
  val PqRerank = 20

  /** The PQ codebooks as a broadcastable (s, code, centroid) frame. */
  private[graft] def pqCodebookFrame(spark: SparkSession,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val cbRows = for (s <- books.indices; c <- books(s).indices)
      yield (s, c, books(s)(c).toSeq)
    spark.createDataFrame(cbRows).toDF("s", "code", "centroid")
  }

  /** ENCODE under a (frozen) codebook: nearest sub-centroid per
    * (vector, subspace) — 8 small ints per vector, the compressed table a
    * production index materializes. Input: (vec_id, cell, v); output:
    * (vec_id, cell, s, code). Cost is input-sized: one slice-explode ⋈
    * broadcast codebook + min_by — nothing rescans any other table, which
    * is what makes [[annAppend]]'s append batch-sized. */
  private[graft] def pqEncodeFrom(assigned: DataFrame, codebook: DataFrame): DataFrame = {
    val slices = assigned
      .select(col("vec_id"), col("cell"), posexplode(expr(
        s"transform(sequence(0, ${PqSubspaces - 1}), i -> slice(v, i * $PqSubDim + 1, $PqSubDim))")))
      .select(col("vec_id"), col("cell"), col("pos").as("s"), col("col").as("sv"))
    slices.join(broadcast(codebook), Seq("s"))
      .select(col("vec_id"), col("cell"), col("s"), col("code"),
        sqdist(col("sv"), col("centroid")).as("d"))
      .groupBy("vec_id", "cell", "s")
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))
  }

  def annPq(spark: SparkSession, sf: String, nprobe: Int = 2,
      topK: Int = 3): DataFrame = {
    val emb = embProjection(spark, sf)
    val km = coarseQuantizer(sf, 16, emb)
    val books = pqCodebooks(spark, sf)
    val codebook = pqCodebookFrame(spark, books)
    val assigned = km.transform(emb).select(col("vec_id"), col("v"), col("cell"))
    val enc = pqEncodeFrom(assigned, codebook)
    // probes + their nprobe nearest IVF cells (the ivfTopk pattern)
    val probes = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    pqProbe(spark, probes, enc, assigned.select(col("vec_id"), col("v")),
      km, codebook, nprobe, topK)
  }

  /** The IVF-PQ QUERY half, over an already-materialized encoded table:
    * nprobe nearest cells per probe → ADC lookup-table scoring of the
    * probed cells' codes (zero raw-vector arithmetic) → exact re-rank of
    * the top-[[PqRerank]] shortlist by true cosine. Shared verbatim by
    * [[annPq]] (index built in-query) and [[annAppend]] (standing index +
    * frozen-codebook append) — same query, different index lifecycle. */
  private[graft] def pqProbe(spark: SparkSession, probes: DataFrame, enc: DataFrame,
      rawVecs: DataFrame, km: org.apache.spark.ml.clustering.KMeansModel,
      codebook: DataFrame, nprobe: Int, topK: Int = 3): DataFrame = {
    // a topK beyond the ADC shortlist depth would be silently truncated
    // (the re-rank can only return rows the PqRerank cut admitted) —
    // fail loudly at the seam instead (r17 advisor #4); widening the
    // shortlist is a recall decision a caller must make explicitly
    require(topK <= PqRerank,
      s"pqProbe topK=$topK exceeds the PqRerank=$PqRerank shortlist depth")
    val centroids = spark.createDataFrame(
      km.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq)
      .toDF("cell", "ccent")
    val wCell = Window.partitionBy("probe_id").orderBy(col("cdist"), col("cell"))
    val probeCells = probes.join(broadcast(centroids))
      .select(col("probe_id"), col("cell"), sqdist(col("pv"), col("ccent")).as("cdist"))
      .withColumn("rk", row_number().over(wCell))
      .filter(col("rk") <= nprobe)
      .select("probe_id", "cell")
    // ADC lookup table: probe × subspace × code partial distances (tiny).
    // Each contrib is floor-quantized to the 2²⁴ grid at LUT build time
    // (the cov draw-stability discipline): the per-candidate ADC score is
    // then an exact Long sum, so the row_number shortlist cut below is a
    // pure function of the data — an order-dependent double sum here could
    // flip shortlist membership at the PqRerank boundary on an ulp
    // (r12 advisor), and the annAppend spec demands bit-equal reruns.
    val adcGrid = graft.functions.CovFunctions.CovGridScale.toDouble
    val lut = probes.join(broadcast(codebook))
      .select(col("probe_id"), col("s"), col("code"),
        floor(sqdist(slice(col("pv"), col("s") * PqSubDim + 1, lit(PqSubDim)),
          col("centroid")) * adcGrid).cast("long").as("contrib"))
    val cand = enc.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .join(broadcast(lut), Seq("probe_id", "s", "code"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("contrib").as("adc"))
    val wAdc = Window.partitionBy("probe_id").orderBy(col("adc"), col("vec_id"))
    val shortlist = cand.withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= PqRerank).select("probe_id", "vec_id")
    // exact re-rank of the ADC shortlist by true cosine
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    shortlist
      .join(rawVecs, Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("v"), col("pv")), 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select("probe_id", "rk", "vec_id", "cos")
      .orderBy("probe_id", "rk")
  }

  /** INCREMENTAL index maintenance (round 12 — the vector twin of
    * `q_dedup_incremental`): append a new vector batch to the STANDING
    * IVF-PQ index under FROZEN artifacts — assign each new vector to its
    * nearest existing coarse cell and encode it against the existing
    * sub-codebooks, NO refit, NO rescan of the indexed corpus — then run
    * the standard probe set over the union index. This is the discipline a
    * 100 TB embedding store actually runs: codebooks are versioned
    * artifacts retrained on drift schedules, while ingest appends
    * batch-sized work (assign + encode is one broadcast join over the
    * batch — [[pqEncodeFrom]]); a full refit per batch would be
    * corpus-sized and would silently re-shuffle every stored code.
    *
    * Partition: the standing corpus is vec_id % 5 != 4, the append batch
    * is vec_id % 5 == 4 (20 %, deterministic at every sf, no count probe).
    * The frozen artifacts (coarse cells + codebooks, registry key
    * `<sf>-c80`) are fit on the CORPUS ONLY — the batch is genuinely
    * unseen. The standing encoded table is a materialized staging artifact
    * (`SourceOps.materialize`, pre-staged untimed by Bench): the append
    * reads it, never rebuilds it. Declared no-oracle (recall < 1 by
    * construction, like `q_ann_pq`): `q_knn_join` is the oracled exact
    * twin; VectorOpsSpec pins recall vs the exact top-k over the SAME
    * union corpus, appended-vector reachability (a probe planted on an
    * appended vector must retrieve it), and frozen-artifact equality
    * (appending a corpus duplicate yields its twin's cell and codes). */
  def annAppend(spark: SparkSession, sf: String, nprobe: Int = 2): DataFrame = {
    val emb = embProjection(spark, sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 4)
    val batch = emb.filter(col("vec_id") % 5 === 4)
    val km = coarseQuantizer(s"$sf-c80", 16, corpus)
    val books = pqCodebooksFrom(s"$sf-c80", corpus.select("v"))
    val codebook = pqCodebookFrame(spark, books)
    val standing = standingIndex(spark, sf, km, codebook, corpus)
    // THE APPEND: assign + encode the unseen batch under the frozen
    // artifacts — batch-sized (one broadcast join over 20 % of vectors)
    val encBatch = pqEncodeFrom(
      km.transform(batch).select(col("vec_id"), col("v"), col("cell")), codebook)
    val enc = standing.unionByName(encBatch)
    // standard probe set over the UNION index: appended vectors must be
    // as reachable as day-one ones
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    pqProbe(spark, probes, enc, emb.select(col("vec_id"), col("v")),
      km, codebook, nprobe)
  }

  /** The DELETE half of standing-index maintenance — [[annAppend]]'s
    * mirror, completing the ingest/expire lifecycle a 100 TB embedding
    * store runs: a batch (vec_id % 7 == 3 of the corpus — GDPR erasure, a
    * revoked source, an expired retention window) is TOMBSTONED out of the
    * standing encoded table by one filter. No refit, no re-encode, no
    * rebuild: the coarse cells and sub-codebooks stay frozen (deleting
    * rows does not invalidate a quantizer — it only shifts the optimum,
    * which is the same drift argument the append path documents) and the
    * standing artifact itself is untouched on disk — the tombstone is a
    * view the probes read. Probes are the surviving members of the
    * standard probe set; the declared contract (spec'd): a deleted vector
    * is NEVER retrieved, results are deterministic, and top-1 recall vs
    * the exact scan over the REMAINING corpus holds the q_ann_pq floor.
    * At scale the filter is a partition-pruned anti-join against a
    * tombstone set — batch-sized, like the append. */
  def annDelete(spark: SparkSession, sf: String, nprobe: Int = 2): DataFrame = {
    val emb = embProjection(spark, sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 4)
    val km = coarseQuantizer(s"$sf-c80", 16, corpus)
    val books = pqCodebooksFrom(s"$sf-c80", corpus.select("v"))
    val codebook = pqCodebookFrame(spark, books)
    // the SAME standing artifact annAppend maintains (shared registry key)
    val standing = standingIndex(spark, sf, km, codebook, corpus)
    // THE DELETE: one tombstone filter over the standing codes
    val live = standing.filter(col("vec_id") % 7 =!= 3)
    val remaining = corpus.filter(col("vec_id") % 7 =!= 3)
    val probes = remaining.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    pqProbe(spark, probes, live, remaining.select(col("vec_id"), col("v")),
      km, codebook, nprobe)
  }

  /** The STANDING encoded-corpus index, materialized ONCE per sf under the
    * shared registry key `ann_corpus_idx_<sf>` — the single definition all
    * three index-lifecycle disciplines read ([[annAppend]] ingest,
    * [[annDelete]] expire, [[annCompact]] rewrite). One construction site
    * (r13 advisor): if the corpus filter or encoding ever changes, every
    * maintenance path changes with it — no silently-divergent duplicate
    * closures behind one memoize key. */
  private[graft] def standingIndex(spark: SparkSession, sf: String,
      km: org.apache.spark.ml.clustering.KMeansModel, codebook: DataFrame,
      corpus: DataFrame): DataFrame = {
    val idxDir = graft.ops.SourceOps.materialize(s"ann_corpus_idx_$sf") { d =>
      pqEncodeFrom(km.transform(corpus).select(col("vec_id"), col("v"), col("cell")),
        codebook).write.parquet(s"$d/enc")
    }
    Tables.parquet(spark, s"$idxDir/enc")
  }

  /** Compact when the tombstoned fraction of the standing index reaches
    * this threshold — below it the rewrite's I/O outweighs the probe-time
    * saving of dropping dead codes (the fixture's 1/7 ≈ 0.143 dead
    * fraction crosses it, so the declared query always exercises the
    * rewrite path). */
  val CompactDeadFraction = 0.10

  /** COMPACTION — the third standing-index lifecycle discipline, after
    * ingest ([[annAppend]]) and expire ([[annDelete]]): once [[annDelete]]
    * tombstones accumulate past [[CompactDeadFraction]], rewrite the
    * standing encoded table to the LIVE set and let probes read the
    * compacted artifact instead of filtering dead codes forever. The
    * rewrite is a COPY, not a refit: coarse cells and sub-codebooks stay
    * frozen (same drift argument as append/delete), so compaction is one
    * filtered scan of the standing artifact — LIVE-SET-sized, never
    * corpus-HISTORY-sized, and at 100 TB it runs per-partition (each IVF
    * cell's file rewritten independently, dead entries dropped). The
    * load-bearing contract, spec'd bit-for-bit in PcaHybridSpec: probe
    * results over the compacted index are IDENTICAL to [[annDelete]]'s
    * tombstone view — it is the same live set, so compaction may never
    * change a single answer. An `audit` parquet (rows before/after, dead
    * fraction) is emitted next to the compacted table — the numbers an
    * operator alerts on. Declared no-oracle like its lifecycle siblings
    * (ANN recall < 1 by construction; `q_knn_join` is the oracled exact
    * twin). */
  def annCompact(spark: SparkSession, sf: String, nprobe: Int = 2): DataFrame = {
    val emb = embProjection(spark, sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 4)
    val km = coarseQuantizer(s"$sf-c80", 16, corpus)
    val books = pqCodebooksFrom(s"$sf-c80", corpus.select("v"))
    val codebook = pqCodebookFrame(spark, books)
    val standing = standingIndex(spark, sf, km, codebook, corpus)
    // THE COMPACTION: rewrite the tombstoned standing table to the live
    // set (one-time, memoized like the artifact it replaces). The counts
    // are artifact-sized actions at construction time, not per-probe work.
    val cmpDir = graft.ops.SourceOps.materialize(s"ann_corpus_idx_compact_$sf") { d =>
      val before = standing.count()
      val live = standing.filter(col("vec_id") % 7 =!= 3)
      val after = live.count()
      val deadFrac = (before - after).toDouble / before
      require(deadFrac >= CompactDeadFraction,
        s"compaction invoked below threshold: dead=$deadFrac < $CompactDeadFraction")
      live.write.parquet(s"$d/enc")
      import spark.implicits._
      // registry-standard rounding spelling (round(e, 4); same BigDecimal
      // HALF_UP under the hood) so every emitted artifact number flows
      // through the one rounding discipline the audit tools reason about;
      // nonnegative by construction, so no zero canonicalization needed
      Seq((before, after, deadFrac))
        .toDF("rows_before", "rows_after", "dead_fraction")
        .select(col("rows_before"), col("rows_after"),
          round(col("dead_fraction"), 4).as("dead_fraction"))
        .write.parquet(s"$d/audit")
    }
    val compacted = Tables.parquet(spark, s"$cmpDir/enc")
    val remaining = corpus.filter(col("vec_id") % 7 =!= 3)
    val probes = remaining.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    pqProbe(spark, probes, compacted, remaining.select(col("vec_id"), col("v")),
      km, codebook, nprobe)
  }

  /** One (system, recall_at_3, mrr) row of a retrieval-quality audit:
    * recall@k and MRR of a (probe_id, rk, vec_id) ranking against the
    * exact ground truth of the same shape, averaged per probe. Exact
    * rationals of the integer ranks; the per-probe reciprocal ranks are
    * floor-quantized to the 2²⁴ grid and Long-summed before the ÷n (the
    * one multi-term float sum, made shuffle-order-independent the
    * standard way). Shared by [[graft.ops.TextOps.retrievalEvalAnn]] (the
    * index-family dashboard) and [[annRetrainEval]] (the version
    * handover gate). */
  private[graft] def retrievalMetricsRow(name: String, gt: DataFrame,
      sys: DataFrame, k: Int): DataFrame = {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    // NOT persisted, deliberately (r20): gt/sys are referenced 2-3× below
    // and the callers fan the same gt into several rows, so caching looks
    // attractive — but it measured 1.7× SLOWER (q_retrieval_eval_ann 9.1 s
    // warm vs 5.2 s): the duplicated subtrees execute as concurrent
    // broadcast-exchange futures across the union's branches (stage wall
    // 19.8 s packs into 5.2 s elapsed), and a cache turns that overlap
    // into sequential InMemoryRelation materialization barriers.
    val gtr = gt.select(col("probe_id"), col("rk").as("gt_rk"), col("vec_id"))
    // bound the system side to its top-k: every current caller passes a
    // top-3 table with k=3, but the helper's contract must hold for any
    // (system, k) — a deeper ranking would otherwise count hits beyond
    // rank k while k still set the denominator and the column name
    val ranked = sys.filter(col("rk") <= k)
      .select(col("probe_id"), col("rk").as("sys_rk"), col("vec_id"))
    val nProbes = gtr.select(countDistinct("probe_id").as("np"))
    val hits = gtr.join(ranked, Seq("probe_id", "vec_id"))
      .agg(count(lit(1)).as("hits"))
    val mrr = gtr.filter(col("gt_rk") === 1)
      .join(ranked, Seq("probe_id", "vec_id"), "left")
      .select(coalesce(lit(1.0) / col("sys_rk"), lit(0.0)).as("recip"))
      .agg((sum(floor(col("recip") * g).cast("long")).cast("double") / g).as("rsum"))
    hits.crossJoin(mrr).crossJoin(nProbes)
      .select(lit(name).as("system"),
        // column name tracks k — a k=5 caller must not emit recall@5
        // values under a recall_at_3 header
        round(col("hits") / (lit(k + 0.0) * col("np")), 4).as(s"recall_at_$k"),
        round(col("rsum") / col("np"), 4).as("mrr"))
  }

  /** RETRAIN — the FOURTH standing-index lifecycle discipline, the one
    * the other three exist to avoid paying per batch: ingest
    * ([[annAppend]]), expire ([[annDelete]]) and compaction
    * ([[annCompact]]) all run under FROZEN coarse cells and codebooks,
    * on the documented argument that data drift only shifts the
    * quantizer's optimum. This query is the drift-schedule settlement:
    * retrain the artifacts on the CURRENT corpus (v2 = the full-table
    * fit, `coarseQuantizer(sf)`/`pqCodebooks(sf)` — a one-time
    * corpus-sized rebuild, exactly what a store amortizes over a long
    * schedule) and emit the GO/NO-GO audit a production store runs before
    * promoting it: recall@3 and MRR of the stale-frozen index (v1 — the
    * c80 artifacts fit before the append batch existed, probing the union
    * through [[annAppend]]) against the retrained one (v2 — [[annPq]]
    * over the same union), both vs the exact scan. Versioned-key
    * artifacts mean v1 keeps serving while v2 builds — the handover is a
    * pointer swap gated on this table. Declared no-oracle (KMeans-derived
    * rankings; twin: `q_retrieval_eval`); the metrics are deterministic
    * exact rationals, spec'd against a test-side recompute. */
  def annRetrainEval(spark: SparkSession, sf: String): DataFrame = {
    // same k as the oracled twin q_retrieval_eval (the twin contract
    // assumes one eval depth across the retrieval-audit family)
    val k = graft.ops.TextOps.EvalK
    val gt = knnJoin(spark, sf)
    retrievalMetricsRow("pq_v1_frozen", gt, annAppend(spark, sf), k)
      .unionByName(retrievalMetricsRow("pq_v2_retrained", gt, annPq(spark, sf), k))
      .orderBy("system")
  }

  /** The composed lifecycle's artifact chain — built ONCE here (the
    * [[standingIndex]] one-construction-site discipline, extended to the
    * whole composition) so [[annLifecycle]] and the spec's probe-identity
    * seam ([[annLifecycleProbes]]) can never diverge on what "the chain"
    * means: standing corpus index → ingest the % 5 == 4 batch under the
    * FROZEN c80 artifacts → tombstone % 7 == 3 as a view → threshold-gated
    * compaction into the versioned `ann_corpus_idx_lifecycle_<sf>` artifact
    * (pure-prefix keyed ⇒ auto re-derived by the stability gate). */
  private case class LifecycleChain(standing: DataFrame, union: DataFrame,
      liveView: DataFrame, compacted: DataFrame, liveCorpus: DataFrame,
      probes: DataFrame, km: org.apache.spark.ml.clustering.KMeansModel,
      codebook: DataFrame)

  /** The PERSISTED (vec_id, v, fv) embedding projection per (context, sf,
    * gate confs) — a session artifact ([[Artifacts.session]]) for the ANN
    * family's shared scan (r17 verdict #1, the [[graft.ops.TextOps]] token
    * relation discipline): the persist exists to share one embeddings
    * projection across a query's quantizer fit, encode and probe arms, but
    * per-invocation persists parked a fresh cache registration per
    * annPq/annAppend/annDelete/annCompact/ivfTopk/semDedup/chain-build
    * call (CacheManager plan-dedup bounded the memory, yet the sharing was
    * implicit and the registrations grew — the suite log's "Asked to cache
    * already cached data" warnings). */
  private[graft] def embProjection(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    Artifacts.session(spark, "embProjection", sf)(
      Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("fv", array_to_vector(col("v")))).persistOnce()
  }

  /** The composed chain, stored per (context, sf, gate confs) (r15
    * advisor #4): the declared query plus the spec's two probe arms each
    * build the chain, and every build persisted a fresh copy of the
    * embeddings projection with no unpersist — storing the WHOLE chain
    * leaves one cached copy per context however many consumers run. The
    * gate confs in the key (r16 review) make the stability gate's
    * perturbed re-run build its own chain instead of silently reading one
    * constructed under default partitioning. */
  private def lifecycleChain(spark: SparkSession, sf: String): LifecycleChain =
    Artifacts.session(spark, "lifecycleChain", sf)(buildLifecycleChain(spark, sf))

  private def buildLifecycleChain(spark: SparkSession, sf: String): LifecycleChain = {
    val emb = embProjection(spark, sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 4)
    val batch = emb.filter(col("vec_id") % 5 === 4)
    val km = coarseQuantizer(s"$sf-c80", 16, corpus)
    val codebook = pqCodebookFrame(spark,
      pqCodebooksFrom(s"$sf-c80", corpus.select("v")))
    val standing = standingIndex(spark, sf, km, codebook, corpus)
    val encBatch = pqEncodeFrom(
      km.transform(batch).select(col("vec_id"), col("v"), col("cell")), codebook)
    val union = standing.unionByName(encBatch)
    val liveView = union.filter(col("vec_id") % 7 =!= 3)
    val cmpDir = graft.ops.SourceOps.materialize(s"ann_corpus_idx_lifecycle_$sf") { d =>
      // artifact-sized actions at construction time (the annCompact
      // pattern): the rewrite is gated on the same dead-fraction threshold
      val before = union.count()
      val after = liveView.count()
      val deadFrac = (before - after).toDouble / before
      require(deadFrac >= CompactDeadFraction,
        s"lifecycle compaction invoked below threshold: dead=$deadFrac < $CompactDeadFraction")
      liveView.write.parquet(s"$d/enc")
    }
    val compacted = Tables.parquet(spark, s"$cmpDir/enc")
    val liveCorpus = emb.filter(col("vec_id") % 7 =!= 3)
    val probes = liveCorpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    LifecycleChain(standing, union, liveView, compacted, liveCorpus, probes,
      km, codebook)
  }

  /** The composed chain's probe table over either the COMPACTED artifact
    * or the pre-compaction TOMBSTONE VIEW — the spec's seam for the
    * composition-identity contract: both read the same live set through
    * the same frozen artifacts, so their results must be bit-identical
    * (compaction may never change a single answer, composed edition). */
  private[graft] def annLifecycleProbes(spark: SparkSession, sf: String,
      useCompacted: Boolean, nprobe: Int = 2, topK: Int = 3): DataFrame = {
    val ch = lifecycleChain(spark, sf)
    pqProbe(spark, ch.probes, if (useCompacted) ch.compacted else ch.liveView,
      ch.liveCorpus.select(col("vec_id"), col("v")), ch.km, ch.codebook, nprobe,
      topK)
  }

  /** LIFECYCLE COMPOSITION (r14 verdict #5) — ingest → expire → compact →
    * retrain-gate as ONE declared query over one versioned artifact chain,
    * emitting the four audit rows an operator's runbook reads: proof the
    * four disciplines COMPOSE rather than only existing as isolated
    * queries. Steps 1–3 are [[annAppend]]/[[annDelete]]/[[annCompact]]'s
    * semantics threaded through each other (the union index is what gets
    * tombstoned; the tombstoned union is what gets compacted — each
    * standalone query exercises its discipline against the base corpus
    * artifact instead); step 4 is [[annRetrainEval]]'s GO/NO-GO settled on
    * the POST-maintenance live corpus: v1 = the frozen c80 artifacts
    * probing the compacted index, v2 = artifacts RETRAINED on the current
    * live corpus (versioned key `<sf>-lc2` — key-derivable corpus per the
    * cache-honesty rule: the % 7 ≠ 3 live set), both against the exact
    * scan, handover verdict = GO iff v2's published recall@k ≥ v1's.
    * Every count and metric is a declarative aggregate (no driver
    * actions); all model fits are fixed-seed registry artifacts. At
    * 100 TB each step stays its own size: ingest batch-sized, expiry a
    * view, compaction live-set-sized, retrain the one corpus-sized cost
    * the gate exists to amortize. Declared no-oracle (ANN recall < 1 by
    * construction; oracled exact twin `q_knn_join`); the composition
    * identity and the audit arithmetic are spec'd in PcaHybridSpec. */
  def annLifecycle(spark: SparkSession, sf: String, nprobe: Int = 2): DataFrame = {
    val k = graft.ops.TextOps.EvalK
    val ch = lifecycleChain(spark, sf)
    // exact ground truth over the CURRENT live corpus (the knnJoin shape,
    // restricted to post-maintenance reality)
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    val gt = ch.liveCorpus.select(col("vec_id"), col("v"))
      .join(broadcast(ch.probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (round(cosine(col("v"), col("pv")), 4) + lit(0.0)).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("probe_id", "rk", "vec_id")
    val v1 = pqProbe(spark, ch.probes, ch.compacted,
      ch.liveCorpus.select(col("vec_id"), col("v")), ch.km, ch.codebook, nprobe)
    val km2 = coarseQuantizer(s"$sf-lc2", 16, ch.liveCorpus)
    val codebook2 = pqCodebookFrame(spark,
      pqCodebooksFrom(s"$sf-lc2", ch.liveCorpus.select("v")))
    val enc2 = pqEncodeFrom(
      km2.transform(ch.liveCorpus).select(col("vec_id"), col("v"), col("cell")),
      codebook2)
    val v2 = pqProbe(spark, ch.probes, enc2,
      ch.liveCorpus.select(col("vec_id"), col("v")), km2, codebook2, nprobe)
    val r1 = retrievalMetricsRow("v1", gt, v1, k)
      .select(col(s"recall_at_$k").as("r1"))
    val r2 = retrievalMetricsRow("v2", gt, v2, k)
      .select(col(s"recall_at_$k").as("r2"))
    // the four audit rows, every number a declarative aggregate
    def cnt(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    def frac(a: Column, b: Column) = round(a.cast("double") / b.cast("double"), 4)
    val ingest = cnt(ch.standing, "b").crossJoin(cnt(ch.union, "a"))
      .select(lit(1L).as("step"), lit("ingest").as("stage"),
        col("b").as("rows_before"), col("a").as("rows_after"),
        frac(col("a") - col("b"), col("a")).as("metric"),
        lit("APPLIED").as("verdict"))
    val expire = cnt(ch.union, "b").crossJoin(cnt(ch.liveView, "a"))
      .select(lit(2L).as("step"), lit("expire").as("stage"),
        col("b").as("rows_before"), col("a").as("rows_after"),
        frac(col("b") - col("a"), col("b")).as("metric"),
        lit("APPLIED").as("verdict"))
    val compact = cnt(ch.union, "b").crossJoin(cnt(ch.compacted, "a"))
      .select(lit(3L).as("step"), lit("compact").as("stage"),
        col("b").as("rows_before"), col("a").as("rows_after"),
        frac(col("b") - col("a"), col("b")).as("metric"),
        lit("APPLIED").as("verdict"))
    val handover = cnt(ch.liveView, "b").crossJoin(cnt(ch.compacted, "a"))
      .crossJoin(r1).crossJoin(r2)
      .select(lit(4L).as("step"), lit("handover").as("stage"),
        col("b").as("rows_before"), col("a").as("rows_after"),
        // signed (v2 may lose recall) → zero-canonicalized like every
        // negative-capable round in the registry
        (round(col("r2") - col("r1"), 4) + lit(0.0)).as("metric"),
        when(col("r2") >= col("r1"), lit("GO")).otherwise(lit("NO-GO"))
          .as("verdict"))
    ingest.unionByName(expire).unionByName(compact).unionByName(handover)
      .orderBy("step")
  }

  /** Cosine threshold for [[semDedup]] — the same 0.45 that marks the
    * fixture's planted near-dups in [[dedupCosine]], so the exact all-pairs
    * form is directly the recall baseline. */
  val SemDedupThreshold = 0.45

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup by
    * clustering THEN comparing: assign every embedding to a k-means cell
    * (the [[ivfTopk]] coarse quantizer, same cells), compare pairs only
    * WITHIN a cell, and drop any vector with a smaller-id cell-mate above
    * the threshold (deterministic stand-in for the paper's
    * keep-farthest-from-centroid; keep-lowest-id makes the keep set
    * reproducible and testable). Emits the full keep/drop decision table.
    * Plan: one fit on the persisted scan, then a single equi-join on cell —
    * never all-pairs; per-cell pair volume is (n/k)² per cell, so the
    * DECLARED k tracks the data: k = max(16, ⌈√n⌉), the paper's k≈√n
    * regime, keeping total within-cell compares at n^1.5 instead of the
    * eventually-quadratic fixed-k form (the round-7 scale decade in
    * PLANS.md measures both). The n probe is a 1-row count on the persisted scan the
    * quantizer fit is about to materialize anyway — a data-dependent plan
    * choice, not a driver-side loop (ledger class: GraphOps scalars).
    * Precision is 1 (the within-cell cosine is exact); only recall is
    * clustering-dependent — pairs split across cells are missed — which is
    * why this is declared no-oracle with a measured recall bound against
    * the oracled exact twin ([[dedupCosine]]) in VectorOpsSpec. Pass k > 0
    * to pin the cell count (tests, the smoke's fixed-k arm). */
  /** One-pass covariance rollup over the embedding corpus — the
    * distributed-linear-algebra primitive under PCA / whitening / Mahalanobis
    * outlier scoring in an embedding-curation pipeline: cov(i,j) =
    * Σxᵢxⱼ/n − x̄ᵢx̄ⱼ over the d×d symmetric HALF (i ≤ j; the mirror is free
    * at read). The outer products are ROW-LOCAL (a nested transform over the
    * vector — no self-join, no per-row shuffle), so the plan is one
    * generate + one hash aggregate with map-side combine: each partition
    * collapses to ≤ d(d+1)/2 cells before the shuffle, and the shuffle
    * volume is d² × partitions regardless of corpus size — the property
    * that makes a covariance pass viable over 100 TB of embeddings (d=64 ⇒
    * 2080 cells ≈ 100 KB per partition).
    *
    * DRAW-STABILITY (round-12 fix): the r11 form summed raw doubles and
    * failed the driver's oracle — summation order is shuffle-arrival-
    * dependent, and the fixture's cov values sit ON round-6 half-boundaries
    * (cell (42,54) at sf0.01 is 2.5e-11 from one). The sums are now EXACT:
    * every term is floor-quantized once to the binary 2²⁴ grid
    * ([[graft.functions.CovFunctions.CovGridScale]]; float·float·2²⁴ is
    * exactly representable in double, so floor has no tie rule and no
    * engine divergence) and accumulated as Longs. The declared cov is
    * therefore a pure function of the data — byte-identical across
    * partitionings (spec'd at 7 vs 31 shuffle partitions) — and the final
    * cov = (sxy/2²⁴)/n − ((sx/2²⁴)/n)·((sy/2²⁴)/n) arithmetic stays in SQL,
    * spelled identically in the DuckDB twin.
    *
    * Round-11 tier descent (measured, the ladder's rule): the declarative
    * explode+groupBy spelling ([[embedCovDeclarative]]) was the only
    * round-11 addition with a visible decade term (exponent 0.45 — it
    * materializes n·d(d+1)/2 rows through a hash aggregate). The declared
    * form runs [[graft.functions.CovFunctions.cov_accum_agg]], a
    * `TypedImperativeAggregate` whose buffer IS the packed triangle: per
    * row a tight d²/2 multiply-floor loop, per partition ONE ~17 KB buffer
    * shuffled. Equality with the declarative form is spec'd — and because
    * both sides are exact, the spec demands BIT equality, not tolerance. */
  def embedCov(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .agg(graft.functions.CovFunctions.cov_accum_agg(col("embedding")).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), covFromSums(col("c")))
      .orderBy("i", "j")

  /** The shared final-arithmetic spelling over [[graft.functions.CovAccumAgg]]'s
    * exact quantized sums: cov = (sxy/2²⁴)/n − ((sx/2²⁴)/n)·((sy/2²⁴)/n),
    * round 6 — mirrored verbatim in the DuckDB oracle. Long→double
    * conversions and the division order are IEEE-identical across engines
    * because the integer inputs are exact. The trailing `+ 0.0`
    * canonicalizes the zero (IEEE: −0.0 + 0.0 = +0.0): Spark's `round`
    * goes through BigDecimal (no signed zero, always +0.0) while DuckDB's
    * preserves −0.0 on tiny-negative inputs, so without it the engines
    * hash-diverge on exactly the cells whose cov rounds to zero (r12
    * driver failure — 4 cells across the two cov queries). Spelled on
    * BOTH sides so each engine's output is sign-normalized regardless of
    * its round semantics. */
  private[graft] def covFromSums(c: Column): Column =
    (round(covExactFromSums(c), 6) + lit(0.0)).as("cov")

  /** The UNROUNDED exact-arithmetic covariance from the quantized Long
    * sums — a pure function of the data (every input exact, every IEEE op
    * engine-identical). [[pcaPower]] iterates over this full-precision
    * value; the declared cov queries round it via [[covFromSums]]. */
  private def covExactFromSums(c: Column): Column = {
    val g = lit(graft.functions.CovFunctions.CovGridScale.toDouble)
    c("sxy") / g / c("n") - (c("sx") / g / c("n")) * (c("sy") / g / c("n"))
  }

  /** Outliers reported by [[embedOutliers]]. */
  val EmbedOutlierK = 20

  /** Embedding OUTLIER scoring — the curation step that prunes corrupt or
    * degenerate vectors before training: each vector's variance-normalized
    * squared distance to the corpus centroid, Σᵢ (xᵢ−μᵢ)²/σᵢ² (diagonal
    * Mahalanobis; the full-matrix form would consume [[embedCov]]'s
    * triangle), top-[[EmbedOutlierK]] reported. Plan: ONE positional
    * explode feeds both halves — a d-row (μ, σ²) grid (map-combined
    * aggregate; at 100 TB this grid comes from the standing moment/KLL
    * store instead of a fresh pass) broadcast back onto the exploded
    * rows, then a per-vector sum and TakeOrderedAndProject. Zero-variance
    * dims are dropped on BOTH engines (a constant dim carries no outlier
    * signal and would divide by zero). Deterministic: round 4 before the
    * (dist desc, vec_id) order. */
  def embedOutliers(spark: SparkSession, sf: String): DataFrame = {
    val x = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("i", "v")))
    val stats = x.groupBy("i")
      .agg(avg("v").as("mu"), var_pop("v").as("s2"))
      .filter(col("s2") > 0)
    x.join(broadcast(stats), "i")
      .groupBy("vec_id")
      .agg(round(sum(pow(col("v") - col("mu"), 2) / col("s2")), 4).as("m_dist"))
      .orderBy(col("m_dist").desc, col("vec_id"))
      .limit(EmbedOutlierK)
  }

  /** Per-LABEL covariance — [[embedCov]] grouped by class, the form
    * per-class Mahalanobis scoring and LDA-style analysis actually
    * consume: one [[graft.functions.CovAccumAgg]] buffer per (partition,
    * label) with map-side partial aggregation, so the shuffle is
    * n_labels × ~17 KB buffers per partition — class cardinality bounds
    * state, corpus size never does. Same SQL-visible exact-quantized cov
    * arithmetic and DuckDB twin as the global form ([[embedCov]]'s
    * draw-stability note applies verbatim), plus the label key. */
  def embedCovByLabel(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .groupBy(col("label").cast("long").as("label"))
      .agg(graft.functions.CovFunctions.cov_accum_agg(col("embedding")).as("cells"))
      .select(col("label"), explode(col("cells")).as("c"))
      .select(col("label"), col("c.i").as("i"), col("c.j").as("j"), covFromSums(col("c")))
      .orderBy("label", "i", "j")

  /** The declarative explode+groupBy twin of [[embedCov]] (spec seam; see
    * the tier-descent note above). Same 2²⁴ floor-quantized Long sums, so
    * the spec can demand BIT equality with the buffer aggregate. */
  private[graft] def embedCovDeclarative(spark: SparkSession, sf: String): DataFrame = {
    val g = graft.functions.CovFunctions.CovGridScale
    val cells = Tables.load(spark, sf, "embeddings")
      .select(explode(expr(
        """flatten(transform(sequence(0, size(embedding) - 1), i ->
          |  transform(sequence(i, size(embedding) - 1), j ->
          |    struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
          |      CAST(element_at(embedding, i + 1) AS DOUBLE) AS xi,
          |      CAST(element_at(embedding, j + 1) AS DOUBLE) AS xj))))"""
          .stripMargin)).as("c"))
      .select("c.i", "c.j", "c.xi", "c.xj")
    cells.groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(expr(s"CAST(floor(xi * xj * $g.0D) AS BIGINT)")).as("sxy"),
        sum(expr(s"CAST(floor(xi * $g.0D) AS BIGINT)")).as("sx"),
        sum(expr(s"CAST(floor(xj * $g.0D) AS BIGINT)")).as("sy"))
      .select(col("i"), col("j"),
        covFromSums(struct(col("sxy"), col("sx"), col("sy"), col("n"))))
      .orderBy("i", "j")
  }

  /** Power-iteration rounds in [[pcaPower]] — fixed so the DuckDB oracle
    * can unroll them as CTEs (the bounded-iteration contract of
    * q_pagerank/q_communities/q_kcore). 8 rounds is plenty for a rank
    * ESTIMATE whose job is determinism, not convergence guarantees: the
    * spec pins the planted-fixture eigenpair exactly, and on the real
    * fixture both engines run the identical 8 rounds. */
  val PcaRounds = 8

  /** The staged covariance matrix artifact — the d(d+1)/2 triangle from
    * [[graft.functions.CovAccumAgg]]'s exact quantized sums, materialized
    * ONCE per corpus at FULL precision (unrounded [[covExactFromSums]]; a
    * pure function of the data, so the artifact is draw-stable), then
    * mirrored to the full d×d matrix at read. This is what makes
    * [[embedCov]] load-bearing instead of terminal: PCA / whitening /
    * full-Mahalanobis all consume this table, and at 100 TB it is computed
    * by one corpus pass and reused forever (d=64 ⇒ 2080 rows ≈ nothing). */
  private[graft] def covCellsFull(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"cov_cells_$sf") { d =>
      Tables.load(spark, sf, "embeddings")
        .agg(graft.functions.CovFunctions.cov_accum_agg(col("embedding")).as("cells"))
        .select(explode(col("cells")).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"),
          covExactFromSums(col("c")).as("cov"))
        .write.parquet(s"$d/cells")
    }
    val tri = Tables.parquet(spark, s"$dir/cells")
    tri.union(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov")))
  }

  /** [[PcaRounds]] synchronous power-iteration rounds over a full (i, j,
    * cov) matrix table: y ← A·v as a quantized-Long sum per row (each
    * product term floor-quantized once to the 2²⁴ grid — the cov
    * draw-stability discipline, so the 64-term row sums are EXACT and
    * shuffle-order-independent), then v ← y / max|y|. Normalizing by the
    * infinity norm instead of L2 keeps every step exact-deterministic:
    * max is order-independent where an L2 sum-of-squares would reintroduce
    * the order-dependent double sum the quantization just removed. The
    * iterate is a d-row frame (broadcast), each round ONE matrix-vector
    * product over d² cells — driver never sees the data. Returns one row
    * per dimension: (i, comp = vᴷᵢ rounded 6 zero-canonicalized, lambda =
    * max|yᴷ| rounded 6 — the ∞-norm eigenvalue estimate, exact for an
    * eigenvector fixed point). */
  private[graft] def powerIterate(cells: DataFrame, rounds: Int,
      start: Column = lit(1.0)): DataFrame = {
    // fail-loud discipline (r13 advisor): rounds < 1 would leave `last`
    // null (NPE far from the cause), and a zero ∞-norm (zero matrix, or a
    // start exactly in the null space — e.g. deflating a rank-1 matrix)
    // would silently propagate 0/0 = NaN into comp/lambda
    require(rounds >= 1, s"powerIterate needs at least one round, got $rounds")
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    // `start` is an expression over col("i"): all-ones for the top PC;
    // the deflated pass uses the e₀ indicator because all-ones is EXACTLY
    // orthogonal to the second eigenvector of a symmetric 2×2 (and nearly
    // so in structured fixtures) — a start in the eigenvector's null space
    // never converges
    var v = cells.select(col("i")).distinct()
      .select(col("i").as("j"), start.as("v"))
    var last: DataFrame = null
    // the ∞-norm attaches via an empty-frame window (one d-row partition —
    // exactly the old crossJoin(broadcast(max)) value, r20): the separate
    // 1-row agg + broadcast cost one extra driver job per round on a
    // bounded-dim (d-row) iterate. The per-round eager localCheckpoint
    // stays: it keeps each round's plan flat, and a fully-lazy K-round
    // chain measured SLOWER (4.2 s vs 2.8 s on q_pca_deflate) — AQE
    // re-derives every nested stage at the single terminal action.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    for (_ <- 1 to rounds) {
      val y = cells.join(broadcast(v), "j")
        .groupBy("i")
        .agg((sum(floor(col("cov") * col("v") * g).cast("long")).cast("double") / g)
          .as("y"))
      last = y.withColumn("m", max(abs(col("y"))).over(wAll)).localCheckpoint()
      v = last.select(col("i").as("j"), (col("y") / col("m")).as("v"))
    }
    // fail loud on a zero ∞-norm instead of emitting NaN eigenpairs —
    // guarded on every output column so Catalyst's column pruning can
    // never optimize the check away for a consumer that drops one of them
    val mchk = when(col("m") > 0, col("m")).otherwise(raise_error(lit(
      "powerIterate: zero infinity norm (zero matrix or null-space start)")))
    last.select(col("i"),
        (round(col("y") / mchk, 6) + lit(0.0)).as("comp"),
        round(mchk, 6).as("lambda"),
        mchk.as("m_raw")) // unrounded ∞-norm estimate for downstream ratios
      .orderBy("i")
  }

  /** Top principal component of the embedding corpus — the consumer that
    * makes the covariance pass load-bearing (r12 verdict #6): [[PcaRounds]]
    * bounded power-iteration rounds over the STAGED exact-cov matrix
    * ([[covCellsFull]]). Deterministic end to end: fixed all-ones start,
    * exact-quantized matrix entries, quantized-Long mat-vec sums, ∞-norm
    * normalization — so the unrolled-round DuckDB oracle value-checks the
    * whole eigenpair. Plan: 8 tiny jobs over a 4096-row matrix with a
    * broadcast 64-row iterate; at 100 TB the matrix is the same 4096 rows
    * (one standing artifact), so this query's cost is corpus-independent. */
  def pcaPower(spark: SparkSession, sf: String): DataFrame = {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val cells = covCellsFull(spark, sf)
    // trace of Σ as a quantized-Long sum of the 64 exact diagonal cells
    // (a raw 64-double sum would be shuffle-order-dependent); λ/trace is
    // the fraction of total variance the top PC explains — the number a
    // curation pipeline actually reads off this query
    val tr = cells.filter(col("i") === col("j"))
      .agg((sum(floor(col("cov") * g).cast("long")).cast("double") / g).as("trace"))
    powerIterate(cells, PcaRounds)
      .crossJoin(broadcast(tr))
      .select(col("i"), col("comp"), col("lambda"),
        round(col("m_raw") / col("trace"), 6).as("var_explained"))
      .orderBy("i")
  }

  /** The staged top-eigenpair artifact (i, comp, lambda) — fit once per
    * corpus like the PQ codebooks (a pure function of the staged cov
    * matrix, so it is draw-stable); [[pcaProject]], [[pcaDeflate]] and
    * [[whiten]] all read it — re-iterating per consumer would bill the
    * one-time fit to every query. */
  private[graft] def eigArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"pca_eig_$sf") { d =>
      pcaPower(spark, sf).select(col("i"), col("comp"), col("lambda"))
        .write.parquet(s"$d/pc")
    }
    Tables.parquet(spark, s"$dir/pc")
  }

  /** Projection of every embedding onto the top principal component — the
    * dimensionality-reduction / curation score the eigenpair exists for
    * (rank-1 PCA features, low-variance-direction pruning). Consumes
    * [[pcaPower]]'s declared eigenvector (the ROUNDED comp — both engines
    * join against the identical published values). Plan: one positional
    * explode, broadcast of the 64-row PC, then a per-vector quantized-Long
    * dot product (each x·comp term floor-quantized to the 2²⁴ grid — the
    * 64-term sum would otherwise be shuffle-order-dependent). The explode
    * rows of one vector are generated contiguously, so the partial
    * aggregate collapses them map-side: shuffle volume is n rows, not n×d
    * (the [[embedOutliers]] plan shape). Projections are signed → round 4
    * with zero canonicalization. */
  def pcaProject(spark: SparkSession, sf: String): DataFrame = {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val pc = eigArtifact(spark, sf).select("i", "comp")
    Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
      .select(col("vec_id"), col("i").cast("long").as("i"), col("x"))
      .join(broadcast(pc), "i")
      .groupBy("vec_id")
      .agg((round(
        sum(floor(col("x") * col("comp") * g).cast("long")).cast("double") / g, 4)
        + lit(0.0)).as("proj"))
      .orderBy("vec_id")
  }

  /** Hotelling deflation of a full (i, j, cov) matrix by a published
    * eigenpair table (i, comp, lambda): A′ = A − λ·(u uᵀ)/(uᵀu). Every
    * input is an exact published value (the ROUNDED comp/lambda — both
    * engines read identical numbers) and uᵀu is a quantized-Long sum, so
    * each A′ cell is one IEEE expression over exact inputs —
    * engine-identical, spelled the same in the DuckDB twin. */
  private[graft] def deflateCells(cells: DataFrame, eig: DataFrame): DataFrame = {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val s = eig.agg((sum(floor(col("comp") * col("comp") * g).cast("long"))
      .cast("double") / g).as("s"))
    val lam = eig.agg(max("lambda").as("l")) // constant per row; max = the value
    cells
      .join(broadcast(eig.select(col("i"), col("comp").as("ui"))), "i")
      .join(broadcast(eig.select(col("i").as("j"), col("comp").as("uj"))), "j")
      .crossJoin(broadcast(lam))
      .crossJoin(broadcast(s))
      .select(col("i"), col("j"),
        (col("cov") - col("l") * col("ui") * col("uj") / col("s")).as("cov"))
  }

  /** Start vector for eigen-ladder rung k (r15 — the ONE recipe the whole
    * ladder runs on; pcaDeflate previously hardcoded rung 2): all-ones for
    * the top eigenpair, the e₍ₖ₋₂₎ indicator for every deflated rung (rung
    * 2 keeps its original e₀ start — the values of every published
    * artifact are unchanged by this refactor). A fixed basis start CAN lie
    * in (or near) a deflated matrix's null space for adversarial spectra —
    * [[powerIterate]]'s zero-∞-norm guard fails loudly there, and the
    * planted-fixture spec chooses eigenvectors with provably nonzero
    * start components (documented in PcaHybridSpec). */
  private[graft] def rungStart(k: Int): Column =
    if (k == 1) lit(1.0)
    else when(col("i") === lit((k - 2).toLong), lit(1.0)).otherwise(lit(0.0))

  /** Hotelling-deflate `cells` by each published eigenpair in order —
    * rung k's input matrix is `deflateChain(A, rungs 1..k-1)`. */
  private[graft] def deflateChain(cells: DataFrame, eigs: Seq[DataFrame]): DataFrame =
    eigs.foldLeft(cells)(deflateCells)

  /** The k'th-rung eigenpair (i, comp, lambda) over an explicit matrix and
    * explicit prior rungs — the sf-free seam the planted-fixture spec
    * drives directly. Every rung is the same expression: deflate by the
    * priors' PUBLISHED (rounded) values, iterate [[PcaRounds]] quantized
    * rounds from [[rungStart]]. */
  private[graft] def eigRungFrom(cells: DataFrame, k: Int,
      prior: Seq[DataFrame]): DataFrame = {
    require(prior.length == k - 1,
      s"rung $k needs ${k - 1} prior eigenpairs, got ${prior.length}")
    powerIterate(deflateChain(cells, prior), PcaRounds, rungStart(k))
      .select(col("i"), col("comp"), col("lambda"))
  }

  /** The k'th STAGED eigenpair artifact of the corpus ladder, normalized
    * to (i, comp, lambda) — rung 1 is [[eigArtifact]], rung 2 the
    * pre-existing `pca_eig2_` artifact (its on-disk comp2/lambda2 column
    * names kept for its direct consumers), rung k ≥ 3 stages under
    * `pca_eig<k>_<sf>` (the `pca_eig` pure prefix ⇒ every rung's
    * construction is auto re-derived by the stability gate). Each rung
    * deflates by the PUBLISHED prior artifacts, so downstream consumers
    * and the DuckDB oracles read identical numbers. */
  private[graft] def eigPair(spark: SparkSession, sf: String, k: Int): DataFrame = {
    require(k >= 1, s"eigen-ladder rung must be >= 1, got $k")
    if (k == 1) eigArtifact(spark, sf)
    else if (k == 2) eig2Artifact(spark, sf).select(col("i"),
      col("comp2").as("comp"), col("lambda2").as("lambda"))
    else {
      val dir = graft.ops.SourceOps.materialize(s"pca_eig${k}_$sf") { d =>
        eigRungFrom(covCellsFull(spark, sf), k,
          (1 until k).map(eigPair(spark, sf, _)))
          .write.parquet(s"$d/pc")
      }
      Tables.parquet(spark, s"$dir/pc")
    }
  }

  /** SECOND principal component — rung 2 of the one ladder recipe
    * ([[eigRungFrom]]; r15 generalized what previously hardcoded this
    * rung). Start vector is the e₀ indicator, not all-ones: all-ones lies
    * in (or near) the deflated matrix's null space (it IS the top
    * eigenvector direction in symmetric fixtures). Same determinism story
    * end to end: the deflated cells are exact expressions over published
    * values, the iteration is quantized, the DuckDB oracle unrolls the
    * identical rounds over the identical deflation CTE. */
  def pcaDeflate(spark: SparkSession, sf: String): DataFrame =
    eigRungFrom(covCellsFull(spark, sf), 2, Seq(eigArtifact(spark, sf)))
      .select(col("i"), col("comp").as("comp2"), col("lambda").as("lambda2"))
      .orderBy("i")

  /** THIRD principal component — rung 3 of the ladder, proving the recipe
    * generalizes (r14 verdict #3): two deflations by the published rung-1
    * and rung-2 artifacts, then the same quantized iteration from the e₁
    * start. Each additional rung is one matrix-sized pass (the d×d cells)
    * plus one more unrolled MATERIALIZED CTE chain in the oracle — the
    * corpus is never rescanned, so at 100 TB the whole ladder costs one
    * covariance pass plus k artifact-sized iterations. Reads the STAGED
    * rung-3 artifact ([[eigPair]]), so repeat consumers pay nothing. */
  def pcaK3(spark: SparkSession, sf: String): DataFrame =
    eigPair(spark, sf, 3)
      .select(col("i"), col("comp").as("comp3"), col("lambda").as("lambda3"))
      .orderBy("i")

  /** The staged SECOND-eigenpair artifact (i, comp2, lambda2) — the
    * [[eigArtifact]] discipline applied to rung 2's output, so the
    * whitening consumer reads both published eigenpairs instead of
    * re-running the deflated iteration per query. */
  private[graft] def eig2Artifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"pca_eig2_$sf") { d =>
      pcaDeflate(spark, sf).write.parquet(s"$d/pc2")
    }
    Tables.parquet(spark, s"$dir/pc2")
  }

  /** PCA WHITENING over the two staged eigenpairs — the decorrelated
    * features a curation pipeline actually consumes (Mahalanobis-ish
    * scoring, decorrelated clustering): wₖ = projₖ / √λₖ for k ∈ {1, 2},
    * completing cov → PC1 → PC2 → whitened scores the way the PCA ladder
    * was built rung by rung. SEMANTICS NOTE: the staged eigenvectors are
    * ∞-norm-normalized (the order-independent norm [[powerIterate]] uses
    * for draw stability), not L2-normalized, and λ is the ∞-norm
    * eigenvalue estimate — so the whitened coordinates have variance
    * PROPORTIONAL to 1 per component, not exactly 1 (a constant per-axis
    * scale that no downstream rank/threshold consumer can observe).
    * Determinism is the [[pcaProject]] story verbatim: both engines join
    * the identical ROUNDED published eigenpairs, each x·compₖ term is
    * floor-quantized to the 2²⁴ grid (exact Long row sums), and the final
    * /√λₖ is one IEEE op over exact inputs (sqrt is correctly rounded —
    * no libm divergence). Plan: ONE positional explode feeds both
    * components (the two 64-row PCs join as one broadcast frame), the
    * per-vector partial aggregate collapses map-side, shuffle = n rows;
    * the eigen-artifacts are corpus-independent standing state at any
    * scale. Signed output → round 4 with zero canonicalization, both
    * sides. */
  def whiten(spark: SparkSession, sf: String): DataFrame = whitenK(spark, sf, 2)

  /** [[whiten]] generalized to the first k ladder rungs (r15, closing the
    * consumer half of the k-rung recipe): wᵣ = projᵣ / √λᵣ for r ∈ 1..k,
    * every eigenpair read from its STAGED published artifact via
    * [[eigPair]]. The k=2 form IS the declared q_whiten (bit-identical
    * expressions over identical published values); q_whiten3 is k=3.
    * Plan shape is k-independent: ONE positional explode feeds all k
    * components (the k 64-row PCs join as one broadcast frame), the
    * per-vector partial aggregate collapses map-side, shuffle = n rows. */
  private[graft] def whitenK(spark: SparkSession, sf: String, k: Int): DataFrame = {
    require(k >= 1, s"whitenK needs k >= 1, got $k")
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val pcs = (1 to k).map(r => eigPair(spark, sf, r)
        .select(col("i"), col("comp").as(s"c$r")))
      .reduce(_.join(_, "i"))
    val lams = (1 to k).map(r => eigPair(spark, sf, r)
        .agg(max("lambda").as(s"l$r")))
      .reduce(_.crossJoin(_))
    val projs = (1 to k).map(r =>
      (sum(floor(col("x") * col(s"c$r") * g).cast("long")).cast("double") / g)
        .as(s"p$r"))
    val ws = (1 to k).map(r =>
      (round(col(s"p$r") / sqrt(col(s"l$r")), 4) + lit(0.0)).as(s"w$r"))
    Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
      .select(col("vec_id"), col("i").cast("long").as("i"), col("x"))
      .join(broadcast(pcs), "i")
      .groupBy("vec_id")
      .agg(projs.head, projs.tail: _*)
      .crossJoin(broadcast(lams))
      .select((col("vec_id") +: ws): _*)
      .orderBy("vec_id")
  }

  /** Three-component whitening — the k-rung consumer over the full r15
    * ladder (rungs 1–3), declared so the generalized recipe is exercised
    * end to end: cov → PC1 → PC2 → PC3 → (w1, w2, w3). */
  def whiten3(spark: SparkSession, sf: String): DataFrame = whitenK(spark, sf, 3)

  /** Outliers reported by [[whitenOutliers]]. */
  val WhitenOutlierK = 20

  /** Top-subspace outlier score over the WHITENED coordinates — the
    * curation consumer the whitening exists for, and [[embedOutliers]]'s
    * complement: w₁² + w₂² is the variance-scaled energy of each vector
    * in the top-2 principal subspace (a rank-2 Mahalanobis along the
    * dominant directions, up to the documented ∞-norm-vs-L2 constant per
    * axis), where the diagonal form scores per-dimension deviations. A
    * vector huge along PC1 is a structural outlier the diagonal score
    * dilutes across 64 coordinates; this one sees it in two. Exact by
    * composition: both w's are the ROUNDED declared whitening outputs, so
    * the score is one IEEE expression over published values — fully
    * oracled (the whiten CTE chain + a top-k tail), tie-broken by vec_id
    * under round 4. Plan: [[whiten]]'s n-row aggregate plus one
    * TakeOrderedAndProject — nothing new shuffles. */
  def whitenOutliers(spark: SparkSession, sf: String): DataFrame =
    whiten(spark, sf)
      .select(col("vec_id"),
        round(col("w1") * col("w1") + col("w2") * col("w2"), 4).as("energy"))
      .orderBy(col("energy").desc, col("vec_id"))
      .limit(WhitenOutlierK)

  /** The standing RAW-MOMENT artifact under [[covUpdate]]: the corpus
    * partition's (i, j, sxy, sx, sy, n) triangle of exact quantized Long
    * sums — [[graft.functions.CovAccumAgg]]'s buffer, persisted BEFORE the
    * final covariance arithmetic. Longs, not covs, is the whole point:
    * exact integer sums are mergeable, so the standing moments can absorb
    * any future batch by addition without rescanning history. */
  private[graft] def covSumsArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"cov_sums_$sf") { d =>
      Tables.load(spark, sf, "embeddings")
        .filter(col("vec_id") % 5 =!= 4)
        .agg(graft.functions.CovFunctions.cov_accum_agg(col("embedding")).as("cells"))
        .select(explode(col("cells")).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"), col("c.sxy").as("sxy"),
          col("c.sx").as("sx"), col("c.sy").as("sy"), col("c.n").as("n"))
        .write.parquet(s"$d/sums")
    }
    Tables.parquet(spark, s"$dir/sums")
  }

  /** INCREMENTAL covariance maintenance — the moment-store twin of
    * [[annAppend]] (r13 verdict #7): the corpus triangle's exact Long sums
    * stand as a materialized artifact ([[covSumsArtifact]], the 80 %
    * vec_id % 5 ≠ 4 partition — the annAppend split), the 20 % batch's
    * triangle is computed batch-sized, and the update is 2080 rows of
    * Long ADDITION — no corpus rescan, ever. This is the discipline a
    * 100 TB pipeline runs on its standing second-moment store: history is
    * kept as mergeable integer sums, each ingest folds in with one
    * join+add, and every covariance consumer (the PCA ladder, Mahalanobis,
    * whitening) re-reads the updated artifact for free. Because Long
    * addition is exact and associative, the merged sums are BIT-IDENTICAL
    * to a full recompute over the union — so the oracle IS the full
    * recompute (the q_embed_cov SQL verbatim), and CovUpdateSpec pins
    * equality with [[embedCov]] bit-for-bit. Output schema = [[embedCov]]
    * (i, j, cov), same rounding, same zero canonicalization. */
  def covUpdate(spark: SparkSession, sf: String): DataFrame = {
    val standing = covSumsArtifact(spark, sf)
    val batch = covBatchSums(spark, sf, col("vec_id") % 5 === 4)
    covMergeSums(standing, batch, negate = false)
  }

  /** A batch's raw quantized-Long moment triangle — the batch-sized half
    * of an incremental update/downdate. */
  private def covBatchSums(spark: SparkSession, sf: String,
      pred: Column): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .filter(pred)
      .agg(graft.functions.CovFunctions.cov_accum_agg(col("embedding")).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.sxy").as("sxy2"),
        col("c.sx").as("sx2"), col("c.sy").as("sy2"), col("c.n").as("n2"))

  /** Merge (or, negated, REMOVE) a batch triangle into a standing one by
    * exact Long arithmetic, KEEPING raw sums — the chainable half of the
    * moment-store maintenance (an update's output is the next downdate's
    * standing input, which is what [[momentChain]] composes). Full outer +
    * zero-coalesce: a cell present on one side only (can't happen for
    * dense fixed-d embeddings, but the merge must not silently drop it if
    * a sparse corpus ever feeds this) still merges exactly. */
  private def mergeSumsRaw(standing: DataFrame, batch: DataFrame,
      negate: Boolean): DataFrame = {
    val sgn = if (negate) lit(-1L) else lit(1L)
    standing
      .select(col("i"), col("j"), col("sxy").as("sxy1"), col("sx").as("sx1"),
        col("sy").as("sy1"), col("n").as("n1"))
      .join(batch, Seq("i", "j"), "full_outer")
      .select(col("i"), col("j"),
        (coalesce(col("sxy1"), lit(0L)) + sgn * coalesce(col("sxy2"), lit(0L))).as("sxy"),
        (coalesce(col("sx1"), lit(0L)) + sgn * coalesce(col("sx2"), lit(0L))).as("sx"),
        (coalesce(col("sy1"), lit(0L)) + sgn * coalesce(col("sy2"), lit(0L))).as("sy"),
        (coalesce(col("n1"), lit(0L)) + sgn * coalesce(col("n2"), lit(0L))).as("n"))
  }

  /** [[mergeSumsRaw]] + the final covariance arithmetic — the one-step
    * maintenance forms ([[covUpdate]], [[covDowndate]]) publish finished
    * covariances; the composed chain keeps raw sums until its own end. */
  private def covMergeSums(standing: DataFrame, batch: DataFrame,
      negate: Boolean): DataFrame =
    mergeSumsRaw(standing, batch, negate)
      .select(col("i"), col("j"),
        covFromSums(struct(col("sxy"), col("sx"), col("sy"), col("n"))))
      .orderBy("i", "j")

  /** The FULL-corpus raw-moment artifact [[covDowndate]] subtracts from —
    * the same shape as [[covSumsArtifact]] over all vectors (a standing
    * moment store covers the whole corpus; the erasure batch leaves it by
    * subtraction, never by recompute). */
  private[graft] def covSumsFullArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"cov_sums_full_$sf") { d =>
      Tables.load(spark, sf, "embeddings")
        .agg(graft.functions.CovFunctions.cov_accum_agg(col("embedding")).as("cells"))
        .select(explode(col("cells")).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"), col("c.sxy").as("sxy"),
          col("c.sx").as("sx"), col("c.sy").as("sy"), col("c.n").as("n"))
        .write.parquet(s"$d/sums")
    }
    Tables.parquet(spark, s"$dir/sums")
  }

  /** Moment-store DOWNDATE — [[covUpdate]]'s mirror and the covariance
    * twin of [[annDelete]], completing add/remove symmetry on the standing
    * second-moment store: when a batch is ERASED (the same
    * vec_id % 7 == 3 GDPR/retention split the ANN tombstone uses), its
    * raw moment triangle is computed batch-sized and SUBTRACTED from the
    * standing full-corpus Long sums — 2080 rows of Long subtraction, no
    * rescan of the surviving corpus. Exactness is the whole point of
    * keeping raw integer moments: Long arithmetic is exact, so the
    * downdated covariance is BIT-IDENTICAL to a full recompute over the
    * remaining corpus — which is exactly the oracle (and the spec). A
    * float moment store could not do this: catastrophic cancellation on
    * subtraction would silently corrupt the store, which is why the
    * artifact holds quantized Longs, not finished covariances. */
  def covDowndate(spark: SparkSession, sf: String): DataFrame = {
    val standing = covSumsFullArtifact(spark, sf)
    val batch = covBatchSums(spark, sf, col("vec_id") % 7 === 3)
    covMergeSums(standing, batch, negate = true)
  }

  /** The composed moment-store chain (see [[covLifecycle]]), built at ONE
    * site — the [[lifecycleChain]] discipline applied to the moment tier —
    * so the declared query and the spec's bit-identity seam can never
    * diverge on what "the chain" means: standing corpus-partition sums
    * ([[covSumsArtifact]], vec_id % 5 ≠ 4) → INGEST the % 5 == 4 batch by
    * Long addition (after which the sums equal [[covSumsFullArtifact]]
    * bit-for-bit — Long addition is associative) → ERASE the % 7 == 3
    * batch by Long subtraction → finalize the post-maintenance covariance
    * at FULL precision (unrounded [[covExactFromSums]], the
    * [[covCellsFull]] spelling) and mirror the triangle to the full d×d
    * matrix the eigen recipe consumes. `s1`/`s2` are the intermediate raw
    * sums (spec seams); `audit` is the 1-row vector-count reconciliation
    * an operator's runbook reads. */
  private[graft] case class MomentChain(s1: DataFrame, s2: DataFrame,
    cells: DataFrame, audit: DataFrame)

  /** Stored like [[lifecycleChain]] and for the same two reasons (r16
    * review): each build eagerly localCheckpoints two 2080-row frames
    * that would otherwise accumulate per invocation (query + gate re-run
    * + the spec's calls), and the gate confs in the key keep the stability
    * gate's perturbed re-run building its own chain. */
  private[graft] def momentChain(spark: SparkSession, sf: String): MomentChain =
    Artifacts.session(spark, "momentChain", sf)(buildMomentChain(spark, sf))

  private def buildMomentChain(spark: SparkSession, sf: String): MomentChain = {
    val s0 = covSumsArtifact(spark, sf)
    // each merge's batch side is an embeddings-partition aggregate; the
    // eigen iteration re-reads the chain's output 8+ times (one mat-vec
    // per round), so materialize the 2080-row merged sums ONCE per stage
    // — without the checkpoints every round re-scanned both batch
    // aggregates (profiled 7.1 s → matrix-sized after)
    val s1 = mergeSumsRaw(s0, covBatchSums(spark, sf, col("vec_id") % 5 === 4),
      negate = false).localCheckpoint()
    val s2 = mergeSumsRaw(s1, covBatchSums(spark, sf, col("vec_id") % 7 === 3),
      negate = true).localCheckpoint()
    val tri = s2.select(col("i"), col("j"),
      covExactFromSums(struct(col("sxy"), col("sx"), col("sy"), col("n"))).as("cov"))
    val cells = tri.union(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov")))
    // every cell of a dense triangle carries the same vector count; the
    // (0,0) cell's n IS the store's row count at each stage — three 1-row
    // frames, no driver action
    def nOf(s: DataFrame, name: String) =
      s.filter(col("i") === 0 && col("j") === 0).select(col("n").as(name))
    val audit = nOf(s0, "n_standing")
      .crossJoin(nOf(s1, "n_after_ingest"))
      .crossJoin(nOf(s2, "n_live"))
    MomentChain(s1, s2, cells, audit)
  }

  /** MOMENT-STORE LIFECYCLE COMPOSITION (r15 verdict #3) — the eigen
    * tier's answer to [[annLifecycle]]: ingest (cov UPDATE by Long
    * addition) → erasure (cov DOWNDATE by Long subtraction) → the eigen
    * ladder's rung-1 re-derivation over the POST-maintenance store, as ONE
    * declared query with the operator's audit columns (vector counts at
    * each stage) on every row. The parts are [[covUpdate]]/
    * [[covDowndate]]'s semantics threaded through each other — the updated
    * sums are what gets downdated, where each standalone query maintains
    * its own staged artifact — and the eigenpair is [[eigRungFrom]] run
    * over the maintained sums instead of a fresh corpus recompute. Exact
    * Longs end-to-end: the maintained triangle is BIT-identical to the
    * remaining-corpus recompute (spec'd), the finalize + iteration is the
    * [[pcaPower]] quantized discipline verbatim — so the whole composition
    * is ORACLED: the q_pca_power SQL over the % 7 ≠ 3 corpus, plus three
    * integer count subqueries. At 100 TB every step is its own size:
    * both merges are 2080-row Long arithmetic (no corpus rescan, ever),
    * the finalize + 8 iteration rounds are matrix-sized — the chain's cost
    * is corpus-INDEPENDENT given the standing sums, which is the whole
    * point of keeping raw integer moments. */
  def covLifecycle(spark: SparkSession, sf: String): DataFrame = {
    val ch = momentChain(spark, sf)
    eigRungFrom(ch.cells, 1, Nil)
      .crossJoin(broadcast(ch.audit))
      .orderBy("i")
  }

  def semDedup(spark: SparkSession, sf: String, k: Int = 0): DataFrame = {
    val emb = embProjection(spark, sf)
    val kk =
      if (k > 0) k
      else math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val km = coarseQuantizer(sf, kk, emb)
    // persisted: both sides of the within-cell self-join read this. A
    // session artifact per (context, sf, k, gate confs), like
    // embProjection; k joins the key because the cell count shapes the plan
    val assigned = Artifacts.session(spark, "semAssign", sf, kk)(
      km.transform(emb).select(col("vec_id"), col("v"), col("cell"))).persistOnce()
    // prefilter on the RAW cosine so the BigDecimal-allocating round() runs
    // on survivors only, not every within-cell pair (the mediaDedup
    // predicate split; 1e-4 slack = 2× the rounding step)
    val raw = cosine(col("v"), col("vb"))
    val dropped = assigned
      .join(assigned.select(col("cell"), col("vec_id").as("ib"), col("v").as("vb")),
        Seq("cell"))
      .filter(col("vec_id") > col("ib") && raw >= SemDedupThreshold - 1e-4 &&
        round(raw, 4) >= SemDedupThreshold)
      .select("vec_id").distinct()
    assigned
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        coalesce(col("hit"), lit(false)).as("dropped"))
      .orderBy("vec_id")
  }
}
