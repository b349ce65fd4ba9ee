package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Artifacts.PersistSyntax._

/** Text / LLM-training-data operators over the `documents` table
  * (SURVEY.md §2.9 X1/X2/X4): dedup (exact, near-dup Jaccard, MinHash-LSH,
  * SimHash), tokenization, language stats, quality scoring, fingerprinting.
  *
  * Tokenization is fixed once — lowercase, split on non-alphanumeric runs,
  * drop empties — and mirrored verbatim in every DuckDB oracle
  * (`regexp_split_to_array(lower(text),'[^a-z0-9]+')`).
  */
object TextOps {

  /** Lowercased alphanumeric tokens of `text`, empties removed. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= lit(""))

  /** Distinct 3-word shingles of the token array (empty when < 3 tokens).
    * Word-level shingles, not token sets: the harness vocabulary is tiny, so
    * token-set Jaccard saturates (~1900 doc pairs at 1.0) while 3-gram
    * shingles separate the planted near-dups (~25 pairs ≥ 0.9) from
    * everything else (< 0.2) — measured at sf0.01.
    *
    * NOTE: per-row `array_distinct` is O(shingles²) string compares — fine on
    * a single row, pathological over a corpus (profiled ~12 s per plan
    * evaluation at sf0.1). The query-path form is [[shingleRows]]: explode
    * the raw shingles and dedup DISTRIBUTED (one shuffle), never per-row. */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3, array_distinct(shingles3Raw(toks)))
      .otherwise(array().cast("array<string>"))

  /** Raw (non-distinct) 3-gram shingles — O(n) per row. */
  private def shingles3Raw(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** Distinct (doc_id, shingle-fingerprint) rows — the shared base relation
    * of the near-dup family. Shingles are fingerprinted to 64-bit longs
    * immediately (collision odds over 2^64 negligible): longs shuffle, sort
    * and compare far cheaper than the strings, which would otherwise BE the
    * shuffle at 100 TB. Deduped with a distributed `distinct()` (hash
    * shuffle), not per-row array_distinct; both Jaccard and MinHash consume
    * the SAME plan, so a shared persist serves them. */
  def shingleRows(spark: SparkSession, sf: String): DataFrame =
    shingleRowsOf(fannedDocs(spark, sf))

  /** Same base relation from any (doc_id, text) frame — the seam the
    * planted-near-dup property tests use (PropertySpec). */
  def shingleRowsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(transform(shingles3Raw(col("toks")), s => xxhash64(s))).as("s"))
      .distinct()

  /** Exact dedup — canonical row per distinct text (`dropDuplicates`
    * semantics made deterministic: keep the min doc_id per text).
    * At scale this is a single hash-shuffle on the text (or, better, on a
    * fingerprint of it — see [[fingerprint]] — so 100 KB documents don't
    * ride the wire as shuffle keys). */
  def dedupExact(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Hot-shingle document-frequency cap for [[dedupJaccardFrom]] candidate
    * generation. A shingle present in >cap documents contributes cap² rows
    * to the inverted-index self-join yet carries almost no near-dup signal
    * (boilerplate phrases); dropping it from CANDIDATE generation (never
    * from verification) bounds the join fan-out at Σ min(df,cap)² —
    * standard LSH practice. Not binding on the test fixtures (asserted in
    * TextOpsSpec), so oracle output is unchanged there. */
  val JaccardDfCap = 1000

  /** Session conf: when `true`, [[dedupJaccardFrom]] / [[dedupNgramFrom]]
    * skip the driver-side max-df probe (one extra 1-row aggregate job per
    * call) and go straight to the capped candidate+verify plan. A production
    * caller that KNOWS its corpus has hot shingles (any web-scale one does)
    * sets this and saves two scheduler round-trips per dedup query; the
    * capped plan's output equals the direct plan's whenever the cap is not
    * binding, so the flag never changes results on clean corpora
    * (equality-tested in TextOpsSpec). */
  val ForceCappedPlanKey = "spark.graft.dedup.forceCappedPlan"

  private def forceCapped(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ForceCappedPlanKey).exists(_.toBoolean)

  /** Near-dup pairs by exact 3-shingle Jaccard ≥ 0.8, candidate-then-verify:
    * an inverted-index self-join on shingles with df ≤ [[JaccardDfCap]]
    * proposes pairs; exact Jaccard over the FULL shingle sets verifies them
    * — never the O(n²) all-pairs crossJoin, and never an unbounded Σdf²
    * fan-out on hot shingles.
    *
    * Scale path: this exact form still shuffles one row per (doc, shingle);
    * the production variant is [[dedupMinhash]] (MinHash-LSH banding, fixed
    * rows × bands shuffle) with this form kept as its equality baseline. */
  def dedupJaccard(spark: SparkSession, sf: String): DataFrame =
    dedupJaccardFrom(shingleRelation(spark, sf))

  /** Core over any pre-computed (doc_id, s) shingle relation. `dfCap`
    * bounds candidate generation only; verification always uses the full
    * sets, so a reported jaccard value is exact. A pair whose common
    * shingles are ALL above the cap is missed by design (it cannot be a
    * near-dup of mostly-rare-shingle documents; property-tested).
    *
    * The cap is checked first with one small aggregate: when no shingle
    * exceeds it (every fixture; most clean corpora), the capped plan's
    * output provably equals the direct inverted-index form, so the cheaper
    * single-pass plan runs — an AQE-style data-dependent plan choice. Only
    * a corpus with genuinely hot shingles pays for candidate+verify. */
  def dedupJaccardFrom(ex: DataFrame, dfCap: Int = JaccardDfCap): DataFrame = {
    val capped = forceCapped(ex) || {
      ex.groupBy("s").agg(count(lit(1)).as("df"))
        .agg(max("df")).head().getLong(0) > dfCap
    }
    if (!capped) {
      // cap not binding: direct form, one self-join pass counts common
      val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val common = ex.as("a")
        .join(ex.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("common"))
      common
        .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"),
          round(col("common") / (col("sa.n") + col("sb.n") - col("common")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy("id_a", "id_b")
    } else {
      // hot shingles present: candidates from capped shingles only, then
      // exact verify over the full sets (`ex` is distinct, so |intersect|
      // equals the common-shingle count)
      val dfs = ex.groupBy("s").agg(count(lit(1)).as("df"))
      val rare = ex.join(dfs.filter(col("df") <= dfCap).select("s"), "s")
        .select("doc_id", "s")
      val cands = rare.as("a")
        .join(rare.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val sets = ex.groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
      cands
        .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
            size(array_union(col("sa.sh"), col("sb.sh"))), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy("id_a", "id_b")
    }
  }

  /** Near-dup pairs by exact 3-shingle Jaccard ≥ 0.8 via PREFIX FILTERING —
    * the AllPairs/PPJoin discipline (Chaudhuri et al. ICDE'06, Bayardo et
    * al. WWW'07, Xiao et al. WWW'08): the fifth blocking family, and unlike
    * the df-cap it is provably EXACT at any token-frequency distribution,
    * so the output is identical to [[dedupJaccard]]'s and shares its oracle.
    *
    * Under a global token order (ascending document frequency, rarest
    * first — ties on the fingerprint), J(a,b) ≥ t forces an overlap
    * o ≥ ⌈t·|a|⌉ on each side, and the prefix lemma then guarantees the
    * first |d| − ⌈t·|d|⌉ + 1 tokens of BOTH docs share an element. So only
    * those prefix postings are indexed: at t = 0.8 that is ~20% of the
    * inverted index — and by construction the RAREST 20%, exactly the
    * tokens with the smallest posting lists, so the self-join fan-out
    * collapses far more than the row count does. Two further exact prunes
    * ride the same join: the length filter (t·max ≤ min is necessary for
    * J ≥ t) and PPJoin's positional filter — for the first common token at
    * positions (pa, pb), o ≤ 1 + min(|a|−pa, |b|−pb), which must reach the
    * pair's overlap lower bound ⌈t/(1+t)·(|a|+|b|)⌉.
    *
    * Scale path: one df aggregate, one per-doc window sort to rank tokens,
    * an equi-join on the (rare) prefix tokens, then full-set verification
    * of surviving candidates only. No cap tuning, no recall question —
    * this IS the production exact-similarity-join plan at 100 TB; banding
    * ([[dedupMinhash]]) is only needed when even the verified-exact answer
    * may be traded for a cheaper approximate one. */
  def dedupPrefix(spark: SparkSession, sf: String): DataFrame =
    dedupPrefixFrom(shingleRelation(spark, sf))

  /** Core over any distinct (doc_id, s) shingle relation; `t` is the
    * Jaccard threshold. Exact: equality with [[dedupJaccardFrom]] is
    * spec-asserted on fixtures and planted-pair property tests.
    *
    * Two exactness subtleties (ADVICE r9), both fixed by deriving every
    * prune from a SLACKED RATIONAL threshold t' = n/D, D = 100000,
    * n = round(t·D) − 5, evaluated in pure integer cross-multiplication:
    *
    *  1. The verification filter (here, in [[dedupJaccardFrom]], and in the
    *     shared SQL oracle) keeps pairs whose 4-dp HALF_UP-rounded jaccard
    *     ≥ t — i.e. true J ≥ t − 0.00005. Prunes derived from t itself
    *     would drop a pair with true J ∈ [t−0.00005, t) that verification
    *     keeps (reachable once the shingle union exceeds ~4000). The −5
    *     numerator slack makes every bound valid for the full kept set.
    *  2. Double arithmetic over-tightens the bounds at exact-boundary
    *     pairs: 0.8/1.8 in binary64 is 0.4444…45 > 4/9, so
    *     ceil(0.8/1.8·(|a|+|b|)) over-computes the overlap bound α by 1
    *     whenever 9 | 4(|a|+|b|) (e.g. a 28-shingle doc contained in a
    *     35-shingle doc: J = 0.8 exactly, pruned by the float form).
    *     Integer forms below have no representation error: for integer i,
    *     i ≥ ⌈p/q⌉ ⟺ i·q ≥ p. */
  private[graft] def dedupPrefixFrom(ex: DataFrame, t: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = 100000L
    val n = math.round(t * D) - 5 // t' = n/D: rounding-slacked threshold
    val dfs = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // rank each doc's tokens rarest-first under the GLOBAL (df, s) order;
    // the per-doc set size rides the same window partition (no extra join)
    val byDoc = Window.partitionBy("doc_id")
    val ranked = ex.join(dfs, "s")
      .select(col("doc_id"), col("s"),
        row_number().over(byDoc.orderBy(col("df"), col("s"))).as("pos"),
        count(lit(1)).over(byDoc).as("len"))
    // prefix postings: pos ≤ |d| − ⌈t'·|d|⌉ + 1 ⟺ n·len ≤ D·(len − pos + 1)
    val prefix = ranked
      .filter(lit(n) * col("len") <= lit(D) * (col("len") - col("pos") + lit(1)))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: J ≥ t' ⇒ t'·max ≤ min ⟺ n·max ≤ D·min
          lit(n) * greatest(col("a.len"), col("b.len")) <=
            lit(D) * least(col("a.len"), col("b.len")) &&
          // positional filter: remaining-suffix overlap bound must reach
          // α = ⌈t'/(1+t')·(|a|+|b|)⌉ for at least the first common token
          //   ⟺ (1 + min(|a|−pa, |b|−pb))·(D+n) ≥ n·(|a|+|b|)
          (lit(1) + least(col("a.len") - col("a.pos"), col("b.len") - col("b.pos"))) *
            lit(D + n) >= lit(n) * (col("a.len") + col("b.len")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sets = ex.groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
    cands
      .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          size(array_union(col("sa.sh"), col("sb.sh"))), 4).as("jaccard"))
      .filter(col("jaccard") >= t)
      .orderBy("id_a", "id_b")
  }

  /** Duplicate CLUSTERS: connected components over the near-dup pair graph —
    * the step after pair detection that a real dedup pipeline needs (pairs
    * A~B, B~C must collapse to ONE canonical doc, not two independent drops).
    * Min-label propagation WITH POINTER JUMPING: every vertex starts labeled
    * with its own id; each round takes the min of its neighbors' labels and
    * then SHORTCUTS to its label's label (the Shiloach–Vishkin jump) — so a
    * label's reach roughly doubles per round and convergence is O(log d) in
    * the component diameter d, not O(d). This is the same round bound the
    * alternating large-star/small-star algorithm achieves, bought with one
    * extra join per round on the (small: near-dup members only) LABEL table
    * instead of rewriting the (larger) edge set every round — the better
    * trade on Spark, where each materialized intermediate is a shuffle.
    * Near-dup components are tiny cliques in practice, so this converges in
    * 2 rounds; the 20-round cap is a safety bound that now covers diameters
    * up to ~2^20. The edge list is persisted once and the labels are
    * `localCheckpoint`ed every unconverged round so lineage stays bounded
    * on a high-diameter graph.
    * Cluster id = min doc_id of the component = the canonical doc to keep.
    *
    * The finished CLUSTER TABLE (doc_id, cluster) is a session artifact
    * ([[Artifacts.session]]): the components fixpoint is the expensive
    * iterative step, and each of its FOUR consumers (q_dup_clusters,
    * q_dedup_canonical and their LSH twins) used to re-run it from the
    * pair graph up (verdict r8 #2); one context now pays each variant's
    * fixpoint once. The table is tiny — near-dup members only — and
    * `localCheckpoint`ed, so the store holds a flat scan, not a lineage
    * tree, and it survives catalog `clearCache`. */
  def dupClusters(spark: SparkSession, sf: String): DataFrame =
    Artifacts.session(spark, "dupClusters", sf, "exact")(
      dupClustersFrom(dedupJaccard(spark, sf).select("id_a", "id_b"))
        .localCheckpoint())
      .orderBy("doc_id")

  /** Same clustering over the MinHash-LSH candidate pairs — the composed
    * 100 TB path (banded candidates → exact verify → components), declared
    * no-oracle like its pair source; TextOpsSpec asserts cluster equality
    * with the exact form on the fixture. */
  def dupClustersLsh(spark: SparkSession, sf: String): DataFrame =
    Artifacts.session(spark, "dupClusters", sf, "lsh")(
      dupClustersFrom(dedupMinhash(spark, sf).select("id_a", "id_b"))
        .localCheckpoint())
      .orderBy("doc_id")

  /** Rounds the last [[dupClustersFrom]] call took (diagnostics + the
    * round-count assertion in TextOpsSpec's chain test). */
  private[graft] val lastPropagationRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def dupClustersFrom(rawPairs: DataFrame): DataFrame = {
    val pairs = rawPairs.persist()
    pairs.count() // materialize: both edge directions below reuse ONE pair pass
    // localCheckpoint, not persist: the edge list's LOGICAL plan is the whole
    // upstream pair-detection tree (shingles, self-join, verify) and would be
    // re-analyzed inside every round's plan; the checkpoint replaces it with
    // a flat scan, so each round plans over ~constant-size trees
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint() // eager; reads the pairs cache once
    pairs.unpersist()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("cluster", col("v")).persist()
    var cached = labels // the persisted frame backing labels (unpersist target)
    var iter = 0
    var converged = false
    while (!converged && iter < 20) {
      val neighborMin = edges.join(labels, col("dst") === col("v"))
        .groupBy("src").agg(min("cluster").as("ncluster"))
      // step 1 — propagate: take the min over the closed neighborhood.
      // Persisted because the jump self-join below reads it twice.
      val prop = labels.select(col("v"), col("cluster").as("c0"))
        .join(neighborMin, col("v") === col("src"), "left")
        .select(col("v"), col("c0"),
          least(col("c0"), coalesce(col("ncluster"), col("c0"))).as("c1"))
        .persist()
      // step 2 — pointer-jump: shortcut each label to its label's label.
      // Every cluster value is a vertex id that exists in the label table
      // (labels start as own-ids and only ever take other labels' values),
      // so the lookup join always matches; left+coalesce is belt-and-braces.
      // carry a changed flag so convergence needs no second join against the
      // old labels — one count over the cached result
      val next = prop
        .join(prop.select(col("v").as("pv"), col("c1").as("pc")),
          col("c1") === col("pv"), "left")
        .select(col("v"),
          least(col("c1"), coalesce(col("pc"), col("c1"))).as("cluster"),
          (least(col("c1"), coalesce(col("pc"), col("c1"))) =!= col("c0")).as("changed"))
        .persist()
      // count(), NOT isEmpty: isEmpty short-circuits after one found row,
      // leaving next only PARTIALLY cached — the un-materialized partitions
      // would then recompute through the (unpersisted below) prop/labels
      // chain on every later action, doubling the recompute tree per round.
      // The full count materializes every partition of next first, so the
      // unpersists are safe and each round's work is done exactly once.
      converged = next.filter(col("changed")).count() == 0
      prop.unpersist()
      cached.unpersist()
      iter += 1
      // truncate label lineage every unconverged round: with the pointer
      // jump each un-checkpointed round QUADRUPLES the logical plan (the
      // jump self-join references prop twice, and prop references labels
      // twice) — profiled as ~13 s of driver-side analysis at sf0.1 when
      // left to grow; checkpointing every round measured no cost (r7 A/B
      // in PLANS.md)
      if (!converged) {
        val snap = next.select("v", "cluster").localCheckpoint() // eager; cuts lineage
        next.unpersist()
        cached = snap
        labels = snap
      } else {
        cached = next
        labels = next.select("v", "cluster")
      }
    }
    lastPropagationRounds.set(iter)
    System.err.println(s"[clusters] label propagation + jump converged in $iter rounds")
    labels.select(col("v").as("doc_id"), col("cluster")).orderBy("doc_id")
  }

  /** Number of MinHash permutations and LSH banding (16 bands × 8 rows):
    * detection probability at Jaccard s is 1-(1-s^8)^16 — ≈0.99 at s=0.8,
    * ≈0.04 at s=0.3 — a sharp threshold around our 0.8 cutoff. */
  val MinhashSigs = 128
  val MinhashBands = 16


  /** MinHash-LSH near-dup candidates, verified by exact shingle Jaccard —
    * the 100 TB-scale form of [[dedupJaccard]]. Pipeline:
    *
    *  1. signature: hash each distinct shingle ONCE to a long (xxhash64 of
    *     the string), then the k-th permutation is min over shingles of
    *     xxhash64(h, k) — a fixed-width 16-byte hash, no overflow semantics
    *     (ANSI mode rejects wrapping a·h+b). Computed as 128 `min()` columns
    *     in ONE codegen'd HashAggregate over the exploded (doc, shingle-hash)
    *     rows — never a per-row nested lambda, which profiled ~50 s at sf0.1.
    *  2. banding: one row per (doc, band); docs sharing any band bucket
    *     become candidates (equi-join on the bucket).
    *  3. verify: exact Jaccard on candidate pairs only, via `collect_set`
    *     shingle-hash sets (order-irrelevant for intersect/union sizes).
    *
    * Deterministic end-to-end (seeded xxhash64 everywhere, no RNG). */
  def dedupMinhash(spark: SparkSession, sf: String): DataFrame =
    dedupMinhashFrom(shingleRelation(spark, sf))

  /** Core over any pre-computed (doc_id, s) shingle relation. */
  def dedupMinhashFrom(ex: DataFrame): DataFrame = {
    val r = MinhashSigs / MinhashBands
    val minCols = (0 until MinhashSigs).map(k =>
      min(xxhash64(col("s"), lit(k))).as(s"m$k"))
    val sig = ex.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashSigs).map(k => col(s"m$k")): _*).as("sig"))
    // one row per (doc, band): bucket = hash of the band's slice of the signature
    val banded = sig.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(MinhashBands - 1)), b =>
        struct(b.as("band"), xxhash64(b, slice(col("sig"), b * r + 1, lit(r))).as("bucket"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
      .persistOnce()
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // exact verification on candidates only
    val sets = ex.groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
    cands
      .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          size(array_union(col("sa.sh"), col("sb.sh"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("id_a", "id_b")
  }

  /** 64-bit SimHash of the token multiset: each token's xxhash64 votes ±1 per
    * bit; the sign vector is packed into a Long. Near-dups have small Hamming
    * distance. The token hash is computed ONCE; the 64 bit-votes are plain
    * shift/mask arithmetic on it (nested lambda-per-bit recomputing the hash
    * would fall out of codegen and cost 64 string hashes per token). */
  def simhash(toks: Column): Column = simhashOfHashes(transform(toks, t => xxhash64(t)))

  /** SimHash from a pre-bound array<long> of token hashes. */
  def simhashOfHashes(hs: Column): Column = {
    val bits = (0 until 64).map { i =>
      aggregate(hs, lit(0L), (acc, h) =>
        acc + shiftright(h, i).bitwiseAND(1L) * 2L - 1L)
    }
    bits.zipWithIndex.map { case (b, i) =>
      when(b > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into 4×16-bit chunks
    * (pigeonhole: Hamming ≤ 3 ⇒ at least one chunk equal), join on chunk,
    * verify Hamming ≤ 3 via bit_count(xor). Same candidate-then-verify shape
    * as [[dedupMinhash]] — never all-pairs. */
  def dedupSimhash(spark: SparkSession, sf: String): DataFrame = {
    // hash each token once on exploded rows, then 64 bit-vote sums in one
    // codegen'd HashAggregate (the per-row lambda form profiled minutes)
    val toks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1L) * 2L - 1L).as(s"b$i"))
    val packed = (0 until 64).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val docs = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("sh64"))
    val banded = docs.select(col("doc_id"), col("sh64"),
      explode(transform(sequence(lit(0), lit(3)), b =>
        struct(b.as("band"),
          call_function("shiftright", col("sh64"), b * 16).bitwiseAND(0xFFFFL).as("chunk"))))
        .as("bb"))
      .select(col("doc_id"), col("sh64"), col("bb.band"), col("bb.chunk"))
      .persistOnce() // consumed by both self-join sides; avoids recomputing the agg
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= 3)
      .orderBy("id_a", "id_b")
  }

  /** Token count per document (SURVEY.md §2.9 X4). */
  def textTokens(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  /** BPE-style pre-tokenization count: letter runs, digit runs, and single
    * non-space symbols — the regex family GPT-2-era tokenizers use as the
    * split step before byte-pair merges. Kept to an ASCII-safe common regex
    * subset so the DuckDB oracle (RE2) agrees with Java's engine. */
  def tokenBpe(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_tokens_bpe"))
      .orderBy("doc_id")

  /** Per-language corpus stats (SURVEY.md §2.9 X4). */
  def langStats(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"))
      .orderBy("lang")

  /** Quality scoring — length / stopword-ratio / mean-word-length signals a
    * training-data pipeline filters on (north-star scope). One explode +
    * grouped pass per document. */
  def qualityScore(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(length(col("tok"))), 4).as("avg_word_len"),
        round(avg(when(col("tok").isin("a", "the"), 1.0).otherwise(0.0)), 4)
          .as("stopword_ratio"))
      .orderBy("doc_id")

  /** Per-SOURCE quality-stratified pruning — keep each corpus's own top
    * half by token count (percent_rank ≥ 0.5 within source) and report the
    * per-source audit: total/kept docs, kept chars, and the REALIZED
    * threshold (min kept token count). The point, versus the fixed-rule
    * [[qualityFilter]]: the cut adapts to each source's own distribution —
    * a curated-books corpus and a crawl dump should not share one absolute
    * threshold (the FineWeb-style per-domain discipline). One shuffle on
    * source + one window sort; at 100 TB the exact per-source rank is
    * replaced by a KLL quantile threshold per source (the
    * `q_kll_merge`/`q_sketch_store` blob family — probe the sketch for the
    * 0.5-quantile, filter with a plain predicate, no global sort). The
    * (n_tokens, doc_id) ordering makes percent_rank a total order, so the
    * kept set is deterministic and percent_rank's (rank-1)/(n-1) division
    * is bit-identical across engines. */
  def qualityPrune(spark: SparkSession, sf: String): DataFrame =
    qualityPruneFrom(Tables.load(spark, sf, "documents"))

  /** Core over any (doc_id, source, n_chars, text) relation. */
  private[graft] def qualityPruneFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n_tokens"), col("doc_id"))
    val kept = col("pr") >= 0.5
    docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("pr", percent_rank().over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs_total"),
        sum(when(kept, 1L).otherwise(0L)).as("docs_kept"),
        sum(when(kept, col("n_chars"))).as("chars_kept"),
        min(when(kept, col("n_tokens"))).as("threshold_tokens"))
      .orderBy("source")
  }

  /** Document fingerprint — md5 of the raw text, the join/shuffle key a
    * 100 TB dedup uses instead of the text itself. md5 is identical across
    * engines, so this one is oracle-checkable (unlike xxhash64). */
  def fingerprint(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Text normalization + PII masking — the cleaning pass a training-data
    * pipeline runs before dedup/tokenization: lowercase, digit-mask,
    * email-shaped spans → [EMAIL], collapse whitespace runs, trim. Regexes
    * stay in the Java∩RE2 common subset so the oracle matches byte-for-byte. */
  def textClean(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(regexp_replace(
          lower(col("text")),
          "[a-z0-9.]+@[a-z0-9.]+", "[EMAIL]"),
          "[0-9]", "#"),
          "\\s+", " ")).as("clean"))
      .orderBy("doc_id")

  /** Deterministic train/val/test split by key residue — reproducible
    * splits need a pure function of the key, never rand(). */
  def splitCounts(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .select(
        when(col("vec_id") % 10 < 8, "train")
          .when(col("vec_id") % 10 === 8, "val")
          .otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n"))
      .orderBy("split")

  /** Group-aware (leakage-safe) split — the rule a plain per-doc split
    * ([[splitCounts]]) silently violates: near-duplicate documents must land
    * in the SAME split, or held-out evaluation leaks training data through
    * the duplicate. Split here is a pure function of the dup-cluster
    * REPRESENTATIVE (min doc_id of the connected component, via the
    * memoized [[dupClusters]] table; docs in no component are their own
    * singleton rep), so no near-dup group can span splits BY CONSTRUCTION —
    * the spec still asserts it at doc level. Output is the per-split audit
    * (docs, distinct groups, chars); at 100 TB the same left join rides the
    * tiny cluster table (near-dup members only) broadcast against the
    * corpus, and the split column is written back as a partition key. */
  def leakageSplit(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .join(dupClusters(spark, sf), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("cluster"), col("doc_id")).as("rep"))
      .withColumn("split",
        when(col("rep") % 10 < 8, "train")
          .when(col("rep") % 10 === 8, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("rep")).as("n_groups"),
        sum("n_chars").cast("long").as("n_chars"))
      .orderBy("split")

  /** Stratified sample: top-5 per label ordered by md5(key) — a
    * deterministic pseudo-random draw both engines compute identically
    * (md5 hex is engine-independent, unlike xxhash/rand). One shuffle on
    * the stratum key; per-stratum heaps would replace the full window sort
    * at 100 TB. */
  def stratifiedSample(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("label")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    Tables.load(spark, sf, "embeddings")
      .select(col("label"), col("vec_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("label", "rk")
  }

  /** Heuristic language ID: score each candidate language by stopword hits,
    * pick the argmax (deterministic tie-break by language code). N-gram/
    * stopword language-ID is the standard cheap first pass of a training-data
    * pipeline; real corpora would use larger stopword lists. */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"))

  def langIdOf(toks: Column): Column = {
    val scored = langStopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(
        aggregate(toks, lit(0L), (acc, t) =>
          acc + when(t.isin(sw: _*), 1L).otherwise(0L)).as("hits"),
        lit(lang).as("lang"))
    }
    // argmax by hits, ties broken by reverse-alphabetical struct compare;
    // zero hits anywhere → "und" (undetermined)
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Declared query form: explode tokens → broadcast-join the stopword list
    * → per-(doc, lang) hit counts → argmax via max(struct(hits, lang)) —
    * all codegen'd joins/aggregates, ~2× the per-row lambda form
    * ([[langIdOf]], kept as the expression-level API). Tie-break identical:
    * max(struct) prefers higher hits then the lexicographically larger
    * language code; zero-hit docs fall out of the join → coalesce "und". */
  def langId(spark: SparkSession, sf: String): DataFrame =
    langIdFrom(Tables.load(spark, sf, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks")))

  /** Core over any (doc_id, toks) frame (seam shared with qualityFilter). */
  def langIdFrom(docToks: DataFrame): DataFrame = {
    val spark = docToks.sparkSession
    import spark.implicits._
    val sw = langStopwords.toSeq
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }.toDF("lang", "tok")
    val hits = docToks
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(broadcast(sw), "tok")
      .groupBy("doc_id", "lang").agg(count(lit(1)).as("hits"))
    val best = hits.groupBy("doc_id")
      .agg(max(struct(col("hits"), col("lang"))).as("b"))
      .select(col("doc_id"), col("b.lang").as("lang_hit"))
    docToks.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lang_hit"), lit("und")).as("lang_pred"))
      .orderBy("doc_id")
  }

  /** End-to-end curation decision — the query a corpus pipeline actually
    * runs, not just its ingredients: keep a document iff it is the
    * exact-dedup canonical copy AND identified English AND long enough AND
    * not repetition-heavy. Composes [[dedupExact]]'s keep-min grain,
    * [[langId]] and [[repetition]] with three doc_id-co-partitioned joins;
    * every input query is itself oracle-checked, and so is the composition.
    * At 100 TB each signal is one scan+agg and the joins share one hash
    * partitioning on doc_id. */
  def qualityFilter(spark: SparkSession, sf: String): DataFrame = {
    // ONE scan + tokenize, persisted: canonical grain (same keep-min rule
    // as dedupExact), token counts, repetition and lang-id all read it
    val base = fannedDocs(spark, sf)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .persistOnce()
    val docToks = base.select("doc_id", "toks")
    val canonical = base.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val nTok = base.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    canonical.join(nTok, "doc_id")
      .join(repetitionFrom(docToks), "doc_id")
      .join(langIdFrom(docToks), "doc_id")
      .filter(col("lang_pred") === "en" && col("n_tokens") >= 20 &&
        col("rep_ratio") < 0.05)
      .select("doc_id", "n_tokens", "rep_ratio")
      .orderBy("doc_id")
  }

  /** Adjacent word bigrams of a token array (empty when < 2 tokens). */
  private def bigramsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** The documents table fanned out across every core: the single-file
    * harness parquet is ONE scan task, so repartition the cheap raw rows
    * BEFORE expensive per-row work (same pattern as shingleRows; on a real
    * partitioned layout the scan is already parallel and AQE elides this). */
  private def fannedDocs(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))

  /** Corpus-wide top-20 bigrams — the n-gram frequency pass of a training-data
    * pipeline (vocabulary building, boilerplate detection). Explode → one
    * hash aggregate with map-side combine → TakeOrderedAndProject: shuffle
    * volume is distinct-bigram cardinality, not token count. */
  def ngramTop(spark: SparkSession, sf: String): DataFrame = {
    fannedDocs(spark, sf)
      .select(tokens(col("text")).as("toks"))
      .select(explode(bigramsOf(col("toks"))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** Sketch twin of [[ngramTop]] — corpus heavy hitters via Spark 4's
    * native `approx_top_k` (DataSketches frequent-items / Misra–Gries
    * family): one pass, fixed [[HhMaxTracked]]-entry state per partition,
    * merged associatively — where the exact form's shuffle volume is the
    * full distinct-bigram cardinality, the sketch ships one bounded blob
    * per partition. That is the 100 TB trade: vocabulary-scale exact
    * aggregation vs constant-memory streaming summary with a documented
    * one-sided error (est ∈ [true, true + εN], ε ~ 1/maxTracked). On the
    * fixtures the tracked map exceeds the distinct-bigram count, so
    * estimates are exact and deterministic (TextOpsSpec pins both regimes:
    * unsaturated == exact twin, saturated ≥ true). Declared no-oracle —
    * sketch internals aren't SQL-expressible — with [[ngramTop]] as the
    * oracled exact twin, the established sketch-family pattern. */
  val HhK = 20
  val HhMaxTracked = 10000

  def heavyHitters(spark: SparkSession, sf: String): DataFrame =
    heavyHittersOf(fannedDocs(spark, sf), HhK, HhMaxTracked)

  /** Over-fetch factor for the deterministic tie-break: the sketch picks
    * an ARBITRARY subset of a count-tie straddling the k-th slot, so ask
    * for the tie group's worth of extra items and re-rank with the exact
    * twin's (count desc, item asc) order before cutting to k. */
  val HhTieSlack = 80

  /** Core over any (doc_id, text) frame (saturation-regime seam). */
  def heavyHittersOf(docs: DataFrame, k: Int, maxTracked: Int): DataFrame = {
    val fetch = math.min(k + HhTieSlack, maxTracked)
    docs
      .select(tokens(col("text")).as("toks"))
      .select(explode(bigramsOf(col("toks"))).as("bigram"))
      .agg(expr(s"approx_top_k(bigram, $fetch, $maxTracked)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("bigram"), col("e.count").cast("long").as("est"))
      .orderBy(col("est").desc, col("bigram"))
      .limit(k)
  }

  /** Benchmark decontamination — the pre-training hygiene step: flag every
    * training document sharing any 3-token shingle with the held-out eval
    * set (here: doc_id % 20 == 0, a deterministic benchmark stand-in). The
    * join runs on 64-bit shingle fingerprints, never strings; at 100 TB the
    * eval side is millions of n-grams (a few GB of longs) → broadcast, so
    * the corpus never shuffles. The exact-match-on-n-gram form is the
    * standard published decontamination procedure (GPT-3 appendix C / PaLM
    * style); near-dup contamination is covered by the MinHash family above. */
  def decontaminate(spark: SparkSession, sf: String): DataFrame = {
    // memoized persisted relation: the broadcast build (a separate job) and
    // the probe side would otherwise each compute the shingles from scratch
    val ex = shingleRelation(spark, sf)
    val evalSet = ex.filter(col("doc_id") % 20 === 0).select("s").distinct()
    ex.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(evalSet), Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // ex is distinct per (doc, s)
      .orderBy("doc_id")
  }

  /** Intra-document repetition ratio — 1 − distinct/total bigrams, the
    * Gopher-style quality signal that catches boilerplate and generated-text
    * loops. Distributed two-phase form (explode → per-(doc, bigram) count →
    * per-doc rollup), not per-row array_distinct; docs with fewer than 2
    * tokens score 0. */
  def repetition(spark: SparkSession, sf: String): DataFrame =
    repetitionFrom(fannedDocs(spark, sf)
      .select(col("doc_id"), tokens(col("text")).as("toks")))

  /** Core over any (doc_id, toks) frame (seam shared with qualityFilter). */
  def repetitionFrom(docToks: DataFrame): DataFrame = {
    docToks
      .select(col("doc_id"), explode_outer(bigramsOf(col("toks"))).as("bg"))
      // two-phase instead of count+countDistinct in one agg: the combined
      // form plans an Expand that doubles the exploded rows; here the first
      // agg collapses to (doc, distinct bigram) and the second is tiny
      .groupBy("doc_id", "bg").agg(count(col("bg")).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), count(col("bg")).as("d"))
      .select(col("doc_id"),
        when(col("n") > 0,
          round(lit(1.0) - col("d").cast("double") / col("n"), 4))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** One-pass corpus health report — the dashboard-style rollup a data
    * curator reads first: volume (docs, tokens, avg length) and exact
    * duplication rate. One scan → per-text aggregate (the dedup grain) →
    * one global aggregate; at 100 TB the per-text grain would group on a
    * fingerprint ([[fingerprint]]) so text never rides the shuffle. */
  def corpusStats(spark: SparkSession, sf: String): DataFrame = {
    val per = fannedDocs(spark, sf)
      .select(col("text"), size(tokens(col("text"))).cast("long").as("tl"))
      .groupBy("text").agg(count(lit(1)).as("n"), sum("tl").as("t"))
    per.agg(sum("n").as("docs"), count(lit(1)).as("distinct_texts"),
        sum("t").as("tokens"))
      .select(col("docs"), col("distinct_texts"), col("tokens"),
        round(col("tokens").cast("double") / col("docs"), 4).as("avg_tokens"),
        round(lit(1.0) - col("distinct_texts").cast("double") / col("docs"), 4)
          .as("dup_rate"))
  }

  /** Number of BPE merge rounds for [[bpeMerges]]. */
  val BpeRounds = 10

  /** Learn the first [[BpeRounds]] BPE merges from the corpus — tokenizer
    * training as a distributed pipeline. State is the DISTINCT-word table
    * with corpus counts (millions of rows at 100 TB, not the corpus), each
    * word held as space-separated symbols. Each round: explode adjacent
    * symbol pairs → weighted count (map-side-combined agg) → argmax pair
    * (count desc, pair asc tie-break — a 1-row driver decision, inherent to
    * BPE's sequential greediness, like the Pregel convergence check) →
    * merge that pair corpus-wide with one regexp_replace projection.
    * Words are space-joined symbols ("l o w") and the merge pattern is
    * `\ba b\b` — symbols are [a-z0-9]+ (all word chars), so the word
    * boundaries delimit whole symbols without consuming the separator,
    * and left-to-right non-overlapping matching merges a run of identical
    * symbols exactly like the standard greedy BPE scan ("a a a a" →
    * "aa aa", never "aa a a"). `\b` is supported by both Java regex and
    * RE2, so the DuckDB twin applies the identical rewrite. Output: the
    * learned merge table (rank, pair, weight). */
  def bpeMerges(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    mergesFor(spark, sf).toDF("rank", "pair", "weight").orderBy("rank")
  }

  /** Shared trainer core: runs the [[BpeRounds]] greedy rounds and returns
    * the merge list plus the final word table (left persisted — every
    * caller releases it; the encode path consumes only the merges and
    * re-derives segmentations declaratively, [[bpeEncodeOf]]). */
  private def bpeTrain(docs: DataFrame)
      : (Seq[(Long, String, Long)], DataFrame) = {
    var words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("n"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (r <- 1 to BpeRounds) {
      val syms = col("syms") // attribute-bound (see kgramRowsOf)
      val prs = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1), i =>
          concat_ws(" ", element_at(syms, i), element_at(syms, i + 1))))
        .otherwise(array().cast("array<string>"))
      val top = words.select(split(col("s"), " ").as("syms"), col("n"))
        .select(explode(prs).as("p"), col("n"))
        .groupBy("p").agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("p")).limit(1).collect()
      if (top.nonEmpty) {
        val (pair, cnt) = (top(0).getString(0), top(0).getLong(1))
        merges += ((r.toLong, pair, cnt))
        val next = words.select(
          regexp_replace(col("s"), "\\b" + pair + "\\b", pair.replace(" ", "")).as("s"),
          col("n")).persist()
        next.count() // materialize before dropping the parent from cache
        words.unpersist()
        words = next
      }
    }
    (merges.toSeq, words)
  }

  /** Core over any (doc_id, text) frame (golden-vector seam, TextOpsSpec). */
  def bpeMergesOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, words) = bpeTrain(docs)
    words.unpersist()
    merges.toDF("rank", "pair", "weight").orderBy("rank")
  }

  /** Fit-or-load the full merge table for `sf` — shared by the trainer
    * query ([[bpeMerges]]) and the encoder ([[bpeEncode]]). A model
    * artifact ([[Artifacts.fitOrLoad]], round 11 — the Scoring-GBT /
    * VectorOps-PQ registry discipline): the trainer is deterministic on a
    * fixed corpus, and a tokenizer's merge table is precisely the artifact
    * a real pipeline trains once and ships, so a fresh JVM disk-loads
    * instead of paying the ~8 s sequential retrain inside whichever query
    * runs first. Tab-separated (rank, pair, weight) lines — the pair
    * itself contains the space. */
  private def mergesFor(spark: SparkSession, sf: String): Seq[(Long, String, Long)] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    Artifacts.fitOrLoad[Seq[(Long, String, Long)]](Artifacts.modelFile("bpe-", sf, ".tsv"))(
      load = path => {
        val rows = Files.readAllLines(path).asScala.filter(_.nonEmpty).map { line =>
          val f = line.split("\t", -1)
          (f(0).toLong, f(1), f(2).toLong)
        }.toSeq
        require(rows.nonEmpty)
        rows
      },
      save = (merges, path) =>
        Files.write(path, merges.map { case (r, p, w) => s"$r\t$p\t$w" }.asJava)) {
      val (merges, words) = bpeTrain(fannedDocs(spark, sf))
      words.unpersist()
      merges
    }
  }

  /** Pre-populate the per-corpus merge-table cache (train or disk-load)
    * without running a query — Bench calls this untimed (the warmModel /
    * warmAnnIndexes contract), so the BPE family times tokenizer APPLY,
    * not the one-time training a production pipeline amortizes. */
  def warmBpe(spark: SparkSession, sf: String): Unit = { mergesFor(spark, sf); () }

  /** BPE APPLY/ENCODE — the consumer of [[bpeMerges]]' output: tokenize the
    * corpus with the learned merges and report each document's subword
    * footprint (word count, BPE unit count, units per word — the number a
    * context-length budget like [[seqPack]]'s is actually denominated in).
    * Encoding is the ARTIFACT-CONSUMER side of the trainer split: the
    * merge list (tiny, memoized per corpus — [[mergesFor]]) is applied to
    * the distinct-word table as one chained regexp_replace projection in
    * rank order — a single codegen'd map stage, no per-round actions or
    * persists, because apply needs no argmax. Segmentation happens ONCE
    * per distinct word, and the corpus pass is a vocab-sized equi-join of
    * exploded doc tokens against it — the standard "tokenize via
    * vocabulary lookup" plan; at 100 TB the dictionary is millions of rows
    * (broadcast or co-keyed hash join), never the corpus. Zero-token docs
    * have no words and drop out, as in the oracle (the [[lmPerplexity]]
    * convention). */
  def bpeEncode(spark: SparkSession, sf: String): DataFrame =
    bpeEncodeOf(fannedDocs(spark, sf), mergesFor(spark, sf).map(_._2))

  /** Core over any (doc_id, text) frame and merge sequence (golden-vector
    * seam, TextOpsSpec; pairs with [[bpeMergesOf]] on the same frame). */
  def bpeEncodeOf(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val seg = merges.foldLeft(
      trim(regexp_replace(col("w"), "(.)", "$1 "))) { (acc, p) =>
      regexp_replace(acc, "\\b" + p + "\\b", p.replace(" ", ""))
    }
    val vocab = docs.select(explode(tokens(col("text"))).as("w")).distinct()
      .select(col("w"), size(split(seg, " ")).cast("long").as("units"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(vocab, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("units").as("n_units"))
      .select(col("doc_id"), col("n_words"), col("n_units"),
        round(col("n_units").cast("double") / col("n_words"), 4)
          .as("units_per_word"))
      .orderBy("doc_id")
  }

  /** Token-k-gram length for [[dedupNgram]]: 13 tokens — long enough that a
    * shared gram is essentially never coincidental on natural text (the
    * published substring-dedup procedure uses 50-token windows on web-scale
    * corpora; 13 fits the fixture's short documents while still separating
    * the planted near-dups from chance 5-gram collisions, measured at
    * sf0.01: K=5 → 37 pairs, K=13 → 24, K=20 → 24). */
  val NgramK = 13

  /** Distinct (doc_id, k-gram fingerprint) rows — the base relation of
    * [[dedupNgram]]. Grams are fingerprinted to 64-bit longs immediately
    * (same rationale as [[shingleRowsOf]]: longs shuffle, the 13-token
    * strings would BE the shuffle at 100 TB). */
  private[graft] def kgramRowsOf(docs: DataFrame): DataFrame = {
    // toks bound as a real column: a free EXPRESSION captured inside the
    // transform lambda re-evaluates per element (HOF lambdas are
    // interpreted, no CSE) — the whole-text regex split would run once per
    // gram, O(tokens²) per document (measured 1.4-2.2x on the dedup family)
    val toks = col("toks")
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(when(size(toks) >= NgramK,
          transform(sequence(lit(1), size(toks) - (NgramK - 1)), i =>
            xxhash64(concat_ws(" ", slice(toks, i, lit(NgramK))))))
          .otherwise(array().cast("array<bigint>"))).as("g"))
      .distinct()
  }

  /** Exact long-n-gram overlap dedup — doc pairs sharing any contiguous
    * [[NgramK]]-token run, with the count of distinct shared grams. This is
    * the token-gram form of substring deduplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): it
    * catches CONTAINMENT — a long document quoting 13+ tokens of another —
    * that set-similarity ([[dedupJaccard]]) scores below threshold when the
    * rest of the documents differ. Same candidate-shape discipline as the
    * Jaccard family: inverted-index equi-join on gram fingerprints with the
    * hot-gram df-cap, never all-pairs. */
  def dedupNgram(spark: SparkSession, sf: String): DataFrame =
    dedupNgramFrom(kgramRelation(spark, sf))

  /** Core over any distinct (doc_id, g) gram relation. Fast path when the
    * df-cap is not binding (one aggregate decides, as in
    * [[dedupJaccardFrom]]); capped path drops grams with df > cap from
    * CANDIDATE generation only — a gram shared by thousands of documents is
    * boilerplate, and the pair's true shared-gram count still comes from the
    * full sets at verify time. */
  private[graft] def dedupNgramFrom(ex: DataFrame, dfCap: Int = JaccardDfCap): DataFrame = {
    val capped = forceCapped(ex) || {
      ex.groupBy("g").agg(count(lit(1)).as("df"))
        .agg(max("df")).head().getLong(0) > dfCap
    }
    if (!capped) {
      ex.as("a")
        .join(ex.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("id_a", "id_b")
    } else {
      val dfs = ex.groupBy("g").agg(count(lit(1)).as("df"))
      val rare = ex.join(dfs.filter(col("df") <= dfCap).select("g"), "g")
        .select("doc_id", "g")
      val cands = rare.as("a")
        .join(rare.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val sets = ex.groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
      cands
        .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sa.gs"), col("sb.gs"))).cast("long").as("n_shared"))
        .orderBy("id_a", "id_b")
    }
  }

  /** Per-document duplicated-SPAN coverage — the span-level half of
    * substring deduplication (Lee et al. 2022 §3, "ExactSubstr"): where
    * [[dedupNgram]] reports which PAIRS share a [[NgramK]]-token run, this
    * reports how much of EACH document is covered by runs that also occur
    * in some other document — the number a span-removal pass (or a
    * boilerplate/license-header audit) is denominated in. Shape: positioned
    * k-gram fingerprints (NOT distinct — positions matter), one aggregate
    * finds cross-document grams, one equi-join on the 64-bit fingerprint
    * marks hit positions, and the covered-token union of overlapping
    * [[NgramK]]-windows folds via a lag window: each hit contributes
    * `min(K, i - prev_i)` new tokens. The window's `partitionBy(doc_id)`
    * hash partitioning is reused by the final per-doc aggregate — one
    * shuffle after the join, never a per-doc sort of the corpus. At 100 TB
    * this is exactly the suffix-array-free form that scales: shuffle volume
    * is token count × 8-byte fingerprints, and no step is quadratic. */
  def dupSpanCoverage(spark: SparkSession, sf: String): DataFrame =
    dupSpanCoverageFrom(fannedDocs(spark, sf))

  /** Core over any (doc_id, text) relation, for spec-level planting. */
  private[graft] def dupSpanCoverageFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = col("toks") // attribute-bound (see kgramRowsOf)
    val pos = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        posexplode(when(size(toks) >= NgramK,
          transform(sequence(lit(1), size(toks) - (NgramK - 1)), i =>
            xxhash64(concat_ws(" ", slice(toks, i, lit(NgramK))))))
          .otherwise(array().cast("array<bigint>"))))
      .select(col("doc_id"), col("n_tokens"), (col("pos") + 1).as("i"), col("col").as("g"))
    val crossDoc = pos.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("g")
    val w = Window.partitionBy("doc_id").orderBy("i")
    pos.join(crossDoc, "g")
      .select(col("doc_id"), col("n_tokens"),
        least(lit(NgramK),
          coalesce(col("i") - lag(col("i"), 1).over(w), lit(NgramK))).as("c"))
      .groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("dup_positions"), sum(col("c")).cast("long").as("covered_tokens"))
      .withColumn("dup_frac", round(col("covered_tokens") / col("n_tokens"), 4))
      .orderBy("doc_id")
  }

  /** Duplicated-span REMOVAL — the action half of substring dedup (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models Better",
    * §3 ExactSubstr): where [[dupSpanCoverage]] measures how much of each
    * document is covered by cross-document duplicated runs, this EMITS the
    * cleaned corpus with those runs cut, keeping each duplicated
    * [[NgramK]]-gram's global FIRST occurrence (min (doc_id, position)) —
    * so exactly one copy of every repeated span survives corpus-wide and
    * the corpus loses no content, only repetition. Shape: the same
    * positioned-fingerprint relation as coverage, one aggregate for the
    * per-gram first occurrence, non-first occurrences exploded to the ≤ K
    * token positions they cover (K× only the DUPLICATED positions, not the
    * corpus), then a left-anti join filters the positioned token list and
    * a per-doc sort_array+concat rebuilds the text. Every join is an
    * equi-join on (doc_id[, j]) or the 64-bit fingerprint; nothing is
    * quadratic, so the plan scales exactly as far as coverage does.
    * Output stays doc-sized: token counts plus an md5 of the cleaned text
    * (the [[dedupChunks]] discipline) — the md5 value-checks the full
    * reconstruction against DuckDB without shipping document bodies. */
  def dedupSpanCut(spark: SparkSession, sf: String): DataFrame =
    dedupSpanCutFrom(fannedDocs(spark, sf))

  /** Core over any (doc_id, text) relation, for spec-level planting. */
  private[graft] def dedupSpanCutFrom(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val pos = base.select(col("doc_id"),
        posexplode(when(size(col("toks")) >= NgramK,
          transform(sequence(lit(1), size(col("toks")) - (NgramK - 1)), i =>
            xxhash64(concat_ws(" ", slice(col("toks"), i, lit(NgramK))))))
          .otherwise(array().cast("array<bigint>"))))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("g"))
    val crossDoc = pos.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("g")
    val dupOcc = pos.join(crossDoc, "g")
    val firstOcc = dupOcc.groupBy("g")
      .agg(min(struct(col("doc_id"), col("i"))).as("f"))
    // token positions covered by a NON-first duplicated occurrence
    val cut = dupOcc.join(firstOcc, "g")
      .filter(!(col("doc_id") === col("f.doc_id") && col("i") === col("f.i")))
      .select(col("doc_id"),
        explode(sequence(col("i").cast("long"), col("i").cast("long") + (NgramK - 1))).as("j"))
      .distinct()
    // outer + a null filter ABOVE the Generate: a plain posexplode makes
    // Catalyst infer size(toks) > 0 AND isnotnull(toks) and push it below
    // the projection, tokenizing every document three times
    val toksPos = base
      .select(col("doc_id"), posexplode_outer(col("toks")))
      .filter(col("pos").isNotNull)
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("j"), col("col").as("tok"))
    val agg = toksPos.join(cut, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("j"), col("tok")))),
          x => x("tok"))).as("cleaned"))
    base.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("cut_tokens"),
        md5(coalesce(col("cleaned"), lit(""))).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Cross-SOURCE overlap matrix — for every pair of `source` corpora, how
    * many distinct [[NgramK]]-token runs they share and what fraction of
    * the smaller side that is (containment). The corpus-health companion
    * to [[decontaminate]]: that one asks "is THIS doc contaminated", this
    * one asks "which corpus pairs leak into each other", the number a
    * mixing plan ([[mixWeights]]) should see before double-counting two
    * crawls of the same site. Shape: distinct (source, gram-fingerprint)
    * rows, self-equi-join on the fingerprint (per gram appearing in s
    * sources the join emits s² rows and s is the handful of corpus names —
    * never document-quadratic), one aggregate; per-source denominators are
    * a tiny broadcast. */
  def sourceOverlap(spark: SparkSession, sf: String): DataFrame =
    sourceOverlapFrom(fannedDocs(spark, sf))

  /** Core over any (source, text) relation, for spec-level planting. */
  private[graft] def sourceOverlapFrom(docs: DataFrame): DataFrame = {
    val toks = col("toks") // attribute-bound (see kgramRowsOf)
    val sg = docs.select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"),
        explode(when(size(toks) >= NgramK,
          transform(sequence(lit(1), size(toks) - (NgramK - 1)), i =>
            xxhash64(concat_ws(" ", slice(toks, i, lit(NgramK))))))
          .otherwise(array().cast("array<bigint>"))).as("g"))
      .distinct().persist()
    val counts = sg.groupBy("source").agg(count(lit(1)).as("n"))
    val out = sg.as("a")
      .join(sg.as("b"), col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(counts).as("ca"), col("src_a") === col("ca.source"))
      .join(broadcast(counts).as("cb"), col("src_b") === col("cb.source"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        round(col("shared_grams") / least(col("ca.n"), col("cb.n")), 4).as("containment"))
      .orderBy("src_a", "src_b")
    // eager local checkpoint (tiny s² matrix) so sg can be dropped now
    val ck = out.localCheckpoint()
    sg.unpersist()
    ck
  }

  /** Sorted-neighborhood near-dup detection (Hernández & Stolfo 1995) — the
    * third classic blocking family next to the inverted index
    * ([[dedupJaccard]]) and LSH banding ([[dedupMinhash]]): sort the corpus
    * by a blocking key, then compare each record only against its next
    * [[SnmWindow]] neighbors in sort order — O(n·w) comparisons total, and
    * the expensive verifier (full-text edit distance here) runs on n·w
    * pairs, never n². Distributed form: hash-partition on a block prefix of
    * the sort key, sort WITHIN blocks (one window per block — no global
    * sort, no single-partition window), lead() materializes the neighbor
    * texts. The method's known failure mode is real and documented: a
    * near-dup pair whose difference lands in the first [[SnmBlockChars]]
    * characters falls into different blocks and is missed — which is why
    * production runs multi-pass SNM with different keys, and why the spec
    * measures recall against the exact pair set instead of assuming it. */
  val SnmWindow = 3
  val SnmBlockChars = 12
  val SnmMaxLev = 20

  def sortedNeighborhood(spark: SparkSession, sf: String): DataFrame =
    snmPass(loadSnmDocs(spark, sf), substring(col("t"), 1, SnmBlockChars))
      .orderBy("id_lo", "id_hi")

  /** Multi-pass SNM — the production answer to single-key SNM's documented
    * miss class (a pair differing inside the block prefix lands in
    * different blocks): run a SECOND pass keyed on the SUFFIX (the reversed
    * text's prefix) and union the pair sets. A pair escapes both passes
    * only if it differs in the first [[SnmBlockChars]] chars AND the last —
    * and [[SnmMaxLev]] bounds total edits, so for texts longer than
    * 2·block+threshold that cannot happen: recall on the verified set
    * becomes structural, not probabilistic (the spec asserts multi ⊇
    * single and re-measures). Cost is exactly 2× the single pass (two
    * sorts, two n·w verifier sweeps, one distinct on emitted pairs) — the
    * linear-passes-for-recall trade every multi-pass blocking deployment
    * makes. */
  def sortedNeighborhoodMulti(spark: SparkSession, sf: String): DataFrame = {
    val docs = loadSnmDocs(spark, sf)
    snmPass(docs, substring(col("t"), 1, SnmBlockChars))
      .unionAll(snmPass(docs, substring(reverse(col("t")), 1, SnmBlockChars)))
      .distinct() // a pair both passes find carries the same lev — one row
      .orderBy("id_lo", "id_hi")
  }

  private def loadSnmDocs(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), lower(col("text")).as("t"), col("n_chars"))

  /** One SNM pass over (doc_id, t, n_chars) docs keyed by `blockKey`. */
  private def snmPass(docsIn: DataFrame, blockKey: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsIn.withColumn("block", blockKey)
    val w = Window.partitionBy("block").orderBy("n_chars", "doc_id")
    // every lead(·, k) shares ONE window spec, so Catalyst plans a single
    // Window operator over a single Exchange+Sort; the w neighbor slots
    // then fan out through a cheap map-side explode. (A union of w
    // per-offset projections re-sorts the whole corpus w times — at 100 TB
    // the sort IS the cost of SNM, so this is a w× saving.)
    val neighbors = docs
      .select(col("doc_id").as("id_a"), col("t").as("t_a"),
        array((1 to SnmWindow).map { k =>
          struct(lead("doc_id", k).over(w).as("id_b"),
            lead("t", k).over(w).as("t_b"))
        }: _*).as("nbrs"))
      .select(col("id_a"), col("t_a"), explode(col("nbrs")).as("nb"))
      .select(col("id_a"), col("t_a"),
        col("nb.id_b").as("id_b"), col("nb.t_b").as("t_b"))
    neighbors
      .filter(col("id_b").isNotNull)
      // two lossless verifier cuts (the DP is the operator's dominant
      // cost): lev(a,b) >= |len(a)-len(b)|, so a length prefilter skips
      // the DP outright; and the threshold form of levenshtein runs a
      // banded O(threshold·n) DP returning -1 past the bound instead of
      // filling the full O(n·m) matrix. Neither changes the emitted set.
      .filter(abs(length(col("t_a")) - length(col("t_b"))) <= SnmMaxLev)
      .select(least(col("id_a"), col("id_b")).as("id_lo"),
        greatest(col("id_a"), col("id_b")).as("id_hi"),
        levenshtein(col("t_a"), col("t_b"), SnmMaxLev).cast("long").as("lev"))
      .filter(col("lev") >= 0 && col("lev") <= SnmMaxLev)
  }

  /** Canonical-document selection — the decision step that turns the
    * cluster analysis ([[dupClusters]]) into an actual dedup action: every
    * document gets a cluster (singletons are their own), and within each
    * cluster exactly one member is kept — the longest text, ties to the
    * smallest doc_id (a deterministic "best copy" policy; real pipelines
    * swap in quality score or recency). Output is the full keep/drop
    * decision table a curation run materializes before the filtered
    * rewrite. One window over the cluster key after the cluster join; at
    * 100 TB the clusters frame is tiny relative to the corpus (only
    * near-dup members), so the left join broadcasts. */
  def dedupCanonical(spark: SparkSession, sf: String): DataFrame =
    dedupCanonicalFrom(spark, sf, dupClusters(spark, sf))

  /** The 100 TB form of [[dedupCanonical]]: identical keep/drop policy over
    * the LSH-banded cluster assignment ([[dupClustersLsh]]) instead of the
    * exact-pair one — the round-8 text decade measured the exact pair base
    * trending quadratic on hot-shingle corpora (PLANS.md) while the banded
    * base holds ~0.6, so the ACTION step needs a twin that rides the scale
    * path. No-oracle (LSH banding isn't SQL-expressible); the spec pins
    * equality with the oracled exact form on the fixture, where banding
    * recovers every planted pair. */
  def dedupCanonicalLsh(spark: SparkSession, sf: String): DataFrame =
    dedupCanonicalFrom(spark, sf, dupClustersLsh(spark, sf))

  private def dedupCanonicalFrom(spark: SparkSession, sf: String,
      clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "n_chars")
    val member = docs.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"), col("n_chars"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("n_chars").desc, col("doc_id"))
    member
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .select(col("doc_id"), col("cluster"), (col("rk") === 1).as("keep"),
        col("n_members"))
      .orderBy("doc_id")
  }

  /** Corpus composition report — the mix dashboard a pre-training run is
    * steered by: docs, tokens and global token share per (predicted
    * language × source). Composes [[langIdFrom]] with the token counts off
    * ONE persisted tokenized scan; the global total joins in as a broadcast
    * 1-row frame (never a driver-side collect). Both inputs are themselves
    * oracle-checked queries, and so is the composition. */
  def corpusMix(spark: SparkSession, sf: String): DataFrame = {
    val base = fannedDocs(spark, sf)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .persistOnce()
    val lang = langIdFrom(base.select("doc_id", "toks"))
    val joined = base
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"))
      .join(lang, "doc_id")
    val total = joined.agg(sum("n_tokens").as("tot"))
    joined.groupBy("lang_pred", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .crossJoin(broadcast(total))
      .select(col("lang_pred"), col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot"), 4).as("token_share"))
      .orderBy("lang_pred", "source")
  }

  /** Log2 document-length histogram — the power-of-two length profile every
    * corpus report starts with. The bucket is the BIT LENGTH of n_chars
    * (`length(bin(x))` = floor(log2 x)+1), computed integer-exactly in both
    * engines — floating log2 near a power-of-two boundary could flip the
    * floor by one ulp across libm implementations. */
  def lengthDist(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .groupBy(length(bin(col("n_chars"))).cast("long").as("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("log2_bucket")

  /** First hex digit of md5(doc_id) as 0..15 — the content-hash shard key
    * both engines (and any future writer) compute byte-identically
    * (unlike xxhash64/rand). */
  private def shardOf: Column = {
    val a = ascii(substring(md5(col("doc_id").cast("string")), 1, 1))
    when(a >= 97, a - 87).otherwise(a - 48).cast("long")
  }

  /** Deterministic content-hash sharding report — how a 100 TB corpus is
    * split into a fixed number of balanced output shards for downstream
    * consumers (tokenizer workers, training-data loaders). The production
    * write is `.repartition(shard).write.partitionBy("shard")`; this query
    * is the balance audit over it. */
  def docShards(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .groupBy(shardOf.as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("shard")

  /** Training-context length for [[seqPack]] (tokens per packed context). */
  val PackContextLen = 512

  /** Sequence packing — assign documents to fixed-length training contexts
    * (concatenate in deterministic order, split every [[PackContextLen]]
    * tokens), the step that turns a curated corpus into model inputs. A
    * single global running sum would serialize the corpus through one
    * partition, so packing runs PER SHARD ([[shardOf]]): each shard packs
    * its own document stream independently — embarrassingly parallel, the
    * way production packers actually shard. The window's running sum is
    * per-shard state, so partition memory is bounded by shard size.
    *
    * A document occupies the half-open token range [start, start+n) of its
    * shard's stream, which may SPAN several contexts — each overlapping
    * context gets exactly the token mass that lands in it (the explode over
    * the doc's context span), so per-context fill is ≤ 1 by construction,
    * every context in 0..ceil(shard total / len)-1 appears, and token mass
    * is conserved. Output per (shard, context_id): documents contributing
    * tokens to it, the token mass, and fill = mass / context length (< 1
    * only for each shard's final partial context). */
  def seqPack(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val len = PackContextLen
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), shardOf.as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("end_off", sum("n_tokens").over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .filter(col("n_tokens") > 0) // zero-token docs occupy no context
      .select(col("shard"), col("start_off"), col("end_off"),
        explode(expr(s"sequence(start_off div $len, (end_off - 1) div $len)"))
          .as("context_id"))
      .withColumn("tok_in_ctx",
        least(col("end_off"), (col("context_id") + 1) * len) -
          greatest(col("start_off"), col("context_id") * len))
      .groupBy("shard", "context_id")
      .agg(count(lit(1)).as("n_docs"), sum("tok_in_ctx").as("n_tokens"),
        round(sum("tok_in_ctx").cast("double") / len, 4).as("fill_est"))
      .orderBy("shard", "context_id")
  }

  /** Sampling temperature for [[mixWeights]]: share^(1/T) flattening with
    * T = 2 — the standard multi-source rebalancing that upsamples small
    * sources (e.g. low-resource languages) relative to proportional
    * sampling. */
  val MixTemperature = 2.0

  /** Temperature-reweighted source-mix table — for each source: its token
    * share and its T=2 sampling weight RELATIVE TO THE LARGEST source
    * (sqrt(tokens)/sqrt(max tokens)). Both scalars that cross rows (total,
    * max) are exact integer aggregates broadcast back as 1-row frames, and
    * sqrt is IEEE-correctly-rounded in every engine — so the output is
    * bit-deterministic, with no cross-partition float-summation order to
    * disturb the oracle hash (a normalized Σ-weights denominator would
    * reintroduce one). */
  def mixWeights(spark: SparkSession, sf: String): DataFrame = {
    val per = fannedDocs(spark, sf)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .persistOnce()
    val scalars = per.agg(sum("n_tokens").as("tot"), max("n_tokens").as("mx"))
    per.crossJoin(broadcast(scalars))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot"), 4).as("token_share"),
        round(sqrt(col("n_tokens").cast("double")) / sqrt(col("mx").cast("double")), 4)
          .as("sample_weight"))
      .orderBy("source")
  }

  /** Incremental dedup — the recurring production job: a NEW batch of
    * documents (here the deterministic stand-in doc_id % 10 == 0) arrives
    * and must be checked against the EXISTING corpus, never corpus × corpus
    * again. Same inverted-index candidate generation as [[dedupJaccard]]
    * but the join is batch-side × corpus-side only, so the work scales with
    * the batch, not the corpus². For each new document: its best corpus
    * match at Jaccard ≥ 0.8 (highest jaccard, ties to the smallest corpus
    * id) — the drop/keep decision an ingest pipeline applies. At 100 TB the
    * corpus side of the shingle join is the pre-built inverted index a
    * store maintains incrementally; only batch shingles stream through it. */
  def dedupIncremental(spark: SparkSession, sf: String): DataFrame = {
    val ex = shingleRelation(spark, sf)
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val batch = ex.filter(col("doc_id") % 10 === 0)
    val corpus = ex.filter(col("doc_id") % 10 =!= 0)
    val pairs = batch.as("a")
      .join(corpus.as("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .agg(count(lit(1)).as("common"))
    val scored = pairs
      .join(sizes.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("old_id") === col("sb.doc_id"))
      .select(col("new_id"), col("old_id"),
        round(col("common") / (col("sa.n") + col("sb.n") - col("common")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
    scored.groupBy("new_id")
      .agg(max(struct(col("jaccard"), (-col("old_id")).as("neg"))).as("b"))
      .select(col("new_id"), (-col("b.neg")).as("dup_of"),
        col("b.jaccard").as("jaccard"))
      .orderBy("new_id")
  }

  /** BM25 parameters (the standard Robertson defaults) and the fixed
    * conjunctive query both BM25 forms score. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  private val Bm25QueryTerms = Seq("hash", "join", "scan")

  /** The ONE BM25 scoring body, shared by [[bm25]] (in-query df recount)
    * and [[bm25Store]] (df read from the maintained lexical artifact) —
    * the standingIndex one-construction-site discipline applied to
    * retrieval scoring: if the arithmetic or the tie-break ever changes,
    * both forms change together, so the store-backed form can never drift
    * from the declared oracle. `dfq` must be (tok, df DOUBLE) covering at
    * least the query terms with FULL-corpus document frequencies — which
    * the maintained store's exact Long counts are, verbatim (q_df_update's
    * oracle is the full recompute). */
  private[graft] def bm25From(spark: SparkSession, sf: String,
      storeDf: Option[DataFrame], corpusPred: Option[Column] = None): DataFrame = {
    val tk = tokenRelation(spark, sf, corpusPred)
    val docLen = tk.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val stats = docLen.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("len").as("avg_len"))
    val tf = tk.filter(col("tok").isin(Bm25QueryTerms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df: either the in-query distinct-doc recount (the self-contained
    // form) or a |query|-row probe of the standing store — identical
    // values (exact Longs; the store covers the full corpus, and a term's
    // df among docs containing it IS its corpus df)
    val dfq = storeDf match {
      case Some(store) => store.filter(col("tok").isin(Bm25QueryTerms: _*))
        .select(col("tok"), col("df").cast("double").as("df"))
      case None =>
        tf.groupBy("tok").agg(countDistinct("doc_id").cast("double").as("df"))
    }
    bm25Score(tf, dfq, docLen, stats)
  }

  /** The PERSISTED exploded token relation per (context, sf, corpus
    * predicate, gate confs) — a session artifact ([[Artifacts.session]])
    * for the BM25 recount forms' shared explode (r16 advisor #1): the
    * persist exists to share one tokenization across [[bm25From]]'s three
    * aggregates (without it the explode would inline 3× into one scoring
    * plan), but per-invocation persists parked a fresh corpus-sized cache
    * registration per bm25/bm25Store/lexLifecycle call (CacheManager
    * plan-dedup bounded the memory, yet the sharing was implicit and the
    * registrations grew). One explicit standing entry per distinct corpus
    * view — exactly two exist (full + lexLifecycle's post-erasure). */
  private def tokenRelation(spark: SparkSession, sf: String,
      corpusPred: Option[Column]): DataFrame =
    Artifacts.session(spark, "tokens", sf, corpusPred.map(_.toString).getOrElse("all")) {
      val docs = fannedDocs(spark, sf)
      corpusPred.fold(docs)(docs.filter)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    }.persistOnce()

  /** The PERSISTED (doc_id, s) shingle relation per (context, sf, gate
    * confs) — the [[tokenRelation]] / [[VectorOps.embProjection]]
    * discipline's third application (r18 verdict #1, closing the last
    * per-call-persist class): the persist exists to share one shingle
    * relation across a query's probe + candidate + verify arms, but the
    * prod entry points ([[dedupJaccard]]/[[dedupPrefix]]/[[dedupMinhash]]/
    * [[decontaminate]]/[[dedupIncremental]]) each parked a fresh
    * corpus-sized cache registration per call (the suite log's "Asked to
    * cache already cached data" warnings). The parameterized `From` seams
    * stay memo-free — a caller frame has no honest key (the
    * dedupCosineLshFrom note, PLANS r18). */
  private[graft] def shingleRelation(spark: SparkSession, sf: String): DataFrame =
    Artifacts.session(spark, "dedup", sf, "shingle")(shingleRows(spark, sf)).persistOnce()

  /** The persisted (doc_id, g) k-gram relation ([[dedupNgram]]), stored
    * like [[shingleRelation]]. */
  private[graft] def kgramRelation(spark: SparkSession, sf: String): DataFrame =
    Artifacts.session(spark, "dedup", sf, "kgram")(kgramRowsOf(fannedDocs(spark, sf)))
      .persistOnce()

  /** The ONE BM25 scoring tail over prepared relations — shared by every
    * BM25 form ([[bm25From]]'s scan-derived relations and [[bm25Index]]'s
    * artifact-read ones), so the arithmetic, rounding, and tie-break have
    * exactly one spelling however the inputs were produced. */
  private def bm25Score(tf: DataFrame, dfq: DataFrame, docLen: DataFrame,
      stats: DataFrame): DataFrame =
    tf.join(broadcast(dfq), "tok")
      .join(docLen, "doc_id")
      .join(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("len") / col("avg_len")))).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** BM25 top-20 docs for a fixed conjunctive query — the retrieval scorer
    * an LLM RAG/eval pipeline runs against its corpus. One exploded token
    * relation feeds doc-lengths, per-term tf and df (all map-side-combined
    * aggregates); df and the corpus stats broadcast (|query| and 1 rows);
    * the only data-sized shuffles are the token explode and the doc-length
    * join, both keyed on doc_id. Ranking is on the ROUNDED score with
    * doc_id tie-break so libm-log ulp skew can't reorder across engines. */
  def bm25(spark: SparkSession, sf: String): DataFrame =
    bm25From(spark, sf, None)

  /** BM25 served FROM the maintained lexical store (r15 verdict #1/#5) —
    * the consumer the standing (token, df, tf) table exists for: df comes
    * off [[lexMaintainedArtifact]] (the artifact [[lexMerge]] emits, a
    * |query|-row broadcast probe of standing state) instead of a fresh
    * per-query distinct-doc pass over the corpus. Value-identical to
    * [[bm25]] by the store's exactness contract (maintained Long counts ==
    * the full recompute, q_df_update's oracled property), so the q_bm25
    * oracle transfers VERBATIM — and spec'd bit-for-bit against the
    * recount form. This is the 100 TB serving shape: df is maintained,
    * never recomputed; the only corpus-shaped work left is the per-term tf
    * + doc-length lookup, which at scale is the inverted-index probe
    * ([[invertedIndex]]), not a scan. */
  def bm25Store(spark: SparkSession, sf: String): DataFrame =
    bm25From(spark, sf, Some(lexMaintainedArtifact(spark, sf)))

  /** The standing POSTINGS artifact — the inverted index WITH term
    * frequencies, (tok, doc_id, tf) as exact Long counts: the classic IR
    * serving structure, materialized once per corpus. Unlike the
    * aggregate lexical store, every row is per-DOCUMENT state, so the
    * artifact is incrementally maintainable by construction: an ingest
    * batch APPENDS its rows (doc-disjoint — no merge arithmetic at all),
    * an erasure DELETES them (partition prune on doc_id at scale), and
    * neither touches the surviving rows. At 100 TB this is term-bucketed
    * so a query's probe reads only its terms' buckets. */
  private[graft] def postingsArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_postings_$sf") { d =>
      Tables.load(spark, sf, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .write.parquet(s"$d/post")
    }
    Tables.parquet(spark, s"$dir/post")
  }

  /** The standing CORPUS-PARTITION postings artifact (doc_id % 10 != 0 —
    * the same ingest split every maintenance query uses), staged once:
    * the table [[postingsUpdate]] appends the ingest batch to. Kept
    * separate from the full-corpus [[postingsArtifact]] for the same
    * reason lex_df_ and lex_df_full_ are: update starts from the
    * pre-ingest state, downdate from the full one. */
  private[graft] def postingsPartArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_postings_part_$sf") { d =>
      Tables.load(spark, sf, "documents")
        .filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .write.parquet(s"$d/post")
    }
    Tables.parquet(spark, s"$dir/post")
  }

  /** INCREMENTAL postings maintenance — ingest (r16 verdict #3: the
    * postings artifact claimed "maintainable by construction"; this is
    * the declared query that proves it). Because every postings row is
    * per-DOCUMENT state, a doc-disjoint ingest batch maintains the table
    * by pure APPEND: the batch's (doc_id, tok, tf) rows — counted
    * batch-sized, one explode + aggregate over the ingest docs only —
    * union onto the standing corpus-partition artifact, and not one
    * surviving row is read, rewritten, or merged (no arithmetic at all,
    * unlike the aggregate store's Long merge). The result is EXACTLY the
    * full-corpus recompute (doc-disjointness: each doc's rows come from
    * exactly one side), so the oracle is that recompute verbatim — and it
    * equals the full [[postingsArtifact]] the index-served rung probes,
    * which is what gives [[bm25Index]]/[[tfidfIndex]] the same
    * maintenance proof the df store has. At 100 TB the append is a
    * batch-sized partition write into the doc-bucketed layout; the
    * standing table is never touched. */
  def postingsUpdate(spark: SparkSession, sf: String): DataFrame = {
    val batch = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    postingsPartArtifact(spark, sf).unionByName(batch)
      .orderBy("doc_id", "tok")
  }

  /** The DOWNDATE mirror — erasure (GDPR, revoked source) leaves the
    * standing full-corpus postings by DELETE: an anti-join of the erased
    * doc-id list against the artifact (the erasure arrives as ids, not a
    * predicate), touching no surviving row. At 100 TB this is a
    * partition prune on the doc-bucketed layout — the erased docs' rows
    * drop with their buckets; nothing is re-tokenized. Exactly the
    * remaining-corpus recompute (per-document rows ⇒ removing a doc's
    * rows IS recomputing without it), oracled verbatim. */
  def postingsDowndate(spark: SparkSession, sf: String): DataFrame = {
    val erased = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0).select("doc_id")
    postingsArtifact(spark, sf)
      .join(erased, Seq("doc_id"), "left_anti")
      .orderBy("doc_id", "tok")
  }

  /** The standing CORPUS-PARTITION doc-length artifact — the per-document
    * lengths over doc_id % 10 ≠ 0, the state [[postingsLifecycle]]'s
    * ingest appends to (the [[docLenArtifact]] argument on the
    * maintenance split). */
  private[graft] def docLenPartArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_doclen_part_$sf") { d =>
      postingsPartArtifact(spark, sf).groupBy("doc_id")
        .agg(sum("tf").as("len")).write.parquet(s"$d/len")
    }
    Tables.parquet(spark, s"$dir/len")
  }

  /** The corpus-partition scalar counters (n_docs, sum_len) as RAW exact
    * Longs — the 1-row state [[postingsLifecycle]] maintains by counter
    * arithmetic (the cov_sums_ discipline shrunk to two numbers): an
    * ingest adds the batch's own (count, Σ len), an erasure subtracts
    * them, and avg_len is derived at SERVE time by one division — kept as
    * Longs, not a stored average, precisely so maintenance stays exact
    * integer arithmetic. */
  private[graft] def lexCntPartArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_stats_part_$sf") { d =>
      docLenPartArtifact(spark, sf)
        .agg(count(lit(1)).as("n_docs"), coalesce(sum("len"), lit(0L)).as("sum_len"))
        .write.parquet(s"$d/st")
    }
    Tables.parquet(spark, s"$dir/st")
  }

  /** The per-document chain's maintained relations — post-maintenance
    * postings, doc lengths, and the 1-row (n_docs, avg_len) derived from
    * the Long counters. One construction site (the lexChain discipline);
    * also the spec's seam for asserting counter exactness in isolation. */
  private[graft] case class PostingsChain(p2: DataFrame, dl2: DataFrame,
      stats2: DataFrame)

  private[graft] def postingsChain(spark: SparkSession, sf: String): PostingsChain = {
    val docs = Tables.load(spark, sf, "documents")
    val batchPost = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val erased = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val p2 = postingsPartArtifact(spark, sf).unionByName(batchPost)
      .join(erased, Seq("doc_id"), "left_anti")
    // doc lengths: same per-document append/delete, batch-sized inputs
    val batchLen = batchPost.groupBy("doc_id").agg(sum("tf").as("len"))
    val dl1 = docLenPartArtifact(spark, sf).unionByName(batchLen)
    val dl2 = dl1.join(erased, Seq("doc_id"), "left_anti")
    // counters: standing Longs + batch sums − erased sums (the erased
    // docs' lengths come from the MAINTAINED table, not their text)
    val bCnt = batchLen.agg(count(lit(1)).as("bn"),
      coalesce(sum("len"), lit(0L)).as("bs"))
    val eCnt = dl1.join(erased, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("en"), coalesce(sum("len"), lit(0L)).as("es"))
    val n2 = col("n_docs") + col("bn") - col("en")
    val stats2 = lexCntPartArtifact(spark, sf)
      .crossJoin(broadcast(bCnt)).crossJoin(broadcast(eCnt))
      .select(n2.cast("double").as("n_docs"),
        ((col("sum_len") + col("bs") - col("es")).cast("double") /
          n2.cast("double")).as("avg_len"))
    PostingsChain(p2, dl2, stats2)
  }

  /** SERVING-INDEX LIFECYCLE COMPOSITION — the per-document tier's
    * [[lexLifecycle]], and the strongest form of the engine's lifecycle
    * story because maintenance AND serving both run without ever
    * re-tokenizing the surviving corpus: ingest APPENDS the batch's
    * postings + doc lengths (batch-sized tokenization, the only explode
    * in the query) and ADDS its two counters; erasure DELETES by
    * anti-join on the erased id list and SUBTRACTS the erased docs'
    * counters (a batch-sized probe of the maintained lengths — the
    * erased text itself is never read); BM25 then serves from the
    * post-maintenance postings/lengths/counters and the post-maintenance
    * df store ([[lexChain]]'s l2 — the aggregate tier's own maintained
    * output), through the shared [[bm25Score]] tail. Exactness: every
    * maintained relation is per-document rows or exact Long counters, so
    * each equals the remaining-corpus recompute bit-for-bit (avg_len =
    * (double)Σlen / (double)n is the same IEEE division the recount's
    * Average performs on the same exact integers) — the whole composition
    * is ORACLED by the [[lexLifecycle]] SQL VERBATIM, and the spec pins
    * the stronger cross-mechanism fact: the per-document append/delete
    * machinery and the aggregate Long-merge machinery converge on
    * BIT-identical serving output. At 100 TB this is the shape that keeps
    * an interactive index consistent through ingest and GDPR erasure:
    * every step is batch-sized or artifact-probe-sized; the surviving
    * 100 TB is never touched. */
  def postingsLifecycle(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    def nOf(pred: Column, name: String) =
      docs.filter(pred).agg(count(lit(1)).as(name))
    val audit = nOf(col("doc_id") % 10 =!= 0, "n_standing")
      .crossJoin(nOf(lit(true), "n_after_ingest"))
      .crossJoin(nOf(col("doc_id") % 7 =!= 3, "n_live"))
    postingsLifecycleScores(spark, sf)
      .crossJoin(broadcast(audit))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  /** The lifecycle composition's bare scoring table (doc_id, bm25) —
    * the seam [[hybridLifecycle]] fuses without the audit columns. */
  private[graft] def postingsLifecycleScores(spark: SparkSession, sf: String): DataFrame = {
    val ch = postingsChain(spark, sf)
    // df: the post-maintenance aggregate store — the other tier's own
    // maintained output, so BOTH standing stores serve one query
    val dfq = lexChain(spark, sf).l2
      .filter(col("tok").isin(Bm25QueryTerms: _*))
      .select(col("tok"), col("df").cast("double").as("df"))
    val tf = ch.p2.filter(col("tok").isin(Bm25QueryTerms: _*))
      .select("doc_id", "tok", "tf")
    bm25Score(tf, dfq, ch.dl2, ch.stats2)
  }

  /** THE RAG FRONT DOOR UNDER COMPOSED MAINTENANCE — both retrieval
    * tiers' lifecycles fused into one declared query: the lexical arm is
    * [[postingsLifecycleScores]] (post-ingest, post-erasure BM25 served
    * from the maintained per-document artifacts + the maintained df
    * store), the dense arm the exact cosine top-[[HybridTopN]] over the
    * SAME live corpus (vec_id % 7 ≠ 3 — vec_id ≡ doc_id, so the one
    * erasure event hits both tiers coherently), RRF-fused exactly as
    * [[hybridRetrieval]]. This is the end-state query of the whole
    * engine: a user document arrives (ingest), a deletion request lands
    * (erasure), and the next retrieval answers from state no step of
    * which re-read the surviving corpus — text tier by append/delete +
    * counters, with only the dense arm scanning (its own lifecycle twin,
    * [[hybridLifecycleAnn]], removes that too). Fully ORACLED: the
    * composed hybrid SQL with both live-corpus predicates — every
    * relation exact, ranks integer. */
  def hybridLifecycle(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = postingsLifecycleScores(spark, sf)
      .withColumn("rank_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_lex")
    val dense = VectorOps.cosineTopkN(spark, sf, HybridTopN,
        Some(col("vec_id") % 7 =!= 3))
      .withColumn("rank_dense",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("rank_dense"))
    rrfFuse(lex, dense)
  }

  /** [[hybridLifecycle]] with the SUB-LINEAR dense arm — the composed
    * end-state at 100 TB: the dense side probes the ANN lifecycle's
    * COMPACTED post-maintenance index ([[VectorOps.annLifecycleProbes]],
    * probe 0, depth [[HybridTopN]]) instead of scanning the live corpus,
    * so NEITHER arm of the fused query touches corpus-sized data — the
    * lexical side is maintained per-document artifacts, the dense side a
    * versioned compacted index, and the erasure is honored by both
    * (tombstone-compaction on one, anti-join delete on the other).
    * Declared no-oracle (ANN recall < 1 — the q_ann_pq discipline);
    * [[hybridLifecycle]] is the oracled exact twin, overlap +
    * rank-integrity + determinism spec'd. */
  def hybridLifecycleAnn(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = postingsLifecycleScores(spark, sf)
      .withColumn("rank_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_lex")
    val dense = VectorOps.annLifecycleProbes(spark, sf, useCompacted = true,
        topK = HybridTopN)
      .filter(col("probe_id") === 0)
      .select(col("vec_id").as("doc_id"), col("rk").as("rank_dense"))
    rrfFuse(lex, dense)
  }

  /** The 1-row corpus document count, staged once — the last corpus fact
    * the index-served TF-IDF needs (documents INCLUDING zero-token ones,
    * which the postings cannot supply); stored pre-cast to DOUBLE, the
    * exact value the recount form computes. */
  private[graft] def docCountArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_ndocs_$sf") { d =>
      Tables.load(spark, sf, "documents")
        .agg(count(lit(1)).cast("double").as("n_docs")).write.parquet(s"$d/n")
    }
    Tables.parquet(spark, s"$dir/n")
  }

  /** The standing per-document LENGTH artifact (doc_id → len), staged
    * once from the postings — len = Σ tf per doc, an exact Long equal to
    * the token count, so the derivation is bit-lossless — and
    * incrementally maintainable by the SAME append/delete argument as
    * [[postingsArtifact]]: every row is per-DOCUMENT state, an ingest
    * batch appends its docs' lengths, an erasure deletes them, survivors
    * are untouched. Serving probes it by candidate doc_id, never
    * re-aggregates the postings (r16 verdict #1: the index-served rung's
    * one remaining corpus-sized per-query aggregate, now a staged
    * artifact). */
  private[graft] def docLenArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_doclen_$sf") { d =>
      postingsArtifact(spark, sf).groupBy("doc_id")
        .agg(sum("tf").as("len")).write.parquet(s"$d/len")
    }
    Tables.parquet(spark, s"$dir/len")
  }

  /** The 1-row corpus-stats artifact (n_docs of token-bearing docs,
    * avg_len) BM25's length normalization broadcasts — staged once from
    * [[docLenArtifact]]. Exactness: the count is an exact Long cast once;
    * the mean is a sum of integer-valued doubles < 2⁵³ (exact in any
    * order) over one division — bit-stable under any partitioning, which
    * is what lets the stability gate re-derive it and the q_bm25 oracle
    * transfer. Maintenance at scale is two scalar counters (Σ len,
    * n_docs) updated by the ingest/erasure batch's own sums — the 1-row
    * twin of the [[lexMaintainedArtifact]] Long-merge argument. */
  private[graft] def lexStatsArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_stats_$sf") { d =>
      docLenArtifact(spark, sf)
        .agg(count(lit(1)).cast("double").as("n_docs"), avg("len").as("avg_len"))
        .write.parquet(s"$d/st")
    }
    Tables.parquet(spark, s"$dir/st")
  }

  /** BM25 served ENTIRELY from standing state — zero corpus scans AND
    * zero corpus-sized per-query aggregates in the serving path (both
    * spec-asserted against the plan): df probes the maintained lexical
    * store ([[lexMaintainedArtifact]]), tf probes the postings artifact
    * filtered to the query terms (parquet-pushed — at scale, the term
    * buckets), doc lengths probe the staged [[docLenArtifact]] by
    * candidate doc_id, and the corpus stats broadcast the staged 1-row
    * [[lexStatsArtifact]] (r16 verdict #1: previously both re-derived
    * from the FULL postings per query — a corpus-sized aggregate hiding
    * in the serving path). The scoring tail is the shared [[bm25Score]],
    * so the result is BIT-identical to [[bm25]] and the q_bm25 oracle
    * transfers verbatim. This completes the serving ladder: recount
    * ([[bm25]]) → df from the store ([[bm25Store]]) → everything from
    * standing state (here) — the only shape that serves interactive
    * retrieval at 100 TB, where per-query corpus-sized work is not a
    * cost but an impossibility. */
  def bm25Index(spark: SparkSession, sf: String): DataFrame = {
    val tf = postingsArtifact(spark, sf)
      .filter(col("tok").isin(Bm25QueryTerms: _*))
      .select("doc_id", "tok", "tf")
    val dfq = lexMaintainedArtifact(spark, sf)
      .filter(col("tok").isin(Bm25QueryTerms: _*))
      .select(col("tok"), col("df").cast("double").as("df"))
    bm25Score(tf, dfq, docLenArtifact(spark, sf), lexStatsArtifact(spark, sf))
  }

  /** Reciprocal-rank-fusion constant (Cormack, Clarke & Buettcher 2009's
    * standard k=60) and the per-arm candidate depth fused by
    * [[hybridRetrieval]]. */
  val RrfK = 60
  val HybridTopN = 20

  /** RRF fusion of two integer rank tables (doc_id, rank_lex) ⋈ (doc_id,
    * rank_dense): score = Σ_arms 1/(k + rank), absent arm contributes 0.
    * Exact-deterministic by construction — ranks are integers, so the two
    * reciprocal terms are identical IEEE divisions in any engine and the
    * two-term sum has a fixed spelling order; no float aggregate anywhere.
    * Absent ranks surface as 0 (documented: "not in that arm's top-N")
    * rather than null so the fused table is null-free for hashing. */
  private[graft] def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame =
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_dense"), lit(0L)).as("rank_dense"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_dense")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))

  /** Hybrid retrieval — RRF fusion of the two existing retrieval arms
    * (r12 verdict #7): [[bm25]]'s lexical top-20 and the exact-cosine
    * dense top-[[HybridTopN]] ([[VectorOps.cosineTopkN]], probe vec_id 0,
    * vec_id ≡ doc_id — the one-embedding-per-document contract of the
    * fixture). The RAG front-door shape: each arm ranks independently
    * (BM25 sees terms the embedding blurs, the embedding sees paraphrase
    * BM25 misses), the fusion needs only the two rank tables — one ≤40-row
    * join, no score calibration across arms (that is RRF's whole point:
    * ranks are scale-free). At 100 TB each arm is already sub-linear
    * (BM25 over the inverted-index discipline, dense over the IVF-PQ
    * probe) and the fusion cost stays candidate-sized. Oracle: the two
    * arms' own oracled SQL composed with the same integer-rank windows.
    * Spec: on a planted relevance fixture, fusion ranks the
    * both-arms-agree document above each arm's own top-1.
    *
    * The lexical arm is [[bm25Index]] — the standing-state-served rung —
    * as of r17 (r16 verdict #2): bit-identical to the recount [[bm25]]
    * (the index rung's spec'd contract), so the oracle composed from the
    * recount SQL transfers verbatim, and the RAG front door's whole plan
    * becomes standing-state probes + the dense arm — no corpus scan
    * anywhere on the lexical side (spec-asserted). */
  def hybridRetrieval(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Index(spark, sf)
      .withColumn("rank_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_lex")
    val dense = VectorOps.cosineTopkN(spark, sf, HybridTopN)
      .withColumn("rank_dense",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("rank_dense"))
    rrfFuse(lex, dense)
  }

  /** [[hybridRetrieval]] with the SUB-LINEAR dense arm — the shape that
    * actually runs at 100 TB: the lexical arm is unchanged, the dense arm
    * is the IVF-PQ probe ([[VectorOps.annPq]], probe vec_id 0, result
    * depth [[HybridTopN]]) instead of the exact corpus scan. Declared
    * no-oracle (the ANN arm's recall < 1 by construction — exactly the
    * q_ann_pq discipline): [[hybridRetrieval]] is the oracled exact twin,
    * and the spec pins rank-table integrity plus overlap with the exact
    * fusion on the fixture. Lexical arm = [[bm25Index]] (r17, same swap
    * as the exact front door): with it, BOTH arms here run sub-linear —
    * postings/store/doclen probes on one side, the IVF-PQ compressed-
    * domain probe on the other — the complete 100 TB serving shape. */
  def hybridRetrievalAnn(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Index(spark, sf)
      .withColumn("rank_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_lex")
    val dense = VectorOps.annPq(spark, sf, topK = HybridTopN)
      .filter(col("probe_id") === 0)
      .select(col("vec_id").as("doc_id"), col("rk").as("rank_dense"))
    rrfFuse(lex, dense)
  }

  /** Ground-truth depth for the retrieval-quality metrics: recall@3 and
    * MRR, matching the ANN queries' declared top-3 result depth. */
  val EvalK = 3

  /** RETRIEVAL-QUALITY AUDIT as a declared query (r13 verdict #3) — the
    * arm-level half: recall@[[EvalK]] and MRR of each of
    * [[hybridRetrieval]]'s arms against the fused consensus ranking (the
    * best relevance proxy the corpus carries without human labels). One
    * row per system: how much of the fused top-3 does BM25 alone recover,
    * how much does the exact dense arm alone recover, and at what
    * reciprocal rank does each arm place the fused top-1. This is the
    * eval table a RAG pipeline alerts on — an arm whose recall decays is
    * misconfigured or its index is stale. Fully oracle-able: both arms
    * and the fusion are SQL-expressible, and both metrics are exact
    * rationals of integer ranks (recall = hits/3, MRR = 1/rank — single
    * IEEE divisions, no float aggregates; the fused table is ≤40 rows so
    * the audit costs nothing at any corpus scale). The ANN half —
    * the same metrics for the sub-linear systems — is the no-oracle twin
    * [[retrievalEvalAnn]], exactly the q_ann_pq/q_hybrid_ann discipline. */
  def retrievalEval(spark: SparkSession, sf: String): DataFrame =
    retrievalEvalFrom(hybridRetrieval(spark, sf))

  /** The SAME audit over the POST-MAINTENANCE front door (r17 verdict #4)
    * — [[retrievalEval]] covers only the non-lifecycle fusion; this is
    * the GO/NO-GO an operator reads after an ingest + erasure event:
    * recall@[[EvalK]] and MRR of each arm (lifecycle-served BM25, dense)
    * against [[hybridLifecycle]]'s own fused consensus. One metric
    * spelling ([[retrievalEvalFrom]] — extracted, not copied), exact
    * rationals of integer ranks ⇒ fully oracled: the q_retrieval_eval SQL
    * over the post-erasure fused CTEs. */
  def retrievalEvalLifecycle(spark: SparkSession, sf: String): DataFrame =
    retrievalEvalFrom(hybridLifecycle(spark, sf))

  /** The ANN twin of the lifecycle arm-quality audit (r18 verdict #2 —
    * the one audit-tier asymmetry left after r18): the SAME metric block
    * over [[hybridLifecycleAnn]]'s fusion, so the GO/NO-GO exists for the
    * composed front door's 100 TB shape too — both arms served from
    * maintained state (per-document lexical artifacts, the compacted
    * post-maintenance ANN index), audited after the ingest + erasure
    * event. Composition by construction: one extracted spelling
    * ([[retrievalEvalFrom]]) over the already-declared fusion — the
    * audit arithmetic cannot drift from the oracled tier's. Declared
    * no-oracle (the dense arm is the ANN lifecycle probe — KMeans-fit
    * assignments, not SQL-expressible; recall < 1 by construction);
    * [[retrievalEvalLifecycle]] is the oracled exact twin, and the spec
    * pins schema + row identity plus a test-side metric recompute from
    * the lifecycle-ANN fused table itself. */
  def retrievalEvalLifecycleAnn(spark: SparkSession, sf: String): DataFrame =
    retrievalEvalFrom(hybridLifecycleAnn(spark, sf))

  /** The ONE spelling of the arm-level recall/MRR metric block over a
    * fused rank table (doc_id, rank_lex, rank_dense, rrf) — shared by
    * [[retrievalEval]] and [[retrievalEvalLifecycle]] so the lifecycle
    * audit can never drift from the declared metric arithmetic. */
  private def retrievalEvalFrom(fused: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gt = fused
      .withColumn("gt_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("gt_rank") <= EvalK)
    val m = gt.agg(
      sum(when(col("rank_lex").between(1, EvalK), 1).otherwise(0)).as("hl"),
      sum(when(col("rank_dense").between(1, EvalK), 1).otherwise(0)).as("hd"),
      max(when(col("gt_rank") === 1,
        when(col("rank_lex") > 0, lit(1.0) / col("rank_lex"))
          .otherwise(lit(0.0)))).as("ml"),
      max(when(col("gt_rank") === 1,
        when(col("rank_dense") > 0, lit(1.0) / col("rank_dense"))
          .otherwise(lit(0.0)))).as("md"))
    // stack() pivots the 1-row aggregate into the two system rows in one
    // pass — a self-union would re-derive the whole fusion per row.
    // CAST(k AS DOUBLE), not a `k.0` literal: Spark SQL parses decimal
    // literals as DecimalType, and the declared output must be DOUBLE
    m.selectExpr(
        s"""stack(2,
           |  'bm25_arm',  round(hl / CAST($EvalK AS DOUBLE), 4), round(ml, 4),
           |  'dense_arm', round(hd / CAST($EvalK AS DOUBLE), 4), round(md, 4)
           |) AS (system, recall_at_3, mrr)""".stripMargin)
      .orderBy("system")
  }

  /** The ANN half of the retrieval-quality audit — [[retrievalEval]]'s
    * no-oracle twin, promoting the recall bounds that lived in specs to a
    * driver-checked artifact: recall@[[EvalK]] and MRR of ALL THREE ANN
    * index families (`q_ann_pq`, `q_ann_ivf`, `q_ann_lsh`) against the
    * exact scan ([[VectorOps.knnJoin]], 5 probes — metrics averaged per
    * probe), plus `q_hybrid_ann` against the exact fusion
    * ([[hybridRetrieval]]) — one table that ranks the index families
    * against each other, the dashboard an embedding store tunes nprobe /
    * bits / codebook budgets from. Declared no-oracle because the ANN
    * rankings are KMeans/LSH-derived (not SQL-expressible); the metrics
    * themselves are deterministic exact rationals of the integer rank
    * tables, spec'd in PcaHybridSpec against an independent test-side
    * computation. The per-probe reciprocal ranks are floor-quantized to
    * the 2²⁴ grid and Long-summed before the ÷n — the one multi-term
    * float sum in the query, made shuffle-order-independent the standard
    * way. */
  def retrievalEvalAnn(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dense systems vs the exact knn scan, averaged over the 5 probes —
    // ALL three ANN variants in one table, so the audit ranks the index
    // families against each other, not just against the ground truth
    // (metric block shared with the retrain handover gate:
    // VectorOps.retrievalMetricsRow)
    val gtKnn = VectorOps.knnJoin(spark, sf)
    val pqRow = VectorOps.retrievalMetricsRow("ann_pq", gtKnn,
      VectorOps.annPq(spark, sf), EvalK)
    val ivfRow = VectorOps.retrievalMetricsRow("ann_ivf", gtKnn,
      VectorOps.ivfTopk(spark, sf), EvalK)
    val lshRow = VectorOps.retrievalMetricsRow("ann_lsh", gtKnn,
      VectorOps.annLsh(spark, sf), EvalK)
    // hybrid_ann vs the exact fusion (single fused ranking)
    val gtFused = hybridRetrieval(spark, sf)
      .withColumn("gt_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("gt_rank") <= EvalK)
      .select("doc_id", "gt_rank")
    val sysFused = hybridRetrievalAnn(spark, sf)
      .withColumn("sys_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .select("doc_id", "sys_rank")
    val annRow = gtFused.join(sysFused, Seq("doc_id"), "left")
      .agg(
        sum(when(col("sys_rank") <= EvalK, 1).otherwise(0)).as("hits"),
        max(when(col("gt_rank") === 1,
          coalesce(lit(1.0) / col("sys_rank"), lit(0.0)))).as("recip"))
      .select(lit("hybrid_ann").as("system"),
        round(col("hits") / (EvalK + 0.0), 4).as("recall_at_3"),
        round(col("recip"), 4).as("mrr"))
    pqRow.unionByName(ivfRow).unionByName(lshRow).unionByName(annRow)
      .orderBy("system")
  }

  /** Per-token lexical stats of a document frame — document frequency
    * (distinct docs containing the token) and total term frequency — as
    * exact Long counts. Over DOC-DISJOINT partitions both are additive
    * (distinct-doc counts over disjoint doc sets add exactly), which is
    * what makes the lexical store incrementally maintainable. */
  private[graft] def lexCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))

  /** The STANDING lexical-stats artifact over the corpus partition
    * (doc_id % 10 != 0 — the `q_dedup_incremental` ingest split), raw
    * exact Long counts persisted BEFORE any scoring arithmetic: Longs,
    * not idf floats, is the point — integer counts are mergeable, so the
    * standing store absorbs any future batch by addition without a
    * corpus rescan (the `cov_sums_` discipline applied to the text
    * tier). Pure function of the corpus ⇒ `lex_df_` is on the
    * stability gate's pure-prefix list. */
  private[graft] def lexDfArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_df_$sf") { d =>
      lexCounts(Tables.load(spark, sf, "documents")
        .filter(col("doc_id") % 10 =!= 0)).write.parquet(s"$d/df")
    }
    Tables.parquet(spark, s"$dir/df")
  }

  /** The FULL-corpus lexical artifact [[dfDowndate]] subtracts from —
    * same shape over all documents (a standing store covers the whole
    * corpus; an erased batch leaves it by subtraction). */
  private def lexDfFullArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_df_full_$sf") { d =>
      lexCounts(Tables.load(spark, sf, "documents")).write.parquet(s"$d/df")
    }
    Tables.parquet(spark, s"$dir/df")
  }

  /** Merge (or, negated, REMOVE) a batch's lexical counts into a standing
    * table by exact Long arithmetic — full outer + zero-coalesce (a token
    * seen only on one side still merges exactly), and tokens whose counts
    * reach ZERO leave the store (df = 0 means no document carries the
    * token; the remaining-corpus recompute has no such row). */
  private[graft] def lexMerge(standing: DataFrame, batch: DataFrame,
      negate: Boolean): DataFrame = {
    val sgn = if (negate) lit(-1L) else lit(1L)
    standing.select(col("tok"), col("df").as("df1"), col("tf").as("tf1"))
      .join(batch.select(col("tok"), col("df").as("df2"), col("tf").as("tf2")),
        Seq("tok"), "full_outer")
      .select(col("tok"),
        (coalesce(col("df1"), lit(0L)) + sgn * coalesce(col("df2"), lit(0L))).as("df"),
        (coalesce(col("tf1"), lit(0L)) + sgn * coalesce(col("tf2"), lit(0L))).as("tf"))
      .filter(col("df") > 0)
      .orderBy("tok")
  }

  /** INCREMENTAL lexical-stats maintenance (round 15 — the text-tier twin
    * of `q_cov_update`, completing the pattern across all the engine's
    * standing stores: moments, ANN index, and now the lexical table that
    * BM25/TF-IDF/PMI consume): the corpus partition's (token, df, tf)
    * stands as a materialized Long-count artifact, the ingest batch
    * (doc_id % 10 == 0, the dedup-incremental split) is counted
    * batch-sized, and the update is one vocabulary-sized join of Long
    * ADDITIONS — no corpus rescan, ever. Doc-disjointness makes df
    * additive, so the merged table is EXACTLY the full recompute (integer
    * arithmetic — the oracle IS the full recompute verbatim). At 100 TB
    * this is the only viable shape for retrieval scoring over a growing
    * corpus: df counts are maintained, never recomputed, and every
    * consumer reads the same numbers a full pass would produce. */
  def dfUpdate(spark: SparkSession, sf: String): DataFrame =
    lexMerge(lexDfArtifact(spark, sf),
      lexCounts(Tables.load(spark, sf, "documents")
        .filter(col("doc_id") % 10 === 0)),
      negate = false)

  /** The DOWNDATE mirror — an erased batch (GDPR, revoked source) leaves
    * the standing full-corpus lexical store by Long SUBTRACTION of its
    * batch-sized counts; tokens whose df reaches zero drop out, exactly
    * matching the remaining-corpus recompute (the oracle). */
  def dfDowndate(spark: SparkSession, sf: String): DataFrame =
    lexMerge(lexDfFullArtifact(spark, sf),
      lexCounts(Tables.load(spark, sf, "documents")
        .filter(col("doc_id") % 10 === 0)),
      negate = true)

  /** The MAINTAINED lexical artifact the serving queries read (r15 verdict
    * #1 + #5) — the post-update store, i.e. exactly what [[lexMerge]]
    * emits when [[dfUpdate]] folds the ingest batch into the standing
    * corpus partition, persisted under the `lex_df_` pure prefix (so the
    * stability gate auto re-derives its construction). This closes the
    * loop that makes the store LOAD-BEARING: maintenance ([[dfUpdate]])
    * and serving ([[bm25Store]], [[tfidfStore]]) provably share one
    * artifact, and because the maintained counts are exact Longs equal to
    * the full recompute (q_df_update's oracled contract), every consumer
    * reads the same numbers a fresh corpus pass would produce — which is
    * why the serving oracles transfer verbatim. At 100 TB this is the only
    * viable retrieval-scoring shape: df is maintained by batch-sized
    * merges, never recomputed in the serving path. */
  private[graft] def lexMaintainedArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_df_maint_$sf") { d =>
      dfUpdate(spark, sf).write.parquet(s"$d/df")
    }
    Tables.parquet(spark, s"$dir/df")
  }

  /** The composed lexical chain (see [[lexLifecycle]]), built at ONE site
    * — the momentChain discipline on the text tier. [[lexMerge]]'s output
    * IS store-shaped, so the chain composes directly: standing
    * corpus-partition counts ([[lexDfArtifact]], doc_id % 10 ≠ 0) →
    * INGEST the % 10 == 0 batch by Long addition (after which the table
    * equals the full-corpus store bit-for-bit — spec'd against
    * [[lexDfFullArtifact]]) → ERASE the doc_id % 7 == 3 batch (the same
    * GDPR/retention split the ANN tombstone and moment downdate use) by
    * Long subtraction, zero-df tokens dropping out. `l2` is the
    * POST-maintenance store; `audit` carries the per-stage document
    * counts (declarative 1-row aggregates, no driver action). */
  private[graft] case class LexChain(l1: DataFrame, l2: DataFrame, audit: DataFrame)

  private[graft] def lexChain(spark: SparkSession, sf: String): LexChain = {
    val docs = Tables.load(spark, sf, "documents")
    val l1 = lexMerge(lexDfArtifact(spark, sf),
      lexCounts(docs.filter(col("doc_id") % 10 === 0)), negate = false)
    val l2 = lexMerge(l1,
      lexCounts(docs.filter(col("doc_id") % 7 === 3)), negate = true)
    def nOf(pred: Column, name: String) =
      docs.filter(pred).agg(count(lit(1)).as(name))
    val audit = nOf(col("doc_id") % 10 =!= 0, "n_standing")
      .crossJoin(nOf(lit(true), "n_after_ingest"))
      .crossJoin(nOf(col("doc_id") % 7 =!= 3, "n_live"))
    LexChain(l1, l2, audit)
  }

  /** LEXICAL-STORE LIFECYCLE COMPOSITION — the text tier's
    * `q_cov_lifecycle`, and the stronger form of the composition because
    * the chain's end is a SERVING consumer, not just re-derived state:
    * ingest (df UPDATE by Long addition) → erasure (df DOWNDATE by Long
    * subtraction, vanish-at-zero) → BM25 re-derivation over the
    * POST-maintenance store and the POST-erasure corpus, one declared
    * query with per-stage document-count audit columns on every row.
    * Exact Longs end-to-end: the maintained counts equal the
    * remaining-corpus recompute (doc-disjoint splits keep df additive),
    * and the scoring body is the shared [[bm25From]] — so the whole
    * composition is ORACLED: the q_bm25 SQL over the % 7 ≠ 3 corpus plus
    * three integer count subqueries, and the spec pins bit-equality with
    * the recount form over the same filtered corpus. At 100 TB each step
    * is its own size: both merges are vocabulary-sized Long arithmetic
    * over batch-sized counts (no corpus rescan), and serving reads
    * maintained df — the erased batch never has to be re-tokenized to
    * keep retrieval consistent with the erasure. */
  def lexLifecycle(spark: SparkSession, sf: String): DataFrame = {
    val ch = lexChain(spark, sf)
    bm25From(spark, sf, Some(ch.l2), Some(col("doc_id") % 7 =!= 3))
      .crossJoin(broadcast(ch.audit))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  /** The ONE TF-IDF scoring body, shared by [[tfidf]] (in-query df) and
    * [[tfidfStore]] (df from the maintained lexical artifact) — the
    * [[bm25From]] discipline: one spelling of score and tie-break, so the
    * store-backed form can never drift from the declared oracle. */
  private[graft] def tfidfFrom(spark: SparkSession, sf: String,
      storeDf: Option[DataFrame], tfSource: Option[DataFrame] = None,
      nDocsSource: Option[DataFrame] = None,
      corpusPred: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf: the in-query explode+aggregate (over the optionally-restricted
    // corpus — the bm25From seam, the spec's recount twin for the
    // lifecycle form), or the standing postings artifact — the SAME
    // (doc_id, tok, tf) exact Long relation
    val tf = tfSource.getOrElse {
      val base = fannedDocs(spark, sf)
      corpusPred.fold(base)(base.filter)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    }
    // df: the in-query vocabulary-sized recount, or the standing store's
    // maintained exact Long counts (identical values — the store IS the
    // full recompute, q_df_update's oracled contract)
    val dfTok = storeDf match {
      case Some(store) => store.select(col("tok"), col("df").cast("double").as("df"))
      case None => tf.groupBy("tok")
        .agg(countDistinct("doc_id").cast("double").as("df"))
    }
    val nDocs = nDocsSource.getOrElse {
      val d = Tables.load(spark, sf, "documents")
      corpusPred.fold(d)(d.filter)
        .agg(count(lit(1)).cast("double").as("n_docs"))
    }
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(dfTok, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 4))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "tok", "score")
      .orderBy("doc_id", "rk")
  }

  /** TF-IDF top-3 terms per document — keyword extraction. tf and df come
    * from the same exploded token relation (two aggregates over one scan);
    * the corpus size joins in as a broadcast 1-row frame; the per-document
    * top-3 is a window over the rounded score so cross-engine libm-log ulp
    * differences cannot flip the ranking. */
  def tfidf(spark: SparkSession, sf: String): DataFrame =
    tfidfFrom(spark, sf, None)

  /** TF-IDF served FROM the maintained lexical store — [[bm25Store]]'s
    * whole-vocabulary sibling, and the form where the store pays most: the
    * df side of the score join becomes a scan of the standing artifact
    * (vocabulary-sized, corpus-INDEPENDENT) instead of a distinct-doc
    * aggregate over every exploded token of the corpus. Value-identical to
    * [[tfidf]] (maintained exact Longs == the recompute), oracle transfers
    * verbatim, bit-equality spec'd. */
  def tfidfStore(spark: SparkSession, sf: String): DataFrame =
    tfidfFrom(spark, sf, Some(lexMaintainedArtifact(spark, sf)))

  /** TF-IDF served ENTIRELY from standing state — [[bm25Index]]'s
    * whole-vocabulary sibling, zero corpus scans in the serving path
    * (spec-asserted): tf is the postings artifact verbatim, df the
    * maintained lexical store, n_docs the staged 1-row corpus count
    * (the one corpus fact postings cannot supply — zero-token documents
    * count toward it). Shared body ⇒ bit-identical to [[tfidf]], oracle
    * transfers verbatim. */
  def tfidfIndex(spark: SparkSession, sf: String): DataFrame =
    tfidfFrom(spark, sf, Some(lexMaintainedArtifact(spark, sf)),
      Some(postingsArtifact(spark, sf)),
      Some(docCountArtifact(spark, sf)))

  /** The standing CORPUS-PARTITION document count — ALL documents of the
    * doc_id % 10 ≠ 0 split, zero-token ones included (the one TF-IDF
    * corpus fact the postings cannot supply, [[docCountArtifact]]'s
    * maintenance-split twin): the 1-row Long [[tfidfLifecycle]] maintains
    * by pure counter arithmetic — the ingest adds its own document count,
    * the erasure subtracts the erased list's size, and neither reads a
    * surviving document. */
  private[graft] def docCntPartArtifact(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.ops.SourceOps.materialize(s"lex_ndocs_part_$sf") { d =>
      Tables.load(spark, sf, "documents")
        .filter(col("doc_id") % 10 =!= 0)
        .agg(count(lit(1)).as("n_docs")).write.parquet(s"$d/n")
    }
    Tables.parquet(spark, s"$dir/n")
  }

  /** TF-IDF under COMPOSED maintenance — [[postingsLifecycle]]'s
    * whole-vocabulary sibling, completing the ladder symmetry BM25
    * already has (recount → store → index → LIFECYCLE, r17 verdict #3):
    * keyword extraction served after an ingest (doc_id % 10 == 0 appended)
    * and an erasure (doc_id % 7 == 3 deleted) with every input MAINTAINED,
    * the surviving corpus never re-tokenized. tf is the post-maintenance
    * postings (`postingsChain.p2` — per-document append/delete), df the
    * post-maintenance aggregate store (`lexChain.l2` — Long merges), and
    * n_docs the maintained all-documents counter ([[docCntPartArtifact]]
    * + the batch's own count − the erased list's size: exact integer
    * arithmetic, zero-token documents counted, the [[docCountArtifact]]
    * semantics under maintenance). Every relation equals its live-corpus
    * recompute bit-for-bit (the q_postings_lifecycle arguments, plus
    * all-docs counts being trivially additive over disjoint splits), and
    * the scoring tail is the shared [[tfidfFrom]] body — so the q_tfidf
    * oracle over the % 7 ≠ 3 corpus transfers VERBATIM, and the spec pins
    * the same cross-mechanism fact as BM25's: per-document and aggregate
    * maintenance converge on BIT-identical TF-IDF output. */
  def tfidfLifecycle(spark: SparkSession, sf: String): DataFrame = {
    val ch = postingsChain(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    val bn = docs.filter(col("doc_id") % 10 === 0).agg(count(lit(1)).as("bn"))
    val en = docs.filter(col("doc_id") % 7 === 3).agg(count(lit(1)).as("en"))
    val nDocs = docCntPartArtifact(spark, sf)
      .crossJoin(broadcast(bn)).crossJoin(broadcast(en))
      .select((col("n_docs") + col("bn") - col("en")).cast("double").as("n_docs"))
    tfidfFrom(spark, sf, Some(lexChain(spark, sf).l2), Some(ch.p2), Some(nDocs))
  }

  /** Posting-list entries materialized per term (the head; full df is kept
    * as a count). Bounds every term's list — the hot-term guard. */
  val PostingHeadK = 20

  /** Inverted index build — per-term document frequency plus the first
    * [[PostingHeadK]] doc ids of the sorted posting list. Everything
    * derives from ONE distinct (term, doc) relation: df is a count per
    * term; the postings head is a rank-and-filter BEFORE any list is
    * collected, so no reducer ever materializes a stop-word's full corpus
    * list — the 100 TB failure mode of naive index builds (a hot term's
    * complete postings belong to the sharded layout, [[docShards]], not a
    * single array cell). The rank-filter is the window form here; at scale
    * it is exactly the bounded-heap shape
    * [[org.apache.spark.sql.graft.TopKPerKey]] executes without sorting
    * whole partitions. The retrieval twin of [[bm25]]: this materializes
    * the index that query-time scoring probes. */
  def invertedIndex(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df and the head rank come from the SAME window pass over one
    // distinct (term, doc) relation — count over the whole partition,
    // row_number over its sorted frame — so the relation is scanned once,
    // with no second aggregate and no join back
    val byTerm = Window.partitionBy("term")
    val ranked = fannedDocs(spark, sf)
      .select(explode(tokens(col("text"))).as("term"), col("doc_id"))
      .distinct()
      .withColumn("df", count(lit(1)).over(byTerm))
      .withColumn("rk", row_number().over(byTerm.orderBy("doc_id")))
    ranked.filter(col("rk") <= PostingHeadK)
      .groupBy("term", "df")
      .agg(array_join(transform(sort_array(collect_list("doc_id")),
        d => d.cast("string")), ",").as("postings"))
      .orderBy("term")
  }

  /** The phrase [[phraseSearch]] looks for, in order — interpolated into
    * the DuckDB oracle's chain join so the two cannot drift. */
  val PhraseTerms = Seq("join", "part", "filter")

  /** Exact PHRASE search over a positional posting list — the proximity
    * half of the IR tier [[invertedIndex]] opens (and the exact-substring
    * probe an LLM-data pipeline runs for contamination/attribution
    * spot-checks): tokenize with positions, keep only the postings of the
    * [[PhraseTerms]] (the selective index-fetch — at 100 TB the posting
    * store is the standing table and this filter is a key lookup, never a
    * corpus scan), then CHAIN-join term k's postings onto the phrase start
    * at offset k (p₀ = p − k). Every join after the first shuffle is
    * co-partitioned on (doc_id, p₀), and candidate volume after step 1 is
    * bounded by the RAREST prefix term's posting list, not the corpus.
    * Reports per-doc occurrence counts and the first match position
    * (1-based, as a posting store would publish); overlapping occurrences
    * count separately. Deterministic ⇒ VALUE-checked by the oracle's
    * identical chain join over `generate_subscripts` postings. */
  def phraseSearch(spark: SparkSession, sf: String): DataFrame = {
    val post = fannedDocs(spark, sf)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "term")))
      .filter(col("term").isin(PhraseTerms: _*))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("p"), col("term"))
    val first = post.filter(col("term") === PhraseTerms.head)
      .select(col("doc_id"), col("p").as("p0"))
    val matched = PhraseTerms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, k)) =>
      acc.join(post.filter(col("term") === t)
          .select(col("doc_id"), (col("p") - k).as("p0")),
        Seq("doc_id", "p0"))
    }
    matched.groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"), min("p0").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Mask threshold for [[tokenMask]]: first md5 hex digit of
    * (doc_id:pos) < 3 → masked, i.e. 3/16 ≈ 19% masking rate. */
  val MaskHexLt = 3

  /** Masked positions reported per doc in [[tokenMask]]'s audit column. */
  val MaskHeadK = 10

  /** Deterministic i.i.d. token masking (the BERT-style masked-LM
    * objective; a span-merging T5 variant would build on the same mask
    * column): each token position is masked iff a hash of (doc_id, pos)
    * falls under [[MaskHexLt]]/16. Hash-seeded, not `rand()`-seeded, for
    * the same reason as [[weightedSample]]: the mask is reproducible
    * across engines, retries, and re-partitioning — an audit can recompute
    * exactly which positions were corrupted years later. One exploded-
    * token pass and ONE shuffle (the per-doc agg; the masked positions are
    * collected per doc — bounded by document length — and sliced to the
    * head inside the aggregate, no window pass). The report carries the
    * mask-rate numerator/denominator and the first [[MaskHeadK]] masked
    * positions as the auditable sample. */
  def tokenMask(spark: SparkSession, sf: String): DataFrame = {
    val pos1 = col("pos") + 1 // 1-based, matching generate_subscripts
    val masked = conv(substring(
      md5(concat_ws(":", col("doc_id"), pos1)), 1, 1), 16, 10)
      .cast("long") < MaskHexLt
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), pos1.as("p"), masked.as("m"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
        array_join(transform(
          slice(sort_array(collect_list(when(col("m"), col("p")))), 1, MaskHeadK),
          p => p.cast("string")), ",").as("mask_head"))
      .orderBy("doc_id")
  }

  /** Strata size for [[weightedSample]] (docs kept per source). */
  val WeightedSampleK = 5

  /** Weighted sampling without replacement, Efraimidis–Spirakis A-ES: each
    * doc draws u ∈ (0,1) from a hash of its id and ranks by ln(u)/weight —
    * the top-k per stratum is exactly a weight-proportional sample without
    * replacement. One pass, no global state: the per-stratum top-k is a
    * bounded window (or [[org.apache.spark.sql.graft.TopKPerKey]] at
    * scale), and u derives from md5, never `rand()`, so the sample is
    * reproducible across engines and retries — the property that makes
    * training-data subsampling auditable. Weight = n_chars: longer docs
    * proportionally likelier, the standard token-budget-aware curation
    * draw. u maps the first 8 md5 hex digits into (0,1) identically in
    * both engines (+0.5 keeps it strictly positive). */
  def weightedSample(spark: SparkSession, sf: String): DataFrame =
    weightedSampleFrom(
      Tables.load(spark, sf, "documents").select("source", "doc_id", "n_chars"),
      WeightedSampleK)

  /** The A-ES core over any (source, doc_id, n_chars) frame — split out so
    * the sampling algebra is property-testable on generated inputs. */
  private[graft] def weightedSampleFrom(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5) / lit(4294967296.0)
    val w = Window.partitionBy("source")
      .orderBy(col("key").desc, col("doc_id"))
    docs
      .withColumn("key", log(u) / col("n_chars"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("source", "rk", "doc_id", "n_chars")
      .orderBy("source", "rk")
  }

  /** Minimum bigram occurrences before a pair is PMI-scored — below this the
    * estimate is noise (the classic Church & Hanks 1990 caveat: PMI inflates
    * rare pairs, so production collocation extraction always floors the
    * joint count). */
  val PmiMinCount = 5L

  /** Pointwise mutual information collocations — the association-mining
    * pass behind phrase detection (word2vec-style phrase joining, boilerplate
    * discovery): for each adjacent word pair, how much more often it occurs
    * than independence predicts, pmi = log2((c_xy/Nb) / ((c_x/N)(c_y/N))).
    * One exploded token relation feeds BOTH count tables (unigrams and
    * adjacent bigrams — the bigram array is built per row, no self-join);
    * the two scalar totals ride a broadcast 1-row crossJoin and the
    * unigram-count attachments are vocab-sized joins (broadcast at fixture
    * scale, co-keyed hash joins beyond). Shuffle volume is distinct-gram
    * cardinality, never token count. The double-math chain (cast → multiply
    * → divide → log2 → round(4)) is written identically in the DuckDB twin
    * so both engines walk the same IEEE ops. */
  def pmiCollocations(spark: SparkSession, sf: String): DataFrame = {
    val docs = fannedDocs(spark, sf)
    // both count tables persist: each serves its scalar total AND the
    // per-pair attachment joins below
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .persistOnce()
    val biAll = docs
      .select(tokens(col("text")).as("toks"))
      .select(explode(bigramPairsOf(col("toks"))).as("p"))
      .select(col("p._1").as("w1"), col("p._2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .persistOnce()
    val totals = uni.agg(sum("c").as("n_tok"))
      .crossJoin(biAll.agg(sum("cxy").as("n_bi")))
    biAll.filter(col("cxy") >= PmiMinCount)
      .join(uni.select(col("w").as("w1"), col("c").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("cy")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("cxy"),
        round(log2(col("cxy").cast("double") * col("n_tok") * col("n_tok") /
          (col("n_bi").cast("double") * col("cx") * col("cy"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Adjacent word pairs as structs (empty when < 2 tokens) — the split-free
    * twin of [[bigramsOf]] for consumers that need the words separately. */
  private def bigramPairsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        struct(element_at(toks, i).as("_1"), element_at(toks, i + 1).as("_2"))))
      .otherwise(array().cast("array<struct<_1:string,_2:string>>"))

  /** Tokens per dedup chunk in [[dedupChunks]]. */
  val ChunkTokens = 10

  /** Chunk-level exact dedup with document reconstruction — the passage/
    * line-granularity dedup of production pipelines (CCNet's line dedup,
    * RefinedWeb) applied to disjoint [[ChunkTokens]]-token chunks: a chunk
    * is DUPLICATED when its globally-first occurrence (min (doc_id, idx))
    * is elsewhere, and every document is re-emitted as the md5 of its
    * surviving chunks in order — the dedup ACTION at sub-document
    * granularity, where whole-doc dedup ([[dedupExact]]) can't see repeated
    * boilerplate inside otherwise-distinct pages. Plan: chunking is a
    * map-only posexplode (no join, chunks are disjoint so volume = token
    * count / chunk size); first-occurrence election and the occurrence
    * join-back share ONE hash shuffle on the chunk text (co-keyed); the
    * rebuild is a per-doc aggregate whose state is the doc's own kept
    * chunks. At 100 TB the chunk key should be fingerprinted
    * (xxhash64, as [[shingleRows]] does) so 100-token strings never ride
    * the shuffle — kept as text here because the md5 rebuild needs the
    * characters anyway and the oracle compares them. */
  def dedupChunks(spark: SparkSession, sf: String): DataFrame =
    dedupChunksFrom(fannedDocs(spark, sf))

  /** Core over any (doc_id, text) frame — the seam the whole-doc-duplicate
    * property test uses (the harness fixture has near-dups but no exact-dup
    * texts at every scale). */
  private[graft] def dedupChunksFrom(docs: DataFrame): DataFrame = {
    val n = lit(ChunkTokens)
    val toks = col("toks") // attribute-bound (see kgramRowsOf)
    // `sequence(0, -1)` DESCENDS in Spark, so a token-less doc must get an
    // explicit empty chunk array (it then drops out of the posexplode, as
    // the oracle's unnest-of-empty does)
    val chunks = when(size(toks) > 0,
      transform(sequence(lit(0), ceil(size(toks) / n.cast("double")).cast("int") - 1),
        i => array_join(slice(toks, i * n + 1, n), " ")))
      .otherwise(array().cast("array<string>"))
    val occ = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("idx", "chunk")))
    val keeper = occ.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first_occ"))
    occ.join(keeper, "chunk")
      .withColumn("kept",
        struct(col("doc_id"), col("idx")) === col("first_occ"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(when(col("kept"),
            struct(col("idx"), col("chunk"))))), s => s.getField("chunk"))))
          .as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Per-document language-model scoring — the CCNet/Wikipedia-LM quality
    * filter (Wenzek et al. 2020): train a bigram LM on the corpus itself
    * (add-one smoothing, p(w2|w1) = (c12+1)/(c1+V)), then score every
    * document by its mean log2 probability and perplexity 2^(−mean).
    * Out-of-distribution documents (the boilerplate/gibberish a filter
    * drops) surface as high perplexity. Plan: the exploded token relation
    * feeds the unigram table, the exploded bigram relation feeds BOTH the
    * corpus bigram counts and the per-doc occurrence counts (grouping
    * before the score join keeps join volume at distinct (doc, bigram),
    * not token count); scoring attaches corpus counts with vocab-sized
    * equi-joins and the scalar V rides a broadcast 1-row crossJoin. All
    * shuffles are keyed on grams — at 100 TB the LM tables are exactly the
    * word-count job, and scoring co-keys with them. Docs under 2 tokens
    * have no bigrams and drop out, as in the oracle. */
  def lmPerplexity(spark: SparkSession, sf: String): DataFrame = {
    val docs = fannedDocs(spark, sf)
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cx"))
      .persistOnce()
    // bigram occurrences persist: corpus counts AND per-doc counts read it
    val bo = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(bigramPairsOf(col("toks"))).as("p"))
      .select(col("doc_id"), col("p._1").as("w1"), col("p._2").as("w2"))
      .persistOnce()
    val bc = bo.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
    val vocab = uni.agg(count(lit(1)).as("vsz"))
    val scored = bc
      .join(uni.select(col("w").as("w1"), col("cx")), "w1")
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        log2((col("cxy") + 1).cast("double") / (col("cx") + col("vsz"))).as("lp"))
    bo.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("n"))
      .join(scored, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(
        sum("n").as("n_bigrams"),
        (round(sum(col("n") * col("lp")) / sum("n"), 4) + lit(0.0)).as("avg_lp"),
        round(pow(lit(2.0), -sum(col("n") * col("lp")) / sum("n")), 4).as("ppl"))
      .orderBy("doc_id")
  }
}
