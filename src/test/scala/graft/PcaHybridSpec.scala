package graft

import org.apache.spark.sql.functions._
import graft.ops.{TextOps, VectorOps}

/** Specs for the round-13 additions: q_pca_power (power iteration over the
  * staged exact-covariance matrix) and q_hybrid_retrieval (RRF fusion of
  * the BM25 and exact-cosine arms). */
class PcaHybridSpec extends SparkSpec {
  import spark.implicits._

  // ---- pcaPower -----------------------------------------------------------

  test("powerIterate: planted 2x2 [[2,1],[1,2]] — eigenpair is the hand-computed fixed point") {
    // top eigenvector of [[2,1],[1,2]] is (1,1) with eigenvalue 3; the
    // all-ones start IS the eigenvector, so every round is exact:
    // y = (3,3), m = 3, v = (1,1) — a fixed point of the iteration
    val cells = Seq(
      (0L, 0L, 2.0), (0L, 1L, 1.0),
      (1L, 0L, 1.0), (1L, 1L, 2.0)).toDF("i", "j", "cov")
    val got = VectorOps.powerIterate(cells, VectorOps.PcaRounds)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == Seq((0L, 1.0, 3.0), (1L, 1.0, 3.0)), s"got $got")
  }

  test("powerIterate: planted diagonal [[2,0],[0,1]] — geometric decay of the non-dominant component") {
    // start (1,1): after k rounds v = (1, 2^-k), m = 2 every round; with
    // PcaRounds = 8 the reported comp is (1, 2^-8 = 0.00390625 -> round 6
    // = 0.003906) and lambda = 2. Every intermediate is a power of two, so
    // the 2^24 quantization is EXACT at each step — the assertion is
    // equality, not tolerance.
    val cells = Seq(
      (0L, 0L, 2.0), (0L, 1L, 0.0),
      (1L, 0L, 0.0), (1L, 1L, 1.0)).toDF("i", "j", "cov")
    val got = VectorOps.powerIterate(cells, 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == Seq((0L, 1.0, 2.0), (1L, 0.003906, 2.0)), s"got $got")
  }

  test("pcaPower: fixture eigenpair is deterministic bit-for-bit and unit-infinity-norm") {
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
    val a = bits(VectorOps.pcaPower(spark, sf0001))
    val b = bits(VectorOps.pcaPower(spark, sf0001))
    assert(a == b, "pcaPower must be a pure function of the data")
    val rows = VectorOps.pcaPower(spark, sf0001).collect()
    assert(rows.length == 64)
    val comps = rows.map(_.getDouble(1))
    assert(math.abs(comps.map(math.abs).max - 1.0) < 1e-6,
      "infinity-norm normalization pins max |comp| to 1")
    val lambdas = rows.map(_.getDouble(2)).distinct
    assert(lambdas.length == 1 && lambdas.head > 0.0,
      s"one positive eigenvalue estimate, got ${lambdas.toSeq}")
    // λ/trace: the top PC explains a positive fraction of total variance,
    // and never more than all of it
    val ve = rows.map(_.getDouble(3)).distinct
    assert(ve.length == 1 && ve.head > 0.0 && ve.head <= 1.0,
      s"var_explained in (0,1], got ${ve.toSeq}")
  }

  test("powerIterate + trace: planted [[2,1],[1,2]] var_explained is lambda/trace = 3/4") {
    // assembled the same way pcaPower does it, over the planted matrix
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val cells = Seq(
      (0L, 0L, 2.0), (0L, 1L, 1.0),
      (1L, 0L, 1.0), (1L, 1L, 2.0)).toDF("i", "j", "cov")
    val tr = cells.filter(col("i") === col("j"))
      .agg((sum(floor(col("cov") * g).cast("long")).cast("double") / g).as("trace"))
    val got = VectorOps.powerIterate(cells, VectorOps.PcaRounds)
      .crossJoin(broadcast(tr))
      .select(col("i"), round(col("m_raw") / col("trace"), 6).as("ve"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((0L, 0.75), (1L, 0.75)), s"got $got")
  }

  test("pcaPower: eigen-residual shrinks vs the start vector (it actually converges toward the top PC)") {
    // ||A v - lambda v||_inf for the reported eigenpair must be far below
    // the same residual for the all-ones START vector — i.e. iteration did
    // real work. Uses the staged exact-cov matrix directly.
    val cells = VectorOps.covCellsFull(spark, sf0001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val d = 64
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).map(j => cells((i.toLong, j.toLong)) * v(j)).sum)
    def residual(v: Array[Double]): Double = {
      val y = matvec(v)
      val lam = y.map(math.abs).max // same infinity-norm estimate
      val vm = v.map(math.abs).max
      (0 until d).map(i => math.abs(y(i) - lam * v(i) / vm)).max
    }
    val got = VectorOps.pcaPower(spark, sf0001).collect()
    val vGot = Array.tabulate(d)(i => got(i).getDouble(1))
    val ones = Array.fill(d)(1.0)
    assert(residual(vGot) < residual(ones) / 10.0,
      s"residual ${residual(vGot)} should be well below the start's ${residual(ones)}")
  }

  test("pcaProject: equals a test-side quantized dot with the published eigenvector, bit-deterministically") {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val comp = VectorOps.pcaPower(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = graft.sources.Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect().map { r =>
        val xs = r.getSeq[Float](1)
        val s = xs.zipWithIndex.map { case (x, i) =>
          math.floor(x.toDouble * comp(i.toLong) * g).toLong
        }.sum
        r.getLong(0) -> (BigDecimal(s.toDouble / g)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
      }.toMap
    val got = VectorOps.pcaProject(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expect)
    val again = VectorOps.pcaProject(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == got, "pcaProject must be a pure function of the data")
  }

  test("deflateCells + powerIterate: planted [[2,1],[1,2]] yields the hand-computed second eigenpair") {
    // top eigenpair (published rounded): u = (1,1), lambda = 3, u'u = 2.
    // A' = A - 3*(u u')/2 = [[0.5,-0.5],[-0.5,0.5]] exactly; from the e0
    // start: z = (0.5,-0.5), m = 0.5, v = (1,-1) — the second eigenvector,
    // a fixed point with lambda2 = 1. All powers of two: quantization is
    // exact at every step, so the assertion is equality.
    val cells = Seq(
      (0L, 0L, 2.0), (0L, 1L, 1.0),
      (1L, 0L, 1.0), (1L, 1L, 2.0)).toDF("i", "j", "cov")
    val eig = Seq((0L, 1.0, 3.0), (1L, 1.0, 3.0)).toDF("i", "comp", "lambda")
    val got = VectorOps.powerIterate(
        VectorOps.deflateCells(cells, eig), VectorOps.PcaRounds,
        when(col("i") === 0, lit(1.0)).otherwise(lit(0.0)))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == Seq((0L, 1.0, 1.0), (1L, -1.0, 1.0)), s"got $got")
  }

  test("pcaDeflate: second PC is near-orthogonal to the first and its eigenvalue is smaller") {
    val pc1 = VectorOps.pcaPower(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val pc2 = VectorOps.pcaDeflate(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(pc2.size == 64)
    val dot = pc1.keys.map(i => pc1(i)._1 * pc2(i)._1).sum
    val n1 = math.sqrt(pc1.values.map(v => v._1 * v._1).sum)
    val n2 = math.sqrt(pc2.values.map(v => v._1 * v._1).sum)
    assert(math.abs(dot / (n1 * n2)) < 0.1,
      s"deflated PC should be near-orthogonal to PC1, cos = ${dot / (n1 * n2)}")
    assert(pc2.head._2._2 <= pc1.head._2._2,
      "second eigenvalue estimate must not exceed the first")
    val again = VectorOps.pcaDeflate(spark, sf0001).collect()
      .map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
    val first = VectorOps.pcaDeflate(spark, sf0001).collect()
      .map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
    assert(again == first, "pcaDeflate must be a pure function of the data")
  }

  test("annDelete: tombstoned vectors are never retrieved; survivors keep exact-twin recall; deterministic") {
    val a = VectorOps.annDelete(spark, sf0001).collect()
    val b = VectorOps.annDelete(spark, sf0001).collect()
    assert(a.toSeq == b.toSeq, "frozen artifacts + tombstone view: fully deterministic")
    assert(a.nonEmpty)
    // THE delete contract: no deleted id in any result, as probe or hit
    assert(a.forall(r => r.getLong(0) % 7 != 3 && r.getLong(2) % 7 != 3),
      "a tombstoned vector was retrieved (or probed)")
    // results only come from the standing corpus (never the append split)
    assert(a.forall(_.getLong(2) % 5 != 4))
    a.groupBy(_.getLong(0)).foreach { case (pid, rs) =>
      assert(!rs.map(_.getLong(2)).contains(pid))
      assert(rs.map(_.getLong(1)).sorted.zipWithIndex.forall { case (r, i) => r == i + 1 })
    }
    // top-1 recall vs an exact scan over the REMAINING corpus
    val emb = graft.sources.Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .filter(col("vec_id") % 5 =!= 4 && col("vec_id") % 7 =!= 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      val d = x.zip(y).map { case (a, b) => a * b }.sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val hits = a.filter(_.getLong(1) == 1L).count { r =>
      val pid = r.getLong(0)
      // exact top-3 over the remaining corpus, declared tie-break
      // (rounded cos desc, id asc)
      val top3 = (emb - pid).toSeq.map { case (id, v) =>
        (BigDecimal(cos(emb(pid), v)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }.sortBy { case (c, id) => (-c, id) }.take(3).map(_._2).toSet
      top3.contains(r.getLong(2))
    }
    assert(hits >= 2, s"post-delete top-1 recall too low: $hits probes hit the exact top-3")
  }

  // ---- hybridRetrieval ----------------------------------------------------

  test("rrfFuse: the both-arms-agree document outranks each arm's own top-1") {
    // planted relevance: dRel is rank 2 in BOTH arms; each arm's top-1 is
    // an arm-only distractor. RRF: dRel = 1/62 + 1/62 = 0.032258 beats
    // 1/61 = 0.016393 — fusion finds what either arm alone would miss.
    val lex = Seq((100L, 1L), (1L, 2L)).toDF("doc_id", "rank_lex")
    val dense = Seq((200L, 1L), (1L, 2L)).toDF("doc_id", "rank_dense")
    val fused = TextOps.rrfFuse(lex, dense).collect()
    assert(fused.head.getLong(0) == 1L, s"fused top-1 should be doc 1, got ${fused.head}")
    assert(fused.head.getDouble(3) == 0.032258)
    // arm-only docs carry rank 0 on the absent side and exactly one term
    val armOnly = fused.filter(_.getLong(0) == 100L).head
    assert(armOnly.getLong(2) == 0L && armOnly.getDouble(3) == 0.016393)
  }

  test("hybridRetrieval: fused table is consistent with its two arms on the fixture") {
    val out = TextOps.hybridRetrieval(spark, sf0001).collect()
    assert(out.nonEmpty && out.length <= 2 * TextOps.HybridTopN)
    // ranks bounded by the arm depths; at least one doc must appear in an arm
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 20 &&
      r.getLong(2) >= 0 && r.getLong(2) <= TextOps.HybridTopN))
    assert(out.forall(r => r.getLong(1) > 0 || r.getLong(2) > 0))
    // the fused score is exactly the two-term RRF of the integer ranks
    out.foreach { r =>
      val expect = BigDecimal(
        (if (r.getLong(1) > 0) 1.0 / (TextOps.RrfK + r.getLong(1)) else 0.0) +
        (if (r.getLong(2) > 0) 1.0 / (TextOps.RrfK + r.getLong(2)) else 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == expect, s"row $r expected rrf $expect")
    }
    // output is (rrf desc, doc_id) sorted
    val keys = out.map(r => (-r.getDouble(3), r.getLong(0))).toSeq
    assert(keys == keys.sorted, "fused output must be (rrf desc, doc_id) ordered")
    // r17 (r16 verdict #2): the lexical arm is the standing-state-served
    // bm25Index (bit-identical to the recount — TextOpsSpec's index-rung
    // contract — so the composed oracle transfers verbatim), and the RAG
    // front door's plan must therefore carry NO documents-table scan:
    // lexical side = postings/store/doclen/stats probes, dense side = the
    // embeddings scan. This is the structural form of "the entry query
    // runs entirely from standing state + the dense arm".
    val p = TextOps.hybridRetrieval(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet"),
      "hybridRetrieval still scans the documents table — the lexical arm " +
        "is not being served from standing state")
    assert(p.contains("graft_lex_postings_") && p.contains("graft_lex_doclen_"),
      "hybridRetrieval's lexical arm does not probe the standing artifacts")
  }

  test("hybridLifecycle: the composed front door fuses both tiers' post-erasure state; the ANN twin overlaps it and reads the compacted index") {
    import org.apache.spark.sql.functions._
    val exact = TextOps.hybridLifecycle(spark, sf0001).collect()
    assert(exact.nonEmpty && exact.length <= 2 * TextOps.HybridTopN)
    // rank-table integrity (the hybridRetrieval contract, lifecycle corpus)
    assert(exact.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 20 &&
      r.getLong(2) >= 0 && r.getLong(2) <= TextOps.HybridTopN))
    assert(exact.forall(r => r.getLong(1) > 0 || r.getLong(2) > 0))
    // no erased document can surface from either arm
    assert(exact.forall(_.getLong(0) % 7 != 3),
      "an erased doc surfaced in the composed fusion")
    // the lexical arm IS the lifecycle scoring table: its rank order
    // matches postingsLifecycle's (bm25 desc, doc_id) output order
    val lifecycleOrder = TextOps.postingsLifecycle(spark, sf0001)
      .collect().map(_.getLong(0)).toSeq
    val lexRanked = exact.filter(_.getLong(1) > 0).sortBy(_.getLong(1))
      .map(_.getLong(0)).toSeq
    assert(lexRanked == lifecycleOrder.take(lexRanked.length),
      "the fused lexical ranks disagree with the lifecycle scoring order")
    // the sub-linear twin: substantial top-set overlap + determinism +
    // it really probes the COMPACTED post-maintenance index
    val ann = TextOps.hybridLifecycleAnn(spark, sf0001).collect()
    assert(ann.nonEmpty)
    assert(ann.forall(r => r.getLong(0) % 7 != 3))
    val topExact = exact.take(10).map(_.getLong(0)).toSet
    val topAnn = ann.take(10).map(_.getLong(0)).toSet
    assert((topExact & topAnn).size >= 6,
      s"composed fused top-10 overlap: ${(topExact & topAnn).size}/10")
    val again = TextOps.hybridLifecycleAnn(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(again == ann.map(_.toSeq).toSeq)
    val p = TextOps.hybridLifecycleAnn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_ann_corpus_idx_lifecycle_"),
      "the ANN twin does not probe the compacted lifecycle index")
  }

  test("hybridRetrievalAnn: the sub-linear fusion substantially overlaps its exact twin") {
    // same lexical arm, ANN dense arm — the fused top set must recover
    // most of the exact fusion's top documents (the q_ann_pq recall
    // discipline applied at the fusion level), and the rank-table
    // integrity contract is identical
    val exact = TextOps.hybridRetrieval(spark, sf0001).collect()
    val ann = TextOps.hybridRetrievalAnn(spark, sf0001).collect()
    assert(ann.nonEmpty)
    assert(ann.forall(r => r.getLong(1) > 0 || r.getLong(2) > 0))
    assert(ann.forall(r => r.getLong(1) <= 20 && r.getLong(2) <= TextOps.HybridTopN))
    val topExact = exact.take(10).map(_.getLong(0)).toSet
    val topAnn = ann.take(10).map(_.getLong(0)).toSet
    val overlap = (topExact & topAnn).size
    assert(overlap >= 6, s"fused top-10 overlap with the exact twin: $overlap/10")
    // determinism: the ADC shortlist is quantized, so reruns are identical
    val again = TextOps.hybridRetrievalAnn(spark, sf0001).collect()
      .map(r => r.toSeq).toSeq
    assert(again == ann.map(_.toSeq).toSeq)
  }

  // ---- round 14: annCompact / whiten / covUpdate / retrievalEval ----------

  test("annCompact: probe results are BIT-IDENTICAL to the tombstone view; artifact holds exactly the live set") {
    // THE compaction contract: rewriting the standing index to the live set
    // may never change a single probe answer — it is the same live set
    val compacted = VectorOps.annCompact(spark, sf0001).collect().map(_.toSeq).toSeq
    val tombstone = VectorOps.annDelete(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(compacted == tombstone,
      "compacted-index probes diverged from the tombstone view")
    assert(compacted.nonEmpty)
    // the rewritten artifact: no tombstoned id survives, and the row count
    // is exactly the live subset of the standing artifact
    def dir(key: String): String =
      graft.ops.SourceOps.materialize(key)(_ =>
        fail(s"$key should already be materialized by the query above"))
    val standing = spark.read.parquet(dir(s"ann_corpus_idx_$sf0001") + "/enc")
    val compactedEnc = spark.read.parquet(dir(s"ann_corpus_idx_compact_$sf0001") + "/enc")
    assert(compactedEnc.filter(col("vec_id") % 7 === 3).isEmpty,
      "a tombstoned vec_id survived compaction")
    assert(compactedEnc.count() ==
      standing.filter(col("vec_id") % 7 =!= 3).count())
    // the emitted audit matches the artifact it describes
    val audit = spark.read.parquet(dir(s"ann_corpus_idx_compact_$sf0001") + "/audit").collect()
    assert(audit.length == 1)
    val (before, after, dead) =
      (audit(0).getLong(0), audit(0).getLong(1), audit(0).getDouble(2))
    assert(before == standing.count() && after == compactedEnc.count())
    assert(dead == BigDecimal((before - after).toDouble / before)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(dead >= VectorOps.CompactDeadFraction, s"compacted below threshold: $dead")
    // determinism across reruns (frozen artifacts + memoized rewrite)
    val again = VectorOps.annCompact(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(again == compacted)
  }

  // ---- round 15: the k-rung eigen ladder -----------------------------------

  test("eigen ladder: a planted 3x3 fixture pins all three HAND-computed eigenpairs through the one rung recipe") {
    // Spectral construction BY HAND (the pin's source of truth — none of
    // these numbers came from running the code): with orthogonal
    // u1 = (1,1,1), u2 = (1,−1,0), u3 = (1,1,−2) and λ = (8, 4, 1),
    //   A = Σ λk·uk ukᵀ/(ukᵀuk)
    //     = (8/3)·u1u1ᵀ + 2·u2u2ᵀ + (1/6)·u3u3ᵀ
    //     = [[29/6, 5/6, 7/3], [5/6, 29/6, 7/3], [7/3, 7/3, 10/3]]
    // (trace check: 29/6 + 29/6 + 20/6 = 13 = 8 + 4 + 1). The ladder's
    // ∞-norm-normalized eigenvectors and eigenvalue estimates are then
    //   rung 1: (1, 1, 1),      λ ≈ 8   (all-ones start IS u1 — exact)
    //   rung 2: (1, −1, 0),     λ ≈ 4   (e0 start: u2·e0 = 1 ≠ 0)
    //   rung 3: (0.5, 0.5, −1), λ ≈ 1   (e1 start: u3·e1 = 1 ≠ 0)
    // Tolerances are the hand-derived contamination bounds: rung 1 sees
    // only 2⁻²⁴ grid truncation (< 2e-7/term); rung 2 adds the
    // (λ3/λ2)^8 = 4⁻⁸ ≈ 1.5e-5 unconverged-tail mix; rung 3 inherits the
    // rung-2 error through the deflation (×λ2 scale) plus the round-6
    // publishing of both priors → O(1e-4). Pins at 1e-4 / 1e-3 / 2e-3.
    import spark.implicits._
    val tri = Seq(
      (0L, 0L, 29.0 / 6), (0L, 1L, 5.0 / 6), (0L, 2L, 7.0 / 3),
      (1L, 1L, 29.0 / 6), (1L, 2L, 7.0 / 3), (2L, 2L, 10.0 / 3))
      .toDF("i", "j", "cov")
    val full = tri.union(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov")))
    val rung1 = VectorOps.eigRungFrom(full, 1, Nil)
    val rung2 = VectorOps.eigRungFrom(full, 2, Seq(rung1))
    val rung3 = VectorOps.eigRungFrom(full, 3, Seq(rung1, rung2))
    def pin(df: org.apache.spark.sql.DataFrame, comp: Seq[Double],
            lam: Double, tol: Double, rung: String): Unit = {
      val rows = df.orderBy("i").collect()
      assert(rows.length == 3, s"$rung: expected 3 dims")
      rows.zip(comp).foreach { case (r, want) =>
        assert(math.abs(r.getDouble(1) - want) < tol,
          s"$rung comp(${r.getLong(0)}) = ${r.getDouble(1)}, hand-computed $want ± $tol")
      }
      assert(math.abs(rows.head.getDouble(2) - lam) < tol,
        s"$rung lambda = ${rows.head.getDouble(2)}, hand-computed $lam ± $tol")
    }
    pin(rung1, Seq(1.0, 1.0, 1.0), 8.0, 1e-4, "rung1")
    pin(rung2, Seq(1.0, -1.0, 0.0), 4.0, 1e-3, "rung2")
    pin(rung3, Seq(0.5, 0.5, -1.0), 1.0, 2e-3, "rung3")
  }

  test("pcaK3: the staged rung-3 artifact is deterministic and orthogonal-ish to the published priors") {
    val k3 = VectorOps.pcaK3(spark, sf0001).collect()
    assert(k3.length == 64)
    val l3 = k3.head.getDouble(2)
    val l2 = VectorOps.eig2Artifact(spark, sf0001).collect().head.getDouble(2)
    assert(l3 > 0 && l3 <= l2, s"ladder order violated: lambda3=$l3 > lambda2=$l2")
    // deflation sanity: the rung-3 vector's dot with each published prior
    // is small relative to its own norm (not exactly 0 — priors are
    // round-6 published values and the iterate runs 8 bounded rounds)
    val c3 = k3.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Seq(1, 2).foreach { r =>
      val p = VectorOps.eigPair(spark, sf0001, r).collect()
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val dot = c3.keys.map(i => c3(i) * p(i)).sum
      val n3 = math.sqrt(c3.values.map(x => x * x).sum)
      val np = math.sqrt(p.values.map(x => x * x).sum)
      assert(math.abs(dot) / (n3 * np) < 0.05,
        s"rung 3 not deflated against rung $r: cos = ${dot / (n3 * np)}")
    }
    val again = VectorOps.pcaK3(spark, sf0001).collect()
    assert(again.map(_.toSeq).toSeq == k3.map(_.toSeq).toSeq)
  }

  // ---- round 15: the composed lifecycle chain -----------------------------

  test("annLifecycle: the composed chain's compacted probes are BIT-IDENTICAL to its tombstone view; audit rows reconcile; deterministic") {
    // composition-identity contract (r14 verdict #5): within the ONE
    // composed artifact chain (standing ∪ appended batch, tombstoned,
    // compacted), probing the compacted artifact must equal probing the
    // pre-compaction tombstone view bit-for-bit — same live set, same
    // frozen artifacts, so compaction may never change a single answer
    val viaCompacted = VectorOps.annLifecycleProbes(spark, sf0001, useCompacted = true)
      .collect().map(_.toSeq).toSeq
    val viaView = VectorOps.annLifecycleProbes(spark, sf0001, useCompacted = false)
      .collect().map(_.toSeq).toSeq
    assert(viaCompacted.nonEmpty)
    assert(viaCompacted == viaView,
      "composed-chain compaction changed a probe answer")
    // the four audit rows reconcile with each other and the chain's sizes:
    // ingest grows the index, expire/compact clear the same dead fraction,
    // the compacted artifact holds exactly the live rows, and the verdict
    // string agrees with the sign of the published recall delta
    val rows = VectorOps.annLifecycle(spark, sf0001).collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("ingest", "expire", "compact", "handover"))
    val Seq(ing, exp, cmp, hnd) = rows.toSeq
    assert(ing.getLong(2) < ing.getLong(3), "ingest did not grow the index")
    assert(exp.getLong(2) == ing.getLong(3), "expire reads what ingest wrote")
    assert(exp.getLong(3) < exp.getLong(2), "expire tombstoned nothing")
    assert(cmp.getLong(2) == exp.getLong(2) && cmp.getLong(3) == exp.getLong(3),
      "compaction changed the live count")
    assert(cmp.getDouble(4) >= VectorOps.CompactDeadFraction,
      s"composed compaction ran below threshold: ${cmp.getDouble(4)}")
    assert(hnd.getLong(2) == hnd.getLong(3) && hnd.getLong(3) == cmp.getLong(3))
    val delta = hnd.getDouble(4)
    assert(if (delta >= 0) hnd.getString(5) == "GO" else hnd.getString(5) == "NO-GO",
      s"handover verdict ${hnd.getString(5)} disagrees with recall delta $delta")
    // deterministic across reruns (frozen + memoized artifacts, seeded fits)
    val again = VectorOps.annLifecycle(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(again == rows.map(_.toSeq).toSeq)
  }

  test("whiten3: first two components equal q_whiten bit-for-bit; w3 equals the test-side recompute over the published rung-3 pair") {
    // k-consistency: the generalized consumer at k=3 must agree with the
    // declared k=2 form on the shared components — same published
    // artifacts, same expressions, so BIT equality, not tolerance
    val w3 = VectorOps.whiten3(spark, sf0001).collect()
    val w2 = VectorOps.whiten(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(w3.nonEmpty && w3.length == w2.size)
    w3.foreach { r =>
      assert((r.getDouble(1), r.getDouble(2)) == w2(r.getLong(0)),
        s"whiten3 diverged from whiten on vec ${r.getLong(0)}")
    }
    // w3 against the published rung-3 eigenpair, the whiten-spec recompute
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val pc3 = VectorOps.eigPair(spark, sf0001, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val l3 = VectorOps.eigPair(spark, sf0001, 3).collect().head.getDouble(2)
    assert(l3 > 0)
    val expect = graft.sources.Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect().map { r =>
        val s = r.getSeq[Float](1).zipWithIndex.map { case (x, i) =>
          math.floor(x.toDouble * pc3(i.toLong) * g).toLong
        }.sum
        r.getLong(0) -> (BigDecimal(s.toDouble / g / math.sqrt(l3))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
      }.toMap
    w3.foreach { r =>
      assert(r.getDouble(3) == expect(r.getLong(0)),
        s"w3(${r.getLong(0)}) = ${r.getDouble(3)}, recompute ${expect(r.getLong(0))}")
    }
  }

  test("whiten: equals the test-side quantized projection / sqrt(lambda) over the published eigenpairs, bit-deterministically") {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val pc1 = VectorOps.eigArtifact(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val pc2 = VectorOps.eig2Artifact(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val l1 = pc1.values.head._2
    val l2 = pc2.values.head._2
    assert(l1 > 0 && l2 > 0 && l2 <= l1)
    def w(xs: Seq[Float], comp: Map[Long, (Double, Double)], lam: Double): Double = {
      val s = xs.zipWithIndex.map { case (x, i) =>
        math.floor(x.toDouble * comp(i.toLong)._1 * g).toLong
      }.sum
      BigDecimal(s.toDouble / g / math.sqrt(lam))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    val expect = graft.sources.Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect().map { r =>
        val xs = r.getSeq[Float](1)
        r.getLong(0) -> (w(xs, pc1, l1), w(xs, pc2, l2))
      }.toMap
    val got = VectorOps.whiten(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == expect)
    val again = VectorOps.whiten(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(again == got, "whiten must be a pure function of the data")
  }

  test("covUpdate: Long-merged standing+batch sums are BIT-IDENTICAL to the full recompute") {
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
    val merged = bits(VectorOps.covUpdate(spark, sf0001))
    val full = bits(VectorOps.embedCov(spark, sf0001))
    assert(merged == full,
      "incremental merge must equal the full recompute bit-for-bit (Long addition is exact)")
    // the standing artifact really is the 80 % corpus partition: its n is
    // the corpus row count on every cell
    val nCorpus = graft.sources.Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") % 5 =!= 4).count()
    val ns = VectorOps.covSumsArtifact(spark, sf0001)
      .select("n").distinct().collect().map(_.getLong(0)).toSeq
    assert(ns == Seq(nCorpus), s"standing-sums n: $ns vs corpus $nCorpus")
  }

  test("covDowndate: Long-subtracted standing-minus-batch sums are BIT-IDENTICAL to the remaining-corpus recompute") {
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val downdated = bits(VectorOps.covDowndate(spark, sf0001))
    // the full recompute over the surviving corpus, same aggregate
    val remaining = bits(graft.sources.Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") % 7 =!= 3)
      .agg(graft.functions.CovFunctions.cov_accum_agg(col("embedding")).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        (round(col("c.sxy") / g / col("c.n") -
          (col("c.sx") / g / col("c.n")) *
          (col("c.sy") / g / col("c.n")), 6) + lit(0.0)).as("cov"))
      .orderBy("i", "j"))
    assert(downdated == remaining,
      "downdate must equal the remaining-corpus recompute bit-for-bit (Long subtraction is exact)")
    assert(downdated.nonEmpty)
  }

  test("covLifecycle: the post-maintenance eigenpair is BIT-IDENTICAL to the recompute ladder; the chain's sums and audit reconcile") {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val emb = graft.sources.Tables.load(spark, sf0001, "embeddings")
    // 1) composition identity (the r15 verdict's named contract): the
    // rung-1 eigenpair re-derived over the MAINTAINED sums must equal
    // eigRungFrom over a fresh remaining-corpus recompute bit-for-bit —
    // update and downdate are exact Long arithmetic, so the maintained
    // matrix IS the recompute's matrix
    def eigBits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("i", "comp", "lambda").collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
    val declared = VectorOps.covLifecycle(spark, sf0001)
    val tri = emb.filter(col("vec_id") % 7 =!= 3)
      .agg(graft.functions.CovFunctions.cov_accum_agg(col("embedding")).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        (col("c.sxy") / g / col("c.n") -
          (col("c.sx") / g / col("c.n")) *
          (col("c.sy") / g / col("c.n"))).as("cov"))
    val cells = tri.union(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov")))
    val recomputed = VectorOps.eigRungFrom(cells, 1, Nil)
    assert(eigBits(declared) == eigBits(recomputed),
      "lifecycle eigenpair diverged from the recompute ladder")
    // 2) the post-INGEST sums equal the standing full-corpus artifact
    // exactly (Long addition is associative — the chain's intermediate
    // state is the artifact covDowndate maintains)
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j", "sxy", "sx", "sy", "n").collect()
        .map(_.toSeq).toSeq.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val ch = VectorOps.momentChain(spark, sf0001)
    assert(sums(ch.s1) == sums(VectorOps.covSumsFullArtifact(spark, sf0001)),
      "post-ingest sums != the standing full-corpus artifact")
    // 3) audit reconciliation: the three stage counts tie out against
    // the fixture's own splits, and every declared row carries them
    val rows = declared.collect()
    assert(rows.nonEmpty)
    val nIngest = emb.filter(col("vec_id") % 5 === 4).count()
    val nErased = emb.filter(col("vec_id") % 7 === 3).count()
    val (ns, ni, nl) = (rows.head.getAs[Long]("n_standing"),
      rows.head.getAs[Long]("n_after_ingest"), rows.head.getAs[Long]("n_live"))
    assert(ni == ns + nIngest, s"ingest audit: $ns + $nIngest != $ni")
    assert(nl == ni - nErased, s"erasure audit: $ni - $nErased != $nl")
    assert(rows.forall(r => r.getAs[Long]("n_standing") == ns &&
      r.getAs[Long]("n_after_ingest") == ni && r.getAs[Long]("n_live") == nl))
  }

  test("retrievalEval: metrics equal a test-side recompute from the fused table and sit in [0,1]") {
    val fused = TextOps.hybridRetrieval(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy { case (d, _, _, s) => (-s, d) }
    val gt = fused.take(TextOps.EvalK)
    def metrics(rank: ((Long, Long, Long, Double)) => Long): (Double, Double) = {
      val hits = gt.count(r => rank(r) >= 1 && rank(r) <= TextOps.EvalK)
      val r1 = rank(gt.head)
      val mrr = if (r1 > 0) 1.0 / r1 else 0.0
      (BigDecimal(hits.toDouble / TextOps.EvalK)
         .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
       BigDecimal(mrr).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expect = Map(
      "bm25_arm" -> metrics(_._2),
      "dense_arm" -> metrics(_._3))
    val got = TextOps.retrievalEval(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == expect, s"got $got expected $expect")
    got.values.foreach { case (rec, mrr) =>
      assert(rec >= 0.0 && rec <= 1.0 && mrr >= 0.0 && mrr <= 1.0)
    }
  }

  test("retrievalEvalLifecycle: metrics equal a test-side recompute from the lifecycle-fused table (r17 verdict #4)") {
    // the post-maintenance front door's arm-quality audit — the SAME
    // metric spelling (retrievalEvalFrom is shared code, this pins the
    // values) over hybridLifecycle's fused ranking: the GO/NO-GO an
    // operator reads after an ingest + erasure event
    val fused = TextOps.hybridLifecycle(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy { case (d, _, _, s) => (-s, d) }
    val gt = fused.take(TextOps.EvalK)
    def metrics(rank: ((Long, Long, Long, Double)) => Long): (Double, Double) = {
      val hits = gt.count(r => rank(r) >= 1 && rank(r) <= TextOps.EvalK)
      val r1 = rank(gt.head)
      val mrr = if (r1 > 0) 1.0 / r1 else 0.0
      (BigDecimal(hits.toDouble / TextOps.EvalK)
         .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
       BigDecimal(mrr).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expect = Map(
      "bm25_arm" -> metrics(_._2),
      "dense_arm" -> metrics(_._3))
    val got = TextOps.retrievalEvalLifecycle(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == expect, s"got $got expected $expect")
    got.values.foreach { case (rec, mrr) =>
      assert(rec >= 0.0 && rec <= 1.0 && mrr >= 0.0 && mrr <= 1.0)
    }
  }

  test("retrievalEvalLifecycleAnn: metrics equal a test-side recompute from the lifecycle-ANN fused table; probes the compacted index (r18 verdict #2)") {
    // the ANN twin of the lifecycle audit — the same metric spelling over
    // hybridLifecycleAnn's own fusion: a test-side recompute from that
    // fused table pins the arithmetic (the retrievalEvalLifecycle
    // discipline, sub-linear tier), its registry row's Twin points at the
    // oracled exact twin for value semantics
    val fused = TextOps.hybridLifecycleAnn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy { case (d, _, _, s) => (-s, d) }
    val gt = fused.take(TextOps.EvalK)
    def metrics(rank: ((Long, Long, Long, Double)) => Long): (Double, Double) = {
      val hits = gt.count(r => rank(r) >= 1 && rank(r) <= TextOps.EvalK)
      val r1 = rank(gt.head)
      val mrr = if (r1 > 0) 1.0 / r1 else 0.0
      (BigDecimal(hits.toDouble / TextOps.EvalK)
         .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
       BigDecimal(mrr).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expect = Map(
      "bm25_arm" -> metrics(_._2),
      "dense_arm" -> metrics(_._3))
    val got = TextOps.retrievalEvalLifecycleAnn(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == expect, s"got $got expected $expect")
    got.values.foreach { case (rec, mrr) =>
      assert(rec >= 0.0 && rec <= 1.0 && mrr >= 0.0 && mrr <= 1.0)
    }
    // determinism (the ADC shortlist is quantized) + the dense arm really
    // is the COMPACTED post-maintenance index (plan assertion reused from
    // the hybridLifecycleAnn spec)
    val again = TextOps.retrievalEvalLifecycleAnn(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(again == got)
    val p = TextOps.retrievalEvalLifecycleAnn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_ann_corpus_idx_lifecycle_"),
      "the lifecycle-ANN audit does not probe the compacted lifecycle index")
  }

  test("retrievalEvalAnn: metrics equal a test-side recompute from the ANN and exact rankings; ANN recall holds its floor") {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    // dense systems vs exact knn, averaged over the 5 probes
    val gtK = VectorOps.knnJoin(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // (probe, rk, vec)
    val probes = gtK.map(_._1).distinct
    def expectKnn(sys: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val ann = sys.collect()
        .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1))).toMap // (probe,vec)->rk
      val hits = gtK.count { case (p, _, v) => ann.contains((p, v)) }
      val recipSum = probes.map { p =>
        val top1 = gtK.find(r => r._1 == p && r._2 == 1L).get._3
        math.floor(ann.get((p, top1)).map(1.0 / _).getOrElse(0.0) * g).toLong
      }.sum
      (BigDecimal(hits.toDouble / (TextOps.EvalK * probes.size))
         .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
       BigDecimal(recipSum.toDouble / g / probes.size)
         .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expectPq = expectKnn(VectorOps.annPq(spark, sf0001))
    val expectIvf = expectKnn(VectorOps.ivfTopk(spark, sf0001))
    val expectLsh = expectKnn(VectorOps.annLsh(spark, sf0001))
    // hybrid_ann vs the exact fusion
    def ranked(rows: Array[org.apache.spark.sql.Row]): Seq[Long] =
      rows.map(r => (r.getLong(0), r.getDouble(3)))
        .sortBy { case (d, s) => (-s, d) }.map(_._1).toSeq
    val gtF = ranked(TextOps.hybridRetrieval(spark, sf0001).collect()).take(TextOps.EvalK)
    val sysF = ranked(TextOps.hybridRetrievalAnn(spark, sf0001).collect())
    val hitsF = gtF.count(d => { val i = sysF.indexOf(d); i >= 0 && i < TextOps.EvalK })
    val r1 = sysF.indexOf(gtF.head)
    val expectAnn = (
      BigDecimal(hitsF.toDouble / TextOps.EvalK)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(if (r1 >= 0) 1.0 / (r1 + 1) else 0.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val expect = Map("ann_pq" -> expectPq, "ann_ivf" -> expectIvf,
      "ann_lsh" -> expectLsh, "hybrid_ann" -> expectAnn)
    val got = TextOps.retrievalEvalAnn(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == expect, s"got $got expected $expect")
    // the declared floor the spec suite already demands of the ANN tier:
    // ≥2/5 probes hit (recall ≥ 2/15) and the fused-ANN top set overlaps
    assert(got("ann_pq")._1 >= 2.0 / 15 - 1e-9, s"ann_pq recall ${got("ann_pq")._1}")
    // determinism
    val again = TextOps.retrievalEvalAnn(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(again == got)
  }

  test("annRetrainEval: handover metrics equal a test-side recompute; both versions hold the recall floor; deterministic") {
    val g = graft.functions.CovFunctions.CovGridScale.toDouble
    val gtK = VectorOps.knnJoin(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val probes = gtK.map(_._1).distinct
    def expectFor(sys: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val ann = sys.collect()
        .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1))).toMap
      val hits = gtK.count { case (p, _, v) => ann.contains((p, v)) }
      val recipSum = probes.map { p =>
        val top1 = gtK.find(r => r._1 == p && r._2 == 1L).get._3
        math.floor(ann.get((p, top1)).map(1.0 / _).getOrElse(0.0) * g).toLong
      }.sum
      (BigDecimal(hits.toDouble / (3 * probes.size))
         .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
       BigDecimal(recipSum.toDouble / g / probes.size)
         .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expect = Map(
      "pq_v1_frozen" -> expectFor(VectorOps.annAppend(spark, sf0001)),
      "pq_v2_retrained" -> expectFor(VectorOps.annPq(spark, sf0001)))
    val got = VectorOps.annRetrainEval(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == expect, s"got $got expected $expect")
    // the go/no-go floor both versions must clear before serving: the
    // suite's standing ANN floor (≥2/5 probes hit the exact top-3)
    got.values.foreach { case (rec, mrr) =>
      assert(rec >= 2.0 / 15 - 1e-9 && mrr >= 0.0 && mrr <= 1.0, got)
    }
    val again = VectorOps.annRetrainEval(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(again == got)
  }

  test("whitenOutliers: energy is exactly w1²+w2² of the declared whitening, top-k ordered, deterministic") {
    val w = VectorOps.whiten(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val expect = w.toSeq.map { case (id, (w1, w2)) =>
      id -> (BigDecimal(w1 * w1 + w2 * w2)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, e) => (-e, id) }.take(VectorOps.WhitenOutlierK)
    val got = VectorOps.whitenOutliers(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got == expect, s"got ${got.take(3)}... expected ${expect.take(3)}...")
    assert(got.forall(_._2 >= 0.0))
    val again = VectorOps.whitenOutliers(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(again == got)
  }
}
