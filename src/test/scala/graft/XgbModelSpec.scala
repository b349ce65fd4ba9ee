package graft

import org.apache.spark.sql.functions._
import graft.functions.{XgbFunctions, XgbModel}
import graft.ops.Scoring

/** Bit-exactness of the ported reference booster (SURVEY.md §2.4 M5/M6):
  * the float32 margin must equal xgboost's CPU predictor bit-for-bit.
  * Golden bits were computed by an independent float32 re-implementation of
  * the traversal (numpy) over the same extracted trees — agreement between
  * that, this Scala scorer, and the DuckDB REAL-arithmetic oracle is the
  * three-way check that the port is faithful. */
class XgbModelSpec extends SparkSpec {
  import spark.implicits._

  test("model decode: 400 depth-4 trees, 5806 nodes, 15 features") {
    assert(XgbModel.nTrees == 400)
    assert(XgbModel.offsets.length == 401)
    assert(XgbModel.offsets(400) == 5806)
    assert(XgbModel.feat.length == 5806 && XgbModel.thr.length == 5806)
    // every internal node's children stay inside its tree; features in range
    (0 until XgbModel.nTrees).foreach { t =>
      val base = XgbModel.offsets(t); val end = XgbModel.offsets(t + 1)
      val n = end - base
      assert(n <= 31) // depth-4 binary tree bound
      (base until end).foreach { i =>
        if (XgbModel.left(i) != -1) {
          assert(XgbModel.left(i) < n && XgbModel.right(i) < n)
          assert(XgbModel.feat(i) >= 0 && XgbModel.feat(i) < XgbModel.numFeatures)
        }
      }
    }
    assert(java.lang.Float.floatToIntBits(XgbModel.baseMargin) == 1057642966)
  }

  /** The plain pointer walk over the decoded node arrays: the reference the
    * complete-tree kernel must agree with bit for bit. */
  private def pointerWalk(f: Array[Float]): Float = {
    import XgbModel._
    var s = 0.0f
    (0 until nTrees).foreach { t =>
      val base = offsets(t)
      var n = base
      while (left(n) != -1) n = base + (if (f(feat(n)) < thr(n)) left(n) else right(n))
      s += thr(n)
    }
    baseMargin + s
  }

  test("complete-tree layout: 400 x 31 slots that reach every original leaf") {
    import XgbModel._
    assert(slots == 31 && slotNode.length == nTrees * slots)
    (0 until nTrees).foreach { t =>
      val base = offsets(t)
      val leaves = (base until offsets(t + 1)).filter(left(_) == -1).toSet
      val bottom = (slots / 2 until slots).map(s => slotNode(t * slots + s)).toSet
      assert(slotNode(t * slots) == base)
      assert(bottom == leaves, s"tree $t: bottom slots $bottom != leaves $leaves")
    }
  }

  test("kernel == pointer walk, bit for bit, on >= 100k vectors incl. thresholds, NaN, Inf") {
    import XgbModel._
    val rnd = new scala.util.Random(7)
    def randomVec(): Array[Double] = Array.tabulate(numFeatures) { i =>
      if (i < 7) rnd.nextGaussian() * 1.5 else rnd.nextInt(2).toDouble
    }
    val customers = Scoring.preprocess(Scoring.synthCustomers(spark, sf001))
      .select(array(Scoring.featureCols.map(col): _*)).collect()
      .map(_.getSeq[Double](0).toArray).toSeq
    val random = Seq.fill(100000)(randomVec())
    val atThresholds = feat.indices.filter(left(_) != -1).flatMap { n =>
      Seq(thr(n), Math.nextUp(thr(n)), Math.nextDown(thr(n))).map { v =>
        val x = randomVec(); x(feat(n)) = v.toDouble; x
      }
    }
    val nonFinite = for {
      _ <- 0 until 50; i <- 0 until numFeatures
      v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    } yield { val x = randomVec(); x(i) = v; x }
    val all = customers ++ random ++ atThresholds ++ nonFinite
    assert(customers.size >= 1000 && all.size >= 100000)
    val bad = all.count { x =>
      java.lang.Float.floatToIntBits(margin(x)) !=
        java.lang.Float.floatToIntBits(pointerWalk(x.map(_.toFloat)))
    }
    assert(bad == 0, s"$bad of ${all.size} vectors differ from the pointer walk")
  }

  /** Feature vector via the engine's own preprocess stages. */
  private def featuresOf(nums: Seq[Double], g: String, sub: String, con: String): Array[Double] = {
    val df = Seq((1L, nums(0), nums(1), nums(2), nums(3), nums(4), nums(5), nums(6), g, sub, con))
      .toDF("customer_id", "age", "tenure", "usage_frequency", "support_calls",
        "payment_delay", "total_spend", "last_interaction",
        "gender", "subscription_type", "contract_length")
    Scoring.preprocess(df)
      .select(array(Scoring.featureCols.map(col): _*)).head().getSeq[Double](0).toArray
  }

  // golden float32 margin bits from the independent numpy emulator
  val goldens = Seq(
    ("default wizard form (app_test.py:143-147)",
      Seq(35.0, 12.0, 15.0, 2.0, 5.0, 500.0, 10.0), "Male", "Standard", "Annual",
      -1061911691, 0.0035365985759309632),
    ("high-churn profile",
      Seq(62.0, 1.0, 2.0, 19.0, 28.0, 120.0, 28.0), "Female", "Basic", "Monthly",
      1100493844, 0.9999999945378797),
    ("unknown categories -> all-zero one-hots",
      Seq(40.0, 32.0, 16.0, 3.0, 13.0, 646.97, 14.0), "Other", "Unknown", "Biennial",
      -1061703664, 0.003203693740520572))

  goldens.foreach { case (name, nums, g, sub, con, bits, prob) =>
    test(s"bit-exact margin: $name") {
      val m = XgbModel.margin(featuresOf(nums, g, sub, con))
      assert(java.lang.Float.floatToIntBits(m) == bits,
        s"margin $m bits ${java.lang.Float.floatToIntBits(m)} != $bits")
      val p = 1.0 / (1.0 + math.exp(-m.toDouble))
      assert(math.abs(p - prob) < 1e-12, s"prob $p != $prob")
    }
  }

  test("codegen path (xgb_margin expression) == direct scorer") {
    val vecs = goldens.map { case (_, nums, g, sub, con, _, _) => featuresOf(nums, g, sub, con) }
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "features")
    val out = df.select($"id", XgbFunctions.xgb_margin($"features").as("m"))
      .orderBy("id").collect()
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(out(i).getDouble(1) == XgbModel.margin(v).toDouble)
    }
  }

  test("scoreExact: schema, determinism, and strict risk buckets") {
    val df = Scoring.scoreExact(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(df.columns.toSeq ==
      Seq("customer_id", "churn_prob", "churn_pred", "risk", "churn_pct"))
    rows.foreach { r =>
      val p = r.getDouble(1)
      assert(p >= 0.0 && p <= 1.0)
      val risk = r.getString(3)
      assert(risk == (if (p < 0.3) "Low" else if (p < 0.7) "Medium" else "High"))
      assert(r.getLong(2) == (if (p > 0.5) 1L else 0L))
    }
    // pure function of the input: a second run is identical
    assert(Scoring.scoreExact(spark, "/root/testdata/sf0.001").collect().sameElements(rows))
  }

  test("xgb_margin rejects null elements and wrong-arity arrays loudly") {
    def rootChain(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val nulled = Seq(1).toDF("i").select(XgbFunctions.xgb_margin(
      array(lit(null).cast("double") +: (1 until XgbModel.numFeatures)
        .map(_ => lit(0.0)): _*)).as("m"))
    val e1 = intercept[Exception](nulled.collect())
    assert(rootChain(e1).contains("NULL"), rootChain(e1))
    val short = Seq(1).toDF("i")
      .select(XgbFunctions.xgb_margin(array(lit(1.0), lit(2.0))).as("m"))
    val e2 = intercept[Exception](short.collect())
    assert(rootChain(e2).contains("expected"), rootChain(e2))
  }

  test("oracle SQL generator: one + between trees, sequential carry, base last") {
    val chunks = XgbModel.oracleMarginChunks(i => s"f$i")
    assert(chunks.size == 5) // 400 trees / 80 per chunk
    assert(XgbModel.oracleBaseLit == "CAST(0.5404332876205444e0 AS REAL)")
    assert(!chunks.exists(_.contains("0.5404332876205444"))) // base is added last, not seeded
    chunks.zipWithIndex.tail.foreach { case (c, i) => assert(c.startsWith(s"acc${i - 1}")) }
    // 399 joins between 400 tree terms (tree bodies are CASE-only, no arithmetic)
    assert(chunks.map(" \\+ ".r.findAllIn(_).size).sum == 399)
  }
}
