package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Bit-exact scorer for the reference's fitted XGBoost booster
  * (`best_model.pkl`, 400 depth-4 trees; data in [[XgbModelData]]).
  *
  * Reproduces the reference's `model.predict_proba` (`app_test.py:235,296`)
  * numerically, not just in capability: traversal is xgboost's
  * `fvalue < split_condition ? left : right` on float32 values, leaf values
  * accumulate in float32 in tree order, and the margin intercept is the
  * float32 logit of the stored `base_score` — so the float32 margin is
  * bit-equal to the booster's CPU predictor, and
  * `prob = 1/(1+exp(-margin))` matches the app's displayed probability.
  *
  * Scale design: every tree is laid out as a complete depth-4 tree of 31
  * slots (15 splits, 16 leaves; a leaf above depth 4 is copied into both
  * children), so the scorer walks 400 × 31 slots of (feature, threshold),
  * about 99 KB baked into the task binary, with a fixed four branch-free
  * steps per tree and no per-row allocation (thread-local feature buffer).
  * The decoded node arrays stay as the source the layout and the oracle
  * SQL are built from. The SQL-facing form ([[oracleMarginChunks]])
  * mechanically unrolls the same trees into nested CASE expressions over
  * REAL (float32) arithmetic, which is what the DuckDB oracle runs — one
  * source of truth for both engines.
  */
object XgbModel {
  val numFeatures = 15

  val (nTrees: Int, offsets: Array[Int], feat: Array[Int],
       left: Array[Int], right: Array[Int], thrBits: Array[Int]) = {
    val bytes = java.util.Base64.getDecoder.decode(XgbModelData.packedB64)
    val bb = ByteBuffer.wrap(bytes) // big-endian by default
    val n = bb.getInt
    def ints(k: Int): Array[Int] = { val a = new Array[Int](k); var i = 0; while (i < k) { a(i) = bb.getInt; i += 1 }; a }
    val off = ints(n + 1)
    val total = off(n)
    (n, off, ints(total), ints(total), ints(total), ints(total))
  }

  /** Thresholds for internal nodes; leaf values for leaves (float32-exact). */
  val thr: Array[Float] = thrBits.map(java.lang.Float.intBitsToFloat)

  val baseMargin: Float = java.lang.Float.intBitsToFloat(XgbModelData.baseMarginBits)

  private val tlBuf = new ThreadLocal[Array[Float]] {
    override def initialValue(): Array[Float] = new Array[Float](numFeatures)
  }

  /** Float32 margin for one row; features as the 15-element array<double>
    * in ColumnTransformer order (7 z-scaled numerics, 8 one-hots).
    * Validates shape and nulls: xgb_margin is SQL-registered, so arbitrary
    * arrays can reach here — a null slot must fail loudly (ANSI style), not
    * silently score as 0.0 via UnsafeArrayData's null-slot representation. */
  def margin(a: ArrayData): Float = {
    if (a.numElements() != numFeatures)
      throw new IllegalArgumentException(
        s"xgb_margin: expected $numFeatures features, got ${a.numElements()}")
    val f = tlBuf.get()
    var i = 0
    while (i < numFeatures) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"xgb_margin: feature $i is NULL")
      f(i) = a.getDouble(i).toFloat; i += 1
    }
    marginF(f)
  }

  def margin(features: Array[Double]): Float = {
    val f = tlBuf.get()
    var i = 0
    while (i < numFeatures) { f(i) = features(i).toFloat; i += 1 }
    marginF(f)
  }

  /** Depth of every tree; a complete tree of this depth has 31 slots. */
  val depth = 4
  val slots: Int = (1 << (depth + 1)) - 1

  /** For tree `t`, slot `s` (heap order: children of `s` at `2s+1`, `2s+2`)
    * copies original node `slotNode(t * slots + s)`. A leaf reached above
    * the bottom fills its whole subtree, so every path is `depth` steps. */
  val slotNode: Array[Int] = {
    val out = new Array[Int](nTrees * slots)
    var t = 0
    while (t < nTrees) {
      val base = offsets(t)
      out(t * slots) = base
      var s = 0
      while (s < slots / 2) {
        val n = out(t * slots + s)
        val leaf = left(n) == -1
        out(t * slots + 2 * s + 1) = if (leaf) n else base + left(n)
        out(t * slots + 2 * s + 2) = if (leaf) n else base + right(n)
        s += 1
      }
      while (s < slots) {
        require(left(out(t * slots + s)) == -1, s"tree $t is deeper than $depth")
        s += 1
      }
      t += 1
    }
    out
  }

  /** Split feature per slot (0 where the slot is a copied leaf: both of its
    * children are the same leaf, so the comparison cannot matter). */
  private val slotFeat: Array[Int] =
    slotNode.map(n => if (left(n) == -1) 0 else feat(n))
  /** Split threshold per slot; the leaf value at the bottom 16 slots. */
  private val slotThr: Array[Float] = slotNode.map(thr(_))

  require(nTrees % 4 == 0, s"the kernel steps 4 trees at a time; got $nTrees")

  /** Four trees at a time, each a fixed `depth` steps of
    * `p = 2p + (f < thr ? 1 : 2)`: NaN and `f == thr` go right, as in
    * xgboost. Leaves are summed in float32 in tree order, base margin last. */
  private def marginF(f: Array[Float]): Float = {
    var s = 0.0f
    var b = 0
    val end = nTrees * slots
    while (b < end) {
      val b1 = b + slots; val b2 = b1 + slots; val b3 = b2 + slots
      var p0 = 0; var p1 = 0; var p2 = 0; var p3 = 0
      var d = 0
      while (d < depth) {
        p0 = 2 * p0 + (if (f(slotFeat(b + p0)) < slotThr(b + p0)) 1 else 2)
        p1 = 2 * p1 + (if (f(slotFeat(b1 + p1)) < slotThr(b1 + p1)) 1 else 2)
        p2 = 2 * p2 + (if (f(slotFeat(b2 + p2)) < slotThr(b2 + p2)) 1 else 2)
        p3 = 2 * p3 + (if (f(slotFeat(b3 + p3)) < slotThr(b3 + p3)) 1 else 2)
        d += 1
      }
      s += slotThr(b + p0); s += slotThr(b1 + p1)
      s += slotThr(b2 + p2); s += slotThr(b3 + p3)
      b = b3 + slots
    }
    baseMargin + s
  }

  /** Shortest decimal that parses back to exactly this float's double value
    * (`Double.toString` round-trip guarantee). The `e0` suffix is load-
    * bearing: DuckDB types a plain decimal literal as DECIMAL, and
    * DECIMAL→REAL double-rounds (1 ulp off, verified); an exponent literal
    * is DOUBLE, and DOUBLE→REAL is exact. */
  private def lit(f: Float): String = {
    val s = f.toDouble.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  /** The same 400 trees as DuckDB SQL: nested CASE over REAL arithmetic.
    * `featureExpr(i)` must name a REAL-typed column holding feature i
    * (DuckDB FLOAT ops are genuine float32, verified, so the left-assoc
    * sums below reproduce the float32 accumulation bit-for-bit).
    *
    * Emitted as `chunk`-sized partial-sum expressions rather than one
    * 400-term chain: DuckDB's binder recurses per binary `+` and caps at
    * depth 128. Chunk i's expression starts from `acc{i-1}`, so
    * `(((acc + t_k) + t_k+1) + ...)` keeps xgboost's sequential tree-order
    * accumulation — float32 addition is not associative, so a balanced
    * regrouping would change low bits. The base margin is NOT folded in
    * here: xgboost's predictor sums the leaves first and adds the
    * intercept to the pre-initialized output last (`preds[i] += psum`);
    * seeding the chain with it instead shifts ~6% of margins by 1-2 ulps
    * (observed). Callers add [[oracleBaseLit]] to the final accumulator. */
  def oracleMarginChunks(featureExpr: Int => String, chunk: Int = 80): Seq[String] = {
    def node(base: Int, n: Int): String = {
      val idx = base + n
      if (left(idx) == -1) s"CAST(${lit(thr(idx))} AS REAL)"
      else s"CASE WHEN ${featureExpr(feat(idx))} < CAST(${lit(thr(idx))} AS REAL) " +
        s"THEN ${node(base, left(idx))} ELSE ${node(base, right(idx))} END"
    }
    val trees = (0 until nTrees).map(t => s"(${node(offsets(t), 0)})")
    trees.grouped(chunk).zipWithIndex.map { case (g, i) =>
      if (i == 0) g.mkString(" + ") else (s"acc${i - 1}" +: g).mkString(" + ")
    }.toSeq
  }

  /** SQL literal of the margin intercept, added AFTER the leaf sum. */
  def oracleBaseLit: String = s"CAST(${lit(baseMargin)} AS REAL)"
}

/** Catalyst expression: float32 XGBoost margin of an array<double> feature
  * vector, as double. Codegen is a single static call — the tree walk stays
  * inside whole-stage codegen's pipeline (no lambda, no boxing). */
case class XgbMargin(child: Expression) extends UnaryExpression {
  override def prettyName: String = "xgb_margin"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"xgb_margin requires array<double>, got $t")
  }

  override def nullSafeEval(a: Any): Any =
    XgbModel.margin(a.asInstanceOf[ArrayData]).toDouble

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (double) graft.functions.XgbModel.margin($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object XgbFunctions {
  def xgb_margin(features: Column): Column =
    Bridge.column(XgbMargin(Bridge.expression(features)))
}
