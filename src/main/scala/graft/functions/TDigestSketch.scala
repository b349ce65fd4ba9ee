package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.tdigest.TDigestDouble

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, NumericType}

/** Mergeable t-digest quantile sketches (Dunning & Ertl, "Computing
  * extremely accurate quantiles using t-digests", 2019) — the TAIL-accuracy
  * companion to [[KllFunctions]]: KLL's rank error is UNIFORM (±1.65% at
  * k=200 everywhere), while the t-digest's scale function concentrates
  * centroid resolution at the extremes, so p99/p999 — the latency-SLO
  * quantiles a 100 TB serving pipeline actually reports — carry rank error
  * orders of magnitude below the bulk of the distribution, in a blob ~1 KB
  * against KLL's ~5 KB. Built on the `TDigestDouble` implementation that
  * ships inside Spark's own jar set (`datasketches-java` 6.x), exposed as
  * the same `TypedImperativeAggregate` tier as the KLL/CMS wrappers: the
  * digest object lives in the aggregation buffer, each input row costs one
  * `update`, partials cross the shuffle as serialized blobs.
  *
  * Determinism: centroid merging depends on input order, which Spark's
  * partitioning legitimately varies — so, exactly like KLL, the contract is
  * the SKETCH contract (rank-error bounds vs the exact twin, asserted in
  * EventOpsSpec) rather than a value hash, and the declared query's
  * registry row names `q_monthly_median` as its oracled twin.
  */
object TDigestFunctions {
  /** Compression parameter: ~2·k centroids retained; k=200 ⇒ bulk rank
    * error well under 1% and tail error ~1e-4, ~1–2 KB serialized. */
  val DefaultK: Short = 200

  def td_sketch_agg(c: Column, k: Short = DefaultK): Column =
    Bridge.column(TDigestAgg(Bridge.expression(c), k).toAggregateExpression())

  def td_union_agg(c: Column, k: Short = DefaultK): Column =
    Bridge.column(TDigestUnionAgg(Bridge.expression(c), k).toAggregateExpression())

  def td_quantile(c: Column, rank: Double): Column =
    Bridge.column(TDigestQuantile(Bridge.expression(c), Literal(rank, DoubleType)))

  def td_rank(c: Column, value: Column): Column =
    Bridge.column(TDigestRank(Bridge.expression(c), Bridge.expression(value)))
}

/** Shared buffer/serde plumbing of the two t-digest aggregates — the
  * [[KllAggLike]] shape over `TDigestDouble` (heap object buffer,
  * digest-merge, blob eval/serde). */
private[functions] trait TDigestAggLike extends TypedImperativeAggregate[TDigestDouble] {
  def k: Short
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): TDigestDouble = new TDigestDouble(k)
  override def merge(buffer: TDigestDouble, other: TDigestDouble): TDigestDouble = {
    buffer.merge(other); buffer
  }
  override def eval(buffer: TDigestDouble): Any = buffer.toByteArray
  override def serialize(buffer: TDigestDouble): Array[Byte] = buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): TDigestDouble =
    TDigestDouble.heapify(Memory.wrap(bytes))
}

/** Builds a t-digest(k) over any numeric column (widened to double via the
  * shared [[KllNum]] coercion); evaluates to the serialized blob. Null
  * inputs are skipped; an all-null group yields a valid empty digest. */
case class TDigestAgg(
    child: Expression,
    k: Short = TDigestFunctions.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TDigestAggLike with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[NumericType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"td_sketch_agg needs a numeric input, got ${child.dataType.sql}")
  override def prettyName: String = "td_sketch_agg"

  override def update(buffer: TDigestDouble, input: InternalRow): TDigestDouble = {
    val v = child.eval(input)
    if (v != null) buffer.update(KllNum.toDouble(v))
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TDigestAgg =
    copy(child = newChild)
}

/** Merges stored t-digest blobs ([[TDigestAgg]] outputs) into one digest;
  * evaluates to the merged blob — the rollup half of the persistent sketch
  * store: a monthly p99 unions ~30 stored daily blobs instead of
  * re-sorting the month's raw values. */
case class TDigestUnionAgg(
    child: Expression,
    k: Short = TDigestFunctions.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TDigestAggLike with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"td_union_agg needs a BINARY blob input, got ${child.dataType.sql}")
  override def prettyName: String = "td_union_agg"

  override def update(buffer: TDigestDouble, input: InternalRow): TDigestDouble = {
    val v = child.eval(input)
    if (v != null) {
      buffer.merge(TDigestDouble.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TDigestUnionAgg =
    copy(child = newChild)
}

/** Scalar quantile query over a stored t-digest blob:
  * `td_quantile(blob, rank)`. Null on an empty digest. Runs on
  * post-aggregation rows (one per group), so CodegenFallback costs nothing
  * measurable. */
case class TDigestQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"td_quantile needs (BINARY, numeric), got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "td_quantile"

  override protected def nullSafeEval(blob: Any, rank: Any): Any = {
    val sk = TDigestDouble.heapify(Memory.wrap(blob.asInstanceOf[Array[Byte]]))
    if (sk.isEmpty) null else sk.getQuantile(KllNum.toDouble(rank))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TDigestQuantile =
    copy(left = newLeft, right = newRight)
}

/** Inverse of [[TDigestQuantile]]: the normalized rank of a value in a
  * stored t-digest blob — `td_rank(blob, v)` ∈ [0, 1]. Null on an empty
  * digest. With [[TDigestQuantile]] this is the same (quantile, rank) probe
  * pair the KLL store answers KS-drift questions with, at tail-weighted
  * accuracy. */
case class TDigestRank(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"td_rank needs (BINARY, numeric), got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "td_rank"

  override protected def nullSafeEval(blob: Any, value: Any): Any = {
    val sk = TDigestDouble.heapify(Memory.wrap(blob.asInstanceOf[Array[Byte]]))
    if (sk.isEmpty) null else sk.getRank(KllNum.toDouble(value))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TDigestRank =
    copy(left = newLeft, right = newRight)
}
