package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-layout operators: multi-dimensional clustering keys for
  * file-skipping at 100 TB.
  *
  * Min/max zone-map pruning ([[SourceOps.partitionPrune]],
  * `q_partition_prune`) only skips files when the data is CLUSTERED on the
  * filter column — and sorting on one column destroys locality on every
  * other. A Z-order (Morton) key interleaves the bits of two (or more)
  * dimensions so that sorting by the single z value keeps BOTH dimensions
  * locally dense: any z-contiguous run of rows covers a small rectangle in
  * (x, y) space, so per-file min/max ranges stay narrow on both columns and
  * a predicate on EITHER dimension skips most files. This is the layout
  * strategy behind lakehouse `OPTIMIZE ZORDER BY` — recomputed here as a
  * pure-expression key (bit ops only, fully codegen'd, no shuffle beyond
  * the final range sort that any layout rewrite pays).
  */
object LayoutOps {

  /** Bits kept per dimension (20-bit z value total). */
  val ZBits = 10

  /** Bucket = the z value's top 3 bits per dimension (64 buckets), i.e.
    * shift away the low `2·(ZBits−3)` interleaved bits. Derived, not
    * hardcoded, so the audit, its oracle, and the locality tests stay
    * consistent if ZBits moves. */
  val ZBucketPrefixBits = 3
  val ZBucketShift: Int = 2 * (ZBits - ZBucketPrefixBits)

  /** Max per-dimension extent of one bucket's rectangle (127 at ZBits=10):
    * the low `ZBits − prefix` bits are free within a bucket. */
  val ZBucketMaxExtent: Long = (1L << (ZBits - ZBucketPrefixBits)) - 1

  /** Morton-interleave the low [[ZBits]] bits of x (even positions) and y
    * (odd positions). Pure integer bit arithmetic — identical in any
    * engine, which is what makes the layout audit oracle-checkable. */
  def zValue(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Declared query — the layout AUDIT for z-ordering orders on
    * (custkey, order day): bucket rows by their z-value prefix (the
    * file-assignment a z-sorted writer would make) and report each
    * bucket's row count and min/max extent in BOTH dimensions. Narrow
    * per-bucket ranges on both axes are precisely the property that makes
    * zone-map skipping effective for predicates on either column; the
    * audit materializes what `OPTIMIZE ZORDER` buys before committing a
    * 100 TB rewrite to it. Integer-only output → bit-exact oracle. */
  def zorderAudit(spark: SparkSession, sf: String): DataFrame = {
    val x = col("o_custkey").bitwiseAND(lit((1L << ZBits) - 1))
    val y = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
      .cast("long").bitwiseAND(lit((1L << ZBits) - 1))
    Tables.load(spark, sf, "orders")
      .select(x.as("xk"), y.as("yk"))
      .withColumn("zbucket", shiftright(zValue(col("xk"), col("yk")), ZBucketShift))
      .groupBy("zbucket")
      .agg(
        count(lit(1)).as("n"),
        min("xk").as("lo_cust"), max("xk").as("hi_cust"),
        min("yk").as("lo_day"), max("yk").as("hi_day"))
      .orderBy("zbucket")
  }

  /** Small-file COMPACTION — the other half of the layout discipline
    * ([[zorderAudit]] picks the clustering, this fixes the file-count
    * pathology): a streaming/micro-batch writer leaves thousands of tiny
    * files per partition, and at 100 TB the per-file open/footer/seek cost
    * (plus the driver's listing memory) comes to dominate scan time long
    * before data volume does. The rewrite is one range-repartition on the
    * natural sort key (`ts`) — so the compacted files are also TIME-
    * CLUSTERED, narrowing per-file min/max spans and re-arming zone-map
    * skipping — followed by a plain write; both stages are staged ONCE per
    * (sf) via the SourceOps memo, and the declared query reads only the
    * compacted layout. SinkSpec asserts the operational facts: file count
    * collapses (64 → ≤ 8), row mass is preserved, and per-file ts ranges
    * are pairwise disjoint (the range-partitioner contract that makes the
    * layout prunable). The oracle checks content equality through the
    * rewrite against the original table. */
  def compactFiles(spark: SparkSession, sf: String): DataFrame = {
    val dir = SourceOps.materialize(s"compact_$sf") { d =>
      // the pathology, reproduced: 64 tiny files of an unordered write
      EventOps.events(spark, sf)
        .select("event_id", "ts", "event_type", "value")
        .repartition(64).write.parquet(s"$d/small")
      // the fix: range-cluster on ts into 4 right-sized, disjoint files
      Tables.parquet(spark, s"$d/small")
        .repartitionByRange(4, col("ts"))
        .sortWithinPartitions("ts")
        .write.parquet(s"$d/compacted")
    }
    Tables.parquet(spark, s"$dir/compacted")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }
}
