package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.BinaryType
import graft.sources.Tables

/** Runtime (semi-join) filtering: prune a huge fact table with a Bloom
  * filter built from the dim side's join keys BEFORE the join's shuffle.
  *
  * This is the explicit, declared form of what Spark's own
  * `InjectRuntimeFilter` rule does opportunistically
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`): at 100 TB, a
  * selective dim predicate (here: one market segment ≈ 1/5 of customers)
  * means ~4/5 of fact rows can never find a join partner — filtering them
  * at the scan with an O(KB..MB) broadcast-sized sketch removes them from
  * the shuffle entirely, which is where a shuffle-sized join spends its
  * time. False positives (fpp ≈ 3%) pass the filter but are eliminated by
  * the exact join that follows, so the result is IDENTICAL to the plain
  * join — which is exactly what makes the query oracle-checkable against
  * the unfiltered join SQL.
  *
  * Reference capability mapped: the churn dashboard's segment drill-down
  * (`app_test.py:99-131` filters the frame to a segment before
  * aggregating) — re-expressed as the join-pruning pattern that survives
  * when "the frame" is 100 TB and the filter column lives on the dim.
  */
object RuntimeFilterOps {

  /** False-positive probability for the probe sketch; 3% matches Spark's
    * own runtime-filter default ballpark — small enough to kill most
    * non-matching rows, large enough to keep the sketch broadcast-sized. */
  val BloomFpp = 0.03

  /** Build a Bloom filter over `dim`'s `dimKey` (distributed treeAggregate
    * via the public `stat.bloomFilter`), embed it as a binary literal, and
    * return `fact` filtered by the codegen'd `might_contain` probe on
    * `factKey`. The sketch travels to executors with the task closure —
    * operationally a broadcast. The probe is Catalyst's own
    * [[BloomFilterMightContain]] (the expression `InjectRuntimeFilter`
    * plants), so the filter participates in whole-stage codegen; the only
    * non-public surface crossed is the Column⇄Expression bridge.
    *
    * Both sides go through `xxhash64(key)` — the same normalization
    * `InjectRuntimeFilter` applies — so build and probe hash IDENTICAL
    * longs for any key type (string, numeric, …), never relying on the
    * sketch's per-type insertion path lining up with the probe's
    * long-only path. The no-false-negative contract is property-tested on
    * both long and string keys.
    *
    * `expectedItems` sizes the sketch; it is a capacity bound, not a count
    * probe — no extra job runs. Oversizing costs bits (n·~7.3 bits at 3%),
    * undersizing costs fpp, never correctness. */
  def bloomSemiFilter(fact: DataFrame, dim: DataFrame, factKey: Column,
                      dimKey: Column, expectedItems: Long = 1L << 20): DataFrame = {
    // empty dim ⇒ no fact row can ever join — and `stat.bloomFilter` NPEs
    // on zero rows (its aggregate returns null bytes), so the guard is both
    // a correctness shortcut and a crash guard. The limit-1 probe is noise
    // next to the full dim scan the bloom build pays anyway.
    if (dim.isEmpty) return fact.where(lit(false))
    val bf = dim.select(xxhash64(dimKey).as("h")).stat
      .bloomFilter(col("h"), expectedItems, BloomFpp)
    val bytes = {
      val bos = new ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val probe = Bridge.column(BloomFilterMightContain(
      Literal.create(bytes, BinaryType),
      Bridge.expression(xxhash64(factKey))))
    fact.filter(probe)
  }

  /** Declared query: orders of 'BUILDING'-segment customers, computed as
    * bloom-prune-then-exact-join. The oracle is the PLAIN join — the pruned
    * plan must reproduce it row-for-row. At fixture scale the exact join is
    * a broadcast; at 100 TB it is a shuffle join over the ~20% survivor
    * set instead of the full fact table. */
  def bloomJoin(spark: SparkSession, sf: String): DataFrame = {
    val dim = Tables.load(spark, sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_mktsegment")
    val fact = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    bloomSemiFilter(fact, dim, col("o_custkey"), col("c_custkey"))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
        round(col("o_totalprice"), 4).as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Dynamic partition pruning — the PARTITION-level sibling of
    * [[bloomSemiFilter]]'s row-level prune, and the built-in feature that
    * makes a 100 TB star join feasible when the selective predicate lives
    * on the DIM side: the fact is partitioned by `day`, the calendar dim
    * carries the `is_campaign` filter, and Catalyst plants a
    * `dynamicpruning` subquery on the fact scan's PartitionFilters — the
    * dim's surviving days are computed first (reusing its broadcast) and
    * only those partition DIRECTORIES are listed and read. Static pruning
    * (`SourceOps.partitionPrune`) needs the predicate on the fact's own
    * column; DPP covers the join-shaped case every star schema actually
    * has. Declared result = the same aggregate the static day rule
    * computes (the oracle), so pruning is proven to change IO, not
    * answers; the plan pin lives in SinkSpec. */
  def dppJoin(spark: SparkSession, sf: String): DataFrame = {
    val fact = Tables.parquet(spark, SourceOps.eventsDayDir(spark, sf))
    // calendar dim built from a range (NOT from the fact — a real date dim
    // table): campaign days are a pure day-of-month rule so the DuckDB
    // oracle reproduces membership without seeing the dim. The span
    // (2000–2054, 20k rows — still trivially broadcast) deliberately
    // over-covers any fixture calendar, because the oracle carries NO
    // range restriction: a fact day outside the dim would silently drop
    // here while the oracle kept it.
    val dim = spark.range(0, 20000).select(
        date_add(lit("2000-01-01").cast("date"), col("id").cast("int")).as("day"))
      .withColumn("is_campaign", dayofmonth(col("day")) % 7 === 3)
    fact.join(dim.filter(col("is_campaign")), Seq("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }
}
