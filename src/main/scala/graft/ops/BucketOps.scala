package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Bucketed-table co-located join (SURVEY.md §2.5 ext + §2.1 S6 ext).
  *
  * The highest-leverage shuffle eliminator Spark offers for a 100 TB star
  * schema: write both join sides bucketed (and sorted) on the join key, and
  * every subsequent join on that key needs NO Exchange on either side — the
  * scan itself reports `HashPartitioning(key, buckets)`, so EnsureRequirements
  * inserts nothing. A nightly fact/dim reconciliation that joins the same
  * keys every run pays the partitioning ONCE at write time instead of
  * re-shuffling 100 TB per query. SinkSpec asserts the plan shape: a
  * SortMergeJoin with zero Exchange operators in the join subtree.
  *
  * The write stages once per (sf) via [[SourceOps.materialize]] (external
  * tables under a temp dir); its registry row is flagged `staged`
  * ([[graft.SparkEntry.QuerySpec]]) so Bench pre-stages it untimed. `repartition(BucketCount, key)` before the
  * bucketed write uses the SAME Murmur3-pmod partitioning as the bucket file
  * router, so each task holds exactly one bucket's rows → one file per
  * bucket, keeping the per-bucket sort order usable at read time.
  */
object BucketOps {

  /** Bucket count for both sides — must match for the join to co-locate.
    * 8 keeps fixture files reasonable; at 100 TB this is sized so one
    * bucket ≈ one executor-core's worth of data (e.g. 4096). */
  val BucketCount = 8

  private def tableName(sf: String, base: String): String =
    s"graft_b_${base}_$sf".replaceAll("[^A-Za-z0-9_]", "_")

  /** One-time bucketed write of orders + customer, memoized per sf. The
    * memo caches the DIRECTORY (filesystem, JVM-global) but saveAsTable's
    * catalog entry is SESSION-scoped: a later SparkSession in the same JVM
    * would hit the memo, skip the write, and find no table — so the catalog
    * registration is re-applied idempotently from the memoized files on
    * every call (a metadata-only DDL when the files already exist). */
  private def stage(spark: SparkSession, sf: String): (String, String) = {
    val o = tableName(sf, "orders")
    val c = tableName(sf, "customer")
    val dir = SourceOps.materialize(s"bucket_join_$sf") { d =>
      Tables.load(spark, sf, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(BucketCount, col("o_custkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(BucketCount, "o_custkey").sortBy("o_custkey")
        .option("path", s"$d/orders").saveAsTable(o)
      Tables.load(spark, sf, "customer")
        .select("c_custkey", "c_mktsegment")
        .repartition(BucketCount, col("c_custkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(BucketCount, "c_custkey").sortBy("c_custkey")
        .option("path", s"$d/customer").saveAsTable(c)
    }
    ensureRegistered(spark, o, s"$dir/orders", "o_custkey")
    ensureRegistered(spark, c, s"$dir/customer", "c_custkey")
    (o, c)
  }

  /** Register an external bucketed table over already-written bucket files
    * (no-op when the catalog entry exists). The DDL's bucket spec must match
    * the writer's ([[BucketCount]], same key, same sort) — the catalog is
    * what makes the scan report HashPartitioning at read time. */
  private def ensureRegistered(spark: SparkSession, name: String,
                               path: String, key: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val schema = Tables.parquet(spark, path).schema.toDDL
      spark.sql(s"CREATE TABLE $name ($schema) USING PARQUET " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $BucketCount BUCKETS " +
        s"LOCATION '$path'")
    }

  /** The joined frame BEFORE aggregation — the plan-shape seam: both scans
    * report bucketed HashPartitioning(custkey, [[BucketCount]]), so the
    * (merge-hinted, to pin the strategy regardless of dim size) SortMergeJoin
    * requires no Exchange on either side. */
  def bucketJoinFrame(spark: SparkSession, sf: String): DataFrame = {
    val (o, c) = stage(spark, sf)
    spark.table(o).hint("merge")
      .join(spark.table(c), col("o_custkey") === col("c_custkey"))
  }

  /** Declared query: revenue per market segment off the co-located join.
    * The only shuffle in the whole plan is the 5-group final aggregate. */
  def bucketJoin(spark: SparkSession, sf: String): DataFrame =
    bucketJoinFrame(spark, sf)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 4).as("revenue"))
      .orderBy("c_mktsegment")
}
