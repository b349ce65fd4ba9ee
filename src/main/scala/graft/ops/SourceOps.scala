package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Source-format round-trips (SURVEY.md §2.1 family) beyond parquet/CSV:
  * JSON lines, ORC, and raw text lines — each written from a harness table,
  * read back with an EXPLICIT schema (never inference, SURVEY.md §1.4), and
  * aggregated so the oracle can check the result against the original
  * parquet. Lossless round-trip ⇒ identical aggregates.
  *
  * Environment note: both former "jar gaps" are closed as of round 11 —
  * Excel by the self-contained [[graft.sources.Xlsx]] (JDK zip + StAX, no
  * jar needed) and Avro by the thin distributed [[graft.sources.Avro]]
  * over the BUNDLED avro-core (spark-avro's datasource jar is absent, but
  * avro-1.12.1.jar ships in /opt/spark/jars).
  */
object SourceOps {

  /** Number of staging dirs materialized so far — Bench snapshots this
    * around each timed query to detect a staging write inside a timed
    * region, i.e. a registry row missing its `staged` flag. */
  def stagedKeyCount: Int = Artifacts.stagedKeyCount

  /** Declared queries whose construction stages a one-time [[materialize]]
    * write: the rows flagged `staged` in [[graft.SparkEntry.registry]], where
    * each flag sits beside its reason. Lazy, so SourceOps and SparkEntry
    * never initialize each other. */
  lazy val stagedQueries: Seq[String] = graft.SparkEntry.registry.filter(_.staged).map(_.name)

  /** Round-trip staging dirs, memoized per key for the life of the JVM
    * ([[Artifacts.stage]]): the *write* half of a round-trip is setup, not
    * the measured query — Bench pre-materializes these untimed (VERDICT r2
    * §perf) and the timed region then measures read→agg only. Verify still
    * writes on first call, so correctness coverage of the write path is
    * unchanged. Writers may nest (the eigen ladder's rung k stages on top
    * of rungs 1..k-1; lex_df_maint_ on top of lex_df_). The writer of a
    * pure artifact is recorded so Verify's --stability gate can RE-DERIVE
    * it under perturbed partitioning ([[rederivableArtifacts]]); the other
    * closures capture persisted frames and models, and pinning every
    * staging fixture's scope for the JVM's lifetime would tax Bench/test
    * sessions that never run the gate. */
  private[graft] def materialize(key: String)(write: String => Unit): String =
    Artifacts.stage(key, pureArtifactPrefixes.exists(key.startsWith))(write)

  /** Registry keys (by prefix) whose artifacts are PURE functions of the
    * corpus — given the frozen model registry (KMeans cells, PQ codebooks,
    * GBT constants: fixed-seed fits gated by their own disk-roundtrip and
    * determinism specs) — and parquet-valued, so a re-derivation must be
    * BIT-identical. Verify's --stability gate re-runs each one's recorded
    * writer under perturbed partitioning into a scratch dir and value-
    * compares every parquet leaf (r13 verdict #5: the gate previously
    * covered query evaluation over fixed artifacts, leaving artifact
    * CONSTRUCTION gated only by per-artifact specs — any FUTURE pure
    * artifact is now gated automatically by being listed here). Staging
    * FIXTURES (csv/xlsx/stream inputs, day-partitioned layouts) stay out:
    * they are inputs the queries read, not derived registry state, and
    * several are non-parquet. */
  private[graft] val pureArtifactPrefixes: Seq[String] = Seq(
    // "pca_eig" (no trailing underscore) covers every ladder rung:
    // pca_eig_<sf>, pca_eig2_<sf>, pca_eig3_<sf>, ... (r15 k-rung recipe)
    "cov_cells_", "cov_sums_", "pca_eig", "lex_df_",
    // "lex_postings_" also covers lex_postings_part_<sf> (startsWith)
    "lex_postings_", "lex_ndocs_", "lex_doclen_", "lex_stats_",
    "ann_corpus_idx_", "lpa_labels_", "graph_edges_")

  /** key → (standing dir, recorded writer) for every staged artifact the
    * stability gate should re-derive — the pure-artifact subset of
    * whatever this session actually materialized, each with exactly the
    * writer whose output the registry serves (first caller wins). */
  private[graft] def rederivableArtifacts: Map[String, (String, String => Unit)] =
    Artifacts.recordedStages

  /** The day-partitioned events layout, staged once per sf — shared by
    * [[partitionPrune]] (static pruning) and
    * [[RuntimeFilterOps.dppJoin]] (dynamic pruning). */
  private[graft] def eventsDayDir(spark: SparkSession, sf: String): String =
    materialize(s"events_day_$sf") { d =>
      EventOps.events(spark, sf)
        .withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(d)
    }

  /** Partition-pruned day scan — the 100 TB `events` layout as a DECLARED
    * query, not just a plan test: stage the table day-partitioned (one-time,
    * memoized), then aggregate a single day. The day predicate binds as a
    * PartitionFilter, so the scan touches one directory of thirty — the
    * difference between reading 3 TB and 100 TB every morning. SinkSpec
    * asserts the pruned-partition count on the same layout. */
  def partitionPrune(spark: SparkSession, sf: String): DataFrame = {
    val dir = eventsDayDir(spark, sf)
    Tables.parquet(spark, dir)
      .filter(col("day") === lit("2024-01-03").cast("date"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  /** Schema-evolution read — the evolving-table reality of any long-lived
    * pipeline: an old snapshot (nation: key, name) and a new snapshot with
    * an added column (+ regionkey) coexist in one dataset; `mergeSchema`
    * reconciles them at read time, old rows null-filling the new column.
    * At 100 TB schema merging is a FOOTER-only operation (one task per
    * file footer, no data read), so evolution costs nothing until the new
    * column is actually scanned. Staged once (memoized), like the other
    * source-format demos. */
  def schemaMerge(spark: SparkSession, sf: String): DataFrame = {
    val dir = materialize(s"schema_merge_$sf") { d =>
      val nation = Tables.load(spark, sf, "nation")
      nation.select(col("n_nationkey"), col("n_name"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/v1")
      nation.select(col("n_nationkey") + 100, col("n_name"), col("n_regionkey"))
        .toDF("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/v2")
    }
    spark.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
      .select(col("n_nationkey"), col("n_name"),
        col("n_regionkey").isNotNull.as("has_region"))
      .orderBy("n_nationkey")
  }

  /** binaryFile source — how an on-disk image/audio corpus enters Spark:
    * one row per file with (path, modificationTime, length, content), the
    * front door to the multimodal ops (MultimodalOps decodes the `content`
    * bytes map-side). Staged once: one tiny file per region row whose bytes
    * are the region name, so length is oracle-derivable from the table. At
    * 100 TB the same reader runs with `pathGlobFilter`/`recursiveFileLookup`
    * over the object store and partition-parallel file listing. */
  def binaryFiles(spark: SparkSession, sf: String): DataFrame = {
    val dir = materialize(s"binfiles_$sf") { d =>
      // staging only: region is 5 rows — driver-side file writes are the
      // fixture generator here, not a query-path pattern
      Tables.load(spark, sf, "region").collect().foreach { r =>
        Files.write(java.nio.file.Paths.get(d, s"r${r.getInt(0)}.bin"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "r(\\d+)\\.bin$", 1).cast("int").as("r_regionkey"),
        col("length").cast("long").as("n_bytes"))
      .orderBy("r_regionkey")
  }

  /** Excel round-trip — the reference's OTHER upload format
    * (`pd.read_excel`, `app_test.py:264-265`), previously SURVEY §2's one
    * declared gap (S3): stage the customer table as a real .xlsx via the
    * self-contained JDK-only writer ([[graft.sources.Xlsx]] — an .xlsx is
    * a ZIP of SpreadsheetML, no external jar needed), read it back with
    * the declared schema (header-matched by name, ANSI casts — the same
    * corrupted-upload-fails contract as [[Tables.loadCsv]]), and aggregate
    * per segment so the oracle checks the whole write→parse→cast cycle
    * against the original parquet. `Double.toString` round-trips acctbal
    * bit-exactly, so the aggregate hash-matches. */
  def excelRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_mktsegment", StringType), StructField("c_acctbal", DoubleType)))
    val path = materialize(s"xlsx_$sf") { d =>
      // staging only: an .xlsx is an upload-sized single file (the format
      // caps at 2^20 rows), written driver-side like a user's export would
      // be — the fixture generator, not a query-path pattern
      val rows = Tables.load(spark, sf, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey").collect()
      graft.sources.Xlsx.write(s"$d/customers.xlsx",
        schema.fields.toSeq.map(_.name),
        rows.iterator.map(_.toSeq))
    } + "/customers.xlsx"
    graft.sources.Xlsx.read(spark, path, schema)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 4).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** JDBC round-trip through an EMBEDDED Derby database (the derby jars
    * ship in /opt/spark/jars for the Hive metastore) — this is the REAL
    * `format("jdbc")` connector path a live-database deployment uses, the
    * testable stand-in for the reference's MongoDB read (`app_test.py:26-31`;
    * `docs/MONGO_CONNECTOR.md` records that swap): Spark's JDBC source with
    * server-side predicate + projection pushdown (the spec pins
    * `PushedFilters`/fetched columns on the scan) and a PARTITIONED parallel
    * read — `partitionColumn`/`numPartitions` split the key range into
    * stride predicates so each executor task opens its own cursor, which is
    * how a 100 TB lakehouse bulk-ingests an operational store without a
    * single-connection bottleneck. Bounds here are a fixed generous range
    * (empty strides cost one no-row query); production derives them from
    * table stats. Strings are forced to VARCHAR via
    * `createTableColumnTypes` (Derby's default CLOB mapping cannot be
    * compared or pushed against); DOUBLE carries IEEE bits exactly, so the
    * aggregate hash-matches the original parquet. */
  def jdbcRoundtrip(spark: SparkSession, sf: String): DataFrame =
    jdbcCustomer(spark, sf)
      .filter(col("c_acctbal") > 0)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 4).as("sum_bal"))
      .orderBy("c_mktsegment")

  /** The partitioned JDBC load behind [[jdbcRoundtrip]] — stages the Derby
    * database once per sf, then reads it back in 4 key-range strides
    * (exposed so the spec can pin the scan's parallelism directly). */
  private[graft] def jdbcCustomer(spark: SparkSession, sf: String): DataFrame = {
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val dbDir = materialize(s"derby_$sf") { d =>
      // keep derby.log inside the staging dir, not the repo root
      System.setProperty("derby.system.home", d)
      Tables.load(spark, sf, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .repartition(2)
        .write.format("jdbc")
        .option("url", s"jdbc:derby:$d/graftdb;create=true")
        .option("driver", driver)
        .option("dbtable", "customer")
        .option("createTableColumnTypes",
          "c_name VARCHAR(64), c_mktsegment VARCHAR(16)")
        .save()
    }
    spark.read.format("jdbc")
      .option("url", s"jdbc:derby:$dbDir/graftdb")
      .option("driver", driver)
      .option("dbtable", "customer")
      .option("partitionColumn", "c_custkey")
      .option("lowerBound", "1")
      .option("upperBound", "10000000")
      .option("numPartitions", "4")
      .load()
  }

  /** Avro round-trip — closes the OTHER packaging gap (spark-avro's
    * datasource jar is absent, but avro-core ships in /opt/spark/jars):
    * the orders fact goes out as deflate-compressed Avro container files —
    * one per Spark partition, written executor-side — and comes back
    * through the distributed [[graft.sources.Avro]] reader (one task per
    * file, declared schema, fields matched by name). Avro's binary
    * encoding carries IEEE doubles bit-exactly, so the aggregate
    * hash-matches the original parquet. */
  def avroRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderpriority", StringType), StructField("o_totalprice", DoubleType)))
    val dir = materialize(s"avro_$sf") { d =>
      graft.sources.Avro.write(
        Tables.load(spark, sf, "orders")
          .select(schema.fields.toSeq.map(f => col(f.name)): _*), d)
    }
    graft.sources.Avro.read(spark, dir, schema)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 4).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** JSON-lines round-trip: the interchange format of most LLM-data-pipeline
    * corpora. Jackson prints doubles in shortest round-trip form, so the
    * re-read values are bit-identical and the aggregate hash-matches. */
  def jsonRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val src = EventOps.events(spark, sf).select("event_id", "event_type", "value")
    val tmp = materialize(s"json_$sf") { dir =>
      src.coalesce(1).write.mode("overwrite").json(dir)
    }
    spark.read.schema(src.schema).json(tmp)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  /** ORC round-trip — the other columnar format Spark ships natively. */
  def orcRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val src = Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    val tmp = materialize(s"orc_$sf") { dir =>
      src.coalesce(1).write.mode("overwrite").orc(dir)
    }
    spark.read.schema(src.schema).orc(tmp)
      .orderBy("c_custkey")
  }

  /** Declared query over the custom DataSource V2 ([[graft.sources.GenDataSource]])
    * — the source-tier ladder's top rung, exercised end-to-end: the id-range
    * predicate is PUSHED (GenScanBuilder accepts it, partition planning drops
    * 13 of 16 slices before any row exists), the plan-column filter is the
    * RESIDUAL Spark evaluates post-scan, and column pruning means the reader
    * never computes `tenure` at all. Row count is sf-independent by design —
    * the source is the thing under test, not the fixture. The oracle rebuilds
    * the identical table from `range(200000)` in DuckDB (pure integer
    * arithmetic, no RNG), so this custom-source path is value-level verified,
    * not just rows>0-smoked. GenSourceSpec asserts the pruning/pushdown facts
    * against the physical plan. */
  def genSource(spark: SparkSession, sf: String): DataFrame = {
    spark.read.format("graft-gen")
      .option("rows", "200000").option("slices", "16").load()
      .where(col("id") >= 150000L && col("id") < 180000L && col("plan") =!= "Basic")
      .groupBy("plan", "gender")
      .agg(
        count(lit(1)).as("n"),
        round(sum("spend"), 2).as("total_spend"),
        round(avg("age"), 4).as("avg_age"))
      .orderBy("plan", "gender")
  }

  /** Aggregate-PUSHDOWN query over the custom DSv2 source: ungrouped
    * count/min/max over a pushed id range plan as a `GenAggScan` — one
    * synthetic row computed from the range arithmetic at planning time,
    * zero data rows generated (the server-side `countDocuments` /
    * aggregation-pipeline analog of the reference's Mongo source). The
    * oracle recomputes the same aggregates over `range(n)`; GenSourceSpec
    * asserts the plan actually took the pushed path (and that unsupported
    * shapes fall back to scan + Spark-side aggregation with equal
    * results). */
  def genAgg(spark: SparkSession, sf: String): DataFrame =
    spark.read.format("graft-gen")
      .option("rows", "200000").option("slices", "16").load()
      .where(col("id") >= 120000L && col("id") < 170000L)
      .agg(count(lit(1)).as("n"), min("id").as("min_id"), max("id").as("max_id"))

  /** RUNTIME-filtered custom-source join — the dynamic-partition-pruning
    * tier of the DSv2 ladder (static filter/column pushdown → aggregate
    * pushdown → runtime filtering): the selective dim side (one market
    * segment's customers, keys mapped into ONE of the fact's 16 id
    * slices) executes first, its observed join keys reach
    * `GenScan.filter` as a runtime `In`, and `planInputPartitions`
    * re-plans to the single slice the join can hit — a 16× scan cut
    * decided at RUN time, the DSv2 form of what partition-pruned joins do
    * for file tables at 100 TB. GenSourceSpec asserts the 16 → 1 slice
    * collapse and value-equality with pruning disabled; the oracle
    * rebuilds the same join from `range(n)` arithmetic. */
  def genRuntime(spark: SparkSession, sf: String): DataFrame = {
    val fact = spark.read.format("graft-gen")
      .option("rows", "200000").option("slices", "16").load()
    val dim = Tables.load(spark, sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select((lit(150000L) + col("c_custkey") % 12500L).as("k"))
    fact.join(dim.hint("broadcast"), fact.col("id") === col("k"))
      .groupBy("plan")
      .agg(count(lit(1)).as("n"), round(sum("spend"), 2).as("total_spend"),
        round(avg("age"), 4).as("avg_age"))
      .orderBy("plan")
  }

  /** TopN-pushdown query over the custom source: ORDER BY id DESC LIMIT 5
    * under a pushed range — the scan narrows its id range to the LAST 5
    * surviving ids before partition planning (one partition, five rows
    * generated; spec pins `ids=[149995,150000)` and `PushedLimit: 5 DESC`
    * in the scan description). Pushdown is declared PARTIAL, so Spark
    * keeps the authoritative sort+limit on top — the source reduces rows,
    * it never owns result order. The reference's `find({}, projection)`
    * (`app_test.py:53`) ships the whole collection; a cursor `.limit(n)`
    * is the Mongo form of this server-side row cut. */
  def genLimit(spark: SparkSession, sf: String): DataFrame =
    spark.read.format("graft-gen")
      .option("rows", "200000").option("slices", "16").load()
      .where(col("id") < 150000L)
      .orderBy(col("id").desc)
      .limit(5)
      .select(col("id"), col("plan"), col("spend"))

  /** STORAGE-PARTITIONED join over the custom source's bucket layout — the
    * co-location tier of the DSv2 ladder: both sides report
    * `KeyGroupedPartitioning(identity(bucket))` with per-partition
    * `HasPartitionKey` values, so the fact-fact equi-join on (bucket, id)
    * needs NO shuffle on either side (GenSourceSpec pins the zero-shuffle
    * plan with AQE off; values are oracle-checked here). This is the DSv2
    * form of what Iceberg/Hive bucketing buys at 100 TB: two co-bucketed
    * fact tables join where they sit, the single biggest shuffle saving a
    * warehouse layout can make. The two SPJ session flags are scoped to
    * the plan-pinning spec; the declared query only contracts VALUES
    * (bucket-key equality is implied by id equality, so the oracle join is
    * on id alone). */
  def genSpj(spark: SparkSession, sf: String): DataFrame = {
    def fact = spark.read.format("graft-gen")
      .option("rows", "200000").option("slices", "16")
      .option("layout", "bucket").load()
    val a = fact.filter(col("plan") =!= "Basic")
      .select(col("id"), col("bucket"), col("plan"), col("spend"))
    val b = fact.filter(col("age") > 60L)
      .select(col("id").as("id2"), col("bucket").as("bucket2"), col("age"))
    a.join(b, col("bucket") === col("bucket2") && col("id") === col("id2"))
      .groupBy("plan")
      .agg(count(lit(1)).as("n"), round(sum("spend"), 2).as("total_spend"),
        round(avg("age"), 4).as("avg_age"))
      .orderBy("plan")
  }

  /** DSv2 WRITE path end-to-end: push the orders reconciliation digests
    * ([[CurationOps.orderDigest]] — the `q_table_checksum` format) through
    * the custom `graft-audit` sink (TableProvider → WriteBuilder →
    * BatchWrite → per-task DataWriter → commit protocol), then return the
    * COMMITTED (rows, xor-digest) the driver-side registry received. The
    * oracle recomputes both from SQL, so a hash match proves the write
    * path saw exactly the table's rows — per-task partials, the
    * commit-message hop, and the driver aggregate included. XOR is
    * partition-order and task-placement invariant, so the result is
    * deterministic under any parallelism; AuditSinkSpec additionally pins
    * the abort path (a poisoned row publishes NOTHING). */
  def auditSink(spark: SparkSession, sf: String): DataFrame = {
    val runId = s"audit_$sf"
    Tables.load(spark, sf, "orders")
      .select(CurationOps.orderDigest.as("digest"))
      .write.format(graft.sources.AuditSink.ShortName)
      .option("runId", runId).mode("append").save()
    val st = graft.sources.AuditRegistry.get(runId)
      .getOrElse(throw new IllegalStateException(s"audit sink published nothing for $runId"))
    import spark.implicits._
    Seq((st.rows, st.xorDigest)).toDF("n_rows", "xor_digest")
  }

  /** Raw text-line source — how an LLM pipeline ingests an unstructured
    * corpus (one document per line; the fixture texts contain no newlines,
    * verified). Aggregate so row order through the file round-trip is
    * irrelevant. */
  def textSource(spark: SparkSession, sf: String): DataFrame = {
    val tmp = materialize(s"text_$sf") { dir =>
      Tables.load(spark, sf, "documents").select("text")
        .coalesce(1).write.mode("overwrite").text(dir)
    }
    spark.read.text(tmp)
      .agg(
        count(lit(1)).as("n_lines"),
        sum(length(col("value"))).cast("long").as("total_chars"))
  }
}
