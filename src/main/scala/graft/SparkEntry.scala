package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.multimodal.MultimodalOps
import graft.streaming.StreamOps
import graft.ops.{BucketOps, CurationOps, EventOps, GeoOps, GraphOps, LayoutOps, Relational, RuntimeFilterOps, Scoring, SkewOps, SourceOps, Sql4Ops, TextOps, TpchOps, TypedOps, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every (query, oracle) pair so the driver's
  * hash-compare is stable: identical output column NAMES on both sides,
  * explicit ORDER BY on a unique key, computed floats rounded to 4 decimals
  * in both engines, derived integer columns cast to BIGINT on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Delegates to the implemented q_groupby_avg — the reference's flagship
    * analytic (churn rate by subscription, `app_test.py:99`) — so the smoke
    * run exercises scan → prune → agg → sort for real. */
  def entry(spark: SparkSession): DataFrame =
    Relational.groupbyAvg(spark, "/root/testdata/sf0.001")

  /** How a declared query's answer is checked. */
  sealed trait Check

  /** DuckDB SQL over the same parquet tables whose result `tools_check.py`
    * hash-compares with the query's. Built on first use, so a lookup in
    * [[queries]] never renders the oracle texts (or initializes the ops
    * objects whose constants they interpolate). */
  final class Oracle(build: => String) extends Check {
    lazy val sql: String = build
  }
  object Oracle {
    def apply(sql: => String): Oracle = new Oracle(sql)
  }

  /** A query whose semantics aren't SQL-expressible (sketch internals, LSH
    * banding, ANN recall, ML scoring) names an ORACLED exact twin; the
    * query's spec ties the two together, and Verify's stability gate
    * compares rows only. */
  final case class Twin(of: String) extends Check

  /** One declared query: the function that builds it, how its answer is
    * checked, and whether building it stages a one-time
    * [[graft.ops.SourceOps.materialize]] write that Bench pre-stages
    * untimed. */
  final case class QuerySpec(
      name: String,
      run: (SparkSession, String) => DataFrame,
      check: Check,
      staged: Boolean = false)

  /** The registry as declared, or a failure naming every offending row: a
    * name declared twice, or a twin that is undeclared or not an oracle. */
  def validated(rows: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    val checks = rows.map(r => r.name -> r.check).toMap
    val badTwins = rows.collect {
      case QuerySpec(n, _, Twin(of), _) if !checks.get(of).exists(_.isInstanceOf[Oracle]) =>
        s"$n -> $of (${if (checks.contains(of)) "itself a twin" else "undeclared"})"
    }
    require(badTwins.isEmpty, s"twin must name an oracled query: ${badTwins.mkString(", ")}")
    rows
  }

  /** Every declared query, one row each (SURVEY.md §2 families). */
  lazy val registry: Seq[QuerySpec] = validated(Seq(
    // §2.1–2.2 scans / projections / filters
    QuerySpec("q_scan_project", Relational.scanProject, Oracle(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q_csv_roundtrip", Relational.csvRoundtrip, staged = true, check = Oracle(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),
    // the .xlsx write->parse->cast cycle is lossless, so the aggregate
    // equals the same aggregate over the original parquet
    QuerySpec("q_excel_roundtrip", SourceOps.excelRoundtrip, staged = true, check = Oracle(
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  round(sum(c_acctbal), 4) AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    QuerySpec("q_avro_roundtrip", SourceOps.avroRoundtrip, staged = true, check = Oracle(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS revenue
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // the JDBC write->partitioned-read cycle through embedded Derby is
    // lossless (VARCHAR + IEEE DOUBLE), so the filtered aggregate equals
    // the same aggregate over the original parquet
    QuerySpec("q_jdbc_roundtrip", SourceOps.jdbcRoundtrip, staged = true, check = Oracle(
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  round(sum(c_acctbal), 4) AS sum_bal
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    QuerySpec("q_json_roundtrip", SourceOps.jsonRoundtrip, staged = true, check = Oracle(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("q_orc_roundtrip", SourceOps.orcRoundtrip, staged = true, check = Oracle(
      """SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey""")),
    QuerySpec("q_text_source", SourceOps.textSource, staged = true, check = Oracle(
      """SELECT count(*) AS n_lines, CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin)),
    // Rebuilds GenSource's arithmetic table verbatim (GenSource.gen is the
    // single source of truth; this SQL mirrors it) — a custom DSv2 source
    // verified at value level, not just smoke.
    QuerySpec("q_gen_source", SourceOps.genSource, Oracle(
      """WITH g AS (
        |  SELECT CAST(range AS BIGINT) AS id,
        |    18 + (range * 37) % 83 AS age,
        |    CASE WHEN range % 2 = 0 THEN 'Female' ELSE 'Male' END AS gender,
        |    CAST((range * 97) % 100000 AS DOUBLE) / 100.0 AS spend,
        |    CASE range % 3 WHEN 0 THEN 'Basic' WHEN 1 THEN 'Standard'
        |      ELSE 'Premium' END AS plan
        |  FROM range(200000))
        |SELECT plan, gender, count(*) AS n,
        |  round(sum(spend), 2) AS total_spend,
        |  round(avg(age), 4) AS avg_age
        |FROM g
        |WHERE id >= 150000 AND id < 180000 AND plan <> 'Basic'
        |GROUP BY plan, gender ORDER BY plan, gender""".stripMargin)),
    // the completely-pushed aggregate path: count/min/max answered from the
    // id-range arithmetic, zero rows generated (GenAggScan)
    QuerySpec("q_gen_agg", SourceOps.genAgg, Oracle(
      """SELECT count(*) AS n, min(id) AS min_id, max(id) AS max_id
        |FROM (SELECT CAST(range AS BIGINT) AS id FROM range(200000))
        |WHERE id >= 120000 AND id < 170000""".stripMargin)),
    // the runtime-filtering tier: the dim side's observed join keys prune
    // fact slices at run time; the oracle rebuilds the identical join from
    // range(n) arithmetic (pruning is best-effort, values are unchanged)
    QuerySpec("q_gen_runtime", SourceOps.genRuntime, Oracle(
      """WITH g AS (
        |  SELECT CAST(range AS BIGINT) AS id,
        |    18 + (range * 37) % 83 AS age,
        |    CAST((range * 97) % 100000 AS DOUBLE) / 100.0 AS spend,
        |    CASE range % 3 WHEN 0 THEN 'Basic' WHEN 1 THEN 'Standard'
        |      ELSE 'Premium' END AS plan
        |  FROM range(200000)),
        |d AS (SELECT 150000 + c_custkey % 12500 AS k FROM customer
        |      WHERE c_mktsegment = 'BUILDING')
        |SELECT plan, count(*) AS n, round(sum(spend), 2) AS total_spend,
        |  round(avg(age), 4) AS avg_age
        |FROM g JOIN d ON g.id = d.k
        |GROUP BY plan ORDER BY plan""".stripMargin)),
    // the storage-partitioned-join tier: values only (bucket equality is
    // implied by id equality); the zero-shuffle plan is spec-pinned
    QuerySpec("q_gen_spj", SourceOps.genSpj, Oracle(
      """WITH g AS (
        |  SELECT CAST(range AS BIGINT) AS id,
        |    18 + (range * 37) % 83 AS age,
        |    CAST((range * 97) % 100000 AS DOUBLE) / 100.0 AS spend,
        |    CASE range % 3 WHEN 0 THEN 'Basic' WHEN 1 THEN 'Standard'
        |      ELSE 'Premium' END AS plan
        |  FROM range(200000)),
        |a AS (SELECT id, plan, spend FROM g WHERE plan <> 'Basic'),
        |b AS (SELECT id AS id2, age FROM g WHERE age > 60)
        |SELECT plan, count(*) AS n, round(sum(spend), 2) AS total_spend,
        |  round(avg(age), 4) AS avg_age
        |FROM a JOIN b ON a.id = b.id2
        |GROUP BY plan ORDER BY plan""".stripMargin)),
    // the TopN-pushdown tier: the scan generates 5 rows, Spark keeps the
    // authoritative sort+limit (partial pushdown)
    QuerySpec("q_gen_limit", SourceOps.genLimit, Oracle(
      """WITH g AS (
        |  SELECT CAST(range AS BIGINT) AS id,
        |    CAST((range * 97) % 100000 AS DOUBLE) / 100.0 AS spend,
        |    CASE range % 3 WHEN 0 THEN 'Basic' WHEN 1 THEN 'Standard'
        |      ELSE 'Premium' END AS plan
        |  FROM range(200000))
        |SELECT id, plan, spend FROM g
        |WHERE id < 150000 ORDER BY id DESC LIMIT 5""".stripMargin)),
    // every field NULL-sentineled with chr(1), mirroring the Spark side —
    // '||' would otherwise NULL the whole payload where concat_ws skips
    QuerySpec("q_audit_sink", SourceOps.auditSink, Oracle(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  bit_xor(('0x' || substr(md5(
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || '|' ||
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || '|' ||
        |    coalesce(o_orderstatus, chr(1)) || '|' ||
        |    coalesce(strftime(o_orderdate, '%Y-%m-%d'), chr(1)) || '|' ||
        |    coalesce(o_orderpriority, chr(1))
        |  ), 1, 15))::BIGINT) AS xor_digest
        |FROM orders""".stripMargin)),
    QuerySpec("q_filter_eq", Relational.filterEq, Oracle(
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q_filter_range", Relational.filterRange, Oracle(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > 5000.0 ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_id_fallback", Relational.idFallback, Oracle(
      """SELECT CAST(row_number() OVER (ORDER BY c_name) AS BIGINT) AS customer_id,
        |  c_name, c_mktsegment FROM customer ORDER BY customer_id""".stripMargin)),
    QuerySpec("q_bucket_case", Relational.bucketCase, Oracle(
      """SELECT o_orderkey,
        |  CAST(o_orderkey % 100 AS DOUBLE) / 100.0 AS p,
        |  printf('%.2f%%', CAST(o_orderkey % 100 AS DOUBLE) / 100.0 * 100) AS churn_pct,
        |  CASE WHEN CAST(o_orderkey % 100 AS DOUBLE) / 100.0 < 0.3 THEN 'Low'
        |       WHEN CAST(o_orderkey % 100 AS DOUBLE) / 100.0 < 0.7 THEN 'Medium'
        |       ELSE 'High' END AS risk
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    // §2.3 aggregations
    QuerySpec("q_count", Relational.countAll, Oracle("SELECT count(*) AS n FROM lineitem")),
    QuerySpec("q_ratio", Relational.ratio, Oracle(
      """SELECT round(avg(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100, 4)
        |  AS churn_pct FROM orders""".stripMargin)),
    QuerySpec("q_cond_means", Relational.condMeans, Oracle(
      """SELECT l_linestatus, count(*) AS n,
        |  COALESCE(round(avg(l_quantity), 4), CAST(0 AS DOUBLE)) AS avg_qty,
        |  COALESCE(round(avg(l_extendedprice), 4), CAST(0 AS DOUBLE)) AS avg_price,
        |  COALESCE(round(avg(l_discount), 4), CAST(0 AS DOUBLE)) AS avg_discount
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),
    QuerySpec("q_groupby_avg", Relational.groupbyAvg, Oracle(
      """SELECT l_returnflag, round(avg(l_discount), 4) AS avg_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_histogram", Relational.histogram, Oracle(
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000 AS price_bin,
        |  o_orderstatus, count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY price_bin, o_orderstatus""".stripMargin)),
    QuerySpec("q_approx_distinct", Relational.distinctAgg, Oracle(
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin)),
    // §2.5–2.7 joins / windows / top-k
    QuerySpec("q_join_broadcast", Relational.joinBroadcast, Oracle(
      """SELECT c_custkey, c_name, n_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_join_multiway", Relational.joinMultiway, Oracle(
      """SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    QuerySpec("q_brand_revenue", Relational.brandRevenue, Oracle(
      """SELECT p_brand, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY p_brand, n_name ORDER BY p_brand, n_name""".stripMargin)),
    QuerySpec("q_window_rank", Relational.windowRank, Oracle(
      """SELECT c_mktsegment, CAST(rk AS BIGINT) AS rk, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin)),
    // custom heap operator must reproduce the window answer
    QuerySpec("q_topk_custom", Relational.topkCustom, Oracle(
      """SELECT c_mktsegment, CAST(rk AS BIGINT) AS rk, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin)),
    QuerySpec("q_topk", Relational.topk, Oracle(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),
    QuerySpec("q_rollup", Relational.rollupAgg, Oracle(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    QuerySpec("q_cube", Relational.cubeAgg, Oracle(
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    QuerySpec("q_sql_entry", Relational.sqlEntry, Oracle(
      """SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_recursive_cte", Sql4Ops.recursiveCte, Oracle(
      """WITH RECURSIVE tree AS (
        |  SELECT c_custkey AS k, c_acctbal AS bal, CAST(1 AS BIGINT) AS depth
        |  FROM customer WHERE c_custkey = 0
        |  UNION ALL
        |  SELECT c.c_custkey, c.c_acctbal, t.depth + 1
        |  FROM customer c JOIN tree t ON c.c_custkey // 2 = t.k
        |  WHERE c.c_custkey <> 0
        |)
        |SELECT depth, count(*) AS n_nodes, round(sum(bal), 4) AS sum_bal
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)),
    QuerySpec("q_pipe_sql", Sql4Ops.pipeSql, Oracle(
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS revenue,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY c_mktsegment, o_orderstatus
        |HAVING count(*) > 0
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin)),
    QuerySpec("q_collation", Sql4Ops.collationCensus, Oracle(
      """WITH mixed AS (
        |  SELECT CASE c_custkey % 3
        |           WHEN 0 THEN upper(c_mktsegment)
        |           WHEN 1 THEN lower(c_mktsegment)
        |           ELSE concat(upper(substr(c_mktsegment, 1, 1)),
        |                       lower(substr(c_mktsegment, 2)))
        |         END AS seg
        |  FROM customer)
        |SELECT lower(seg) AS seg_lc,
        |  count(*) AS n_rows,
        |  count(DISTINCT seg) AS n_variants_binary,
        |  count(DISTINCT lower(seg)) AS n_variants_ci
        |FROM mixed GROUP BY lower(seg) ORDER BY seg_lc""".stripMargin)),
    QuerySpec("q_sql_udf", Sql4Ops.sqlUdfBands, Oracle(
      """SELECT CASE WHEN o_totalprice < 150000.0 THEN 'low'
        |            WHEN o_totalprice < 300000.0 THEN 'mid'
        |            ELSE 'high' END AS band,
        |  count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders WHERE o_totalprice > 50000.0
        |GROUP BY 1 ORDER BY band""".stripMargin)),
    // the table-function body inlined by hand: per-segment top-3 via a rank
    // window — the classic SQL spelling of what the lateral TVF expresses
    QuerySpec("q_sql_table_udf", Sql4Ops.sqlTableUdf, Oracle(
      """SELECT seg, c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM (
        |  SELECT c_mktsegment AS seg, c_custkey, c_name, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 3
        |ORDER BY seg, c_acctbal DESC, c_custkey""".stripMargin)),
    // the WHILE sweep flattened: the same thresholds from a range lateral.
    // The revenue round sits OUTSIDE the scalar subquery (values identical:
    // round of the subquery's single value) so the margin audit can see it
    // — a round inside a nested subquery is structurally unauditable (r15).
    QuerySpec("q_sql_script", Sql4Ops.sqlScript, Oracle(
      s"""SELECT CAST(k * ${Sql4Ops.ScriptStep} AS BIGINT) AS threshold,
         |  (SELECT count(*) FROM orders
         |   WHERE o_totalprice > k * ${Sql4Ops.ScriptStep}) AS n_orders,
         |  round((SELECT coalesce(sum(o_totalprice), 0.0) FROM orders
         |   WHERE o_totalprice > k * ${Sql4Ops.ScriptStep}), 4) AS revenue
         |FROM range(1, ${Sql4Ops.ScriptSteps} + 1) t(k)
         |ORDER BY threshold""".stripMargin)),
    // the IDENTIFIER + named-parameter bindings inlined by hand
    QuerySpec("q_param_sql", Sql4Ops.paramSql, Oracle(
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         |  round(sum(o_totalprice), 4) AS revenue
         |FROM orders WHERE o_totalprice > ${Sql4Ops.ParamSqlFloor}
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QuerySpec("q_observe", Relational.observedAgg, Oracle(
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    QuerySpec("q_pivot", Relational.pivotCounts, Oracle(
      """SELECT l_returnflag,
        |  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F,
        |  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_join_semi", Relational.joinSemi, Oracle(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_join_anti", Relational.joinAnti, Oracle(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_join_outer", Relational.joinOuter, Oracle(
      """WITH big AS (
        |  SELECT o_custkey, count(*) AS n_big_orders,
        |    round(sum(o_totalprice), 4) AS big_total
        |  FROM orders WHERE o_totalprice > 350000.0 GROUP BY 1),
        |rich AS (
        |  SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        |  FROM customer WHERE c_acctbal > 5000.0)
        |SELECT COALESCE(o_custkey, c_custkey) AS custkey,
        |  COALESCE(n_big_orders, 0) AS n_big_orders,
        |  COALESCE(big_total, CAST(0 AS DOUBLE)) AS big_total,
        |  acctbal
        |FROM big FULL OUTER JOIN rich ON o_custkey = c_custkey
        |ORDER BY custkey""".stripMargin)),
    QuerySpec("q_set_ops", Relational.setOps, Oracle(
      """SELECT 'intersect' AS op, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |UNION ALL
        |SELECT 'except' AS op, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY op, c_custkey""".stripMargin)),
    QuerySpec("q_union", Relational.unionTagged, Oracle(
      """WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 8000.0),
        |b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |SELECT 'union_all' AS op, c_custkey
        |  FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |UNION ALL
        |SELECT 'union_distinct' AS op, c_custkey
        |  FROM (SELECT * FROM a UNION SELECT * FROM b)
        |ORDER BY op, c_custkey""".stripMargin)),
    QuerySpec("q_unpivot", Relational.unpivotMeans, Oracle(
      """WITH w AS (
        |  SELECT l_linestatus, round(avg(l_quantity), 4) AS avg_qty,
        |    round(avg(l_extendedprice), 4) AS avg_price,
        |    round(avg(l_discount), 4) AS avg_discount
        |  FROM lineitem GROUP BY 1)
        |SELECT l_linestatus, 'avg_qty' AS metric, avg_qty AS value FROM w
        |UNION ALL
        |SELECT l_linestatus, 'avg_price' AS metric, avg_price AS value FROM w
        |UNION ALL
        |SELECT l_linestatus, 'avg_discount' AS metric, avg_discount AS value FROM w
        |ORDER BY l_linestatus, metric""".stripMargin)),
    QuerySpec("q_date_funcs", Relational.dateFuncs, Oracle(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |    AS days_since,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("q_upsert", Relational.upsert, Oracle(
      """WITH base AS (
        |  SELECT c_custkey AS custkey, round(c_acctbal, 2) + 0.0 AS acctbal FROM customer),
        |updates AS (
        |  SELECT custkey, round(acctbal + 1000.0, 2) + 0.0 AS acctbal
        |  FROM base WHERE custkey % 5 = 0
        |  UNION ALL
        |  SELECT custkey + 10000000, CAST(0 AS DOUBLE)
        |  FROM base WHERE custkey % 7 = 0)
        |SELECT custkey, acctbal, 'new' AS src FROM updates
        |UNION ALL
        |SELECT custkey, acctbal, 'base' AS src FROM base
        |WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.custkey = base.custkey)
        |ORDER BY custkey""".stripMargin)),
    QuerySpec("q_cdc_apply", Relational.cdcApply, Oracle(
      """WITH changes AS (
        |  SELECT o_custkey AS custkey,
        |    CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS new_bal, o_orderkey AS seq
        |  FROM orders),
        |latest AS (
        |  SELECT custkey, arg_max(op, seq) AS op, arg_max(new_bal, seq) AS new_bal
        |  FROM changes GROUP BY custkey)
        |SELECT c.c_custkey AS custkey,
        |  round(CASE WHEN l.op = 'U' THEN l.new_bal ELSE c.c_acctbal END, 2) AS bal
        |FROM customer c LEFT JOIN latest l ON c.c_custkey = l.custkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY custkey""".stripMargin)),
    QuerySpec("q_grouping_sets", Relational.groupingSetsAgg, Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("q_scd2", Relational.scd2, Oracle(
      """SELECT o_custkey AS custkey,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  coalesce(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'), '9999-12-31') AS valid_to,
        |  round(o_totalprice, 2) AS price,
        |  (lead(o_orderdate) OVER w IS NULL) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY custkey, version""".stripMargin)),
    QuerySpec("q_scd2_asof", Relational.scd2Asof, Oracle {
      val dates = Relational.Scd2Snapshots.map(d => s"('$d')").mkString(", ")
      s"""WITH scd AS (
         |  SELECT o_custkey AS custkey,
         |    CAST(row_number() OVER w AS BIGINT) AS version,
         |    strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
         |    coalesce(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
         |      '9999-12-31') AS valid_to,
         |    round(o_totalprice, 2) AS price
         |  FROM orders
         |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
         |dates(as_of) AS (VALUES $dates)
         |SELECT as_of, count(*) AS n_active,
         |  round(avg(version), 4) AS avg_version,
         |  round(avg(price), 4) AS avg_price
         |FROM scd JOIN dates ON valid_from <= as_of AND as_of < valid_to
         |GROUP BY as_of ORDER BY as_of""".stripMargin
    }),
    QuerySpec("q_dp_release", CurationOps.dpRelease, Oracle {
      val (eps, hi) = (CurationOps.DpEpsilon, CurationOps.DpClampHi)
      s"""WITH agg AS (
         |  SELECT c_mktsegment AS segment,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    sum(greatest(0.0, least(c_acctbal, $hi))) AS s
         |  FROM customer GROUP BY 1),
         |u AS (
         |  SELECT segment, n, s,
         |    (('0x' || substr(md5('cnt|' || segment), 1, 8))::BIGINT + 0.5)
         |      / 4294967296.0 AS uc,
         |    (('0x' || substr(md5('sum|' || segment), 1, 8))::BIGINT + 0.5)
         |      / 4294967296.0 AS us
         |  FROM agg)
         |SELECT segment,
         |  round(n + (-(1.0 / $eps)) * sign(uc - 0.5)
         |    * ln(1.0 - 2.0 * abs(uc - 0.5)), 4) AS n_released,
         |  round(s + (-($hi / $eps)) * sign(us - 0.5)
         |    * ln(1.0 - 2.0 * abs(us - 0.5)), 4) AS bal_released
         |FROM u ORDER BY segment""".stripMargin
    }),
    QuerySpec("q_snapshot_diff", Relational.snapshotDiff, Oracle(
      """WITH old AS (
        |  SELECT c_custkey AS key, round(c_acctbal, 2) + 0.0 AS bal FROM customer),
        |neu AS (
        |  SELECT key,
        |    CASE WHEN key % 5 = 0 THEN round(bal + 100.0, 2) + 0.0 ELSE bal END AS bal
        |  FROM old WHERE key % 13 <> 0
        |  UNION ALL
        |  SELECT key + 20000000, 1.0 FROM old WHERE key % 7 = 0)
        |SELECT coalesce(o.key, n.key) AS key,
        |  CASE WHEN o.key IS NULL THEN 'I'
        |       WHEN n.key IS NULL THEN 'D'
        |       WHEN o.bal <> n.bal THEN 'U' END AS op,
        |  coalesce(n.bal, o.bal) AS bal
        |FROM old o FULL OUTER JOIN neu n ON o.key = n.key
        |WHERE (CASE WHEN o.key IS NULL THEN 'I'
        |            WHEN n.key IS NULL THEN 'D'
        |            WHEN o.bal <> n.bal THEN 'U' END) IS NOT NULL
        |ORDER BY key""".stripMargin)),
    QuerySpec("q_regex_extract", Relational.regexExtract, Oracle(
      """SELECT c_custkey,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        |  regexp_extract(c_name, '^([A-Za-z]+)', 1) AS name_word
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_array_agg", Relational.arrayAgg, Oracle(
      """SELECT o_orderstatus, count(*) AS n,
        |  string_agg(lpad(CAST(o_orderkey AS VARCHAR), 10, '0'), ','
        |             ORDER BY lpad(CAST(o_orderkey AS VARCHAR), 10, '0')) AS keys_csv
        |FROM orders WHERE o_totalprice > 400000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    QuerySpec("q_sketch_stats", Relational.sketchStats, Twin("q_stats_pack")),
    // the salted two-phase plan must REPRODUCE the direct answer
    QuerySpec("q_salted_agg", SkewOps.saltedAgg, Oracle(
      """SELECT l_returnflag, round(avg(l_discount), 4) AS avg_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_skew_audit", SkewOps.skewAudit, Oracle(
      """WITH c AS (SELECT l_partkey, count(*) AS cnt
        |           FROM lineitem GROUP BY l_partkey),
        |s AS (SELECT sum(cnt) AS total, count(*) AS nkeys FROM c)
        |SELECT l_partkey, cnt,
        |  round(cnt * 1.0 / total, 6) AS share,
        |  round(cnt * nkeys * 1.0 / total, 4) AS x_mean
        |FROM c, s ORDER BY cnt DESC, l_partkey LIMIT 10""".stripMargin)),
    QuerySpec("q_corr_matrix", Relational.corrMatrix, Oracle {
      val pairs = for {
        i <- Relational.CorrCols.indices
        j <- Relational.CorrCols.indices if i < j
      } yield (Relational.CorrCols(i), Relational.CorrCols(j))
      pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y,
           |  round(corr($a, $b), 4) + 0.0 AS r, count(*) AS n FROM lineitem"""
          .stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_x, col_y")
    }),
    QuerySpec("q_mad_outliers", Relational.madOutliers, Oracle(
      s"""WITH m AS (SELECT l_returnflag,
         |    quantile_cont(l_extendedprice, 0.5) AS med
         |  FROM lineitem GROUP BY l_returnflag),
         |d AS (SELECT l_returnflag, med,
         |    abs(l_extendedprice - med) AS adev
         |  FROM lineitem JOIN m USING (l_returnflag)),
         |md AS (SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
         |  FROM d GROUP BY l_returnflag)
         |SELECT d.l_returnflag AS l_returnflag, count(*) AS n,
         |  round(med, 4) AS med, round(mad, 4) AS mad,
         |  CAST(sum(CASE WHEN adev > ${Relational.MadCut} * mad
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM d JOIN md USING (l_returnflag)
         |GROUP BY d.l_returnflag, med, mad
         |ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_lang_entropy", CurationOps.langEntropy, Oracle(
      """WITH c AS (SELECT source, lang, count(*) AS c
        |           FROM documents GROUP BY source, lang)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  count(*) AS n_langs,
        |  round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy_bits,
        |  round(max(c) * 1.0 / sum(c), 4) AS top_share
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),
    // monetary as exact cent Longs (the margin audit found a segment avg
    // sitting exactly ON the round-4 half-boundary over the raw double sum)
    QuerySpec("q_rfm", Relational.rfm, Oracle(
      """WITH pc AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
        |      AS recency,
        |    count(*) AS frequency,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey),
        |cuts AS (SELECT
        |    quantile_cont(CAST(recency AS DOUBLE), 0.25) AS r25,
        |    quantile_cont(CAST(recency AS DOUBLE), 0.5) AS r50,
        |    quantile_cont(CAST(recency AS DOUBLE), 0.75) AS r75,
        |    quantile_cont(CAST(frequency AS DOUBLE), 0.25) AS f25,
        |    quantile_cont(CAST(frequency AS DOUBLE), 0.5) AS f50,
        |    quantile_cont(CAST(frequency AS DOUBLE), 0.75) AS f75,
        |    quantile_cont(CAST(cents AS DOUBLE), 0.25) AS m25,
        |    quantile_cont(CAST(cents AS DOUBLE), 0.5) AS m50,
        |    quantile_cont(CAST(cents AS DOUBLE), 0.75) AS m75
        |  FROM pc),
        |scored AS (SELECT
        |    5 - (CASE WHEN CAST(recency AS DOUBLE) > r75 THEN 4
        |         WHEN CAST(recency AS DOUBLE) > r50 THEN 3
        |         WHEN CAST(recency AS DOUBLE) > r25 THEN 2
        |         ELSE 1 END) AS r_score,
        |    CASE WHEN CAST(frequency AS DOUBLE) > f75 THEN 4
        |         WHEN CAST(frequency AS DOUBLE) > f50 THEN 3
        |         WHEN CAST(frequency AS DOUBLE) > f25 THEN 2
        |         ELSE 1 END AS f_score,
        |    CASE WHEN CAST(cents AS DOUBLE) > m75 THEN 4
        |         WHEN CAST(cents AS DOUBLE) > m50 THEN 3
        |         WHEN CAST(cents AS DOUBLE) > m25 THEN 2 ELSE 1 END AS m_score,
        |    cents
        |  FROM pc, cuts)
        |SELECT r_score, f_score, m_score, count(*) AS n_customers,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*), 4) AS avg_monetary
        |FROM scored GROUP BY r_score, f_score, m_score
        |ORDER BY r_score, f_score, m_score""".stripMargin)),
    QuerySpec("q_ks_drift", Relational.ksDrift, Oracle(
      """WITH v AS (SELECT l_extendedprice AS x,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS b
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |g AS (SELECT x, sum(a) AS na, sum(b) AS nb FROM v GROUP BY x),
        |c AS (SELECT
        |    sum(na) OVER (ORDER BY x) AS cna,
        |    sum(nb) OVER (ORDER BY x) AS cnb,
        |    sum(na) OVER () AS ta, sum(nb) OVER () AS tb
        |  FROM g)
        |SELECT round(max(abs(cna * 1.0 / ta - cnb * 1.0 / tb)), 6) AS d_stat,
        |  round(max(abs(cna * 1.0 / ta - cnb * 1.0 / tb)) *
        |    sqrt(ta * tb * 1.0 / (ta + tb)), 4) AS ks_scaled,
        |  CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b
        |FROM c GROUP BY ta, tb""".stripMargin)),
    QuerySpec("q_ks_drift_sketch", Relational.ksDriftSketch, Twin("q_ks_drift")),
    QuerySpec("q_gini", Relational.gini, Oracle(
      """WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS rev
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (SELECT rev,
        |    row_number() OVER (ORDER BY rev, o_custkey) AS i
        |  FROM rev)
        |SELECT count(*) AS n, round(sum(rev), 4) AS total_rev,
        |  round(2.0 * sum(i * rev) / (count(*) * sum(rev)) -
        |    (count(*) + 1.0) / count(*), 6) AS gini
        |FROM ranked""".stripMargin)),
    QuerySpec("q_forget", CurationOps.forgetCascade, Oracle {
      val m = CurationOps.ForgetModulus
      s"""WITH dc AS (SELECT c_custkey FROM customer WHERE c_custkey % $m = 0),
         |do_ AS (SELECT o_orderkey FROM orders
         |        WHERE o_custkey IN (SELECT c_custkey FROM dc)),
         |dl AS (SELECT 1 FROM lineitem
         |       WHERE l_orderkey IN (SELECT o_orderkey FROM do_))
         |SELECT 'customer' AS table_name,
         |  (SELECT count(*) FROM customer) AS rows_before,
         |  (SELECT count(*) FROM dc) AS rows_deleted,
         |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM dc)
         |    AS rows_after
         |UNION ALL
         |SELECT 'lineitem',
         |  (SELECT count(*) FROM lineitem),
         |  (SELECT count(*) FROM dl),
         |  (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM dl)
         |UNION ALL
         |SELECT 'orders',
         |  (SELECT count(*) FROM orders),
         |  (SELECT count(*) FROM do_),
         |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM do_)
         |ORDER BY table_name""".stripMargin
    }),
    QuerySpec("q_k_anonymity", CurationOps.kAnonymity, Oracle {
      val k = CurationOps.KAnonThreshold
      s"""WITH banded AS (
         |  SELECT c_mktsegment AS segment, CAST(c_nationkey AS BIGINT) AS nation,
         |    CASE WHEN c_acctbal < 0.0 THEN 'debt'
         |         WHEN c_acctbal < 3000.0 THEN 'low'
         |         WHEN c_acctbal < 7000.0 THEN 'mid'
         |         ELSE 'high' END AS bal_band
         |  FROM customer)
         |SELECT segment, nation, count(*) AS class_size,
         |  count(DISTINCT bal_band) AS l_diversity,
         |  count(*) >= $k AS k_anonymous,
         |  count(DISTINCT bal_band) >= 2 AS l_diverse
         |FROM banded GROUP BY segment, nation
         |ORDER BY segment, nation""".stripMargin
    }),
    // the Spark side evaluates the native graft `jaro_winkler` expression;
    // DuckDB's jaro_winkler_similarity implements the same rapidfuzz
    // formulation (integer-halved transpositions, 0.7 boost threshold,
    // 0.1 prefix weight, prefix cap 4) — both filter on the ROUNDED score
    QuerySpec("q_jaro_rank", CurationOps.jaroRank, Oracle(
      """WITH dirty AS (
        |  SELECT n_nationkey AS dirty_key,
        |    substr(n_name, 1, n_nationkey % length(n_name)) ||
        |    substr(n_name, n_nationkey % length(n_name) + 2) AS dirty_name
        |  FROM nation)
        |SELECT dirty_key, dirty_name, n.n_name,
        |  round(jaro_winkler_similarity(dirty_name, n.n_name), 4) AS jw
        |FROM dirty CROSS JOIN nation n
        |WHERE round(jaro_winkler_similarity(dirty_name, n.n_name), 4) >= 0.8
        |ORDER BY dirty_key, n.n_name""".stripMargin)),
    QuerySpec("q_aqp_sample", Relational.aqpSample, Oracle {
      // interpolated, not hardcoded: editing Relational.AqpBuckets must not
      // silently desync oracle and implementation (ADVICE r10)
      val b = Relational.AqpBuckets
      s"""WITH keyed AS (
         |  SELECT l_returnflag, l_quantity,
         |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
         |      CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % $b AS bucket
         |  FROM lineitem),
         |s AS (SELECT l_returnflag, count(*) AS n_sample,
         |        sum(l_quantity) AS s_qty
         |      FROM keyed WHERE bucket = 0 GROUP BY 1),
         |e AS (SELECT l_returnflag, count(*) AS exact_rows,
         |        round(sum(l_quantity), 4) AS exact_qty
         |      FROM keyed GROUP BY 1)
         |SELECT s.l_returnflag, n_sample,
         |  n_sample * $b AS est_rows, exact_rows,
         |  round(1.96 * sqrt(CAST(n_sample AS DOUBLE) * ${b * (b - 1)}.0), 4) AS rows_ci95,
         |  round(s_qty * $b, 4) AS est_qty, exact_qty
         |FROM s JOIN e ON s.l_returnflag = e.l_returnflag
         |ORDER BY s.l_returnflag""".stripMargin
    }),
    QuerySpec("q_forecast", Relational.forecastBacktest, Oracle(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
        |  FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT rev,
        |    lag(rev, 1) OVER (ORDER BY day) AS naive1,
        |    lag(rev, 7) OVER (ORDER BY day) AS seasonal7
        |  FROM daily),
        |stacked AS (
        |  SELECT rev, 'naive1' AS model, naive1 AS pred
        |  FROM lagged WHERE seasonal7 IS NOT NULL
        |  UNION ALL
        |  SELECT rev, 'seasonal7', seasonal7
        |  FROM lagged WHERE seasonal7 IS NOT NULL)
        |SELECT model, CAST(count(*) AS BIGINT) AS n_days,
        |  round(avg(abs(rev - pred) / rev), 4) AS mape,
        |  round(avg(abs(rev - pred) * 2.0 / (abs(rev) + abs(pred))), 4)
        |    AS smape
        |FROM stacked GROUP BY model ORDER BY model""".stripMargin)),
    QuerySpec("q_mutual_info", Relational.mutualInfo, Oracle(
      """WITH cells AS (
        |  SELECT c_mktsegment, o_orderpriority, count(*) AS o
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT CAST(o AS DOUBLE) AS o,
        |    CAST(sum(o) OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS rt,
        |    CAST(sum(o) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS ct,
        |    CAST(sum(o) OVER () AS DOUBLE) AS n
        |  FROM cells),
        |mi AS (SELECT sum((o / n) * log2(o * n / (rt * ct))) AS mi FROM m),
        |hx AS (SELECT log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h_segment
        |       FROM (SELECT CAST(sum(o) AS DOUBLE) AS c FROM cells
        |             GROUP BY c_mktsegment)),
        |hy AS (SELECT log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h_priority
        |       FROM (SELECT CAST(sum(o) AS DOUBLE) AS c FROM cells
        |             GROUP BY o_orderpriority))
        |SELECT round(mi, 4) AS mi, round(h_segment, 4) AS h_segment,
        |  round(h_priority, 4) AS h_priority,
        |  round(mi / sqrt(h_segment * h_priority), 4) AS nmi
        |FROM mi, hx, hy""".stripMargin)),
    QuerySpec("q_ewma", EventOps.ewma, Oracle(EventOps.ewmaOracleSql)),
    QuerySpec("q_join_size", SkewOps.joinSizeEstimate, Oracle(
      """WITH a AS (SELECT o_orderkey, count(*) AS ca
        |           FROM orders GROUP BY o_orderkey),
        |b AS (SELECT l_orderkey, count(*) AS cb
        |      FROM lineitem GROUP BY l_orderkey),
        |m AS (SELECT count(*) AS n_matched_keys,
        |        sum(ca * cb) AS predicted_rows,
        |        max(ca * cb) AS max_key_rows
        |      FROM a JOIN b ON o_orderkey = l_orderkey)
        |SELECT (SELECT count(*) FROM a) AS n_keys_left,
        |  (SELECT count(*) FROM b) AS n_keys_right,
        |  n_matched_keys, CAST(predicted_rows AS BIGINT) AS predicted_rows,
        |  max_key_rows
        |FROM m""".stripMargin)),
    QuerySpec("q_chi2", Relational.chi2, Oracle(
      """WITH cells AS (SELECT c_mktsegment, o_orderpriority, count(*) AS o
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, o_orderpriority),
        |m AS (SELECT CAST(o AS DOUBLE) AS o,
        |    CAST(sum(o) OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS rt,
        |    CAST(sum(o) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS ct,
        |    CAST(sum(o) OVER () AS DOUBLE) AS n,
        |    c_mktsegment, o_orderpriority
        |  FROM cells)
        |SELECT round(sum((o - rt * ct / n) * (o - rt * ct / n) /
        |    (rt * ct / n)), 4) AS chi2,
        |  (count(DISTINCT c_mktsegment) - 1) *
        |    (count(DISTINCT o_orderpriority) - 1) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM m""".stripMargin)),
    QuerySpec("q_psi", Relational.psi, Oracle {
      val w = Relational.PsiBinWidth
      s"""WITH li AS (SELECT
         |    CAST(floor(l_extendedprice / $w) AS BIGINT) AS bin,
         |    CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
         |      THEN 1 ELSE 0 END AS a,
         |    CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
         |      THEN 1 ELSE 0 END AS b
         |  FROM lineitem),
         |bins AS (SELECT bin, sum(a) AS na, sum(b) AS nb
         |         FROM li GROUP BY bin),
         |t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM bins)
         |SELECT round(sum(CASE WHEN na > 0 AND nb > 0
         |    THEN (na * 1.0 / ta - nb * 1.0 / tb) *
         |      ln((na * 1.0 / ta) / (nb * 1.0 / tb))
         |    ELSE 0.0 END), 6) AS psi,
         |  CAST(sum(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bins_used,
         |  CAST(sum(CASE WHEN na = 0 OR nb = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bins_skipped,
         |  CAST(max(ta) AS BIGINT) AS n_early,
         |  CAST(max(tb) AS BIGINT) AS n_late
         |FROM bins, t""".stripMargin
    }),
    QuerySpec("q_autocorr", Relational.autocorr, Oracle(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(o_totalprice) AS rev
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |p AS (SELECT rev, lag(rev, 1) OVER (ORDER BY day) AS prev
        |      FROM daily)
        |SELECT count(*) AS n_pairs, round(corr(rev, prev), 4) + 0.0 AS acf1
        |FROM p WHERE prev IS NOT NULL""".stripMargin)),
    QuerySpec("q_url_dedup", CurationOps.urlDedup, Oracle(
      """WITH raw AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'http://' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM'
        |          ELSE 'www.example.com' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
        |    '/page/' || CAST(doc_id % 40 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0
        |          THEN '?utm_source=mail&utm_campaign=x' ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN '?ref=home' ELSE '' END) AS u
        |  FROM documents),
        |c1 AS (SELECT doc_id,
        |    lower(regexp_extract(u, '^([A-Za-z]+://[^/:?]+)', 1)) ||
        |      regexp_replace(u, '^[A-Za-z]+://[^/:?]+', '', 'g') AS u
        |  FROM raw),
        |c2 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    u, ':80/', '/', 'g'), ':80\?', '?', 'g'), ':80$', '', 'g') AS u
        |  FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    u, '\?(utm_[a-z]+|ref)=[^&?]*', '?', 'g'),
        |    '&(utm_[a-z]+|ref)=[^&?]*', '&', 'g'),
        |    '&+', '&', 'g'), '\?[?&]+', '?', 'g'),
        |    '[?&]$', '', 'g'), '/$', '', 'g') AS u
        |  FROM c2)
        |SELECT u AS canonical_url, count(*) AS n_raw,
        |  min(doc_id) AS keep_doc
        |FROM c3 GROUP BY u ORDER BY canonical_url""".stripMargin)),
    // the genuine recursive-CTE twin of the iterative BFS labeling
    QuerySpec("q_bom_rollup", Relational.bomRollup, Oracle(
      """WITH RECURSIVE t AS (
        |  SELECT c_custkey AS k, c_acctbal AS bal, CAST(1 AS BIGINT) AS depth
        |  FROM customer WHERE c_custkey = 0
        |  UNION ALL
        |  SELECT c.c_custkey, c.c_acctbal, t.depth + 1
        |  FROM customer c JOIN t ON c.c_custkey // 2 = t.k
        |  WHERE c.c_custkey <> 0)
        |SELECT depth, count(*) AS n_nodes, round(sum(bal), 4) AS sum_bal
        |FROM t GROUP BY depth ORDER BY depth""".stripMargin)),
    // the salted join must REPRODUCE the plain join
    QuerySpec("q_salted_join", SkewOps.saltedJoinQuery, Oracle(
      """SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),
    // each Gaussian term floor-quantized to the 2^24 grid and summed as
    // exact Longs (the cov discipline) — identical division chain on the
    // Spark side, so the pre-round double is draw-stable by construction
    QuerySpec("q_kde", Relational.kde, Oracle {
      val h = Relational.KdeBandwidth
      val norm = h * math.sqrt(2 * math.Pi)
      s"""WITH grid AS (SELECT CAST(unnest(range(-1000, 10001, 550)) AS DOUBLE) AS x),
         |v AS (SELECT c_acctbal AS v FROM customer)
         |SELECT x, round(CAST(sum(CAST(floor(
         |    exp(-((x - v) * (x - v)) / (2 * $h * $h)) * $covGrid.0) AS BIGINT))
         |  AS DOUBLE) / $covGrid.0 / count(*) / $norm, 8) AS density
         |FROM v CROSS JOIN grid GROUP BY x ORDER BY x""".stripMargin
    }),
    QuerySpec("q_stats_pack", Relational.statsPack, Oracle(
      """SELECT l_returnflag, round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_percentile", Relational.percentileExact, Oracle(
      """SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4)
        |  AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_dow", Relational.dayOfWeek, Oracle(
      """SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, count(*) AS n,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1 ORDER BY dow""".stripMargin)),
    QuerySpec("q_string_funcs", Relational.stringFuncs, Oracle(
      """SELECT c_custkey, upper(c_name) AS name_upper,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
        |  concat(c_mktsegment, ':', c_name) AS segmented,
        |  CAST(length(c_name) AS BIGINT) AS name_len
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    // §2.4 scoring pipeline
    QuerySpec("q_impute_median", Scoring.imputeMedian, Oracle(
      s"$synthSql SELECT * FROM imputed ORDER BY customer_id")),
    QuerySpec("q_scale_standard", Scoring.scaleStandard, Oracle(
      s"$synthSql SELECT customer_id, $scaleSelect FROM imputed ORDER BY customer_id")),
    QuerySpec("q_onehot", Scoring.onehotQuery, Oracle(
      s"$synthSql SELECT customer_id, $onehotSelect FROM imputed ORDER BY customer_id")),
    QuerySpec("q_score_batch", Scoring.scoreBatch, Twin("q_score_exact")),
    QuerySpec("q_score_exact", Scoring.scoreExact, Oracle(scoreExactSql)),
    // §2.9–2.10 LLM-data-pipeline extensions
    QuerySpec("q_dedup_exact", TextOps.dedupExact, Oracle(
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_dedup_jaccard", TextOps.dedupJaccard, Oracle(jaccardBase + """
      |SELECT id_a, id_b,
      |  round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jaccard
      |FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin)),
    // prefix filtering is EXACT (prefix lemma), so the oracle is the same
    // brute-force Jaccard-pair SQL as q_dedup_jaccard — that equality is
    // the whole claim being checked
    QuerySpec("q_dedup_prefix", TextOps.dedupPrefix, Oracle(jaccardBase + """
      |SELECT id_a, id_b,
      |  round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jaccard
      |FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin)),
    QuerySpec("q_dedup_minhash", TextOps.dedupMinhash, Twin("q_dedup_jaccard")),
    QuerySpec("q_dedup_simhash", TextOps.dedupSimhash, Twin("q_dedup_jaccard")),
    QuerySpec("q_dup_clusters", TextOps.dupClusters, Oracle(clusterChainSql + """
      |SELECT src AS doc_id, least(src, min(dst)) AS cluster
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_dup_clusters_lsh", TextOps.dupClustersLsh, Twin("q_dup_clusters")),
    QuerySpec("q_text_tokens", TextOps.textTokens, Oracle(
      s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_corpus_stats", TextOps.corpusStats, Oracle(
      s"""WITH d AS (SELECT text, CAST(len($toksSql) AS BIGINT) AS tl FROM documents),
         |per AS (SELECT text, count(*) AS n, sum(tl) AS t FROM d GROUP BY text)
         |SELECT CAST(sum(n) AS BIGINT) AS docs, count(*) AS distinct_texts,
         |  CAST(sum(t) AS BIGINT) AS tokens,
         |  round(CAST(sum(t) AS DOUBLE) / sum(n), 4) AS avg_tokens,
         |  round(1 - CAST(count(*) AS DOUBLE) / sum(n), 4) AS dup_rate
         |FROM per""".stripMargin)),
    QuerySpec("q_ngram_top", TextOps.ngramTop, Oracle(
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |  FROM t WHERE len(toks) >= 2)
         |SELECT bigram, count(*) AS n FROM bg
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),
    QuerySpec("q_heavy_hitters", TextOps.heavyHitters, Twin("q_ngram_top")),
    QuerySpec("q_decontaminate", TextOps.decontaminate, Oracle(
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |  FROM t WHERE len(toks) >= 3
         |), ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0)
         |SELECT doc_id, count(*) AS n_shared
         |FROM sh JOIN ev USING (s) WHERE doc_id % 20 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_repetition", TextOps.repetition, Oracle(repetitionSql)),
    QuerySpec("q_quality_filter", TextOps.qualityFilter, Oracle(
      s"""WITH canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |ntok AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |         FROM documents),
         |rep AS ($repetitionSql),
         |lang AS ($langIdSql)
         |SELECT doc_id, n_tokens, rep_ratio
         |FROM canon JOIN ntok USING (doc_id) JOIN rep USING (doc_id)
         |  JOIN lang USING (doc_id)
         |WHERE lang_pred = 'en' AND n_tokens >= 20 AND rep_ratio < 0.05
         |ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_tfidf", TextOps.tfidf, Oracle(tfidfSql)),
    QuerySpec("q_bm25", TextOps.bm25, Oracle(bm25Sql)),
    // the store-backed serving pair stages the MAINTAINED lexical
    // artifact (lex_df_maint_<sf>, dfUpdate's output — transitively the
    // standing lex_df_<sf> too)
    // bm25Store reads df off the MAINTAINED lexical artifact instead of
    // the in-query recount; the maintained counts are exact Longs equal to
    // the full recompute (q_df_update's oracled contract), so the oracle
    // is q_bm25's SQL VERBATIM — same values, same rounding, same order
    QuerySpec("q_bm25_store", TextOps.bm25Store, staged = true, check = Oracle(bm25Sql)),
    // tfidfStore's df side is the maintained lexical artifact (see
    // q_bm25_store above) — identical exact counts, oracle verbatim
    QuerySpec("q_tfidf_store", TextOps.tfidfStore, staged = true, check = Oracle(tfidfSql)),
    // the index-served pair stages the postings artifact
    // (lex_postings_<sf>), the per-doc lengths (lex_doclen_<sf>), the
    // 1-row corpus stats (lex_stats_<sf>) and count (lex_ndocs_<sf>)
    // on top of the maintained lexical store
    // bm25Index serves from standing state ONLY (store df + postings tf +
    // postings-derived lengths — all exact Longs equal to the recount's
    // relations; the length avg is a sum of integer-valued doubles < 2^53,
    // exact in any order), so the same SQL oracles it too
    QuerySpec("q_bm25_index", TextOps.bm25Index, staged = true, check = Oracle(bm25Sql)),
    // tfidfIndex serves tf from the postings artifact, df from the store,
    // n_docs from the staged 1-row corpus count — all exact values equal
    // to the recount's, same SQL
    QuerySpec("q_tfidf_index", TextOps.tfidfIndex, staged = true, check = Oracle(tfidfSql)),
    // lexLifecycle's chain reads the standing lex_df_<sf> artifact
    // the composed lexical lifecycle: update + erasure-downdate are exact
    // Long merges over doc-disjoint splits, so the post-maintenance store
    // equals the remaining-corpus (% 7 <> 3) recompute bit-for-bit and
    // the BM25 re-derivation over it is oracled by the q_bm25 SQL over
    // that filtered corpus; the three audit columns are integer document
    // counts per stage (the q_cov_lifecycle discipline). The score round
    // moves into the scored CTE, where the margin audit's CTE-unit pass
    // covers it (scores are nonnegative — no signed-zero exposure).
    QuerySpec("q_lex_lifecycle", TextOps.lexLifecycle,
      staged = true, check = Oracle(lexLifecycleSql)),
    // both arms' oracled SQL composed verbatim (bm25 CTEs + cosine CTEs)
    // with integer-rank windows; the RRF sum is two IEEE divisions of
    // integer ranks — exact-deterministic, no float aggregate anywhere.
    // r17: the Spark lexical arm is the standing-state-served bm25Index —
    // BIT-identical to the recount (the index rung's spec'd contract),
    // so this recount-composed SQL still oracles it verbatim
    QuerySpec("q_hybrid_retrieval", TextOps.hybridRetrieval, Oracle(
      s"""$hybridFusedCtes
         |SELECT doc_id, rank_lex, rank_dense, $rrfScoreSql AS rrf FROM fused
         |ORDER BY rrf DESC, doc_id""".stripMargin)),
    QuerySpec("q_hybrid_ann", TextOps.hybridRetrievalAnn, Twin("q_hybrid_retrieval")),
    // the composed RAG front door reads the same lexical-lifecycle
    // artifacts; its ANN twin additionally probes the ANN lifecycle's
    // compacted index (ann_corpus_idx_lifecycle_<sf> + frozen c80 fits)
    // the RAG front door under COMPOSED maintenance: the same fused SQL
    // with BOTH arms' recomputes restricted to the post-erasure corpus
    // (doc_id/vec_id % 7 <> 3 — one erasure event, both tiers). The Spark
    // side serves the lexical arm from the maintained per-document
    // artifacts + df store (postingsLifecycleScores — bit-identical to
    // this recompute, the q_postings_lifecycle contract) and the dense
    // arm from the live-corpus exact scan, so the recompute oracles it
    QuerySpec("q_hybrid_lifecycle", TextOps.hybridLifecycle, staged = true, check = Oracle(
      s"""${hybridFusedCtesOver(" WHERE doc_id % 7 <> 3", " AND e.vec_id % 7 <> 3")}
         |SELECT doc_id, rank_lex, rank_dense, $rrfScoreSql AS rrf FROM fused
         |ORDER BY rrf DESC, doc_id""".stripMargin)),
    QuerySpec("q_hybrid_lifecycle_ann", TextOps.hybridLifecycleAnn,
      staged = true, check = Twin("q_hybrid_lifecycle")),
    // retrieval-quality audit over the fused consensus: recall@3 and MRR
    // of each arm vs the fused top-3 — exact rationals of the integer
    // ranks already published by the fused CTE (hits/3, 1/rank: single
    // IEEE divisions, no float aggregates)
    QuerySpec("q_retrieval_eval", TextOps.retrievalEval,
      Oracle(retrievalEvalSqlOver(hybridFusedCtes))),
    QuerySpec("q_retrieval_eval_ann", TextOps.retrievalEvalAnn, Twin("q_retrieval_eval")),
    // the lifecycle front door's arm-quality audit runs the same fusion
    // (same maintained artifacts) under the retrievalEval metric block;
    // its ANN twin runs the hybridLifecycleAnn fusion (compacted index)
    // the SAME metric block over the post-maintenance fused CTEs — the
    // q_hybrid_lifecycle composition's GO/NO-GO: both arms' recomputes
    // restricted to the post-erasure corpus, then the identical exact-
    // rational recall@3/MRR arithmetic (one spelling on the Spark side
    // too: retrievalEvalFrom, shared by both declared queries)
    QuerySpec("q_retrieval_eval_lifecycle", TextOps.retrievalEvalLifecycle,
      staged = true, check = Oracle(retrievalEvalSqlOver(
        hybridFusedCtesOver(" WHERE doc_id % 7 <> 3", " AND e.vec_id % 7 <> 3")))),
    QuerySpec("q_retrieval_eval_lifecycle_ann", TextOps.retrievalEvalLifecycleAnn,
      staged = true, check = Twin("q_retrieval_eval_lifecycle")),
    // the TF-IDF lifecycle rung additionally stages the corpus-partition
    // all-documents counter (lex_ndocs_part_<sf>) beside the postings-
    // chain artifacts and the standing lex_df_
    // TF-IDF under composed maintenance: tf from the maintained postings
    // (p2), df from the maintained aggregate store (l2), n_docs from the
    // maintained all-docs counter — each bit-equal to its live-corpus
    // recompute (the q_postings_lifecycle / q_lex_lifecycle arguments;
    // all-docs counts are trivially additive over disjoint splits), and
    // the scoring tail is the shared tfidfFrom body, so the q_tfidf SQL
    // over the % 7 <> 3 corpus oracles the whole composition verbatim
    QuerySpec("q_tfidf_lifecycle", TextOps.tfidfLifecycle,
      staged = true, check = Oracle(tfidfSqlOver(" WHERE doc_id % 7 <> 3"))),
    QuerySpec("q_token_bpe", TextOps.tokenBpe, Oracle(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
        |    AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_bpe_merges", TextOps.bpeMerges, Oracle(bpeMergesSql)),
    QuerySpec("q_bpe_encode", TextOps.bpeEncode, Oracle(bpeEncodeSql)),
    QuerySpec("q_lang_stats", TextOps.langStats, Oracle(
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    QuerySpec("q_quality_score", TextOps.qualityScore, Oracle(
      s"""SELECT doc_id, count(*) AS n_tokens,
         |  round(avg(length(tok)), 4) AS avg_word_len,
         |  round(avg(CASE WHEN tok IN ('a', 'the') THEN CAST(1 AS DOUBLE)
         |            ELSE CAST(0 AS DOUBLE) END), 4) AS stopword_ratio
         |FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_fingerprint", TextOps.fingerprint, Oracle(
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id")),
    QuerySpec("q_lang_id", TextOps.langId, Oracle(langIdSql)),
    QuerySpec("q_text_clean", TextOps.textClean, Oracle(
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |    '[a-z0-9.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
        |    '[0-9]', '#', 'g'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_split", TextOps.splitCounts, Oracle(
      """SELECT CASE WHEN vec_id % 10 < 8 THEN 'train'
        |            WHEN vec_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM embeddings GROUP BY 1 ORDER BY split""".stripMargin)),
    // group-aware split: split is a function of the dup-cluster rep (min id
    // of the component; singletons are their own rep), mirroring
    // TextOps.leakageSplit over the same recursive-closure cluster table
    QuerySpec("q_leakage_split", TextOps.leakageSplit, Oracle(clusterChainSql + """,
      |clusters AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS cluster
      |  FROM reach GROUP BY src),
      |tagged AS (
      |  SELECT d.doc_id, d.n_chars, COALESCE(c.cluster, d.doc_id) AS rep
      |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
      |SELECT CASE WHEN rep % 10 < 8 THEN 'train'
      |            WHEN rep % 10 = 8 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs, count(DISTINCT rep) AS n_groups,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM tagged GROUP BY 1 ORDER BY split""".stripMargin)),
    QuerySpec("q_stratified", TextOps.stratifiedSample, Oracle(
      """SELECT label, CAST(rk AS BIGINT) AS rk, vec_id FROM (
        |  SELECT label, vec_id,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM embeddings) WHERE rk <= 5 ORDER BY label, rk""".stripMargin)),
    QuerySpec("q_embed_norm", VectorOps.embedNorm, Oracle(
      s"""SELECT vec_id, round(${normSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")}, 4) AS l2
         |FROM embeddings ORDER BY vec_id""".stripMargin)),
    // round 6 does NOT absorb summation-order jitter over raw double sums
    // (r11 driver failure: fixture cov values sit ON the half-boundaries),
    // so both engines sum EXACT floor(term * 2^24) Longs — float*float*2^24
    // is exactly representable in double, so the floor is tie-free and
    // engine-identical — and the identical (s/2^24)/n arithmetic runs on
    // exact integers: the pre-round double is a pure function of the data.
    // The `+ 0.0` after round canonicalizes the zero: DuckDB's round
    // preserves −0.0 on tiny-negative inputs while Spark's (BigDecimal)
    // always emits +0.0 (r12 driver failure — 4 zero cells diverged on
    // sign alone). IEEE −0.0 + 0.0 = +0.0; spelled on both sides.
    QuerySpec("q_embed_cov", VectorOps.embedCov, Oracle(covFullRecomputeSql)),
    QuerySpec("q_embed_cov_label", VectorOps.embedCovByLabel, Oracle(
      s"""WITH x AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings)
         |SELECT a.label, a.i, b.i AS j,
         |  round(CAST(sum(CAST(floor(a.v * b.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*)
         |    - (CAST(sum(CAST(floor(a.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*))
         |      * (CAST(sum(CAST(floor(b.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*)), 6) + 0.0 AS cov
         |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
         |GROUP BY 1, 2, 3 ORDER BY a.label, a.i, j""".stripMargin)),
    QuerySpec("q_embed_outliers", VectorOps.embedOutliers, Oracle(
      s"""WITH x AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |st AS (SELECT i, avg(v) AS mu, var_pop(v) AS s2 FROM x GROUP BY i
         |  HAVING var_pop(v) > 0)
         |SELECT vec_id,
         |  round(sum((v - mu) * (v - mu) / s2), 4) AS m_dist
         |FROM x JOIN st USING (i)
         |GROUP BY vec_id
         |ORDER BY m_dist DESC, vec_id LIMIT ${VectorOps.EmbedOutlierK}""".stripMargin)),
    QuerySpec("q_quantize", VectorOps.quantizeErr, Oracle(
      """WITH ex AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |sc AS (SELECT pos, max(abs(x)) AS m FROM ex GROUP BY pos),
        |err AS (SELECT vec_id,
        |          CASE WHEN m = 0 THEN 0.0
        |               ELSE x - (round(x / m * 127) + 0.0) / 127 * m END AS e
        |        FROM ex JOIN sc USING (pos))
        |SELECT vec_id, round(max(abs(e)), 4) AS max_abs_err,
        |  round(sqrt(avg(e * e)), 4) AS rmse
        |FROM err GROUP BY vec_id ORDER BY vec_id""".stripMargin)),
    QuerySpec("q_centroid", VectorOps.centroids, Oracle(
      """SELECT label, pos, round(avg(CAST(x AS DOUBLE)), 4) + 0.0 AS c FROM (
        |  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin)),
    QuerySpec("q_cosine_topk", VectorOps.cosineTopk, Oracle(embSql + s""",
      |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  round(${dotSql("e.v", "p.pv")} / (${normSql("e.v")} * ${normSql("p.pv")}), 4) AS cos
      |FROM e, probe p WHERE e.vec_id <> 0
      |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),
    // pcaPower's construction stages the exact-cov matrix artifact
    // (cov_cells_<sf>) its power iteration reads; pcaProject and
    // pcaDeflate additionally stage the eigenpair artifact (pca_eig_<sf>)
    QuerySpec("q_pca_power", VectorOps.pcaPower, staged = true, check = Oracle(pcaPowerSql)),
    QuerySpec("q_pca_project", VectorOps.pcaProject, staged = true, check = Oracle(pcaProjectSql)),
    QuerySpec("q_pca_deflate", VectorOps.pcaDeflate, staged = true, check = Oracle(pcaDeflateSql)),
    // pcaK3 stages the third eigenpair (pca_eig3_<sf>) via the ladder
    // recipe, on top of the first two rungs' artifacts; whiten3 reads
    // all three rungs' artifacts (staging whichever aren't built yet)
    QuerySpec("q_pca_k3", VectorOps.pcaK3, staged = true, check = Oracle(pcaK3Sql)),
    QuerySpec("q_whiten3", VectorOps.whiten3, staged = true, check = Oracle(whiten3Sql)),
    // whiten (and its outlier consumer) stages the second eigenpair
    // (pca_eig2_<sf>) on top of the first rung's artifacts
    QuerySpec("q_whiten", VectorOps.whiten, staged = true, check = Oracle(whitenSql)),
    QuerySpec("q_whiten_outliers", VectorOps.whitenOutliers,
      staged = true, check = Oracle(whitenOutliersSql)),
    // covUpdate's construction stages the standing corpus-triangle raw
    // Long sums (cov_sums_<sf>) the incremental merge reads; covDowndate
    // stages the full-corpus triangle (cov_sums_full_<sf>) it subtracts from
    // q_cov_update merges the standing corpus triangle's exact Long sums
    // with the 20 % batch's — Long addition is exact and associative, so
    // the result is BIT-IDENTICAL to the full recompute over the union
    // (= the whole table): the oracle IS q_embed_cov's SQL, verbatim
    QuerySpec("q_cov_update", VectorOps.covUpdate,
      staged = true, check = Oracle(covFullRecomputeSql)),
    // q_cov_downdate SUBTRACTS the erased batch's Long triangle from the
    // standing full-corpus sums; exact Long arithmetic ⇒ bit-identical to
    // the full recompute over the REMAINING corpus (the same filter)
    QuerySpec("q_cov_downdate", VectorOps.covDowndate, staged = true, check = Oracle {
      val patched = covFullRecomputeSql.replace(
        "FROM embeddings)", "FROM embeddings WHERE vec_id % 7 <> 3)")
      // a silent no-op replace (e.g. after reformatting the base SQL)
      // would quietly turn this into the FULL-corpus oracle — fail when
      // the oracle text is built instead
      require(patched != covFullRecomputeSql,
        "q_cov_downdate oracle: remaining-corpus filter was not applied")
      patched
    }),
    // the composed moment-store lifecycle: update + downdate are exact
    // Long arithmetic, so the maintained sums equal the remaining-corpus
    // (% 7 <> 3) recompute BIT-for-bit and the rung-1 re-derivation over
    // them is oracled by the q_pca_power SQL over that filtered corpus;
    // the three audit columns are integer vector counts per stage.
    // Staged: the standing corpus triangle (cov_sums_<sf>, shared with
    // q_cov_update)
    QuerySpec("q_cov_lifecycle", VectorOps.covLifecycle, staged = true, check = Oracle {
      val patched = pcaCtes.replace(
        "FROM embeddings)", "FROM embeddings WHERE vec_id % 7 <> 3)")
      require(patched != pcaCtes,
        "q_cov_lifecycle oracle: live-corpus filter was not applied")
      val k = VectorOps.PcaRounds
      s"""$patched
         |SELECT y$k.i, round(y$k.y / m$k.m, 6) + 0.0 AS comp,
         |  round(m$k.m, 6) AS lambda,
         |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
         |    WHERE vec_id % 5 <> 4) AS n_standing,
         |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_after_ingest,
         |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
         |    WHERE vec_id % 7 <> 3) AS n_live
         |FROM y$k, m$k ORDER BY y$k.i""".stripMargin
    }),
    QuerySpec("q_dedup_cosine", VectorOps.dedupCosine, Oracle(embSql + s"""
      |SELECT a.vec_id AS ia, b.vec_id AS ib,
      |  round(${dotSql("a.v", "b.v")} / (${normSql("a.v")} * ${normSql("b.v")}), 4) AS cos
      |FROM e a, e b WHERE a.vec_id < b.vec_id
      |  AND round(${dotSql("a.v", "b.v")} / (${normSql("a.v")} * ${normSql("b.v")}), 4) >= 0.45
      |ORDER BY ia, ib""".stripMargin)),
    QuerySpec("q_dedup_cosine_lsh", VectorOps.dedupCosineLsh, Twin("q_dedup_cosine")),
    QuerySpec("q_knn_join", VectorOps.knnJoin, Oracle(embSql + s""",
      |probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
      |sims AS (
      |  SELECT p.probe_id, e.vec_id,
      |    round(${dotSql("e.v", "p.pv")} / (${normSql("e.v")} * ${normSql("p.pv")}), 4) + 0.0 AS cos
      |  FROM e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id),
      |ranked AS (
      |  SELECT probe_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
      |  FROM sims)
      |SELECT probe_id, CAST(rk AS BIGINT) AS rk, vec_id, cos
      |FROM ranked WHERE rk <= 3 ORDER BY probe_id, rk""".stripMargin)),
    QuerySpec("q_triplet_mine", VectorOps.tripletMine, Oracle(s"""
      |WITH e AS (SELECT vec_id, label,
      |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |a AS (SELECT vec_id AS anchor_id, label AS a_label, v AS av FROM e WHERE vec_id < 32),
      |s AS (SELECT a.anchor_id, a.a_label, e.vec_id, e.label,
      |        round(${dotSql("e.v", "a.av")} / (${normSql("e.v")} * ${normSql("a.av")}), 4) + 0.0 AS cos
      |      FROM e CROSS JOIN a WHERE e.vec_id <> a.anchor_id),
      |p AS (SELECT anchor_id, vec_id, cos,
      |        row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rk
      |      FROM s WHERE label = a_label),
      |n AS (SELECT anchor_id, vec_id, cos,
      |        row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rk
      |      FROM s WHERE label <> a_label)
      |SELECT p.anchor_id, p.vec_id AS pos_id, p.cos AS pos_cos,
      |  n.vec_id AS neg_id, n.cos AS neg_cos, round(p.cos - n.cos, 4) + 0.0 AS margin
      |FROM p JOIN n ON p.anchor_id = n.anchor_id AND p.rk = 1 AND n.rk = 1
      |ORDER BY p.anchor_id""".stripMargin.trim)),
    QuerySpec("q_ann_lsh", VectorOps.annLsh, Twin("q_cosine_topk")),
    QuerySpec("q_ann_ivf", VectorOps.ivfTopk(_, _),
      Twin("q_cosine_topk")),
    QuerySpec("q_ann_pq", VectorOps.annPq(_, _), Twin("q_knn_join")),
    // annAppend's construction stages the standing encoded-corpus index
    // (and fits the frozen c80 quantizer + codebooks, disk-registered);
    // annDelete reads the SAME standing artifact (tombstone view);
    // annCompact additionally stages the compacted rewrite + its audit;
    // annRetrain's v1 arm goes through annAppend (same standing artifact)
    QuerySpec("q_ann_delete", VectorOps.annDelete(_, _), staged = true, check = Twin("q_knn_join")),
    QuerySpec("q_ann_append", VectorOps.annAppend(_, _), staged = true, check = Twin("q_knn_join")),
    QuerySpec("q_ann_compact", VectorOps.annCompact(_, _),
      staged = true, check = Twin("q_knn_join")),
    QuerySpec("q_ann_retrain", VectorOps.annRetrainEval,
      staged = true, check = Twin("q_retrieval_eval")),
    // annLifecycle's chain stages the composed compacted index
    // (ann_corpus_idx_lifecycle_<sf>) on top of the shared standing one
    QuerySpec("q_ann_lifecycle", VectorOps.annLifecycle(_, _),
      staged = true, check = Twin("q_knn_join")),
    QuerySpec("q_partition_prune", SourceOps.partitionPrune, staged = true, check = Oracle(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-03'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("q_schema_merge", SourceOps.schemaMerge, staged = true, check = Oracle(
      """SELECT n_nationkey, n_name, FALSE AS has_region FROM nation
        |UNION ALL
        |SELECT n_nationkey + 100, n_name, TRUE FROM nation
        |ORDER BY n_nationkey""".stripMargin)),
    QuerySpec("q_binary_files", SourceOps.binaryFiles, staged = true, check = Oracle(
      """SELECT r_regionkey, CAST(octet_length(encode(r_name)) AS BIGINT) AS n_bytes
        |FROM region ORDER BY r_regionkey""".stripMargin)),
    QuerySpec("q_json_extract", EventOps.jsonExtract, Oracle(
      """SELECT event_type, count(*) AS n,
        |  round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("q_time_bucket", EventOps.timeBucket, Oracle(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin)),
    QuerySpec("q_sessionize", EventOps.sessionize, Oracle(
      """WITH w AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) > CAST(3600 AS BIGINT) * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM w
        |), numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin)),
    // session_window twin of q_sessionize: same gap-split grouping, but the
    // native operator's session END is last event time + gap (half-open
    // [first, last + gap) range), so the oracle shifts the end by 1 hour.
    QuerySpec("q_session_window", StreamOps.sessionWindowBatch, Oracle(
      """WITH w AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) > CAST(3600 AS BIGINT) * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM w
        |), numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_start""".stripMargin)),
    // end-to-end foreachBatch merge sink + compaction view: the stream's
    // per-user latest-by-(ts, batch) collapses to the plain global argmax
    // because (user_id, ts) is unique in the fixture — which is what makes
    // a REAL multi-micro-batch stream run hash-checkable against SQL.
    QuerySpec("q_stream_compact", StreamOps.streamCompact, Oracle(
      """SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value
        |FROM (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    // the stream-stream interval join, drained through a real two-source
    // micro-batched run: inner join => each matched pair exactly once, so
    // the batch SQL join IS the full-value oracle
    QuerySpec("q_stream_attrib", StreamOps.streamAttrib, staged = true, check = Oracle(
      """SELECT p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  round(p.value, 4) AS value
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |ORDER BY p.user_id, purchase_ts, click_ts""".stripMargin)),
    // outer tier: matched pairs from the batch join; expired-unmatched
    // purchases bounded by the final join watermark wm = min(max click ts,
    // max purchase ts) - delay (Spark's min-of-sources watermark rule)
    QuerySpec("q_stream_attrib_outer", StreamOps.streamAttribOuter, staged = true, check = Oracle(
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
        |         - INTERVAL 1 HOUR AS w),
        |m AS (SELECT p.user_id, count(*) AS n_matched
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |      GROUP BY 1),
        |u AS (SELECT p.user_id, count(*) AS n_expired,
        |        round(sum(p.value), 4) AS value_at_risk
        |      FROM p, wm
        |      WHERE p.ts < wm.w AND NOT EXISTS (
        |        SELECT 1 FROM c WHERE c.user_id = p.user_id
        |          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts)
        |      GROUP BY 1)
        |SELECT coalesce(m.user_id, u.user_id) AS user_id,
        |  coalesce(n_matched, 0) AS n_matched,
        |  coalesce(n_expired, 0) AS n_expired,
        |  coalesce(value_at_risk, 0.0) AS value_at_risk
        |FROM m FULL JOIN u ON m.user_id = u.user_id
        |ORDER BY user_id""".stripMargin)),
    // planted duplicates (every purchase twice) are removed by the drained
    // dropDuplicatesWithinWatermark run, so the per-type aggregate over the
    // ORIGINAL events table is the oracle — inflated counts would mismatch
    QuerySpec("q_stream_dedup", StreamOps.streamDedup, staged = true, check = Oracle(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  round(sum(value), 4) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // transformWithState drain: the processor's per-user fold over
    // (ts, event_id)-ordered replay equals the batch window functions; the
    // xor digest value-checks EVERY intermediate (seq, cum) row. DuckDB's
    // windowed sum(BIGINT) is HUGEINT — cast back; round(value*100) is the
    // same positive-half-away rounding in both engines.
    QuerySpec("q_stream_running", StreamOps.streamRunning, staged = true, check = Oracle(
      """WITH seqd AS (
        |  SELECT user_id, event_id,
        |    CAST(row_number() OVER w AS BIGINT) AS seq,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |      AS cum_cents
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, max(seq) AS n_events,
        |  max_by(cum_cents, seq) AS cents_total,
        |  bit_xor(('0x' || substr(md5(
        |    CAST(user_id AS VARCHAR) || '|' || CAST(event_id AS VARCHAR) ||
        |    '|' || CAST(seq AS VARCHAR) || '|' || CAST(cum_cents AS VARCHAR)
        |  ), 1, 15))::BIGINT) AS xor_digest
        |FROM seqd GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // streamCov / streamAnnIngest stage the range-partitioned embedding
    // files their micro-batch replays read (streamAnnIngest additionally
    // shares the standing-index artifact + frozen c80 fits)
    // q_stream_cov drains the SAME exact Long moments through a
    // transformWithState keyed state store, micro-batch by micro-batch —
    // Long addition is batching-independent, so the batch recompute is
    // its exact oracle for ANY file slicing (the q_cov_update argument)
    QuerySpec("q_stream_cov", StreamOps.streamCov,
      staged = true, check = Oracle(covFullRecomputeSql)),
    QuerySpec("q_stream_ann", StreamOps.streamAnnIngest(_, _),
      staged = true, check = Twin("q_knn_join")),
    // streamDf drains the SAME ingest batch as a multi-micro-batch file
    // stream and folds each arrival's Long counts into the standing store
    // — doc-disjoint micro-batches keep df additive and Long addition is
    // batching-independent, so the full recompute oracles it for ANY file
    // slicing (the q_stream_cov argument, lexical edition). Staged: its
    // range-partitioned ingest files
    QuerySpec("q_stream_df", StreamOps.streamDf,
      staged = true, check = Oracle(lexFullRecomputeSql)),
    // the streaming postings form stages its ingest slices (shared with
    // q_stream_df) plus the corpus-partition postings artifact
    // streamPostings drains the SAME ingest batch as a multi-micro-batch
    // file stream, appending each arrival's per-document rows through an
    // idempotent (doc_id, tok, batch_id) log — doc-disjoint micro-batches
    // keep it append-only (no merge arithmetic), so the full recompute
    // oracles it for ANY file slicing (r16 verdict #4)
    QuerySpec("q_stream_postings", StreamOps.streamPostings,
      staged = true, check = Oracle(postingsRecomputeSql(""))),
    // the length/counter streaming forms drain the shared ingest slices
    // (stream_df_in_<sf>) and read the corpus-partition postings-derived
    // artifacts (lex_postings_part_, lex_doclen_part_, lex_stats_part_);
    // the all-documents form reads the lex_ndocs_part_ counter instead
    // streamDocLen appends the drained log's per-document lengths (one
    // exact-Long aggregate over the SAME idempotent log — doc-disjoint
    // micro-batches contribute each doc's rows whole) onto the standing
    // corpus-partition lengths: per-document append, no arithmetic, so
    // the full-corpus per-document token count oracles it for ANY file
    // slicing (r17 verdict #2 — the length relation's streaming form)
    QuerySpec("q_stream_doclen", StreamOps.streamDocLen, staged = true, check = Oracle(
      s"""WITH tk AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS len
         |FROM tk GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // streamLexStats folds each micro-batch's OWN (doc count, Σ len) Long
    // deltas into the standing corpus-partition counters — Long addition
    // is batching-independent and doc-disjointness keeps every document
    // in exactly one delta, so the full-corpus recompute (token-bearing
    // docs, exact Longs) oracles it for ANY slicing (r17 verdict #2 —
    // the scalar counters' streaming form; with it every relation
    // postingsLifecycle serves has one)
    QuerySpec("q_stream_lexstats", StreamOps.streamLexStats, staged = true, check = Oracle(
      s"""WITH tk AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |dl AS (SELECT doc_id, count(*) AS len FROM tk GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(len), 0) AS BIGINT) AS sum_len FROM dl""".stripMargin)),
    // streamNdocs folds each micro-batch's OWN raw document count (taken
    // from the staged slice BEFORE tokenization — zero-token docs count
    // toward n_docs but never reach the postings log) into the standing
    // all-documents counter by pure Long addition; batching-independent +
    // doc-disjoint slicing ⇒ the all-documents recompute oracles it for
    // ANY file slicing (r18 verdict #4 — with it every input of
    // q_tfidf_lifecycle has a streaming form)
    QuerySpec("q_stream_ndocs", StreamOps.streamNdocs, staged = true, check = Oracle(
      "SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents")),
    // the streamed foreachBatch as-of drain is batching-independent (each
    // event's answer depends only on the static side), so its oracle is
    // q_asof_join's verbatim
    QuerySpec("q_stream_asof", StreamOps.streamAsof, staged = true, check = Oracle(
      """SELECT event_id, user_id, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS asof_date, o_totalprice
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    // update mode's final upsert state per key reflects EVERY input row
    // for that key (cumulative state, no watermark eviction), so the latest
    // update per key equals the batch aggregate for any file slicing;
    // counts and cents are exact Longs, so no float-order drift either
    QuerySpec("q_stream_update", StreamOps.streamUpdate, staged = true, check = Oracle(
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),
    // append mode emits exactly the windows the FINAL watermark (max ts −
    // 1 h) closed, independent of batch slicing — so the oracle is the
    // batch hourly aggregate restricted to closed windows
    QuerySpec("q_stream_window", StreamOps.streamWindow, staged = true, check = Oracle(
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |w AS (SELECT date_trunc('hour', ts) AS h, event_type,
        |        CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |      FROM events GROUP BY 1, 2)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type, n, sum_value
        |FROM w, mx WHERE h + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
        |ORDER BY hour, event_type""".stripMargin)),
    // the z round sits in the FINAL select (over zraw from the window CTE)
    // so the margin audit measures the DECLARED output population and the
    // signed-zero gate sees the round; z-scores are negative-capable →
    // `+ 0.0` on both sides (r14 CTE-audit finding)
    QuerySpec("q_zscore", EventOps.zscoreOutliers, Oracle(
      """WITH z AS (
        |  SELECT event_id, user_id, value,
        |    (value - avg(value) OVER (PARTITION BY user_id)) /
        |      stddev_samp(value) OVER (PARTITION BY user_id) AS zraw
        |  FROM events)
        |SELECT event_id, user_id, value, round(zraw, 4) + 0.0 AS z FROM z
        |WHERE abs(round(zraw, 4)) > 2.0 ORDER BY event_id""".stripMargin)),
    QuerySpec("q_funnel", EventOps.funnel, Oracle(
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.t1
        |    AND epoch_us(e.ts) - epoch_us(v.t1) <= CAST(86400 AS BIGINT) * 1000000
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t2
        |    AND epoch_us(e.ts) - epoch_us(c.t2) <= CAST(86400 AS BIGINT) * 1000000
        |  GROUP BY 1)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |  UNION ALL SELECT '2_click', count(*) FROM c
        |  UNION ALL SELECT '3_purchase', count(*) FROM p)
        |ORDER BY stage""".stripMargin)),
    QuerySpec("q_cohort_retention", EventOps.cohortRetention, Oracle(
      """WITH first AS (
        |  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS BIGINT)
        |    AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN first f ON e.user_id = f.user_id
        |WHERE e.ts >= f.cohort_day
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin)),
    QuerySpec("q_rolling_dau", EventOps.rollingDau, Oracle(
      """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d AS day_d FROM du)
        |SELECT strftime(days.day_d, '%Y-%m-%d') AS day,
        |  count(DISTINCT du.user_id) AS dau7
        |FROM days JOIN du ON du.d <= days.day_d AND du.d > days.day_d - INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY day""".stripMargin)),
    // exact below theta saturation (4096 ≫ fixture users), so the sketch
    // path hash-matches the same exact sliding-distinct oracle
    QuerySpec("q_rolling_dau_sketch", EventOps.rollingDauSketch, Oracle(
      """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d AS day_d FROM du)
        |SELECT strftime(days.day_d, '%Y-%m-%d') AS day,
        |  count(DISTINCT du.user_id) AS dau7
        |FROM days JOIN du ON du.d <= days.day_d AND du.d > days.day_d - INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY day""".stripMargin)),
    QuerySpec("q_monthly_uniques", EventOps.monthlyUniques, Oracle(
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
        |  count(DISTINCT user_id) AS uniq_users
        |FROM events
        |GROUP BY 1 ORDER BY month""".stripMargin)),
    QuerySpec("q_hll_merge", EventOps.hllMerge, Twin("q_monthly_uniques")),
    // probe set mirrors EventOps.FreqProbeUsers (1..8)
    QuerySpec("q_user_freq", EventOps.userFreq, Oracle(
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS month, user_id,
        |  count(*) AS n_events
        |FROM events WHERE user_id BETWEEN 1 AND 8
        |GROUP BY 1, 2 ORDER BY month, user_id""".stripMargin)),
    QuerySpec("q_cms_freq", EventOps.cmsFreq, Twin("q_user_freq")),
    QuerySpec("q_monthly_median", EventOps.monthlyMedian, Oracle(
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
        |  round(quantile_cont(value, 0.5), 4) AS median_value,
        |  round(quantile_cont(value, 0.95), 4) AS p95_value
        |FROM events
        |GROUP BY 1 ORDER BY month""".stripMargin)),
    QuerySpec("q_kll_merge", EventOps.kllMerge, Twin("q_monthly_median")),
    QuerySpec("q_tdigest_merge", EventOps.tdigestMerge, Twin("q_monthly_median")),
    QuerySpec("q_sketch_store", EventOps.sketchStore,
      staged = true, check = Twin("q_monthly_uniques")),
    QuerySpec("q_gap_fill", EventOps.gapFill, Oracle(
      """WITH ev AS (SELECT * FROM events WHERE user_id <= 3),
        |bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        |  FROM ev),
        |spine AS (
        |  SELECT u.user_id, gs.h
        |  FROM (SELECT DISTINCT user_id FROM ev) u,
        |  LATERAL (SELECT unnest(generate_series(
        |    (SELECT lo FROM bounds), (SELECT hi FROM bounds), INTERVAL 1 HOUR)) AS h) gs),
        |agg AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, round(sum(value), 4) AS v
        |  FROM ev GROUP BY 1, 2)
        |SELECT s.user_id, strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  coalesce(a.v, 0.0) AS v,
        |  coalesce(round(last_value(a.v IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4), 0.0) AS v_ffill
        |FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.h = a.h
        |ORDER BY s.user_id, s.h""".stripMargin)),
    QuerySpec("q_window_frames", EventOps.windowFrames, Oracle(
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |  lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
        |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
        |    AS quartile
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    QuerySpec("q_asof_join", EventOps.asofJoin, Oracle(
      """SELECT event_id, user_id, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS asof_date, o_totalprice
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    // nearest member of the as-of family: rank the per-event fan-out by
    // (whole-second gap, backward-first, the per-direction orderkey
    // tie-break the window form uses: max for back, min for fwd)
    QuerySpec("q_asof_nearest", EventOps.asofNearest, Oracle(
      """SELECT event_id, user_id, o_orderkey, direction, sec_diff, o_totalprice
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey,
        |    CASE WHEN o.o_orderdate <= e.ts THEN 'back' ELSE 'fwd' END AS direction,
        |    abs(date_diff('second', CAST(o.o_orderdate AS TIMESTAMP), e.ts)) AS sec_diff,
        |    o.o_totalprice,
        |    row_number() OVER (PARTITION BY e.event_id ORDER BY
        |      abs(date_diff('second', CAST(o.o_orderdate AS TIMESTAMP), e.ts)),
        |      CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END,
        |      CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey ELSE o.o_orderkey END) AS rn
        |  FROM events e JOIN orders o ON o.o_custkey = e.user_id)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    QuerySpec("q_range_join", EventOps.rangeJoin, Oracle(
      """SELECT a.user_id, count(*) AS n_close_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND epoch_us(b.ts) - epoch_us(a.ts) <= CAST(60 AS BIGINT) * 1000000
        | AND epoch_us(b.ts) >= epoch_us(a.ts)
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin)),
    QuerySpec("q_media_meta", MultimodalOps.mediaMeta, Oracle(
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |  count(*) AS n, CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin)),
    // mediaDedup twin: 64-bin byte histogram per asset (documents.text IS
    // ASCII, so ascii(char) == the payload byte), cosine over INTEGER counts
    // — every sum exact in double, so the value matches the Spark expression
    // dot/(sqrt(na)*sqrt(nb)) bit-for-bit in any summation order.
    QuerySpec("q_media_dedup", MultimodalOps.mediaDedup, Oracle(
      s"""WITH b AS (
        |  SELECT doc_id AS media_id, (ascii(c) // 4) AS bin
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
        |), h AS (
        |  SELECT media_id, bin, CAST(count(*) AS DOUBLE) AS cnt FROM b GROUP BY 1, 2
        |), dots AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b, sum(a.cnt * b.cnt) AS dot
        |  FROM h a JOIN h b ON a.bin = b.bin AND a.media_id < b.media_id
        |  GROUP BY 1, 2
        |), norms AS (SELECT media_id, sqrt(sum(cnt * cnt)) AS nrm FROM h GROUP BY 1)
        |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS cos
        |FROM dots
        |JOIN norms na ON id_a = na.media_id
        |JOIN norms nb ON id_b = nb.media_id
        |WHERE round(dot / (na.nrm * nb.nrm), 4) >= ${MultimodalOps.MediaDupCos}
        |ORDER BY id_a, id_b""".stripMargin)),
    QuerySpec("q_media_dedup_lsh", MultimodalOps.mediaDedupLsh, Twin("q_media_dedup")),
    QuerySpec("q_dedup_ngram", TextOps.dedupNgram, Oracle {
      val k = TextOps.NgramK
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+${k - 1}], ' ') AS g
         |      FROM t, UNNEST(range(1, len(toks) - ${k - 2})) AS r(i)
         |      WHERE len(toks) >= $k)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin
    }),
    QuerySpec("q_dedup_spans", TextOps.dupSpanCoverage, Oracle {
      val k = TextOps.NgramK
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |gr AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, i,
         |         array_to_string(toks[i:i+${k - 1}], ' ') AS g
         |       FROM t, UNNEST(range(1, len(toks) - ${k - 2})) AS r(i)
         |       WHERE len(toks) >= $k),
         |dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
         |                       FROM gr GROUP BY g) WHERE nd > 1),
         |hits AS (SELECT doc_id, n_tokens, i,
         |    least($k, coalesce(i - lag(i) OVER (PARTITION BY doc_id ORDER BY i), $k)) AS c
         |  FROM gr WHERE g IN (SELECT g FROM dup))
         |SELECT doc_id, n_tokens, count(*) AS dup_positions,
         |  CAST(sum(c) AS BIGINT) AS covered_tokens,
         |  round(CAST(sum(c) AS DOUBLE) / n_tokens, 4) AS dup_frac
         |FROM hits GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin
    }),
    // the action half: same gram relation, keep each duplicated gram's
    // global first occurrence, cut every token position a non-first
    // occurrence covers, rebuild and md5 the cleaned text
    QuerySpec("q_dedup_span_cut", TextOps.dedupSpanCut, Oracle {
      val k = TextOps.NgramK
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
         |gr AS (SELECT doc_id, i, array_to_string(toks[i:i+${k - 1}], ' ') AS g
         |       FROM t, UNNEST(range(1, len(toks) - ${k - 2})) AS r(i)
         |       WHERE len(toks) >= $k),
         |dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
         |                       FROM gr GROUP BY g) WHERE nd > 1),
         |docc AS (SELECT * FROM gr WHERE g IN (SELECT g FROM dup)),
         |firsts AS (SELECT g, doc_id AS f_doc, i AS f_i FROM (
         |    SELECT g, doc_id, i,
         |      row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
         |    FROM docc) WHERE rn = 1),
         |cut AS (SELECT DISTINCT d.doc_id, CAST(d.i + o AS BIGINT) AS j
         |        FROM docc d, firsts f, UNNEST(range(0, $k)) AS r(o)
         |        WHERE d.g = f.g AND NOT (d.doc_id = f.f_doc AND d.i = f.f_i)),
         |tok AS (SELECT doc_id, CAST(j AS BIGINT) AS j, toks[j] AS tok
         |        FROM base, UNNEST(range(1, len(toks) + 1)) AS r(j)),
         |kept AS (SELECT tk.doc_id, tk.j, tk.tok FROM tok tk
         |         WHERE NOT EXISTS (SELECT 1 FROM cut c
         |                           WHERE c.doc_id = tk.doc_id AND c.j = tk.j)),
         |agg AS (SELECT doc_id, count(*) AS kept_tokens,
         |          string_agg(tok, ' ' ORDER BY j) AS cleaned
         |        FROM kept GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |  coalesce(a.kept_tokens, 0) AS kept_tokens,
         |  b.n_tokens - coalesce(a.kept_tokens, 0) AS cut_tokens,
         |  md5(coalesce(a.cleaned, '')) AS clean_md5
         |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""".stripMargin
    }),
    QuerySpec("q_source_overlap", TextOps.sourceOverlap, Oracle {
      val k = TextOps.NgramK
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |sg AS (SELECT DISTINCT source, array_to_string(toks[i:i+${k - 1}], ' ') AS g
         |       FROM t, UNNEST(range(1, len(toks) - ${k - 2})) AS r(i)
         |       WHERE len(toks) >= $k),
         |c AS (SELECT source, count(*) AS n FROM sg GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_grams,
         |  round(CAST(count(*) AS DOUBLE) / least(ca.n, cb.n), 4) AS containment
         |FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
         |JOIN c ca ON ca.source = a.source JOIN c cb ON cb.source = b.source
         |GROUP BY a.source, b.source, ca.n, cb.n ORDER BY src_a, src_b""".stripMargin
    }),
    QuerySpec("q_quality_prune", TextOps.qualityPrune, Oracle(
      s"""WITH t AS (SELECT doc_id, source, n_chars,
         |       CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |r AS (SELECT *, percent_rank() OVER (
         |        PARTITION BY source ORDER BY n_tokens, doc_id) AS pr FROM t)
         |SELECT source, CAST(count(*) AS BIGINT) AS docs_total,
         |  CAST(sum(CASE WHEN pr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
         |  CAST(sum(CASE WHEN pr >= 0.5 THEN n_chars END) AS BIGINT) AS chars_kept,
         |  min(CASE WHEN pr >= 0.5 THEN n_tokens END) AS threshold_tokens
         |FROM r GROUP BY source ORDER BY source""".stripMargin)),
    // brute-force cross join + filter IS the oracle; the Spark side must
    // reproduce it exactly through cell blocking (incl. antimeridian wrap).
    // The haversine round lives in its own CTE (not a derived table) so the
    // margin audit promotes it to an audit unit (r15 — derived-table rounds
    // were a skip class).
    QuerySpec("q_geo_join", GeoOps.geoJoin, Oracle(
      """WITH c AS (SELECT c_custkey,
        |       -60.0 + (c_custkey * 97 % 12000) / 100.0 AS clat,
        |       -180.0 + (c_custkey * 131 % 36000) / 100.0 AS clon FROM customer),
        |s AS (SELECT s_suppkey,
        |       -60.0 + (s_suppkey * 97 % 12000) / 100.0 AS slat,
        |       -180.0 + (s_suppkey * 131 % 36000) / 100.0 AS slon FROM supplier),
        |d AS (
        |  SELECT c_custkey, s_suppkey,
        |    round(2 * 6371.0088 * asin(sqrt(
        |      pow(sin(radians(slat - clat) / 2), 2) +
        |      cos(radians(clat)) * cos(radians(slat)) *
        |        pow(sin(radians(slon - clon) / 2), 2))), 4) AS dist_km
        |  FROM c CROSS JOIN s)
        |SELECT c_custkey, s_suppkey, dist_km FROM d
        |WHERE dist_km <= 300.0 ORDER BY c_custkey, s_suppkey""".stripMargin)),
    QuerySpec("q_geo_nearest", GeoOps.geoNearest, Oracle(
      """WITH c AS (SELECT c_custkey,
        |       -60.0 + (c_custkey * 97 % 12000) / 100.0 AS clat,
        |       -180.0 + (c_custkey * 131 % 36000) / 100.0 AS clon FROM customer),
        |s AS (SELECT s_suppkey,
        |       -60.0 + (s_suppkey * 97 % 12000) / 100.0 AS slat,
        |       -180.0 + (s_suppkey * 131 % 36000) / 100.0 AS slon FROM supplier),
        |d AS (
        |  SELECT c_custkey, s_suppkey,
        |    round(2 * 6371.0088 * asin(sqrt(
        |      pow(sin(radians(slat - clat) / 2), 2) +
        |      cos(radians(clat)) * cos(radians(slat)) *
        |        pow(sin(radians(slon - clon) / 2), 2))), 4) AS dist_km
        |  FROM c CROSS JOIN s),
        |p AS (SELECT * FROM d WHERE dist_km <= 300.0),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rk FROM p)
        |SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rk = 1
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_dedup_canonical", TextOps.dedupCanonical, Oracle(clusterChainSql + """,
      |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
      |       FROM reach GROUP BY src),
      |mem AS (
      |  SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster, d.n_chars
      |  FROM documents d LEFT JOIN cl USING (doc_id))
      |SELECT doc_id, cluster,
      |  (row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) = 1)
      |    AS keep,
      |  count(*) OVER (PARTITION BY cluster) AS n_members
      |FROM mem ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_dedup_canonical_lsh", TextOps.dedupCanonicalLsh, Twin("q_dedup_canonical")),
    QuerySpec("q_corpus_mix", TextOps.corpusMix, Oracle(
      s"""WITH lang AS ($langIdSql),
         |nt AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |       FROM documents),
         |j AS (SELECT source, lang_pred, n_tokens FROM nt JOIN lang USING (doc_id)),
         |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM j)
         |SELECT lang_pred, source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(n_tokens) AS DOUBLE) / tot, 4) AS token_share
         |FROM j CROSS JOIN tot
         |GROUP BY lang_pred, source, tot
         |ORDER BY lang_pred, source""".stripMargin)),
    // seqPack twin: same per-shard running offsets, same span explode (a doc
    // crossing a context boundary contributes its overlap to EACH context)
    QuerySpec("q_seq_pack", TextOps.seqPack, Oracle {
      val len = TextOps.PackContextLen
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN a >= 97 THEN a - 87 ELSE a - 48 END AS BIGINT) AS shard,
         |    n_tokens
         |  FROM (SELECT doc_id, ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS a,
         |          CAST(len($toksSql) AS BIGINT) AS n_tokens
         |        FROM documents)),
         |off AS (
         |  SELECT shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
         |  FROM base),
         |sp AS (SELECT shard, end_off - n_tokens AS start_off, end_off
         |       FROM off WHERE n_tokens > 0),
         |ex AS (SELECT shard, start_off, end_off,
         |         unnest(range(start_off // $len, (end_off - 1) // $len + 1)) AS context_id
         |       FROM sp)
         |SELECT shard, context_id, count(*) AS n_docs,
         |  CAST(sum(least(end_off, (context_id + 1) * $len) -
         |           greatest(start_off, context_id * $len)) AS BIGINT) AS n_tokens,
         |  round(sum(least(end_off, (context_id + 1) * $len) -
         |            greatest(start_off, context_id * $len)) / ${len}.0, 4) AS fill_est
         |FROM ex GROUP BY shard, context_id
         |ORDER BY shard, context_id""".stripMargin
    }),
    QuerySpec("q_mix_weights", TextOps.mixWeights, Oracle(
      s"""WITH per AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |sc AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
         |              CAST(max(n_tokens) AS DOUBLE) AS mx FROM per)
         |SELECT source, n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / tot, 4) AS token_share,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(mx), 4) AS sample_weight
         |FROM per CROSS JOIN sc ORDER BY source""".stripMargin)),
    // incremental dedup twin: batch (doc_id % 10 = 0) probes the corpus-side
    // inverted index; best corpus match per new doc (jaccard desc, id asc)
    QuerySpec("q_dedup_incremental", TextOps.dedupIncremental, Oracle(
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |  FROM t WHERE len(toks) >= 3
         |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS common
         |  FROM sh a JOIN sh b ON a.s = b.s
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT new_id, old_id,
         |    round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jaccard
         |  FROM pairs JOIN sizes sa ON sa.doc_id = new_id
         |              JOIN sizes sb ON sb.doc_id = old_id
         |  WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) >= 0.8),
         |best AS (
         |  SELECT new_id, old_id, jaccard,
         |    row_number() OVER (PARTITION BY new_id
         |                       ORDER BY jaccard DESC, old_id) AS rk
         |  FROM scored)
         |SELECT new_id, old_id AS dup_of, jaccard
         |FROM best WHERE rk = 1 ORDER BY new_id""".stripMargin)),
    // dfUpdate/dfDowndate stage the standing lexical-count artifacts
    // (lex_df_<sf> / lex_df_full_<sf>) their Long merges read
    // dfUpdate merges the standing corpus partition's (token, df, tf)
    // Long counts with the ingest batch's — doc-disjoint partitions make
    // df additive, so the merged store is EXACTLY the full recompute and
    // the oracle is that recompute verbatim (integer counts, no rounding)
    QuerySpec("q_df_update", TextOps.dfUpdate, staged = true, check = Oracle(lexFullRecomputeSql)),
    // dfDowndate subtracts the erased batch's counts from the standing
    // full-corpus store; zero-count tokens drop out — exactly the
    // remaining-corpus recompute
    QuerySpec("q_df_downdate", TextOps.dfDowndate, staged = true, check = Oracle(
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) AS tok
        |  FROM documents WHERE doc_id % 10 <> 0)
        |SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |  CAST(count(*) AS BIGINT) AS tf
        |FROM tk GROUP BY tok ORDER BY tok""".stripMargin)),
    // postingsUpdate appends the ingest batch's per-document (doc_id,
    // tok, tf) rows onto the standing corpus-partition postings — pure
    // append, no arithmetic: doc-disjointness means each doc's rows come
    // from exactly one side, so the maintained table IS the full-corpus
    // recompute verbatim (r16 verdict #3: the maintenance proof for the
    // artifact the index-served rung probes). Staged: the corpus-partition
    // postings it appends onto (lex_postings_part_<sf>)
    QuerySpec("q_postings_update", TextOps.postingsUpdate,
      staged = true, check = Oracle(postingsRecomputeSql(""))),
    // postingsDowndate deletes the erased docs' rows by anti-join —
    // per-document rows mean removing a doc's rows IS recomputing
    // without it: the remaining-corpus recompute verbatim. Staged: the
    // full-corpus postings it anti-joins (lex_postings_<sf>)
    QuerySpec("q_postings_downdate", TextOps.postingsDowndate,
      staged = true, check = Oracle(postingsRecomputeSql(" WHERE doc_id % 10 <> 0"))),
    // the index-tier lifecycle stages the corpus-partition doc lengths
    // (lex_doclen_part_<sf>) and scalar counters (lex_stats_part_<sf>)
    // on top of the partition postings + the standing lex_df_
    // postingsLifecycle runs the SAME ingest/erasure splits through the
    // PER-DOCUMENT tier (postings/doclen append+delete, Long counter
    // arithmetic) and serves through the shared bm25Score — bit-identical
    // to lexLifecycle by construction (spec'd), so one SQL oracles both:
    // two independent maintenance mechanisms, one recompute ground truth
    QuerySpec("q_postings_lifecycle", TextOps.postingsLifecycle,
      staged = true, check = Oracle(lexLifecycleSql)),
    QuerySpec("q_pii_redact", CurationOps.piiRedact, Oracle(
      """WITH aug AS (
        |  SELECT doc_id,
        |    concat(text, ' contact user', doc_id, '@mail.example.com from 10.',
        |           doc_id % 200, '.0.', doc_id % 250, ' ref=', doc_id * 7919) AS raw
        |  FROM documents
        |), red AS (
        |  SELECT doc_id, raw,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                       '<EMAIL>', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\d{4,}', '<NUM>', 'g') AS redacted,
        |    CAST(len(regexp_extract_all(raw,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(raw,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
        |  FROM aug)
        |SELECT doc_id, n_emails, n_ips,
        |  CAST(length(redacted) AS BIGINT) AS red_len,
        |  right(redacted, 60) AS red_tail
        |FROM red ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_fuzzy_join", CurationOps.fuzzyJoin, Oracle(
      """WITH dirty AS (
        |  SELECT n_nationkey AS dirty_key,
        |    concat(substr(n_name, 1, CAST(n_nationkey % length(n_name) AS INT)),
        |           substr(n_name, CAST(n_nationkey % length(n_name) AS INT) + 2, 100))
        |      AS dirty_name
        |  FROM nation
        |), variants AS (
        |  SELECT DISTINCT n_name,
        |    concat(substr(n_name, 1, CAST(i AS INT) - 1),
        |           substr(n_name, CAST(i AS INT) + 1, 100)) AS variant
        |  FROM nation, unnest(range(1, length(n_name) + 2)) AS t(i)
        |), cand AS (
        |  SELECT d.dirty_key, d.dirty_name, v.n_name AS matched_name,
        |    levenshtein(d.dirty_name, v.n_name) AS dist
        |  FROM dirty d JOIN variants v ON d.dirty_name = v.variant)
        |SELECT dirty_key, dirty_name,
        |  min_by(matched_name, concat(dist, '|', matched_name)) AS matched_name,
        |  CAST(min(dist) AS BIGINT) AS dist
        |FROM cand GROUP BY 1, 2 ORDER BY dirty_key""".stripMargin)),
    QuerySpec("q_market_basket", GraphOps.marketBasket, Oracle(
      """SELECT a.l_partkey AS u, b.l_partkey AS v,
        |  count(DISTINCT a.l_orderkey) AS n_orders
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, u, v LIMIT 20""".stripMargin)),
    QuerySpec("q_graph_metrics", GraphOps.graphMetrics, Oracle(
      """WITH edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |), deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY 1)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM edges) AS n_edges,
        |  (SELECT count(*) FROM edges e1
        |     JOIN edges e2 ON e1.v = e2.u
        |     JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles,
        |  (SELECT max(deg) FROM deg) AS max_degree,
        |  round((SELECT avg(deg) FROM deg), 4) AS avg_degree""".stripMargin)),
    // PageRank as a recursive CTE: iter counts rounds; the aggregate step
    // GROUPs BY (destination, iter) so each recursion level advances every
    // node one iteration in lockstep. No dangling mass (undirected graph).
    QuerySpec("q_pagerank", GraphOps.pageRank, Oracle(
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |), und AS (
        |  SELECT u AS s, v AS d FROM edges UNION ALL SELECT v, u FROM edges
        |), deg AS (SELECT s AS n, count(*) AS outdeg FROM und GROUP BY 1),
        |nn AS (SELECT count(*) AS cnt FROM deg),
        |pr(iter, n, r) AS (
        |  SELECT 0, n, 1.0 / (SELECT cnt FROM nn) FROM deg
        |  UNION ALL
        |  SELECT p.iter + 1, e.d,
        |    (0.15 / (SELECT cnt FROM nn)) + 0.85 * sum(p.r / dg.outdeg)
        |  FROM pr p JOIN und e ON p.n = e.s JOIN deg dg ON p.n = dg.n
        |  WHERE p.iter < 10
        |  GROUP BY e.d, p.iter
        |)
        |SELECT n, round(r * (SELECT cnt FROM nn), 4) AS rank_scaled
        |FROM pr WHERE iter = 10
        |ORDER BY rank_scaled DESC, n LIMIT 20""".stripMargin)),
    QuerySpec("q_skyline", CurationOps.skyline, Oracle(
      """WITH w AS (
        |  SELECT p_partkey, p_size, round(p_retailprice, 2) AS price,
        |    max(round(p_retailprice, 2)) OVER
        |      (ORDER BY p_size RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS best_smaller,
        |    max(round(p_retailprice, 2)) OVER (PARTITION BY p_size) AS best_same
        |  FROM part)
        |SELECT p_partkey, p_size, price
        |FROM w
        |WHERE (best_smaller IS NULL OR best_smaller < price) AND price = best_same
        |ORDER BY p_partkey""".stripMargin)),
    QuerySpec("q_data_quality", CurationOps.dataQuality, Oracle(
      """SELECT 'fk_lineitem_order' AS check_name, (
        |  SELECT count(*) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |) AS violations
        |UNION ALL SELECT 'unique_custkey',
        |  (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
        |UNION ALL SELECT 'qty_positive',
        |  (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
        |UNION ALL SELECT 'discount_in_unit_range',
        |  (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
        |UNION ALL SELECT 'mktsegment_not_null',
        |  (SELECT count(*) FROM customer WHERE c_mktsegment IS NULL)
        |UNION ALL SELECT 'ship_after_order',
        |  (SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |   WHERE l.l_shipdate < o.o_orderdate)
        |ORDER BY check_name""".stripMargin)),
    QuerySpec("q_table_checksum", CurationOps.tableChecksum, Oracle(
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  bit_xor(('0x' || substr(md5(
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || '|' ||
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || '|' ||
        |    coalesce(o_orderstatus, chr(1)) || '|' ||
        |    coalesce(strftime(o_orderdate, '%Y-%m-%d'), chr(1)) || '|' ||
        |    coalesce(o_orderpriority, chr(1))
        |  ), 1, 15))::BIGINT) AS xor_digest
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    QuerySpec("q_length_dist", TextOps.lengthDist, Oracle(
      """SELECT CAST(length(bin(n_chars)) AS BIGINT) AS log2_bucket,
        |  count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY log2_bucket""".stripMargin)),
    QuerySpec("q_doc_shards", TextOps.docShards, Oracle(
      """WITH s AS (
        |  SELECT CAST(CASE WHEN a >= 97 THEN a - 87 ELSE a - 48 END AS BIGINT)
        |      AS shard, n_chars
        |  FROM (SELECT ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS a,
        |          n_chars FROM documents))
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin)),
    QuerySpec("q_bucket_join", BucketOps.bucketJoin, staged = true, check = Oracle(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    // q_bloom_join's oracle is deliberately the PLAIN join: the bloom-pruned
    // plan must reproduce it exactly (false positives die in the exact join).
    QuerySpec("q_bloom_join", RuntimeFilterOps.bloomJoin, Oracle(
      """SELECT o_orderkey, o_custkey, c_mktsegment,
        |  round(o_totalprice, 4) AS o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' ORDER BY o_orderkey""".stripMargin)),
    // q_dpp_join's oracle is the STATIC day rule: the dynamically-pruned
    // star join must reproduce exactly what a fact-side predicate computes
    QuerySpec("q_dpp_join", RuntimeFilterOps.dppJoin, staged = true, check = Oracle(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events WHERE day(CAST(ts AS DATE)) % 7 = 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("q_regression", Relational.regression, Oracle(
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_histogram_eqdepth", Relational.histogramEqDepth, Oracle(
      """SELECT decile, count(*) AS n, round(min(o_totalprice), 4) AS lo,
        |  round(max(o_totalprice), 4) AS hi
        |FROM (SELECT o_totalprice,
        |        CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
        |             AS BIGINT) AS decile
        |      FROM orders)
        |GROUP BY decile ORDER BY decile""".stripMargin)),
    QuerySpec("q_inverted_index", TextOps.invertedIndex, Oracle(
      s"""WITH pairs AS (
         |  SELECT DISTINCT t.tok AS term, doc_id
         |  FROM documents, unnest($toksSql) AS t(tok)),
         |df AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
         |ranked AS (SELECT term, doc_id,
         |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
         |  FROM pairs)
         |SELECT term, df,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         |FROM ranked JOIN df USING (term) WHERE rk <= ${TextOps.PostingHeadK}
         |GROUP BY term, df ORDER BY term""".stripMargin)),
    QuerySpec("q_phrase_search", TextOps.phraseSearch, Oracle(phraseSql)),
    QuerySpec("q_weighted_sample", TextOps.weightedSample, Oracle(
      s"""WITH k AS (
         |  SELECT source, doc_id, n_chars,
         |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |        + 0.5) / 4294967296.0) / n_chars AS key
         |  FROM documents)
         |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY key DESC, doc_id) AS rk FROM k)
         |WHERE rk <= ${TextOps.WeightedSampleK} ORDER BY source, rk""".stripMargin)),
    QuerySpec("q_zorder", LayoutOps.zorderAudit, Oracle(
      s"""WITH d AS (
         |  SELECT (o_custkey & ${(1L << LayoutOps.ZBits) - 1}) AS xk,
         |    (date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         |     & ${(1L << LayoutOps.ZBits) - 1}) AS yk
         |  FROM orders),
         |z AS (SELECT xk, yk, (($zInterleaveSql) >> ${LayoutOps.ZBucketShift}) AS zbucket FROM d)
         |SELECT zbucket, count(*) AS n, min(xk) AS lo_cust, max(xk) AS hi_cust,
         |  min(yk) AS lo_day, max(yk) AS hi_day
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin)),
    // content equality THROUGH the 64-file -> 4-file compaction rewrite
    QuerySpec("q_compact_files", LayoutOps.compactFiles, staged = true, check = Oracle(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("q_tpch_q3", TpchOps.shippingPriority, Oracle(
      s"""SELECT l_orderkey,
         |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '${TpchOps.Q3Cutoff} 00:00:00'
         |  AND l_shipdate > TIMESTAMP '${TpchOps.Q3Cutoff} 00:00:00'
         |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin)),
    QuerySpec("q_tpch_q5", TpchOps.localSupplierVolume, Oracle(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    QuerySpec("q_null_semantics", Relational.nullSemantics, Oracle(
      """SELECT o_orderpriority, count(*) AS n_total,
        |  count(x) AS n_x,
        |  CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_x_null,
        |  round(avg(x), 4) AS avg_x,
        |  round(avg(coalesce(x, 0.0)), 4) AS avg_x0,
        |  CAST(sum(CASE WHEN x IS NOT DISTINCT FROM y THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_nullsafe_eq
        |FROM (SELECT o_orderpriority,
        |        CASE WHEN o_orderstatus <> 'O' THEN o_totalprice END AS x,
        |        CASE WHEN o_orderstatus <> 'F' THEN o_totalprice END AS y
        |      FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // full recompute over the new snapshot — the incremental path must match
    QuerySpec("q_mv_refresh", Relational.mvRefresh, Oracle(
      """WITH old AS (
        |  SELECT c_custkey AS key, round(c_acctbal, 2) + 0.0 AS bal FROM customer),
        |neu AS (
        |  SELECT key,
        |    CASE WHEN key % 5 = 0 THEN round(bal + 100.0, 2) + 0.0 ELSE bal END AS bal
        |  FROM old WHERE key % 13 <> 0
        |  UNION ALL
        |  SELECT key + 20000000, 1.0 FROM old WHERE key % 7 = 0)
        |SELECT key % 20 AS bucket, count(*) AS n, round(sum(bal), 2) + 0.0 AS sum_bal
        |FROM neu GROUP BY 1 ORDER BY bucket""".stripMargin)),
    // exact COUNT DISTINCT algebra — the theta sketches are in their exact
    // regime below lgK=12 saturation, so the estimates must hash-match
    QuerySpec("q_theta_sets", EventOps.thetaSets, Oracle(
      """WITH a AS (SELECT DISTINCT user_id FROM events
        |           WHERE event_type = 'purchase' AND value > 150),
        |b AS (SELECT DISTINCT user_id FROM events
        |      WHERE event_type = 'view' AND value > 150)
        |SELECT (SELECT count(*) FROM a) AS n_buy,
        |  (SELECT count(*) FROM b) AS n_view,
        |  (SELECT count(*) FROM a JOIN b USING (user_id)) AS n_both,
        |  (SELECT count(*) FROM a WHERE user_id NOT IN
        |     (SELECT user_id FROM b)) AS n_buy_only,
        |  (SELECT count(*) FROM (SELECT user_id FROM a UNION
        |     SELECT user_id FROM b)) AS n_either""".stripMargin)),
    QuerySpec("q_tpch_q1", TpchOps.pricingSummary, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("q_tpch_q18", TpchOps.largeOrders, Oracle(
      s"""WITH big AS (
         |  SELECT l_orderkey, sum(l_quantity) AS total_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING sum(l_quantity) > ${TpchOps.Q18MinQty})
         |SELECT c_custkey, c_name, o_orderkey,
         |  CAST(o_orderdate AS DATE) AS o_orderdate,
         |  round(total_qty, 4) AS total_qty
         |FROM big JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |ORDER BY total_qty DESC, o_orderkey
         |LIMIT 20""".stripMargin)),
    QuerySpec("q_tpch_q6", TpchOps.forecastRevenue, Oracle(
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),
    QuerySpec("q_tpch_q14", TpchOps.promoRevenue, Oracle(
      """SELECT round(100.0 *
        |    sum(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
        |    sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin)),
    QuerySpec("q_tpch_q19", TpchOps.disjunctiveRevenue, Oracle(
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    QuerySpec("q_tpch_q4", TpchOps.priorityCount, Oracle(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QuerySpec("q_tpch_q22", TpchOps.salesOpportunity, Oracle(
      s"""SELECT c_nationkey, count(*) AS numcust,
         |  round(sum(c_acctbal), 4) AS totacctbal
         |FROM customer
         |WHERE c_acctbal > (SELECT floor(avg(c_acctbal) * 10000 + 0.5) / 10000
         |                   FROM customer WHERE c_acctbal > 0.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |    AND o_orderdate >= TIMESTAMP '${TpchOps.Q22IdleSince}')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    QuerySpec("q_tpch_q7", TpchOps.volumeShipping, Oracle(
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year,
         |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         |FROM supplier
         |  JOIN lineitem ON s_suppkey = l_suppkey
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = '${TpchOps.Q7NationA}'
         |        AND n2.n_name = '${TpchOps.Q7NationB}')
         |    OR (n1.n_name = '${TpchOps.Q7NationB}'
         |        AND n2.n_name = '${TpchOps.Q7NationA}'))
         |  AND l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1999-01-01'
         |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    QuerySpec("q_tpch_q8", TpchOps.marketShare, Oracle(
      s"""SELECT year(o_orderdate) AS o_year,
         |  round(sum(CASE WHEN n2.n_name = '${TpchOps.Q8Nation}'
         |              THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
         |        sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share,
         |  count(*) AS n
         |FROM part
         |  JOIN lineitem ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region ON n1.n_regionkey = r_regionkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY year(o_orderdate) ORDER BY o_year""".stripMargin)),
    QuerySpec("q_tpch_q10", TpchOps.returnedItems, Oracle(
      """SELECT c_custkey, c_name, round(c_acctbal, 4) + 0.0 AS c_acctbal, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, round(c_acctbal, 4), n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    QuerySpec("q_tpch_q12", TpchOps.shipClassPriority, Oracle(
      """SELECT l_linestatus,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |        THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |        THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),
    QuerySpec("q_tpch_q13", TpchOps.customerDistribution, Oracle(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    QuerySpec("q_tpch_q15", TpchOps.topSupplier, Oracle(
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-10-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)),
    QuerySpec("q_tpch_q17", TpchOps.smallQtyRevenue, Oracle(
      s"""SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
         |  count(*) AS n
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = '${TpchOps.Q17Brand}'
         |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
         |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)),
    QuerySpec("q_tpch_q21", TpchOps.waitingSuppliers, Oracle(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),
    // correlated scalar min, written correlated on purpose:
    QuerySpec("q_tpch_q2", TpchOps.minCostSupplier, Oracle(
      // the oracle exercises DuckDB's own decorrelation of the same shape
      s"""WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk,
         |    floor(min(l_extendedprice / l_quantity) * 10000 + 0.5) / 10000 AS cost
         |  FROM lineitem GROUP BY l_partkey, l_suppkey),
         |eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = '${TpchOps.Q2Region}')
         |SELECT round(s_acctbal, 4) AS s_acctbal, s_name, n_name,
         |  p_partkey, cost
         |FROM part JOIN ps ON p_partkey = pk JOIN eu ON sk = s_suppkey
         |WHERE p_size <= ${TpchOps.Q2MaxSize}
         |  AND cost = (SELECT min(ps2.cost) FROM ps ps2
         |    JOIN eu eu2 ON ps2.sk = eu2.s_suppkey
         |    WHERE ps2.pk = p_partkey)
         |ORDER BY round(s_acctbal, 4) DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin)),
    // nested IN + correlated agg, written correlated on
    QuerySpec("q_tpch_q20", TpchOps.dominantSuppliers, Oracle(
      // purpose — the decorrelation is the engine's job on both sides
      s"""SELECT s_suppkey, s_name FROM supplier
         |WHERE s_suppkey IN (
         |  SELECT l_suppkey FROM lineitem l1
         |  WHERE l_partkey IN (SELECT p_partkey FROM part
         |                      WHERE p_type = '${TpchOps.Q20Type}')
         |    AND l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1998-01-01'
         |  GROUP BY l_suppkey, l_partkey
         |  HAVING sum(l_quantity) * 10 > 3 * (SELECT sum(l2.l_quantity)
         |    FROM lineitem l2
         |    WHERE l2.l_partkey = l1.l_partkey
         |      AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
         |      AND l2.l_shipdate < TIMESTAMP '1998-01-01'))
         |ORDER BY s_suppkey""".stripMargin)),
    QuerySpec("q_tpch_q9", TpchOps.productProfit, Oracle(
      s"""WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk,
         |    floor(min(l_extendedprice / l_quantity) * 10000 + 0.5) / 10000 AS cost
         |  FROM lineitem GROUP BY l_partkey, l_suppkey)
         |SELECT n_name, year(o_orderdate) AS o_year,
         |  round(sum(l_extendedprice * (1 - l_discount)
         |    - cost * l_quantity), 4) + 0.0 AS profit
         |FROM lineitem
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN ps ON pk = l_partkey AND sk = l_suppkey
         |  JOIN part ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN nation ON n_nationkey = s_nationkey
         |WHERE p_name LIKE '${TpchOps.Q9PartFamily}'
         |GROUP BY n_name, year(o_orderdate)
         |ORDER BY n_name, o_year DESC""".stripMargin)),
    // the HAVING scalar aggregates the SAME grouped
    QuerySpec("q_tpch_q11", TpchOps.importantParts, Oracle(
      // relation — written that way so DuckDB plans its own CSE of it
      s"""WITH v AS (SELECT l_partkey AS p_partkey,
         |    round(sum(l_extendedprice), 4) AS value
         |  FROM lineitem
         |    JOIN supplier ON s_suppkey = l_suppkey
         |    JOIN nation ON n_nationkey = s_nationkey
         |  WHERE n_name = '${TpchOps.Q11Nation}'
         |  GROUP BY l_partkey)
         |SELECT p_partkey, value FROM v
         |WHERE value > ${TpchOps.Q11MeanMultiple}
         |  * (SELECT sum(value) / count(*) FROM v)
         |ORDER BY value DESC, p_partkey""".stripMargin)),
    QuerySpec("q_tpch_q16", TpchOps.partSupplierCensus, Oracle(
      s"""SELECT p_brand, p_type, p_size,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) psx
         |  JOIN part ON p_partkey = l_partkey
         |WHERE p_brand <> '${TpchOps.Q16ExcludedBrand}'
         |  AND p_type NOT LIKE '${TpchOps.Q16ExcludedTypePrefix}'
         |  AND p_size IN (${TpchOps.Q16Sizes.mkString(", ")})
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
         |                        WHERE s_acctbal < 0)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    // the typed path must land on the plain-AVG answer
    QuerySpec("q_typed_agg", TypedOps.typedAvg, Oracle(
      """SELECT l_returnflag, round(avg(l_discount), 4) AS avg_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // the Variant access path must land on the string-JSON answer
    QuerySpec("q_variant_extract", EventOps.variantExtract, Oracle(
      """SELECT event_type, count(*) AS n,
        |  round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("q_token_mask", TextOps.tokenMask, Oracle(
      s"""WITH t AS (
         |  SELECT doc_id, generate_subscripts(toks, 1) AS p
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |m AS (SELECT doc_id, p,
         |        (('0x' || substr(md5(doc_id || ':' || p), 1, 1))::BIGINT
         |         < ${TextOps.MaskHexLt}) AS m
         |      FROM t),
         |r AS (SELECT doc_id, p, m,
         |        CASE WHEN m THEN row_number() OVER (
         |          PARTITION BY doc_id, m ORDER BY p) END AS rk
         |      FROM m)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |  coalesce(string_agg(CASE WHEN m AND rk <= ${TextOps.MaskHeadK}
         |    THEN CAST(p AS VARCHAR) END, ',' ORDER BY p), '') AS mask_head
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_winsorize", Relational.winsorize, Oracle(
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_clipped_lo,
        |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_clipped_hi,
        |  round(avg(l_extendedprice), 4) AS mean_raw,
        |  round(avg(greatest(lo, least(hi, l_extendedprice))), 4)
        |    AS mean_winsor
        |FROM lineitem JOIN b USING (l_returnflag)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_column_profile", Relational.columnProfile, Oracle(
      """SELECT 'c_acctbal' AS column_name,
        |  count(*) - count(c_acctbal) AS n_nulls,
        |  count(DISTINCT c_acctbal) AS n_distinct,
        |  CAST(min(c_acctbal) AS VARCHAR) AS min_v,
        |  CAST(max(c_acctbal) AS VARCHAR) AS max_v FROM customer
        |UNION ALL SELECT 'c_custkey', count(*) - count(c_custkey),
        |  count(DISTINCT c_custkey),
        |  CAST(min(c_custkey) AS VARCHAR), CAST(max(c_custkey) AS VARCHAR)
        |  FROM customer
        |UNION ALL SELECT 'c_mktsegment', count(*) - count(c_mktsegment),
        |  count(DISTINCT c_mktsegment),
        |  CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR)
        |  FROM customer
        |UNION ALL SELECT 'c_name', count(*) - count(c_name),
        |  count(DISTINCT c_name),
        |  CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR)
        |  FROM customer
        |UNION ALL SELECT 'c_nationkey', count(*) - count(c_nationkey),
        |  count(DISTINCT c_nationkey),
        |  CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
        |  FROM customer
        |ORDER BY column_name""".stripMargin)),
    QuerySpec("q_listagg", Relational.topNamesListAgg, Oracle(
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_name,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer)
        |SELECT c_mktsegment,
        |  string_agg(c_name, ',' ORDER BY rk) AS top_names
        |FROM ranked WHERE rk <= 3
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    // the NULL contract of try_divide/try_add stated as explicit CASE arms
    QuerySpec("q_try_arith", Relational.tryArithmetic, Oracle(
      """SELECT count(*) AS n,
        |  count(CASE WHEN l_quantity <> 1
        |        THEN l_extendedprice / (l_quantity - 1) END) AS n_div_ok,
        |  round(avg(CASE WHEN l_quantity <> 1
        |        THEN l_extendedprice / (l_quantity - 1) END), 4) AS avg_ratio,
        |  count(CASE WHEN l_orderkey % 1000 <> 0 THEN 1 END) AS n_add_ok
        |FROM lineitem""".stripMargin)),
    // every event belongs to the 7 epoch-aligned day windows ending at its day
    QuerySpec("q_sliding_window", EventOps.slidingWindowSum, Oracle(
      """WITH w AS (
        |  SELECT date_trunc('day', ts) - INTERVAL 1 DAY * r.k AS ws, value
        |  FROM events, range(0, 7) r(k))
        |SELECT strftime(ws, '%Y-%m-%d') AS window_start,
        |  round(sum(value), 4) AS value_sum, count(*) AS n_events
        |FROM w GROUP BY 1 ORDER BY window_start""".stripMargin)),
    // n / CAST(... AS DOUBLE): DuckDB's window sum of BIGINT is HUGEINT,
    // whose division semantics shouldn't be load-bearing
    QuerySpec("q_markov", EventOps.markovTransitions, Oracle(
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |t AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 4)
        |    AS prob
        |FROM t ORDER BY from_type, to_type""".stripMargin)),
    QuerySpec("q_streaks", EventOps.activityStreaks, Oracle(
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events),
        |isl AS (
        |  SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |      AS INTEGER) AS anchor
        |  FROM days),
        |s AS (SELECT user_id, anchor, count(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, max(len) AS max_streak,
        |  CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM s GROUP BY 1 ORDER BY max_streak DESC, user_id LIMIT 20""".stripMargin)),
    QuerySpec("q_lateral_topn", Relational.lateralTopN, Oracle(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)),
    QuerySpec("q_array_hof", VectorOps.arrayHof, Oracle(
      """SELECT label, count(*) AS n_vecs,
        |  round(avg(len(list_filter(embedding, x -> x > 0)) / 64.0), 4)
        |    AS avg_pos_frac,
        |  round(avg(list_aggregate(
        |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'sum')), 4)
        |    AS avg_l1,
        |  CAST(sum(CASE WHEN len(list_filter(embedding, x -> abs(x) > 2.0)) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),
    QuerySpec("q_rank_pack", Relational.rankPack, Oracle(
      """SELECT c_custkey, c_mktsegment,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
        |  round(percent_rank() OVER w, 4) AS prank,
        |  round(cume_dist() OVER w, 4) AS cdist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
        |ORDER BY c_custkey""".stripMargin)),
    // the oracle is the DIRECT all-pairs overlap join — the binned Spark
    // plan must reproduce it exactly, duplicates-per-shared-bin and all
    QuerySpec("q_interval_overlap", EventOps.intervalOverlap, Oracle(
      """WITH w AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) > CAST(3600 AS BIGINT) * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM w
        |), numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked
        |), sess AS (
        |  SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |    epoch_us(min(ts)) AS s_start, epoch_us(max(ts)) AS s_end
        |  FROM numbered GROUP BY user_id, session_no
        |), inc AS (
        |  SELECT epoch_us(ts) AS i_start,
        |    epoch_us(ts) + CAST(1800 AS BIGINT) * 1000000 AS i_end
        |  FROM events WHERE event_type = 'error')
        |SELECT user_id, session_no, count(*) AS n_incidents
        |FROM sess, inc
        |WHERE s_start <= i_end AND i_start <= s_end
        |GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin)),
    QuerySpec("q_dedup_snm", TextOps.sortedNeighborhood, Oracle(
      """WITH d AS (
        |  SELECT doc_id, lower(text) AS t, n_chars,
        |    substr(lower(text), 1, 12) AS block
        |  FROM documents),
        |nb AS (
        |  SELECT doc_id AS id_a, t AS t_a,
        |    lead(doc_id, 1) OVER w1 AS id_b, lead(t, 1) OVER w1 AS t_b
        |  FROM d WINDOW w1 AS (PARTITION BY block ORDER BY n_chars, doc_id)
        |  UNION ALL
        |  SELECT doc_id, t, lead(doc_id, 2) OVER w2, lead(t, 2) OVER w2
        |  FROM d WINDOW w2 AS (PARTITION BY block ORDER BY n_chars, doc_id)
        |  UNION ALL
        |  SELECT doc_id, t, lead(doc_id, 3) OVER w3, lead(t, 3) OVER w3
        |  FROM d WINDOW w3 AS (PARTITION BY block ORDER BY n_chars, doc_id))
        |SELECT least(id_a, id_b) AS id_lo, greatest(id_a, id_b) AS id_hi,
        |  CAST(levenshtein(t_a, t_b) AS BIGINT) AS lev
        |FROM nb WHERE id_b IS NOT NULL AND levenshtein(t_a, t_b) <= 20
        |ORDER BY id_lo, id_hi""".stripMargin)),
    // prefix pass ∪ suffix pass, DISTINCT pairs
    QuerySpec("q_dedup_snm_multi", TextOps.sortedNeighborhoodMulti, Oracle(
      """WITH d AS (
        |  SELECT doc_id, lower(text) AS t, n_chars,
        |    substr(lower(text), 1, 12) AS blk_p,
        |    substr(reverse(lower(text)), 1, 12) AS blk_s
        |  FROM documents),
        |nb AS (
        |  SELECT doc_id AS id_a, t AS t_a,
        |    lead(doc_id, 1) OVER w1 AS id_b, lead(t, 1) OVER w1 AS t_b
        |  FROM d WINDOW w1 AS (PARTITION BY blk_p ORDER BY n_chars, doc_id)
        |  UNION ALL
        |  SELECT doc_id, t, lead(doc_id, 2) OVER w2, lead(t, 2) OVER w2
        |  FROM d WINDOW w2 AS (PARTITION BY blk_p ORDER BY n_chars, doc_id)
        |  UNION ALL
        |  SELECT doc_id, t, lead(doc_id, 3) OVER w3, lead(t, 3) OVER w3
        |  FROM d WINDOW w3 AS (PARTITION BY blk_p ORDER BY n_chars, doc_id)
        |  UNION ALL
        |  SELECT doc_id, t, lead(doc_id, 1) OVER s1, lead(t, 1) OVER s1
        |  FROM d WINDOW s1 AS (PARTITION BY blk_s ORDER BY n_chars, doc_id)
        |  UNION ALL
        |  SELECT doc_id, t, lead(doc_id, 2) OVER s2, lead(t, 2) OVER s2
        |  FROM d WINDOW s2 AS (PARTITION BY blk_s ORDER BY n_chars, doc_id)
        |  UNION ALL
        |  SELECT doc_id, t, lead(doc_id, 3) OVER s3, lead(t, 3) OVER s3
        |  FROM d WINDOW s3 AS (PARTITION BY blk_s ORDER BY n_chars, doc_id))
        |SELECT DISTINCT least(id_a, id_b) AS id_lo,
        |  greatest(id_a, id_b) AS id_hi,
        |  CAST(levenshtein(t_a, t_b) AS BIGINT) AS lev
        |FROM nb WHERE id_b IS NOT NULL AND levenshtein(t_a, t_b) <= 20
        |ORDER BY id_lo, id_hi""".stripMargin)),
    // the double chain (cast → multiply → divide → log2 → round 4) is
    // written identically to the Spark side so both engines walk the same
    // IEEE ops
    QuerySpec("q_pmi", TextOps.pmiCollocations, Oracle(
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |uc AS (SELECT w, count(*) AS c
         |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |bc AS (SELECT split_part(bigram, ' ', 1) AS w1,
         |    split_part(bigram, ' ', 2) AS w2, count(*) AS cxy
         |  FROM (SELECT unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |    FROM t WHERE len(toks) >= 2)
         |  GROUP BY 1, 2),
         |tot AS (SELECT (SELECT sum(c) FROM uc) AS n_tok,
         |               (SELECT sum(cxy) FROM bc) AS n_bi)
         |SELECT bc.w1, bc.w2, bc.cxy,
         |  round(log2(CAST(bc.cxy AS DOUBLE) * t2.n_tok * t2.n_tok /
         |    (CAST(t2.n_bi AS DOUBLE) * a.c * b.c)), 4) AS pmi
         |FROM bc
         |JOIN uc a ON a.w = bc.w1
         |JOIN uc b ON b.w = bc.w2
         |CROSS JOIN tot t2
         |WHERE bc.cxy >= 5
         |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)),
    QuerySpec("q_dedup_chunk", TextOps.dedupChunks, Oracle(
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, i AS idx,
         |    array_to_string(list_slice(toks, i*10+1, i*10+10), ' ') AS chunk
         |  FROM t, LATERAL (SELECT unnest(range(0,
         |    CAST(ceil(len(toks)/10.0) AS INT))) AS i) s),
         |k AS (SELECT doc_id, idx, chunk,
         |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1
         |      AS kept
         |  FROM c)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
         |  md5(coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
         |    ORDER BY idx), '')) AS clean_md5
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // edges()-memo user that stages the shared graph edge table for the
    // whole traversal family AT CONSTRUCTION (GraphOps.edges scaladoc);
    // q_also_bought re-derives from the fact and never touches the memo,
    // so it cannot stand in here — q_khop's construction calls edges()
    // and its node-count guard probe, both one-time
    QuerySpec("q_khop", GraphOps.kHop, staged = true, check = Oracle(
      // seed mod + depth interpolated from GraphOps so a constant edit
      // cannot desync oracle and implementation (ADVICE r10)
      s"""WITH RECURSIVE e AS (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS lvl
         |  FROM part WHERE p_partkey % ${GraphOps.KHopSeedMod} = 0
         |  UNION
         |  SELECT e.v, r.lvl + 1 FROM r JOIN e ON e.u = r.node
         |  WHERE r.lvl < ${GraphOps.KHopDepth})
         |SELECT lvl, count(*) AS n_nodes
         |FROM (SELECT node, min(lvl) AS lvl FROM r GROUP BY node) m
         |GROUP BY lvl ORDER BY lvl""".stripMargin)),
    // bounded-horizon Bellman-Ford == min over <= H-edge walks, which is
    // exactly what the depth-bounded recursion enumerates; (node,dist,hop)
    // state stays finite because UNION dedups and w,dist are small ints
    QuerySpec("q_sssp", GraphOps.sssp, Oracle(
      s"""WITH RECURSIVE e AS (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |ew AS (SELECT u, v, 1 + (u + v) % 5 AS w FROM e),
         |r AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist,
         |    0 AS hop
         |  FROM part WHERE p_partkey % ${GraphOps.KHopSeedMod} = 0
         |  UNION
         |  SELECT ew.v, r.dist + ew.w, r.hop + 1
         |  FROM r JOIN ew ON ew.u = r.node WHERE r.hop < ${GraphOps.SsspHops})
         |SELECT dist, count(*) AS n_nodes
         |FROM (SELECT node, min(dist) AS dist FROM r GROUP BY node) m
         |GROUP BY dist ORDER BY dist""".stripMargin)),
    QuerySpec("q_communities", GraphOps.communities, Oracle(lpaSql)),
    // modularity reads the staged LPA label table (communities itself
    // keeps deriving LPA inline — the census times the algorithm, the
    // quality score times the evaluation)
    QuerySpec("q_modularity", GraphOps.modularity, staged = true, check = Oracle(modularitySql)),
    QuerySpec("q_kcore", GraphOps.kcore, Oracle(kcoreSql)),
    QuerySpec("q_link_predict", GraphOps.linkPredict, Oracle(
      s"""WITH e AS (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |adj AS (SELECT u AS w, v AS x FROM e UNION ALL SELECT v, u FROM e),
         |c AS (SELECT w, 1.0 / ln(count(*)) AS wt FROM adj GROUP BY w
         |  HAVING count(*) BETWEEN 2 AND ${GraphOps.LinkPredDegCap}),
         |nb AS (SELECT adj.w, adj.x, c.wt FROM adj JOIN c USING (w)),
         |s AS (SELECT a.x AS u, b.x AS v, count(*) AS n_common,
         |    round(sum(a.wt), 4) AS aa_score
         |  FROM nb a JOIN nb b ON a.w = b.w AND a.x < b.x
         |  GROUP BY 1, 2)
         |SELECT u, v, n_common, aa_score
         |FROM s ANTI JOIN e ON s.u = e.u AND s.v = e.v
         |ORDER BY aa_score DESC, u, v LIMIT ${GraphOps.LinkPredTopK}""".stripMargin)),
    QuerySpec("q_assortativity", GraphOps.assortativity, Oracle(
      """WITH e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY 1)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  count(*) // 2 AS n_edges,
        |  round(corr(CAST(a.deg AS DOUBLE), CAST(b.deg AS DOUBLE)), 4) + 0.0
        |    AS assortativity
        |FROM sym JOIN deg a ON sym.u = a.node JOIN deg b ON sym.v = b.node"""
        .stripMargin)),
    QuerySpec("q_quantile_norm", Relational.quantileNorm, Oracle {
      val ps = (1 to Relational.QNormBuckets)
        .map(d => (d - 0.5) / Relational.QNormBuckets).mkString("[", ", ", "]")
      s"""WITH g AS (SELECT quantile_cont(c_acctbal, $ps) AS qs FROM customer),
         |grid AS (SELECT CAST(generate_subscripts(qs, 1) AS BIGINT) AS decile,
         |    round(unnest(qs), 4) + 0.0 AS norm_value FROM g),
         |r AS (SELECT c_mktsegment AS segment,
         |    CAST(ntile(${Relational.QNormBuckets}) OVER (
         |      PARTITION BY c_mktsegment
         |      ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile,
         |    c_acctbal
         |  FROM customer),
         |s AS (SELECT segment, decile, count(*) AS n,
         |    round(avg(c_acctbal), 4) + 0.0 AS mean_raw
         |  FROM r GROUP BY 1, 2)
         |SELECT segment, decile, n, mean_raw, norm_value
         |FROM s JOIN grid USING (decile)
         |ORDER BY segment, decile""".stripMargin
    }),
    QuerySpec("q_also_bought", GraphOps.alsoBought, Oracle(
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |deg AS (SELECT l_partkey AS p, count(DISTINCT l_orderkey) AS orders
        |  FROM li GROUP BY 1),
        |tgt AS (SELECT p, orders AS p_orders FROM deg
        |  ORDER BY orders DESC, p LIMIT 10),
        |pairs AS (
        |  SELECT t.p, t.p_orders, b.l_partkey AS q,
        |    count(DISTINCT a.l_orderkey) AS cooc
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  JOIN tgt t ON t.p = a.l_partkey
        |  GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT p.p, p.q, p.cooc,
        |    round(CAST(p.cooc AS DOUBLE) /
        |      (p.p_orders + d.orders - p.cooc), 4) AS jac
        |  FROM pairs p JOIN deg d ON d.p = p.q)
        |SELECT p, rk, q, cooc, jac FROM (
        |  SELECT p, q, cooc, jac,
        |    CAST(row_number() OVER (PARTITION BY p ORDER BY jac DESC, q)
        |      AS BIGINT) AS rk
        |  FROM scored)
        |WHERE rk <= 3 ORDER BY p, rk""".stripMargin)),
    // same smoothing chain as the Spark side: (cxy+1)/(cx+V) in doubles,
    // log2, occurrence-weighted mean, round(4); docs with < 2 tokens have
    // no bigrams and drop out of both engines identically
    QuerySpec("q_lm_perplexity", TextOps.lmPerplexity, Oracle(
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |uc AS (SELECT w, count(*) AS cx
         |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |bo AS (SELECT doc_id, split_part(bigram, ' ', 1) AS w1,
         |    split_part(bigram, ' ', 2) AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |    FROM t WHERE len(toks) >= 2)),
         |bc AS (SELECT w1, w2, count(*) AS cxy FROM bo GROUP BY 1, 2),
         |db AS (SELECT doc_id, w1, w2, count(*) AS n FROM bo GROUP BY 1, 2, 3),
         |v AS (SELECT count(*) AS vsz FROM uc)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |  round(sum(n * lp) / sum(n), 4) + 0.0 AS avg_lp,
         |  round(pow(2.0, -sum(n * lp) / sum(n)), 4) AS ppl
         |FROM (SELECT db.doc_id, db.n,
         |    log2(CAST(bc.cxy + 1 AS DOUBLE) / (uc.cx + v.vsz)) AS lp
         |  FROM db
         |  JOIN bc ON bc.w1 = db.w1 AND bc.w2 = db.w2
         |  JOIN uc ON uc.w = db.w1
         |  CROSS JOIN v)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_semdedup", VectorOps.semDedup(_, _), Twin("q_dedup_cosine"))))

  /** Build function per declared query, derived from [[registry]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(r => r.name -> r.run).toMap

  /** DuckDB SQL per oracled query — the view Verify writes to
    * `oracle_sql.json`. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case QuerySpec(n, _, o: Oracle, _) => n -> o.sql }.toMap

  /** DuckDB CTE mirroring Scoring.synthCustomers + Scoring.impute verbatim
    * (constants from the reference pickle, FIXTURES.md §B). */
  private val synthSql: String = {
    import Scoring.ModelConstants._
    val synth = """
      |WITH synth AS (
      |  SELECT c_custkey AS customer_id,
      |    CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE CAST(c_custkey % 60 + 18 AS DOUBLE) END AS age,
      |    CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE CAST(c_custkey % 73 AS DOUBLE) END AS tenure,
      |    CAST(c_custkey % 51 AS DOUBLE) AS usage_frequency,
      |    CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE CAST(c_custkey % 21 AS DOUBLE) END AS support_calls,
      |    CAST(c_custkey % 31 AS DOUBLE) AS payment_delay,
      |    CASE WHEN c_custkey % 19 = 0 THEN NULL ELSE abs(c_acctbal) END AS total_spend,
      |    CAST(c_custkey % 29 AS DOUBLE) AS last_interaction,
      |    CASE WHEN c_custkey % 23 = 0 THEN NULL
      |         WHEN c_custkey % 37 = 0 THEN 'Other'
      |         WHEN c_custkey % 2 = 0 THEN 'Male' ELSE 'Female' END AS gender,
      |    CASE WHEN c_custkey % 41 = 0 THEN NULL
      |         WHEN c_custkey % 3 = 0 THEN 'Basic'
      |         WHEN c_custkey % 3 = 1 THEN 'Premium' ELSE 'Standard' END AS subscription_type,
      |    CASE WHEN c_custkey % 43 = 0 THEN 'Biennial'
      |         WHEN (c_custkey + 1) % 3 = 0 THEN 'Annual'
      |         WHEN (c_custkey + 1) % 3 = 1 THEN 'Monthly' ELSE 'Quarterly' END AS contract_length
      |  FROM customer
      |), imputed AS (
      |  SELECT customer_id,
      |""".stripMargin
    val numImp = numericCols.zip(medians).map { case (c, m) =>
      if (c == "usage_frequency" || c == "payment_delay" || c == "last_interaction") s"    $c"
      else s"    COALESCE($c, $m) AS $c"
    }
    val catImp = catCols.map(c => s"    COALESCE($c, '${modes(c)}') AS $c")
    synth + (numImp ++ catImp).mkString(",\n") + "\n  FROM synth\n)"
  }

  private val scaleSelect: String = {
    import Scoring.ModelConstants._
    numericCols.zip(means.zip(scales)).map { case (c, (m, s)) =>
      s"round(($c - $m) / $s, 4) + 0.0 AS z_$c"
    }.mkString(", ")
  }

  private val onehotSelect: String =
    Scoring.ModelConstants.onehotCols.map { case (out, src, v) =>
      s"CAST(CASE WHEN $src = '$v' THEN 1 ELSE 0 END AS DOUBLE) AS $out"
    }.mkString(", ")

  /** DuckDB twin of Scoring.scoreExact: the 400 fitted trees mechanically
    * unrolled to nested CASE over REAL (float32) columns — same single
    * source of truth ([[graft.functions.XgbModel]]) as the Spark scorer, so
    * the float32 margins agree bit-for-bit across engines. */
  private def scoreExactSql: String = {
    import Scoring.ModelConstants._
    val numFeats = numericCols.zip(means.zip(scales)).map { case (c, (m, s)) =>
      s"CAST(($c - $m) / $s AS REAL)"
    }
    val catFeats = onehotCols.map { case (_, src, v) =>
      s"CAST(CASE WHEN $src = '$v' THEN 1 ELSE 0 END AS REAL)"
    }
    val featSelect = (numFeats ++ catFeats).zipWithIndex
      .map { case (e, i) => s"    $e AS f$i" }.mkString(",\n")
    val featNames = (0 until graft.functions.XgbModel.numFeatures)
      .map(i => s"f$i").mkString(", ")
    val chunks = graft.functions.XgbModel.oracleMarginChunks(i => s"f$i")
    // chunked partial sums (DuckDB binder depth cap), sequential order kept
    val chunkCtes = chunks.zipWithIndex.map { case (expr, i) =>
      val src = if (i == 0) "feats" else s"m${i - 1}"
      val carryCols = if (i == chunks.size - 1) "customer_id"
        else s"customer_id, $featNames"
      s"m$i AS (\n  SELECT $carryCols, $expr AS acc$i FROM $src\n)"
    }
    s"""$synthSql, feats AS (
       |  SELECT customer_id,
       |$featSelect
       |  FROM imputed
       |), ${chunkCtes.mkString(", ")}, margins AS (
       |  SELECT customer_id,
       |    ${graft.functions.XgbModel.oracleBaseLit} + acc${chunks.size - 1} AS margin
       |  FROM m${chunks.size - 1}
       |), probs AS (
       |  SELECT customer_id, margin,
       |    CAST(CAST(1.0 / (1.0 + exp(-CAST(margin AS DOUBLE))) AS REAL)
       |      AS DOUBLE) AS p
       |  FROM margins
       |)
       |SELECT customer_id, p AS churn_prob,
       |  CAST(p > 0.5 AS BIGINT) AS churn_pred,
       |  CASE WHEN p < 0.3 THEN 'Low' WHEN p < 0.7 THEN 'Medium'
       |       ELSE 'High' END AS risk,
       |  printf('%.2f%%', round(p * 100, 2)) AS churn_pct
       |FROM probs ORDER BY customer_id""".stripMargin
  }

  /** Shared DuckDB tokenization (mirrors TextOps.tokens / shingles3). */
  private val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** The BM25 CTE chain over an optionally-filtered corpus — shared by
    * the q_bm25/q_bm25_store oracle (no filter) and the q_lex_lifecycle
    * oracle (the % 7 ≠ 3 post-erasure corpus). */
  private def bm25Ctes(where: String = ""): String =
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents$where),
       |dl AS (SELECT doc_id, count(*) AS len FROM tk GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len) AS avg_len
       |       FROM dl),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
       |       WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2),
       |dfq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |        FROM tf GROUP BY 1)""".stripMargin

  /** The BM25 scoring select over [[bm25Ctes]]'s relations. */
  private def bm25Select: String =
    """SELECT doc_id,
      |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
      |    * (tf * (1.2 + 1))
      |    / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avg_len))), 4) AS bm25
      |FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
      |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** DuckDB twin of BOTH q_bm25 (in-query df recount) and q_bm25_store
    * (df probed from the maintained lexical artifact): the maintained
    * counts are exact Longs equal to this recompute — q_df_update's
    * oracled contract — so one SQL oracles both forms. */
  private def bm25Sql: String = s"${bm25Ctes()}\n$bm25Select"

  /** DuckDB twin of BOTH q_df_update (standing corpus partition + ingest
    * batch merged by exact Long addition) and q_stream_df (the same merge
    * fed by a drained multi-micro-batch ingest stream): doc-disjoint
    * partitions/micro-batches make df additive, so each equals the
    * full-corpus recompute verbatim — integer counts, no rounding. */
  private def lexFullRecomputeSql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '')) AS tok
      |  FROM documents)
      |SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
      |  CAST(count(*) AS BIGINT) AS tf
      |FROM tk GROUP BY tok ORDER BY tok""".stripMargin

  /** DuckDB twin of BOTH lifecycle compositions over the lexical tier —
    * q_lex_lifecycle (aggregate Long-merge maintenance, recount serving)
    * and q_postings_lifecycle (per-document append/delete maintenance,
    * standing-artifact serving): both end at BM25 over the post-erasure
    * corpus with per-stage document-count audit columns, and both equal
    * this recompute exactly (integer counts / shared scoring spelling). */
  private def lexLifecycleSql: String =
    s"""${bm25Ctes(" WHERE doc_id % 7 <> 3")},
       |scored AS MATERIALIZED ($bm25Select)
       |SELECT doc_id, bm25,
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents
       |    WHERE doc_id % 10 <> 0) AS n_standing,
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_after_ingest,
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents
       |    WHERE doc_id % 7 <> 3) AS n_live
       |FROM scored ORDER BY bm25 DESC, doc_id""".stripMargin

  /** DuckDB twin of the postings-maintenance family: the full (or
    * `where`-restricted) per-document postings recompute — q_postings_
    * update / q_stream_postings (append == full recompute, by
    * doc-disjointness) and q_postings_downdate (delete == remaining-
    * corpus recompute, by per-document rows). Integer counts only. */
  private def postingsRecomputeSql(where: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(list_filter(
       |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |    x -> x <> '')) AS tok
       |  FROM documents$where)
       |SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |FROM tk GROUP BY doc_id, tok ORDER BY doc_id, tok""".stripMargin

  /** DuckDB twin of BOTH q_tfidf and q_tfidf_store (same store-exactness
    * argument as [[bm25Sql]]). */
  private def tfidfSql: String = tfidfSqlOver("")

  /** The same TF-IDF recompute over an optionally-restricted corpus — the
    * bm25Ctes seam: `where` filters BOTH the token relation and the
    * all-documents n_docs count (zero-token documents count toward it),
    * which is the q_tfidf_lifecycle oracle at " WHERE doc_id % 7 <> 3". */
  private def tfidfSqlOver(where: String): String =
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents$where),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
       |dfq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |        FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents$where),
       |scored AS (
       |  SELECT doc_id, tok, round(tf * ln(n_docs / df), 4) AS score
       |  FROM tf JOIN dfq USING (tok) CROSS JOIN n),
       |ranked AS (SELECT doc_id, tok, score,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
       |  FROM scored)
       |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, score
       |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** The merge-round CTE chain shared by [[bpeMergesSql]] and
    * [[bpeEncodeSql]]. Word tables carry the original word `w` through
    * every round so the final w$rounds doubles as the encode dictionary
    * (word → its post-merge segmentation), exactly like the Scala
    * trainer's word table. */
  private def bpeChainSql: String = {
    val rounds = graft.ops.TextOps.BpeRounds
    val iters = (1 to rounds).map { i =>
      s"""p$i AS (
         |  SELECT unnest(list_transform(range(1, len(a)), j -> a[j] || ' ' || a[j+1])) AS p, n
         |  FROM (SELECT string_split(s, ' ') AS a, n FROM w${i - 1})
         |  WHERE len(a) >= 2
         |), t$i AS MATERIALIZED (
         |  SELECT p, CAST(sum(n) AS BIGINT) AS cnt FROM p$i GROUP BY p
         |  ORDER BY cnt DESC, p LIMIT 1
         |), w$i AS MATERIALIZED (
         |  SELECT w, CASE WHEN (SELECT count(*) FROM t$i) = 0 THEN s
         |    ELSE regexp_replace(s, '\\b' || (SELECT p FROM t$i) || '\\b',
         |      replace((SELECT p FROM t$i), ' ', ''), 'g') END AS s, n
         |  FROM w${i - 1}
         |)""".stripMargin
    }.mkString(", ")
    s"""toks AS (SELECT unnest($toksSql) AS w FROM documents),
       |w0 AS MATERIALIZED (SELECT w,
       |       trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s,
       |       count(*) AS n FROM toks GROUP BY w),
       |$iters""".stripMargin
  }

  /** DuckDB twin of TextOps.bpeMerges: the [[graft.ops.TextOps.BpeRounds]]
    * greedy merge rounds mechanically unrolled as chained CTEs — each round
    * re-derives the argmax pair and rewrites the word table exactly like the
    * Spark loop (same tie-break, same left-to-right non-overlapping
    * replacement). A round past vocabulary exhaustion (empty t_i) passes
    * rows through unchanged — without the CASE guard, the NULL scalar
    * subquery would NULL every row of all later CTEs via regexp_replace. */
  private def bpeMergesSql: String = {
    val rounds = graft.ops.TextOps.BpeRounds
    val unions = (1 to rounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, p AS pair, cnt AS weight FROM t$i")
      .mkString("\nUNION ALL ")
    s"""WITH $bpeChainSql
       |$unions
       |ORDER BY rank""".stripMargin
  }

  /** DuckDB twin of TextOps.bpeEncode: the same unrolled merge chain, then
    * the corpus tokens join the final word table for per-doc unit counts. */
  private def bpeEncodeSql: String = {
    val rounds = graft.ops.TextOps.BpeRounds
    s"""WITH $bpeChainSql,
       |dw AS (SELECT doc_id, unnest($toksSql) AS w FROM documents)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split(v.s, ' '))) AS BIGINT) AS n_units,
       |  round(CAST(sum(len(string_split(v.s, ' '))) AS DOUBLE) / count(*), 4)
       |    AS units_per_word
       |FROM dw JOIN w$rounds v USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of TextOps.repetition; also embedded as a CTE by the
    * q_quality_filter composition. */
  private val repetitionSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg
       |  FROM t WHERE len(toks) >= 2),
       |agg AS (SELECT doc_id, count(*) AS n, count(DISTINCT bg) AS d
       |        FROM bg GROUP BY 1)
       |SELECT t.doc_id,
       |  CASE WHEN n > 0 THEN round(1 - CAST(d AS DOUBLE) / n, 4)
       |       ELSE 0.0 END AS rep_ratio
       |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** DuckDB twin of TextOps.langIdOf: stopword-hit counts per language,
    * argmax with the same tie-break as Spark's greatest-of-struct (higher
    * hits wins; equal hits -> lexicographically larger language code). */
  private val langIdSql: String = {
    val langs = TextOps.langStopwords.toSeq.sortBy(_._1) // de, en, es, fr
    val hitCols = langs.map { case (lang, sw) =>
      val list = sw.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> list_contains([$list], x))) AS $lang"
    }.mkString(",\n    ")
    val tieOrder = langs.map(_._1).sorted.reverse // fr, es, en, de
    val m = s"greatest(${langs.map(_._1).mkString(", ")})"
    val cases = tieOrder.init.map(l => s"WHEN $l = $m THEN '$l'").mkString(" ")
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |hits AS (SELECT doc_id,
       |    $hitCols
       |  FROM toks)
       |SELECT doc_id, CASE WHEN $m = 0 THEN 'und' $cases
       |  ELSE '${tieOrder.last}' END AS lang_pred
       |FROM hits ORDER BY doc_id""".stripMargin
  }
  private val jaccardBase = s"""
    |WITH t AS (
    |  SELECT doc_id, $toksSql AS toks FROM documents
    |), sh AS (
    |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
    |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
    |  FROM t WHERE len(toks) >= 3
    |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    |pairs AS (
    |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
    |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
    |)""".stripMargin

  /** Shared recursive connected-components chain over the near-dup pair
    * graph — consumed by both q_dup_clusters (cluster labels) and
    * q_dedup_canonical (labels + keep/drop decision). */
  private val clusterChainSql =
    jaccardBase.replaceFirst("WITH", "WITH RECURSIVE") + """,
      |pr AS (
      |  SELECT id_a, id_b
      |  FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) >= 0.8),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pr
      |  UNION SELECT id_b, id_a FROM pr),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  private val embSql =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"
  private def normSql(a: String) = s"sqrt(list_sum(list_transform($a, x -> x * x)))"
  /** The cov quantization grid (2^24) — interpolated from the single
    * source of truth so the oracle can never drift from the buffer. */
  private val covGrid = graft.functions.CovFunctions.CovGridScale

  /** Shared CTE chain of the hybrid-retrieval oracles, ending at the
    * `fused` relation (doc_id, rank_lex, rank_dense, rrf): the bm25 arm's
    * oracled SQL, the exact-cosine arm's, integer-rank windows, and the
    * two-term RRF — composed verbatim by q_hybrid_retrieval (final sort)
    * and q_retrieval_eval (recall/MRR audit over the same fused table). */
  private def hybridFusedCtes: String = hybridFusedCtesOver("", "")

  /** The same fused CTE chain over restricted corpus views — `docWhere`
    * filters the lexical arm's documents (e.g. " WHERE doc_id % 7 <> 3"),
    * `vecAnd` AND-extends the dense arm's candidate predicate (e.g.
    * " AND e.vec_id % 7 <> 3") — the q_hybrid_lifecycle oracle: both
    * arms' recomputes over the post-erasure corpus, fused identically. */
  private def hybridFusedCtesOver(docWhere: String, vecAnd: String): String =
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents$docWhere),
       |dl AS (SELECT doc_id, count(*) AS len FROM tk GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len) AS avg_len
       |       FROM dl),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
       |       WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2),
       |dfq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |        FROM tf GROUP BY 1),
       |lexs AS (SELECT doc_id,
       |    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
       |      * (tf * (1.2 + 1))
       |      / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avg_len))), 4) AS bm25
       |  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
       |  GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
       |lex AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex FROM lexs),
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
       |denses AS (SELECT e.vec_id,
       |    round(${dotSql("e.v", "p.pv")} / (${normSql("e.v")} * ${normSql("p.pv")}), 4) AS cos
       |  FROM e, probe p WHERE e.vec_id <> 0$vecAnd
       |  ORDER BY cos DESC, vec_id LIMIT ${TextOps.HybridTopN}),
       |dense AS (SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rank_dense FROM denses),
       |fused AS MATERIALIZED (SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
       |  CAST(coalesce(l.rank_lex, 0) AS BIGINT) AS rank_lex,
       |  CAST(coalesce(d.rank_dense, 0) AS BIGINT) AS rank_dense
       |FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)""".stripMargin

  /** The retrieval-quality metric block over a fused CTE chain — recall@k
    * and MRR of each arm vs the fused consensus, exact rationals of the
    * integer ranks — shared by q_retrieval_eval (the plain fused CTEs) and
    * q_retrieval_eval_lifecycle (the post-erasure ones): one oracle
    * spelling of the audit arithmetic, like the Spark side's
    * retrievalEvalFrom. */
  private def retrievalEvalSqlOver(ctes: String): String =
    s"""$ctes,
       |scored AS (SELECT fused.*, $rrfScoreSql AS rrf FROM fused),
       |gt AS (SELECT * FROM (
       |    SELECT scored.*, row_number() OVER (ORDER BY rrf DESC, doc_id) AS gt_rank
       |    FROM scored) WHERE gt_rank <= ${TextOps.EvalK}),
       |m AS MATERIALIZED (SELECT
       |    sum(CASE WHEN rank_lex BETWEEN 1 AND ${TextOps.EvalK} THEN 1 ELSE 0 END) AS hl,
       |    sum(CASE WHEN rank_dense BETWEEN 1 AND ${TextOps.EvalK} THEN 1 ELSE 0 END) AS hd,
       |    max(CASE WHEN gt_rank = 1 THEN
       |      CASE WHEN rank_lex > 0 THEN 1.0 / rank_lex ELSE 0.0 END END) AS ml,
       |    max(CASE WHEN gt_rank = 1 THEN
       |      CASE WHEN rank_dense > 0 THEN 1.0 / rank_dense ELSE 0.0 END END) AS md
       |  FROM gt)
       |SELECT s.system,
       |  round(CASE WHEN s.system = 'bm25_arm' THEN hl ELSE hd END
       |    / CAST(${TextOps.EvalK} AS DOUBLE), 4) AS recall_at_3,
       |  round(CASE WHEN s.system = 'bm25_arm' THEN ml ELSE md END, 4) AS mrr
       |FROM m, (VALUES ('bm25_arm'), ('dense_arm')) AS s(system)
       |ORDER BY s.system""".stripMargin

  /** The two-term RRF score over the fused CTE's integer rank columns —
    * spelled in each consumer's own select (not inside the CTE) so
    * tools_margin's final-select audit keeps covering the round. Rank 0 =
    * absent from that arm, contributes 0. */
  private def rrfScoreSql: String =
    s"""round(CASE WHEN rank_lex > 0 THEN 1.0 / (${TextOps.RrfK} + rank_lex) ELSE 0.0 END
       |    + CASE WHEN rank_dense > 0 THEN 1.0 / (${TextOps.RrfK} + rank_dense) ELSE 0.0 END, 6)""".stripMargin


  /** The unrolled-LPA CTE prefix ([[GraphOps.lpaLabels]]'s vote rounds as
    * materialized CTEs) — shared by the `q_communities` census and the
    * `q_modularity` quality oracle so both score the same label table. */
  private def lpaCtes: String = {
    val rounds = (1 to GraphOps.LpaRounds).map { r =>
      s"""l$r AS (SELECT src AS node, label FROM (
         |  SELECT src, label,
         |    row_number() OVER (PARTITION BY src ORDER BY cnt DESC, label) AS rn
         |  FROM (SELECT ws.src, l.label, count(*) AS cnt
         |    FROM ws JOIN l${r - 1} l ON l.node = ws.dst GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH dir AS (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT src AS node FROM dir),
       |ws AS (SELECT src, dst FROM dir UNION ALL SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$rounds""".stripMargin
  }

  /** DuckDB twin of [[GraphOps.communities]]: the same [[GraphOps.LpaRounds]]
    * synchronous label-propagation vote rounds mechanically unrolled as CTEs
    * in [[lpaCtes]] (the bounded-recursion discipline of the khop/bpe
    * oracles — rounds and top-k interpolated from the GraphOps constants so
    * an edit cannot desync oracle and implementation). Each round: count neighbor+self labels per
    * node, keep the (count desc, label asc) winner via row_number — the SQL
    * spelling of the Spark side's `max_by(label, (cnt, -label))`. */
  private def lpaSql: String =
    s"""$lpaCtes
       |SELECT label AS community, count(*) AS n_members
       |FROM l${GraphOps.LpaRounds}
       |GROUP BY 1 ORDER BY n_members DESC, community
       |LIMIT ${GraphOps.LpaTopK}""".stripMargin

  /** DuckDB twin of BOTH q_embed_cov (one-pass exact-quantized covariance)
    * and q_cov_update (standing-sums + batch merge): the full recompute
    * over the whole table. The `+ 0.0` after round canonicalizes the zero
    * (see q_embed_cov's registry comment). */
  private def covFullRecomputeSql: String =
    s"""WITH x AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings)
       |SELECT a.i, b.i AS j,
       |  round(CAST(sum(CAST(floor(a.v * b.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*)
       |    - (CAST(sum(CAST(floor(a.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*))
       |      * (CAST(sum(CAST(floor(b.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*)), 6) + 0.0 AS cov
       |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
       |GROUP BY 1, 2 ORDER BY a.i, j""".stripMargin

  /** Shared CTE prefix of the pca oracles: the exact-cov matrix + the
    * unrolled power-iteration rounds (ends at y<K>/m<K>/v<K>).
    * `AS MATERIALIZED` on every chained CTE is load-bearing: DuckDB
    * inlines CTEs by default, and each v_r references y_r twice (directly
    * and through m_r), so inlining re-expands the whole chain 2^K times —
    * the plain oracle ran minutes instead of seconds. Values are
    * unaffected (the arithmetic is exact either way). */
  private def pcaCtes: String = {
    val k = VectorOps.PcaRounds
    val rounds = (1 to k).map { r =>
      val pv = s"v${r - 1}"
      s"""y$r AS MATERIALIZED (SELECT f.i,
         |    CAST(sum(CAST(floor(f.cov * $pv.v * $covGrid.0) AS BIGINT)) AS DOUBLE)
         |      / $covGrid.0 AS y
         |  FROM fm f JOIN $pv ON $pv.j = f.j GROUP BY f.i),
         |m$r AS MATERIALIZED (SELECT max(abs(y)) AS m FROM y$r),
         |v$r AS MATERIALIZED (SELECT y$r.i AS j, y$r.y / m$r.m AS v FROM y$r, m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |tri AS MATERIALIZED (SELECT a.i, b.i AS j,
       |    CAST(sum(CAST(floor(a.v * b.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*)
       |    - (CAST(sum(CAST(floor(a.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*))
       |      * (CAST(sum(CAST(floor(b.v * $covGrid.0) AS BIGINT)) AS DOUBLE) / $covGrid.0 / count(*)) AS cov
       |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2),
       |fm AS MATERIALIZED (SELECT i, j, cov FROM tri
       |  UNION ALL SELECT j AS i, i AS j, cov FROM tri WHERE i <> j),
       |v0 AS (SELECT DISTINCT i AS j, 1.0 AS v FROM fm),
       |$rounds""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.VectorOps.pcaPower]]: the exact-cov matrix
    * derived in-query with the same quantized-Long arithmetic as the
    * q_embed_cov oracle (UNROUNDED — the staged artifact's full-precision
    * value), then [[graft.ops.VectorOps.PcaRounds]] power-iteration rounds
    * mechanically unrolled as CTEs — each round a quantized-Long
    * matrix-vector product and an ∞-norm normalization, spelled identically
    * to the Spark side so the eigenpair is value-checked, not smoke-checked. */
  private def pcaPowerSql: String = {
    val k = VectorOps.PcaRounds
    s"""$pcaCtes,
       |tr AS MATERIALIZED (SELECT
       |    CAST(sum(CAST(floor(cov * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |      / $covGrid.0 AS trace
       |  FROM fm WHERE i = j)
       |SELECT y$k.i, round(y$k.y / m$k.m, 6) + 0.0 AS comp,
       |  round(m$k.m, 6) AS lambda,
       |  round(m$k.m / tr.trace, 6) AS var_explained
       |FROM y$k, m$k, tr ORDER BY y$k.i""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.VectorOps.pcaProject]]: joins the exploded
    * elements (the shared `x` CTE) against the ROUNDED published
    * eigenvector — the same values the Spark side broadcasts — and forms
    * the identical quantized-Long dot product. */
  private def pcaProjectSql: String = {
    val k = VectorOps.PcaRounds
    s"""$pcaCtes,
       |pc AS (SELECT y$k.i, round(y$k.y / m$k.m, 6) + 0.0 AS comp FROM y$k, m$k)
       |SELECT e.vec_id,
       |  round(CAST(sum(CAST(floor(e.v * pc.comp * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |    / $covGrid.0, 4) + 0.0 AS proj
       |FROM x e JOIN pc ON pc.i = e.i
       |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.VectorOps.pcaDeflate]]: the shared PCA CTE
    * prefix publishes the top eigenpair, a deflation CTE forms
    * A′ = A − λ·u uᵀ/(uᵀu) from the ROUNDED published values (identical on
    * the Spark side, which reads the staged artifact), and the same
    * unrolled quantized power iteration runs over A′ from the e₀ start. */
  private def pcaDeflateSql: String = {
    val k = VectorOps.PcaRounds
    s"""$pcaCtes,
       |$deflateCtes
       |SELECT z$k.i, round(z$k.y / n$k.m, 6) + 0.0 AS comp2,
       |  round(n$k.m, 6) AS lambda2
       |FROM z$k, n$k ORDER BY z$k.i""".stripMargin
  }

  /** The deflation + second-iteration CTE chain shared by the deflate and
    * whiten oracles (everything pcaDeflateSql builds after the shared
    * [[pcaCtes]] prefix, ending at z<K>/n<K>). */
  private def deflateCtes: String = {
    val k = VectorOps.PcaRounds
    val rounds = (1 to k).map { r =>
      val pv = s"w${r - 1}"
      s"""z$r AS MATERIALIZED (SELECT f.i,
         |    CAST(sum(CAST(floor(f.cov * $pv.v * $covGrid.0) AS BIGINT)) AS DOUBLE)
         |      / $covGrid.0 AS y
         |  FROM a2 f JOIN $pv ON $pv.j = f.j GROUP BY f.i),
         |n$r AS MATERIALIZED (SELECT max(abs(y)) AS m FROM z$r),
         |w$r AS MATERIALIZED (SELECT z$r.i AS j, z$r.y / n$r.m AS v FROM z$r, n$r)""".stripMargin
    }.mkString(",\n")
    s"""pc AS MATERIALIZED (SELECT y$k.i, round(y$k.y / m$k.m, 6) + 0.0 AS comp,
       |  round(m$k.m, 6) AS lambda FROM y$k, m$k),
       |sq AS MATERIALIZED (SELECT
       |    CAST(sum(CAST(floor(comp * comp * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |      / $covGrid.0 AS s,
       |    max(lambda) AS l
       |  FROM pc),
       |a2 AS MATERIALIZED (SELECT f.i, f.j,
       |    f.cov - sq.l * pa.comp * pb.comp / sq.s AS cov
       |  FROM fm f JOIN pc pa ON pa.i = f.i JOIN pc pb ON pb.i = f.j, sq),
       |w0 AS (SELECT DISTINCT i AS j,
       |  CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END AS v FROM a2),
       |$rounds""".stripMargin
  }

  /** The SECOND deflation + third-iteration CTE chain (rung 3 of the
    * eigen-ladder, r15): publish the rounded rung-2 eigenpair out of the
    * shared [[deflateCtes]] tail (z<K>/n<K>), deflate A′ by it with the
    * identical Hotelling expression, and unroll the same quantized rounds
    * from the e₁ start ([[graft.ops.VectorOps.rungStart]] for k = 3).
    * Ends at t<K>/o<K>. */
  private def deflate2Ctes: String = {
    val k = VectorOps.PcaRounds
    val rounds = (1 to k).map { r =>
      val pv = s"u${r - 1}"
      s"""t$r AS MATERIALIZED (SELECT f.i,
         |    CAST(sum(CAST(floor(f.cov * $pv.v * $covGrid.0) AS BIGINT)) AS DOUBLE)
         |      / $covGrid.0 AS y
         |  FROM a3 f JOIN $pv ON $pv.j = f.j GROUP BY f.i),
         |o$r AS MATERIALIZED (SELECT max(abs(y)) AS m FROM t$r),
         |u$r AS MATERIALIZED (SELECT t$r.i AS j, t$r.y / o$r.m AS v FROM t$r, o$r)""".stripMargin
    }.mkString(",\n")
    s"""pc2 AS MATERIALIZED (SELECT z$k.i, round(z$k.y / n$k.m, 6) + 0.0 AS comp2,
       |  round(n$k.m, 6) AS lambda2 FROM z$k, n$k),
       |sq2 AS MATERIALIZED (SELECT
       |    CAST(sum(CAST(floor(comp2 * comp2 * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |      / $covGrid.0 AS s,
       |    max(lambda2) AS l
       |  FROM pc2),
       |a3 AS MATERIALIZED (SELECT f.i, f.j,
       |    f.cov - sq2.l * pa.comp2 * pb.comp2 / sq2.s AS cov
       |  FROM a2 f JOIN pc2 pa ON pa.i = f.i JOIN pc2 pb ON pb.i = f.j, sq2),
       |u0 AS (SELECT DISTINCT i AS j,
       |  CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS v FROM a3),
       |$rounds""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.VectorOps.pcaK3]]: both prior eigenpairs
    * come out of the shared chains as ROUNDED published values (exactly
    * what the Spark side reads from its staged artifacts), each deflation
    * is the identical IEEE expression over them, and the third iteration
    * unrolls the same quantized rounds. */
  private def pcaK3Sql: String = {
    val k = VectorOps.PcaRounds
    s"""$pcaCtes,
       |$deflateCtes,
       |$deflate2Ctes
       |SELECT t$k.i, round(t$k.y / o$k.m, 6) + 0.0 AS comp3,
       |  round(o$k.m, 6) AS lambda3
       |FROM t$k, o$k ORDER BY t$k.i""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.VectorOps.whiten3]] (the k = 3 whitening
    * consumer over the full ladder): all three published rounded
    * eigenpairs come out of the shared chains — `pc` from [[deflateCtes]],
    * `pc2` from [[deflate2Ctes]], `pc3` published here off the third
    * iteration's tail — and the three per-vector projections are the
    * identical quantized-Long dot products, each /√λ one correctly-rounded
    * IEEE op, spelled in the Spark side's order ((Σ/g) / sqrt(λ)). The
    * SIGNED w rounds stay in the FINAL select where the margin audit's
    * final-unit pass covers them (the q_whiten discipline). */
  private def whiten3Sql: String = {
    val k = VectorOps.PcaRounds
    s"""$pcaCtes,
       |$deflateCtes,
       |$deflate2Ctes,
       |pc3 AS MATERIALIZED (SELECT t$k.i, round(t$k.y / o$k.m, 6) + 0.0 AS comp3,
       |  round(o$k.m, 6) AS lambda3 FROM t$k, o$k),
       |l AS (SELECT (SELECT max(lambda) FROM pc) AS l1,
       |  (SELECT max(lambda2) FROM pc2) AS l2,
       |  (SELECT max(lambda3) FROM pc3) AS l3),
       |proj AS (SELECT e.vec_id,
       |    CAST(sum(CAST(floor(e.v * pc.comp * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |      / $covGrid.0 AS p1,
       |    CAST(sum(CAST(floor(e.v * pc2.comp2 * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |      / $covGrid.0 AS p2,
       |    CAST(sum(CAST(floor(e.v * pc3.comp3 * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |      / $covGrid.0 AS p3
       |  FROM x e JOIN pc ON pc.i = e.i JOIN pc2 ON pc2.i = e.i
       |    JOIN pc3 ON pc3.i = e.i
       |  GROUP BY e.vec_id)
       |SELECT vec_id,
       |  round(p1 / sqrt(l.l1), 4) + 0.0 AS w1,
       |  round(p2 / sqrt(l.l2), 4) + 0.0 AS w2,
       |  round(p3 / sqrt(l.l3), 4) + 0.0 AS w3
       |FROM proj, l ORDER BY vec_id""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.VectorOps.whiten]]: both published rounded
    * eigenpairs come out of the shared PCA + deflation CTE chains (the
    * exact values the Spark side reads from its staged artifacts), the two
    * per-vector projections are the identical quantized-Long dot products,
    * and each /√λ is one IEEE-correctly-rounded op over exact inputs —
    * spelled in the same order as the Spark side ((Σ/g) / sqrt(λ)). */
  private def whitenCtes: String = {
    val k = VectorOps.PcaRounds
    s"""$pcaCtes,
       |$deflateCtes,
       |pc2 AS MATERIALIZED (SELECT z$k.i, round(z$k.y / n$k.m, 6) + 0.0 AS comp2,
       |  round(n$k.m, 6) AS lambda2 FROM z$k, n$k),
       |l AS (SELECT (SELECT max(lambda) FROM pc) AS l1,
       |  (SELECT max(lambda2) FROM pc2) AS l2),
       |proj AS (SELECT e.vec_id,
       |    CAST(sum(CAST(floor(e.v * pc.comp * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |      / $covGrid.0 AS p1,
       |    CAST(sum(CAST(floor(e.v * pc2.comp2 * $covGrid.0) AS BIGINT)) AS DOUBLE)
       |      / $covGrid.0 AS p2
       |  FROM x e JOIN pc ON pc.i = e.i JOIN pc2 ON pc2.i = e.i
       |  GROUP BY e.vec_id)""".stripMargin
  }

  // q_whiten's SIGNED rounds stay in the FINAL select (not a CTE) so
  // tools_margin's final-select margin + signed-zero audit keeps covering
  // them (a wt CTE here silently dropped the query from the audit)
  private def whitenSql: String =
    s"""$whitenCtes
       |SELECT vec_id,
       |  round(p1 / sqrt(l.l1), 4) + 0.0 AS w1,
       |  round(p2 / sqrt(l.l2), 4) + 0.0 AS w2
       |FROM proj, l ORDER BY vec_id""".stripMargin

  /** DuckDB twin of [[graft.ops.VectorOps.whitenOutliers]]: the ROUNDED
    * published w1/w2 (spelled in the wt CTE exactly as q_whiten's final
    * select, where the margin audit covers them) squared and summed — one
    * IEEE expression over identical values — then the declared top-k. */
  private def whitenOutliersSql: String =
    s"""$whitenCtes,
       |wt AS (SELECT vec_id,
       |  round(p1 / sqrt(l.l1), 4) + 0.0 AS w1,
       |  round(p2 / sqrt(l.l2), 4) + 0.0 AS w2
       |FROM proj, l)
       |SELECT vec_id, round(w1 * w1 + w2 * w2, 4) AS energy FROM wt
       |ORDER BY energy DESC, vec_id LIMIT ${VectorOps.WhitenOutlierK}""".stripMargin

  /** DuckDB twin of [[GraphOps.modularity]]: the same unrolled label table,
    * then Q from exact integer aggregates — every rounded double is a
    * single division of exact counts, spelled identically to the Spark
    * side, so no summation-order jitter is possible (the round-12
    * discipline). */
  private def modularitySql: String =
    s"""$lpaCtes,
       |lab AS (SELECT node, label FROM l${GraphOps.LpaRounds}),
       |e AS (SELECT src AS u, dst AS v FROM dir WHERE src < dst),
       |mm AS (SELECT count(*) AS m FROM e),
       |deg AS (SELECT src AS node, count(*) AS deg FROM dir GROUP BY 1),
       |dc AS (SELECT l.label AS community, count(*) AS n_members,
       |         CAST(sum(d.deg) AS BIGINT) AS deg_sum
       |       FROM lab l JOIN deg d USING (node) GROUP BY 1),
       |ic AS (SELECT la.label AS community, count(*) AS intra_edges
       |       FROM e JOIN lab la ON la.node = e.u JOIN lab lb ON lb.node = e.v
       |       WHERE la.label = lb.label GROUP BY 1),
       |c AS (SELECT dc.community, dc.n_members, dc.deg_sum,
       |        coalesce(ic.intra_edges, 0) AS intra_edges
       |      FROM dc LEFT JOIN ic USING (community)),
       |t AS (SELECT c.*, mm.m,
       |        CAST(sum(intra_edges) OVER () AS BIGINT) AS tot_intra,
       |        CAST(sum(deg_sum * deg_sum) OVER () AS BIGINT) AS tot_d2
       |      FROM c, mm)
       |SELECT community, n_members, intra_edges, deg_sum,
       |  round(CAST(intra_edges AS DOUBLE) / m
       |    - (CAST(deg_sum AS DOUBLE) / (2.0 * m))
       |      * (CAST(deg_sum AS DOUBLE) / (2.0 * m)), 6) + 0.0 AS q_contrib,
       |  round(CAST(tot_intra AS DOUBLE) / m
       |    - CAST(tot_d2 AS DOUBLE) / (4.0 * m * m), 6) + 0.0 AS modularity
       |FROM t ORDER BY n_members DESC, community
       |LIMIT ${GraphOps.LpaTopK}""".stripMargin

  /** DuckDB twin of [[GraphOps.kcore]]: the same [[GraphOps.KCoreRounds]]
    * peel rounds unrolled as CTEs, with the identical integer-arithmetic
    * threshold k = 2E//N + 1 derived from the data in-query — both engines
    * compute k, the survivor sets, and the census from first principles. */
  private def kcoreSql: String = {
    val rounds = (1 to GraphOps.KCoreRounds).map { r =>
      s"""n$r AS (SELECT src AS node FROM e${r - 1}
         |  GROUP BY src HAVING count(*) >= (SELECT k FROM kv)),
         |e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN n$r a ON e.src = a.node JOIN n$r b ON e.dst = b.node)""".stripMargin
    }.mkString(",\n")
    val census = (1 to GraphOps.KCoreRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT count(*) FROM n$r) AS n_nodes,
         |  (SELECT count(*) // 2 FROM e$r) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |kv AS (SELECT count(*) // (SELECT count(DISTINCT src) FROM e0) + 1 AS k
       |  FROM e0),
       |$rounds
       |SELECT CAST(0 AS BIGINT) AS round,
       |  (SELECT count(DISTINCT src) FROM e0) AS n_nodes,
       |  (SELECT count(*) // 2 FROM e0) AS n_edges
       |UNION ALL
       |$census
       |ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[TextOps.phraseSearch]]: the identical chain join over
    * `generate_subscripts` postings, generated from the same
    * [[TextOps.PhraseTerms]] list so phrase and offsets cannot drift. */
  private def phraseSql: String = {
    val terms = TextOps.PhraseTerms
    val joins = terms.indices.tail.map { k =>
      s"JOIN x t$k ON t$k.doc_id = t0.doc_id AND t$k.p = t0.p + $k"
    }.mkString("\n")
    val preds = terms.zipWithIndex
      .map { case (t, k) => s"t$k.term = '$t'" }.mkString(" AND ")
    s"""WITH toks AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |      x -> x <> '') AS a
       |  FROM documents),
       |x AS (SELECT doc_id, CAST(generate_subscripts(a, 1) AS BIGINT) AS p,
       |    unnest(a) AS term FROM toks)
       |SELECT t0.doc_id, count(*) AS n_occ, min(t0.p) AS first_pos
       |FROM x t0
       |$joins
       |WHERE $preds
       |GROUP BY 1 ORDER BY t0.doc_id""".stripMargin
  }

  /** DuckDB twin of [[LayoutOps.zValue]] — the same [[LayoutOps.ZBits]]-bit
    * Morton interleave, generated from the same loop so the bit layout
    * cannot drift between engines. */
  private def zInterleaveSql: String =
    (0 until LayoutOps.ZBits).map { i =>
      s"((((xk >> $i) & 1) << ${2 * i}) | (((yk >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" | ")
}
