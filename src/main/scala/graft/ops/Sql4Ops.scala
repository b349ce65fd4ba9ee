package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** Spark 4 SQL-surface operators (SURVEY.md §2.9/§2.11 extensions).
  *
  * The reference exposes exactly one query surface — pandas calls behind a
  * Streamlit form (`app_test.py:88-123`) — but a user replacing it with this
  * library gets Spark's FULL SQL front door. This file pins the Spark 4
  * additions to that front door which earlier rounds could not use because
  * they did not exist in Spark 3: native recursive CTEs (SPARK-24497, 4.0),
  * SQL pipe syntax (SPARK-49555, 4.0), string collations (SPARK-46830, 4.0),
  * SQL-body scalar/table functions (SPARK-46246) and session variables
  * (SPARK-46248). Each query is DuckDB-oracled like every other declared
  * query; each also carries a scale note in the scaladoc.
  *
  * Views are registered under `s4_`-prefixed names so running all declared
  * queries in one session (Verify) cannot collide with other ops' views.
  */
object Sql4Ops {

  private def view(spark: SparkSession, sf: String, table: String): String = {
    val name = s"s4_$table"
    Tables.load(spark, sf, table).createOrReplaceTempView(name)
    name
  }

  /** Native `WITH RECURSIVE` hierarchy rollup — the declarative twin of
    * [[Relational.bomRollup]]'s iterative BFS (same synthesized binary tree
    * over custkeys, parent = k div 2, root 0; same per-level census). Until
    * Spark 4 this shape REQUIRED the driver loop; now the optimizer runs the
    * loop itself (`UnionLoop`: each iteration joins the previous level
    * against the node table, exactly the checkpointed-frontier plan, but
    * planned not hand-written). Iterations are bounded by tree depth
    * (log2 n ≈ 40 rounds at 100 TB of nodes), far under the
    * `spark.sql.cteRecursionLevelLimit` default of 100; each round shuffles
    * only the frontier. The DuckDB oracle is the same recursion — both
    * engines run their NATIVE recursive-CTE executor over the same data. */
  def recursiveCte(spark: SparkSession, sf: String): DataFrame = {
    val c = view(spark, sf, "customer")
    spark.sql(s"""
      WITH RECURSIVE tree AS (
        SELECT c_custkey AS k, c_acctbal AS bal, CAST(1 AS BIGINT) AS depth
        FROM $c WHERE c_custkey = 0
        UNION ALL
        SELECT c.c_custkey, c.c_acctbal, t.depth + 1
        FROM $c c JOIN tree t ON c.c_custkey div 2 = t.k
        WHERE c.c_custkey <> 0
      )
      SELECT depth, count(*) AS n_nodes, round(sum(bal), 4) AS sum_bal
      FROM tree GROUP BY depth ORDER BY depth""")
  }

  /** SQL pipe syntax — the linear `|>` form of a join + aggregate + rank
    * report (orders × customer → per-segment order stats). Pipe syntax is
    * sugar over the same logical plan (the optimizer sees an identical
    * join/aggregate tree, so broadcast and partial aggregation apply
    * unchanged — plan-asserted in the spec); its value is that multi-stage
    * pipelines read top-to-bottom like the DataFrame chain, which is how a
    * 100 TB curation pipeline's SQL stays reviewable. Oracle: the classic
    * nested form in DuckDB. */
  def pipeSql(spark: SparkSession, sf: String): DataFrame = {
    val o = view(spark, sf, "orders")
    val c = view(spark, sf, "customer")
    spark.sql(s"""
      FROM $o
      |> WHERE o_orderstatus IN ('F', 'O')
      |> JOIN $c ON o_custkey = c_custkey
      |> AGGREGATE count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS revenue,
                   round(avg(o_totalprice), 4) AS avg_price
         GROUP BY c_mktsegment, o_orderstatus
      |> WHERE n_orders > 0
      |> ORDER BY c_mktsegment, o_orderstatus""")
  }

  /** Collation-aware grouping — case-insensitive semantics declared in the
    * TYPE (`COLLATE UTF8_LCASE`), not hand-lowercased. Mixed-case variants
    * are injected deterministically from the key (the urlDedup
    * inject-then-process pattern: upper / lower / first-letter-cap by
    * custkey mod 3), then the census counts distinct spellings under binary
    * vs case-insensitive collation per segment. At scale collation beats
    * `lower()`-wrapping because comparisons collate at the UTF8String level
    * inside codegen (no materialized lowercase copy of a 100 TB column) and
    * the collation travels with the column through joins/aggregates. The
    * oracle lowers explicitly — same answer, which is the point. */
  def collationCensus(spark: SparkSession, sf: String): DataFrame = {
    val c = view(spark, sf, "customer")
    spark.sql(s"""
      WITH mixed AS (
        SELECT CASE c_custkey % 3
                 WHEN 0 THEN upper(c_mktsegment)
                 WHEN 1 THEN lower(c_mktsegment)
                 ELSE concat(upper(substr(c_mktsegment, 1, 1)),
                             lower(substr(c_mktsegment, 2)))
               END AS seg
        FROM $c)
      SELECT lower(seg) AS seg_lc,
             count(*) AS n_rows,
             count(DISTINCT seg) AS n_variants_binary,
             count(DISTINCT collate(seg, 'UTF8_LCASE')) AS n_variants_ci
      FROM mixed GROUP BY lower(seg) ORDER BY seg_lc""")
  }

  /** SQL-body scalar function + session variable — the governed-SQL tier:
    * a `CREATE TEMPORARY FUNCTION … RETURN CASE …` price-band UDF (pure SQL,
    * so Catalyst INLINES the body — it stays codegen'd, unlike a black-box
    * Scala UDF) used under a `DECLARE`d session-variable threshold. This is
    * how shared business logic (banding rules, thresholds) is centralized
    * across a warehouse's queries without shipping jars. The oracle inlines
    * both by hand; matching output proves the inlining semantics. */
  /** SQL-body TABLE function (SPARK-46246's table half, `RETURNS TABLE`)
    * applied LATERALLY: `s4_top_spenders(seg)` — top-3 customers by
    * account balance in one market segment — is declared once and joined
    * laterally against the distinct-segment dim, the reusable-parameterized-
    * report shape (one vetted definition, many correlated invocations).
    * The analyzer's `ResolveSQLTableFunctions` rewrites each call into a
    * correlated lateral subquery and then plain operators — the executed
    * plan is the same per-segment top-k window/join tree a hand-written
    * query gets (no black-box UDTF row-at-a-time iterator anywhere), so
    * broadcast, pushdown, and codegen all still apply; the spec pins
    * equality with the DataFrame window form, and the oracle inlines the
    * function by hand. At 100 TB the segment dim stays dim-sized and each
    * invocation is the rank-pruned per-group top-k, not a fact re-scan per
    * call.
    *
    * Engine caveat (measured on 4.1.2, probe in this round's PLANS note):
    * an `ORDER BY … LIMIT n` TVF body decorrelates WRONG under a lateral
    * call — the limit is applied before the correlated equality joins back,
    * returning the global top-n instead of the per-invocation top-n (a
    * plain lateral SUBQUERY with the same body is planned correctly). The
    * body below therefore uses the `row_number() ≤ n` window spelling,
    * which inlines correctly — and is the same plan the decorrelator would
    * have produced. */
  def sqlTableUdf(spark: SparkSession, sf: String): DataFrame = {
    val c = view(spark, sf, "customer")
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY FUNCTION s4_top_spenders(seg STRING)
      RETURNS TABLE(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)
      RETURN SELECT c_custkey, c_name, c_acctbal
             FROM (SELECT c_custkey, c_name, c_acctbal,
                     row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
                   FROM $c WHERE c_mktsegment = seg)
             WHERE rn <= 3""")
    spark.sql(s"""
      SELECT s.seg, t.c_custkey, t.c_name, round(t.c_acctbal, 4) AS c_acctbal
      FROM (SELECT DISTINCT c_mktsegment AS seg FROM $c) s,
           LATERAL s4_top_spenders(s.seg) t
      ORDER BY seg, c_acctbal DESC, c_custkey""")
  }

  /** Parameterized SQL + `IDENTIFIER()` (SPARK-44680 / SPARK-43205): the
    * injection-safe templating front door — the table name binds through
    * `IDENTIFIER(:tbl)` (an identifier, never string-spliced SQL) and the
    * predicate threshold through a typed named parameter. This is how a
    * governed platform exposes "same vetted query, N tables / N tenants"
    * without concatenating SQL: parameters are typed literals to the
    * analyzer, so constant folding and pushdown see them exactly like
    * hand-written constants (same plan, same scan filters). The oracle
    * inlines both bindings by hand — matching output proves the binding
    * semantics. */
  def paramSql(spark: SparkSession, sf: String): DataFrame = {
    val o = view(spark, sf, "orders")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS revenue
        |FROM IDENTIFIER(:tbl) WHERE o_totalprice > :floor
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      Map("tbl" -> o, "floor" -> ParamSqlFloor))
  }

  /** Price floor bound into [[paramSql]]'s named parameter — interpolated
    * into the oracle so the binding and the hand-inlined twin agree. */
  val ParamSqlFloor = 100000.0

  /** Threshold sweep steps in [[sqlScript]] — interpolated into BOTH the
    * script and the DuckDB oracle so the loop bound cannot drift. */
  val ScriptSteps = 5

  /** Threshold increment per step in [[sqlScript]]. */
  val ScriptStep = 100000L

  /** SQL scripting (SPARK-48338, Spark 4's procedural front door): a
    * `BEGIN … END` compound with local `DECLARE`d variables and a `WHILE`
    * loop sweeping [[ScriptSteps]] revenue thresholds, each iteration
    * folding one aggregate row into an ARRAY<STRUCT> accumulator via
    * `SET var = (scalar subquery)`; the final statement explodes the
    * accumulator back to rows, and a script's RESULT is its last
    * statement's result — so the whole control-flow construct sits under
    * the DuckDB hash check (oracle: the same sweep as a lateral over
    * `range(1, steps+1)`). This is the migration path for stored-procedure
    * logic (parameter sweeps, retry loops, conditional DDL) that
    * previously forced a driver program. Scale note: control flow runs on
    * the DRIVER — each iteration plans one ordinary aggregate (here a
    * single map-combined scan term), so the loop adds scheduling constant,
    * not data volume; the empty top threshold exercises the empty-guard
    * (`coalesce(sum, 0)`) the reference's A7 demands. Needs
    * `spark.sql.scripting.enabled`, on by default in Spark 4.1; a
    * deployer's setting is left as it is. */
  def sqlScript(spark: SparkSession, sf: String): DataFrame = {
    val o = view(spark, sf, "orders")
    spark.sql(s"""
      BEGIN
        DECLARE k INT DEFAULT 1;
        DECLARE acc ARRAY<STRUCT<threshold: BIGINT, n_orders: BIGINT,
          revenue: DOUBLE>> DEFAULT array();
        WHILE k <= $ScriptSteps DO
          SET acc = (SELECT array_append(acc, named_struct(
              'threshold', CAST(k * $ScriptStep AS BIGINT),
              'n_orders', count(*),
              'revenue', round(coalesce(sum(o_totalprice), 0.0), 4)))
            FROM $o WHERE o_totalprice > k * $ScriptStep);
          SET k = k + 1;
        END WHILE;
        SELECT r.threshold, r.n_orders, r.revenue
        FROM (SELECT explode(acc) AS r) ORDER BY r.threshold;
      END""")
  }

  def sqlUdfBands(spark: SparkSession, sf: String): DataFrame = {
    val o = view(spark, sf, "orders")
    spark.sql("DECLARE OR REPLACE s4_floor DOUBLE DEFAULT 50000.0")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION s4_price_band(p DOUBLE)
      RETURNS STRING
      RETURN CASE WHEN p < 150000.0 THEN 'low'
                  WHEN p < 300000.0 THEN 'mid'
                  ELSE 'high' END""")
    spark.sql(s"""
      SELECT s4_price_band(o_totalprice) AS band,
             count(*) AS n,
             round(sum(o_totalprice), 4) AS total
      FROM $o WHERE o_totalprice > s4_floor
      GROUP BY 1 ORDER BY band""")
  }
}
