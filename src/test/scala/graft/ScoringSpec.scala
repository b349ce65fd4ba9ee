package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.functions.XgbMargin
import graft.ops.Scoring
import graft.ops.Scoring.ModelConstants._

/** Faithful-semantics corners of the scoring pipeline (SURVEY.md §5.2):
  * golden vector from FIXTURES.md §B, one-hot unknown→all-zeros,
  * null→median/mode imputation, strict bucket boundaries, empty-group
  * coalesce, and the single-code-path property (1 row ≡ bulk). */
class ScoringSpec extends SparkSpec {
  import spark.implicits._

  /** Reference-faithful row (the app's default form, `app_test.py:143-147`)
    * already transposed to the engine's snake_case feature names — the
    * reference's spaced names (`Usage Frequency`) are a source-boundary
    * rename, exercised in [[rename]] below. */
  def defaultForm: DataFrame = Seq(
    (1L, Some(35.0), Some(12.0), 15.0, Some(2.0), 5.0, Some(500.0), 10.0,
      Some("Male"), Some("Standard"), "Annual"))
    .toDF("customer_id", "age", "tenure", "usage_frequency", "support_calls",
      "payment_delay", "total_spend", "last_interaction",
      "gender", "subscription_type", "contract_length")

  /** The reference schema's spaced column names map 1:1 onto snake_case. */
  val rename: Map[String, String] = Map(
    "CustomerID" -> "customer_id", "Age" -> "age", "Tenure" -> "tenure",
    "Usage Frequency" -> "usage_frequency", "Support Calls" -> "support_calls",
    "Payment Delay" -> "payment_delay", "Subscription Type" -> "subscription_type",
    "Contract Length" -> "contract_length", "Total Spend" -> "total_spend",
    "Last Interaction" -> "last_interaction", "Gender" -> "gender")

  test("golden vector: scaled numerics of the default form (FIXTURES.md §B)") {
    val row = Scoring.scale(Scoring.impute(defaultForm))
      .select(numericCols.map(c => round(col(s"z_$c"), 5)): _*).head()
    val expected = Seq(-0.37045, -1.11079, -0.09392, -0.58903, -0.98685, -0.48707, -0.53925)
    numericCols.indices.foreach { i =>
      assert(math.abs(row.getDouble(i) - expected(i)) < 1e-9,
        s"${numericCols(i)}: ${row.getDouble(i)} != ${expected(i)}")
    }
  }

  test("golden vector: one-hot of the default form = [0,1, 0,0,1, 1,0,0]") {
    val row = Scoring.onehot(Scoring.impute(defaultForm))
      .select(onehotCols.map { case (o, _, _) => col(o) }: _*).head()
    assert(row.toSeq == Seq(0.0, 1.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0))
  }

  test("one-hot unknown category -> all zeros (sklearn handle_unknown='ignore')") {
    val df = defaultForm
      .withColumn("gender", lit("Other"))
      .withColumn("subscription_type", lit("Platinum"))
    val row = Scoring.onehot(Scoring.impute(df))
      .select(onehotCols.map { case (o, _, _) => col(o) }: _*).head()
    // gender block and subscription block all zero; contract (Annual) intact
    assert(row.toSeq == Seq(0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0))
  }

  test("null numeric -> median, null categorical -> mode (pkl statistics_)") {
    val df = Seq((1L, Option.empty[Double], Option.empty[Double], 15.0,
      Option.empty[Double], 5.0, Option.empty[Double], 10.0,
      Option.empty[String], Option.empty[String], "Annual"))
      .toDF(defaultForm.columns: _*)
    val r = Scoring.impute(df).head()
    assert(r.getAs[Double]("age") == 40.0)
    assert(r.getAs[Double]("tenure") == 32.0)
    assert(r.getAs[Double]("support_calls") == 3.0)
    assert(r.getAs[Double]("total_spend") == 646.97)
    assert(r.getAs[String]("gender") == "Male")
    assert(r.getAs[String]("subscription_type") == "Premium")
  }

  test("impute keeps na.fill's semantics: NaN/null -> median, null -> mode, unknown passes") {
    val df = Seq(
      (1L, Some(Double.NaN), Option.empty[Double], 15.0, Some(2.0), 5.0,
        Some(Double.NaN), 10.0, Option.empty[String], Some("Platinum"), "Annual"),
      (2L, Some(35.0), Some(12.0), Double.NaN, Option.empty[Double], 5.0,
        Some(500.0), 10.0, Some("Other"), Option.empty[String], "Biennial"))
      .toDF(defaultForm.columns: _*)
    val viaNaFill = df.na.fill(numericCols.zip(medians).toMap).na.fill(modes)
    val imputed = Scoring.impute(df)
    assert(imputed.schema == viaNaFill.schema)
    assert(imputed.orderBy("customer_id").collect().toSeq ==
      viaNaFill.orderBy("customer_id").collect().toSeq)
    val Seq(a, b) = imputed.orderBy("customer_id").collect().toSeq
    assert(a.getAs[Double]("age") == 40.0 && a.getAs[Double]("total_spend") == 646.97)
    assert(a.getAs[Double]("tenure") == 32.0 && b.getAs[Double]("usage_frequency") == 16.0)
    assert(b.getAs[Double]("support_calls") == 3.0)
    assert(a.getAs[String]("gender") == "Male" && b.getAs[String]("subscription_type") == "Premium")
    assert(a.getAs[String]("subscription_type") == "Platinum" && b.getAs[String]("gender") == "Other")
    // unknown categories one-hot to all zeros in their blocks
    val hot = Scoring.onehot(imputed).orderBy("customer_id")
      .select(onehotCols.map { case (o, _, _) => col(o) }: _*).collect()
    assert(hot(0).toSeq == Seq(0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0))
    assert(hot(1).toSeq == Seq(0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("q_impute_median keeps its column list") {
    assert(SparkEntry.queries("q_impute_median")(spark, sf0001).columns.toSeq == Seq(
      "customer_id", "age", "tenure", "usage_frequency", "support_calls", "payment_delay",
      "total_spend", "last_interaction", "gender", "subscription_type", "contract_length"))
  }

  /** Every node of the plan a run executed, inside AQE query stages too. */
  private def planNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    PlanWalk.collect(df.queryExecution.executedPlan) { case p => p }
  }
  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def occurrences(nodes: Seq[SparkPlan])(pf: PartialFunction[Expression, Unit]): Int =
    nodes.map(_.expressions.map(_.collect(pf).size).sum).sum

  private def belowShuffles(nodes: Seq[SparkPlan]): Seq[SparkPlan] =
    nodes.collect { case e: ShuffleExchangeExec => e }.flatMap(e => PlanWalk.collect(e.child) { case p => p })

  test("q_score_exact plan: the margin runs once, never below a shuffle") {
    val nodes = planNodes(SparkEntry.queries("q_score_exact")(spark, sf0001))
    val isMargin: PartialFunction[Expression, Unit] = { case _: XgbMargin => }
    assert(nodes.exists(_.isInstanceOf[ShuffleExchangeExec]), "expected the orderBy range exchange")
    assert(occurrences(nodes)(isMargin) == 1)
    assert(occurrences(belowShuffles(nodes))(isMargin) == 0)
  }

  test("q_score_batch plan: assembler and model UDFs all run above the shuffle") {
    val nodes = planNodes(SparkEntry.queries("q_score_batch")(spark, sf0001))
    val isUdf: PartialFunction[Expression, Unit] = { case _: ScalaUDF => }
    assert(nodes.exists(_.isInstanceOf[ShuffleExchangeExec]), "expected the orderBy range exchange")
    assert(occurrences(nodes)(isUdf) > 0)
    assert(occurrences(belowShuffles(nodes))(isUdf) == 0)
  }

  test("risk bucket boundaries are strict <: p=0.3 -> Medium, p=0.7 -> High") {
    // same when-chain as Scoring.score (app_test.py:238)
    val df = Seq(0.0, 0.29999, 0.3, 0.69999, 0.7, 1.0).toDF("p")
      .select(col("p"),
        when(col("p") < 0.3, "Low").when(col("p") < 0.7, "Medium")
          .otherwise("High").as("risk"))
    assert(df.collect().map(r => r.getDouble(0) -> r.getString(1)).toSeq == Seq(
      0.0 -> "Low", 0.29999 -> "Low", 0.3 -> "Medium",
      0.69999 -> "Medium", 0.7 -> "High", 1.0 -> "High"))
  }

  test("empty-group avg coalesces to 0 (app_test.py:88-93 empty guard)") {
    val empty = spark.emptyDataFrame.select(lit(1).as("g"), lit(1.0).as("v")).filter(lit(false))
    val r = empty.agg(coalesce(round(avg("v"), 4), lit(0.0)).as("a")).head()
    assert(r.getDouble(0) == 0.0)
  }

  test("single-row and bulk scoring share one code path and agree") {
    val bulk = Scoring.synthCustomers(spark, sf0001)
    val model = Scoring.trainModel(bulk.filter(col("customer_id") % 3 =!= 0))
    val bulkScores = Scoring.score(model, bulk)
    val one = bulk.filter(col("customer_id") === 7)
    val single = Scoring.score(model, one).head()
    val fromBulk = bulkScores.filter(col("customer_id") === 7).head()
    assert(single == fromBulk)
    // probabilities are valid and buckets consistent with them
    val rows = bulkScores.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Double]("prob")
      assert(p >= 0.0 && p <= 1.0)
      val risk = r.getAs[String]("risk")
      assert(risk == (if (p < 0.3) "Low" else if (p < 0.7) "Medium" else "High"))
    }
  }

  test("pipeline observability: null-imputation counts in one pass (observe)") {
    import org.apache.spark.sql.Observation
    val obs = Observation("impute_metrics")
    val raw = Scoring.synthCustomers(spark, sf0001)
    val observed = raw.observe(obs,
      count(lit(1)).as("rows"),
      sum(when(col("age").isNull, 1L).otherwise(0L)).as("null_age"),
      sum(when(col("gender").isNull, 1L).otherwise(0L)).as("null_gender"))
    val imputed = Scoring.impute(observed)
    // one action drives BOTH the imputation output and the metrics
    assert(imputed.collect().forall(r =>
      !r.isNullAt(r.fieldIndex("age")) && !r.isNullAt(r.fieldIndex("gender"))))
    val m = obs.get
    assert(m("rows").asInstanceOf[Long] == raw.count())
    // the synthetic residues guarantee injected nulls exist to impute
    assert(m("null_age").asInstanceOf[Long] > 0)
    assert(m("null_gender").asInstanceOf[Long] > 0)
  }

  test("scoreBatch is deterministic across independent runs (fixed seed)") {
    val a = Scoring.scoreBatch(spark, sf0001).collect().toSeq
    val b = Scoring.scoreBatch(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  test("reference spaced-name schema maps onto the engine pipeline") {
    val spaced = Seq((1L, 35L, "Male", 12L, 15L, 2L, 5L, "Standard", "Annual", 500.0, 10L, 0))
      .toDF("CustomerID", "Age", "Gender", "Tenure", "Usage Frequency",
        "Support Calls", "Payment Delay", "Subscription Type", "Contract Length",
        "Total Spend", "Last Interaction", "Churn")
    val renamed = rename.foldLeft(spaced.drop("Churn")) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val doubled = numericCols.foldLeft(renamed)((d, c) => d.withColumn(c, col(c).cast("double")))
    val z = Scoring.scale(Scoring.impute(doubled)).select(round(col("z_age"), 5)).head()
    assert(math.abs(z.getDouble(0) - -0.37045) < 1e-9)
  }

  test("churn threshold is strict > 0.5 (exactly 0.5 is NOT churn, both paths)") {
    // both score() and scoreExact() thread this ONE predicate, so asserting
    // the boundary here covers the batch and the bit-exact path alike
    import spark.implicits._
    val got = Seq(0.0, 0.4999, 0.5, 0.5001, 1.0).toDF("p")
      .select(col("p"), Scoring.churnPred(col("p")).cast("int").as("pred"))
      .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(got(0.5) == 0, "p = 0.5 must not be churn (xgboost strict > semantics)")
    assert(got(0.4999) == 0 && got(0.0) == 0)
    assert(got(0.5001) == 1 && got(1.0) == 1)
  }
}
