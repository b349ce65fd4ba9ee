package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import graft.sources.Tables

/** The reference's batch ML scoring pipeline re-expressed as composable
  * `DataFrame => DataFrame` column-expression stages (SURVEY.md §2.4):
  * impute → scale → one-hot → GBT margin → probability → threshold → bucket.
  *
  * The pre-model stages use the exact fitted constants extracted from the
  * reference's `best_model.pkl` (medians/modes `@~2300,@3386`, mean/scale
  * `@~2400`, categories `@3678,@3887`) — deterministic pure arithmetic, fully
  * oracle-checkable in SQL. The GBT stage is Spark ML `GBTClassifier`
  * (`maxDepth=4, seed=42`, mirroring the pickled booster's shape
  * `best_model.pkl@4438`) — capability-equivalent, not bit-equal to XGBoost
  * (no XGBoost4J jar in this environment; SURVEY.md §7.4), hence declared
  * without an oracle.
  *
  * Unlike the reference — which duplicates the feature list and bucket logic
  * between single-row and bulk scoring (`app_test.py:232-249` vs `:295-301`)
  * — there is exactly one code path here: [[score]] over any DataFrame,
  * whether one row or one billion. Both scorers sort the raw customer rows
  * by `customer_id` first and score above the range exchange, so each row
  * is preprocessed and scored once, after the shuffle: the range sampler
  * and the map stage evaluate only the cheap synthesis projection.
  */
object Scoring {

  /** Churn decision at probability `p` — strict `>`, matching xgboost's
    * binary:logistic predict: exactly 0.5 is NOT churn. The ONE threshold
    * both scoring paths ([[score]] and [[scoreExact]]) share, so they cannot
    * disagree at the boundary (asserted in ScoringSpec). */
  def churnPred(p: Column): Column = p > lit(0.5)

  /** Fitted constants from the reference pickle (FIXTURES.md §B). Column
    * order everywhere = the ColumnTransformer's: 7 numerics then 3 cats. */
  object ModelConstants {
    val numericCols: Seq[String] = Seq(
      "age", "tenure", "usage_frequency", "support_calls",
      "payment_delay", "total_spend", "last_interaction")
    val medians: Seq[Double] = Seq(40.0, 32.0, 16.0, 3.0, 13.0, 646.97, 14.0)
    val means: Seq[Double] = Seq(
      39.6970354770776, 31.23780981694476, 15.806836222258221,
      3.846233597926454, 13.309347156973919, 619.4135311841892,
      14.643188077109995)
    val scales: Seq[Double] = Seq(
      12.679347404313038, 17.319040064123246, 8.590823425401366,
      3.134369832632414, 8.420098057567449, 245.1691688807324,
      8.61046314082681)
    val catCols: Seq[String] = Seq("gender", "subscription_type", "contract_length")
    val modes: Map[String, String] = Map(
      "gender" -> "Male", "subscription_type" -> "Premium",
      "contract_length" -> "Annual")
    val categories: Map[String, Seq[String]] = Map(
      "gender" -> Seq("Female", "Male"),
      "subscription_type" -> Seq("Basic", "Premium", "Standard"),
      "contract_length" -> Seq("Annual", "Monthly", "Quarterly"))

    /** One-hot output columns, in ColumnTransformer order (8 total). */
    val onehotCols: Seq[(String, String, String)] = // (outCol, srcCol, category)
      catCols.flatMap(c => categories(c).map(v => (s"${c}_${v.toLowerCase}", c, v)))
  }
  import ModelConstants._

  /** Deterministic reference-shaped customer features synthesized from the
    * harness `customer` table (SURVEY.md §7.3 transposition). Nulls and
    * unknown categories are injected on fixed key residues so the impute /
    * unknown→zeros semantics are actually exercised at sf scale. Mirrored
    * verbatim in the DuckDB oracle CTE (SparkEntry.synthSql). */
  def synthCustomers(spark: SparkSession, sf: String): DataFrame = {
    val k = col("c_custkey")
    Tables.load(spark, sf, "customer").select(
      k.as("customer_id"),
      when(k % 11 === 0, lit(null)).otherwise((k % 60 + 18).cast("double")).as("age"),
      when(k % 13 === 0, lit(null)).otherwise((k % 73).cast("double")).as("tenure"),
      (k % 51).cast("double").as("usage_frequency"),
      when(k % 17 === 0, lit(null)).otherwise((k % 21).cast("double")).as("support_calls"),
      (k % 31).cast("double").as("payment_delay"),
      when(k % 19 === 0, lit(null)).otherwise(abs(col("c_acctbal"))).as("total_spend"),
      (k % 29).cast("double").as("last_interaction"),
      when(k % 23 === 0, lit(null))
        .when(k % 37 === 0, lit("Other"))
        .when(k % 2 === 0, lit("Male")).otherwise(lit("Female")).as("gender"),
      when(k % 41 === 0, lit(null))
        .when(k % 3 === 0, lit("Basic"))
        .when(k % 3 === 1, lit("Premium")).otherwise(lit("Standard")).as("subscription_type"),
      when(k % 43 === 0, lit("Biennial"))
        .when((k + 1) % 3 === 0, lit("Annual"))
        .when((k + 1) % 3 === 1, lit("Monthly")).otherwise(lit("Quarterly")).as("contract_length"))
  }

  /** M1+M3: median imputation (7 numerics) + most-frequent imputation
    * (3 cats), exact fitted statistics, in one projection with `na.fill`'s
    * semantics: a null or NaN numeric becomes its median, a null category
    * its mode, and unknown categories pass through untouched (they zero out
    * at one-hot). Column order is unchanged. */
  def impute(df: DataFrame): DataFrame = {
    val fills: Map[String, Any] = numericCols.zip(medians).toMap ++ modes
    df.select(df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      fills.get(f.name).fold(c) { v =>
        val value = f.dataType match {
          case DoubleType | FloatType => nanvl(c, lit(null))
          case _ => c
        }
        coalesce(value, lit(v).cast(f.dataType)).as(f.name)
      }
    }: _*)
  }

  /** M2: standard scaling z = (x − mean)/scale with fitted constants —
    * pure codegen'd arithmetic, no Spark ML fit. */
  def scale(df: DataFrame): DataFrame =
    df.select(col("*") +: numericCols.zip(means.zip(scales)).map {
      case (c, (m, s)) => ((col(c) - lit(m)) / lit(s)).as(s"z_$c")
    }: _*)

  /** M4: one-hot with sklearn `handle_unknown='ignore'` semantics — an
    * unknown category yields ALL-ZEROS. Spark ML's OneHotEncoder
    * (`handleInvalid="keep"`) would add an extra category instead, so the
    * faithful mapping is explicit indicator columns (SURVEY.md §2.4 M4). */
  def onehot(df: DataFrame): DataFrame =
    df.select(col("*") +: onehotCols.map { case (out, src, v) =>
      when(col(src) === v, 1.0).otherwise(0.0).as(out)
    }: _*)

  /** Feature columns in ColumnTransformer order: 7 scaled numerics then
    * 8 one-hots (15 total, `best_model.pkl@~7100` num_feature=15). */
  val featureCols: Seq[String] = numericCols.map("z_" + _) ++ onehotCols.map(_._1)

  /** Preprocess = impute ∘ scale ∘ onehot. One code path for 1 row or bulk. */
  def preprocess(df: DataFrame): DataFrame = onehot(scale(impute(df)))

  /** Deterministic churn label for training the capability-equivalent GBT
    * (the reference ships a *fitted* booster; we must fit ours somewhere). */
  def synthLabel: Column =
    when(col("payment_delay") > 20 || col("support_calls") > 15 ||
      (col("total_spend") < 200 && col("tenure") < 12), 1.0).otherwise(0.0)

  private val assembler = new VectorAssembler()
    .setInputCols(featureCols.toArray).setOutputCol("features")

  /** Train the GBT once per session on the preprocessed synthetic frame.
    * Training set is coalesced to one partition + fixed seed ⇒ deterministic
    * model. maxDepth=4 mirrors the reference booster (`best_model.pkl@4438`). */
  def trainModel(train: DataFrame): GBTClassificationModel = {
    val prepped = assembler.transform(preprocess(train).withColumn("label", synthLabel))
      .coalesce(1).cache()
    val model = new GBTClassifier()
      .setMaxDepth(4).setMaxIter(20).setStepSize(0.05).setSeed(42L)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(prepped)
    prepped.unpersist()
    model
  }

  /** M5+M6+P5+P7: score any customer-shaped frame with a fitted model:
    * probability → 0/1 prediction (strict > 0.5, matching xgboost's
    * binary:logistic predict and `scoreExact`, `app_test.py:236`) → strict
    * `<` risk bucket (`app_test.py:238`) → percent string (`app_test.py:300`).
    * Sorts the raw rows first, so the model runs once per row, after the
    * range exchange; the model rides to executors in the task binary. */
  def score(model: GBTClassificationModel, df: DataFrame): DataFrame = {
    val p1 = element_at(vector_to_array(col("probability")), 2)
    model.transform(assembler.transform(preprocess(df.orderBy("customer_id"))))
      .select(
        col("customer_id"),
        round(p1, 4).as("prob"),
        churnPred(p1).cast("int").as("churn_pred"),
        when(p1 < 0.3, "Low").when(p1 < 0.7, "Medium").otherwise("High").as("risk"),
        format_string("%.2f%%", round(p1, 4) * 100).as("churn_pct"))
  }

  private def vector_to_array(c: Column) = org.apache.spark.ml.functions.vector_to_array(c)

  // ---- declared queries ----

  def imputeMedian(spark: SparkSession, sf: String): DataFrame =
    impute(synthCustomers(spark, sf)).orderBy("customer_id")

  def scaleStandard(spark: SparkSession, sf: String): DataFrame =
    scale(impute(synthCustomers(spark, sf)))
      .select(col("customer_id") +: numericCols.map(c => (round(col(s"z_$c"), 4) + lit(0.0)).as(s"z_$c")): _*)
      .orderBy("customer_id")

  def onehotQuery(spark: SparkSession, sf: String): DataFrame =
    onehot(impute(synthCustomers(spark, sf)))
      .select(col("customer_id") +: onehotCols.map { case (out, _, _) => col(out) }: _*)
      .orderBy("customer_id")

  /** Model registry: one fitted model per dataset, a model artifact
    * ([[Artifacts.fitOrLoad]]) — a deployment trains once and scores
    * many times (the reference itself ships a pre-fitted `best_model.pkl`);
    * retraining on every invocation would misrepresent the scoring cost.
    * Training is fully deterministic (seed + single-partition input), so a
    * cached artifact is interchangeable with a fresh fit. */
  private def fitOrLoad(spark: SparkSession, sf: String,
                        train: => DataFrame): GBTClassificationModel =
    Artifacts.fitOrLoad[GBTClassificationModel](Artifacts.modelFile("gbt-", sf))(
      load = p => GBTClassificationModel.load(p.toString),
      save = (m, p) => m.write.save(p.toString))(trainModel(train))

  /** Pre-populate the per-dataset model cache (fit or disk-load) without
    * scoring — Bench calls this untimed so q_score_batch measures scoring
    * (the reference's runtime behavior), not the one-time fit the reference
    * never performs (it ships a fitted pickle). */
  def warmModel(spark: SparkSession, sf: String): Unit = {
    val all = synthCustomers(spark, sf)
    fitOrLoad(spark, sf, all.filter(col("customer_id") % 3 =!= 0))
    ()
  }

  /** Full pipeline, bulk path: train on customers with key % 3 ≠ 0 (once per
    * dataset, registry-cached), score everyone. No oracle (GBT is not
    * SQL-expressible); determinism from seed + single-partition training. */
  def scoreBatch(spark: SparkSession, sf: String): DataFrame = {
    val all = synthCustomers(spark, sf)
    val model = fitOrLoad(spark, sf, all.filter(col("customer_id") % 3 =!= 0))
    score(model, all)
  }

  /** M5+M6 bit-exact: the reference's *fitted* booster (`best_model.pkl`,
    * 400 trees) scoring via [[graft.functions.XgbModel]] — float32 margins
    * bit-equal to xgboost's CPU predictor, so the probabilities are the
    * numbers the reference app displays (`app_test.py:296`). Fully
    * SQL-expressible (depth-4 CASE unroll over REAL arithmetic), hence
    * oracle-checked end to end, unlike the capability-equivalent
    * [[scoreBatch]]. Sort, then score: the raw synthesized columns go
    * through the `customer_id` range exchange, and preprocessing, the
    * 400-tree margin and the buckets run once per row above it (a second
    * margin pass under the range sampler costs far more than shuffling 11
    * raw columns instead of 2). The ~99 KB model rides inside the task
    * binary; no broadcast round-trip, no per-row alloc. */
  def scoreExact(spark: SparkSession, sf: String): DataFrame = {
    import graft.functions.XgbFunctions.xgb_margin
    val pre = preprocess(synthCustomers(spark, sf).orderBy("customer_id"))
    // Probability quantized to float32, not decimal-rounded: the margin is
    // bit-identical across engines, but double `exp` differs in the last ulp
    // between libms, and decimal round() on a boundary-straddling ulp flips
    // the final digit (observed 2/1500 at sf0.01). Dropping to float32
    // discards 29 mantissa bits — far more than the 1-ulp libm noise — so
    // the value hash-matches DuckDB while keeping 7 significant digits,
    // more than the reference app ever displays (`%.2f%%`).
    val p = (lit(1.0) / (lit(1.0) + exp(-col("margin")))).cast("float").cast("double")
    pre.select(col("customer_id"),
        xgb_margin(array(featureCols.map(col): _*)).as("margin"))
      .select(
        col("customer_id"),
        p.as("churn_prob"),
        // threshold the QUANTIZED prob, not the raw margin: xgboost's own
        // binary:logistic predict thresholds the float32 probability, and
        // it keeps (churn_prob, churn_pred, risk) self-consistent at the
        // margin≈0 boundary where float32 sigmoid rounds to exactly 0.5
        churnPred(p).cast("bigint").as("churn_pred"),
        when(p < 0.3, "Low").when(p < 0.7, "Medium").otherwise("High").as("risk"),
        format_string("%.2f%%", round(p * 100, 2)).as("churn_pct"))
  }
}
