package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{IndexToString, OneHotEncoder, StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.{Joins, Relational, WindowOps}

/** Bot-detector training pipeline — the Scala-MLlib restatement of
  * /root/reference/model-trainer/train.py (M1–M14, SURVEY.md §2.7):
  * StringIndexer×2 + OneHotEncoder×2 + VectorAssembler(6 features) +
  * label StringIndexer + DecisionTreeClassifier + IndexToString,
  * CrossValidator over maxDepth × maxBins, then "serving surgery"
  * (drop the label indexer; train.py:349-351) so the served pipeline
  * maps raw features → predicted_label directly.
  *
  * Feature prep runs on Spark window/agg operators (WindowOps) instead of
  * the reference's driver-local pandas rolling frame — the part of
  * train.py that would not survive 100 TB (train.py:260-276 collects
  * everything on the driver). Everything here is distributed.
  */
object Trainer {

  /** The served model's registry name and its output column. */
  val ModelName = "Bot Detector"
  private val Predicted = "predicted_label"

  /** One model input: training-frame and signature name, signature type,
    * and the column it is served from over [[featureRelationWith]].
    */
  final case class Input(name: String, sigType: String, served: Column)

  /** The input table, in signature order: the training frame, the
    * registry signature, the assembler and `predict` all read it.
    */
  val Inputs: Seq[Input] = Seq(
    Input("country", "string", col("country")),
    Input("platform", "string", col("platform")),
    Input("product_views", "integer", col("purchase_views").cast("int")),
    Input("listing_views", "integer", col("view_views").cast("int")),
    Input("gallery_views", "integer", col("click_views").cast("int")),
    Input("nb_orders", "integer", col("nb_orders")))

  /** customer ⨝ nation: country, platform (and `c_acctbal`, which
    * published dimension versions carry; the model does not read it).
    */
  def userDims(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey"), col("n_name").as("country"),
        col("c_mktsegment").as("platform"), col("c_acctbal"))

  def orderCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("nb_orders"))

  /** The feature relation: pivot rows (columns passed through) left-
    * enriched with user dims and order counts, defaulting to `UNKNOWN`
    * and 0. Training, batch and streaming scoring all read it; a
    * streaming deployment passes dims and counts MATERIALIZED once, as
    * Spark re-executes a stream-static join's static side per batch.
    */
  def featureRelationWith(
      pivot: DataFrame, dims: DataFrame, nbOrders: DataFrame): DataFrame =
    Joins.leftEnrich(pivot, dims, "user_id", "c_custkey")
      .join(broadcast(nbOrders), col("user_id") === col("o_custkey"), "left")
      .select(pivot.columns.toSeq.map(col) ++ Seq(
        coalesce(col("country"), lit("UNKNOWN")).as("country"),
        coalesce(col("platform"), lit("UNKNOWN")).as("platform"),
        coalesce(col("nb_orders"), lit(0L)).cast("int").as("nb_orders")): _*)

  def featureRelation(spark: SparkSession, pivot: DataFrame, dir: String): DataFrame =
    featureRelationWith(pivot, userDims(spark, dir), orderCounts(spark, dir))

  /** The keys plus the model's inputs, projected through [[Inputs]]. */
  def modelInputs: Seq[Column] =
    col("user_id") +: col("w_start") +: Inputs.map(i => i.served.as(i.name))

  /** Scores in-query with the registered `predict` UDF, which binds string
    * inputs in signature order, then int inputs.
    */
  def withPrediction(features: DataFrame): DataFrame = {
    val (strings, ints) = Inputs.partition(_.sigType == "string")
    features.withColumn(Predicted, call_udf("predict", lit(ModelName),
      Relational.asArray(strings.map(_.served): _*),
      Relational.asArray(ints.map(_.served): _*)))
  }

  /** Assemble the training frame from fixtures (FIXTURES.md §C mapping):
    * the feature relation over per-(user × hopping window) pivot counts
    * — the SAME granularity and scale the serving path scores
    * (README.md:41-70 serves 10-minute window counts; the reference
    * trains on rolling-600s features, train.py:260-276, deliberately
    * matching that scale) — projected through the input table.
    *
    * Training on lifetime totals and serving on window counts was the
    * first implementation here and produced a constant predictor at
    * serving scale — the feature-scale consistency is load-bearing.
    *
    * Label rule (fixture analog of train.py:220's `is_bot = id>=1e6`,
    * which works because reference bots *behave* differently): a
    * deterministic behavioral rule the tree can learn from the served
    * features — more gallery than product views in the window.
    */
  def trainingFrame(spark: SparkSession, dir: String): DataFrame = {
    val pivot = WindowOps.hoppingPivot(
      Tables.events(spark, dir), eventTypes = Tables.EventTypes)
    // labeled in the same projection: a label over the cast inputs
    // would stack a second Project the optimizer does not collapse
    val label = when(col("click_views") > col("purchase_views"), lit("bot"))
      .otherwise(lit("user")).as("label")
    featureRelation(spark, pivot, dir).select(modelInputs :+ label: _*)
  }

  /** M1–M7 stages. The label indexer arrives pre-fit (like
    * train.py:306's eagerly-fit labelIndexer placed into the pipeline as
    * a transformer) so train/test splits can never hit unseen labels.
    */
  private def stages(labelModel: StringIndexerModel, labels: Array[String])
      : Array[PipelineStage] = {
    // one index + one-hot pair per string input, assembled in input order
    val encoders = Inputs.filter(_.sigType == "string").flatMap { i =>
      Seq(
        new StringIndexer().setInputCol(i.name)
          .setOutputCol(s"${i.name}_idx").setHandleInvalid("keep"),
        new OneHotEncoder().setInputCol(s"${i.name}_idx")
          .setOutputCol(s"${i.name}_ohe"))
    }
    val assembler = new VectorAssembler()
      .setInputCols(Inputs.map(i =>
        if (i.sigType == "string") s"${i.name}_ohe" else i.name).toArray)
      .setOutputCol("features")
    val dtc = new DecisionTreeClassifier()
      .setLabelCol("indexed_label").setFeaturesCol("features").setSeed(42L)
    val unindex = new IndexToString().setInputCol("prediction")
      .setOutputCol(Predicted).setLabels(labels)
    (encoders ++ Seq(assembler, labelModel, dtc, unindex)).toArray
  }

  case class Trained(
      serving: PipelineModel,
      metric: Double,
      labels: Array[String])

  /** Fit with 3-fold CV over the reference's grid shape (M8–M10), then
    * rebuild the serving pipeline without the label indexer (M11).
    * Seeded throughout (the reference's unseeded randomSplit, M6, is a
    * reproducibility bug we do not copy).
    */
  def fit(df: DataFrame, useCv: Boolean = true): Trained = {
    // label vocabulary fit eagerly like train.py:306 (one fixed order)
    val labelModel: StringIndexerModel = new StringIndexer()
      .setInputCol("label").setOutputCol("indexed_label")
      .setStringOrderType("alphabetDesc").fit(df)
    val labels = labelModel.labelsArray(0)
    val st = stages(labelModel, labels)
    val pipeline = new Pipeline().setStages(st)

    val Array(train, test) = df.randomSplit(Array(0.7, 0.3), seed = 42L)
    // deliberate deviation from the reference (train.py:334-336 points
    // the evaluator at the hard 'prediction' column): AUC over 0/1
    // predictions is threshold-degenerate and makes CV selection
    // tie-blind; the tree's rawPrediction column gives a real ROC
    val evaluator = new BinaryClassificationEvaluator()
      .setLabelCol("indexed_label").setRawPredictionCol("rawPrediction")

    val fitted: PipelineModel =
      if (useCv) {
        val dtc = st.collectFirst { case d: DecisionTreeClassifier => d }.get
        // maxBins {8,16} vs the reference grid's {2,4} (train.py:330-333):
        // deliberate — the fixture's 25-country one-hot needs maxBins ≥
        // the largest categorical cardinality per split or the tree
        // cannot separate categories; {2,4} underfits here by design of
        // the reference's tiny demo dims
        val grid = new ParamGridBuilder()
          .addGrid(dtc.maxDepth, Array(2, 3, 4))
          .addGrid(dtc.maxBins, Array(8, 16))
          .build()
        val cv = new CrossValidator().setEstimator(pipeline)
          .setEvaluator(evaluator).setEstimatorParamMaps(grid)
          .setNumFolds(3).setSeed(42L)
        cv.fit(train).bestModel.asInstanceOf[PipelineModel]
      } else pipeline.fit(train)

    val metric = evaluator.evaluate(fitted.transform(test))

    // M11 serving surgery: drop the label indexer so the scorer
    // consumes raw features and emits predicted_label.
    val servingStages = fitted.stages.patch(st.indexOf(labelModel), Nil, 1)
    val serving = org.apache.spark.ml.GraftMlBridge.pipelineModel(
      fitted.uid + "-serving", servingStages)
    Trained(serving, metric, labels)
  }

  /** End-to-end: build frame → fit → register. Returns (version, metric). */
  def trainAndRegister(
      spark: SparkSession,
      dir: String,
      registry: Registry,
      modelName: String = ModelName,
      useCv: Boolean = true): (Int, Double) = {
    val df = trainingFrame(spark, dir)
    val t = fit(df, useCv)
    val version = registry.save(
      modelName, t.serving,
      inputCols = Inputs.map(i => i.name -> i.sigType), outputCol = Predicted)
    (version, t.metric)
  }
}
