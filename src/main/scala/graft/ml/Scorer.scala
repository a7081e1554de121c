package graft.ml

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ml.classification.DecisionTreeClassificationModel
import org.apache.spark.ml.feature.{IndexToString, OneHotEncoderModel, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-SQL model serving — the Spark restatement of the reference's
  * `predict` UDF (U1–U6, /root/reference/udf/src/main/java/com/getindata/
  * ksql/PredictUdf.java).
  *
  * Two paths, verified to agree in tests:
  *
  *  - [[scoreDF]] — the performant path: `PipelineModel.transform` on the
  *    whole DataFrame (vectorized, planned by Catalyst, no per-row frame
  *    construction). This is what a 100 TB pipeline uses.
  *  - [[registerPredictUdf]] — surface parity with the reference:
  *    `predict(modelName, stringParams, intParams) → STRING`. The pipeline
  *    is compiled once into a plain-Scala row evaluator ([[LocalScorer]])
  *    — the analog of the reference's in-process MLeap transform
  *    (PredictUdf.java:48-58): no Spark job per row, works inside
  *    executor-side expression evaluation. Lazy per-JVM cache (U2),
  *    strict arity checks (U9), null-on-error (U6).
  */
object Scorer {

  /** Vectorized scoring: shuffle-free transform. Input must carry the
    * signature's feature columns; output gains the declared output column.
    */
  def scoreDF(loaded: LoadedModel, df: DataFrame): DataFrame = {
    val missing = loaded.signature.inputs.map(_._1).filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing feature columns: ${missing.mkString(", ")}")
    loaded.model.transform(df)
  }

  /** scoreDF projected back to the input columns + prediction only. */
  def scoreClean(loaded: LoadedModel, df: DataFrame): DataFrame = {
    val out = loaded.signature.output
    scoreDF(loaded, df).select((df.columns.map(col) :+ col(out)): _*)
  }

  /** [[scoreDF]] plus the POSITIVE-CLASS PROBABILITY as a scalar
    * column: P(`positiveLabel`) read from the classifier's probability
    * vector at the position the pipeline's IndexToString stage assigns
    * that label (never a hardcoded index — StringIndexer orders labels
    * by frequency, which the corpus decides). This is the evaluation
    * input the reference's areaUnderROC computation consumes
    * (train.py:334-336): feed it to [[Metrics.aucExact]] /
    * [[Metrics.calibrationBins]] against the true label.
    */
  def withPositiveProbability(
      loaded: LoadedModel,
      df: DataFrame,
      positiveLabel: String,
      outCol: String = "p_pos"): DataFrame = {
    val labels = loaded.model.stages.collectFirst {
      case it: org.apache.spark.ml.feature.IndexToString => it.getLabels
    }.getOrElse(throw new IllegalArgumentException(
      "withPositiveProbability: pipeline has no IndexToString stage"))
    val idx = labels.indexOf(positiveLabel)
    require(idx >= 0,
      s"label '$positiveLabel' not in model labels ${labels.mkString("[", ",", "]")}")
    scoreDF(loaded, df).withColumn(outCol,
      org.apache.spark.ml.functions.vector_to_array(col("probability"))(idx))
  }

  // U2: lazy per-JVM scorer cache (reference: ConcurrentHashMap filled on
  // first call per model, PredictUdf.java:26,43-45).
  private val cache = new ConcurrentHashMap[String, LocalScorer]()

  private[ml] def cachedScorer(registryRoot: String, name: String): LocalScorer =
    cache.computeIfAbsent(s"$registryRoot::$name", { _ =>
      val loaded = new Registry(registryRoot).load(name)
      LocalScorer.compile(loaded)
    })

  /** Register `predict(modelName, stringParams, intParams)` (U1).
    * String params bind to the signature's string inputs in order, then
    * int params to the integer/long inputs (U4). Errors → SQL NULL (U6).
    *
    * `preload` names are resolved and compiled on the DRIVER and the
    * resulting serializable [[LocalScorer]]s ship inside the UDF closure
    * — model loading needs a SparkSession, which executors don't have, so
    * on a real cluster every model a query uses must be preloaded (the
    * analog of the reference's configure-time MLflow context, U3). Names
    * outside `preload` fall back to the per-JVM lazy cache, which only
    * resolves where a SparkSession is active (driver / local mode).
    */
  def registerPredictUdf(
      spark: SparkSession,
      registryRoot: String,
      preload: Seq[String] = Nil): Unit = {
    val shipped: Map[String, LocalScorer] =
      preload.map(n => n -> cachedScorer(registryRoot, n)).toMap
    val predict = udf((modelName: String, stringParams: Seq[String], intParams: Seq[Int]) =>
      try {
        shipped.get(modelName) match {
          case Some(sc) => sc.predict(stringParams, intParams)
          case None => predictOne(registryRoot, modelName, stringParams, intParams)
        }
      } catch {
        // NonFatal ONLY: OOM/linkage errors must surface, and a
        // misconfigured model name should not silently become all-NULL
        // predictions on a cluster — warn once per JVM per model (U6
        // still maps per-row scoring errors to SQL NULL).
        case scala.util.control.NonFatal(e) => warnOnce(modelName, e); null
      })
    spark.udf.register("predict", predict)
  }

  // once-per-JVM (≈ once-per-executor) warning so error→NULL (U6) never
  // hides systematic misconfiguration in the logs
  private val warned = ConcurrentHashMap.newKeySet[String]()
  private def warnOnce(modelName: String, e: Throwable): Unit =
    if (warned.add(modelName))
      System.err.println(
        s"[graft] predict('$modelName') failed; returning NULL (warning once per executor): $e")

  private[ml] def predictOne(
      registryRoot: String,
      modelName: String,
      stringParams: Seq[String],
      intParams: Seq[Int]): String =
    try {
      cachedScorer(registryRoot, modelName).predict(stringParams, intParams)
    } catch {
      case scala.util.control.NonFatal(e) =>
        warnOnce(modelName, e); null // U6: error → NULL
    }
}

/** A PipelineModel compiled to a plain row-at-a-time evaluator: the
  * supported stage algebra is exactly what [[Trainer]] produces
  * (StringIndexerModel → OneHotEncoderModel → VectorAssembler →
  * DecisionTreeClassificationModel → IndexToString; the first two
  * multi-column). Serializable, no SparkSession needed at eval time —
  * usable inside UDFs on executors.
  */
case class LocalScorer(
    stringCols: Seq[String],
    intCols: Seq[String],
    eval: Map[String, Any] => String) extends Serializable {

  /** U4 param assembly: strings bind to string inputs in order, ints to
    * int inputs in order; strict arity (U9-adjacent).
    */
  def predict(stringParams: Seq[String], intParams: Seq[Int]): String = {
    require(stringParams.size == stringCols.size,
      s"expected ${stringCols.size} string params, got ${stringParams.size}")
    require(intParams.size == intCols.size,
      s"expected ${intCols.size} int params, got ${intParams.size}")
    eval((stringCols.zip(stringParams) ++ intCols.zip(intParams)).toMap)
  }
}

object LocalScorer {

  def compile(loaded: LoadedModel): LocalScorer = {
    val sig = loaded.signature
    sig.validate()
    // fold stages into a Map-transforming program
    val steps: Seq[Map[String, Any] => Map[String, Any]] =
      loaded.model.stages.toSeq.map {
        case m: StringIndexerModel =>
          // handleInvalid=keep → unseen gets index numLabels
          val cols = m.getInputCols.zip(m.getOutputCols).zip(m.labelsArray).map {
            case ((in, out), labels) => (in, out, labels.zipWithIndex.toMap, labels.length)
          }
          (row: Map[String, Any]) => cols.foldLeft(row) { case (r, (in, out, idx, unseen)) =>
            r + (out -> idx.getOrElse(String.valueOf(r(in)), unseen).toDouble)
          }
        case m: OneHotEncoderModel =>
          val drop = if (m.getDropLast) 1 else 0
          val cols = m.getInputCols.zip(m.getOutputCols).zip(m.categorySizes).map {
            case ((in, out), n) => (in, out, n - drop)
          }
          (row: Map[String, Any]) => cols.foldLeft(row) { case (r, (in, out, size)) =>
            val i = r(in).asInstanceOf[Double].toInt
            val v = Array.fill(size)(0.0)
            if (i >= 0 && i < size) v(i) = 1.0
            r + (out -> Vectors.dense(v))
          }
        case m: VectorAssembler =>
          val ins = m.getInputCols.toSeq; val out = m.getOutputCol
          (row: Map[String, Any]) => {
            val parts = ins.flatMap { c =>
              row(c) match {
                case v: org.apache.spark.ml.linalg.Vector => v.toArray.toSeq
                case n: Int => Seq(n.toDouble)
                case n: Long => Seq(n.toDouble)
                case n: Double => Seq(n)
                case other => throw new IllegalArgumentException(
                  s"unassemblable value $other for column $c")
              }
            }
            row + (out -> Vectors.dense(parts.toArray))
          }
        case m: DecisionTreeClassificationModel =>
          val in = m.getFeaturesCol; val out = m.getPredictionCol
          (row: Map[String, Any]) =>
            row + (out -> m.predict(row(in).asInstanceOf[org.apache.spark.ml.linalg.Vector]))
        case m: IndexToString =>
          val labels = m.getLabels
          val in = m.getInputCol; val out = m.getOutputCol
          (row: Map[String, Any]) =>
            row + (out -> labels(row(in).asInstanceOf[Double].toInt))
        case other =>
          throw new IllegalArgumentException(
            s"LocalScorer does not support stage ${other.getClass.getSimpleName}")
      }
    val program = (row: Map[String, Any]) => steps.foldLeft(row)((r, f) => f(r))
    LocalScorer(
      stringCols = sig.inputs.filter(_._2 == "string").map(_._1),
      intCols = sig.inputs.filter(i => i._2 == "integer" || i._2 == "long").map(_._1),
      eval = row => String.valueOf(program(row)(sig.output)))
  }
}
