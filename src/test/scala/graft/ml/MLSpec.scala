package graft.ml

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import graft.SparkSpec

class MLSpec extends SparkSpec {

  private lazy val reg = new Registry(
    Files.createTempDirectory("graft_reg_test").toString)

  private lazy val trained: (Int, Double) =
    Trainer.trainAndRegister(spark, sf0001, reg, "Bot Detector", useCv = false)

  test("training frame has both labels and the 6-feature contract") {
    val df = Trainer.trainingFrame(spark, sf0001)
    val labels = df.select("label").distinct().collect().map(_.getString(0)).toSet
    assert(labels == Set("bot", "user"), s"labels=$labels")
    // the registry signature IS the input table, in order
    trained
    val signature = reg.load("Bot Detector").signature.inputs
    assert(Trainer.Inputs.size == 6)
    assert(signature == Trainer.Inputs.map(i => i.name -> i.sigType))
    // and every input column trains with the Spark type its signature names
    val sparkType = Map("string" -> StringType, "integer" -> IntegerType,
      "long" -> LongType)
    signature.foreach { case (name, sigType) =>
      assert(df.schema(name).dataType == sparkType(sigType), s"column $name")
    }
  }

  test("training ≡ serving: the batch flagship scores every training key " +
    "with the label the trained model gives its training row") {
    // the flagship enriches and scores through Trainer's relation and
    // `predict`; the training frame projects the same relation — so the
    // key sets match and every key gets the same prediction
    val served = graft.SparkEntry.entry(spark)
      .select("user_id", "w_start", "predicted_label").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    trained
    val trainedOn = Scorer.scoreClean(
      reg.load("Bot Detector"), Trainer.trainingFrame(spark, sf0001))
      .select("user_id", "w_start", "predicted_label").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(served.nonEmpty)
    assert(served.keySet == trainedOn.keySet)
    val disagree = served.filter { case (k, p) => trainedOn(k) != p }
    assert(disagree.isEmpty, s"${disagree.size} keys disagree, e.g. ${disagree.take(3)}")
  }

  test("train → register → load roundtrip with Production stage") {
    val (version, metric) = trained
    assert(version == 1)
    assert(reg.latestProduction("Bot Detector").contains(1))
    val loaded = reg.load("Bot Detector")
    assert(loaded.signature.output == "predicted_label")
    assert(loaded.signature.inputs.map(_._1) == Trainer.Inputs.map(_.name))
    assert(metric >= 0.0 && metric <= 1.0)
  }

  test("M14: scored output contains both classes") {
    trained
    val scored = Scorer.scoreClean(
      reg.load("Bot Detector"), Trainer.trainingFrame(spark, sf0001))
    val preds = scored.select("predicted_label").distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds == Set("bot", "user"), s"predictions=$preds")
  }

  test("vectorized scoreDF and row-at-a-time predict UDF agree") {
    trained
    val loaded = reg.load("Bot Detector")
    val frame = Trainer.trainingFrame(spark, sf0001)
    val viaDF = Scorer.scoreClean(loaded, frame)
      .select("user_id", "w_start", "predicted_label").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val rows = frame.collect()
    rows.take(50).foreach { r =>
      val viaUdf = Scorer.predictOne(reg.rootDir, "Bot Detector",
        Seq(r.getAs[String]("country"), r.getAs[String]("platform")),
        Seq(r.getAs[Int]("product_views"), r.getAs[Int]("listing_views"),
          r.getAs[Int]("gallery_views"), r.getAs[Int]("nb_orders")))
      val key = (r.getAs[Long]("user_id"), r.getAs[Long]("w_start"))
      assert(viaUdf == viaDF(key), s"row $key")
    }
  }

  test("predict UDF usable from SQL with as_array surface (U1), preloaded closure") {
    trained
    Scorer.registerPredictUdf(spark, reg.rootDir, preload = Seq("Bot Detector"))
    Trainer.trainingFrame(spark, sf0001).createOrReplaceTempView("mlf")
    val out = spark.sql(
      """SELECT predict('Bot Detector', array(country, platform),
                 array(product_views, listing_views, gallery_views, nb_orders)) p
         FROM mlf""").collect()
    assert(out.nonEmpty && out.forall(r => r.getString(0) == "bot" || r.getString(0) == "user"))
  }

  test("U6: unknown model / wrong arity → NULL, not exception") {
    trained
    assert(Scorer.predictOne(reg.rootDir, "No Such Model", Seq("a", "b"), Seq(1, 2, 3, 4)) == null)
    assert(Scorer.predictOne(reg.rootDir, "Bot Detector", Seq("only-one"), Seq(1, 2, 3, 4)) == null)
    assert(Scorer.predictOne(reg.rootDir, "Bot Detector", Seq("a", "b"), Seq(1)) == null)
  }

  test("U9: unsupported signature type rejected at parse") {
    intercept[IllegalArgumentException] {
      Signature.parse("""{"inputs": [{"name": "x", "type": "double"}], "output": "y"}""")
    }
  }

  test("model-score AUC: aucExact on P(bot) ≡ MLlib areaUnderROC on the same frame") {
    // the q_auc_model composition: score the training frame, take the
    // probability-vector entry the IndexToString stage maps to "bot",
    // and the relational Mann–Whitney AUC must agree with the MLlib
    // evaluator the reference runs (train.py's areaUnderROC) — DTC
    // probabilities are leaf-constant, so tie handling is exercised hard
    trained
    val scored = Scorer.withPositiveProbability(
      reg.load("Bot Detector"), Trainer.trainingFrame(spark, sf0001),
      "bot", "p_bot")
    val ours = Metrics.aucExact(scored, col("label") === "bot", col("p_bot"))
      .head().getAs[Double]("auc")
    val mllib = new org.apache.spark.mllib.evaluation.BinaryClassificationMetrics(
      scored.select(col("p_bot"), when(col("label") === "bot", 1.0).otherwise(0.0))
        .rdd.map(r => (r.getDouble(0), r.getDouble(1))))
      .areaUnderROC()
    assert(math.abs(ours - mllib) < 1e-6, s"ours=$ours mllib=$mllib")
    // an unknown positive label fails loudly, never a silent index
    intercept[IllegalArgumentException] {
      Scorer.withPositiveProbability(
        reg.load("Bot Detector"), Trainer.trainingFrame(spark, sf0001), "nope")
    }
  }

  test("registry versioning: second save becomes latest Production") {
    trained
    val loaded = reg.load("Bot Detector")
    val v2 = reg.save("Bot Detector", loaded.model,
      loaded.signature.inputs, loaded.signature.output)
    assert(v2 == 2)
    assert(reg.latestProduction("Bot Detector").contains(2))
    // archive v2 → v1 is production again
    Files.writeString(
      java.nio.file.Paths.get(reg.rootDir, "Bot Detector", "2", "STAGE"),
      "Archived")
    assert(reg.latestProduction("Bot Detector").contains(1))
  }
}
