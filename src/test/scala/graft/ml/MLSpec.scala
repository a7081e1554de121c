package graft.ml

import java.nio.file.Files

import org.apache.spark.ml.functions.vector_to_array
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
    // on every training row: LocalScorer compiles the multi-column stages
    trained
    val loaded = reg.load("Bot Detector")
    val frame = Trainer.trainingFrame(spark, sf0001)
    val viaDF = Scorer.scoreClean(loaded, frame)
      .select("user_id", "w_start", "predicted_label").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val rows = frame.collect()
    assert(rows.length == viaDF.size)
    rows.foreach { r =>
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

  test("the trained model is pinned: every training row's prediction, raw " +
    "prediction and probability hash to the committed digest") {
    // the held-out AUC is 1.0 whatever the tree (the label is a function
    // of two served inputs), so it cannot show a model change; this can.
    // The leaves are pure, so the probabilities alone would not show a
    // changed split either: the raw leaf counts do.
    val (version, metric) = trained
    assert(version == 1)
    assert(java.lang.Double.doubleToLongBits(metric) == 0x3ff0000000000000L, s"metric $metric")
    assert(modelDigest(reg) == PinnedDigest)
  }

  test("the trained model does not depend on the session's shuffle width") {
    // the seeded split and the tree's sampling draw per partition, so a
    // width taken from the session would train another model; with
    // coalescing off, the session's width reaches the frame's layout
    Seq(2, 7).foreach { width =>
      val s = graft.Sessions.isolatedSession(spark)
      s.conf.set("spark.sql.shuffle.partitions", width.toLong)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val r = new Registry(Files.createTempDirectory("graft_reg_width").toString)
      Trainer.trainAndRegister(s, sf0001, r, "Bot Detector", useCv = false)
      assert(modelDigest(r) == PinnedDigest, s"shuffle width $width")
    }
  }

  private val PinnedDigest = "1dac6f4e932ffe07735a865f0369beeef7f7cf22dd4ff7b059de8ab67e9b0868"

  /** SHA-256 over every training row's prediction, raw prediction and
    * probability under the model `registry` holds.
    */
  private def modelDigest(registry: Registry): String = {
    val rows = Scorer.scoreDF(registry.load("Bot Detector"), Trainer.trainingFrame(spark, sf0001))
      .select(col("user_id"), col("w_start"), col("predicted_label"),
        vector_to_array(col("rawPrediction")), vector_to_array(col("probability")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getSeq[Double](3) ++ r.getSeq[Double](4)))
      .sortBy(r => (r._1, r._2))
    assert(rows.length == 4944 && rows.count(_._3 == "bot") == 1040,
      s"${rows.length} rows, ${rows.count(_._3 == "bot")} bot")
    val text = rows.map { case (u, w, p, scores) =>
      s"$u,$w,$p," + scores.map(d =>
        java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))).mkString(",")
    }.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("registry save, load and LocalScorer.compile run no Spark job") {
    trained
    val loaded = reg.load("Bot Detector")
    val other = new Registry(Files.createTempDirectory("graft_reg_jobs").toString)
    val (v, saveJobs) = withJobCount(other.save("Bot Detector", loaded.model,
      loaded.signature.inputs, loaded.signature.output))
    assert(v == 1)
    val (reloaded, loadJobs) = withJobCount(other.load("Bot Detector"))
    val (_, compileJobs) = withJobCount(LocalScorer.compile(reloaded))
    assert((saveJobs, loadJobs, compileJobs) == ((0, 0, 0)),
      s"save ran $saveJobs jobs, load $loadJobs, compile $compileJobs")
    assert(reloaded.model.stages.map(_.uid).toSeq == loaded.model.stages.map(_.uid).toSeq)
  }

  /** A fresh registry holding the trained model as version 1. */
  private def copyRegistry(tag: String): Registry = {
    trained
    val loaded = reg.load("Bot Detector")
    val r = new Registry(Files.createTempDirectory(tag).toString)
    r.save("Bot Detector", loaded.model, loaded.signature.inputs, loaded.signature.output)
    r
  }

  test("registry load refuses a model saved by MLlib's job-based writer, " +
    "naming the model and version") {
    val r = copyRegistry("graft_reg_jobwriter")
    val modelDir = java.nio.file.Paths.get(r.rootDir, "Bot Detector", "1", "model")
    // the writer outside local saving mode: metadata as a part-file directory
    reg.load("Bot Detector").model.write.overwrite().save(modelDir.toString)
    assert(Files.isDirectory(modelDir.resolve("metadata")))
    val err = intercept[IllegalStateException](r.load("Bot Detector"))
    assert(err.getMessage.contains("'Bot Detector' version 1") &&
      err.getMessage.contains("re-register"), err.getMessage)
  }

  test("registry load refuses a model another Spark version wrote, naming both versions") {
    val r = copyRegistry("graft_reg_version")
    val meta = java.nio.file.Paths.get(r.rootDir, "Bot Detector", "1", "metadata.json")
    val written = Files.readString(meta)
    assert(written.contains(s""""spark": "${org.apache.spark.SPARK_VERSION}""""), written)
    Files.writeString(meta, written.replace(org.apache.spark.SPARK_VERSION, "3.5.1"))
    val err = intercept[IllegalStateException](r.load("Bot Detector"))
    assert(err.getMessage.contains("'Bot Detector' version 1") &&
      err.getMessage.contains("Spark 3.5.1") &&
      err.getMessage.contains(s"Spark ${org.apache.spark.SPARK_VERSION}") &&
      err.getMessage.contains("re-register"), err.getMessage)
  }
}
