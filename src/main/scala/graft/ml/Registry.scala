package graft.ml

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.SPARK_VERSION
import org.apache.spark.ml.{GraftMlBridge, PipelineModel}

/** Local model registry replacing the reference's MLflow server
  * (U7/U10/U13 — /root/reference/udf/src/main/java/com/getindata/ksql/
  * MlflowModelResolver.java:115-117: lookup of the latest version in
  * stage "Production").
  *
  * Layout: <root>/<name>/<version>/ {model/ (Spark-native PipelineModel
  * save), metadata.json (signature + the Spark version that wrote the
  * model), STAGE (promotion marker)}.
  *
  * `model/` is written and read by MLlib's own writer and reader in its
  * local saving mode ([[org.apache.spark.ml.GraftMlBridge.locally]]):
  * plain files moved on the driver, no Spark job either way. That format
  * is MLlib's, not a stable one, so a model is loaded only by the Spark
  * version that wrote it; after an upgrade, re-register.
  */
class Registry(val rootDir: String) {

  private def nameDir(name: String): Path = Paths.get(rootDir, name)

  /** Save a model as the next version of `name`, promoted to stage "Production".
    * Writes the signature (input column names/types + output column) the
    * way the reference logs the MLmodel signature (train.py:352-362).
    */
  def save(
      name: String,
      model: PipelineModel,
      inputCols: Seq[(String, String)],
      outputCol: String): Int = {
    val version = latestVersion(name).getOrElse(0) + 1
    val vdir = nameDir(name).resolve(version.toString)
    Files.createDirectories(vdir)
    GraftMlBridge.locally(model.write.overwrite().save(vdir.resolve("model").toString))
    val inputsJson = inputCols
      .map { case (n, t) => s"""{"name": "$n", "type": "$t"}""" }
      .mkString("[", ", ", "]")
    Files.writeString(vdir.resolve("metadata.json"),
      s"""{"inputs": $inputsJson, "output": "$outputCol", "spark": "$SPARK_VERSION"}""")
    Files.writeString(vdir.resolve("STAGE"), "Production")
    version
  }

  /** Numeric version subdirs of a model, with the directory stream
    * closed (Files.list leaks an fd per call otherwise).
    */
  private def versions(name: String): Seq[Int] = {
    val d = nameDir(name)
    if (!Files.isDirectory(d)) Nil
    else {
      val stream = Files.list(d)
      try stream.iterator().asScala
        .flatMap(p => scala.util.Try(p.getFileName.toString.toInt).toOption)
        .toSeq
      finally stream.close()
    }
  }

  private def latestVersion(name: String): Option[Int] = versions(name).maxOption

  /** U7 — latest version in stage "Production". */
  def latestProduction(name: String): Option[Int] =
    versions(name).filter { v =>
      val marker = nameDir(name).resolve(v.toString).resolve("STAGE")
      Files.exists(marker) && Files.readString(marker).trim == "Production"
    }.maxOption

  /** U10 analog — load the production model + its signature.
    * Throws if no production version exists (caller turns this into
    * null-on-error per U6), and refuses, naming the model and version, a
    * model this registry cannot read: one saved by the job-based writer
    * (its `model/metadata` is a directory of part files) or by another
    * Spark version.
    */
  def load(name: String): LoadedModel = {
    val v = latestProduction(name).getOrElse(
      throw new IllegalArgumentException(s"no Production version of model '$name'"))
    val vdir = nameDir(name).resolve(v.toString)
    val modelDir = vdir.resolve("model")
    if (Files.isDirectory(modelDir.resolve("metadata")))
      throw new IllegalStateException(
        s"model '$name' version $v was saved by MLlib's job-based writer, " +
          "which this registry no longer reads; re-register it")
    val meta = Files.readString(vdir.resolve("metadata.json"))
    val writtenBy = SparkVersionRe.findFirstMatchIn(meta).map(_.group(1))
    if (!writtenBy.contains(SPARK_VERSION))
      throw new IllegalStateException(
        s"model '$name' version $v was written by Spark " +
          s"${writtenBy.getOrElse("<unrecorded>")} and this is Spark $SPARK_VERSION; " +
          "MLlib's saved format is per version, so re-register it")
    LoadedModel(
      GraftMlBridge.locally(PipelineModel.load(modelDir.toString)),
      Signature.parse(meta),
      name, v)
  }

  private val SparkVersionRe = """"spark": "([^"]+)"""".r
}

/** U11 — model holder (reference MLModel.java:6-36). */
case class LoadedModel(
    model: PipelineModel,
    signature: Signature,
    name: String,
    version: Int)

/** Model I/O signature (reference MlflowModelResolver.java:62-94: inputs
  * parsed from MLmodel YAML; string/integer/long accepted, anything else
  * rejected — we preserve the strict unknown-type error, U9).
  */
case class Signature(inputs: Seq[(String, String)], output: String) {
  def validate(): Unit = inputs.foreach { case (n, t) =>
    if (!Signature.SupportedTypes.contains(t))
      throw new IllegalArgumentException(
        s"unsupported signature type '$t' for input '$n'")
  }
}

object Signature {
  val SupportedTypes = Set("string", "integer", "long")

  /** Minimal parser for the metadata.json this registry writes. */
  def parse(json: String): Signature = {
    val inputRe = """\{"name": "([^"]+)", "type": "([^"]+)"\}""".r
    val outputRe = """"output": "([^"]+)"""".r
    val inputs = inputRe.findAllMatchIn(json)
      .map(m => (m.group(1), m.group(2))).toSeq
    val output = outputRe.findFirstMatchIn(json)
      .map(_.group(1))
      .getOrElse(throw new IllegalArgumentException("metadata.json missing output"))
    val sig = Signature(inputs, output)
    sig.validate()
    sig
  }
}
