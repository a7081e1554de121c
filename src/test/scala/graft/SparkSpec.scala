package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one JVM-wide
  * session built by [[Sessions.local]]; forked test JVM gets the
  * build.sbt --add-opens flags).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    Sessions.local("spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")

  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Every file and directory under `root`, relative path → size: equal
    * listings before and after a call mean the call wrote nothing there.
    */
  def treeListing(root: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala.map(p =>
      base.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
    finally walk.close()
  }

  override def afterAll(): Unit = () // session shared across suites
}
