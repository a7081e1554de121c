package graft

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

  override def afterAll(): Unit = () // session shared across suites
}
