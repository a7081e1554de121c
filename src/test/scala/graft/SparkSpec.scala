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

  /** `body`'s result and the number of Spark jobs it ran. A listener
    * counts the jobs tagged with a job group set for `body` alone (this
    * thread, and the SQL threads that inherit its properties), then a
    * marker job under a second group shows that the listener queue,
    * which delivers in order, has caught up.
    */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"count_${java.util.UUID.randomUUID()}"
    val drain = s"${group}_drain"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(drain, drain)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(drain) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(drain), "the listener never saw the marker job")
      (out, groups.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = () // session shared across suites
}
