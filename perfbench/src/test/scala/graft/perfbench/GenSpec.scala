package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp: Path = Files.createTempDirectory("perfbench-gen")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val spec = Flagship.Spec
  private val files = Gen.clickstream(spec, 7L, 30)

  test("the same seed gives identical stream files; another seed does not") {
    def bytes(seed: Long, name: String): Array[Byte] = {
      val p = tmp.resolve(name)
      Gen.writeEvents(p, Gen.clickstream(spec, seed, 5).flatten)
      Files.readAllBytes(p)
    }
    assert(bytes(7L, "a.parquet").sameElements(bytes(7L, "b.parquet")))
    assert(!bytes(7L, "c.parquet").sameElements(bytes(8L, "d.parquet")))
  }

  test("every user id is a customer key, so the enrichment joins hit") {
    val users = files.flatten.map(_.user)
    assert(users.forall(u => u >= 0 && u < Gen.Sizes(0.1).customer))
    // the bot subset emits far more than an average user: key skew
    val counts = users.groupBy(identity).values.map(_.size).toSeq.sorted
    assert(counts.last >= 10 * Stats.median(counts.map(_.toDouble)))
  }

  test("disorder stays below the watermark delay, so no event is late") {
    val delayUs = 10L * 60 * 1000000L // Flagship.Lateness
    assert(spec.disorderSec * 1000000L < delayUs)
    var maxSeen = Long.MinValue
    files.zipWithIndex.foreach { case (evs, i) =>
      val start = (spec.startSec + i.toLong * spec.fileSpanSec) * 1000000L
      evs.foreach { e =>
        assert(e.tsUs >= start - spec.disorderSec * 1000000L)
        assert(e.tsUs < start + spec.fileSpanSec * 1000000L)
      }
      // the watermark before file i is at most the latest event seen minus
      // the delay; every event of file i is above it
      if (maxSeen != Long.MinValue) assert(evs.map(_.tsUs).min > maxSeen - delayUs)
      maxSeen = math.max(maxSeen, evs.map(_.tsUs).max)
    }
  }

  test("Streaming.eventsStream accepts the files' schema") {
    val dir = tmp.resolve("stream")
    files.take(3).zipWithIndex.foreach { case (evs, i) =>
      Gen.writeEvents(dir.resolve(if (i == 0) "events.parquet" else s"events_$i.parquet"), evs)
    }
    val q = Streaming.eventsStream(spark, dir.toString).writeStream
      .format("memory").queryName("gen_spec_events").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("gen_spec_events")
    assert(got.count() == 3L * spec.eventsPerFile)
    assert(got.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val first = files.head.head
    val row = got.where(s"event_id = ${first.id}").head()
    assert(row.getAs[java.sql.Timestamp]("ts").getTime == first.tsUs / 1000)
    assert(row.getAs[String]("event_type") == Gen.EventTypes(first.tpe))
  }
}
