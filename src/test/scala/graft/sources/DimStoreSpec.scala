package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[DimStore]] — versioned publish-by-pointer-flip for continuously-
  * updated dimension tables. Covers the crash matrix in the scaladoc
  * (marker wins; mid-flip falls back to highest complete; torsos never
  * served), retention, and the live-TABLE integration: a stream whose
  * per-batch transform resolves `DimStore.read` sees a mid-run publish
  * flip the enrichment of every later batch with no reader quiesce.
  */
class DimStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fs: FileSystem =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"dimstore_$tag").toString + "/dims"

  private def dim(rows: (Long, String)*) =
    rows.toSeq.toDF("k", "country")

  test("publish/read roundtrip; republish flips current; pinned old " +
    "version stays readable (immutability)") {
    val root = tmpRoot("flip")
    val p1 = DimStore.publish(dim(1L -> "PL", 2L -> "DE"), root)
    assert(p1.endsWith("/v00001"))
    assert(DimStore.currentPath(spark, root) == p1)
    assert(DimStore.read(spark, root).count() == 2)

    val p2 = DimStore.publish(dim(1L -> "UPDATED", 2L -> "DE"), root)
    assert(p2.endsWith("/v00002"))
    assert(DimStore.currentPath(spark, root) == p2)
    assert(DimStore.read(spark, root)
      .filter(col("country") === "UPDATED").count() == 1)
    // the superseded version is immutable and still byte-readable by
    // its pinned path — the reproducible-twin contract
    assert(spark.read.parquet(p1)
      .filter(col("country") === "UPDATED").count() == 0)
  }

  test("read reads a version's footers once: a re-read of an unchanged " +
    "version runs no Spark job, and the first read after a publish " +
    "returns the new version's rows") {
    val root = tmpRoot("readonce")
    DimStore.publish(dim(1L -> "PL", 2L -> "DE"), root)
    DimStore.read(spark, root)
    val (again, jobs) = withJobCount(DimStore.read(spark, root))
    assert(jobs == 0, s"a re-read of an unchanged version ran $jobs jobs")
    assert(again.as[(Long, String)].collect().toSet == Set(1L -> "PL", 2L -> "DE"))
    DimStore.publish(dim(1L -> "UPDATED", 2L -> "DE", 3L -> "FR"), root)
    val next = DimStore.read(spark, root)
    assert(next.as[(Long, String)].collect().toSet ==
      Set(1L -> "UPDATED", 2L -> "DE", 3L -> "FR"))
    val (_, nextJobs) = withJobCount(DimStore.read(spark, root))
    assert(nextJobs == 0, s"a re-read of the published version ran $nextJobs jobs")
  }

  test("a root deleted and republished under the same version number " +
    "with another schema is read with the new schema") {
    val root = tmpRoot("reschema")
    val p1 = DimStore.publish(dim(1L -> "PL"), root)
    assert(DimStore.read(spark, root).columns.toSeq == Seq("k", "country"))
    fs.delete(new Path(root), true)
    // written through publishWith, whose content the store does not
    // know: only the rebuilt version's `_SUCCESS` time tells read
    val again = DimStore.publishWith(spark, root)(dir =>
      Seq((1L, "PL", 7)).toDF("k", "country", "tier").write.parquet(dir))
    assert(again == p1, "the republish should reuse the version number")
    val read = DimStore.read(spark, root)
    assert(read.columns.toSeq == Seq("k", "country", "tier"))
    assert(read.as[(Long, String, Int)].collect().toSeq == Seq((1L, "PL", 7)))
  }

  test("crash after data, before flip: marker wins — the orphan " +
    "complete version is not served") {
    val root = tmpRoot("orphan")
    val p1 = DimStore.publish(dim(1L -> "PL"), root)
    // simulate: the next publish died right before the marker flip —
    // its data dir is complete (_SUCCESS) but _CURRENT still names v1
    dim(1L -> "UPDATED").write.parquet(s"$root/v00002")
    assert(fs.exists(new Path(s"$root/v00002/_SUCCESS")))
    assert(DimStore.currentPath(spark, root) == p1,
      "an unflipped publish must stay invisible")
    // re-publish (at-least-once) lands on a FRESH number and flips
    val p3 = DimStore.publish(dim(1L -> "UPDATED"), root)
    assert(p3.endsWith("/v00003"))
    assert(DimStore.currentPath(spark, root) == p3)
  }

  test("crash mid-flip (marker deleted, rename lost): deterministic " +
    "fallback to the highest complete version") {
    val root = tmpRoot("midflip")
    DimStore.publish(dim(1L -> "PL"), root)
    val p2 = DimStore.publish(dim(1L -> "UPDATED"), root)
    fs.delete(new Path(root, DimStore.Marker), false) // the lost rename
    assert(DimStore.currentPath(spark, root) == p2,
      "mid-flip crash must resolve to the version the flip was publishing")
  }

  test("a torso (no _SUCCESS) is never served, even as fallback") {
    val root = tmpRoot("torso")
    val p1 = DimStore.publish(dim(1L -> "PL"), root)
    // simulate a publisher killed mid-data-write: dir exists, marker
    // untouched, no _SUCCESS
    dim(1L -> "HALF").write.parquet(s"$root/v00002")
    fs.delete(new Path(s"$root/v00002/_SUCCESS"), false)
    assert(DimStore.currentPath(spark, root) == p1)
    fs.delete(new Path(root, DimStore.Marker), false) // worst case: also mid-flip
    assert(DimStore.currentPath(spark, root) == p1,
      "fallback must skip incomplete versions")
  }

  test("prune keeps the newest `keep` complete versions plus current, " +
    "removes older ones and torsos") {
    val root = tmpRoot("prune")
    // keep=0 disables publish-side auto-prune so the manual-prune
    // contract is exercised on a root holding all three versions
    DimStore.publish(dim(1L -> "a"), root, keep = 0)
    DimStore.publish(dim(1L -> "b"), root, keep = 0)
    DimStore.publish(dim(1L -> "c"), root, keep = 0)
    // a torso ABOVE every complete version (a publisher killed mid-write
    // after v3): lingers only until prune, never served
    dim(1L -> "HALF").write.parquet(s"$root/v00004")
    fs.delete(new Path(s"$root/v00004/_SUCCESS"), false)
    val removed = DimStore.prune(spark, root, keep = 1)
    assert(removed == 3, s"expected v1, v2 and the torso gone, removed=$removed")
    assert(DimStore.currentPath(spark, root).endsWith("/v00003"))
    assert(DimStore.read(spark, root).head().getString(1) == "c")
  }

  test("a crashed torso's number is REUSED and overwritten by the next " +
    "publish (next allocates from complete versions only)") {
    val root = tmpRoot("reuse")
    DimStore.publish(dim(1L -> "a"), root)
    // publisher killed mid-data-write at v2: dir exists, no _SUCCESS
    dim(1L -> "HALF").write.parquet(s"$root/v00002")
    fs.delete(new Path(s"$root/v00002/_SUCCESS"), false)
    val p2 = DimStore.publish(dim(1L -> "b"), root)
    assert(p2.endsWith("/v00002"), s"torso number must be reused, got $p2")
    assert(DimStore.currentPath(spark, root) == p2)
    assert(DimStore.read(spark, root).head().getString(1) == "b",
      "the torso's half-written content must be fully overwritten")
  }

  test("version numbering survives v99999 -> v100000 (no silent " +
    "permanent staleness at the 5-digit pad boundary)") {
    val root = tmpRoot("rollover")
    // fabricate a complete v99999 directly (publishing 10^5 versions
    // would be absurd); content is a real 1-row parquet so reads work
    dim(1L -> "old").write.parquet(s"$root/v99999")
    val p = DimStore.publish(dim(1L -> "new"), root)
    assert(p.endsWith("/v100000"), s"expected 6-digit rollover, got $p")
    assert(DimStore.currentPath(spark, root) == p)
    assert(DimStore.read(spark, root).head().getString(1) == "new")
    // and the next one keeps counting
    assert(DimStore.publish(dim(1L -> "next"), root).endsWith("/v100001"))
  }

  test("publishWith: the marker never flips to a build that fails the " +
    "layer's completeness gate; the failed torso's number is reused") {
    val root = tmpRoot("pubwith")
    // a layer with its own completeness sidecar (one root, ONE gate —
    // mixing gates on a root would misclassify real versions as torsos)
    val gate: DimStore.Complete =
      (f, dir) => f.exists(new Path(dir, "_LAYER_OK"))
    // build crashes conceptually: data written, sidecar never lands —
    // publishWith must refuse to flip and the root stays unservable
    val e = intercept[IllegalArgumentException] {
      DimStore.publishWith(spark, root, gate)(dir =>
        dim(1L -> "half").write.parquet(dir))
    }
    assert(e.getMessage.contains("INCOMPLETE"))
    intercept[IllegalArgumentException] {
      DimStore.currentPath(spark, root, gate)
    }
    // the next publish REUSES the torso's number and completes it
    val p1 = DimStore.publishWith(spark, root, gate) { dir =>
      dim(1L -> "whole").write.parquet(dir)
      fs.create(new Path(s"$dir/_LAYER_OK"), true).close()
    }
    assert(p1.endsWith("/v00001"), s"torso number must be reused, got $p1")
    assert(DimStore.currentPath(spark, root, gate) == p1)
    assert(spark.read.parquet(p1).head().getString(1) == "whole")
  }

  test("publish auto-prunes: continuous publishes keep the root bounded " +
    "at `keep` versions, and a reader pinned across ONE publish " +
    "survives the prune window") {
    val root = tmpRoot("autoprune")
    DimStore.publish(dim(1L -> "a"), root) // default keep=2
    val p2 = DimStore.publish(dim(1L -> "b"), root)
    // pin p2 (the per-micro-batch read posture: a pin outlives at most
    // one publish), then publish v3 — auto-prune retires v1 only
    val p3 = DimStore.publish(dim(1L -> "c"), root)
    val left = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("v")).sorted
    assert(left.sameElements(Array("v00002", "v00003")),
      s"auto-prune must bound the root at keep=2, got ${left.mkString(",")}")
    assert(spark.read.parquet(p2).head().getString(1) == "b",
      "the pinned superseded version must survive the prune window")
    assert(DimStore.currentPath(spark, root) == p3)
    // keep=0 disables: the next two publishes accumulate
    DimStore.publish(dim(1L -> "d"), root, keep = 0)
    DimStore.publish(dim(1L -> "e"), root, keep = 0)
    assert(fs.listStatus(new Path(root))
      .count(_.getPath.getName.startsWith("v")) == 4)
  }

  test("single-writer tripwire: a second in-flight publish throws at " +
    "entry instead of interleaving into the same version directory") {
    val root = tmpRoot("lock")
    DimStore.publish(dim(1L -> "a"), root)
    // writer 1 enters publishWith and parks inside its build closure;
    // writer 2 must fail fast with the contract message
    val w1Entered = new java.util.concurrent.CountDownLatch(1)
    val w1Release = new java.util.concurrent.CountDownLatch(1)
    val w1 = new Thread(() => {
      DimStore.publishWith(spark, root) { dir =>
        w1Entered.countDown()
        w1Release.await()
        dim(1L -> "b").write.parquet(dir)
      }
      ()
    })
    w1.start()
    w1Entered.await()
    val e = intercept[IllegalStateException] {
      DimStore.publish(dim(1L -> "RACER"), root)
    }
    assert(e.getMessage.contains("single-writer"))
    w1Release.countDown()
    w1.join()
    // writer 1 finished cleanly: lock released, root publishable again
    assert(!fs.exists(new Path(root, DimStore.WriterLock)))
    val p3 = DimStore.publish(dim(1L -> "c"), root)
    assert(DimStore.currentPath(spark, root) == p3)
  }

  test("writer lock is released when the build FAILS (the lock guards " +
    "concurrency, not crash state)") {
    val root = tmpRoot("lockfail")
    intercept[RuntimeException] {
      DimStore.publishWith(spark, root)(_ => throw new RuntimeException("boom"))
    }
    assert(!fs.exists(new Path(root, DimStore.WriterLock)),
      "a failed (non-crashed) build must release the lock")
    // and a STALE lock (hard-crashed writer) is detected, not raced
    fs.create(new Path(root, DimStore.WriterLock), true).close()
    val e = intercept[IllegalStateException] {
      DimStore.publish(dim(1L -> "x"), root)
    }
    assert(e.getMessage.contains("delete the lock"))
  }

  test("currentPath tolerates a vanishing marker (publish's delete -> " +
    "rename gap): no exists/open race, falls back cleanly") {
    val root = tmpRoot("toctou")
    val p1 = DimStore.publish(dim(1L -> "a"), root)
    // simulate the mid-gap observation: marker absent entirely — the
    // read path must not throw FileNotFoundException (it opens without
    // an exists() pre-check and treats FNF as "no marker")
    fs.delete(new Path(root, DimStore.Marker), false)
    assert(DimStore.currentPath(spark, root) == p1)
  }

  test("live-TABLE integration: a mid-stream publish flips every later " +
    "micro-batch's enrichment, no reader coordination") {
    val root = tmpRoot("stream")
    val stage = java.nio.file.Files.createTempDirectory("dimstore_ev").toString
    val ev = graft.model.Tables.events(spark, sf0001)
    ev.repartition(4).write.mode("overwrite").parquet(stage)
    DimStore.publish(
      graft.SparkEntry.flagshipDims(spark, sf0001)
        .select(col("c_custkey"), col("country")), root)
    val out = java.nio.file.Files
      .createTempDirectory("dimstore_out").toString + "/changelog"

    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stage/*.parquet")
    val pivot = graft.operators.WindowOps.hoppingPivot(
      streamed, eventTypes = graft.model.Tables.EventTypes)
    graft.streaming.Streaming.sinkChangelogWith(pivot, out) { (b, id) =>
      // the whole mechanism: resolve the CURRENT version at batch time
      val enriched = graft.operators.Joins.leftEnrich(
        b.toDF(), DimStore.read(spark, root), "user_id", "c_custkey")
        .withColumn("country", coalesce(col("country"), lit("UNKNOWN")))
        .drop("c_custkey")
      if (id == 1) // the CDC update lands between batches 1 and 2
        DimStore.publish(
          spark.read.parquet(DimStore.currentPath(spark, root))
            .withColumn("country", lit("UPDATED")), root)
      enriched
    }

    val log = spark.read.parquet(out).localCheckpoint()
    val maxB = log.agg(max("batch_id")).head().getInt(0)
    assert(maxB >= 3, s"need >= 4 single-file batches, got ${maxB + 1}")
    assert(log.filter(col("batch_id") <= 1 && col("country") === "UPDATED")
      .count() == 0, "the publish leaked backwards")
    val phase2 = log.filter(col("batch_id") >= 2)
    assert(phase2.count() > 0, "no emissions after the publish")
    assert(phase2.filter(col("country") =!= "UPDATED" &&
      col("country") =!= "UNKNOWN").count() == 0,
      "a post-publish emission still saw the stale dim version")
    assert(phase2.filter(col("country") === "UPDATED").count() > 0)
  }
}
