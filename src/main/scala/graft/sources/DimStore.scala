package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned dimension store — publish-by-pointer-flip for tables that
  * are UPDATED while streams join against them (the reference's
  * CDC-maintained `users` TABLE, README.md:29,56-58).
  *
  * Rebuilding a flat directory IN PLACE (move the old files aside, move
  * the new ones in) can be made crash-safe but never reader-ATOMIC:
  * during the displace/move-in window a concurrent scan can see a
  * partial — even momentarily empty — file set, so such layouts
  * require quiesced readers. A continuously-enriching stream (`Streaming.sinkChangelogWith`
  * re-reading its dims every micro-batch — the live-TABLE posture the
  * r16/r17 dim-update legs measured to sf100) cannot quiesce. This
  * store removes the window structurally instead of contractually:
  *
  * {{{
  *   $root/v00001/…parquet + _SUCCESS   immutable once complete
  *   $root/v00002/…
  *   $root/_CURRENT                     tiny marker naming the live one
  * }}}
  *
  * [[publish]] writes the new version COMPLETELY beside the old ones,
  * then flips `_CURRENT` (checked rename of a freshly-written marker —
  * object-store rename can return false without throwing, the r16
  * data-loss lesson). [[read]] resolves the marker at PLAN time: each
  * micro-batch's enrichment join scans one immutable directory end to
  * end, so a flip landing mid-batch changes the NEXT batch and never
  * the files under a running scan. Readers need no coordination at any
  * scale; at 100 TB the flip is one small-file rename regardless of
  * table size, and version dirs are exactly the "write v2 beside v1,
  * flip a pointer" discipline DEPLOY.md prescribes — now a primitive
  * instead of a convention. It is also the ONE maintenance protocol of
  * the engine's on-disk indexes: z-order tables and IVF+PQ indexes are
  * appended to and rebuilt only as versioned roots ([[publishWith]]
  * with the layer's own completeness gate).
  *
  * Crash matrix (single WRITER — the maintenance contract of every
  * layer on this store, runtime-ENFORCED by the [[WriterLock]] tripwire; readers are
  * always safe). A writer that died at ANY point leaves the lock
  * behind, so the re-publish throws until the dead writer is
  * confirmed and the lock cleared — detection, deliberately, over
  * silently proceeding into a possibly-live writer's build:
  *  - died mid-data-write → highest version lacks `_SUCCESS`; the
  *    marker still names the old version, which is served unchanged;
  *    the torso is overwritten by the next publish of that number.
  *  - died after data, before flip → a complete orphan version; the
  *    marker wins (publish is at-least-once — re-publish flips to a
  *    fresh number; [[prune]] retires the orphan).
  *  - died mid-flip (old marker deleted, rename lost) → deterministic
  *    fallback: the HIGHEST complete version, which is exactly the one
  *    the lost flip was publishing.
  */
object DimStore {
  val Marker = "_CURRENT"
  // 5+ digits: %05d pads below 100000 and grows naturally past it, so
  // version numbering never silently stops at v99999.
  private val VersionRe = "^v(\\d{5,})$".r

  /** Terminal completion artifact for MULTI-JOB version layouts. A
    * single-job parquet version's `_SUCCESS` is already its terminal
    * artifact, but a layered layout (an IVF index's four subdirs, a
    * z-order generation's `_zmeta` sidecars) is written by several
    * jobs, and Spark creates each output directory at job SETUP —
    * before any file commits. An existence-only completeness gate
    * (`all subdirs present`) therefore classifies a build that crashed
    * during its LAST job as complete: every dir exists, the last holds
    * only `_temporary` content (r18 ADVICE). Layers close this by
    * stamping [[GenMarker]] as the FINAL step of their build closure
    * and gating through [[stamped]], which requires the marker IN
    * ADDITION to the layer's structural check — a crash anywhere in
    * the build leaves no marker, so the torso is never judged
    * complete, its number is reused by the next publish, and
    * [[currentPath]]'s lost-marker fallback can never serve it.
    */
  val GenMarker = "_GEN_COMPLETE"

  /** Single-writer tripwire (r18 VERDICT #5): two concurrent
    * [[publishWith]] calls compute the same `next` from the same
    * complete-version listing, then both delete + build into the SAME
    * version directory — interleaved writers corrupt the build, and
    * the completeness gate can pass on the union of two half-builds.
    * The lock file turns that silent corruption into a throw at the
    * second writer's entry. Create-exclusive is atomic on HDFS and
    * local filesystems; on stores without atomic create (S3 without
    * conditional writes) this degrades to best-effort detection — a
    * tripwire for the documented single-writer contract, not a mutex.
    */
  val WriterLock = "_WRITER_LOCK"

  /** Layer-pluggable completeness: what makes a version dir SERVABLE.
    * The default (parquet's `_SUCCESS`) fits plain-DataFrame versions;
    * layers with richer layouts (a z-order generation needs its
    * `_zmeta` too) pass their own so a crash between the data write
    * and the sidecar write can never yield a complete-but-gutted
    * version.
    */
  type Complete = (FileSystem, Path) => Boolean
  val SuccessComplete: Complete =
    (fs, dir) => fs.exists(new Path(dir, "_SUCCESS"))

  /** Require the layer's structural check AND the [[GenMarker]]
    * terminal artifact — the completeness gate for multi-job layouts
    * (see GenMarker's crash rationale). Build closures stamp the
    * marker with [[stamp]] as their last step.
    */
  def stamped(layer: Complete): Complete =
    (fs, dir) => fs.exists(new Path(dir, GenMarker)) && layer(fs, dir)

  /** Write the [[GenMarker]] terminal artifact — the build closure's
    * FINAL step for layouts gated through [[stamped]].
    */
  def stamp(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.create(new Path(dir, GenMarker), true).close()
  }

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (number, path) for every version directory, ascending. */
  private def versions(fs: FileSystem, root: String): Seq[(Int, Path)] = {
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        st.getPath.getName match {
          case VersionRe(n) => Some((n.toInt, st.getPath))
          case _ => None
        }
      }
      .sortBy(_._1)
  }

  /** Whether `root` is a versioned store at all: a `_CURRENT` marker or
    * any vNNNNN child. Layer READERS accept both layouts (a flat
    * write-once table resolves to itself; a versioned root resolves
    * through the pointer); layer MAINTENANCE (append, rebuild) requires
    * a versioned root and refuses a flat one before any write.
    */
  def isVersionedRoot(spark: SparkSession, root: String): Boolean = {
    val fs = fsOf(spark, root)
    fs.exists(new Path(root, Marker)) || versions(fs, root).nonEmpty
  }

  /** Write `df` as the next version and flip the marker to it. Returns
    * the published version's path — stable and immutable, so callers
    * that need a REPRODUCIBLE view (a verification twin, a backfill)
    * pin the returned path instead of re-resolving the root.
    * `numFiles` > 0 sizes the layout (a broadcast-sized dim wants few
    * files; default leaves the input partitioning).
    *
    * Retention is WIRED, not manual (r18 VERDICT #4): after the flip,
    * versions older than the newest `keep` are retired — the
    * continuously-published dim posture (`sinkChangelogWith` re-
    * publishing on every CDC batch) would otherwise grow the root by
    * one complete version per publish, unbounded on exactly the path
    * the store was built for. Same default as the index layers'
    * rebuilds (keep=2: the live version plus one predecessor for
    * readers pinned to a superseded path — a reader's pin outlives
    * exactly one publish, which a per-micro-batch [[read]] always
    * satisfies). `keep = 0` disables auto-prune for roots whose old
    * versions are retired on an external cadence.
    */
  def publish(df: DataFrame, root: String, numFiles: Int = 0,
      keep: Int = 2): String = {
    val sized = if (numFiles > 0) df.repartition(numFiles) else df
    val out = publishWith(df.sparkSession, root)(dir =>
      sized.write.mode("overwrite").parquet(dir)) // _SUCCESS = complete
    if (keep > 0) prune(df.sparkSession, root, keep)
    out
  }

  /** [[publish]] with the version CONTENT written by the caller — the
    * generalization that lets any layered layout (a z-order generation,
    * an IVF index) ride the same pointer-flip protocol: `build(dir)`
    * writes the complete layout into the freshly-allocated version dir,
    * `complete` judges servability (pass the layer's integrity gate so
    * a crash between the data write and a sidecar write never yields a
    * complete-but-gutted version), and the marker flips only after the
    * built version passes it. Same crash matrix as [[publish]].
    */
  def publishWith(
      spark: SparkSession,
      root: String,
      complete: Complete = SuccessComplete)(build: String => Unit): String = {
    val fs = fsOf(spark, root)
    // single-writer tripwire (see WriterLock): create-exclusive — a
    // second in-flight publish fails HERE, before it can race the
    // version allocation below. Released on every non-crash exit (the
    // lock guards concurrency, not crash state); a writer that died
    // hard leaves it behind, and the throw's message says how to clear
    // it once the dead writer is confirmed gone.
    fs.mkdirs(new Path(root))
    val lock = new Path(root, WriterLock)
    val lockOut =
      try fs.create(lock, false)
      catch { case e: java.io.IOException =>
        val holder =
          try {
            val in = fs.open(lock)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          } catch { case _: java.io.IOException => "<unreadable>" }
        throw new IllegalStateException(
          s"DimStore.publishWith: $lock exists (held by $holder) — " +
            "another publish is in flight against this root, which the " +
            "single-writer contract forbids (two writers allocate the " +
            "same version number and interleave into one directory). " +
            "If the holder crashed, delete the lock file and re-publish.",
          e)
      }
    try {
      // inside the delete-finally from here on: a failed pid write (or
      // anything later) releases the lock — only a hard CRASH leaves it
      try lockOut.write(
        s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}"
          .getBytes("UTF-8"))
      finally lockOut.close()
      // next from COMPLETE versions only: a crashed torso (data dir that
      // fails `complete`) is reused and overwritten by the next publish —
      // the crash-matrix claim above — instead of lingering until prune.
      val next = versions(fs, root).filter(v => complete(fs, v._2))
        .lastOption.map(_._1 + 1).getOrElse(1)
      val name = f"v$next%05d"
      val dir = s"$root/$name"
      fs.delete(new Path(dir), true) // clear a reused torso's half-build
      build(dir)
      require(complete(fs, new Path(dir)),
        s"DimStore.publishWith: build left $dir INCOMPLETE — refusing to " +
          "flip the marker; readers keep the previous version")
      val tmp = new Path(root, s"$Marker.tmp")
      val out = fs.create(tmp, true)
      try out.write(name.getBytes("UTF-8")) finally out.close()
      val dst = new Path(root, Marker)
      fs.delete(dst, false)
      require(fs.rename(tmp, dst),
        s"DimStore.publish: marker rename $tmp -> $dst FAILED (filesystem " +
          "returned false) — data is intact, readers fall back to the " +
          "highest complete version; re-run publish")
      dir
    } finally {
      fs.delete(lock, false); ()
    }
  }

  /** The live version's path: the marker's target when it names a
    * complete version, else the highest complete version (the mid-flip
    * crash state). Throws when no complete version exists.
    */
  def currentPath(
      spark: SparkSession,
      root: String,
      complete: Complete = SuccessComplete): String = {
    val fs = fsOf(spark, root)
    def isComplete(dir: Path): Boolean = complete(fs, dir)
    val m = new Path(root, Marker)
    // No exists() pre-check: publish's delete(dst) -> rename(tmp, dst)
    // flip has a gap where the marker is momentarily absent, and
    // exists-then-open would race it (FileNotFoundException in a live
    // micro-batch). Open directly and treat FNF as "no marker" — the
    // highest-complete-version fallback below is exactly the lost-flip
    // answer, so concurrent readers stay coordination-free.
    val marked =
      try {
        val in = fs.open(m)
        val name =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        val dir = new Path(root, name)
        if (VersionRe.findFirstIn(name).isDefined && fs.exists(dir) &&
          isComplete(dir)) Some(dir)
        else None
      } catch { case _: java.io.FileNotFoundException => None }
    val resolved = marked.orElse(
      versions(fs, root).reverse.find(v => isComplete(v._2)).map(_._2))
    require(resolved.isDefined, s"DimStore: no complete version under $root")
    // rebuild from the caller's root so the returned string keeps the
    // caller's scheme form (listStatus qualifies paths — `file:/tmp/…`
    // for a bare `/tmp/…` root — and publish/pinning compare strings)
    s"$root/${resolved.get.getName}"
  }

  /** Plan-time resolution — call PER USE (e.g. inside a foreachBatch
    * transform, the `sinkChangelogWith` posture) so every micro-batch
    * joins the version current at that moment: live-TABLE semantics
    * with per-scan immutability.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(currentPath(spark, root))

  /** Retire old versions: keep the newest `keep` COMPLETE versions
    * (and always the current one); everything older — including
    * crashed torsos — is deleted. Single-writer contract means no
    * publish is in flight while prune runs; size `keep` to outlive the
    * longest reader still scanning a pinned path (retention, not
    * coordination). Returns the number of directories removed.
    */
  def prune(spark: SparkSession, root: String, keep: Int = 2,
      complete: Complete = SuccessComplete): Int = {
    require(keep >= 1, s"prune keeps at least one version, got $keep")
    val fs = fsOf(spark, root)
    val cur = new Path(currentPath(spark, root, complete)).getName
    val all = versions(fs, root)
    val keepSet = all.filter(v => complete(fs, v._2)).takeRight(keep)
      .map(_._2.getName).toSet + cur
    var removed = 0
    for ((_, p) <- all if !keepSet.contains(p.getName))
      if (fs.delete(p, true)) removed += 1
    removed
  }
}
