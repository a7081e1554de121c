package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.Skew

/** Measures `Skew.saltedJoin` against the direct shuffle join under a
  * hot join key — the one skew regime SkewCorpus left unmeasured in
  * round 12 (aggregates and per-key ordered ops got numbers; the join
  * benefit was only spec'd as a mechanism).
  *
  * Shape: skewed EVENTS (fact; `SkewCorpus` remaps 20 %/50 % of rows
  * onto one hot user) ⋈ CUSTOMER (dim) on user_id = c_custkey. The dim
  * is joined with `autoBroadcastJoinThreshold = -1`: at the derived-sf1
  * model scale customer is only ~2 MB and would broadcast (which
  * sidesteps skew entirely — and IS the right plan when it fits);
  * forcing the shuffle path models the production regime saltedJoin
  * exists for, a dimension too large to broadcast. AQE's skew-join
  * splitting stays ON — at this scale the hot partition (~10–30 MB) is
  * far under AQE's 256 MB/5× split thresholds, so what the measurement
  * shows is exactly the gap AQE leaves to manual salting.
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.SkewJoinProbe [uniformDir] [skew20Dir]
  *        [skew50Dir] [reps]"
  * defaults: target/scaledata/sf1 target/skewdata/sf1 target/skewdata/sf1x50 3
  */
object SkewJoinProbe {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val uniform = args.lift(0).getOrElse("target/scaledata/sf1")
    val skew20 = args.lift(1).getOrElse("target/skewdata/sf1")
    val skew50 = args.lift(2).getOrElse("target/skewdata/sf1x50")
    val reps = args.lift(3).map(_.toInt).getOrElse(3)

    val spark = graft.Sessions.local("spark.sql.autoBroadcastJoinThreshold" -> "-1")

    // dim comes from the UNIFORM corpus in every run: only the fact
    // side's key distribution varies across corpora
    val dim = spark.read.parquet(s"$uniform/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))

    def fact(dir: String): DataFrame =
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"))

    def direct(dir: String): DataFrame =
      fact(dir).join(dim, col("user_id") === col("c_custkey"), "inner")

    def salted(dir: String, buckets: Int): DataFrame =
      Skew.saltedJoin(fact(dir), dim, "user_id", "c_custkey", buckets)

    def time(label: String, mk: () => DataFrame): Double = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        force(mk())
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[skewjoin] $label%-36s best ${times.min}%7.3f s  (${times.map(t => f"$t%.2f").mkString(", ")})")
      times.min
    }

    // codegen warmup (tiny SF, both variants)
    force(direct("/root/testdata/sf0.001"))
    force(salted("/root/testdata/sf0.001", 16))

    val rows = Seq(
      ("uniform", uniform), ("20% hot", skew20), ("50% hot", skew50))
    def auto(dir: String): DataFrame =
      Skew.saltedJoinAuto(fact(dir), dim, "user_id", "c_custkey")

    val results = rows.map { case (label, dir) =>
      val d = time(s"direct  $label", () => direct(dir))
      val s4 = time(s"salted4  $label", () => salted(dir, 4))
      val s16 = time(s"salted16 $label", () => salted(dir, 16))
      val a = time(s"auto     $label", () => auto(dir))
      val pick = if (auto(dir).queryExecution.optimizedPlan.toString
        .contains("_salt")) "salted" else "direct"
      (label, d, s4, s16, a, pick)
    }
    println(f"\n${"corpus"}%-10s ${"direct"}%8s ${"salted4"}%8s ${"salted16"}%9s ${"auto"}%8s ${"pick"}%7s")
    for ((l, d, s4, s16, a, p) <- results)
      println(f"$l%-10s $d%8.3f $s4%8.3f $s16%9.3f $a%8.3f $p%7s")
    spark.stop()
  }
}
