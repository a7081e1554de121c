package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Derives a SKEWED events fixture from a uniform one: a chosen
  * fraction of rows (deterministic `pmod(event_id, 100)` rule) gets its
  * user_id remapped to ONE hot user; everything else — row count, ts
  * distribution, event types, event_ids — is untouched. Measuring the
  * same query on the uniform and skewed corpus of IDENTICAL size
  * isolates the pure cost of key skew, separating two regimes SCALE.md
  * claims but (before round 12) never measured:
  *
  *  - per-key ORDERED operators (sessionize, rolling windows): all of a
  *    key's rows must visit one task in order — the hottest key is an
  *    inherent sequential lower bound, no salting can apply without
  *    changing semantics. The measurement puts a number on that bound.
  *  - keyed AGGREGATES (hopping pivot): the hot user spreads over many
  *    (key, window) groups, so skew should cost ~nothing.
  *
  * Mitigations for the salvageable cases (global/keyed aggregates and
  * joins) live in operators.Skew (saltedAgg/saltedJoin) and are
  * spec-covered; this corpus measures the UNsalvageable case honestly.
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.SkewCorpus [outDir] [srcDir] [hotPct] [hotUser]"
  * defaults: target/skewdata/sf1  target/scaledata/sf1  20  7
  */
object SkewCorpus {

  def main(args: Array[String]): Unit = {
    val outDir = args.lift(0).getOrElse("target/skewdata/sf1")
    val srcDir = args.lift(1).getOrElse("target/scaledata/sf1")
    val hotPct = args.lift(2).map(_.toInt).getOrElse(20)
    val hotUser = args.lift(3).map(_.toLong).getOrElse(7L)
    require(hotPct >= 1 && hotPct <= 99, s"hotPct in [1,99], got $hotPct")

    val spark = graft.Sessions.local()

    val src = spark.read.parquet(s"$srcDir/events.parquet")
    src
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(100)) < hotPct, lit(hotUser))
          .otherwise(col("user_id")))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")
    val out = spark.read.parquet(s"$outDir/events.parquet")
    val n = out.count()
    val hot = out.filter(col("user_id") === hotUser).count()
    println(f"[skew] $n%,d events, hot user $hotUser holds $hot%,d " +
      f"(${hot * 100.0 / n}%.1f%%); src=$srcDir out=$outDir")
    spark.stop()
  }
}
