package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the stdout-ledger invariants the driver's 2000-char stdout-tail
  * capture relies on (r14: every prior round's BENCH_r{N}.json carried
  * `parsed: null` because the full-precision line overflowed the tail).
  * Pure-function tests — no SparkSession.
  */
class BenchSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parse(line: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(line)

  test("summary line stays under budget and is valid JSON for a 94-query suite") {
    // realistic shape: long names, sub-second tail, two heavy outliers
    val results = (1 to 94).map { i =>
      (f"q_some_quite_long_query_name_$i%02d",
        if (i <= 2) 15.0 - i else 2.0 / i)
    }
    val line = Bench.summaryLine(results, "/root/testdata/sf0.1")
    assert(line.length <= 1800, s"line length ${line.length}")
    val json = parse(line)
    assert(json.get("n_queries").asInt == 94)
    val inLine = json.get("queries").size
    assert(inLine + json.get("omitted").asInt == 94)
    // greedy by seconds descending: every in-line entry >= every omitted
    val names = results.sortBy(-_._2).take(inLine).map(_._1).toSet
    val it = json.get("queries").fieldNames()
    while (it.hasNext) assert(names.contains(it.next()))
    // the heavy outliers (what perf triage flags) always survive
    assert(json.get("queries").has("q_some_quite_long_query_name_01"))
  }

  test("failures (-1) are never cut by the omission budget") {
    val results = ("q_crashed", -1.0) +:
      (1 to 200).map(i => (f"q_longish_query_name_number_$i%03d", 1.0 + i))
    val line = Bench.summaryLine(results, "sf", lineBudget = 600)
    val json = parse(line)
    assert(json.get("queries").has("q_crashed"), line)
    assert(json.get("queries").get("q_crashed").asDouble == -1.0)
    assert(json.get("omitted").asInt > 0, "budget must actually have cut entries")
    assert(line.length <= 600)
    // total excludes failures
    assert(json.get("value").asDouble > 0)
  }

  test("no omission when everything fits; values carry 3 decimals") {
    val line = Bench.summaryLine(Seq(("q_a", 1.23456), ("q_b", 0.1)), "sf")
    val json = parse(line)
    assert(json.get("omitted").asInt == 0)
    assert(json.get("queries").get("q_a").asDouble == 1.235)
    assert(json.get("value").asDouble == 1.335)
  }

  test("epoch tag is the MAX of opening and closing calibration — " +
    "contention at either suite endpoint surfaces in the tag") {
    // clean open, contended close (the mid-suite blind window the
    // closing calibration exists to bound) — the dirty endpoint wins
    assert(Bench.epochTag(2.2, 7.9) == 7.9)
    // contended open, clean close (contention decayed) — still tagged
    assert(Bench.epochTag(218.7, 2.3) == 218.7)
    // idle both ends: the tag is the floor-scale number
    assert(Bench.epochTag(2.2, 2.3) == 2.3)
  }

  test("a ledger row that cannot be written is reported on stderr, not thrown") {
    val root = java.nio.file.Files.createTempDirectory("bench-ledger")
    val path = root.resolve("missing").resolve("BENCH_HISTORY.jsonl")
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(err)(Bench.appendHistory(path, """{"metric":"total"}"""))
    val msg = err.toString("UTF-8")
    assert(msg.startsWith(s"[bench] ledger write failed: $path: "), msg)
    assert(!java.nio.file.Files.exists(path))
    java.nio.file.Files.delete(root)
  }
}
