package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Seeded input generation, written straight to parquet with no Spark job,
  * so generation never shows in the engine's own counters. Every table
  * follows the column set and value distributions of the engine's parquet
  * fixtures (FIXTURES.md §B), so the named queries and their DuckDB oracles
  * run unchanged on it. The same (seed, scale) always yields the same
  * bytes; each table draws from its own stream, so adding a table never
  * shifts another's rows.
  */
object Gen {

  val Words: IndexedSeq[String] = ("join hash row batch scan customer column filter small " +
    "slow merge order vector line data table agg value key stream window spark a group " +
    "part big sort query fast the").split(" ").toIndexedSeq
  val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val PartTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Adjectives = IndexedSeq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val Nouns = IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  val Regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val EventTypes: IndexedSeq[String] = graft.model.Tables.EventTypes.toIndexedSeq

  /** Row counts at scale factor `sf` (the fixtures' ×10-per-decade sizes). */
  case class Sizes(sf: Double) {
    private def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    val customer: Int = n(150000)
    val supplier: Int = n(10000)
    val part: Int = n(200000)
    val orders: Int = n(1500000)
    val lineitem: Int = n(6000000)
    val events: Int = n(1000000)
    val eventUsers: Int = math.max(1, customer / 10)
    // the fixtures keep 500 documents and embeddings up to sf0.01
    val documents: Int = 500
    val embeddings: Int = 500
  }

  private def rng(seed: Long, table: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ table.hashCode.toLong)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Epoch micros of a uniformly drawn day in [from, to]. */
  private def day(r: SplittableRandom, from: LocalDate, to: LocalDate): Long =
    (from.toEpochDay + r.nextLong(to.toEpochDay - from.toEpochDay + 1)) * 86400L * 1000000L

  /** Writes `rows` as one parquet file. Values follow the schema's
    * physical types: Long, Int, Double, String, or Array[Float] for a LIST;
    * timestamps are epoch micros (Long).
    */
  def writeParquet(path: Path, schema: MessageType, rows: Iterator[Array[Any]]): Unit = {
    Files.createDirectories(path.getParent)
    Files.deleteIfExists(path)
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(schema).build()
    val fields = (0 until schema.getFieldCount).map(schema.getType)
    try rows.foreach { row =>
      val g = factory.newGroup()
      var i = 0
      while (i < row.length) {
        (row(i), fields(i)) match {
          case (v: Array[Float], _) =>
            val list = g.addGroup(i)
            v.foreach(x => list.addGroup(0).append("element", x))
          case (v, t) => t.asPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64 => g.add(i, v.asInstanceOf[Long])
            case PrimitiveTypeName.INT32 => g.add(i, v.asInstanceOf[Int])
            case PrimitiveTypeName.DOUBLE => g.add(i, v.asInstanceOf[Double])
            case _ => g.add(i, v.asInstanceOf[String])
          }
        }
        i += 1
      }
      w.write(g: Group)
    } finally w.close()
  }

  private def schema(fields: String*): MessageType =
    MessageTypeParser.parseMessageType(
      fields.map(f => s"optional $f" + (if (f.endsWith("}")) "" else ";")).mkString("message spark_schema {\n", "\n", "\n}"))

  private val L = "int64"
  private val I = "int32"
  private val D = "double"
  private val S = "binary"
  private def str(name: String) = s"$S $name (STRING)"
  private def ts(name: String) = s"$L $name (TIMESTAMP(MICROS,false))"

  val EventsSchema: MessageType = schema(s"$L event_id", ts("ts"), s"$L user_id",
    str("event_type"), s"$D value", str("props"))

  private def table(dir: String, name: String, sch: MessageType, rows: Iterator[Array[Any]]): Unit =
    writeParquet(Paths.get(dir, s"$name.parquet"), sch, rows)

  /** All ten fixture tables under `dir/<name>.parquet`. */
  def tables(dir: String, sf: Double, seed: Long): Unit = {
    val sz = Sizes(sf)
    dims(dir, sz, seed)
    orders(dir, sz, seed)
    val d95 = LocalDate.of(1995, 1, 1)
    val rl = rng(seed, "lineitem")
    table(dir, "lineitem", schema(s"$L l_orderkey", s"$L l_partkey", s"$L l_suppkey",
      s"$I l_linenumber", s"$D l_quantity", s"$D l_extendedprice", s"$D l_discount",
      s"$D l_tax", str("l_returnflag"), str("l_linestatus"), ts("l_shipdate")),
      Iterator.fill(sz.lineitem)(Array[Any](rl.nextLong(sz.orders), rl.nextLong(sz.part),
        rl.nextLong(sz.supplier), 1 + rl.nextInt(7), (1 + rl.nextInt(50)).toDouble,
        money(rl, 900, 105000), rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rl.nextInt(3)), Seq("F", "O")(rl.nextInt(2)),
        day(rl, d95.plusDays(1), LocalDate.of(2001, 11, 4)))))
    val rp = rng(seed, "part")
    table(dir, "part", schema(s"$L p_partkey", str("p_name"), str("p_brand"),
      str("p_type"), s"$I p_size", s"$D p_retailprice"),
      Iterator.range(0, sz.part).map(i => Array[Any](i.toLong,
        Adjectives(rp.nextInt(8)) + " " + Nouns(rp.nextInt(8)),
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(6)), 1 + rp.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val rs = rng(seed, "supplier")
    table(dir, "supplier", schema(s"$L s_suppkey", str("s_name"), s"$I s_nationkey",
      s"$D s_acctbal"),
      Iterator.range(0, sz.supplier).map(i => Array[Any](i.toLong, f"Supplier#$i%09d",
        rs.nextInt(25), money(rs, -999.99, 9999.99))))
    val re = rng(seed, "events")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    val tsUs = Array.fill(sz.events)(re.nextLong(30L * 86400L * 1000000L)).sorted
    table(dir, "events", EventsSchema, Iterator.range(0, sz.events).map(i => Array[Any](
      i.toLong, t0 + tsUs(i), re.nextLong(sz.eventUsers), EventTypes(re.nextInt(5)),
      math.round(-math.log(1 - re.nextDouble()) * 5000) / 100.0 + 0.01,
      s"""{"k": ${re.nextInt(100)}}""")))
    val rd = rng(seed, "documents")
    val texts = new Array[String](sz.documents)
    val langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
    table(dir, "documents", schema(s"$L doc_id", str("text"), str("lang"), str("source"),
      s"$L n_chars"),
      Iterator.range(0, sz.documents).map { i =>
        // one document in twenty is a near-duplicate of an earlier one
        texts(i) =
          if (i > 0 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
          else Seq.fill(10 + rd.nextInt(90))(Words(rd.nextInt(Words.size))).mkString(" ")
        Array[Any](i.toLong, texts(i), langs(rd.nextInt(langs.size)), s"src${i % 20}",
          texts(i).length.toLong)
      })
    val rv = rng(seed, "embeddings")
    val centers = Array.fill(10, 64)(rv.nextDouble() * 2 - 1)
    table(dir, "embeddings", schema(s"$L vec_id",
      "group embedding (LIST) { repeated group list { optional float element; } }",
      s"$I label"),
      Iterator.range(0, sz.embeddings).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(64)(d => gaussian(rv) + 0.15 * centers(label)(d))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Array[Any](i.toLong, v.map(x => (x / norm).toFloat), label)
      })
  }

  /** Customer, nation and region: the dimension side of the flagship. */
  def dims(dir: String, sz: Sizes, seed: Long): Unit = {
    table(dir, "region", schema(s"$I r_regionkey", str("r_name")),
      Regions.indices.iterator.map(i => Array[Any](i, Regions(i))))
    table(dir, "nation", schema(s"$I n_nationkey", str("n_name"), s"$I n_regionkey"),
      Iterator.range(0, 25).map(i => Array[Any](i, s"NATION_$i", i % 5)))
    val rc = rng(seed, "customer")
    table(dir, "customer", schema(s"$L c_custkey", str("c_name"), s"$I c_nationkey",
      s"$D c_acctbal", str("c_mktsegment")),
      Iterator.range(0, sz.customer).map(i => Array[Any](i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), money(rc, -999.99, 9999.99), Segments(rc.nextInt(5)))))
  }

  def orders(dir: String, sz: Sizes, seed: Long): Unit = {
    val ro = rng(seed, "orders")
    table(dir, "orders", schema(s"$L o_orderkey", s"$L o_custkey", str("o_orderstatus"),
      s"$D o_totalprice", ts("o_orderdate"), str("o_orderpriority")),
      Iterator.range(0, sz.orders).map(i => Array[Any](i.toLong, ro.nextLong(sz.customer),
        Seq("F", "O", "P")(ro.nextInt(3)), money(ro, 1000, 500000),
        day(ro, LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1)),
        Priorities(ro.nextInt(5)))))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // ---- clickstream -----------------------------------------------------

  /** Shape of the flagship's event stream. Event time advances
    * `fileSpanSec` per file; an event's time trails its arrival slot by at
    * most `disorderSec`, which must stay below the stream's watermark delay
    * so that no event is ever late. User ids are customer keys
    * `[0, users)`, so the enrichment joins hit.
    */
  case class StreamSpec(
      users: Int,
      eventsPerFile: Int,
      fileSpanSec: Int,
      disorderSec: Int,
      botShare: Double = 0.02,
      botRate: Double = 20.0,
      startSec: Long = LocalDateTime.of(2024, 3, 15, 14, 0).toEpochSecond(ZoneOffset.UTC))

  /** Markov transitions over the five event types, after the reference
    * traffic generator's page-state chain: rows are the current type,
    * columns the next, both in [[EventTypes]] order (click, view, purchase,
    * signup, error). Bots stay on clicks; people browse and sometimes buy.
    */
  val HumanChain: Array[Array[Double]] = Array(
    Array(0.20, 0.45, 0.20, 0.05, 0.10),
    Array(0.30, 0.30, 0.30, 0.05, 0.05),
    Array(0.25, 0.45, 0.15, 0.10, 0.05),
    Array(0.30, 0.50, 0.10, 0.05, 0.05),
    Array(0.30, 0.50, 0.10, 0.05, 0.05))
  val BotChain: Array[Array[Double]] = Array(
    Array(0.85, 0.10, 0.01, 0.01, 0.03),
    Array(0.80, 0.15, 0.01, 0.01, 0.03),
    Array(0.80, 0.15, 0.01, 0.01, 0.03),
    Array(0.80, 0.15, 0.01, 0.01, 0.03),
    Array(0.80, 0.15, 0.01, 0.01, 0.03))

  private def step(chain: Array[Array[Double]], from: Int, r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var acc = 0.0
    var i = 0
    while (i < 4) { acc += chain(from)(i); if (u < acc) return i; i += 1 }
    4
  }

  /** One event: id, event time in epoch micros, user, type index. */
  final case class Ev(id: Long, tsUs: Long, user: Long, tpe: Int, value: Double, k: Int)

  /** `nFiles` consecutive stream files, each a Seq of events in arrival
    * order; file `i` holds event ids `[i * eventsPerFile, (i + 1) *
    * eventsPerFile)` and nominal event times
    * `[start + i * fileSpanSec, start + (i + 1) * fileSpanSec)`.
    */
  def clickstream(spec: StreamSpec, seed: Long, nFiles: Int): IndexedSeq[IndexedSeq[Ev]] = {
    val r = rng(seed, "clickstream")
    val nBots = math.max(1, (spec.users * spec.botShare).toInt)
    val bots = r.ints(0, spec.users).distinct().limit(nBots.toLong).toArray.map(_.toLong)
    val botSet = bots.toSet
    val botWeight = nBots * spec.botRate
    val pBot = botWeight / (botWeight + (spec.users - nBots))
    val last = scala.collection.mutable.HashMap.empty[Long, Int]
    val spanUs = spec.fileSpanSec * 1000000L
    (0 until nFiles).map { fi =>
      val fileStartUs = (spec.startSec + fi.toLong * spec.fileSpanSec) * 1000000L
      (0 until spec.eventsPerFile).map { j =>
        val user =
          if (r.nextDouble() < pBot) bots(r.nextInt(bots.length)) else r.nextLong(spec.users)
        val tpe = step(if (botSet.contains(user)) BotChain else HumanChain,
          last.getOrElse(user, 1), r)
        last(user) = tpe
        val slotUs = fileStartUs + j.toLong * spanUs / spec.eventsPerFile
        Ev(fi.toLong * spec.eventsPerFile + j,
          slotUs - r.nextLong(spec.disorderSec * 1000000L + 1), user, tpe,
          math.round(r.nextDouble() * 50000) / 100.0, r.nextInt(100))
      }
    }
  }

  def writeEvents(path: Path, evs: Seq[Ev]): Unit =
    writeParquet(path, EventsSchema, evs.iterator.map(e => Array[Any](e.id, e.tsUs,
      e.user, EventTypes(e.tpe), e.value, s"""{"k": ${e.k}}""")))
}
