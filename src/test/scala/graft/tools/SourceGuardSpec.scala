package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The streaming run surface lives in one place: only
  * `Streaming.runToEnd` sets `Trigger.AvailableNow()`, and `src/main` has
  * one `foreachBatch` sink, `Streaming.changelogWriter`. A second copy
  * is a second run loop or on-disk layout, free to drift from the
  * engine's replay behaviour. Comments and literals do not count.
  */
class SourceGuardSpec extends AnyFunSuite {

  // whichever of a comment, string or character literal starts first
  private val commentOrLiteral =
    "(?s)/\\*.*?\\*/|//[^\n]*|\"\"\".*?\"\"\"+|\"(?:\\\\.|[^\"\\\\\n])*\"|'(?:\\\\.|[^'\\\\\n])'".r

  private def code(src: String): String = commentOrLiteral.replaceAllIn(src, " ")

  /** Each code match of `token` in the Scala files under `root`, as
    * (file, name of the nearest `def` before it).
    */
  private def sites(root: String, token: String): Seq[(String, String)] =
    Files.walk(Paths.get(root)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".scala")).toSeq.sorted.flatMap { f =>
        val c = code(new String(Files.readAllBytes(Paths.get(f)), "UTF-8"))
        token.r.findAllMatchIn(c).map { m =>
          f -> """\bdef\s+(\w+)""".r.findAllMatchIn(c.take(m.start)).toSeq
            .lastOption.fold("<none>")(_.group(1))
        }
      }

  private val streaming = "src/main/scala/graft/streaming/Streaming.scala"

  test("only Streaming.runToEnd sets AvailableNow; src/main's one foreachBatch " +
    "is Streaming.changelogWriter") {
    assert(sites("src", """\bAvailableNow\b""") == Seq(streaming -> "runToEnd"))
    assert(sites("src/main", """\.\s*foreachBatch\b""") == Seq(streaming -> "changelogWriter"))
  }

  test("the scan skips comments and string and character literals") {
    val c = code("// .foreachBatch\n/* .foreachBatch */ val s = \"x \\\" .foreachBatch\"\n" +
      "val c = '\"'; val t = \"\"\"AvailableNow \"q\" \"\"\"\ndef f = w.foreachBatch(g)\n")
    assert("""\.\s*foreachBatch\b""".r.findAllMatchIn(c).size == 1, c)
    assert(!c.contains("AvailableNow"), c)
  }

  // ---- default-valued parameters that no caller sets ----

  /** Defaults that stay although no caller sets them: deployment
    * settings, and the Column-API twin of a SQL function, whose
    * arguments mirror what SQL text passes.
    */
  private val unsetAllowed = Set(
    ("reader", "startingOffsets"), ("avroSchemaFor", "namespace"),
    ("minhash_sig", "w"))

  /** Like [[code]], but a literal stays one token, so it still counts
    * as an argument.
    */
  private def callCode(src: String): String =
    commentOrLiteral.replaceAllIn(src, m => if (m.matched.startsWith("/")) " " else "L")

  private val closer = Map('(' -> ')', '[' -> ']', '{' -> '}')

  /** Index past the group opened at `c(i)`. */
  private def groupEnd(c: String, i: Int): Int = {
    var stack = List(closer(c(i)))
    var j = i + 1
    while (j < c.length && stack.nonEmpty) {
      if (closer.contains(c(j))) stack = closer(c(j)) :: stack
      else if (c(j) == stack.head) stack = stack.tail
      j += 1
    }
    j
  }

  private def skipWs(c: String, i: Int): Int =
    Iterator.from(i).find(j => j >= c.length || !c(j).isWhitespace).get

  /** Top-level comma split. */
  private def splitTop(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    s.indices.foreach { i =>
      s(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(from, i); from = i + 1
        case _ =>
      }
    }
    (parts += s.substring(from)).result().filter(_.trim.nonEmpty)
  }

  /** The bracket groups right after `c(i0)`, type arguments skipped:
    * each `(…)` or `{…}` as (opener, inner text).
    */
  private def groupsAfter(c: String, i0: Int): Seq[(Char, String)] = {
    var i = skipWs(c, i0)
    if (i < c.length && c(i) == '[') i = skipWs(c, groupEnd(c, i))
    val out = Seq.newBuilder[(Char, String)]
    while (i < c.length && (c(i) == '(' || c(i) == '{')) {
      val j = groupEnd(c, i)
      out += c(i) -> c.substring(i + 1, j - 1)
      i = skipWs(c, j)
    }
    out.result()
  }

  /** A call's argument groups as (positional count, names passed); a
    * `{…}` block is one positional argument.
    */
  private def argGroups(c: String, i: Int): Seq[(Int, Set[String])] =
    groupsAfter(c, i).map {
      case ('{', _) => 1 -> Set.empty[String]
      case (_, args) =>
        val (named, positional) = splitTop(args)
          .partition(a => """^\s*\w+\s*=(?![=>])""".r.findFirstIn(a).isDefined)
        positional.size -> named.map(_.trim.takeWhile(ch => ch.isLetterOrDigit || ch == '_')).toSet
    }

  // `name: Type = default`; a function type's `=>` is not the `=`
  private val defaultParam = """(?s)^\s*(?:implicit\s+)?(\w+)\s*:(?:[^=]|=>)*=(?![>=]).*""".r

  private def scalaFiles(root: String): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".scala")).toSeq.sorted

  /** Each default-valued parameter of a `def` under `main` as (file,
    * def, parameter list, position, name), with no call under `callers`
    * passing it by name or position. A text scan: overloads share a
    * name, so a call to any of them counts for all.
    */
  private def unsetDefaults(main: String, callers: Seq[String]): Seq[(String, String, Int, Int, String)] = {
    val declared = scalaFiles(main).flatMap { f =>
      val c = callCode(new String(Files.readAllBytes(Paths.get(f)), "UTF-8"))
      """\bdef\s+(\w+)""".r.findAllMatchIn(c).toSeq.flatMap { m =>
        groupsAfter(c, m.end).takeWhile(_._1 == '(').map(_._2).zipWithIndex.flatMap { case (list, li) =>
          splitTop(list).zipWithIndex.collect {
            case (defaultParam(p), k) => (f, m.group(1), li, k, p)
          }
        }
      }
    }
    val names = declared.map(_._2).toSet
    val calls = callers.flatMap(scalaFiles).flatMap { f =>
      val c = callCode(new String(Files.readAllBytes(Paths.get(f)), "UTF-8"))
      """\b\w+\b""".r.findAllMatchIn(c)
        .filter(m => names(m.matched) &&
          """\bdef\s+$""".r.findFirstIn(c.substring(math.max(0, m.start - 8), m.start)).isEmpty)
        .map(m => m.matched -> argGroups(c, m.end)).toSeq
    }.groupMap(_._1)(_._2)
    declared.filterNot { case (_, d, li, k, p) =>
      calls.getOrElse(d, Nil).exists(g => li < g.size && (g(li)._1 > k || g(li)._2(p)))
    }
  }

  test("every default-valued parameter in src/main is set by some caller") {
    val unset = unsetDefaults("src/main/scala",
      Seq("src/main/scala", "src/test/scala", "perfbench/src"))
      .filterNot { case (_, d, _, _, p) => unsetAllowed((d, p)) }
    assert(unset.isEmpty, s"${unset.size} defaults no caller sets; make each " +
      "the constant its default holds: " +
      unset.map { case (f, d, _, _, p) => s"${Paths.get(f).getFileName} $d.$p" }.mkString(", "))
  }

  test("the default scan counts named, positional and literal arguments") {
    val dir = Files.createTempDirectory("graft_defaults")
    Files.writeString(dir.resolve("A.scala"),
      "object A {\n  def f(a: Int, b: Int = 1, c: String = \"x\", d: Int = 2)(e: Int = 3) = a\n" +
        "  def g(s: String = \"y\") = s\n" +
        "  val u = f(0, 5)(4) + f(0, d = 1)()\n  val v = f(1, 2, \"c,\")() // f(0, 0, \"\", 9)\n}\n")
    val unset = unsetDefaults(dir.toString, Seq(dir.toString)).map(u => u._2 -> u._5)
    assert(unset == Seq("g" -> "s"), unset)
  }
}
