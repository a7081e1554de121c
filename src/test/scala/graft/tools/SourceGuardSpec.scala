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
}
