package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain graft.tools.<Name>` a doc tells the reader to run must
  * name a tool that exists: a deleted or renamed tool otherwise leaves a
  * command that fails only when someone copies it. The same holds for
  * the code names the docs cite in backticks.
  */
class DocCommandsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", "DEPLOY.md",
    ".claude/skills/verify/SKILL.md", "tools/bench_diff.py")

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  test("runMain graft.tools commands in the docs name loadable tools") {
    val command = """runMain graft\.tools\.(\w+)""".r
    val named = docs.flatMap { doc =>
      assert(Files.exists(Paths.get(doc)), s"$doc is missing")
      command.findAllMatchIn(read(doc)).map(m => doc -> m.group(1))
    }
    assert(named.nonEmpty, "no runMain graft.tools command found in the docs")
    named.distinct.foreach { case (doc, tool) =>
      assert(scala.util.Try(Class.forName(s"graft.tools.$tool$$")).isSuccess,
        s"$doc runs graft.tools.$tool, which does not load")
    }
  }

  /** (package, object name, source text) for each `object` under `tree`. */
  private def objects(tree: String): Seq[(String, String, String)] =
    Files.walk(Paths.get(tree)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".scala")).toSeq.flatMap { f =>
        val src = read(f)
        val pkg = """(?m)^package\s+([\w.]+)""".r.findAllMatchIn(src)
          .map(_.group(1)).mkString(".")
        """\bobject\s+(\w+)""".r.findAllMatchIn(src).map(m => (pkg, m.group(1), src))
      }

  test("backticked Object.member and graft.<...>.<Name> names in the docs exist") {
    val main = objects("src/main")
    val mainSources = main.groupBy(_._2).map { case (n, os) => n -> os.map(_._3) }
    val qualified = (main ++ objects("src/test")).map { case (p, n, _) => s"$p.$n" }.toSet
    // a member of an object declared in src/main must be declared in the
    // object's source file; names of other objects are not checked
    def declared(obj: String, member: String): Boolean =
      member == "scala" || mainSources.get(obj).forall(_.exists(src =>
        s"""\\b(?:def|val|var|class|object|type|trait)\\s+\\Q$member\\E\\b""".r
          .findFirstIn(src).isDefined))
    val dangling = Seq("README.md", "DEPLOY.md", "COVERAGE.md",
      ".claude/skills/verify/SKILL.md").flatMap { doc =>
      """`([^`\n]+)`""".r.findAllMatchIn(read(doc)).map(_.group(1)).flatMap { span =>
        val members = """(?<![\w.])([A-Z]\w*)\.(\w+)""".r.findAllMatchIn(span)
          .collect { case m if !declared(m.group(1), m.group(2)) => m.matched }
        val paths = """(?<![\w.])graft((?:\.\w+)+)""".r.findAllMatchIn(span).flatMap { m =>
          val segs = m.group(1).drop(1).split('.').toSeq
          val i = segs.indexWhere(_.head.isUpper)
          val obj = ("graft" +: segs.take(i + 1)).mkString(".")
          if (i < 0) None
          else if (!qualified(obj)) Some(obj)
          else segs.lift(i + 1).filterNot(declared(segs(i), _)).map(n => s"$obj.$n")
        }
        (members ++ paths).map(n => s"$doc: `$span` names $n")
      }
    }
    assert(dangling.isEmpty, dangling.distinct.mkString("\n", "\n", ""))
  }

  /** Spark, Hadoop and MongoDB API names the docs cite bare. */
  private val externalNames = Set(
    "checkpointLocation", "cleanSource", "countDistinct",
    "dropDuplicatesWithinWatermark", "exceptAll", "foreachBatch",
    "initialPartitionNum", "listStatus", "localCheckpoint",
    "mapGroupsWithState", "mapPartitions", "newSession",
    "numRowsDroppedByWatermark", "randomSplit", "rangeBetween", "replaceOne",
    "sourceArchiveDir", "withWatermark", "writeStream")

  test("bare backticked lowerCamelCase names in the docs are declared in the code") {
    val sources = Seq("src/main", "src/test", "perfbench/src").flatMap { tree =>
      Files.walk(Paths.get(tree)).iterator().asScala.map(_.toString)
        .filter(_.endsWith(".scala")).map(read).toSeq
    }.mkString("\n")
    // a definition, or a parameter in a parameter list
    def declared(name: String): Boolean =
      s"""\\b(?:def|val|var|class|object|type|trait)\\s+\\Q$name\\E\\b|[(,]\\s*\\Q$name\\E\\s*:""".r
        .findFirstIn(sources).isDefined
    val bare = """`([a-z]\w*[A-Z]\w*)(?:\([^`\n]*\))?`""".r
    val dangling = (docs.filter(_.endsWith(".md")) :+ "COVERAGE.md").flatMap { doc =>
      bare.findAllMatchIn(read(doc)).map(_.group(1))
        .filterNot(n => externalNames(n) || declared(n)).map(n => s"$doc: `$n`")
    }
    assert(dangling.isEmpty, dangling.distinct.mkString("\n", "\n", ""))
  }
}
