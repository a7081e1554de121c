package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain graft.tools.<Name>` a doc tells the reader to run must
  * name a tool that exists: a deleted or renamed tool otherwise leaves a
  * command that fails only when someone copies it.
  */
class DocCommandsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", "DEPLOY.md",
    ".claude/skills/verify/SKILL.md", "tools/bench_diff.py")

  test("runMain graft.tools commands in the docs name loadable tools") {
    val command = """runMain graft\.tools\.(\w+)""".r
    val named = docs.flatMap { doc =>
      val path = java.nio.file.Paths.get(doc)
      assert(java.nio.file.Files.exists(path), s"$doc is missing")
      val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      command.findAllMatchIn(txt).map(m => doc -> m.group(1))
    }
    assert(named.nonEmpty, "no runMain graft.tools command found in the docs")
    named.distinct.foreach { case (doc, tool) =>
      assert(scala.util.Try(Class.forName(s"graft.tools.$tool$$")).isSuccess,
        s"$doc runs graft.tools.$tool, which does not load")
    }
  }
}
