package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The one temp-dir lifecycle engine code uses: [[Tables.scratchDir]]
  * hands out a fresh directory, [[Tables.deleteRecursively]] removes a
  * tree best-effort — a missing path is a no-op and a failure warns on
  * stderr instead of throwing.
  */
class ScratchDirSpec extends AnyFunSuite {
  import java.nio.file.{Files, Paths}

  /** Runs `body` with stderr captured; returns what it printed. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8")
  }

  test("scratchDir creates a fresh empty directory under the given prefix") {
    val a = Tables.scratchDir("graft_spec_scratch_")
    val b = Tables.scratchDir("graft_spec_scratch_")
    assert(a != b)
    Seq(a, b).foreach { d =>
      assert(Files.isDirectory(Paths.get(d)))
      assert(Paths.get(d).getFileName.toString.startsWith("graft_spec_scratch_"))
      assert(Files.list(Paths.get(d)).count() == 0L)
    }
    Seq(a, b).foreach(Tables.deleteRecursively)
  }

  test("deleteRecursively removes a nested tree, root included") {
    val root = Paths.get(Tables.scratchDir("graft_spec_tree_"))
    val deep = Files.createDirectories(root.resolve("a/b/c"))
    Files.write(deep.resolve("f.bin"), Array[Byte](1, 2, 3))
    Files.write(root.resolve("a/top.txt"), "x".getBytes("UTF-8"))
    Files.createDirectories(root.resolve("empty"))
    val err = stderrOf(Tables.deleteRecursively(root.toString))
    assert(!Files.exists(root))
    assert(err.isEmpty, s"a clean delete must not warn: $err")
  }

  test("deleteRecursively on a missing path is a silent no-op") {
    val root = Paths.get(Tables.scratchDir("graft_spec_gone_"))
    Tables.deleteRecursively(root.toString)
    val err = stderrOf(Tables.deleteRecursively(root.toString))
    assert(!Files.exists(root))
    assert(err.isEmpty, s"a missing path must not warn: $err")
  }

  test("a failed delete warns with the path instead of throwing") {
    // NUL is not a valid path character on any platform: Paths.get throws
    // InvalidPathException, the NonFatal failure the helper must absorb
    val bad = "graft_spec_\u0000_bad"
    val err = stderrOf(Tables.deleteRecursively(bad))
    assert(err.linesIterator.count(_.contains("could not delete")) == 1, err)
    assert(err.contains(bad))
  }
}
