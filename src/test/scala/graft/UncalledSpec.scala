package graft

import java.io.File

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The dead-code gate: `tools/uncalled.py` lists every `src/main` def that
  * nothing reaches and exits non-zero on one not on its allowlist, or on an
  * allowlist entry that allows none of the listed defs. */
class UncalledSpec extends AnyFunSuite {

  test("every src/main def is reached or allowlisted (tools/uncalled.py exits 0)") {
    val root = Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, "tools/uncalled.py").isFile)
      .getOrElse(fail("no tools/uncalled.py above the working directory"))
    val out = new StringBuilder
    val code = Process(Seq("python3", "tools/uncalled.py"), root)
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(code === 0, s"tools/uncalled.py lists defs nothing reaches:\n$out")
  }
}
