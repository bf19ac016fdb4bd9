package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source-lint guard for the one-clone-site rule, a sibling of the
  * [[GuardLint]] family: a session clone is a new session UUID, and every
  * session UUID gets its own executor-side classloader, so every
  * whole-stage-codegen class a plan runs in a fresh clone is compiled
  * again. [[org.apache.spark.sql.graft.GraftSessionBridge.withConfs]]
  * hands out one reused clone per (caller, caller's conf, overrides).
  *
  * Rule: outside comments, no file in `src/main` but
  * `GraftSessionBridge.scala` names `cloneSession`. Run a plan under other
  * SQL confs through `GraftSessionBridge.withConfs` instead.
  */
class SessionCloneGuardSpec extends AnyFunSuite {

  private val cloneCall = """\bcloneSession\b""".r

  private def calls(p: java.nio.file.Path): Int =
    cloneCall.findAllMatchIn(GuardLint.code(Files.readString(p))).size

  test("only GraftSessionBridge clones a session in src/main") {
    val (bridge, others) = GuardLint.scalaFiles()
      .partition(_.getFileName.toString == "GraftSessionBridge.scala")
    val found = others.filter(calls(_) > 0)
    assert(found.isEmpty,
      "clone a session only through GraftSessionBridge.withConfs; found " +
        s"cloneSession in: ${found.mkString(", ")}")
    // non-vacuity: the pattern matches the one real call site
    assert(bridge.map(calls).sum == 1)
  }
}
