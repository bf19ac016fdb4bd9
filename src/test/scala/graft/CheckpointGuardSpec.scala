package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source-lint guard for the one-checkpoint-site rule, a sibling of the
  * [[GuardLint]] family: every eager loop in the library cuts its lineage
  * through [[graft.graph.Pregel.advance]], which materializes each
  * checkpoint whole in the job of an aggregate probe and frees the
  * generation it replaces. A loop that checkpoints on its own can keep
  * every generation persisted, or leave a checkpoint half-built behind a
  * `limit` probe.
  *
  * Rule: outside comments, no file in `src/main` but `Pregel.scala` names
  * `localCheckpoint`, and `Pregel.scala` names it once. Cut a loop's
  * lineage through `Pregel.advance` instead.
  */
class CheckpointGuardSpec extends AnyFunSuite {

  private val checkpointCall = """\blocalCheckpoint\b""".r

  private def calls(p: java.nio.file.Path): Int =
    checkpointCall.findAllMatchIn(GuardLint.code(Files.readString(p))).size

  test("only Pregel.advance takes a local checkpoint in src/main") {
    val (pregel, others) = GuardLint.scalaFiles()
      .partition(_.getFileName.toString == "Pregel.scala")
    val found = others.filter(calls(_) > 0)
    assert(found.isEmpty,
      "cut a loop's lineage through Pregel.advance; found " +
        s"localCheckpoint in: ${found.mkString(", ")}")
    // non-vacuity: the pattern matches the one real call site
    assert(pregel.map(calls).sum == 1)
  }
}
