package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source-lint guard for the one-listener rule, a sibling of the
  * [[GuardLint]] family: the library observes the scheduler through ONE
  * `SparkListener`, [[graft.driver.JobControl]]'s, which keeps both the
  * per-job progress and the session totals. A second listener would count
  * the same events again on the listener-bus thread, and its numbers
  * would drift from the first's.
  *
  * Rule: outside comments, `src/main` holds exactly one `new SparkListener`
  * or `extends SparkListener`. Add scheduler observations to that
  * listener instead of registering another.
  */
class ListenerGuardSpec extends AnyFunSuite {

  private val listener = """\b(new|extends)\s+SparkListener\b""".r

  private def sites(src: String): Int =
    listener.findAllMatchIn(GuardLint.code(src)).size

  test("src/main defines exactly one SparkListener, JobControl's") {
    val found = GuardLint.scalaFiles().flatMap { p =>
      Seq.fill(sites(Files.readString(p)))(p.getFileName.toString)
    }
    assert(found == Seq("JobControl.scala"),
      "src/main must hold exactly one SparkListener (extend JobControl's " +
        s"listener instead of adding one); found: ${found.mkString(", ")}")
  }

  test("the guard counts code, not comments or string literals") {
    val src = Seq(
      "// new SparkListener in a line comment",
      "/** Scaladoc naming `extends SparkListener` /* nested */ still",
      "  * inside the comment: new SparkListener */",
      "val s = \"// not a comment\"; val c = '\"'",
      "val l = new SparkListener {}",
      "val t = \"\"\" /* not a comment \"\"\"",
      "class M extends SparkListener").mkString("\n")
    assert(sites(src) == 2)
    assert(GuardLint.code(src).linesIterator.size == 7)
  }
}
