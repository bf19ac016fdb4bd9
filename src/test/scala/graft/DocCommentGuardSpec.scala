package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-lint guard against orphaned Scaladoc, a sibling of the
  * [[GuardLint]] family: a Scaladoc block followed, with only blank
  * lines between, by another Scaladoc block documents nothing — Scaladoc
  * attaches only the block nearest the definition, so the first block's
  * text silently never reaches the member it was written for (typically
  * a helper inserted between a doc and its definition).
  *
  * Rule: under `src/main`, a Scaladoc block must not be followed by
  * another Scaladoc block with only blank lines between them. Merge the
  * two, or move the first onto the definition it describes.
  */
class DocCommentGuardSpec extends AnyFunSuite {

  /** 0-based line of every Scaladoc block in `lines` that is directly
    * followed by another. */
  private def orphans(lines: Vector[String]): Seq[Int] = {
    def opens(i: Int) = lines(i).trim.startsWith("/**")
    var out = Vector.empty[Int]
    var i = 0
    while (i < lines.length) {
      if (opens(i)) {
        var end = i
        while (end < lines.length - 1 && !lines(end).contains("*/")) end += 1
        var next = end + 1
        while (next < lines.length && lines(next).trim.isEmpty) next += 1
        if (next < lines.length && opens(next)) out :+= i
        i = end + 1
      } else i += 1
    }
    out
  }

  test("no Scaladoc block is directly followed by another Scaladoc block") {
    val found = GuardLint.scalaFiles().flatMap { p =>
      orphans(Files.readAllLines(p).asScala.toVector).map(i => s"$p:${i + 1}")
    }
    assert(found.isEmpty,
      "Scaladoc block followed by another /** block (merge them, or move " +
        "the first onto the definition it describes):\n" +
        found.mkString("\n"))
  }

  test("the guard is not vacuous: it flags a stacked block, not a lone one") {
    val src = Vector(
      "  /** Orphaned: describes `f`, but `g` was inserted below. */",
      "",
      "  /** Describes `g`,",
      "    * over two lines. */",
      "  def g: Int = 1",
      "  /** Describes `f`. */",
      "  def f: Int = 2")
    assert(orphans(src) == Seq(0))
    assert(orphans(src.drop(2)).isEmpty)
  }
}
