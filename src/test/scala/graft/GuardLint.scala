package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Shared scanner for the source-lint guard family
  * ([[BroadcastGuardSpec]], [[WindowGuardSpec]], [[CollectGuardSpec]],
  * [[CrossJoinGuardSpec]], [[GroupAggGuardSpec]]): walks `src/main`,
  * finds dangerous call sites, and checks each carries its
  * `<tag>-ok: <reason>` annotation nearby. [[DocCommentGuardSpec]] reuses
  * the file walk to find orphaned Scaladoc blocks, and
  * [[ListenerGuardSpec]] reads each file's code with its comments
  * stripped ([[code]]) to count the `SparkListener`s in `src/main`, as
  * [[SessionCloneGuardSpec]] does to keep `cloneSession` calls inside
  * `GraftSessionBridge` and [[CheckpointGuardSpec]] to keep
  * `localCheckpoint` inside `Pregel.advance`.
  *
  * Two correctness details live here so every guard gets them at once:
  *
  *  - `Files.walk` streams are closed (`Using`) — the specs previously
  *    leaked one directory handle per lint test;
  *  - the 3-line lookback STOPS at an intervening dangerous call: an
  *    annotation written for one site can no longer silently cover a
  *    different adjacent call of the same class. An annotation therefore
  *    binds to the NEXT call below it, which is also how every existing
  *    site in the repo is written.
  */
object GuardLint {

  val mainRoot: Path = Paths.get("src/main/scala")

  def scalaFiles(root: Path = mainRoot): Seq[Path] =
    Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }

  /** True for lines the guards ignore entirely: imports and comment
    * prose (scaladoc frequently NAMES the dangerous calls). */
  private def isProse(line: String): Boolean = {
    val t = line.trim
    t.startsWith("import ") || t.startsWith("//") || t.startsWith("*")
  }

  /** Call sites of `matches` without `tag` on the same line or within
    * the three preceding lines — where no OTHER matching call sits
    * between the annotation and the site. Returns `path:line: code`. */
  def violations(matches: String => Boolean, tag: String): Seq[String] =
    scalaFiles().flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toVector
      def covered(i: Int): Boolean =
        lines(i).contains(tag) || {
          // walk upward ≤3 lines; an intervening call claims the
          // annotation for itself, so stop there
          var j = i - 1
          var found = false
          var blocked = false
          while (!found && !blocked && j >= 0 && j >= i - 3) {
            if (lines(j).contains(tag)) found = true
            else if (matches(lines(j)) && !isProse(lines(j))) blocked = true
            j -= 1
          }
          found
        }
      lines.zipWithIndex.collect {
        case (line, i) if matches(line) && !isProse(line) && !covered(i) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }

  /** Non-vacuity counter: total `tag` occurrences under src/main. */
  def annotationCount(tag: String): Int =
    scalaFiles().map { p =>
      Files.readAllLines(p).asScala.count(_.contains(tag))
    }.sum

  /** `src` with every comment blanked out: line comments, and block
    * comments including nested ones (Scala's rule). String and character
    * literals are kept whole, so a comment opener inside one is not
    * taken for a comment; a blanked comment keeps its newlines. */
  def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def copyTo(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (depth > 0 && i < src.length) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        copyTo(if (end < 0) src.length else end + 3)
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, src.length))
      } else if (at("'\\") || (i + 2 < src.length && src(i) == '\'' &&
          src(i + 2) == '\'')) {
        val end = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2)
        copyTo(if (end < 0) src.length else end + 1)
      } else copyTo(i + 1)
    }
    out.toString
  }
}
