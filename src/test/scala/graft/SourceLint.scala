package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Helpers for the source lints (ScanSpec's one parquet read path,
  * MemoHygieneSpec's one artifact store): the library sources and a
  * comment stripper that keeps line numbers. */
object SourceLint {

  /** (path relative to `src/main/scala/graft`, contents) of every library
    * source, sorted by path. */
  def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala/graft")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** Blanks block and line comments, keeping newlines so line numbers hold
    * (a `//` inside a string literal ends the scanned line early — no
    * linted pattern shares a line with one today). */
  def stripComments(src: String): String =
    raw"(?s)/\*.*?\*/|//[^\n]*".r.replaceAllIn(src, m =>
      java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))
}
