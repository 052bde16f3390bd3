package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for call shapes that compile and pass every
  * functional test but cost on a hot path.
  */
class SourceHygieneSpec extends AnyFunSuite {

  /** (file, text) of every Scala source under `src/main/scala`. */
  private lazy val mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath}: run from the project root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => f.toString -> new String(Files.readAllBytes(f), "UTF-8"))
    finally walk.close()
  }

  /** Top-level argument count of the call whose `(` sits at `open`. */
  private def argCount(text: String, open: Int): Int = {
    var depth = 0
    var commas = 0
    var i = open
    var done = false
    while (!done && i < text.length) {
      text(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          done = depth == 0
        case ',' if depth == 1 => commas += 1
        case _ =>
      }
      i += 1
    }
    val empty = text.substring(open + 1, i - 1).trim.isEmpty
    if (empty) 0 else commas + 1
  }

  test("driver-side parquet reads open over a passed conf (TopicStore.groupReader)") {
    // `ParquetReader.builder(support, path)` and the one-argument
    // `ParquetFileReader.open(in)` each build a `new Configuration()` per
    // open, whose first read re-parses Hadoop's default XML resources
    val offenders = mainSources.flatMap { case (file, text) =>
      def lineOf(at: Int) = s"$file:${text.substring(0, at).count(_ == '\n') + 1}"
      // `Owner.method(` with any whitespace, line breaks included
      def calls(owner: String, method: String) =
        raw"\b$owner\s*\.\s*$method\s*\(".r.findAllMatchIn(text)
      val builders = calls("ParquetReader", "builder")
        .map(m => lineOf(m.start) + " ParquetReader.builder")
      val opens = calls("ParquetFileReader", "open")
        .filter(m => argCount(text, m.end - 1) == 1)
        .map(m => lineOf(m.start) + " one-argument ParquetFileReader.open")
      builders ++ opens
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
