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

  private def lineOf(file: String, text: String, at: Int): String =
    s"$file:${text.substring(0, at).count(_ == '\n') + 1}"

  test("driver-side parquet reads open over a passed conf (TopicStore.groupReader)") {
    // `ParquetReader.builder(support, path)` and the one-argument
    // `ParquetFileReader.open(in)` each build a `new Configuration()` per
    // open, whose first read re-parses Hadoop's default XML resources
    val offenders = mainSources.flatMap { case (file, text) =>
      // `Owner.method(` with any whitespace, line breaks included
      def calls(owner: String, method: String) =
        raw"\b$owner\s*\.\s*$method\s*\(".r.findAllMatchIn(text)
      val builders = calls("ParquetReader", "builder")
        .map(m => lineOf(file, text, m.start) + " ParquetReader.builder")
      val opens = calls("ParquetFileReader", "open")
        .filter(m => argCount(text, m.end - 1) == 1)
        .map(m => lineOf(file, text, m.start) + " one-argument ParquetFileReader.open")
      builders ++ opens
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("engine parquet writes go through SegmentWriter, which owns the topic file format") {
    // any other writer picks its own codec and timestamp encoding: a
    // DataFrame write takes both from the calling session, and an INT96
    // segment is one the store's own readers reject
    val offenders = mainSources
      .filter { case (file, _) =>
        file.contains("graft/engine/") && !file.endsWith("engine/SegmentWriter.scala")
      }
      .flatMap { case (file, text) =>
        val builders = raw"\bExampleParquetWriter\b|\bParquetWriter\s*\.\s*Builder\b".r
          .findAllMatchIn(text).map(m => lineOf(file, text, m.start) + " " + m.matched)
        // a DataFrame `.parquet(` whose nearest preceding `.read`/`.write`
        // is a write
        val frameWrites = raw"\.\s*parquet\s*\(".r.findAllMatchIn(text).filter { m =>
          raw"\.\s*(read|write)\b".r.findAllMatchIn(text.substring(0, m.start))
            .map(_.group(1)).toSeq.lastOption.contains("write")
        }.map(m => lineOf(file, text, m.start) + " DataFrame .parquet( write")
        builders ++ frameWrites
      }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the _meta table protocol lives in MetaTable: no other reader retries a vanished file or builds rows") {
    // a second copy of the read (newest-file choice, vanished-file retry)
    // or of the row building drifts from the swap that writes the tables
    val offenders = mainSources
      .filterNot { case (file, _) =>
        file.endsWith("engine/MetaTable.scala") || file.endsWith("engine/SegmentWriter.scala")
      }
      .flatMap { case (file, text) =>
        raw"\bVanished\s*\(|\bSimpleGroupFactory\b".r.findAllMatchIn(text)
          .map(m => lineOf(file, text, m.start) + " " + m.matched)
      }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("TopicStore walks directories with listStatus, never a recursive listFiles") {
    // `FileSystem.listFiles` builds a LocatedFileStatus per file; on a
    // local filesystem without libhadoop each one loads its permissions in
    // a child process (measured on a 4-core host: 300-350 ms for 37 staged
    // files, against 4-7 ms for a listStatus walk)
    val (file, text) = mainSources.find(_._1.endsWith("engine/TopicStore.scala"))
      .getOrElse(fail("engine/TopicStore.scala not found"))
    val offenders = raw"\.\s*listFiles\s*\(".r.findAllMatchIn(text)
      .map(m => lineOf(file, text, m.start)).toSeq
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("engine and serving report through a logger: no stderr prints, stack dumps or debug env switches") {
    // a stderr line carries no level, logger name or timestamp and cannot
    // be routed or silenced; a debug env var is a switch only its author
    // knows about
    val offenders = mainSources
      .filter { case (file, _) => file.contains("graft/engine/") || file.contains("graft/serving/") }
      .flatMap { case (file, text) =>
        raw"""\bSystem\s*\.\s*err\b|\bprintStackTrace\b|\bsys\s*\.\s*env\s*\.\s*contains\s*\(\s*"GRAFT_DEBUG""".r
          .findAllMatchIn(text).map(m => lineOf(file, text, m.start) + " " + m.matched)
      }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
