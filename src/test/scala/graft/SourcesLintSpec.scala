package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Store-writer lint: every `graft.sources` writer densifies through
  * [[graft.sources.ChunkWrite]], which shuffles map-side chunk fragments.
  * A typed `groupByKey(...).mapGroups` over cell rows — one shuffle
  * record and one object deserialization per cell, plus a sort of every
  * cell — must not come back as a second write path. */
class SourcesLintSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/sources")

  test("no groupByKey/mapGroups under src/main/scala/graft/sources") {
    assume(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "ChunkWrite.scala"))
    val hits = for {
      f: Path <- files
      (line, no) <- Files.readAllLines(f).asScala.zipWithIndex
      if "\\b(groupByKey|mapGroups)\\b".r.findFirstIn(line).isDefined
    } yield s"${f.getFileName}:${no + 1}: ${line.trim}"
    assert(hits.isEmpty, s"per-cell grouping in a store writer:\n${hits.mkString("\n")}")
  }
}
