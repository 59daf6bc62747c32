package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: each concept below has ONE implementation, and a copy
  * that reappears elsewhere in `src/main/scala` fails here at commit
  * time. Comments are stripped before matching, so docs may name the
  * concepts freely. */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path relative to `src/main/scala`, code with comments removed). */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.map { f =>
      val code = Files.readString(f)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      (root.relativize(f).toString.replace('\\', '/'), code)
    }.sortBy(_._1)
  }

  private def offenders(pattern: String, allowed: String): Seq[String] =
    sources.collect {
      case (rel, code) if rel != allowed && pattern.r.findFirstIn(code).isDefined => rel
    }

  test("only util.Artifacts reads or writes the stored-artifact marker") {
    val bad = offenders("_GRAFT_MARKER", "graft/util/Artifacts.scala")
    assert(bad.isEmpty, s"marker handled outside Artifacts.ensure in: ${bad.mkString(", ")}")
  }

  test("one bucketed-table registrar, in util.Artifacts") {
    val bad = offenders("def\\s+registerBucketedTable\\b", "graft/util/Artifacts.scala")
    assert(bad.isEmpty, s"registerBucketedTable redefined in: ${bad.mkString(", ")}")
  }

  test("source tables are read only through Sources.table") {
    val bad = offenders("read\\s*\\.\\s*parquet\\s*\\(\\s*s?\"[^\"]*\\.parquet\"", "graft/Sources.scala")
    assert(bad.isEmpty, s"read.parquet of a <table>.parquet path outside Sources in: ${bad.mkString(", ")}")
  }

  test("sessions open only through GraftSession") {
    val bad = offenders("SparkSession\\s*\\.\\s*builder\\b", "graft/GraftSession.scala")
    assert(bad.isEmpty, s"SparkSession.builder() outside GraftSession in: ${bad.mkString(", ")}")
  }

  private def occurrences(pattern: String): Seq[(String, Int)] =
    sources.map { case (rel, code) => rel -> pattern.r.findAllIn(code).size }
      .filter(_._2 > 0)

  test("the Jaccard ratio is written once, in Dedup's verification kernel") {
    val found = occurrences(
      "col\\(\"n_common\"\\)\\s*/\\s*\\(\\s*col\\(\"n_a\"\\)\\s*\\+\\s*col\\(\"n_b\"\\)\\s*-\\s*col\\(\"n_common\"\\)\\s*\\)")
    assert(found === Seq("graft/dedup/Dedup.scala" -> 1), s"Jaccard ratio written in: $found")
  }

  test("Dedup's id-disjointness guard is written once") {
    val n = occurrences("\"left_semi\"\\s*\\)\\s*\\.\\s*isEmpty")
      .collectFirst { case ("graft/dedup/Dedup.scala", k) => k }.getOrElse(0)
    assert(n === 1, s"Dedup writes the left_semi-isEmpty guard $n times, expected once")
  }

  private val streams = "graft/streaming/Streams.scala"
  private lazy val streamsCode = sources.collectFirst { case (`streams`, c) => c }.get

  test("stream batch lineage and marker paths are derived only in Streams.markedBatches") {
    val pattern = "nameUUIDFromBytes|_batches/"
    val bad = offenders(pattern, streams)
    assert(bad.isEmpty, s"batch lineage or marker path outside Streams in: ${bad.mkString(", ")}")
    val start = streamsCode.indexOf("def markedBatches")
    assert(start >= 0, "Streams.markedBatches is gone")
    val end = "\\n\\s*(private\\s+)?def\\s".r.findFirstMatchIn(streamsCode.substring(start))
      .map(start + _.start).getOrElse(streamsCode.length)
    val outside = pattern.r.findAllMatchIn(streamsCode).filter(m => m.start < start || m.start >= end)
    assert(outside.isEmpty, "batch lineage or marker path in Streams outside markedBatches")
  }

  test("the index-ingest self-heal is decided in one place") {
    val calls = sources.map { case (_, code) =>
      "warnSelfHeal\\s*\\(".r.findAllIn(code).size - "def\\s+warnSelfHeal\\b".r.findAllIn(code).size
    }.sum
    assert(calls === 1, s"warnSelfHeal( is called $calls times, expected once (in indexGated)")
  }

  test("no foreachBatch batch in Streams is probed with isEmpty before its read") {
    val names = "foreachBatch\\s*\\{\\s*\\(\\s*(\\w+)\\s*:".r
      .findAllMatchIn(streamsCode).map(_.group(1)).toSet
    assert(names.nonEmpty, "no foreachBatch sites found in Streams")
    val bad = names.filter(n => s"\\b$n\\s*\\.\\s*isEmpty\\b".r.findFirstIn(streamsCode).isDefined)
    assert(bad.isEmpty, s"isEmpty on a foreachBatch batch (${bad.mkString(", ")}) reads it twice")
  }
}
