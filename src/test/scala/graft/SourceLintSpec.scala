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
}
