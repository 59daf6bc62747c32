package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.util.Artifacts

/** The write-once protocol of [[Artifacts.ensure]]: an interrupted build
  * is never served, a marker carrying another tag forces a rebuild, and
  * a matching marker is a pure probe. */
class ArtifactsSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val root = Files.createTempDirectory("graft-artifacts-")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    finally super.afterAll()

  private def freshDir(name: String): (Path, org.apache.hadoop.fs.Path) = {
    val local = root.resolve(name)
    (local, new org.apache.hadoop.fs.Path(local.toUri))
  }

  private def rows(dir: org.apache.hadoop.fs.Path): Seq[Long] =
    spark.read.parquet(s"$dir/rows").collect().map(_.getLong(0)).toSeq.sorted

  /** (relative path, size, mtime) of every file under `local`. */
  private def listing(local: Path): Seq[(String, Long, Long)] =
    Files.walk(local).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => (local.relativize(f).toString, Files.size(f),
        Files.getLastModifiedTime(f).toMillis)).toSeq.sorted

  private def writeRows(dir: org.apache.hadoop.fs.Path, n: Long): Unit =
    spark.range(n).toDF("id").write.parquet(s"$dir/rows")

  test("a build that throws leaves no marker; the next ensure rebuilds and serves a clean build's rows") {
    val (local, dir) = freshDir("crash")
    val b0 = Artifacts.builds.get
    intercept[IllegalStateException] {
      Artifacts.ensure(spark, dir, "t1") {
        spark.range(100).toDF("id").filter(col("id") < 40)
          .write.parquet(s"$dir/rows")
        throw new IllegalStateException("interrupted mid-build")
      }
    }
    assert(Artifacts.builds.get === b0 + 1)
    assert(Files.exists(local.resolve("rows")), "the partial artifact was written")
    assert(!Files.exists(local.resolve("_GRAFT_MARKER")))

    Artifacts.ensure(spark, dir, "t1")(writeRows(dir, 100))
    assert(Artifacts.builds.get === b0 + 2)
    assert(Files.readString(local.resolve("_GRAFT_MARKER")) === "t1")

    val (_, clean) = freshDir("clean")
    Artifacts.ensure(spark, clean, "t1")(writeRows(clean, 100))
    assert(rows(dir) === rows(clean))
    assert(rows(dir) === (0L until 100L))
  }

  test("a marker carrying another tag forces a rebuild from an empty directory") {
    val (local, dir) = freshDir("stale")
    Files.createDirectories(local)
    Files.writeString(local.resolve("_GRAFT_MARKER"), "t0")
    Files.writeString(local.resolve("leftover"), "from the t0 build")
    val b0 = Artifacts.builds.get
    var built = false
    Artifacts.ensure(spark, dir, "t1") { built = true; writeRows(dir, 10) }
    assert(built)
    assert(Artifacts.builds.get === b0 + 1)
    assert(!Files.exists(local.resolve("leftover")))
    assert(Files.readString(local.resolve("_GRAFT_MARKER")) === "t1")
    // A tag that merely extends the marker's is another tag too.
    Artifacts.ensure(spark, dir, "t1x")(writeRows(dir, 10))
    assert(Artifacts.builds.get === b0 + 2)
  }

  test("a matching marker probes without a build and without touching the artifact") {
    val (local, dir) = freshDir("probe")
    Artifacts.ensure(spark, dir, "t1")(writeRows(dir, 10))
    val before = listing(local)
    val b0 = Artifacts.builds.get
    Thread.sleep(20) // a rewrite would show in the mtimes
    Artifacts.ensure(spark, dir, "t1")(fail("build must not run on a probe"))
    assert(Artifacts.builds.get === b0)
    assert(listing(local) === before)
  }

  test("ensureState hands back the build's state on every call, from the marker") {
    val (local, dir) = freshDir("state")
    val b0 = Artifacts.builds.get
    val built = Artifacts.ensureState(spark, dir, "t1|cutoff=") {
      writeRows(dir, 10); "42"
    }
    assert(built === "42")
    assert(Files.readString(local.resolve("_GRAFT_MARKER")) === "t1|cutoff=42")
    val probed = Artifacts.ensureState(spark, dir, "t1|cutoff=")(fail("no build on a probe"))
    assert(probed === "42")
    assert(Artifacts.builds.get === b0 + 1)
  }
}
