package graft.util

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Write-once stored artifacts — the `_stored` queries' serving tables
  * (MV rollups, LSH/RHP band indexes, IVF quantizers, bucketed edge
  * lists, …). Each lives in one warehouse directory whose `_GRAFT_MARKER`
  * file names the content it was built from. [[ensure]] is the one
  * implementation of the protocol:
  *
  *  - probe: read the marker; an EXACT tag match returns at once — one
  *    driver-side file read, no listing, no job;
  *  - build on a miss (no marker, or one carrying another tag): count the
  *    build in [[builds]], delete the directory, run the caller's build,
  *    and write the marker LAST.
  *
  * So an interrupted build leaves no marker and is rebuilt by the next
  * call, and a half-written artifact is never served. The tag must name
  * every input of the derivation (testdata is immutable per sfDir, so
  * `(sfDir, params, version)` identifies content): a caller that changes
  * its derivation bumps its tag, or a stale artifact is silently reused.
  * Deleting the marker forces a rebuild.
  *
  * [[builds]] is the session-wide build counter. The benches snapshot it
  * around their timed reps: a build inside a timed window means the
  * warm-up missed the bench SF (the round-5 failure mode: 26.9 s medians
  * on a query whose probe floor is ~6.6 s) and is reported rather than
  * silently inflating the median. */
object Artifacts {
  val builds = new AtomicLong

  private val Marker = "_GRAFT_MARKER"

  private def recordBuild(what: String): Unit = {
    builds.incrementAndGet()
    System.err.println(s"[graft] stored artifact BUILD: $what")
  }

  /** `leaf` under the session's warehouse directory. */
  def inWarehouse(spark: SparkSession, leaf: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), leaf)

  /** An sfDir as a path-safe artifact-name suffix. */
  def sfTag(dir: String): String = dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Ensure the artifact at `dir` was built for `tag`, running `build`
    * (which writes under `dir`) on a miss. `build` is by-name: never
    * evaluated on a probe. */
  def ensure(spark: SparkSession, dir: Path, tag: String)(build: => Unit): Unit =
    if (!readMarker(spark, dir).contains(tag)) rebuild(spark, dir, tag) { build; "" }

  /** [[ensure]] for an artifact whose build computes state its probes
    * need back (the events-day MV's refresh cutoff): the marker holds
    * `tag + state`, a marker starting with `tag` is a hit, and the state
    * `build` returned is handed back on every call — read from the
    * marker, so a probe stays job-free. */
  def ensureState(spark: SparkSession, dir: Path, tag: String)(build: => String): String =
    readMarker(spark, dir) match {
      case Some(m) if m.startsWith(tag) => m.substring(tag.length)
      case _ => rebuild(spark, dir, tag)(build)
    }

  private def rebuild(spark: SparkSession, dir: Path, tag: String)(
      build: => String): String = {
    recordBuild(s"${dir.getName} $tag")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    val state = build
    val os = fs.create(new Path(dir, Marker), true)
    try os.write((tag + state).getBytes("UTF-8")) finally os.close()
    state
  }

  private def readMarker(spark: SparkSession, dir: Path): Option[String] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(new Path(dir, Marker))
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Metadata-only registration of a bucketed table whose files exist at
    * `location` — after a session restart the in-memory catalog has
    * forgotten the table, but the files (and the bucket ids encoded in
    * their names) survive, so `CREATE TABLE … CLUSTERED BY … LOCATION`
    * restores exchange-free scans without rewriting a byte. A no-op when
    * the table is already in the catalog. */
  private[graft] def registerBucketedTable(
      spark: SparkSession, table: String, location: String,
      numBuckets: Int, key: String = "id"): Unit =
    if (!spark.catalog.tableExists(table)) {
      val ddl = spark.read.parquet(location).schema.toDDL
      spark.sql(
        s"""CREATE TABLE $table ($ddl) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $numBuckets BUCKETS
           |LOCATION '$location'""".stripMargin)
    }
}
