package graft

import org.apache.spark.sql.functions._

/** Isolated A/B for the bucketed tier's SMALL-FILE MAINTENANCE (round
  * 12 — the measurement behind `rebucketEvery`): every
  * [[graft.dedup.Dedup.appendLshIndexBucketed]] adds one file set per
  * (append, bucket), so a steady-state ingest fragments the index into
  * O(appends × buckets) files; each later probe then pays per-file
  * open/footer costs and per-split scheduling. This main builds the
  * index, folds the held-out batch in as `SPARK_GRAFT_APPEND_CHUNKS`
  * separate appends (default 16 — a day of micro-batches in miniature),
  * measures the corpus self-dedup probe
  * ([[graft.dedup.Dedup.lshVerifiedPairsStored]]) on the FRAGMENTED
  * layout, rebuckets all four tables
  * ([[graft.util.Maintenance.rebucketTable]]), and measures the same
  * probe again — verdicts cross-checked identical (maintenance is
  * layout, never content). Prints one JSON line with file counts and
  * median probe wall before/after. */
object RebucketBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_APPEND_CHUNKS", "16").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
      .select(col("doc_id"), col("text"))
    val isBatch = col("doc_id") % 10 === 0
    val base = "graft_rbk_ab"
    Seq("shingles", "bands", "dict", "shids").foreach(p =>
      EntryOps.dropManagedTable(spark, s"${base}_$p"))
    dedup.Dedup.writeLshIndexBucketed(docs.filter(!isBatch),
      "doc_id", "text", base)
    (0 until chunks).foreach { i =>
      dedup.Dedup.appendLshIndexBucketed(dedup.Dedup.lshViews(
        docs.filter(isBatch && col("doc_id") % chunks === i), "doc_id", "text"),
        base)
      graft.util.Views.unpersistAll()
    }
    Seq("shingles", "bands", "dict", "shids").foreach(p =>
      spark.catalog.refreshTable(s"${base}_$p"))

    def tableDir(t: String): String = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t)).location).toString
    def files(): Int = Seq("shingles", "bands", "dict", "shids")
      .map(p => util.Maintenance.fileStats(spark, tableDir(s"${base}_$p")).nFiles)
      .sum
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def probe(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = dedup.Dedup.lshVerifiedPairsStored(spark, base, 0.6).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.util.Views.unpersistAll()
      spark.catalog.clearCache()
      System.gc()
      (dt, n)
    }
    val fragFiles = files()
    val fragRuns = (1 to reps).map(_ => probe())
    val t0 = System.nanoTime()
    Seq("shingles", "bands", "dict", "shids").foreach(p =>
      util.Maintenance.rebucketTable(spark, s"${base}_$p"))
    val rebucketSec = (System.nanoTime() - t0) / 1e9
    val compactFiles = files()
    val compactRuns = (1 to reps).map(_ => probe())
    require(fragRuns.map(_._2).toSet == compactRuns.map(_._2).toSet,
      "rebucket changed the verified pair count — the A/B is void")
    println(f"""{"sf":"$sfDir","append_chunks":$chunks,"pairs":${fragRuns.head._2},"fragmented":{"files":$fragFiles,"probe_sec":${median(fragRuns.map(_._1))}%.2f,"samples":${fragRuns.map(r => f"${r._1}%.2f").mkString("[", ",", "]")}},"rebucketed":{"files":$compactFiles,"probe_sec":${median(compactRuns.map(_._1))}%.2f,"samples":${compactRuns.map(r => f"${r._1}%.2f").mkString("[", ",", "]")}},"rebucket_sec":$rebucketSec%.2f}""")
    Seq("shingles", "bands", "dict", "shids").foreach(p =>
      EntryOps.dropManagedTable(spark, s"${base}_$p"))
    spark.stop()
  }
}
