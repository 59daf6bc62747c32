package graft

import org.apache.spark.sql.functions._

/** Isolated A/B harness for the stored-LSH-index BUILD — the instrument
  * behind SCALE.md's "signature-stage shuffle" table. The sf1 rehearsal
  * measured the banded-LSH signature aggregate's shuffle growing ~45x
  * for 10x docs when source files scatter doc ids (lost map-side
  * combine); the fix is the doc-id-clustered/bucketed stored layout
  * ([[graft.dedup.Dedup.writeLshIndexBucketed]]). This main builds BOTH
  * layouts from scratch at `SPARK_GRAFT_SF_DIR` and reports per-stage
  * wall time and shuffle bytes:
  *
  *   - `legacy`: scattered shingle store, then the signature aggregate
  *     over it (stage 2 ships per-doc partials — the superlinear term);
  *   - `bucketed`: one linear doc-row clustering shuffle up front
  *     (stage 1), then an EXCHANGE-FREE signature aggregate (stage 2
  *     ~0 MB at any corpus size).
  *
  * Then probes each index with the standard batch
  * ([[graft.dedup.Dedup.lshNewDocsAgainstIndex]]) and cross-checks the
  * two survivor sets, so the A/B never reports a layout that changed
  * answers. Prints ONE compact JSON line; run at sf0.1 and data/sf1 for
  * the 10x ratio.
  */
object IndexBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)

    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val corpus = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)

    val out = new StringBuilder
    def phase(name: String)(f: => Unit): Unit = {
      val (sw0, _) = metrics.stable
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      val (sw1, _) = metrics.stable
      util.Views.unpersistAll()
      spark.catalog.clearCache()
      System.gc()
      if (out.nonEmpty) out.append(",")
      out.append(f"""\"$name\":{\"sec\":$dt%.2f,\"shuffle_mb\":${(sw1 - sw0) / 1e6}%.2f}""")
    }

    var survivors = Map.empty[String, Set[Long]]
    Seq(false, true).foreach { bucketed =>
      val label = if (bucketed) "bucketed" else "legacy"
      val base = s"graft_lsh_ab_$label"
      Seq("shingles", "bands")
        .foreach(p => EntryOps.dropManagedTable(spark, s"${base}_$p"))
      phase(s"${label}_shingle_store") {
        dedup.Dedup.writeShingleStore(corpus, "doc_id", "text", base,
          dedup.Dedup.IndexBuckets, bucketed)
      }
      phase(s"${label}_signature_stage") {
        dedup.Dedup.writeBandIndex(spark, base, dedup.Dedup.IndexBuckets, bucketed)
      }
      phase(s"${label}_probe") {
        val (bandE, shE) = dedup.Dedup.readLshIndexBucketed(spark, base)
        survivors += label ->
          dedup.Dedup.lshNewDocsAgainstIndex(batch, bandE, shE,
            "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
      }
    }
    require(survivors("legacy") == survivors("bucketed"),
      "layout A/B changed the survivor set — the A/B is void")
    println(s"""{"sf":"$sfDir","survivors":${survivors("bucketed").size},${out.toString}}""")
    spark.stop()
  }
}
