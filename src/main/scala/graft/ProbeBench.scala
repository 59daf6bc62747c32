package graft

import org.apache.spark.sql.functions._

/** Isolated A/B harness for the stored-LSH-index PROBE shape at small
  * batch ratios — the round-12 instrument for SCALE.md's one
  * argued-not-measured claim (VERDICT r11 task #4): the dict-encoded
  * split probe ([[graft.dedup.Dedup.lshNewDocsAgainstIndexEncoded]] —
  * corpus-partner verification on 8-byte sids, batch-vs-batch on
  * strings) was measured FASTER but 16% heavier in shuffle bytes than
  * the all-string probe ([[graft.dedup.Dedup.lshNewDocsAgainstIndex]])
  * at the fixture's 10% batch ratio, and SCALE.md argued the byte trade
  * inverts at production ratios (~0.1% of corpus per micro-batch): the
  * encode join's cost scales with the BATCH while the all-string shape
  * ships corpus-side shingle STRINGS per candidate pair. This main
  * measures both shapes against the SAME published index at a
  * configurable batch modulus and prints one JSON line for the sf10
  * gate to merge.
  *
  * The batch is `doc_id % SPARK_GRAFT_BATCH_MOD == 0` — for any modulus
  * that is a multiple of 10 this is a SUBSET of the standard incremental
  * tier's held-out ids (`doc_id % 10 == 0`), so the probe runs against
  * the standard `dedup_incremental_lsh_stored` artifact (variant "",
  * marker-gated, built by the gate's warm-up) with no extra index build
  * and guaranteed id-disjointness. Survivor sets are cross-checked: the
  * A/B never reports a shape pair that disagrees on verdicts.
  */
object ProbeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mod = sys.env.getOrElse("SPARK_GRAFT_BATCH_MOD", "1000").toLong
    require(mod % 10 == 0, "batch modulus must be a multiple of 10 so the " +
      "batch stays inside the standard index's held-out id space")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // Host telemetry in the row itself (VERDICT r12 #1: the committed
    // probe row must be adjudicatable for steal without a sibling file).
    val (load0, cpu0) = (util.HostTelemetry.loadavg(), util.HostTelemetry.cpuLine())

    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    // Standard artifact: corpus = the non-held-out 90% (same closure and
    // params as dedup_incremental_lsh_stored, so the marker matches and
    // an already-built gate artifact is probed, not rebuilt).
    val base = dedup.Dedup.ensureLshIndexBucketed(
      spark, sfDir, docs.filter(!isBatch), "doc_id", "text")
    // Eager localCheckpoint, NOT Views.materialize: the per-rep hygiene
    // below unpersists every tracked view, and the shared batch frame
    // must stay immutable bytes across all reps of both shapes.
    val batch = docs.filter(col("doc_id") % mod === 0)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val nBatch = batch.count()
    val nCorpus = docs.filter(!isBatch).count()

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    var survivors = Map.empty[String, Set[Long]]
    def measure(label: String)(probe: () => org.apache.spark.sql.DataFrame): String = {
      val samples = (1 to reps).map { _ =>
        val (sw0, _) = metrics.stable
        val t0 = System.nanoTime()
        val ids = probe().collect().map(_.getLong(0)).toSet
        val dt = (System.nanoTime() - t0) / 1e9
        val (sw1, _) = metrics.stable
        survivors += label -> ids
        graft.util.Views.unpersistAll()
        spark.catalog.clearCache()
        System.gc()
        (dt, (sw1 - sw0) / 1e6)
      }
      f""""$label":{"sec":${median(samples.map(_._1))}%.2f,"shuffle_mb":${median(samples.map(_._2))}%.2f,"sec_samples":${samples.map(s => f"${s._1}%.2f").mkString("[", ",", "]")}}"""
    }

    // The batch feeds both shapes; rematerialized per call inside the
    // timed window would double-charge shingling, so both probes consume
    // the same cached batch frame — the per-shape delta is the probe.
    val splitJson = measure("split_sid") { () =>
      dedup.Dedup.lshNewDocsAgainstIndexEncoded(
        batch, base, "doc_id", "text", 0.6)
    }
    val (bandE, shE) = dedup.Dedup.readLshIndexBucketed(spark, base)
    val stringJson = measure("all_string") { () =>
      dedup.Dedup.lshNewDocsAgainstIndex(
        batch, bandE, shE, "doc_id", "text", 0.6)
    }
    require(survivors("split_sid") == survivors("all_string"),
      "probe-shape A/B changed the survivor set — the A/B is void")
    val (load1, cpu1) = (util.HostTelemetry.loadavg(), util.HostTelemetry.cpuLine())
    val hostJson = util.HostTelemetry.json(load0, cpu0, load1, cpu1)
    println(s"""{"sf":"$sfDir","batch_mod":$mod,"n_batch":$nBatch,"n_corpus":$nCorpus,"survivors":${survivors("split_sid").size},"reps":$reps,"host":$hostJson,$splitJson,$stringJson}""")
    spark.stop()
  }
}
