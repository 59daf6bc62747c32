package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN retrieval-quality gate for the STORED serving tiers at scale —
  * VERDICT r12 task #6: the sf10 gate measures serving wall and shuffle
  * bytes but not recall, and bucket imbalance at 100× could degrade
  * retrieval while wall stays flat. This main points the
  * `sim_ann_recall` machinery (exact brute-force top-k as ground truth,
  * left-semi hit counting) at the PUBLISHED serving artifacts — the
  * same rows/coarse/book tables `sim_ann_ivfpq_stored` probes and the
  * same band rows `sim_ann_rhp_stored` probes — over a deterministic
  * spread of query vectors (`vec_id % QMOD == 0`, so the sample covers
  * the ScaleUp replicas, not just the original corpus block) and prints
  * one JSON line for tools/bench_sf10.sh to merge into BENCH_sf10.json
  * beside the wall rows.
  *
  * Both gate tiers are measured because they fail differently at 100×:
  * RHP reranks its banding candidates with EXACT cosine (recall loss =
  * banding misses only), while raw-encoding IVF-PQ preselects by ADC
  * over a deliberately tiny fixture code budget (PqCodewords=4 — the
  * quality floor SimSpec pins at >= 0.15 on the isotropic fixture), so
  * its absolute recall is LOW by construction; what the gate watches is
  * DRIFT of either number as the corpus scales, not the floor itself.
  *
  * Ground truth is exact: [[graft.sim.Similarity.bruteTopK]] scans the
  * corpus once per sweep with the bounded-heap top-k (queries
  * broadcast), so the gate's cost is one corpus pass — fine at the
  * fixture's 200k vectors, and the production story for recall audits
  * is the same (sampled queries against a one-pass exact scan).
  */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "data/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = sys.env.getOrElse("SPARK_GRAFT_RECALL_K", "10").toInt
    val qmod = sys.env.getOrElse("SPARK_GRAFT_RECALL_QMOD", "997").toLong
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (load0, cpu0) = (util.HostTelemetry.loadavg(), util.HostTelemetry.cpuLine())

    // Ensure the published indexes are fresh for this (corpus, params) —
    // each registry tier's own marker gate decides; if the sf10 gate's
    // warm-up already built them these are seconds-cheap 5-query probes.
    SparkEntry.queries("sim_ann_ivfpq_stored")(spark, sfDir).count()
    SparkEntry.queries("sim_ann_rhp_stored")(spark, sfDir).count()
    util.Views.unpersistAll()
    spark.catalog.clearCache()

    val emb = Sources.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") % qmod === 0).localCheckpoint(true)
    val nq = q.count()
    val nCorpus = emb.count()

    // Shared exact ground truth: one corpus pass, pinned to bytes so
    // both tiers are judged against the identical reference set.
    val brute = sim.Similarity.bruteTopK(q, emb, k)
      .select("query_id", "vec_id").localCheckpoint(true)

    def recallOf(ann: DataFrame): (Double, Double, Double) = {
      val hits = brute.join(ann.select("query_id", "vec_id"),
          Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      val row = brute.groupBy("query_id").agg(count(lit(1)).as("n_ref"))
        .join(hits, Seq("query_id"), "left")
        .select((coalesce(col("n_hit"), lit(0L)) / col("n_ref")).as("recall"))
        .agg(avg("recall"), expr("percentile(recall, 0.5)"), min("recall"))
        .head()
      val r = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
      util.Views.unpersistAll()
      spark.catalog.clearCache()
      r
    }

    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val ivfpqIdx = new org.apache.hadoop.fs.Path(wh, s"graft_ivfpq_idx_$sfTag")
    val rhpIdx = new org.apache.hadoop.fs.Path(wh, s"graft_rhp_bidx_$sfTag")
    val tiers = Seq(
      "sim_ann_ivfpq_stored" -> recallOf(sim.Similarity.ivfPqProbe(q, emb,
        spark.read.parquet(s"$ivfpqIdx/rows"),
        spark.read.parquet(s"$ivfpqIdx/coarse"),
        spark.read.parquet(s"$ivfpqIdx/book"), k)),
      "sim_ann_rhp_stored" -> recallOf(sim.Similarity.rhpProbe(q, emb,
        spark.read.parquet(s"$rhpIdx/rows"), k)))

    val (load1, cpu1) = (util.HostTelemetry.loadavg(), util.HostTelemetry.cpuLine())
    val hostJson = util.HostTelemetry.json(load0, cpu0, load1, cpu1)
    val tiersJson = tiers.map { case (name, (mean, p50, mn)) =>
      f""""$name":{"recall_mean":$mean%.4f,"recall_p50":$p50%.4f,"recall_min":$mn%.4f}"""
    }.mkString(",")
    println(s"""{"metric":"ann_recall","sf":"$sfDir","k":$k,"qmod":$qmod,"n_queries":$nq,"n_corpus":$nCorpus,"tiers":{$tiersJson},"host":$hostJson}""")
    spark.stop()
  }
}
