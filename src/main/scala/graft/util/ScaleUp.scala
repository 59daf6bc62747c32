package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal fixture builder: replicate the driver testdata K× with
  * disjoint id spaces so the heavy family (dedup/LSH, graph, ANN) can be
  * MEASURED at the next scale factor instead of extrapolated (SCALE.md's
  * "100×-safe by design" arguments become recorded medians).
  *
  * Replication must not change the workload's CHARACTER, only its size:
  *  - documents: replica 0 is verbatim; replicas >0 get a deterministic
  *    per-doc WORD SHUFFLE (sort words by xxhash64(word, pos, doc_id,
  *    replica)) — length and vocabulary are preserved but every k-shingle
  *    changes, so replicas are NOT near-duplicates of each other and the
  *    corpus's near-dup RATE stays fixture-like (naive replication would
  *    put every doc in a K-clone cluster and square the LSH verify work —
  *    a different workload, not a bigger one). The shuffle itself is the
  *    standard corpus-augmentation shape: one narrow projection of
  *    higher-order array functions, no UDF, no shuffle.
  *  - embeddings: vectors ROTATED by replica index (cheap, norm-preserving,
  *    decorrelates replicas), ids offset.
  *  - lineitem: graph keys (partkey/suppkey) offset per replica → K
  *    disconnected copies of the co-purchase graph; orderkey offset keeps
  *    order identity unique.
  *
  * Usage: runMain graft.util.ScaleUp <srcSfDir> <outDir> <factor>
  */
object ScaleUp {

  // Must stay below sourcedDocs' 1e8 source-dup injection offset
  // (EntryOps.SourceCrossDupOffset; sf0.1 doc ids top out under 100k):
  // replica ids fit [0, 1e8) up to factor 1000 — the sf10 (100×)
  // rehearsal's id space is no longer the binding constraint (round 10,
  // VERDICT r9 task #5: the old 8e6 offset capped the fixture at 79×).
  val DocOffset = 100000L
  val VecOffset = 10000000L
  val KeyOffset = 10000000L
  val OrderOffset = 1000000000L
  val UserOffset = 1000000L
  val EventOffset = 100000000L

  def documentsScaled(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      // ENFORCED disjointness (was a comment): a source doc id at or past
      // DocOffset would collide replica id spaces and downstream dedup
      // would misread the duplicates as real. Per-row assert_true — the
      // sourcedDocs guard style — fails the build loudly instead.
      val guarded = docs.withColumn("doc_id",
        when(assert_true(col("doc_id") >= 0 && col("doc_id") < DocOffset,
          lit(s"ScaleUp: source doc_id outside [0, $DocOffset) — replica " +
            "id spaces would collide")).isNull, col("doc_id")))
      val d = guarded.withColumn("doc_id", col("doc_id") + lit(r * DocOffset))
      if (r == 0) d
      else d.withColumn("text", expr(
        s"""array_join(
           |  transform(
           |    array_sort(transform(split(text, ' '),
           |      (w, i) -> struct(xxhash64(w, i, doc_id, $r) AS k, w AS w))),
           |    s -> s.w),
           |  ' ')""".stripMargin))
    }.reduce(_.unionByName(_))

  def embeddingsScaled(emb: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      // Same disjointness guard as documentsScaled, vec_id analogue.
      val guarded = emb.withColumn("vec_id",
        when(assert_true(col("vec_id") >= 0 && col("vec_id") < VecOffset,
          lit(s"ScaleUp: source vec_id outside [0, $VecOffset) — replica " +
            "id spaces would collide")).isNull, col("vec_id")))
      val e = guarded.withColumn("vec_id", col("vec_id") + lit(r * VecOffset))
      if (r == 0) e
      else {
        // Rotation amount wraps inside [1, dim-1] so it is NEVER the
        // identity regardless of factor vs dimension (a raw rotation of
        // r == dim reproduces the original vector and r > dim makes the
        // slice length negative).
        val rot = s"((${r - 1} % greatest(size(embedding) - 1, 1)) + 1)"
        e.withColumn("embedding",
          expr(s"concat(slice(embedding, $rot + 1, size(embedding) - $rot), " +
            s"slice(embedding, 1, $rot))"))
      }
    }.reduce(_.unionByName(_))

  def lineitemScaled(li: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      // Key-space disjointness guard, graph-key analogue: a colliding
      // part/supp key would MERGE the replicas' co-purchase graphs.
      val guarded = li.withColumn("l_partkey",
        when(assert_true(
          col("l_partkey").between(0, KeyOffset - 1) &&
            col("l_suppkey").between(0, KeyOffset - 1) &&
            col("l_orderkey").between(0, OrderOffset - 1),
          lit(s"ScaleUp: lineitem keys outside [0, offset) — replica " +
            "graphs would merge")).isNull, col("l_partkey")))
      guarded.withColumn("l_partkey", col("l_partkey") + lit(r * KeyOffset))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * KeyOffset))
        .withColumn("l_orderkey", col("l_orderkey") + lit(r * OrderOffset))
    }.reduce(_.unionByName(_))

  /** Events replicate with per-replica USER and EVENT id offsets and
    * timestamps VERBATIM: K× the daily volume over the same time span —
    * the realistic growth shape (traffic grows; the calendar doesn't).
    * Disjoint user spaces keep per-user semantics (sessions, streaks,
    * retention, as-of joins) fixture-like instead of fusing replicas
    * into 10×-longer user histories — a different workload, not a
    * bigger one. value/event_type/props are verbatim, so value-grain
    * distributions (quantiles, PSI bands, MAD) scale in COUNT only. */
  def eventsScaled(ev: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      val guarded = ev.withColumn("user_id",
        when(assert_true(
          col("user_id").between(0, UserOffset - 1) &&
            col("event_id").between(0, EventOffset - 1),
          lit(s"ScaleUp: source user/event ids outside [0, offset) — " +
            "replica id spaces would collide")).isNull, col("user_id")))
      guarded.withColumn("user_id", col("user_id") + lit(r * UserOffset))
        .withColumn("event_id", col("event_id") + lit(r * EventOffset))
    }.reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    // Optional 4th arg: comma-list of tables to build (default all four).
    // The sf10 (100x) spot-rehearsal only needs documents — a full-table
    // 100x fixture would be >12 GB of unread parquet.
    val tables = if (args.length > 3) args(3).split(",").toSet
                 else Set("documents", "embeddings", "lineitem", "events")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(out).mkdirs()
    if (tables("documents"))
      documentsScaled(graft.Sources.table(spark, src, "documents"), factor)
        .repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    if (tables("embeddings"))
      embeddingsScaled(graft.Sources.table(spark, src, "embeddings"), factor)
        .repartition(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    if (tables("lineitem"))
      lineitemScaled(graft.Sources.table(spark, src, "lineitem"), factor)
        .repartition(16).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    if (tables("events"))
      eventsScaled(graft.Sources.table(spark, src, "events"), factor)
        .repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"[scaleup] wrote ${factor}x of $src to $out " +
      s"(${tables.toSeq.sorted.mkString(",")})")
    spark.stop()
  }
}
