package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import streaming.{StreamDoc, Streams}
import util.Maintenance

/** Round 12: bucketed-table maintenance (the compactInPlace guard +
  * rebucketTable, VERDICT r11 #1/#2), the dict max-sid counter (#5), and
  * the strict selfHeal opt-out (ADVICE r11). */
class Round12OpsSpec extends SparkSpec {

  private def dropIndex(base: String): Unit =
    Seq("shingles", "bands", "dict", "shids").foreach(p =>
      EntryOps.dropManagedTable(spark, s"${base}_$p"))

  private def tableDir(table: String): String =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      .toString

  private def localFile(table: String): java.io.File =
    new java.io.File(new java.net.URI(tableDir(table)).getPath)

  test("compactInPlace refuses the dir of a bucketed catalog table") {
    spark.sql("DROP TABLE IF EXISTS r12_guard_b")
    Sources.nation(spark, sfDir)
      .write.mode("overwrite").bucketBy(4, "n_nationkey").sortBy("n_nationkey")
      .saveAsTable("r12_guard_b")
    try {
      val dir = tableDir("r12_guard_b")
      val ex = intercept[IllegalArgumentException] {
        Maintenance.compactInPlace(spark, dir, 1L << 30)
      }
      assert(ex.getMessage.contains("r12_guard_b"))
      assert(ex.getMessage.contains("rebucketTable"))
      // The refusal left the table untouched and readable.
      assert(spark.table("r12_guard_b").count() ===
        Sources.nation(spark, sfDir).count())
    } finally spark.sql("DROP TABLE IF EXISTS r12_guard_b")
  }

  test("compactInPlace still compacts plain (non-bucketed) managed table dirs") {
    spark.sql("DROP TABLE IF EXISTS r12_plain_t")
    Sources.nation(spark, sfDir).repartition(8)
      .write.mode("overwrite").saveAsTable("r12_plain_t")
    try {
      val dir = tableDir("r12_plain_t")
      val before = Maintenance.fileStats(spark, dir)
      assert(before.nFiles === 8)
      val (_, after) = Maintenance.compactInPlace(spark, dir,
        before.totalBytes * 2)
      assert(after.nFiles === 1)
      spark.catalog.refreshTable("r12_plain_t")
      assert(spark.table("r12_plain_t").count() ===
        Sources.nation(spark, sfDir).count())
    } finally spark.sql("DROP TABLE IF EXISTS r12_plain_t")
  }

  test("rebucketTable refuses a table without a bucket spec") {
    spark.sql("DROP TABLE IF EXISTS r12_nospec_t")
    Sources.nation(spark, sfDir).write.mode("overwrite")
      .saveAsTable("r12_nospec_t")
    try {
      val ex = intercept[IllegalArgumentException] {
        Maintenance.rebucketTable(spark, "r12_nospec_t")
      }
      assert(ex.getMessage.contains("compactInPlace"))
    } finally spark.sql("DROP TABLE IF EXISTS r12_nospec_t")
  }

  test("rebucketTable collapses append growth, keeps content, spec, markers, and the exchange-free plan") {
    spark.sql("DROP TABLE IF EXISTS r12_rebkt_t")
    val orders = Sources.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def slice(m: Int) = orders.filter(col("o_orderkey") % 3 === m)
    def write(df: org.apache.spark.sql.DataFrame, mode: String) =
      df.repartition(4, col("o_custkey"))
        .write.mode(mode).bucketBy(4, "o_custkey").sortBy("o_custkey")
        .format("parquet").saveAsTable("r12_rebkt_t")
    write(slice(0), "overwrite")
    write(slice(1), "append")
    write(slice(2), "append")
    try {
      val dir = tableDir("r12_rebkt_t")
      // Plant the auxiliary metadata a real index table carries.
      val f = localFile("r12_rebkt_t")
      java.nio.file.Files.writeString(
        f.toPath.resolve("_GRAFT_MARKER"), "tag-v1")
      val batches = f.toPath.resolve("_batches")
      java.nio.file.Files.createDirectories(batches)
      java.nio.file.Files.writeString(batches.resolve("lin-0"), "")
      val digest0 = Maintenance.contentDigest(spark.table("r12_rebkt_t"))
      val before = Maintenance.fileStats(spark, dir)
      assert(before.nFiles === 12, s"3 aligned writes x 4 buckets, got $before")
      val (b2, after) = Maintenance.rebucketTable(spark, "r12_rebkt_t")
      assert(b2.nFiles === 12)
      assert(after.nFiles === 4, s"expected one file per bucket, got $after")
      // Content identical; bucket spec still in the catalog; aux files
      // carried through the swap; no tmp/bak/staging residue.
      assert(Maintenance.contentDigest(spark.table("r12_rebkt_t")) === digest0)
      assert(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("r12_rebkt_t"))
        .bucketSpec.exists(_.numBuckets == 4))
      assert(java.nio.file.Files.readString(
        f.toPath.resolve("_GRAFT_MARKER")) === "tag-v1")
      assert(java.nio.file.Files.exists(batches.resolve("lin-0")))
      assert(!spark.catalog.tableExists("r12_rebkt_t__rebucket_stg"))
      assert(f.getParentFile.list().forall(n => !n.contains("compact_")))
      // The whole point: the bucketed scan still plans WITHOUT an
      // exchange after the rewrite (bucket-id file naming survived).
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val agg = spark.table("r12_rebkt_t").groupBy("o_custkey")
          .agg(count(lit(1)).as("n"))
        val plan = agg.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"post-rebucket aggregate must stay exchange-free, got:\n$plan")
        assert(agg.count() === orders.select("o_custkey").distinct().count())
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally spark.sql("DROP TABLE IF EXISTS r12_rebkt_t")
  }

  test("dict max-sid counter: seeded at build, extended by append, scan fallback self-consistent") {
    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
      .select(col("doc_id"), col("text"))
    val part1 = docs.filter(col("doc_id") % 7 =!= 0)
    val part2 = docs.filter(col("doc_id") % 7 === 0)
    val base = "graft_test_r12sid"
    dropIndex(base)
    dedup.Dedup.writeLshIndexBucketed(part1, "doc_id", "text", base)
    try {
      def dictMax(): Long = spark.table(s"${base}_dict")
        .agg(coalesce(max("sid"), lit(-1L))).head().getLong(0)
      def dense(): Unit = {
        val d = spark.table(s"${base}_dict")
        val n = d.count()
        assert(d.select("sid").distinct().count() === n)
        assert(d.select("sh").distinct().count() === n)
        assert(dictMax() === n - 1, "sids must stay dense 0..n-1")
      }
      // Build seeds the counter at the dict's true max sid.
      assert(dedup.Dedup.readMaxSid(spark, base) === Some(dictMax()))
      dense()
      // Append extends the counter in lockstep with the dict.
      dedup.Dedup.appendLshIndexBucketed(
        dedup.Dedup.lshViews(part2, "doc_id", "text"), base)
      spark.catalog.refreshTable(s"${base}_dict")
      assert(dedup.Dedup.readMaxSid(spark, base) === Some(dictMax()))
      dense()
      // Encoded tier stayed consistent: one sid row per shingle row.
      spark.catalog.refreshTable(s"${base}_shids")
      spark.catalog.refreshTable(s"${base}_shingles")
      assert(spark.table(s"${base}_shids").count() ===
        spark.table(s"${base}_shingles").count())
      // Legacy (pre-counter) index: delete the file — the next append
      // falls back to the dict scan and stays correct.
      val marker = new org.apache.hadoop.fs.Path(tableDir(s"${base}_dict"),
        "_GRAFT_MAXSID")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(marker, false))
      val extra = spark.range(1).select(
        lit(990000L).as("doc_id"),
        lit("zq unique legacy fallback shingle text row").as("text"))
      dedup.Dedup.appendLshIndexBucketed(
        dedup.Dedup.lshViews(extra, "doc_id", "text"), base)
      spark.catalog.refreshTable(s"${base}_dict")
      assert(dedup.Dedup.readMaxSid(spark, base) === Some(dictMax()))
      dense()
    } finally dropIndex(base)
  }

  test("stream-maintained MV: every version equals the batch recompute of its prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Sources.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .collect()
    // Three deterministic arrival slices of the batch-shaped rows
    // (nano-long ts — the store must see exactly the batch schema).
    val slices = (0 until 3).map(i => rows
      .filter(_.getLong(0) % 3 == i)
      .map(r => (r.getLong(1), r.getString(2), r.getDouble(3))))
    assert(slices.forall(_.nonEmpty))
    val store = java.nio.file.Files
      .createTempDirectory("graft_r12_mvlive_").toString + "/mv"
    val stream = MemoryStream[(Long, String, Double)]
    val q = Streams.mvRollupIngest(
      stream.toDF().toDF("ts", "event_type", "value"), store)
    try slices.foreach { s =>
      stream.addData(s.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // One commit and one replay marker per micro-batch; at EVERY version
    // the store state equals the from-scratch day aggregate of the
    // prefix — the streamed-refresh ≡ batch-recompute contract, with
    // zero streaming-engine state (the store is the only state there is).
    val versions = sources.SnapshotStore.committedVersions(spark, store)
    assert(versions === Seq(1, 2, 3))
    assert(new java.io.File(s"$store/_batches").listFiles()
      .count(f => !f.getName.startsWith(".")) === 3)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long)] =
      df.select("day", "event_type", "cnt", "sum_cents").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    versions.foreach { v =>
      val prefix = slices.take(v).flatten
        .toDF("ts", "event_type", "value")
      assert(canon(sources.SnapshotStore.readAsOf(spark, store, "mv_key", v))
        === canon(plans.Mv.dayAgg(prefix)),
        s"store state at version $v diverged from the prefix recompute")
    }
    // The read path serves the final rollup without any aggregation.
    val live = plans.Mv.liveEventsDay(spark, store)
    val full = plans.Mv.dayAgg(Sources.events(spark, sfDir))
      .select(col("day"), col("event_type"), col("cnt").as("n_events"),
        col("sum_cents").as("value_cents"))
    assert(live.collect().toSet === full.collect().toSet)
  }

  test("selfHeal=false: a marker-less full-overlap batch halts instead of warning") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val existing = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r12_strict_").toString
    dedup.Dedup.writeLshIndex(existing, "doc_id", "text", dir)
    // A batch whose ids are ALL already indexed, with no replay marker:
    // the default wrapper self-heals; the strict wrapper must crash.
    val stream = MemoryStream[StreamDoc]
    val q = Streams.nearDupIngest(stream.toDF(), dir, 0.6,
      appendToIndex = true, selfHeal = false)(_ => ())
    stream.addData(
      StreamDoc(1L, new Timestamp(0L), "alpha beta gamma delta epsilon zeta"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    // Walk the WHOLE cause chain for the id-space halt (ADVICE r12: the
    // old `|| ex.getCause != null` arm was vacuous — a streaming
    // exception virtually always wraps a cause, so any unrelated failure
    // passed). The halt must be THE reason the stream died.
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("already in the stored index")),
      s"expected the id-space halt in the cause chain, got: $msgs")
  }

  test("streaming bucketed ingest with an always-firing rebucket threshold keeps files bounded and the index consistent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val existing = docs.filter(!isBatch)
    val batchDocs = docs.filter(isBatch)
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamDoc(r.getLong(0), new Timestamp(0L), r.getString(1)))
      .sortBy(_.doc_id)
    val (mb1, mb2) = batchDocs.partition(d => (d.doc_id / 10) % 2 == 0)
    assert(mb1.nonEmpty && mb2.nonEmpty)
    val base = "graft_test_r12rbk"
    dropIndex(base)
    dedup.Dedup.writeLshIndexBucketed(existing, "doc_id", "text", base)
    try {
      val stream = MemoryStream[StreamDoc]
      // Any fragmentation past the freshly-built 1.0 files/bucket fires
      // the trigger — the round-13 equivalent of the old rebucketEvery=1.
      val q = Streams.nearDupIngestBucketed(stream.toDF(), base, 0.6,
        appendToIndex = true, rebucketFilesPerBucket = 1.01)(_ => ())
      try {
        stream.addData(mb1.toIndexedSeq: _*); q.processAllAvailable()
        stream.addData(mb2.toIndexedSeq: _*); q.processAllAvailable()
      } finally q.stop()
      // Every applied batch triggered a rebucket: file counts are back
      // at ~bucket count, not buckets x (1 build + 2 appends).
      Seq("shingles", "bands", "dict", "shids").foreach { p =>
        val st = Maintenance.fileStats(spark, tableDir(s"${base}_$p"))
        assert(st.nFiles <= dedup.Dedup.IndexBuckets,
          s"${base}_$p grew to ${st.nFiles} files despite the 1.01 threshold")
      }
      // Index integrity after maintenance: encoded tier aligned, dict a
      // dense bijection, counter in lockstep, and the id-keyed aggregate
      // still exchange-free.
      Seq("shingles", "bands", "dict", "shids").foreach(p =>
        spark.catalog.refreshTable(s"${base}_$p"))
      assert(spark.table(s"${base}_shids").count() ===
        spark.table(s"${base}_shingles").count())
      val d = spark.table(s"${base}_dict")
      val n = d.count()
      assert(d.select("sid").distinct().count() === n)
      assert(dedup.Dedup.readMaxSid(spark, base) === Some(n - 1))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = spark.table(s"${base}_shingles").groupBy("id")
          .agg(count(lit(1))).queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"post-maintenance shingle scan must stay exchange-free:\n$plan")
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally dropIndex(base)
  }
}
