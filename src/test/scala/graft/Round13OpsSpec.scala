package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import streaming.{StreamDoc, Streams}
import util.Maintenance

/** Round 13: the max-sid crash GAP window proven end-to-end (VERDICT
  * r12 #7), the fragmentation-triggered auto-rebucket (#4),
  * snapshot-store retention composed with the live MV (#5), and the
  * ADVICE r12 hardening items (cross-database bucket guard, interrupted-
  * rebucket recovery at batch entry, loud empty-store MV reads). */
class Round13OpsSpec extends SparkSpec {

  private def dropIndex(base: String): Unit =
    Seq("shingles", "bands", "dict", "shids").foreach(p =>
      EntryOps.dropManagedTable(spark, s"${base}_$p"))

  private def tableDir(table: String): String =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      .toString

  test("max-sid crash window: a lost reservation degrades to a sid GAP — injectivity, alignment, and probe verdicts all survive") {
    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
      .select(col("doc_id"), col("text"))
    val part1 = docs.filter(col("doc_id") % 7 >= 2)   // the built corpus
    val part2 = docs.filter(col("doc_id") % 7 === 0)  // appended AFTER the crash
    val probe = docs.filter(col("doc_id") % 7 === 1)  // held out for the probe A/B
    val base = "graft_test_r13gap"
    dropIndex(base)
    dedup.Dedup.writeLshIndexBucketed(part1, "doc_id", "text", base)
    try {
      val m0 = dedup.Dedup.readMaxSid(spark, base).get
      // THE CRASH, emulated at its exact window (Dedup.scala reservation-
      // before-append ordering): an append RESERVED 7 sids by rewriting
      // the counter and died before its dict append landed. The crashed
      // batch's partial table rows are the streaming wrapper's loud
      // adjudication path (Round12OpsSpec covers it); the counter file
      // is the state this spec exercises — the reservation is simply
      // LOST, never reused.
      dedup.Dedup.writeMaxSid(spark, base, m0 + 7)
      // Life goes on: the next batch appends normally.
      dedup.Dedup.appendLshIndexBucketed(
        dedup.Dedup.lshViews(part2, "doc_id", "text"), base)
      Seq("shingles", "bands", "dict", "shids").foreach(p =>
        spark.catalog.refreshTable(s"${base}_$p"))
      val d = spark.table(s"${base}_dict")
      val n = d.count()
      // Injectivity both ways — the invariant verification rests on.
      assert(d.select("sid").distinct().count() === n)
      assert(d.select("sh").distinct().count() === n)
      // The damage is EXACTLY a gap: no sid in the reserved range was
      // handed out, the new sids continue PAST it, and the counter is
      // back in lockstep with the dict's true max.
      assert(d.filter(col("sid") > m0 && col("sid") <= m0 + 7).count() === 0L,
        "a sid from the lost reservation was reused — duplicate risk")
      assert(n > m0 + 1,
        "fixture regression: the appended batch introduced no new shingles")
      // New sids continue from the reserved point: max = (dense size − 1)
      // shifted by exactly the 7-sid gap.
      assert(d.agg(max("sid")).head().getLong(0) === n - 1 + 7)
      assert(dedup.Dedup.readMaxSid(spark, base) === Some(n - 1 + 7))
      // Encoded tier stayed aligned through the gapped append.
      assert(spark.table(s"${base}_shids").count() ===
        spark.table(s"${base}_shingles").count())
      // And the ORACLE check: over the gapped dict, the sid-encoded
      // probe and the all-string probe agree on every survivor verdict.
      val b = probe.localCheckpoint(true)
      val enc = dedup.Dedup.lshNewDocsAgainstIndexEncoded(
        b, base, "doc_id", "text", 0.6)
        .collect().map(_.getLong(0)).toSet
      val (bandE, shE) = dedup.Dedup.readLshIndexBucketed(spark, base)
      val str = dedup.Dedup.lshNewDocsAgainstIndex(
        b, bandE, shE, "doc_id", "text", 0.6)
        .collect().map(_.getLong(0)).toSet
      assert(enc === str,
        "gapped-dict encoded probe diverged from the all-string probe")
    } finally dropIndex(base)
  }

  test("auto-rebucket: the files-per-bucket trigger fires on the fragmenting append, not before") {
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
    val base = "graft_test_r13trig"
    val tables = Seq("shingles", "bands", "dict", "shids")
    def maxFpb(): Double = tables
      .map(p => Maintenance.filesPerBucket(spark, s"${base}_$p")).max
    def fileCounts(): Seq[Int] = tables
      .map(p => Maintenance.fileStats(spark, tableDir(s"${base}_$p")).nFiles)

    // CALIBRATION PASS, trigger disabled: measure the fragmentation the
    // two appends actually produce (deterministic data → deterministic
    // layout), so the trigger threshold can be placed strictly between
    // them — the spec then proves ordering, not a magic constant.
    dropIndex(base)
    dedup.Dedup.writeLshIndexBucketed(existing, "doc_id", "text", base)
    val (fp1, filesAfter1, fp2) = try {
      val stream = MemoryStream[StreamDoc]
      val q = Streams.nearDupIngestBucketed(stream.toDF(), base, 0.6,
        appendToIndex = true)(_ => ())
      try {
        stream.addData(mb1.toIndexedSeq: _*); q.processAllAvailable()
        val a = (maxFpb(), fileCounts())
        stream.addData(mb2.toIndexedSeq: _*); q.processAllAvailable()
        (a._1, a._2, maxFpb())
      } finally q.stop()
    } finally dropIndex(base)
    assert(fp1 > 1.0 && fp2 > fp1,
      s"fixture regression: appends no longer fragment ($fp1 -> $fp2)")

    // REAL PASS: threshold between the two measured levels — the first
    // append must NOT trigger maintenance, the second must.
    val threshold = (fp1 + fp2) / 2
    dropIndex(base)
    dedup.Dedup.writeLshIndexBucketed(existing, "doc_id", "text", base)
    try {
      val stream = MemoryStream[StreamDoc]
      val q = Streams.nearDupIngestBucketed(stream.toDF(), base, 0.6,
        appendToIndex = true, rebucketFilesPerBucket = threshold)(_ => ())
      try {
        stream.addData(mb1.toIndexedSeq: _*); q.processAllAvailable()
        assert(fileCounts() === filesAfter1,
          s"rebucket ran below its $threshold files/bucket threshold")
        stream.addData(mb2.toIndexedSeq: _*); q.processAllAvailable()
        tables.foreach { p =>
          val st = Maintenance.fileStats(spark, tableDir(s"${base}_$p"))
          assert(st.nFiles <= dedup.Dedup.IndexBuckets,
            s"${base}_$p at ${st.nFiles} files — the threshold crossing did not rebucket")
        }
      } finally q.stop()
      // Post-maintenance integrity (the Round12 battery).
      tables.foreach(p => spark.catalog.refreshTable(s"${base}_$p"))
      assert(spark.table(s"${base}_shids").count() ===
        spark.table(s"${base}_shingles").count())
      val d = spark.table(s"${base}_dict")
      assert(d.select("sid").distinct().count() === d.count())
      assert(dedup.Dedup.readMaxSid(spark, base) === Some(d.count() - 1))
    } finally dropIndex(base)
  }

  test("bucketed ingest heals an interrupted rebucket at batch entry instead of failing every read") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val batchDocs = docs.filter(isBatch)
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamDoc(r.getLong(0), new Timestamp(0L), r.getString(1)))
    val base = "graft_test_r13heal"
    dropIndex(base)
    dedup.Dedup.writeLshIndexBucketed(docs.filter(!isBatch),
      "doc_id", "text", base)
    try {
      // Simulate a crash mid-rebucket: the live shingles dir was renamed
      // to its .compact_bak and the process died before publishing tmp.
      val live = new org.apache.hadoop.fs.Path(tableDir(s"${base}_shingles"))
      val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bak = new org.apache.hadoop.fs.Path(
        live.getParent, s".${live.getName}.compact_bak")
      assert(fs.rename(live, bak), "could not stage the crash fixture")
      // A maintenance-enabled stream must recover at batch entry and
      // process normally — without the entry recovery, the adjudication
      // reads fail on the missing table until a human intervenes.
      var emitted = 0L
      val stream = MemoryStream[StreamDoc]
      val q = Streams.nearDupIngestBucketed(stream.toDF(), base, 0.6,
        appendToIndex = true, rebucketFilesPerBucket = 1e9)(
        sv => emitted += sv.count())
      try {
        stream.addData(batchDocs.toIndexedSeq: _*); q.processAllAvailable()
      } finally q.stop()
      assert(!fs.exists(bak), "the bak dir must be consumed by recovery")
      assert(fs.exists(live), "the live table dir must be restored")
      assert(emitted > 0L, "the recovered stream must process the batch")
    } finally dropIndex(base)
  }

  test("snapshot-store retention: the live MV keeps last-K + compacted base; past-horizon reads fail loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Sources.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .collect()
    val slices = (0 until 5).map(i => rows
      .filter(_.getLong(0) % 5 == i)
      .map(r => (r.getLong(1), r.getString(2), r.getDouble(3))))
    assert(slices.forall(_.nonEmpty))
    val store = java.nio.file.Files
      .createTempDirectory("graft_r13_mvret_").toString + "/mv"
    val stream = MemoryStream[(Long, String, Double)]
    val q = Streams.mvRollupIngest(
      stream.toDF().toDF("ts", "event_type", "value"), store,
      retainVersions = 2)
    try slices.foreach { s =>
      stream.addData(s.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // After 5 batches with K=2: versions 4,5 live, version 3 is the
    // compacted base, 1 and 2 are GONE — markers, upserts, checkpoints.
    assert(sources.SnapshotStore.committedVersions(spark, store)
      === Seq(3, 4, 5))
    assert(sources.SnapshotStore.compactedVersions(spark, store) === Seq(3))
    Seq(1, 2, 3).foreach(v =>
      assert(!new java.io.File(s"$store/upserts/v=$v").exists,
        s"upserts v=$v must be physically removed"))
    Seq(4, 5).foreach(v =>
      assert(new java.io.File(s"$store/upserts/v=$v").exists,
        s"upserts v=$v is inside retention and must survive"))
    // Inside retention: every surviving version still equals the batch
    // recompute of its prefix — the r12 streamed-refresh contract,
    // unchanged by the vacuum.
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long)] =
      df.select("day", "event_type", "cnt", "sum_cents").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    Seq(3, 4, 5).foreach { v =>
      val prefix = slices.take(v).flatten.toDF("ts", "event_type", "value")
      assert(canon(sources.SnapshotStore.readAsOf(spark, store, "mv_key", v))
        === canon(plans.Mv.dayAgg(prefix)),
        s"retained version $v diverged from the prefix recompute")
    }
    // Past the horizon: LOUD refusal on the manifest guard — never a
    // silent partial fold.
    val ex = intercept[IllegalArgumentException] {
      sources.SnapshotStore.readAsOf(spark, store, "mv_key", 2)
    }
    assert(ex.getMessage.contains("no committed version"))
    // The serving read is byte-equivalent to the full recompute.
    val live = plans.Mv.liveEventsDay(spark, store)
      .select(col("day"), col("event_type"), col("n_events").as("cnt"),
        col("value_cents").as("sum_cents"))
    val full = plans.Mv.dayAgg(Sources.events(spark, sfDir))
    assert(canon(live) === canon(full))
  }

  test("liveEventsDay on an uninitialized store names the store dir, not NoSuchElement") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r13_mvempty_").toString + "/mv"
    val ex = intercept[IllegalArgumentException] {
      plans.Mv.liveEventsDay(spark, dir)
    }
    assert(ex.getMessage.contains(dir))
  }

  test("compactInPlace refuses a bucketed table registered in ANOTHER database over the same location") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_r13_otherdb")
    spark.sql("DROP TABLE IF EXISTS graft_r13_otherdb.r13_guard_x")
    Sources.nation(spark, sfDir)
      .write.mode("overwrite").bucketBy(4, "n_nationkey").sortBy("n_nationkey")
      .saveAsTable("graft_r13_otherdb.r13_guard_x")
    try {
      val dir = tableDir("graft_r13_otherdb.r13_guard_x")
      val ex = intercept[IllegalArgumentException] {
        Maintenance.compactInPlace(spark, dir, 1L << 30)
      }
      assert(ex.getMessage.contains("r13_guard_x"))
      assert(spark.table("graft_r13_otherdb.r13_guard_x").count() ===
        Sources.nation(spark, sfDir).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_r13_otherdb.r13_guard_x")
      spark.sql("DROP DATABASE IF EXISTS graft_r13_otherdb")
    }
  }
}
