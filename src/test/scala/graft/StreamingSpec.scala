package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import streaming.{CdcChange, StreamDoc, StreamEvent, Streams}

class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ev(id: Long, minute: Long, user: Long, typ: String, v: Double) =
    StreamEvent(id, new Timestamp(minute * 60000L), user, typ, v)

  test("windowed aggregate: streaming result equals the batch result on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      ev(1, 5, 1, "click", 1.0), ev(2, 20, 1, "click", 2.0),
      ev(3, 61, 2, "error", 3.0), ev(4, 70, 1, "click", 4.0),
      ev(5, 125, 2, "view", 5.0))
    val stream = MemoryStream[StreamEvent]
    stream.addData(data: _*)
    val q = Streams.withWatermarked(stream.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hourly")
      .orderBy("w_start", "event_type").collect().toSeq
    val batch = Streams.hourlyTypeCounts(data.toDF())
      .orderBy("w_start", "event_type").collect().toSeq
    assert(streamed === batch)
    assert(batch.length === 4) // (h0 click), (h1 click), (h1 error), (h2 view)
  }

  test("streaming sessionization emits a closed session when the gap passes") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    // user 1: two events 10 min apart, then a 40-min gap → first session
    // closes when the post-gap event arrives in a later batch
    stream.addData(ev(1, 0, 1, "a", 1.0), ev(2, 10, 1, "a", 2.0))
    val q = Streams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0) // still open
      stream.addData(ev(3, 50, 1, "a", 3.0))
      q.processAllAvailable()
      val closed = spark.table("sessions").collect()
      assert(closed.length === 1)
      val s = closed.head
      assert(s.getAs[Long]("user_id") === 1L)
      assert(s.getAs[Long]("n_events") === 2L)
      assert(s.getAs[Long]("session_end_ms") - s.getAs[Long]("session_start_ms")
        === 10L * 60000)
      assert(s.getAs[Double]("sum_value") === 3.0)
    } finally q.stop()
  }

  test("event-time timeout flushes a quiet user's session once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    // user 1 goes quiet after minute 15; no later user-1 event ever
    // arrives. (Times start at minute 5, off the initial watermark=0
    // boundary — a row AT the watermark is dropped as late.)
    stream.addData(ev(1, 5, 1, "a", 1.0), ev(2, 15, 1, "a", 2.0))
    val q = Streams.sessionizeWithTimeout(stream.toDS(),
        gapMs = 30L * 60000, watermark = "10 minutes")
      .writeStream.format("memory").queryName("timeout_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("timeout_sessions").count() === 0) // still open
      // OTHER-user event at minute 120 drives the watermark to 110 min,
      // past user 1's deadline (15 + 30 = 45 min) → user 1's session is
      // flushed by TIMEOUT, not by any user-1 event.
      stream.addData(ev(3, 120, 2, "b", 9.0))
      q.processAllAvailable()
      val rows = spark.table("timeout_sessions").filter(col("user_id") === 1).collect()
      assert(rows.length === 1)
      val s = rows.head
      assert(s.getAs[Long]("n_events") === 2L)
      assert(s.getAs[Double]("sum_value") === 3.0)
      assert(s.getAs[Long]("session_end_ms") === 15L * 60000)
    } finally q.stop()
  }

  test("an out-of-order but on-time event from a later batch never regresses the session end") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    stream.addData(ev(1, 5, 7, "a", 1.0), ev(2, 15, 7, "a", 2.0))
    val q = Streams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: minute-12 event arrives AFTER the minute-15 one was
      // processed — it must extend the counted set without moving the
      // session end (or any timeout deadline) backwards
      stream.addData(ev(3, 12, 7, "a", 4.0))
      q.processAllAvailable()
      stream.addData(ev(4, 120, 7, "a", 0.5)) // gap closes the session
      q.processAllAvailable()
      val s = spark.table("ooo_sessions").collect().head
      assert(s.getAs[Long]("n_events") === 3L)
      assert(s.getAs[Double]("sum_value") === 7.0)
      assert(s.getAs[Long]("session_end_ms") === 15L * 60000)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate ids within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    val q = Streams.dedupedWithinWatermark(stream.toDF(), Seq("event_id"),
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // same id twice in one batch → one row
      stream.addData(ev(1, 5, 1, "a", 1.0), ev(1, 6, 1, "a", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() === 1)
      // same id again across batches, still within the horizon → dropped
      stream.addData(ev(1, 8, 1, "a", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() === 1)
      // a new id passes through
      stream.addData(ev(2, 30, 1, "b", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() === 2)
    } finally q.stop()
  }

  test("streaming ingest gate+dedup equals the independent batch composition on the corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // Fixture: the augmented corpus (real dups) as a document stream.
    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
      .collect().map(r => StreamDoc(r.getAs[Long]("doc_id"),
        new java.sql.Timestamp(1700000000000L + r.getAs[Long]("doc_id")),
        r.getAs[String]("text")))
    val stream = MemoryStream[StreamDoc]
    val q = Streams.ingestCleanDocs(stream.toDF())
      .writeStream.format("memory").queryName("ingest_clean")
      .outputMode("append").start()
    try {
      // two micro-batches to exercise cross-batch dedup state
      val (b1, b2) = docs.splitAt(docs.length / 2)
      stream.addData(b1.toIndexedSeq); q.processAllAvailable()
      stream.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("ingest_clean").cache()
      // Independent batch twin: the aggregate-form gate + batch dedup.
      val batchDocs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
      val batchKept = batchDocs
        .withColumn("fingerprint",
          md5(util.Norm.normalize(col("text")).cast("binary")))
      val batchGate = {
        val sig = graft.text.TextAnalysis.gateSignals(batchDocs, "doc_id", "text")
        val rep = batchDocs
          .select(col("doc_id"),
            explode(split(util.Norm.normalize(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
          .groupBy("doc_id").agg((max("n") / sum("n")).as("top_word_ratio"))
        sig.join(rep, Seq("doc_id"), "left")
          .withColumn("top_word_ratio", coalesce(col("top_word_ratio"), lit(0.0)))
          .filter(graft.text.TextAnalysis.gateKeep(col("n_words"), col("lang_id"),
            col("top_word_ratio"), col("quality_score")))
          .select("doc_id")
      }
      val batchFingerprints = batchKept.join(batchGate, "doc_id")
        .select("fingerprint").distinct()
      // Same kept-content set: every surviving fingerprint matches.
      val streamedF = streamed.select("fingerprint").distinct()
      assert(streamedF.count() === streamed.count(), "stream emitted a dup fingerprint")
      assert(streamedF.except(batchFingerprints).count() === 0)
      assert(batchFingerprints.except(streamedF).count() === 0)
      streamed.unpersist()
    } finally q.stop()
  }

  test("stream sessionization with timeout equals batch sessionStats on a shared fixture") {
    // The claimed backfill→live migration path: the SAME event fixture
    // through the streaming state machine (flatMapGroupsWithState +
    // event-time timeout) and the batch window composition
    // (events.Sessionize.sessionStats) must yield identical session
    // boundaries and aggregates. Timestamps: stream carries ms
    // Timestamps, batch carries the parquet nano-long encoding — compare
    // on the µs timeline both converge to.
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(
      ev(1, 5, 1, "a", 1.0), ev(2, 15, 1, "b", 2.0), // u1 session 1
      ev(5, 10, 2, "c", 5.0), // u2 session 1 (flushed by TIMEOUT only)
      ev(3, 60, 1, "a", 3.0), ev(4, 65, 1, "a", 4.0), // u1 session 2
      ev(6, 95, 2, "a", 6.0), ev(7, 100, 2, "b", 7.0)) // u2 session 2
    val stream = MemoryStream[StreamEvent]
    val q = Streams.sessionizeWithTimeout(stream.toDS(),
        gapMs = 30L * 60000, watermark = "10 minutes")
      .writeStream.format("memory").queryName("parity_sessions")
      .outputMode("append").start()
    try {
      // two on-time batches (unordered within), then a sentinel user far
      // in the future to drive the watermark past every open deadline so
      // the tail sessions flush by event-time timeout
      stream.addData(all(1), all(0), all(2))
      q.processAllAvailable()
      stream.addData(all(3), all(4), all(5), all(6))
      q.processAllAvailable()
      stream.addData(ev(8, 10000, 99, "z", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("parity_sessions")
        .filter(col("user_id") =!= 99)
        .select(col("user_id"),
          (col("session_start_ms") * 1000).as("t_start_us"),
          (col("session_end_ms") * 1000).as("t_end_us"),
          col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      // batch face: same events as nano-long rows (the events.parquet
      // encoding sessionStats is defined over)
      val batchInput = all
        .map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id, e.event_type, e.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = events.Sessionize
        .sessionStats(batchInput, gapUs = 30L * 60000 * 1000L)
        .select("user_id", "t_start_us", "t_end_us", "n_events", "sum_value")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(streamed === batch)
      assert(streamed.length === 4) // 2 sessions per user
    } finally q.stop()
  }

  test("streaming near-dup ingest probes the stored LSH index and equals the sequential batch fold") {
    implicit val sqlCtx = spark.sqlContext
    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val existing = docs.filter(!isBatch)
    val batchDocs = docs.filter(isBatch)
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamDoc(r.getLong(0), new Timestamp(0L), r.getString(1)))
      .sortBy(_.doc_id)
    // Two deterministic micro-batches (split by id parity at the 10s digit).
    val (mb1, mb2) = batchDocs.partition(d => (d.doc_id / 10) % 2 == 0)
    assert(mb1.nonEmpty && mb2.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_lsh").toString
    dedup.Dedup.writeLshIndex(existing, "doc_id", "text", dir)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val stream = MemoryStream[StreamDoc]
    val q = Streams.nearDupIngest(stream.toDF(), dir, 0.6, appendToIndex = true) {
      surv => perBatch += surv.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    try {
      stream.addData(mb1.toIndexedSeq: _*); q.processAllAvailable()
      stream.addData(mb2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size === 2)
    // Each micro-batch reads its source once: numInputRows is its doc count.
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq ===
      Seq(mb1.length.toLong, mb2.length.toLong))
    // Expected fold: mb1 probes the corpus index; mb2 probes corpus ∪
    // accepted(mb1) — the in-query batch twin computes each step.
    val mb1Df = spark.createDataFrame(mb1.toIndexedSeq).select("doc_id", "text")
    val mb2Df = spark.createDataFrame(mb2.toIndexedSeq).select("doc_id", "text")
    val s1 = dedup.Dedup.lshNewDocs(mb1Df, existing.select("doc_id", "text"),
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    val accepted1 = mb1Df.filter(col("doc_id").isin(s1.toSeq: _*))
    val s2 = dedup.Dedup.lshNewDocs(mb2Df,
      existing.select("doc_id", "text").unionByName(accepted1),
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    assert(perBatch(0) === s1)
    assert(perBatch(1) === s2)
    // The accepted docs' artifacts really landed in the index: both
    // tables hold, as bags of rows, what one writeLshIndex of the corpus
    // plus the accepted docs writes.
    val (bandE, shE) = dedup.Dedup.readLshIndex(spark, dir)
    val indexed = bandE.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert((s1 ++ s2).subsetOf(indexed))
    val refDir = java.nio.file.Files.createTempDirectory("graft_stream_lsh_ref").toString
    dedup.Dedup.writeLshIndex(existing.select("doc_id", "text").unionByName(
      mb1Df.unionByName(mb2Df).filter(col("doc_id").isin((s1 ++ s2).toSeq: _*))),
      "doc_id", "text", refDir)
    val (refBands, refShingles) = dedup.Dedup.readLshIndex(spark, refDir)
    Seq("bands" -> (bandE, refBands), "shingles" -> (shE, refShingles)).foreach {
      case (t, (got, want)) =>
        assert(got.count() === want.count(), t)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, t)
    }
    graft.util.Views.unpersistAll()
    // Replay markers: one per processed micro-batch (round 11 — the
    // annIngest protocol, previously missing from this ingest).
    assert(new java.io.File(s"$dir/_batches").listFiles()
      .count(f => !f.getName.startsWith(".")) === 2)
  }

  test("bucketed streaming near-dup ingest equals the sequential fold and appends through the dict tier") {
    implicit val sqlCtx = spark.sqlContext
    val docs = dedup.Dedup.augmented(Sources.documents(spark, sfDir))
    val isBatch = col("doc_id") % 10 === 0
    val existing = docs.filter(!isBatch)
    val batchDocs = docs.filter(isBatch)
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamDoc(r.getLong(0), new Timestamp(0L), r.getString(1)))
      .sortBy(_.doc_id)
    val (mb1, mb2) = batchDocs.partition(d => (d.doc_id / 10) % 2 == 0)
    assert(mb1.nonEmpty && mb2.nonEmpty)
    // A dedicated MUTABLE base — never one produced by the marker-gated
    // ensure, whose write-once contract an appending stream would break.
    val base = "graft_test_ndbkt"
    Seq("shingles", "bands", "dict", "shids").foreach(p =>
      EntryOps.dropManagedTable(spark, s"${base}_$p"))
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val batchesDir = new java.io.File(
      new java.net.URI(s"$wh/${base}_bands/_batches").getPath)
    dedup.Dedup.writeLshIndexBucketed(existing, "doc_id", "text", base)
    val dict0 = spark.table(s"${base}_dict").count()
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val stream = MemoryStream[StreamDoc]
    val q = Streams.nearDupIngestBucketed(stream.toDF(), base, 0.6,
      appendToIndex = true) {
      surv => perBatch += surv.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    try {
      stream.addData(mb1.toIndexedSeq: _*); q.processAllAvailable()
      stream.addData(mb2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size === 2)
    // Sequential fold reference (the in-query batch twin, step by step).
    val mb1Df = spark.createDataFrame(mb1.toIndexedSeq).select("doc_id", "text")
    val mb2Df = spark.createDataFrame(mb2.toIndexedSeq).select("doc_id", "text")
    val s1 = dedup.Dedup.lshNewDocs(mb1Df, existing.select("doc_id", "text"),
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    val accepted1 = mb1Df.filter(col("doc_id").isin(s1.toSeq: _*))
    val s2 = dedup.Dedup.lshNewDocs(mb2Df,
      existing.select("doc_id", "text").unionByName(accepted1),
      "doc_id", "text", 0.6).collect().map(_.getLong(0)).toSet
    assert(perBatch(0) === s1)
    assert(perBatch(1) === s2)
    // Survivors landed in the ENCODED tier too (shids), the dict grew by
    // exactly the survivors' new shingles, and it is still a bijection.
    val shids = spark.table(s"${base}_shids")
    val indexedIds = shids.select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert((s1 ++ s2).subsetOf(indexedIds))
    val dict = spark.table(s"${base}_dict")
    val n = dict.count()
    assert(n >= dict0)
    assert(dict.select("sid").distinct().count() === n)
    assert(dict.select("sh").distinct().count() === n)
    assert(shids.count() === spark.table(s"${base}_shingles").count())
    // `shingles` and `bands` hold, as bags of rows, what one
    // writeLshIndexBucketed of the corpus plus the accepted docs writes,
    // and `shids` decodes through `dict` to exactly `shingles`.
    val refBase = "graft_test_ndbkt_ref"
    Seq("shingles", "bands", "dict", "shids").foreach(p =>
      EntryOps.dropManagedTable(spark, s"${refBase}_$p"))
    dedup.Dedup.writeLshIndexBucketed(existing.select("doc_id", "text").unionByName(
      mb1Df.unionByName(mb2Df).filter(col("doc_id").isin((s1 ++ s2).toSeq: _*))),
      "doc_id", "text", refBase)
    def sameBag(t: String, got: org.apache.spark.sql.DataFrame,
                want: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.count() === want.count(), t)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, t)
    }
    Seq("shingles", "bands").foreach(p =>
      sameBag(p, spark.table(s"${base}_$p"), spark.table(s"${refBase}_$p")))
    sameBag("shids decoded", shids.join(dict, "sid").select("id", "sh"),
      spark.table(s"${base}_shingles"))
    // One replay marker per processed micro-batch.
    assert(batchesDir.listFiles().count(f => !f.getName.startsWith(".")) === 2)
    Seq(base, refBase).foreach(b => Seq("shingles", "bands", "dict", "shids")
      .foreach(p => EntryOps.dropManagedTable(spark, s"${b}_$p")))
  }

  test("nearDupIngest replay safety: full-overlap self-heals, partial overlap fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    val existing = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_lsh_rp").toString
    dedup.Dedup.writeLshIndex(existing, "doc_id", "text", dir)
    // Full overlap, no marker: the crash window between append and
    // marker. The batch must be treated as an applied replay — nothing
    // emitted, nothing re-appended, marker written.
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val s1 = MemoryStream[StreamDoc]
    val q1 = Streams.nearDupIngest(s1.toDF(), dir, 0.6, appendToIndex = true) {
      surv => emitted ++= surv.select("doc_id").collect().map(_.getLong(0))
    }
    try {
      s1.addData(StreamDoc(1L, new Timestamp(0L), "alpha beta gamma delta epsilon zeta"),
        StreamDoc(2L, new Timestamp(0L), "one two three four five six seven"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(emitted.isEmpty, "an applied replay must not re-emit")
    assert(new java.io.File(s"$dir/_batches").listFiles()
      .count(f => !f.getName.startsWith(".")) === 1)
    val nBands = dedup.Dedup.readLshIndex(spark, dir)._1.count()
    // Partial overlap (one indexed id, one new): undecidable — the
    // ingest must fail loudly with the recovery path, not guess.
    val s2 = MemoryStream[StreamDoc]
    val q2 = Streams.nearDupIngest(s2.toDF(), dir, 0.6, appendToIndex = true)(_ => ())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        s2.addData(StreamDoc(1L, new Timestamp(0L), "alpha beta gamma delta epsilon zeta"),
          StreamDoc(99L, new Timestamp(0L), "totally fresh words never indexed here"))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    assert(e.getMessage.contains("replay marker") ||
      String.valueOf(e.getCause).contains("replay marker"))
    assert(dedup.Dedup.readLshIndex(spark, dir)._1.count() === nBands,
      "a failed batch must not have appended anything")
  }

  test("streaming ANN ingest gates on the stored IVF-PQ index and equals the sequential batch fold") {
    implicit val sqlCtx = spark.sqlContext
    import sim.Similarity
    val emb = Sources.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val isBatch = col("id") % 10 === 0
    val corpus = emb.filter(!isBatch).cache()
    // Batch vectors: every 10th embedding under FRESH ids (disjoint from
    // the indexed space, as the ingest contract requires).
    val batchVecs = emb.filter(isBatch).collect()
      .map(r => streaming.StreamVec(r.getLong(0) + 100000L,
        r.getSeq[Float](1)))
      .sortBy(_.id)
    val (mb1, mb2) = batchVecs.partition(v => (v.id / 10) % 2 == 0)
    assert(mb1.nonEmpty && mb2.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ann").toString
    val coarse0 = Similarity.sampledCentroids(corpus, 16)
    val book0 = Similarity.ivfPqBook(corpus)
    coarse0.write.parquet(s"$dir/coarse")
    book0.write.parquet(s"$dir/book")
    Similarity.ivfPqIndexWith(corpus, coarse0, book0).write.parquet(s"$dir/rows")
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val stream = MemoryStream[streaming.StreamVec]
    val q = Streams.annIngest(stream.toDF(), dir, 0.8, appendToIndex = true) {
      surv => perBatch += surv.select("id").collect().map(_.getLong(0)).toSet
    }
    try {
      stream.addData(mb1.toIndexedSeq: _*); q.processAllAvailable()
      stream.addData(mb2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size === 2)
    // Sequential fold reference over the SAME stored quantizer/codebook:
    // mb1 gates against the corpus index; mb2 against corpus ∪
    // accepted(mb1).
    val sCoarse = spark.read.parquet(s"$dir/coarse")
    val sBook = spark.read.parquet(s"$dir/book")
    def gate(b: org.apache.spark.sql.DataFrame,
             rows: org.apache.spark.sql.DataFrame): Set[Long] = {
      val rej = Similarity.ivfPqMaxSim(b, rows, sCoarse, sBook)
        .filter(col("max_asim") >= 0.8)
        .select("query_id").collect().map(_.getLong(0)).toSet
      b.select("id").collect().map(_.getLong(0)).toSet -- rej
    }
    val mb1Df = spark.createDataFrame(mb1.toIndexedSeq).select("id", "vec")
    val mb2Df = spark.createDataFrame(mb2.toIndexedSeq).select("id", "vec")
    val rows0 = Similarity.ivfPqIndexWith(corpus, sCoarse, sBook).cache()
    val s1 = gate(mb1Df, rows0)
    val acc1 = mb1Df.filter(col("id").isin(s1.toSeq: _*))
    val rows1 = rows0.unionByName(Similarity.ivfPqIndexWith(acc1, sCoarse, sBook))
    val s2 = gate(mb2Df, rows1)
    assert(perBatch(0) === s1)
    assert(perBatch(1) === s2)
    // The accepted vectors' CODES really landed in the durable index —
    // and nothing else did.
    val finalIds = spark.read.parquet(s"$dir/rows")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val corpusIds = corpus.select("id").collect().map(_.getLong(0)).toSet
    assert(finalIds === corpusIds ++ s1 ++ s2)
    // Replay markers: one per processed micro-batch (ignore the local
    // filesystem's .crc shadows).
    assert(new java.io.File(s"$dir/_batches").listFiles()
      .count(f => !f.getName.startsWith(".")) === 2)
    rows0.unpersist(); corpus.unpersist()
  }

  test("streaming RHP ingest gates by band-candidate + sketch hamming and equals the sequential batch fold") {
    implicit val sqlCtx = spark.sqlContext
    import sim.Similarity
    val emb = Sources.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val isBatch = col("id") % 10 === 0
    val corpus = emb.filter(!isBatch).cache()
    // Batch = fresh-id rows: every 10th embedding VERBATIM (hamming 0 vs
    // nothing — these vectors are NOT in the corpus, so they gate on
    // their banded neighbors) plus exact COPIES of corpus vectors
    // (identical sketch → hamming 0 → must be rejected).
    val novel = emb.filter(isBatch).collect()
      .map(r => streaming.StreamVec(r.getLong(0) + 100000L, r.getSeq[Float](1)))
    val copies = corpus.filter(col("id") % 7 === 1).limit(20).collect()
      .map(r => streaming.StreamVec(r.getLong(0) + 200000L, r.getSeq[Float](1)))
    val batchVecs = (novel ++ copies).sortBy(_.id)
    val (mb1, mb2) = batchVecs.partition(v => (v.id / 10) % 2 == 0)
    assert(mb1.nonEmpty && mb2.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_rhp").toString
    Similarity.rhpBandIndex(corpus).write.parquet(s"$dir/rows")
    Similarity.rhpSketches(corpus).write.parquet(s"$dir/sketches")
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val stream = MemoryStream[streaming.StreamVec]
    val q = Streams.rhpIngest(stream.toDF(), dir, maxHamming = 0,
        appendToIndex = true) {
      surv => perBatch += surv.select("id").collect().map(_.getLong(0)).toSet
    }
    try {
      stream.addData(mb1.toIndexedSeq: _*); q.processAllAvailable()
      stream.addData(mb2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size === 2)
    // Exact corpus copies carry identical sketches → rejected in batch 1.
    val copyIds1 = mb1.filter(_.id >= 200000L).map(_.id).toSet
    assert(copyIds1.intersect(perBatch(0)).isEmpty)
    // Sequential fold reference: mb2 gates against corpus ∪ accepted(mb1).
    def gate(b: org.apache.spark.sql.DataFrame,
             bands: org.apache.spark.sql.DataFrame,
             sks: org.apache.spark.sql.DataFrame): Set[Long] =
      Similarity.rhpNewVecsAgainstIndex(b, bands, sks, maxHamming = 0)
        .collect().map(_.getLong(0)).toSet
    val mb1Df = spark.createDataFrame(mb1.toIndexedSeq).select("id", "vec")
    val mb2Df = spark.createDataFrame(mb2.toIndexedSeq).select("id", "vec")
    val s1 = gate(mb1Df, Similarity.rhpBandIndex(corpus),
      Similarity.rhpSketches(corpus))
    val acc1 = mb1Df.filter(col("id").isin(s1.toSeq: _*))
    val s2 = gate(mb2Df,
      Similarity.rhpBandIndex(corpus).unionByName(Similarity.rhpBandIndex(acc1)),
      Similarity.rhpSketches(corpus).unionByName(Similarity.rhpSketches(acc1)))
    assert(perBatch(0) === s1)
    assert(perBatch(1) === s2)
    // Both artifact tables really grew by exactly the accepted ids.
    val idxIds = spark.read.parquet(s"$dir/sketches")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val corpusIds = corpus.select("id").collect().map(_.getLong(0)).toSet
    assert(idxIds === corpusIds ++ s1 ++ s2)
    corpus.unpersist()
  }

  test("streamed-artifact compaction: probe results identical, file count collapsed") {
    implicit val sqlCtx = spark.sqlContext
    import sim.Similarity
    val emb = Sources.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = emb.filter(col("id") % 10 =!= 0).cache()
    val batchVecs = emb.filter(col("id") % 10 === 0).collect()
      .map(r => streaming.StreamVec(r.getLong(0) + 300000L, r.getSeq[Float](1)))
      .sortBy(_.id)
    val groups = batchVecs.grouped(math.max(1, batchVecs.length / 3)).toSeq
    assert(groups.size >= 3)
    // Same micro-batch sequence, one run without compaction and one
    // compacting after EVERY batch — verdicts and final index content
    // must be identical (compaction is layout, never data), and the
    // compacted run's small-file count must collapse.
    def run(dir: String, compactEvery: Int): Seq[Set[Long]] = {
      Similarity.rhpBandIndex(corpus).write.parquet(s"$dir/rows")
      Similarity.rhpSketches(corpus).write.parquet(s"$dir/sketches")
      val out = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val stream = MemoryStream[streaming.StreamVec]
      val q = Streams.rhpIngest(stream.toDF(), dir, maxHamming = 0,
          appendToIndex = true, compactEvery = compactEvery) { surv =>
        out += surv.select("id").collect().map(_.getLong(0)).toSet
      }
      try groups.foreach { g =>
        stream.addData(g.toIndexedSeq: _*); q.processAllAvailable()
      } finally q.stop()
      out.toSeq
    }
    val dirA = java.nio.file.Files.createTempDirectory("graft_cmp_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_cmp_b").toString
    val survA = run(dirA, compactEvery = 0)
    val survB = run(dirB, compactEvery = 1)
    assert(survA === survB)
    assert(survA.flatten.nonEmpty)
    for (t <- Seq("rows", "sketches")) {
      assert(util.Maintenance.contentDigest(spark.read.parquet(s"$dirA/$t")) ===
        util.Maintenance.contentDigest(spark.read.parquet(s"$dirB/$t")),
        s"$t content must be identical pre/post compaction")
      val nA = util.Maintenance.fileStats(spark, s"$dirA/$t").nFiles
      val nB = util.Maintenance.fileStats(spark, s"$dirB/$t").nFiles
      assert(nB < nA, s"$t: compacted run must have fewer files ($nB vs $nA)")
    }
    // a fresh probe over the compacted artifacts still gates correctly:
    // replaying batch 1's vectors against the final index rejects them all
    val replay = spark.createDataFrame(
      groups.head.map(v => streaming.StreamVec(v.id + 400000L, v.vec)).toIndexedSeq)
      .select("id", "vec")
    val gated = Similarity.rhpNewVecsAgainstIndex(replay,
      spark.read.parquet(s"$dirB/rows"), spark.read.parquet(s"$dirB/sketches"),
      maxHamming = 0).collect().map(_.getLong(0)).toSet
    val acceptedB1 = survB.head
    // every replayed vector whose original was ACCEPTED is now a dup of it
    assert(gated.intersect(acceptedB1.map(_ + 400000L)).isEmpty)
    corpus.unpersist()
  }

  test("stream-stream interval join attributes purchases within the window, stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      ev(1, 10, 1, "click", 1.0), ev(2, 15, 1, "purchase", 5.0), // within 10 min
      ev(3, 40, 1, "purchase", 7.0),                             // too late for click 1
      ev(4, 35, 1, "click", 1.0),                                // catches purchase 3
      ev(5, 20, 2, "purchase", 9.0), ev(6, 25, 2, "click", 1.0)) // purchase BEFORE click
    val stream = MemoryStream[StreamEvent]
    stream.addData(data: _*)
    val df = stream.toDF()
    val q = Streams.attributedPurchases(
      df.filter(col("event_type") === "click"),
      df.filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName("attributed")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("attributed")
      .select("click_id", "purchase_id").orderBy("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed === Seq((1L, 2L), (4L, 3L)))
    val batchDf = data.toDF()
    val batch = Streams.attributedPurchases(
      batchDf.filter(col("event_type") === "click"),
      batchDf.filter(col("event_type") === "purchase"))
      .select("click_id", "purchase_id").orderBy("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed === batch)
  }

  test("left-outer stream-stream join: unmatched clicks emit with nulls only after the watermark closes their window") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    val df = stream.toDF()
    val q = Streams.attributedPurchasesOuter(
      df.filter(col("event_type") === "click"),
      df.filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName("attributed_outer")
      .outputMode("append").start()
    def rows() = spark.table("attributed_outer")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    try {
      // c1 converts within its window; c2 never does.
      stream.addData(ev(1, 10, 1, "click", 1.0), ev(2, 15, 1, "purchase", 5.0),
        ev(3, 20, 2, "click", 1.0))
      q.processAllAvailable()
      // The match emits eagerly; the unmatched click must NOT — a
      // purchase could still arrive inside its window.
      assert(rows() === Set((1L, Some(2L))))
      // Advance BOTH sides' event time far past c2's window horizon
      // (watermark = min over sources; both must move). The watermark
      // updates at the END of this batch…
      stream.addData(ev(90, 120, 90, "click", 1.0),
        ev(91, 120, 91, "purchase", 1.0))
      q.processAllAvailable()
      // …so the null-extended row lands in the NEXT batch.
      stream.addData(ev(92, 121, 92, "click", 1.0))
      q.processAllAvailable()
      assert(rows().contains((3L, None)),
        s"unmatched click should have emitted with nulls: ${rows()}")
      // The fresh clicks' windows are still open — no premature nulls.
      assert(!rows().exists(r => r._1 >= 90 && r._2.isEmpty))
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch join and keys missing from the catalog survive") {
    implicit val sqlCtx = spark.sqlContext
    val catalog = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val data = Seq(ev(1, 0, 1, "click", 1.0), ev(2, 1, 2, "view", 2.0),
      ev(3, 2, 7, "click", 3.0)) // user 7 not in the catalog
    val stream = MemoryStream[StreamEvent]
    stream.addData(data: _*)
    val q = Streams.enrichAgainstCatalog(stream.toDF(), catalog, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enriched")
      .select("event_id", "user_id", "tier").orderBy("event_id").collect().toSeq
    val batch = Streams.enrichAgainstCatalog(data.toDF(), catalog, "user_id")
      .select("event_id", "user_id", "tier").orderBy("event_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.map(r => Option(r.getString(2))) ===
      Seq(Some("gold"), Some("silver"), None))
  }

  test("idempotent lake sink: only closed windows land, and a replayed batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_").toString
    val stream = MemoryStream[StreamEvent]
    // Hours 0 and 1 get events; the minute-155 event then pushes the
    // 30-min watermark past both window ends, closing them.
    stream.addData(ev(1, 5, 1, "click", 1.0), ev(2, 15, 1, "click", 2.0),
      ev(3, 70, 2, "error", 3.0))
    val q = Streams.windowedAggToLake(stream.toDF(), dir, watermark = "30 minutes")
    try {
      q.processAllAvailable()
      stream.addData(ev(4, 155, 1, "view", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val table = spark.read.parquet(dir)
    val snapshot = table.orderBy("w_hour", "event_type").collect().toSeq
    // Exactly the two closed hourly windows; the open hour-2 window must
    // NOT be in the table.
    // (partition values read back type-inferred — int here)
    assert(snapshot.map(_.getAs[Number]("w_hour").longValue).distinct === Seq(0L, 1L))
    assert(snapshot.length === 2)
    // Replay the last micro-batch (what the engine does after a failure
    // before the checkpoint commit): rebuild the closed-window rows and
    // push them through the sink again — the table must not change,
    // where a mode("append") sink would have doubled them.
    // (materialized first — never overwrite a path a lazy plan still reads)
    val replaySrc = table.filter(col("w_hour") === 1L).drop("w_hour")
    val replayBatch = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(replaySrc.collect(): _*)),
      replaySrc.schema)
    Streams.idempotentWindowSink(replayBatch, dir)
    val after = spark.read.parquet(dir).orderBy("w_hour", "event_type").collect().toSeq
    assert(after === snapshot, "replaying a batch must be a no-op")
    // And the closed set agrees with the batch recompute on the same data.
    val batchClosed = Streams.hourlyTypeCounts(
      Seq(ev(1, 5, 1, "click", 1.0), ev(2, 15, 1, "click", 2.0),
        ev(3, 70, 2, "error", 3.0)).toDF())
      .orderBy("w_start", "event_type").collect().toSeq
    assert(snapshot.map(r => (r.getAs[Timestamp]("w_start"),
      r.getAs[String]("event_type"), r.getAs[Long]("n_events"))) ===
      batchClosed.map(r => (r.getAs[Timestamp]("w_start"),
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"))))
  }

  test("out-of-order events within a batch still form one ordered session") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamEvent]
    stream.addData(ev(2, 10, 9, "b", 2.0), ev(1, 0, 9, "b", 1.0), ev(3, 15, 9, "b", 4.0))
    val q = Streams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // session still open (no gap) → nothing emitted, no crash on disorder
      assert(spark.table("sessions2").count() === 0)
      stream.addData(ev(4, 120, 9, "b", 1.0)) // 105-min gap closes it
      q.processAllAvailable()
      val s = spark.table("sessions2").collect().head
      assert(s.getAs[Long]("n_events") === 3L && s.getAs[Double]("sum_value") === 7.0)
    } finally q.stop()
  }

  test("cdcApply: micro-batches become store commits with per-batch time travel") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString + "/store"
    val stream = MemoryStream[CdcChange]
    val q = Streams.cdcApply(stream.toDF(), dir, "id")
    def state(v: Int): Map[Long, String] =
      SnapshotStore.readAsOf(spark, dir, "id", v)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
    try {
      stream.addData(CdcChange(1, "a1", "i"), CdcChange(2, "b1", "i"))
      q.processAllAvailable()
      stream.addData(CdcChange(2, "b2", "u"), CdcChange(3, "c2", "i"))
      q.processAllAvailable()
      stream.addData(CdcChange(1, null, "d"))
      q.processAllAvailable()
    } finally q.stop()
    // One store version per non-empty micro-batch...
    assert(SnapshotStore.committedVersions(spark, dir) == Seq(1, 2, 3))
    // ...and the full history is navigable after the stream is gone: the
    // durable store is the only state (no streaming state store at all).
    assert(state(1) == Map(1L -> "a1", 2L -> "b1"))
    assert(state(2) == Map(1L -> "a1", 2L -> "b2", 3L -> "c2"))
    assert(state(3) == Map(2L -> "b2", 3L -> "c2"))
  }
}
