package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.util.Stable

/** A typed event for the streaming surface (timestamps are real
  * `java.sql.Timestamp`s here — streams carry event time, not the batch
  * parquet's nano-long encoding). */
case class StreamEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double)

/** A typed document for the streaming ingest surface. */
case class StreamDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** A typed change row for the streaming CDC-apply surface
  * ([[Streams.cdcApply]]): op = 'u' update, 'i' insert, 'd' delete. */
case class CdcChange(id: Long, payload: String, op: String)

/** A typed embedding row for the streaming ANN-index ingest surface
  * ([[Streams.annIngest]]). */
case class StreamVec(id: Long, vec: Seq[Float])

/** Emitted session summary from streaming sessionization. */
case class SessionUpdate(user_id: Long, session_start_ms: Long,
                         session_end_ms: Long, n_events: Long, sum_value: Double)

/** Per-user lifetime totals emitted by [[Streams.runningUserTotals]]
  * (value carried as 1e-8-quantized longs so the running state is exact
  * integer arithmetic — stream ≡ batch regardless of delivery order). */
case class UserTotals(user_id: Long, n_events: Long, sum_value_q8: Long)

/** Internal per-user session accumulator. */
case class SessionState(startMs: Long, lastMs: Long, n: Long, sum: Double)

/** Structured Streaming surface (SURVEY.md §2.10: the reference is pure
  * batch — this is engine surface beyond reference behavior, built the
  * way Spark wants it: event-time windows + watermarks for bounded state,
  * `flatMapGroupsWithState` for custom session state).
  *
  * Every transform here is defined on a plain `DataFrame`/`Dataset` so the
  * SAME code runs in batch (driver gate / oracle) and on a stream
  * (`readStream` → transform → `writeStream`) — that symmetry is the
  * Structured Streaming contract, and the specs assert it with
  * `MemoryStream`.
  */
object Streams {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Prominent trace for the crash-window self-heal: a marker-less batch
    * whose ids are ALL already indexed is treated as an applied replay
    * and skipped — correct for the crash-between-append-and-marker
    * window, but indistinguishable from a genuine first delivery whose
    * ids fully collide with the index (an id-space contract violation
    * upstream). The skip is therefore never silent: the marker path in
    * the log names the index, the lineage and the batch id, so a
    * full-overlap collision is auditable after the fact. */
  private def warnSelfHeal(op: String, marker: Path, nIds: Long): Unit =
    log.warn(s"$op: no replay marker $marker, but all $nIds batch ids " +
      "are already in the stored index — treating the batch as an applied " +
      "replay (marker written, batch skipped). If this batch was a genuine " +
      "first delivery, its ids collide with the index and the id-space " +
      "contract is violated upstream.")

  /** The read half of every `foreachBatch` below: the micro-batch is
    * materialized ONCE and `apply` runs on the cached view when the same
    * action counted any rows. The source is read once, so `numInputRows`
    * counts each row once (an `isEmpty` probe before the read would read
    * it twice). The batch's views are reclaimed after `apply`. */
  private def nonEmptyBatch(batch: Dataset[Row])(apply: DataFrame => Unit): Unit = {
    val (b, n) = graft.util.Views.materializeCounted(batch.toDF())
    if (n > 0) apply(b)
    graft.util.Views.unpersistAll()
  }

  /** The replay protocol of every stream whose batch effect is not
    * idempotent (README, "Stream batches"). A batch's marker is
    * `<markerDir>/_batches/<lineage>-<batchId>`; the lineage is derived
    * from `checkpointLocation`, since batch ids only mean something
    * within one checkpoint (a restart on the same checkpoint continues
    * them; without one, every `start()` is a new lineage). Per batch:
    * the marker is checked first, so a replay reads nothing; the batch
    * is read once and skipped at 0 rows ([[nonEmptyBatch]]); then
    * `apply(batch, marker)`, the marker (only if `apply` returned), and
    * `maintain(batchId)`. Everything runs on the foreachBatch thread,
    * so maintenance never races an in-flight batch. */
  private def markedBatches(stream: DataFrame, markerDir: String,
                            checkpointLocation: Option[String])
                           (apply: (DataFrame, Path) => Unit)
                           (maintain: Long => Unit): StreamingQuery = {
    val lineage = checkpointLocation match {
      case Some(c) => java.util.UUID.nameUUIDFromBytes(c.getBytes("UTF-8")).toString
      case None => java.util.UUID.randomUUID().toString
    }
    val conf = stream.sparkSession.sparkContext.hadoopConfiguration
    val writer = stream.writeStream.outputMode(OutputMode.Update())
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val marker = new Path(s"$markerDir/_batches/$lineage-$batchId")
        val fs = marker.getFileSystem(conf)
        if (!fs.exists(marker)) nonEmptyBatch(batch) { b =>
          apply(b, marker)
          fs.create(marker, true).close()
          maintain(batchId)
        }
      }
      .start()
  }

  /** The crash-window adjudication and write tail of the four index
    * ingests. The append and the marker are two writes, so a marker-less
    * batch may already be applied. Each of `indexIds` (name → one id
    * column) is counted for the batch's distinct `idCol` values, all in
    * one aggregate:
    *  - every table holds every id: an applied replay. With
    *    `appendToIndex && selfHeal` it is skipped with a warning (the
    *    caller then writes the marker);
    *  - otherwise every count must be 0. A partial overlap is a replay
    *    with rejects, a crash mid-append, or an id collision, and cannot
    *    be told apart, so it fails loudly with the recovery path.
    * Then the survivors (`survivorIds`, the ingest's probe, is only
    * evaluated here) are materialized once, emitted, and appended when
    * there are any and `appendToIndex` is set. */
  private def indexGated(b: DataFrame, op: String, idCol: String, marker: Path,
                         indexIds: Seq[(String, DataFrame)],
                         survivorIds: => DataFrame,
                         append: DataFrame => Unit,
                         appendToIndex: Boolean, selfHeal: Boolean)
                        (emit: DataFrame => Unit): Unit = {
    // One aggregate: the batch's ids (tag -1) and each table's hits (tag
    // i: its ids semi-joined against the broadcast batch ids; the index
    // side is a single-column scan) grouped by id. Every group holds a
    // batch id, so count(1) is the distinct batch-id count (a null id is
    // one group, as distinct counts it) and count(in_i) the batch ids
    // table i holds (a null id matches nothing).
    val ids = b.select(col(idCol).as("id"))
    val tagged = indexIds.indices.foldLeft(ids.withColumn("t", lit(-1))) { (acc, i) =>
      acc.unionByName(indexIds(i)._2.toDF("id")
        .join(broadcast(ids), Seq("id"), "left_semi").withColumn("t", lit(i)))
    }
    val in = indexIds.indices.map(i => max(when(col("t") === i, 1)).as(s"in_$i"))
    val counts = tagged.groupBy("id").agg(in.head, in.tail: _*)
      .agg(count(lit(1)), indexIds.indices.map(i => count(col(s"in_$i"))): _*).head()
    val nBatch = counts.getLong(0)
    val present = indexIds.indices.map(i => indexIds(i)._1 -> counts.getLong(i + 1))
    if (appendToIndex && selfHeal && present.forall(_._2 == nBatch))
      warnSelfHeal(op, marker, nBatch)
    else {
      val found = present.map { case (t, n) => s"$n/$nBatch in $t" }.mkString(", ")
      require(present.forall(_._2 == 0L),
        s"$op: batch ids already in the stored index ($found) without this " +
          "batch's replay marker — either an id-space collision (ids must be " +
          "disjoint) or a crash after an earlier delivery of this batch " +
          "began appending; after confirming the batch was applied to every " +
          s"table, recover by creating $marker")
      val (survivors, n) = graft.util.Views.materializeCounted(
        b.join(survivorIds, Seq(idCol), "left_semi"))
      emit(survivors)
      if (appendToIndex && n > 0) append(survivors)
    }
  }

  /** Tumbling event-time window aggregate. On a stream, pair with
    * [[withWatermarked]] so state is dropped after `watermark`. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Stable.exactSum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Watermarked variant for streaming use (late rows beyond the
    * watermark are dropped; aggregation state is bounded). */
  def withWatermarked(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    hourlyTypeCounts(events.withWatermark("ts", watermark))

  /** Streaming EXACT dedup on the ingest path — the live twin of
    * [[graft.dedup.Dedup.exactGroups]] (a training-data pipeline dedups
    * at ingest as well as in batch): duplicates of `idCols` arriving
    * within the watermark horizon are dropped; per-key state is evicted
    * once the watermark passes its event time + delay, so state is
    * bounded by the horizon's key cardinality, not the stream's history.
    * (A duplicate arriving AFTER its original's state evicted re-emits —
    * the horizon is the dedup contract, exactly Spark's
    * `dropDuplicatesWithinWatermark` semantics; full-history exact dedup
    * is the batch path's job.) */
  def dedupedWithinWatermark(events: DataFrame, idCols: Seq[String],
                             watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming INGEST pipeline for documents — the live twin of the
    * batch `docs_pipeline_e2e`'s front stages (quality gate → exact
    * dedup): one STATELESS projection computes every gate signal
    * row-locally — including the repetition ratio, via
    * [[graft.text.TextAnalysis.topWordRatio]]'s sorted-run fold instead
    * of the batch explode→aggregate — then kept docs dedup on the
    * normalized-content hash within the watermark horizon (bounded
    * state, same contract as [[dedupedWithinWatermark]]). Identical
    * verdicts to the batch gate (StreamingSpec proves stream ≡ batch on
    * a shared fixture); the stateless stage means the only streaming
    * state anywhere is the dedup horizon. */
  def ingestCleanDocs(docs: DataFrame, watermark: String = "2 hours"): DataFrame = {
    import graft.text.TextAnalysis
    TextAnalysis.withGateSignals(docs.withWatermark("ts", watermark), "text")
      .withColumn("top_word_ratio", TextAnalysis.topWordRatio(col("text")))
      .filter(TextAnalysis.gateKeep(col("n_words"), col("lang_id"),
        col("top_word_ratio"), col("quality_score")))
      .withColumn("fingerprint",
        md5(graft.util.Norm.normalize(col("text")).cast("binary")))
      .dropDuplicatesWithinWatermark(Seq("fingerprint"))
      .select("doc_id", "ts", "fingerprint", "n_words", "quality_score", "lang_id")
  }

  /** Streaming NEAR-dup ingest against a STORED LSH index — the live twin
    * of [[graft.dedup.Dedup.lshNewDocsAgainstIndex]] (batch query
    * `dedup_incremental_lsh_stored`). Each micro-batch runs the SAME
    * batch probe operator via `foreachBatch` — stream ≡ batch by
    * construction — and `emit` receives that batch's near-dup SURVIVORS
    * (doc_id, plus the original columns joined back).
    *
    * With `appendToIndex=true` the survivors' bands/shingles are appended
    * to the index after emission, taken from the probe's own views
    * ([[graft.dedup.Dedup.appendLshIndex]]), so later micro-batches near-dedup
    * against everything accepted so far — the steady-state corpus-ingest
    * loop (probe → accept → index-append) with NO streaming engine state
    * at all: the index on durable storage IS the state, exactly as it
    * would be on a 1000-executor cluster where micro-batches come and go
    * but the parquet index persists. Rejected docs never enter the index
    * (their near-dup partner is already there).
    *
    * The per-batch views the probe materializes are reclaimed after each
    * batch ([[graft.util.Views.unpersistAll]]) — a forever-running ingest
    * must not accumulate per-batch cache entries.
    *
    * `compactEvery` (round 10, VERDICT r9 task #8): with appends on,
    * every micro-batch adds one small parquet file set per table — the
    * classic streaming small-file problem. Every N applied batches the
    * artifact tables are compacted IN PLACE
    * ([[graft.util.Maintenance.compactInPlace]]) at ~`compactTargetBytes`
    * per file. The pass runs ON the foreachBatch thread, which
    * serializes micro-batches — it can never race an in-flight append —
    * and it rewrites content byte-identically (layout, not data), so the
    * replay markers stay valid. 0 disables.
    *
    * Replay safety is [[markedBatches]] + [[indexGated]], adjudicated
    * against the `shingles` table; without it, a replayed batch would
    * trip the probe's id-disjointness guard on every restart. CAVEAT (shared
    * shape with annIngest's replay-with-rejects): docs whose text yields
    * ZERO shingles leave no index trace, so a replayed batch that mixed
    * shingled survivors with shingle-less docs (or with rejects)
    * adjudicates as partial and takes the loud path — create the marker
    * manually after confirming the batch applied. A batch of only
    * shingle-less docs counts as unindexed and re-probes: they trivially
    * survive and append zero rows, which is harmless.
    *
    * `selfHeal=false` disables the self-heal for pipelines where an
    * id-space violation must HALT ingest rather than warn: a marker-less
    * full-overlap batch then takes the loud path like any partial
    * overlap. Shared by all four ingest wrappers. */
  def nearDupIngest(docs: DataFrame, indexDir: String, threshold: Double,
                    appendToIndex: Boolean = false,
                    checkpointLocation: Option[String] = None,
                    compactEvery: Int = 0,
                    compactTargetBytes: Long = 128L << 20,
                    selfHeal: Boolean = true)
                   (emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    markedBatches(docs, indexDir, checkpointLocation) { (b, marker) =>
      val (bandE, shE) = graft.dedup.Dedup.readLshIndex(spark, indexDir)
      // Lazy: probed only once the batch is adjudicated unindexed; the
      // append then writes the survivors' rows from the probe's views.
      lazy val probe = graft.dedup.Dedup.lshProbe(
        b, bandE, shE, "doc_id", "text", threshold,
        guardDisjoint = false) // adjudicated against the same table
      indexGated(b, "nearDupIngest", "doc_id", marker,
        Seq("shingles" -> shE.select("id")),
        probe.survivorIds,
        s => graft.dedup.Dedup.appendLshIndex(
          probe.batch.of(s.select("doc_id")), indexDir),
        appendToIndex, selfHeal)(emit)
    } { batchId =>
      if (appendToIndex && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        Seq("bands", "shingles").foreach(t => graft.util.Maintenance
          .compactInPlace(spark, s"$indexDir/$t", compactTargetBytes))
    }
  }

  /** [[nearDupIngest]] over the BUCKETED, DICTIONARY-ENCODED index tier
    * (round 11) — the unification of the streaming ingest with the
    * batch stored tier (`dedup_incremental_lsh_stored`): each
    * micro-batch is judged by [[graft.dedup.Dedup.lshProbeEncoded]],
    * which reads `bands`, `dict` and `shids` (corpus-partner
    * verification on 8-byte sids), and, with `appendToIndex=true`, the
    * survivors' rows from that probe's own views fold in through
    * [[graft.dedup.Dedup.appendLshIndexBucketed]] — shingles, bands,
    * dict extension, encoded rows — so no document is shingled or
    * minhashed twice and the id-bucketed exchange-free probe plan
    * survives every append. Replay safety is [[markedBatches]] +
    * [[indexGated]], adjudicated against the FIRST- and LAST-written
    * tables: `appendLshIndexBucketed` commits `shingles` first and the
    * encoded `shids` rows last, so present-in-both proves the whole
    * four-table append applied, and any other mix is loud (`shids`
    * alone would let a replay silently skip a batch whose dict
    * extension never committed). Same shingle-less-doc caveat as
    * [[nearDupIngest]]. `base` is a table base from
    * [[graft.dedup.Dedup.writeLshIndexBucketed]] — NOT one produced by
    * the marker-gated ensure for registry queries, whose write-once
    * contract an appending stream would violate.
    *
    * No `compactEvery` here BY DESIGN: [[graft.util.Maintenance
    * .compactInPlace]]'s plain rewrite would strip the bucket-id file
    * naming and silently break the bucketed scans (it REFUSES these
    * dirs). The bucketed tier's small-file maintenance is a
    * FRAGMENTATION-TRIGGERED rebucket: after each applied append, if any
    * of the four tables reaches `rebucketFilesPerBucket` data files per
    * bucket ([[graft.util.Maintenance.filesPerBucket]]), all four are
    * rewritten through [[graft.util.Maintenance.rebucketTable]]'s
    * spec-preserving staging swap, collapsing the one-file-set-per-
    * (batch, bucket) growth back to ~bucket count while keeping every
    * exchange-free scan property and the replay markers (content is
    * row-identical and aux files are carried through the swap).
    * [[graft.util.Maintenance.DefaultRebucketFilesPerBucket]] carries
    * the RebucketBench-derived break-even (~10 files/bucket; see its
    * scaladoc for the arithmetic); sparse appends, which touch few
    * buckets, defer maintenance. Runs on the foreachBatch thread:
    * serialized with appends, never racing an in-flight micro-batch.
    * When enabled, batch entry also runs [[graft.util.Maintenance
    * .recoverTable]] over the four tables, so a crash mid-swap heals on
    * stream restart instead of failing every adjudication read until a
    * manual recovery. 0 disables both. */
  def nearDupIngestBucketed(docs: DataFrame, base: String, threshold: Double,
                            appendToIndex: Boolean = false,
                            checkpointLocation: Option[String] = None,
                            rebucketFilesPerBucket: Double = 0,
                            selfHeal: Boolean = true)
                           (emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val tables = Seq("shingles", "bands", "dict", "shids").map(p => s"${base}_$p")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    markedBatches(docs, s"$warehouse/${base}_bands", checkpointLocation) { (b, marker) =>
      // Maintenance-enabled streams heal an interrupted rebucket BEFORE
      // the first table read: a crash mid-swap leaves a live dir renamed
      // to its bak, and the adjudication would otherwise fail loudly on
      // every restart until a human ran the recovery by hand.
      if (rebucketFilesPerBucket > 0)
        tables.foreach(graft.util.Maintenance.recoverTable(spark, _))
      // All catalog reads go through the BATCH's session: foreachBatch
      // runs in a session CLONE whose writes refresh only its own
      // relation cache, so the stream must read what it wrote through
      // that same session. Refreshed BEFORE any read: a prior batch's
      // appends (or a rebucket swap) are not reliably visible through
      // the clone's cached relations (seen empirically: a stale dict at
      // batch 2 re-assigned sids to batch-1's new shingles and fanned
      // out the encode join).
      val bs = b.sparkSession
      tables.foreach(bs.catalog.refreshTable)
      // Lazy, as in nearDupIngest: probed after adjudication, and the
      // append writes the survivors' rows from the probe's views.
      lazy val probe = graft.dedup.Dedup.lshProbeEncoded(
        b, base, "doc_id", "text", threshold,
        guardDisjoint = false) // adjudicated against the same table
      indexGated(b, "nearDupIngestBucketed", "doc_id", marker,
        Seq("shingles", "shids").map(p => p -> bs.table(s"${base}_$p").select("id")),
        probe.survivorIds,
        { survivors =>
          graft.dedup.Dedup.appendLshIndexBucketed(
            probe.batch.of(survivors.select("doc_id")), base)
          // Invalidate the OUTER session's cached relations so readers
          // outside the stream see the appended files (any OTHER session
          // still owns its own REFRESH TABLE).
          tables.foreach(spark.catalog.refreshTable)
        },
        appendToIndex, selfHeal)(emit)
    } { _ =>
      // rebucketTable refreshes the outer session; the stream's clone is
      // refreshed at the next batch's entry, before it reads.
      if (appendToIndex && rebucketFilesPerBucket > 0 &&
          tables.exists(graft.util.Maintenance.filesPerBucket(spark, _) >= rebucketFilesPerBucket))
        tables.foreach(graft.util.Maintenance.rebucketTable(spark, _))
    }
  }

  /** Streaming ANN-INDEX ingest against a STORED IVF-PQ index — the
    * embedding-side twin of [[nearDupIngest]] (batch query
    * `sim_ann_ivfpq_stored`): each micro-batch of (id, vec) rows is
    * gated by [[graft.sim.Similarity.ivfPqMaxSim]] — the max ADC cosine
    * a batch vector scores against its probed buckets' CODES, computed
    * from the published artifacts alone (rows/ + coarse/ + book/; the
    * raw corpus is never rescanned) — and `emit` receives the batch's
    * SURVIVORS (max approximate sim < `threshold`, i.e. no near-dup
    * already indexed).
    *
    * With `appendToIndex=true` the survivors are PQ-encoded with the
    * STORED coarse quantizer and codebook (frozen at train time — the
    * standard IVF-PQ ingest contract; codes stay comparable across
    * generations) and appended to rows/, so later micro-batches gate
    * against everything accepted so far. NO streaming engine state: the
    * index on durable storage IS the state (the [[nearDupIngest]]
    * discipline). Replay safety is [[markedBatches]] + [[indexGated]],
    * adjudicated against `rows`. A replay whose original batch had
    * rejects leaves only its survivors indexed, so it adjudicates as
    * partial and takes the loud path. Batch ids must otherwise be
    * disjoint from indexed vec_ids — a collision would corrupt the
    * identity space.
    *
    * Survivors within one micro-batch are gated against the STORED index
    * only, never against each other — two mutual near-dups arriving in
    * the same batch both survive (and both append): intra-batch
    * duplicates are admitted BY DESIGN, exactly as in [[nearDupIngest]];
    * arrival batching is not an ordering the gate re-serializes. */
  def annIngest(vectors: DataFrame, indexDir: String, threshold: Double,
                appendToIndex: Boolean = false,
                checkpointLocation: Option[String] = None,
                compactEvery: Int = 0,
                compactTargetBytes: Long = 128L << 20,
                selfHeal: Boolean = true)
               (emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    markedBatches(vectors, indexDir, checkpointLocation) { (b, marker) =>
      val rows = graft.Sources.parquet(spark, s"$indexDir/rows")
      val coarse = graft.Sources.parquet(spark, s"$indexDir/coarse")
      val book = graft.Sources.parquet(spark, s"$indexDir/book")
      indexGated(b, "annIngest", "id", marker,
        Seq("rows" -> rows.select("vec_id")),
        b.select("id").join(graft.sim.Similarity
          .ivfPqMaxSim(b, rows, coarse, book)
          .filter(col("max_asim") >= threshold)
          .select(col("query_id").as("id")), Seq("id"), "left_anti"),
        graft.sim.Similarity.ivfPqIndexWith(_, coarse, book)
          .write.mode("append").parquet(s"$indexDir/rows"),
        appendToIndex, selfHeal)(emit)
    } { batchId =>
      // Small-file maintenance (see nearDupIngest's compactEvery doc).
      if (appendToIndex && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        graft.util.Maintenance.compactInPlace(
          spark, s"$indexDir/rows", compactTargetBytes)
    }
  }

  /** Streaming RHP-index ingest — the BANDING tier's maintenance twin
    * (alongside [[annIngest]] for IVF-PQ and [[nearDupIngest]] for the
    * LSH text index): each micro-batch is gated by
    * [[graft.sim.Similarity.rhpNewVecsAgainstIndex]] — band-candidate
    * equi-join + full-sketch hamming ≤ `maxHamming`, computed from the
    * published rows/ + sketches/ artifacts alone — and `emit` receives
    * the survivors. With `appendToIndex=true` survivors' band rows AND
    * sketches append to the artifact (both are deterministic row-local
    * projections — no quantizer to freeze). Replay safety is
    * [[markedBatches]] + [[indexGated]], adjudicated against BOTH stored
    * tables: rows/ is written first, so a crash between the two appends
    * leaves band rows without sketches — checking sketches alone would
    * let the replay silently re-append those band rows, because the
    * hamming gate's inner join against sketches drops sketch-less
    * candidates. Intra-batch duplicates
    * are admitted by design (the [[annIngest]]/[[nearDupIngest]]
    * contract — survivors gate against the stored index only). Zero
    * engine state: the index on durable storage IS the state. */
  def rhpIngest(vectors: DataFrame, indexDir: String, maxHamming: Int,
                appendToIndex: Boolean = false,
                checkpointLocation: Option[String] = None,
                compactEvery: Int = 0,
                compactTargetBytes: Long = 128L << 20,
                selfHeal: Boolean = true)
               (emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    markedBatches(vectors, indexDir, checkpointLocation) { (b, marker) =>
      val bandIdx = graft.Sources.parquet(spark, s"$indexDir/rows")
      val sks = graft.Sources.parquet(spark, s"$indexDir/sketches")
      indexGated(b, "rhpIngest", "id", marker,
        Seq("rows" -> bandIdx.select("vec_id"), "sketches" -> sks.select("vec_id")),
        graft.sim.Similarity.rhpNewVecsAgainstIndex(b, bandIdx, sks, maxHamming),
        { survivors =>
          graft.sim.Similarity.rhpBandIndex(survivors)
            .write.mode("append").parquet(s"$indexDir/rows")
          graft.sim.Similarity.rhpSketches(survivors)
            .write.mode("append").parquet(s"$indexDir/sketches")
        },
        appendToIndex, selfHeal)(emit)
    } { batchId =>
      // Small-file maintenance (see nearDupIngest's compactEvery doc).
      if (appendToIndex && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        Seq("rows", "sketches").foreach(t => graft.util.Maintenance
          .compactInPlace(spark, s"$indexDir/$t", compactTargetBytes))
    }
  }

  /** Streaming CDC apply into the versioned
    * [[graft.sources.SnapshotStore]] — the live half of the lakehouse
    * surface (batch query `docs_snapshot_asof`): each micro-batch of
    * change rows (`op` = 'u'/'i' upsert, 'd' delete; one change per id
    * per batch, the standard compacted-CDC-batch contract) becomes ONE
    * store commit, visible atomically behind the store's manifest-last
    * marker — a reader sees whole micro-batches or nothing. Versions
    * advance per micro-batch, so the store's time travel gives replayable
    * PER-BATCH history of the stream.
    *
    * Replay safety is [[markedBatches]]: the batch marker lands after
    * the commit. In the crash window between the two, a replay
    * re-commits the SAME change rows as a new version, which latest-wins
    * folding makes state-idempotent — the as-of-latest table is
    * unchanged, only the version history carries the duplicate. No
    * streaming engine state at all: the store on durable storage IS the
    * state (the nearDupIngest discipline). */
  def cdcApply(changes: DataFrame, storeDir: String, idCol: String,
               checkpointLocation: Option[String] = None)
              : org.apache.spark.sql.streaming.StreamingQuery =
    markedBatches(changes, storeDir, checkpointLocation) { (b, _) =>
      val ups = b.filter(col("op") =!= "d").drop("op")
      val dels = b.filter(col("op") === "d").select(col(idCol))
      graft.sources.SnapshotStore.commit(ups,
        if (dels.isEmpty) None else Some(dels), storeDir, idCol)
    }(_ => ())

  /** Merge one micro-batch's day-grain partials into the STREAM-
    * MAINTAINED events MV (round 12, VERDICT r11 #3): `fresh` is
    * [[graft.plans.Mv.dayAgg]] output — (day, event_type, cnt,
    * sum_cents) — and the store is a versioned
    * [[graft.sources.SnapshotStore]] keyed by the grain. The fold is the
    * incremental-view-maintenance merge in its cheapest form: LEFT-join
    * the batch's touched keys against the current MV state and sum the
    * associative counters, so each commit upserts ONLY the keys the
    * batch carried (a steady-state stream rewrites kilobytes per batch;
    * untouched history rides on latest-wins). Counter sums are NOT
    * idempotent — [[mvRollupIngest]] marker-gates replays exactly like
    * [[mgRollup]]; in the commit-to-marker crash window a replay
    * double-counts that one batch, which is why the wrapper owns the
    * marker, not this merge. */
  def mergeEventsDayMv(fresh: DataFrame, storeDir: String): Unit = {
    val spark = fresh.sparkSession
    val keyed = fresh.withColumn("mv_key",
      concat_ws("|", col("day"), col("event_type")))
    val versions = graft.sources.SnapshotStore.committedVersions(spark, storeDir)
    val merged = if (versions.isEmpty) keyed else {
      val cur = graft.sources.SnapshotStore
        .readAsOf(spark, storeDir, "mv_key", versions.last)
        .select(col("mv_key"), col("cnt").as("cnt_old"),
          col("sum_cents").as("sum_old"))
      keyed.join(cur, Seq("mv_key"), "left")
        .select(col("mv_key"), col("day"), col("event_type"),
          (col("cnt") + coalesce(col("cnt_old"), lit(0L))).as("cnt"),
          (col("sum_cents") + coalesce(col("sum_old"), lit(0L))).as("sum_cents"))
    }
    graft.sources.SnapshotStore.commit(
      graft.util.Views.materialize(merged), None, storeDir, "mv_key")
    graft.util.Views.unpersistAll()
  }

  /** Streaming MV maintenance — the live twin of the batch query
    * `mv_refresh_incremental_stored` and the composition the round-10
    * verdict asked for: each micro-batch of events (batch schema —
    * nano-long `ts`, `event_type`, `value`) aggregates to its day-grain
    * partials and [[mergeEventsDayMv]]s them into the versioned store,
    * so the day rollup is CURRENT after every batch with no fact rescan
    * ever, and the store's time travel replays the MV at every
    * micro-batch boundary (the spec asserts streamed-refresh ≡ batch
    * recompute at EVERY version). Zero streaming-engine state — the
    * durable store IS the state (the nearDupIngest discipline). Replays
    * go through [[markedBatches]] because counter sums double-count
    * (same crash-window trade as [[mgRollup]]). Read path:
    * [[graft.plans.Mv.liveEventsDay]].
    *
    * LOG MAINTENANCE (round 13, VERDICT r12 #5 + ADVICE r12): without
    * it, every [[mergeEventsDayMv]] folds ONE upsert file set per prior
    * batch — O(batches) read cost and small files on a long-running
    * stream. `compactEvery = N` checkpoints the fold at the latest
    * version every N applied batches ([[graft.sources.SnapshotStore
    * .compact]] — time travel across the whole log keeps working);
    * `retainVersions = K` additionally bounds the LOG ITSELF after each
    * applied batch ([[graft.sources.SnapshotStore.retain]]): the last K
    * versions stay time-travelable over a compacted base, older as-of
    * reads fail loudly on the manifest guard, older bytes are gone.
    * Both run on the foreachBatch thread, serialized with merges; 0
    * disables. */
  def mvRollupIngest(events: DataFrame, storeDir: String,
                     checkpointLocation: Option[String] = None,
                     compactEvery: Int = 0,
                     retainVersions: Int = 0)
                    : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = events.sparkSession
    markedBatches(events, storeDir, checkpointLocation) { (b, _) =>
      mergeEventsDayMv(graft.plans.Mv.dayAgg(b), storeDir)
    } { batchId =>
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
        val vs = graft.sources.SnapshotStore
          .committedVersions(spark, storeDir)
        if (vs.nonEmpty && !graft.sources.SnapshotStore
            .compactedVersions(spark, storeDir).contains(vs.last))
          graft.sources.SnapshotStore
            .compact(spark, storeDir, "mv_key", vs.last)
      }
      if (retainVersions > 0)
        graft.sources.SnapshotStore
          .retain(spark, storeDir, "mv_key", retainVersions)
    }
  }

  /** Merge a batch's per-day KMV sketches into the stored sketch table
    * (one [[graft.sources.SnapshotStore]] commit — versioned, atomic
    * behind the manifest-last marker). The merge is the pure SQL union
    * algebra `slice(sort(distinct(concat)))`, which is exactly the
    * sketch of the unioned inputs (KmvSpec pins it) — so this fold is
    * idempotent, commutative, and associative: a sketch store is a
    * state-based CRDT, and replayed micro-batches need NO batch-id
    * markers — re-merging the same data is a no-op on the state. */
  def mergeKmvStore(fresh: DataFrame, storeDir: String, k: Int): Unit = {
    val spark = fresh.sparkSession
    val versions = graft.sources.SnapshotStore.committedVersions(spark, storeDir)
    val merged = if (versions.isEmpty) fresh else {
      val cur = graft.sources.SnapshotStore
        .readAsOf(spark, storeDir, "day", versions.last)
        .select(col("day"), col("kmv").as("kmv_old"))
      val empty = expr("CAST(array() AS ARRAY<BIGINT>)")
      fresh.withColumnRenamed("kmv", "kmv_new")
        .join(cur, Seq("day"), "full_outer")
        .select(col("day"),
          slice(array_sort(array_distinct(concat(
            coalesce(col("kmv_new"), empty), coalesce(col("kmv_old"), empty)))),
            1, k).as("kmv"))
    }
    graft.sources.SnapshotStore.commit(
      graft.util.Views.materialize(merged), None, storeDir, "day")
    graft.util.Views.unpersistAll()
  }

  /** Streaming DISTINCT-USER rollup into a durable per-day KMV sketch
    * store — the live twin of the batch query `events_kmv_distinct`:
    * each micro-batch aggregates its events to per-day `kmv_agg`
    * sketches (k longs per day, regardless of user cardinality — the
    * shuffle carries sketches, never user ids) and [[mergeKmvStore]]s
    * them into the versioned store. Any date-range distinct-user
    * question is then answered from the store alone by the same array
    * algebra, without ever rescanning events. Zero streaming-engine
    * state — the durable store IS the state (the nearDupIngest
    * discipline), and because sketch union is a CRDT merge, crash-replay
    * duplicates change version history only, never the answer. Requires
    * the session to register [[graft.functions.GraftExtensions]]
    * (`kmv_agg` is used via SQL). `retainVersions = K` bounds the
    * commit log like [[mvRollupIngest]]'s (the [[graft.sources
    * .SnapshotStore.retain]] contract — last K versions + compacted
    * base, loud past the horizon); 0 disables. */
  def kmvRollup(events: DataFrame, storeDir: String, k: Int = 256,
                retainVersions: Int = 0)
               : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        nonEmptyBatch(batch) { b =>
          val fresh = b
            .select(expr("ts div 86400000000000").as("day"),
              col("user_id").cast("string").as("u"))
            .groupBy("day").agg(expr(s"kmv_agg(u, $k)").as("kmv"))
          mergeKmvStore(fresh, storeDir, k)
          if (retainVersions > 0)
            graft.sources.SnapshotStore
              .retain(fresh.sparkSession, storeDir, "day", retainVersions)
        }
      }
      .start()

  /** Merge a batch's per-day NATIVE Datasketches HLL sketches into the
    * stored sketch table (one [[graft.sources.SnapshotStore]] commit).
    * `hll_union` is a register-wise max — idempotent, commutative,
    * associative — so like the KMV fold (and unlike Misra–Gries counter
    * sums) the store is a state-based CRDT and replayed micro-batches
    * need no batch-id markers. The sketch column is Spark's own binary
    * HLL (the `events_hll_sketch_rollup` tier made durable). */
  def mergeHllStore(fresh: DataFrame, storeDir: String): Unit = {
    val spark = fresh.sparkSession
    val versions = graft.sources.SnapshotStore.committedVersions(spark, storeDir)
    val merged = if (versions.isEmpty) fresh else {
      val cur = graft.sources.SnapshotStore
        .readAsOf(spark, storeDir, "day", versions.last)
        .select(col("day"), col("sk").as("sk_old"))
      fresh.withColumnRenamed("sk", "sk_new")
        .join(cur, Seq("day"), "full_outer")
        .select(col("day"), expr(
          """CASE WHEN sk_new IS NULL THEN sk_old
            |     WHEN sk_old IS NULL THEN sk_new
            |     ELSE hll_union(sk_new, sk_old) END""".stripMargin).as("sk"))
    }
    graft.sources.SnapshotStore.commit(
      graft.util.Views.materialize(merged), None, storeDir, "day")
    graft.util.Views.unpersistAll()
  }

  /** Streaming distinct-user rollup into a durable per-day NATIVE HLL
    * sketch store — the third sketch-store family beside [[kmvRollup]]
    * (CRDT, custom KMV) and [[mgRollup]] (marker-guarded, Misra–Gries):
    * each micro-batch aggregates to per-day `hll_sketch_agg` binaries
    * (4 KB per day regardless of user cardinality) and
    * [[mergeHllStore]]s them; any date-range distinct question is then
    * `hll_sketch_estimate(hll_union_agg(...))` over the store alone.
    * Zero streaming-engine state; replay-safe without markers because
    * register-max union is idempotent. `retainVersions = K` bounds the
    * commit log (the [[graft.sources.SnapshotStore.retain]] contract);
    * 0 disables. */
  def hllRollup(events: DataFrame, storeDir: String, lgK: Int = 12,
                retainVersions: Int = 0)
               : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        nonEmptyBatch(batch) { b =>
          val fresh = b
            .select(expr("ts div 86400000000000").as("day"), col("user_id"))
            .groupBy("day").agg(expr(s"hll_sketch_agg(user_id, $lgK)").as("sk"))
          mergeHllStore(fresh, storeDir)
          if (retainVersions > 0)
            graft.sources.SnapshotStore
              .retain(fresh.sparkSession, storeDir, "day", retainVersions)
        }
      }
      .start()

  /** Merge a batch's per-day Misra–Gries sketches into the stored sketch
    * table (one [[graft.sources.SnapshotStore]] commit). The merge is
    * the standard MG combine in relational form — key-wise counter sum,
    * then subtract the (capacity+1)-th largest count and drop the
    * non-positives (exactly [[graft.functions.MisraGries.merge]]'s rule,
    * so the additive error bound of "Mergeable Summaries" carries over;
    * MgRollupSpec proves SQL-merge ≡ native-merge on a shared fixture).
    * Everything is keyed by day: the entry explode, the counter sum, the
    * per-day rank window, and the map rebuild — each day's state is
    * ≤ capacity entries, so the shuffle carries sketch entries, never
    * raw items. UNLIKE the KMV fold this merge is NOT idempotent
    * (summing counters twice double-counts), which is why
    * [[mgRollup]] must guard replays with batch-id markers where
    * [[kmvRollup]] needs none — the two rollups demonstrate the two
    * at-least-once disciplines side by side. */
  def mergeMgStore(fresh: DataFrame, storeDir: String, capacity: Int): Unit = {
    val spark = fresh.sparkSession
    import org.apache.spark.sql.expressions.Window
    val versions = graft.sources.SnapshotStore.committedVersions(spark, storeDir)
    val merged = if (versions.isEmpty) fresh else {
      val cur = graft.sources.SnapshotStore
        .readAsOf(spark, storeDir, "day", versions.last)
      def ents(df: DataFrame) = df.select(col("day"),
        explode(map_entries(col("mg"))).as("e"))
      val summed = ents(fresh).unionAll(ents(cur))
        .groupBy(col("day"), col("e.key").as("k"))
        .agg(sum(col("e.value")).as("c"))
      val w = Window.partitionBy("day").orderBy(col("c").desc, col("k"))
      val ranked = summed.withColumn("rn", row_number().over(w))
      val cuts = ranked.filter(col("rn") === capacity + 1)
        .select(col("day"), col("c").as("cut"))
      ranked.join(broadcast(cuts), Seq("day"), "left")
        .withColumn("c2", col("c") - coalesce(col("cut"), lit(0L)))
        .filter(col("c2") > 0)
        .groupBy("day")
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("k"), col("c2"))))).as("mg"))
    }
    graft.sources.SnapshotStore.commit(
      graft.util.Views.materialize(merged), None, storeDir, "day")
    graft.util.Views.unpersistAll()
  }

  /** Streaming HEAVY-HITTERS rollup into a durable per-day Misra–Gries
    * sketch store — the live twin of the batch query `text_heavy_hitters`
    * and the non-CRDT counterpart of [[kmvRollup]]: each micro-batch
    * aggregates to per-day `mg_sketch` candidate maps (≤ capacity
    * entries per day regardless of key cardinality — the shuffle carries
    * sketches, never raw ids) and [[mergeMgStore]]s them into the
    * versioned store, so "who dominated day X" is answered from the
    * store alone with the N/(capacity+1) superset guarantee intact
    * (errors add across merges per "Mergeable Summaries").
    *
    * Counter sums are NOT idempotent, so at-least-once delivery goes
    * through [[markedBatches]]: the batch marker lands AFTER the store
    * commit, and a replay that finds it is skipped. In the crash window
    * between commit and marker a replay double-merges — the bound
    * degrades by that batch's N but the sketch stays a valid candidate
    * generator, and phase-2 exact recounts (the text_heavy_hitters discipline) are unaffected.
    * Zero streaming-engine state — the durable store IS the state. */
  def mgRollup(events: DataFrame, storeDir: String, capacity: Int = 16,
               checkpointLocation: Option[String] = None)
              : org.apache.spark.sql.streaming.StreamingQuery =
    markedBatches(events, storeDir, checkpointLocation) { (b, _) =>
      val fresh = b
        .select(expr("ts div 86400000000000").as("day"),
          col("user_id").cast("string").as("u"))
        .groupBy("day").agg(expr(s"mg_sketch(u, $capacity)").as("mg"))
      mergeMgStore(fresh, storeDir, capacity)
    }(_ => ())

  /** Watermarked STREAM-STREAM interval join — conversion attribution on
    * two live streams: each click matches the purchases of the same user
    * within the next 10 minutes. Spark buffers both sides in state; the
    * watermark plus the time-bound condition let it EVICT state past the
    * horizon (without both, a stream-stream join's state grows forever —
    * the bound is what makes this viable on an unbounded stream). Inner
    * join matches emit as they arrive; the same transform runs on batch
    * frames, and the spec asserts stream ≡ batch on a shared fixture. */
  def attributedPurchases(clicks: DataFrame, purchases: DataFrame,
                          watermark: String = "2 hours"): DataFrame =
    clicks.withWatermark("ts", watermark).alias("c")
      .join(purchases.withWatermark("ts", watermark).alias("p"),
        expr("c.user_id = p.user_id AND " +
          "p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTES"))
      .select(col("c.event_id").as("click_id"),
        col("p.event_id").as("purchase_id"),
        col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"))

  /** LEFT-OUTER stream-stream join — the attribution report that also
    * shows the clicks that DIDN'T convert. The subtlety outer adds over
    * [[attributedPurchases]] is WHEN the null row can emit: a matching
    * purchase may still arrive any time inside the click's 10-minute
    * window, so Spark must hold the unmatched click in state until the
    * PURCHASE-SIDE WATERMARK passes the window's far edge (click.ts +
    * 10 min); only then is "no match" final and the null-extended row
    * emitted. Outer results are therefore inherently watermark-delayed —
    * a downstream consumer sees conversions promptly but abandonment
    * only one watermark later. State eviction follows the same horizon,
    * so this stays bounded on an unbounded stream exactly like the
    * inner form. Watermark kept short here (10 min) because it is ALSO
    * the null-emission latency, not just a lateness tolerance. */
  def attributedPurchasesOuter(clicks: DataFrame, purchases: DataFrame,
                               watermark: String = "10 minutes"): DataFrame =
    clicks.withWatermark("ts", watermark).alias("c")
      .join(purchases.withWatermark("ts", watermark).alias("p"),
        expr("c.user_id = p.user_id AND " +
          "p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTES"),
        "left_outer")
      .select(col("c.event_id").as("click_id"),
        col("p.event_id").as("purchase_id"),
        col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"))

  /** Stream-static ENRICHMENT join: each micro-batch joins the static
    * dimension snapshot — completely STATELESS on the streaming side
    * (Spark re-plans the static scan per batch; no watermark, no state
    * store). The standard live-ingest enrichment shape: at cluster scale
    * the catalog broadcasts, so enrichment costs a map-side hash probe
    * per batch and the stream never shuffles. Left join — an event whose
    * key is missing from the catalog still flows, with nulls. */
  def enrichAgainstCatalog(stream: DataFrame, catalog: DataFrame,
                           key: String): DataFrame =
    stream.join(broadcast(catalog), Seq(key), "left")

  /** EXACTLY-ONCE-EFFECT file sink: write a micro-batch of CLOSED
    * windowed aggregates to a parquet table partitioned by window,
    * overwriting ONLY the partitions present in the batch (dynamic
    * partition overwrite). This is the standard streaming-to-lake
    * pattern for end-to-end exactly-once over a file sink: Structured
    * Streaming replays the last uncommitted micro-batch after a failure,
    * and a `mode("append")` sink would duplicate those rows — dynamic
    * overwrite rewrites the same partitions with identical content
    * instead, so replay is a no-op.
    *
    * The replay-safety contract is that a partition's FULL contents come
    * from a single micro-batch. Keying the partition by the window start
    * (`w_hour`) satisfies it: in Append output mode a window is emitted
    * exactly once — when the watermark closes it — and all of one
    * window's rows close together. (Partitioning by coarser-than-window
    * keys, e.g. day, would break the contract: a day's windows close
    * across many batches and each write would clobber the previous.) */
  def idempotentWindowSink(batch: DataFrame, path: String): Unit =
    batch
      .withColumn("w_hour", (unix_timestamp(col("w_start")) / 3600L).cast("long"))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("w_hour")
      .parquet(path)

  /** Watermarked hourly aggregate → [[idempotentWindowSink]], wired
    * through `foreachBatch` in Append mode (only closed windows reach
    * the sink). The streaming-engine state is the open windows inside
    * the watermark horizon; the table on durable storage is append-only
    * at the partition grain and safe against micro-batch replay. */
  def windowedAggToLake(events: DataFrame, path: String,
                        watermark: String = "2 hours")
                       : org.apache.spark.sql.streaming.StreamingQuery =
    withWatermarked(events, watermark)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        nonEmptyBatch(batch)(idempotentWindowSink(_, path))
      }
      .start()

  /** Streaming sessionization with explicit state: the streaming
    * counterpart of [[graft.events.Sessionize]]. A session closes when a
    * later event for the same user arrives more than `gapMs` after the
    * session's last event; closed sessions are emitted, open state is
    * kept per user key. Event-driven only — [[sessionizeWithTimeout]] is
    * the production variant that also flushes sessions on quiet streams
    * via an event-time timeout. */
  /** The greedy session-merge fold shared by both streaming variants:
    * sort the micro-batch (events within a batch arrive unordered), merge
    * into the open state, close sessions at gaps. `lastMs` advances with
    * `max` — an out-of-order-but-on-time event from a LATER batch (its ts
    * between the watermark and the open session's end) must extend the
    * counted set without REGRESSING the session end or the timeout
    * deadline. Returns (closed sessions in order, final open state). */
  private def mergeBatch(userId: Long, rows: Iterator[StreamEvent],
                         initial: Option[SessionState],
                         gapMs: Long): (List[SessionUpdate], Option[SessionState]) = {
    val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var closed = List.empty[SessionUpdate]
    var cur = initial
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.lastMs <= gapMs =>
          cur = Some(SessionState(s.startMs, math.max(s.lastMs, t), s.n + 1, s.sum + e.value))
        case Some(s) =>
          closed ::= SessionUpdate(userId, s.startMs, s.lastMs, s.n, s.sum)
          cur = Some(SessionState(t, t, 1, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    (closed.reverse, cur)
  }

  def sessionize(events: Dataset[StreamEvent],
                 gapMs: Long = 30L * 60 * 1000): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val (closed, cur) = mergeBatch(userId, rows, state.getOption, gapMs)
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** [[sessionize]] plus an EVENT-TIME timeout: sessions also flush when
    * the stream's watermark passes `lastEvent + gapMs`, so a user who
    * simply goes quiet still gets their session emitted (the event-driven
    * variant above only closes a session when a LATER event for the same
    * user arrives). Event-time — not processing-time — so the flush is
    * driven by data progress and replays deterministically; a
    * processing-time timeout would also keep the micro-batch loop
    * spinning on idle streams.
    *
    * Requires a watermark on `ts` (set here): the watermark is what
    * `GroupState.setTimeoutTimestamp` is compared against. State is
    * bounded: every group either updates (new events) or times out and is
    * removed once the watermark passes its deadline. */
  def sessionizeWithTimeout(events: Dataset[StreamEvent],
                            gapMs: Long = 30L * 60 * 1000,
                            watermark: String = "10 minutes"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastMs + gapMs with no new events: the
            // session is definitively closed (no on-time event can extend
            // it any more).
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, s.startMs, s.lastMs, s.n, s.sum))
          } else {
            val (closed, cur) = mergeBatch(userId, rows, state.getOption, gapMs)
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Per-user LIFETIME running totals via `transformWithState` — the
    * Spark 4 arbitrary-state API (typed per-key state primitives on the
    * RocksDB store, explicit TTL, timers) that supersedes
    * `mapGroupsWithState` for new pipelines; the engine carries both so
    * a user of either surface can switch. State here is ONE fixed-width
    * `ValueState[UserTotals]` per user — the running aggregate never
    * buffers events, so state size is O(active users) whatever the
    * stream volume, and the value sum is 1e-8-quantized integer
    * arithmetic (order-free: stream ≡ batch exactly, spec-asserted).
    * TTL is deliberately NONE for lifetime totals; a retention-bounded
    * deployment sets `TTLConfig(Duration)` and the store evicts idle
    * users without code changes — that knob existing AT ALL is the
    * operational argument for this API at 100 TB. Requires the RocksDB
    * state store provider (`spark.sql.streaming.stateStore
    * .providerClass`); the caller owns that conf. */
  class RunningTotalsProcessor
    extends StatefulProcessor[Long, StreamEvent, UserTotals] {
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[StreamEvent],
        timerValues: TimerValues): Iterator[UserTotals] = {
      val cur =
        if (totals.exists()) totals.get()
        else UserTotals(key, 0L, 0L)
      var n = cur.n_events
      var s = cur.sum_value_q8
      rows.foreach { e =>
        n += 1
        s += math.floor(e.value * 1e8 + 0.5).toLong
      }
      val next = UserTotals(key, n, s)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** One updated [[UserTotals]] row per (user, micro-batch) — the keyed
    * running-aggregate shape (Update mode; downstream sinks upsert on
    * user_id). */
  def runningUserTotals(events: Dataset[StreamEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[UserTotals])
  }

  // --------------------------------------------------------------- oracle

  /** DuckDB mirror of [[hourlyTypeCounts]] (the oracle's events view has
    * a true µs TIMESTAMP `ts`): bucket to the hour, emit bounds. */
  def hourlyTypeCountsSql(eventsRel: String): String =
    s"""SELECT
       |  time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
       |  time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS w_end,
       |  event_type,
       |  count(*) AS n_events,
       |  ${Stable.exactSumSql("value")} AS sum_value
       |FROM $eventsRel GROUP BY 1, 2, 3""".stripMargin
}
