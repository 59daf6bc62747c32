package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared-view materialization for multi-consumer plans (self-joins,
  * candidate sets).
  *
  * A bare `.persist()` is lazy: the cache fills as partitions are first
  * computed. When TWO consumers of the cached view land in independent
  * query stages (every self-join does, and AQE submits independent stages
  * concurrently), both race to compute the same uncached partitions —
  * the work runs twice and one result is dropped ("Block already exists"
  * / "Asked to cache already cached data" warnings). Measured at
  * local[32] this doubled the dedup pipeline's cost; more cores = more
  * concurrent duplication.
  *
  * [[materialize]] persists and then forces the computation with one
  * job over the cached scan (`GraftColumnBridge.cachedRowCount`: no
  * aggregate, no exchange on top), so every later consumer — both sides
  * of a self-join included — reads the cache. This is the standard
  * materialize-the-exploded-view step of a shingle join at cluster
  * scale: one pass writes the view, N stages read it.
  *
  * LIFECYCLE: some materialized views are deliberately still live when
  * the operator returns (the result is consumed lazily afterwards, so
  * the operator cannot unpersist them itself — e.g. the LSH band index,
  * the sketched-corpus view, the cluster loop's converged round). Every
  * materialization therefore also REGISTERS itself here, and
  * [[unpersistAll]] is the uniform end-of-query reclaim the harness
  * calls once the action has completed (Bench per rep, Verify per
  * query, ViewLifecycleSpec asserts the result). `spark.catalog
  * .clearCache()` would also drop the cached data, but only this
  * registry ties the reclaim to the views the engine itself created.
  */
object Views {
  private val live =
    java.util.Collections.synchronizedList(new java.util.ArrayList[DataFrame]())

  def materialize(df: DataFrame): DataFrame = materializeCounted(df)._1

  /** [[materialize]], also returning the row count the forcing action
    * already paid for — callers sizing later stages off the view's
    * cardinality (e.g. a loop's shuffle width) get it for free. */
  def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(p)
    (p, org.apache.spark.sql.GraftColumnBridge.cachedRowCount(p))
  }

  /** [[materialize]], returning a LINEAGE-TRUNCATED view of the cache
    * (a flat scan of the persisted RDD — the [[graft.graph.PageRank]]
    * round discipline applied to one-shot views): downstream plans no
    * longer embed the view's full derivation tree, so Catalyst analysis
    * and task-closure serialization stop scaling with the derivation's
    * size. Measured round 13: the LSH band view's 12 min-of-md5 agg
    * columns made every downstream self-join plan ~0.5 MB of expression
    * text (emb_mmr_rerank's final plan reached 3.9 MB through nested
    * cached-view unions) — per-rep re-analysis of those trees was a
    * visible slice of the heavy dedup queries. Eviction-safe: the
    * truncation is LOGICAL-plan-level only; the underlying cached RDD
    * keeps its physical lineage and recomputes a lost block normally. */
  def materializeTruncated(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(p)
    org.apache.spark.sql.GraftColumnBridge.cachedRowCount(p)
    org.apache.spark.sql.GraftColumnBridge.lineageTruncated(p)
  }

  /** Enroll an externally-persisted frame (e.g. the cluster loop's
    * per-round caches) in the end-of-query reclaim without forcing it.
    * Unpersisting an already-unpersisted frame is a no-op, so frames the
    * owner retires early may still be registered. */
  def register(df: DataFrame): DataFrame = { live.add(df); df }

  /** Unpersist every view materialized since the last call — the
    * end-of-query storage reclaim. Blocking=false: the blocks drop
    * asynchronously; correctness never depends on them (each view's
    * lineage still exists — a post-reclaim consumer would recompute,
    * not fail).
    *
    * Newest first: a view is dropped only after every view built on it,
    * so no uncache finds a still-cached dependent to re-check (Spark
    * tests each dependent's buffers and may re-plan it). The walk holds
    * the list's lock, so a [[materialize]] on another thread (a stream's
    * own) waits instead of breaking the walk. */
  def unpersistAll(): Unit = live.synchronized {
    var i = live.size - 1
    while (i >= 0) { live.get(i).unpersist(blocking = false); i -= 1 }
    live.clear()
  }
}
