package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters so the
  * engine can expose native Catalyst expressions (e.g.
  * `graft.functions.WordShingles`) as ordinary `Column`s. Same technique
  * used by public Spark-ecosystem libraries that ship custom expressions
  * (a one-file shim in the `org.apache.spark.sql` package). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `Dataset.ofRows` for engine-defined logical nodes (e.g.
    * [[graft.plans.TopKPerKeyPlan]]) — the converter is `private[sql]`,
    * same-package shim like the two above. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Row count of `df` from one job over its plan as the cache manager
    * rewrites it NOW: a fresh `QueryExecution`, so a frame persisted
    * since its own plan was built reads (and, the first time, fills) its
    * `InMemoryRelation`. `Dataset.count()` would put an aggregate and a
    * single-partition exchange on top: a map job, then a result job
    * after adaptive execution re-plans the rest. */
  def cachedRowCount(df: DataFrame): Long = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sessionState.executePlan(ds.logicalPlan).toRdd.count()
  }

  /** Lineage-truncated view of `df`: a DataFrame whose plan is a flat
    * scan of `df`'s physical RDD. For iterative algorithms this stops
    * Catalyst re-analyzing a per-round-deepening plan, while — unlike
    * `localCheckpoint` — the storage stays the caller's `persist`ed
    * cache, freeable deterministically with `unpersist` (checkpoint
    * blocks are only released when the RDD is GC'd). */
  def lineageTruncated(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    // LogicalRDD.fromDataset (what Dataset.checkpoint itself builds)
    // rather than internalCreateDataFrame: it CARRIES THE ORIGIN PLAN'S
    // STATISTICS across the truncation. A bare LogicalRDD reports the
    // session default size (effectively "huge"), which poisons every
    // downstream size estimate — measured round 13: truncating the
    // materialized shingle view flipped the small candidate/cap frames'
    // broadcast joins to sort-merge and grew dedup_clusters' shuffle
    // 4.1 → 18.3 MB. With origin stats the planner keeps choosing from
    // the cache's REAL byte size at any scale.
    classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds,
        isStreaming = false))
  }
}
