package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized-view lifecycle: write-once rollup builds (stored
  * artifacts, see [[graft.util.Artifacts.ensure]]) and the incremental
  * day-delta refresh that keeps a day-grain MV current without
  * rescanning history.
  *
  * Scale shape: the MV build scans the fact ONCE per ingest batch and
  * every steady-state aggregate query reads `|MV|` rows via
  * [[MvRewrite]]; the refresh path aggregates ONLY the delta time-slice
  * (a footer-pruned `eventsTsRange` scan) and merges it with the stored
  * partials — associative state (sum/count/min/max) makes merge = union +
  * re-aggregate, no history rescan. At 100 TB the fact scan happens once
  * a day; dashboards hit kilobytes.
  */
object Mv {
  import graft.util.Artifacts
  import graft.util.Artifacts.sfTag

  /** Lineitem rollup MV at (l_returnflag, l_linestatus) grain with
    * exact-decimal partial sums, count, and shipdate min/max — the state
    * set that lets [[MvRewrite]] answer any sum/count/min/max aggregate
    * over any grain subset. Build is write-once per SF; every call
    * (re)registers the definition (idempotent). */
  def ensureLineitemMv(s: SparkSession, dir: String): MvDef = {
    val out = Artifacts.inWarehouse(s, s"graft_mv_lineitem_${sfTag(dir)}")
    Artifacts.ensure(s, out, s"$dir|lineitem|rf,ls|v1") {
      graft.Sources.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(graft.util.Stable.dec2(col("l_quantity"))).as("sum_qty"),
          sum(graft.util.Stable.dec2(col("l_extendedprice"))).as("sum_price"),
          count(lit(1)).as("cnt"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .write.parquet(out.toString)
    }
    val d = MvDef(
      name = s"lineitem_rf_ls_${sfTag(dir)}",
      factPath = s"$dir/lineitem.parquet",
      mvPath = out.toString,
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sums = Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
      countCol = Some("cnt"),
      mins = Map("l_shipdate" -> "min_ship"),
      maxs = Map("l_shipdate" -> "max_ship"))
    MvRegistry.register(d)
    d
  }

  /** Lineitem rollup MV at (l_returnflag, l_suppkey) grain WITH a
    * registered key-preserving supplier dimension — the star-schema
    * rewrite's artifact (round 10): the grain carries the FK, so any
    * aggregate over `lineitem ⋈ supplier` with supplier predicates folds
    * onto `MV ⋈ supplier`. The MvDim contract (s_suppkey unique, every
    * l_suppkey present) is TPC-H referential integrity, guaranteed by
    * the fixture generator. */
  def ensureLineitemSuppMv(s: SparkSession, dir: String): MvDef = {
    val out = Artifacts.inWarehouse(s, s"graft_mv_lineitem_supp_${sfTag(dir)}")
    Artifacts.ensure(s, out, s"$dir|lineitem|rf,suppkey|v1") {
      graft.Sources.lineitem(s, dir)
        .groupBy("l_returnflag", "l_suppkey")
        .agg(
          sum(graft.util.Stable.dec2(col("l_quantity"))).as("sum_qty"),
          sum(graft.util.Stable.dec2(col("l_extendedprice"))).as("sum_price"),
          count(lit(1)).as("cnt"))
        .write.parquet(out.toString)
    }
    val d = MvDef(
      name = s"lineitem_rf_supp_${sfTag(dir)}",
      factPath = s"$dir/lineitem.parquet",
      mvPath = out.toString,
      groupCols = Seq("l_returnflag", "l_suppkey"),
      sums = Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
      countCol = Some("cnt"),
      dims = Seq(MvDim(s"$dir/supplier.parquet", "l_suppkey", "s_suppkey")))
    MvRegistry.register(d)
    d
  }

  /** Lineitem rollup MV at (l_returnflag, l_suppkey, l_partkey) grain
    * with TWO registered key-preserving dimensions — the multi-dim
    * star-schema artifact (round 11, VERDICT r10 task #5): the grain
    * carries both FKs, so the dominant BI shape — an aggregate over
    * `lineitem ⋈ supplier ⋈ part` with predicates on either dimension —
    * folds onto `MV ⋈ supplier ⋈ part` through the chain matcher. Both
    * MvDim contracts are TPC-H referential integrity. The MV is larger
    * than the single-dim rollups (one row per (rf, supp, part) observed
    * combination) but still orders of magnitude under the fact — the
    * classic aggregate-table trade. */
  def ensureLineitemSuppPartMv(s: SparkSession, dir: String): MvDef = {
    val out = Artifacts.inWarehouse(s, s"graft_mv_lineitem_supp_part_${sfTag(dir)}")
    Artifacts.ensure(s, out, s"$dir|lineitem|rf,suppkey,partkey|v1") {
      graft.Sources.lineitem(s, dir)
        .groupBy("l_returnflag", "l_suppkey", "l_partkey")
        .agg(
          sum(graft.util.Stable.dec2(col("l_quantity"))).as("sum_qty"),
          sum(graft.util.Stable.dec2(col("l_extendedprice"))).as("sum_price"),
          count(lit(1)).as("cnt"))
        .write.parquet(out.toString)
    }
    val d = MvDef(
      name = s"lineitem_rf_supp_part_${sfTag(dir)}",
      factPath = s"$dir/lineitem.parquet",
      mvPath = out.toString,
      groupCols = Seq("l_returnflag", "l_suppkey", "l_partkey"),
      sums = Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
      countCol = Some("cnt"),
      dims = Seq(MvDim(s"$dir/supplier.parquet", "l_suppkey", "s_suppkey"),
        MvDim(s"$dir/part.parquet", "l_partkey", "p_partkey")))
    MvRegistry.register(d)
    d
  }

  val DayNanos = 86400000000000L

  private[graft] def dayAgg(events: DataFrame): DataFrame =
    events
      .select(expr("ts div 86400000000000").as("day"), col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))

  /** Day-grain events MV covering days `< cutoff` (cutoff = max day − 6:
    * "history" in the store, "this week" arrives as deltas). The cutoff
    * is BUILD-TIME state and lives in the marker — probes read it back
    * driver-side (a metadata lookup, like a refresh watermark in any
    * warehouse's catalog) instead of re-deriving it with a corpus scan.
    * Returns (storePath, cutoffDay). */
  def ensureEventsDayMv(s: SparkSession, dir: String): (String, Long) = {
    val out = Artifacts.inWarehouse(s, s"graft_mv_events_day_${sfTag(dir)}")
    val cutoff = Artifacts.ensureState(s, out, s"$dir|events|day,type|v1|cutoff=") {
      val maxDay = graft.Sources.events(s, dir)
        .agg(max(expr("ts div 86400000000000"))).head().getLong(0)
      val cutoff = maxDay - 6
      dayAgg(graft.Sources.eventsTsRange(s, dir, Long.MinValue, cutoff * DayNanos))
        .write.parquet(out.toString)
      cutoff.toString
    }
    (out.toString, cutoff.toLong)
  }

  /** STREAM-MAINTAINED day-grain MV (round 12, VERDICT r11 #3 — the
    * composition of this file's incremental-refresh algebra with the
    * [[graft.streaming.Streams.cdcApply]] marker protocol): the MV lives
    * in a versioned [[graft.sources.SnapshotStore]] keyed by the grain,
    * and every events micro-batch folds its associative partials in
    * through [[graft.streaming.Streams.mergeEventsDayMv]] — each commit
    * touches ONLY the (day, event_type) keys the batch carried, so a
    * steady-state stream rewrites kilobytes per batch while the fact is
    * never rescanned, and the store's time travel replays the MV at any
    * micro-batch boundary. This ensure builds the WRITE-ONCE registry
    * artifact by running the corpus through that same per-batch fold in
    * `chunks` deterministic slices (`event_id % chunks` — arrival
    * batching, which counter-sum commutativity makes irrelevant to the
    * result): the registered query probes exactly the artifact a
    * long-running [[graft.streaming.Streams.mvRollupIngest]] stream
    * maintains, and its oracle recomputes the aggregate from scratch —
    * streamed-maintenance-equals-recompute is the contract under test. */
  def ensureEventsDayLiveMv(s: SparkSession, dir: String,
                            chunks: Int = 4): String = {
    val out = Artifacts.inWarehouse(s, s"graft_mv_events_live_${sfTag(dir)}")
    Artifacts.ensure(s, out, s"$dir|events|day,type|live|v1|chunks=$chunks") {
      val events = graft.Sources.events(s, dir)
      (0 until chunks).foreach { i =>
        graft.streaming.Streams.mergeEventsDayMv(
          dayAgg(events.filter(col("event_id") % chunks === i)), out.toString)
      }
    }
    out.toString
  }

  /** Read path of the stream-maintained MV: the store's latest version
    * IS the rollup — a metadata-bounded read of |MV| rows, no fact scan,
    * no fold beyond the snapshot store's own latest-wins. */
  def liveEventsDay(s: SparkSession, storeDir: String): DataFrame = {
    // lastOption + a named require (ADVICE r12): an uninitialized store
    // must say WHICH store is empty, not throw a bare NoSuchElement.
    val versions = graft.sources.SnapshotStore
      .committedVersions(s, storeDir)
    require(versions.nonEmpty,
      s"liveEventsDay: no committed versions in MV store $storeDir — " +
        "has the maintaining stream ever applied a batch?")
    val last = versions.last
    graft.sources.SnapshotStore.readAsOf(s, storeDir, "mv_key", last)
      .select(col("day"), col("event_type"),
        col("cnt").as("n_events"), col("sum_cents").as("value_cents"))
  }

  /** Incremental refresh read path: stored history partials + a
    * footer-pruned delta scan of `[cutoff, ∞)`, merged by re-aggregation
    * of the associative state. Output equals the full-corpus aggregate
    * (the oracle recomputes it from scratch) while the fact scan touched
    * only the delta row groups. */
  def refreshedEventsDay(s: SparkSession, dir: String): DataFrame = {
    val (store, cutoff) = ensureEventsDayMv(s, dir)
    val delta = dayAgg(graft.Sources.eventsTsRange(s, dir, cutoff * DayNanos, Long.MaxValue))
    s.read.parquet(store).unionByName(delta)
      .groupBy("day", "event_type")
      .agg(sum(col("cnt")).as("n_events"), sum(col("sum_cents")).as("value_cents"))
  }
}
