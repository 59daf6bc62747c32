package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scan-width guard for heavy per-row derivations (round 13).
  *
  * A parquet scan's task count comes from file splits
  * (`spark.sql.files.maxPartitionBytes`), and a single small file is ONE
  * useful task regardless of session cores — parquet cannot split below
  * a row group. Any expensive per-row expression chain applied before the
  * first exchange then runs on one core (measured at sf0.1 / local[32]:
  * every fixture table is one <11 MB parquet file, so e.g. the
  * 32-replica Poisson bootstrap's 3.2 M md5+conv evaluations ran
  * single-threaded while 31 cores idled).
  *
  * [[widen]] hash-clusters the frame by a DETERMINISTIC key — never
  * round-robin, whose retry semantics need a sort (SPARK-23207) and
  * whose placement would differ run-to-run — and ONLY when the frame's
  * scan parallelism is below the session's cores. At real corpus
  * scale, where a scan is already thousands of splits, the guard makes
  * it a no-op: no shuffle is added to the 100 TB plan. Callers project
  * to the needed columns FIRST (guide §2.3: shuffle the narrow rows,
  * not the wide scan). [[widenByRange]] is the same guard with a range
  * partitioning, for outputs sorted on the key.
  *
  * The width probe is PLAN-SIDE (round 14, VERDICT r13 #9): it reproduces
  * Spark's file-split packing math from the scan relations' catalog
  * metadata (total bytes + per-file open cost vs `maxPartitionBytes` /
  * `minPartitionNum`). The previous `df.rdd.getNumPartitions` probe
  * forced full physical planning per call and, under AQE, would have
  * eagerly EXECUTED upstream shuffle stages had a caller ever passed an
  * exchange-bearing frame. Frames with any non-file-scan leaf (cached
  * views, local relations, v2 sources) probe to None and are left
  * untouched — the guard exists for raw small-file scans only.
  */
object Par {

  /** Estimated scan-task count from plan metadata alone, or None when any
    * leaf is not a v1 file relation. Mirrors `FilePartition.maxSplitBytes`
    * (totalBytes includes one `openCostInBytes` per file; splits are
    * capped at `maxPartitionBytes` and floored so ~`minPartitionNum`
    * tasks exist when the data is large enough). An estimate — greedy
    * packing can deviate by a task or two — but the guard only needs the
    * order of magnitude: "one small file" vs "thousands of splits". */
  private[graft] def estimatedScanTasks(df: DataFrame): Option[Long] = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val rels = leaves.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (rels.isEmpty || rels.size != leaves.size) None
    else {
      val openCost = conf.filesOpenCostInBytes
      val maxPB = math.max(1L, conf.filesMaxPartitionBytes)
      val minPartNum = conf.filesMinPartitionNum
        .getOrElse(spark.sparkContext.defaultParallelism).toLong.max(1L)
      Some(rels.map { r =>
        val totalBytes =
          r.location.sizeInBytes + r.location.inputFiles.length * openCost
        val maxSplit =
          math.min(maxPB, math.max(openCost, totalBytes / minPartNum)).max(1L)
        (totalBytes + maxSplit - 1) / maxSplit
      }.sum)
    }
  }

  /** Hash-clusters a narrow scan on `key` across the session's cores: the
    * shape for frames that are joined or grouped on `key` next. */
  def widen(df: DataFrame, key: Column): DataFrame =
    whenNarrow(df)(cores => df.repartition(cores, key))

  /** Range-partitions a narrow scan on `key` across the session's cores:
    * the shape for a derivation whose output is globally sorted on a
    * passthrough `key`. The range exchange satisfies the trailing
    * `orderBy(key)`'s ordered distribution, so the sort plans as a local
    * sort with no second exchange, and the derivation runs once on
    * `cores` tasks instead of twice (sampling job + shuffle-map stage) on
    * one. */
  def widenByRange(df: DataFrame, key: Column): DataFrame =
    whenNarrow(df)(cores => df.repartitionByRange(cores, key))

  /** The guard both shapes share: apply `reshape(cores)` only when the
    * frame's estimated scan tasks are below the session's cores. The
    * explicit width matters: an exchange without a partition count is
    * left to AQE coalescing, which could re-narrow the frame the guard
    * just widened; with a count it is REPARTITION_BY_NUM. */
  private def whenNarrow(df: DataFrame)(reshape: Int => DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    estimatedScanTasks(df) match {
      case Some(tasks) if tasks < cores => reshape(cores)
      case _ => df
    }
  }
}
