package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file COMPACTION — the lakehouse maintenance primitive. A
  * streaming or frequently-appending sink accumulates many small part
  * files; every later scan then pays per-file open/footer costs and the
  * scheduler pays per-split overhead (at 100 TB, millions of tiny files
  * is a cluster-killer long before data volume is). Compaction rewrites
  * the table at a target file size: file count = ceil(bytes / target),
  * one round-robin repartition (no key semantics to preserve — this is
  * layout, not content), one write.
  *
  * Deliberately writes to a NEW directory: atomic in-place swap is a
  * table-format concern (transaction logs); a plain-parquet engine
  * compacts aside and flips readers, which is also the safe pattern for
  * a live table. Content equality is the spec's job (row counts and an
  * order-insensitive digest are asserted in MaintenanceSpec).
  */
object Maintenance {

  final case class FileStats(nFiles: Int, totalBytes: Long, maxBytes: Long)

  /** Part-file statistics of a parquet directory (data files only). */
  def fileStats(spark: SparkSession, dir: String): FileStats = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
    FileStats(parts.length, parts.map(_.getLen).sum,
      if (parts.isEmpty) 0L else parts.map(_.getLen).max)
  }

  /** Compact `srcDir` into `dstDir` at ~`targetBytes` per file. Returns
    * (before, after) stats. */
  def compactTo(spark: SparkSession, srcDir: String, dstDir: String,
                targetBytes: Long): (FileStats, FileStats) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val before = fileStats(spark, srcDir)
    val nOut = math.max(1, math.ceil(before.totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(srcDir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(dstDir)
    (before, fileStats(spark, dstDir))
  }

  private def compactTmp(p: Path) =
    new Path(p.getParent, s".${p.getName}.compact_tmp")
  private def compactBak(p: Path) =
    new Path(p.getParent, s".${p.getName}.compact_bak")

  /** The catalog table whose LOCATION is `dir` and which declares a
    * bucket spec, if any. Bucketed tables carry the bucket id in every
    * data file's NAME; a plain compaction rewrite keeps the rows but
    * strips that naming while the catalog keeps advertising the spec —
    * every later "exchange-free" bucketed join then reads mis-attributed
    * buckets: silently wrong answers, not an error. [[compactInPlace]]
    * therefore refuses such dirs (round 12, VERDICT r11 #1); the
    * bucketed tier's maintenance is [[rebucketTable]]. */
  private[graft] def owningBucketedTable(spark: SparkSession,
                                         dir: String): Option[String] = {
    val catalog = spark.sessionState.catalog
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = fs.makeQualified(p).toUri
    // EVERY database (ADVICE r12): a bucketed table registered over the
    // same location from another database would otherwise escape the
    // guard and get its bucket-id file naming silently stripped.
    catalog.listDatabases().iterator
      .flatMap(db => catalog.listTables(db).iterator)
      // listTables includes temp views, which have no stored metadata.
      .flatMap(id => scala.util.Try(catalog.getTableMetadata(id)).toOption)
      .collectFirst {
        case m if m.bucketSpec.isDefined &&
          fs.makeQualified(new Path(m.location)).toUri == target =>
          m.identifier.unquotedString
      }
  }

  /** Compact `dir` IN PLACE under the bak protocol (the
    * [[graft.sources.SnapshotStore.purgeIds]] swap discipline, round 11 —
    * the old delete-then-rename left a crash window where the live dir
    * was simply GONE until a human renamed the aside copy back): write
    * the compacted copy to a dot-prefixed tmp dir, rename live → bak,
    * rename tmp → live, drop bak. A crash at ANY step leaves either the
    * old or the new directory restorable, and
    * [[recoverInterruptedCompact]] — run automatically on entry —
    * finishes the job: stale tmp dropped, orphaned bak renamed back into
    * place. Dot-prefixed tmp/bak are invisible to any concurrent parquet
    * reader. Callers still own quiescence for the CONTENT flip itself
    * (the streamed-artifact compaction runs on the foreachBatch thread,
    * which serializes micro-batches). Returns (before, after) stats. */
  def compactInPlace(spark: SparkSession, dir: String,
                     targetBytes: Long): (FileStats, FileStats) = {
    owningBucketedTable(spark, dir).foreach { t =>
      throw new IllegalArgumentException(
        s"compactInPlace: $dir is the location of BUCKETED table $t — a " +
          "plain rewrite would strip the bucket-id file naming while the " +
          "catalog kept the spec (silently mis-attributed buckets on every " +
          "later exchange-free join); use rebucketTable instead")
    }
    recoverInterruptedCompact(spark, dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = compactTmp(p)
    val bak = compactBak(p)
    val stats = compactTo(spark, dir, tmp.toString, targetBytes)
    require(fs.rename(p, bak), s"compactInPlace: could not stage $dir")
    require(fs.rename(tmp, p), s"compactInPlace: could not publish $tmp")
    require(fs.delete(bak, true),
      s"compactInPlace: could not drop $bak — remove it before the next pass")
    (stats._1, fileStats(spark, dir))
  }

  /** RE-BUCKET a bucketed warehouse table in place — the bucketed tier's
    * small-file maintenance (round 12, VERDICT r11 #2). Appending to a
    * bucketed `saveAsTable` adds one file set per (append, bucket), so an
    * appendable index grows O(appends × buckets) files; [[compactInPlace]]
    * refuses those dirs because a plain rewrite strips the bucket-id file
    * naming. This rewrites the content through a STAGING TABLE carrying
    * the table's OWN bucket spec (one spec-aligned repartition, so the
    * file count returns to ~bucket count with correct bucket-id names),
    * then swaps DIRECTORIES under the [[compactInPlace]] bak protocol —
    * same tmp/bak naming, same [[recoverInterruptedCompact]] recovery,
    * same crash-window guarantees. The live CATALOG ENTRY never changes
    * (so managed and `CREATE TABLE … LOCATION`-registered tables both
    * work), and auxiliary metadata in the live dir — the stored-artifact
    * marker ([[Artifacts.ensure]]), `_batches/` replay markers, the
    * `_GRAFT_MAXSID` dict counter — is copied into the staging output
    * BEFORE the swap: content is row-identical, so markers stay valid.
    * Caller owns quiescence, exactly like compactInPlace (the streaming
    * wrappers run maintenance on the foreachBatch thread, which
    * serializes micro-batches). */
  def rebucketTable(spark: SparkSession, table: String): (FileStats, FileStats) = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"rebucketTable: $table declares no bucket spec — plain dirs are " +
        "compactInPlace's job"))
    val live = new Path(meta.location)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverInterruptedCompact(spark, live.toString)
    val before = fileStats(spark, live.toString)
    // Identifier-derived staging name: dropped on entry, so a crash after
    // the staging write re-runs cleanly.
    val stg = s"${ident.table}__rebucket_stg"
    spark.sql(s"DROP TABLE IF EXISTS $stg")
    import org.apache.spark.sql.functions.col
    val bcols = spec.bucketColumnNames
    // Read the content as PLAIN parquet by explicit file list: a bucketed
    // catalog scan advertises its partitioning and the writer's task
    // layout then stops matching the aligned-repartition contract (seen
    // as file count > bucket count); a plain read + one spec-aligned
    // repartition reproduces exactly the original build's write shape.
    val dataFiles = fs.listStatus(live).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.toString)
    require(dataFiles.nonEmpty, s"rebucketTable: no data files under $live")
    val w = spark.read.parquet(dataFiles.toIndexedSeq: _*)
      .repartition(spec.numBuckets, bcols.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(spec.numBuckets, bcols.head, bcols.tail: _*)
    val ws =
      if (spec.sortColumnNames.nonEmpty)
        w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
      else w
    ws.format("parquet").saveAsTable(stg)
    val stgLoc = new Path(catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(stg)).location)
    // Carry the live dir's auxiliary (non-data) files into the staging
    // output: build/replay markers are table metadata that must survive
    // a layout-only rewrite. `_SUCCESS` is per-write job residue — the
    // staging write made its own.
    fs.listStatus(live)
      .filter(st => st.getPath.getName.startsWith("_") &&
        st.getPath.getName != "_SUCCESS")
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(stgLoc, st.getPath.getName), false,
          spark.sparkContext.hadoopConfiguration)
      }
    // The compactInPlace swap, verbatim: any crash from here is healed by
    // recoverInterruptedCompact (stage → tmp first, so a crash before the
    // live rename leaves the table untouched and the tmp is dropped).
    val tmp = compactTmp(live)
    val bak = compactBak(live)
    require(fs.rename(stgLoc, tmp), s"rebucketTable: could not stage $stgLoc")
    require(fs.rename(live, bak), s"rebucketTable: could not stage $live")
    require(fs.rename(tmp, live), s"rebucketTable: could not publish $tmp")
    require(fs.delete(bak, true),
      s"rebucketTable: could not drop $bak — remove it before the next pass")
    // The staging entry's dir was consumed by the swap — drop the
    // metadata; then invalidate the live table's cached file listing.
    spark.sql(s"DROP TABLE IF EXISTS $stg")
    spark.catalog.refreshTable(table)
    (before, fileStats(spark, live.toString))
  }

  /** Fragmentation readout of a BUCKETED table: mean data files per
    * bucket (1.0 = freshly built or rebucketed; each applied append adds
    * up to one file per bucket). The auto-rebucket trigger reads THIS,
    * not an append counter (round 13, VERDICT r12 #4): the measured cost
    * driver is the file count itself, and appends that touch few buckets
    * fragment less than the counter would assume. One filesystem listing
    * per call — the same cost every commit-log check pays. */
  def filesPerBucket(spark: SparkSession, table: String): Double = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"filesPerBucket: $table declares no bucket spec"))
    fileStats(spark, new Path(meta.location).toString).nFiles.toDouble /
      spec.numBuckets
  }

  /** Measured default for the auto-rebucket trigger, in files per
    * bucket. Derivation (SCALE.md round 13, from the committed
    * RebucketBench sf1 A/B): per-probe wall grows ≈ 0.149 s per extra
    * file/bucket ((4.47 − 3.28 s) over the 9→1 files/bucket collapse)
    * while one rebuild costs a flat 6.8 s. With one probe per append,
    * rebucketing every N appends costs 6.8/N per batch and pays an
    * average fragmentation tax of ≈ 0.0745·(N−1); the sum is minimized
    * at N* = sqrt(6.8/0.0745) ≈ 9.6 → trigger at 10 files/bucket. */
  val DefaultRebucketFilesPerBucket: Double = 10.0

  /** [[recoverInterruptedCompact]] addressed by TABLE NAME (resolves the
    * catalog location, then refreshes the table's cached listing): the
    * streaming wrappers run this at batch entry when rebucket
    * maintenance is enabled, so a crash mid-swap heals on restart
    * instead of failing every adjudication read until a human invokes
    * the recovery by hand (ADVICE r12). */
  def recoverTable(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    recoverInterruptedCompact(spark, new Path(meta.location).toString)
    spark.catalog.refreshTable(table)
  }

  /** Finish a compaction interrupted mid-swap (idempotent; called on
    * every [[compactInPlace]] entry, callable on restart): a bak dir
    * whose live sibling vanished is restored (the crash hit between the
    * two renames); a bak WITH a live sibling means the publish succeeded
    * and only the cleanup was lost — drop the bak. A stale tmp is always
    * dropped: its content was never published and the next pass rewrites
    * it from the (restored) live data. */
  def recoverInterruptedCompact(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = compactTmp(p)
    val bak = compactBak(p)
    if (fs.exists(bak)) {
      // Loud on failure (ADVICE r11): a silently-surviving stale bak
      // resurfaces later as a confusing could-not-stage rename error in
      // compactInPlace — name the dir now instead.
      if (fs.exists(p)) require(fs.delete(bak, true),
        s"recoverInterruptedCompact: could not drop stale $bak — remove " +
          "it before the next maintenance pass")
      else require(fs.rename(bak, p),
        s"recoverInterruptedCompact: could not restore $dir from $bak")
    }
    if (fs.exists(tmp)) require(fs.delete(tmp, true),
      s"recoverInterruptedCompact: could not drop stale $tmp — remove " +
        "it before the next maintenance pass")
  }

  /** Order-insensitive content digest for equality checks: xor of
    * per-row md5 prefixes — associative/commutative, so layout changes
    * never move it. */
  def contentDigest(df: DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted.map(c => col(s"`$c`").cast("string"))
    df.select(
        conv(substring(md5(concat_ws("", cols: _*).cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
  }
}
