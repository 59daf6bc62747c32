package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Artifacts

/** PUBLISHED, BUCKETED edge layouts for the iterative graph family —
  * the [[graft.dedup.Dedup.writeLshIndexBucketed]] discipline applied
  * to graphs (VERDICT r9 task #2). The in-query tiers derive their edge
  * list per invocation (a distinct + degree aggregate + repartition over
  * the fact table) and every power-iteration round then probes an
  * in-memory frame; at sf1 that query shape ships ~609 MB of shuffle
  * (pagerank) / 247 MB (kcore), and at 100 TB the derivation alone
  * rescans the corpus. The stored tier writes the degree-annotated edge
  * list ONCE as a warehouse table `bucketBy(src)` — every round's
  * rank⋈edges join then reads the edge side exchange-free at any scale,
  * and only the (node-sized) rank table moves per round.
  *
  * Each table is a write-once stored artifact
  * ([[graft.util.Artifacts.ensure]]); after a session restart the table
  * is re-registered metadata-only.
  */
object EdgeStore {

  /** Bucket count — matches the local[32] harness; on a real cluster
    * size it to |E|/bucket targets. */
  val Buckets = 32

  /** Ensure a write-once bucketed table `graft_<what>_<sfTag>` holding
    * `build`, clustered by `key`. Returns the table name. `build` is
    * by-name — never evaluated on a marker hit. `buildTag` names the
    * EDGE-DERIVATION contract (params + a version token, e.g.
    * "copurch:support>=2:v1") and is mixed into the artifact tag: the
    * closure itself can't be fingerprinted, so a caller changing the
    * derivation MUST bump it. */
  private def ensureTable(spark: SparkSession, dir: String, what: String,
                          key: String, buildTag: String,
                          build: => DataFrame): String = {
    val table =
      s"graft_${what}_${dir.replaceAll("[^A-Za-z0-9]", "_")}".toLowerCase
    val loc = Artifacts.inWarehouse(spark, table)
    Artifacts.ensure(spark, loc, s"$dir|$what|k=$key|bk=$Buckets|d=$buildTag") {
      graft.EntryOps.dropManagedTable(spark, table)
      // One linear shuffle onto the bucket layout, aligned with the
      // bucket spec so each write task owns whole buckets (file count ==
      // bucket count, not tasks × buckets).
      build.repartition(Buckets, col(key))
        .write.mode("overwrite")
        .bucketBy(Buckets, key).sortBy(key)
        .format("parquet").saveAsTable(table)
    }
    Artifacts.registerBucketedTable(spark, table, loc.toString, Buckets, key)
    table
  }

  /** Publish the degree-annotated edge list `(src, dst, outdeg)` of
    * `edges` (cols src, dst), bucketed by src — the static side of every
    * PageRank round. `requireNoDangling` moves [[PageRank.ranks]]'s
    * dangling probe to BUILD time (pay it once per artifact, not once
    * per query): an undirected (both-directions) edge list cannot have
    * dangling nodes, so a surviving anti-join row means the caller's
    * edge construction is broken. */
  def ensureDegreeEdges(spark: SparkSession, dir: String, variant: String,
                        edges: => DataFrame,
                        requireNoDangling: Boolean = false,
                        buildTag: String = "v1"): String =
    ensureTable(spark, dir, s"edges_$variant", "src", buildTag, {
      val e = graft.util.Views.materialize(
        edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst")))
      if (requireNoDangling) {
        val dangling = e.select(col("dst").as("src")).distinct()
          .join(e.select("src").distinct(), Seq("src"), "left_anti")
        require(dangling.isEmpty,
          s"EdgeStore($variant): graph has dangling nodes (dst never a " +
            "src) — pass both edge directions for an undirected graph")
      }
      e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    })

  /** Publish the node universe `(node, odeg)` of `edges` (odeg 0 =
    * dangling), bucketed by node — the static left side of every
    * directed-PageRank teleport join. */
  def ensureNodeTable(spark: SparkSession, dir: String, variant: String,
                      edges: => DataFrame,
                      buildTag: String = "v1"): String =
    ensureTable(spark, dir, s"nodes_$variant", "node", buildTag, {
      val e = graft.util.Views.materialize(
        edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst")))
      val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
        .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("odeg"))
    })

  /** Publish a plain undirected edge set `(u, v)` bucketed by u — the
    * static input of the peeling/counting family (k-core, triangles):
    * the expensive part there is the DERIVATION (a fact-table self-join
    * + support aggregate), re-run per query in the in-query tier and
    * once per corpus here. */
  def ensurePlainEdges(spark: SparkSession, dir: String, variant: String,
                       edges: => DataFrame,
                       buildTag: String = "v1"): String =
    ensureTable(spark, dir, s"uvedges_$variant", "u", buildTag,
      edges.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v")))
}
