package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.EntryOps._

/** Graph analytics, multimodal plumbing, data-quality audits, MV rewrite probes, and the IDX financial-report family.
  *
  * Registry shard of [[SparkEntry]] (split for maintainability; keys are
  * merged — and spec-checked disjoint — in SparkEntry.queries/oracleSql).
  */
private[graft] object GraphMmRegistry {

  /** The support-thresholded part co-purchase edge table (u < v, parts
    * sharing ≥ 2 orders), read from the PUBLISHED write-once u-bucketed
    * artifact (round 11, VERDICT r10 task #2): the derivation — a
    * distinct + fact-table self-join + support aggregate — was the
    * measured dominant cost of every in-query graph-analytics entry
    * (kcore 8.9 → 1.6 s at sf1 when it stopped re-running it), and at
    * 100 TB it rescans the corpus once per query. The whole analytics
    * family (triangles, common-neighbors, link-prediction, modularity,
    * assortativity, clustering-coeff, reachability, degree-histogram,
    * kcore-stored) reads this ONE artifact; `graph_kcore` keeps the
    * in-query derivation as the declared no-artifact path. Every caller
    * goes through THIS method so the build closure and its marker
    * `buildTag` stay a single definition — two callers with divergent
    * tags would perpetually rebuild the shared artifact. */
  private def copurchEdges(s: SparkSession, dir: String): DataFrame =
    s.table(graph.EdgeStore.ensurePlainEdges(s, dir, "copurch", {
      val op = Sources.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select("u", "v")
    }, buildTag = "distinct-orderpart-selfjoin:support>=2:v1"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // IDX 32-column financial report: nested-struct projection, string→
    // double casts, fillna, coalesce, nullif ratios, pinned column order
    // (idx_transform.py:107-273). On a narrow scan, the exchange carries
    // the six source columns the fixture reads, range-partitioned on
    // o_orderkey (= company_code): the trailing orderBy is a local sort
    // and the 32-column rows are never shuffled.
    "idx_financials" -> ((s, dir) => {
      val orders = Sources.orders(s, dir).select("o_orderkey", "o_custkey",
        "o_orderstatus", "o_orderpriority", "o_orderdate", "o_totalprice")
      idx.FinancialReport.transform(idx.FinancialReport.fixtureFromOrders(
          util.Par.widenByRange(orders, col("o_orderkey"))))
        .orderBy("company_code")
    }),


    // Referential-integrity audit across every declared FK relationship —
    // the pre-publish data-quality gate. Each relationship is one anti
    // join on the child's projected FK column (8 bytes/row shuffled, not
    // the row); bounded catalogs (nation, region) broadcast so their
    // children shuffle nothing. The union is of 7 one-row aggregates,
    // never of raw tables (graft.util.Audit).
    "data_ri_audit" -> ((s, dir) => {
      import util.Audit.orphanCount
      val li = Sources.lineitem(s, dir); val o = Sources.orders(s, dir)
      val c = Sources.customer(s, dir); val su = Sources.supplier(s, dir)
      val p = Sources.part(s, dir); val n = Sources.nation(s, dir)
      val r = Sources.region(s, dir)
      Seq(
        orphanCount("customer->nation", c, "c_nationkey", n, "n_nationkey",
          broadcastParent = true),
        orphanCount("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        orphanCount("lineitem->part", li, "l_partkey", p, "p_partkey"),
        orphanCount("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"),
        orphanCount("nation->region", n, "n_regionkey", r, "r_regionkey",
          broadcastParent = true),
        orphanCount("orders->customer", o, "o_custkey", c, "c_custkey"),
        orphanCount("supplier->nation", su, "s_nationkey", n, "n_nationkey",
          broadcastParent = true)
      ).reduce(_.unionByName(_)).orderBy("rel")
    }),


    // Union multiplex (SURVEY.md §2.8): the reference's 4-collection IDX
    // loop read as one unioned frame, rolled up per year.
    "idx_union_years" -> ((s, dir) => {
      val o = Sources.orders(s, dir).withColumn("year", year(col("o_orderdate")))
      val years = Seq(1995, 1996, 1997)
      years.map(y => o.filter(col("year") === y))
        .reduce(_.unionByName(_))
        .groupBy("year")
        .agg(count(lit(1)).as("n_orders"), util.Stable.exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy("year")
    }),


    // Multimodal catalog + resize/frame-sample planning over opaque binary
    // payloads with typed metadata — the queryable half of a media
    // pipeline (payload untouched, metadata pushdown-friendly).
    "mm_catalog" -> ((s, dir) =>
      multimodal.Multimodal.resizePlan(
        multimodal.Multimodal.synthesize(Sources.documents(s, dir)), 128)
        .orderBy("media_id")),


    // Decode + feature extraction via per-partition batch mapPartitions —
    // the real codec boundary (decoder stubbed deterministically; the
    // Dataset encoders, binary schema, and batch shape are the product).
    // Not SQL-expressible per the contract → rows-only check.
    "mm_decode_features" -> ((s, dir) =>
      multimodal.Multimodal.decodeFeatures(
        multimodal.Multimodal.mediaDataset(s, Sources.documents(s, dir)))
        .toDF().orderBy("media_id")),


    // REAL image codec at the mapPartitions boundary: genuine PNG
    // payloads (deterministic formula-patterned grayscale, ImageIO-
    // encoded on the executors) decoded back by javax.imageio into exact
    // pixel statistics. The oracle computes the same statistics from the
    // generating formula — a hash match proves the encode→decode
    // round-trip preserved every pixel. No shuffle; executor-parallel.
    "mm_decode_png" -> ((s, dir) =>
      multimodal.Multimodal.decodeImageFeatures(
        multimodal.Multimodal.synthesizeImages(Sources.documents(s, dir)))
        .toDF().orderBy("media_id")),


    // SECOND real codec, JPEG, through the same mapPartitions boundary
    // (round 12). JPEG is LOSSY, so the fixture is uniform-gray (DC-only
    // blocks — round-trip error bounded by DC quantization) and the
    // query follows the approx-percentile oracle discipline: the decoded
    // mean is checked against the generating gray level IN-DATAFLOW
    // (assert_true, tolerance ±3 levels — MultimodalSpec measures the
    // true error) and the emitted columns are formula-exact (geometry,
    // gray, the asserted verdict).
    "mm_decode_jpeg" -> ((s, dir) => {
      val decoded = multimodal.Multimodal.decodeImageFeaturesSafe(
        multimodal.Multimodal.synthesizeJpegs(Sources.documents(s, dir)))
        .toDF()
      decoded
        .withColumn("gray", pmod(col("media_id"), lit(256)).cast("int"))
        .select(col("media_id"), col("img_w"), col("img_h"), col("n_px"),
          col("gray"),
          when(assert_true(
            col("status") === "ok" &&
              abs(col("mean_px") - col("gray")) <= 3.0,
            concat(lit("jpeg decode drifted past tolerance for media "),
              col("media_id"))).isNull,
            lit(true)).as("within_tol"))
        .orderBy("media_id")
    }),


    // CORRUPT-PAYLOAD QUARANTINE (round 12) — the 100 TB decode reality:
    // a deterministic subset of the PNG payloads is truncated (torn
    // upload), and the quarantine-safe boundary turns each failure into
    // a status='corrupt' ROW instead of a task failure. PNG is lossless,
    // so ok rows oracle-check to the exact formula statistics and
    // corrupt rows to nulls — the whole triage table is hash-pinned.
    "mm_decode_quarantine" -> ((s, dir) =>
      multimodal.Multimodal.decodeImageFeaturesSafe(
        multimodal.Multimodal.corruptSome(
          multimodal.Multimodal.synthesizeImages(Sources.documents(s, dir))))
        .toDF()
        .select(col("media_id"), col("status"), col("img_w"), col("img_h"),
          col("n_px"), col("px_sum"))
        .orderBy("media_id")),


    // Video frame-SAMPLING plan (multimodal plumbing): the per-frame work
    // list a decode stage consumes — one row per sampled instant, pure
    // per-row explode of an integer ladder (shuffle-free at any corpus
    // size). The decode itself stays at the mapPartitions codec boundary
    // (mm_decode_features); THIS is the fan-out that feeds it.
    "mm_frame_sample" -> ((s, dir) =>
      multimodal.Multimodal.frameSamplePlan(
        multimodal.Multimodal.synthesize(Sources.documents(s, dir)), 250)
        .orderBy("media_id", "sample_ms")),


    // Audio sliding-WINDOW accounting (multimodal plumbing): per-asset
    // (win, hop) frame arithmetic — window counts, coverage, tail — the
    // work-list sizing for a feature-extraction front end. Row-local,
    // no shuffle.
    "mm_audio_windows" -> ((s, dir) =>
      multimodal.Multimodal.audioWindowPlan(
        multimodal.Multimodal.synthesize(Sources.documents(s, dir)), 400, 160)
        .orderBy("media_id")),


    // BINARY shard-manifest packing (WebDataset-style): every media asset
    // is assigned a (bucket, shard) under a byte budget AND its exact
    // byte offset inside the shard — the manifest a tar-shard writer and
    // a random-access reader both consume. Packing is per-bucket
    // independent (md5-rank order, docs_pack_shards' first-byte rule, one
    // window over hash(bucket)); the offset is a second running sum
    // partitioned by (bucket, shard) — hash(bucket) already clusters
    // that superset key, so Spark adds only a sort, NOT a second
    // exchange. 512 bytes/record models the tar header. The whole
    // manifest is id + 4 longs per asset — payloads never move.
    "mm_pack_shards" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 16384L
      val m = multimodal.Multimodal.synthesize(Sources.documents(s, dir))
        .select(col("media_id"), (col("meta.n_bytes") + lit(512L)).as("rec_bytes"))
        .withColumn("bucket", pmod(col("media_id"), lit(16)))
        .withColumn("rk", md5(col("media_id").cast("string").cast("binary")))
      val w = Window.partitionBy("bucket").orderBy("rk", "media_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w2 = Window.partitionBy("bucket", "shard_idx").orderBy("rk", "media_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      m.withColumn("cum", sum(col("rec_bytes")).over(w))
        .withColumn("shard_idx", expr(s"(cum - rec_bytes) DIV $budget"))
        .withColumn("byte_offset", coalesce(sum(col("rec_bytes")).over(w2), lit(0L)))
        .select("media_id", "bucket", "shard_idx", "rec_bytes", "byte_offset")
        .orderBy("media_id")
    }),


    // Genuine null-handling semantics (the reference's coalesce is
    // degenerate — fillna runs first): coalesce over actually-null
    // numeric + string columns, and na.fill (idx_transform.py:160-183,
    // iqplus defensive defaults :121-124).
    "idx_null_handling" -> ((s, dir) => {
      val c = Sources.customer(s, dir)
      c.select(
        col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_acctbal")).as("bal_null"),
        when(col("c_custkey") % 3 === 0, lit(null)).otherwise(col("c_name")).as("name_null"))
        .withColumn("bal_coalesced", coalesce(col("bal_null"), lit(0.0)))
        .withColumn("name_defaulted", coalesce(col("name_null"), lit("")))
        .na.fill(-1.0, Seq("bal_null"))
        .withColumnRenamed("bal_null", "bal_filled")
        .drop("name_null")
        .orderBy("c_custkey")
    }),


    // PAGERANK over the part↔supplier bipartite graph (both directions
    // of every distinct lineitem (partkey, suppkey) edge — node ids
    // 2·partkey / 2·suppkey+1 share one key space). The SECOND iterative
    // graph primitive beside connected components: centrality over a
    // link/co-occurrence graph is a standard curation signal
    // (rank-weighted sampling of a crawl). All-integer damped power
    // iteration in 1e-9 rank units (see [[graph.PageRank]]) — FP
    // PageRank is summation-order dependent and irreproducible on any
    // parallel engine; the integer form replays exactly in DuckDB via
    // `//`-chained CTEs generated from the SAME constants. Per round:
    // one co-partitioned join against the cached degree-annotated edges
    // + one keyed aggregation; rounds persist + lineage-truncate with
    // exactly one live rank table (the clusters() discipline). Top-100
    // via sort-limit (TakeOrderedAndProject — k rows to the driver).
    "graph_pagerank" -> ((s, dir) => {
      val e0 = Sources.lineitem(s, dir)
        .select((col("l_partkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
      // Symmetrize by explode, not union(e0, e0.swapped): the union form
      // executes the distinct's full fact-table pass twice (the
      // SCALE.md "scan expensive plans once" lesson, applied here
      // round 13 — this was one of graph_pagerank's two redundant
      // corpus passes).
      val edges = e0.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graph.PageRank.ranks(edges, iters = 3)
        .select(col("node"), (col("node") % 2).as("is_supplier"), col("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(100)
    }),


    // DIRECTED PageRank with dangling-mass redistribution — the real
    // crawl/link-graph form: the part→supplier edge set is kept ONE-WAY,
    // so every supplier is a dangling node (dst, never src) and its rank
    // re-enters through the teleport pool each round instead of draining.
    // Same integer 1e-9-unit discipline; the oracle replays the loop
    // INCLUDING the per-round dangling-mass scalar as chained CTEs.
    "graph_pagerank_directed" -> ((s, dir) => {
      val edges = Sources.lineitem(s, dir)
        .select((col("l_partkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
      graph.PageRank.ranksDirected(edges, iters = 3)
        .select(col("node"), (col("node") % 2).as("is_supplier"), col("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(100)
    }),


    // PAGERANK OVER PUBLISHED EDGES (round 10, VERDICT r9 task #2): the
    // degree-annotated edge list lives in a write-once src-bucketed
    // warehouse table (graph.EdgeStore — the Dedup.writeLshIndexBucketed
    // discipline), so every round's rank⋈edges join reads the edge side
    // EXCHANGE-FREE and only the node-sized rank table moves per round
    // (the in-query twin's per-round exchange carries one raw row per
    // EDGE). At 100× that is the difference between ~6 GB/round of
    // exchange and zero (VERDICT r9 plan audit). Same integer
    // recurrence, same oracle as graph_pagerank; PageRankSpec pins the
    // exchange-free edge side.
    "graph_pagerank_stored" -> ((s, dir) => {
      val t = graph.EdgeStore.ensureDegreeEdges(s, dir, "copurch_und", {
        val e0 = Sources.lineitem(s, dir)
          .select((col("l_partkey").cast("long") * 2).as("src"),
            (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
          .distinct()
        // explode-symmetrized (round 13) — one distinct pass, not two;
        // build-once path, same rows.
        e0.select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
      }, requireNoDangling = true)
      graph.PageRank.ranksStored(s, t, iters = 3)
        .select(col("node"), (col("node") % 2).as("is_supplier"), col("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(100)
    }),


    // Directed stored twin: one-way edges + the published (node, odeg)
    // universe for the per-round teleport join (dangling suppliers keep
    // re-entering through the pool — same recurrence, same oracle as
    // graph_pagerank_directed).
    "graph_pagerank_directed_stored" -> ((s, dir) => {
      def raw = Sources.lineitem(s, dir)
        .select((col("l_partkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
      val et = graph.EdgeStore.ensureDegreeEdges(s, dir, "copurch_dir", raw)
      val nt = graph.EdgeStore.ensureNodeTable(s, dir, "copurch_dir", raw)
      graph.PageRank.ranksDirectedStored(s, et, nt, iters = 3)
        .select(col("node"), (col("node") % 2).as("is_supplier"), col("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(100)
    }),


    // TRIANGLE COUNTING over the part co-purchase graph (parts sharing
    // an order), by DEGREE-ORDERED edge orientation — the standard
    // distributed algorithm: orient every edge toward the (degree, id)-
    // larger endpoint, enumerate wedges only over OUT-neighbors (out-
    // degree is bounded by ~√(2m) under this orientation, so the wedge
    // join never explodes on hub nodes — the skew guard that makes
    // triangle counting feasible at web scale), close wedges against
    // the oriented edge list. Every triangle is counted exactly once,
    // at its π-smallest vertex. The π key packs (degree, id) into one
    // long — no global rank, no window. All counts integer-exact.
    "graph_triangles" -> ((s, dir) => {
      // Support threshold (≥2 shared orders): a single shared basket is
      // co-incidence, not co-purchase — the cut removes ~90% of the
      // wedge volume at sf0.1. Edges come from the PUBLISHED bucketed
      // artifact (round 11): the derivation was this query's dominant
      // cost, re-run per invocation; now it is a 32-file table scan.
      val edges = copurchEdges(s, dir)
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      // π(n) = dg·10^10 + n: a single-long total order by (degree, id) —
      // ids stay far below 10^10 in this key space.
      val pi = deg.select(col("n"), (col("dg") * lit(10000000000L) + col("n")).as("pi"))
      val oriented = util.Views.materialize(edges
        .join(pi.select(col("n").as("u"), col("pi").as("pi_u")), "u")
        .join(pi.select(col("n").as("v"), col("pi").as("pi_v")), "v")
        .select(
          when(col("pi_u") < col("pi_v"), col("u")).otherwise(col("v")).as("src"),
          when(col("pi_u") < col("pi_v"), col("v")).otherwise(col("u")).as("dst"),
          greatest(col("pi_u"), col("pi_v")).as("pi_dst")))
      val wedges = oriented.as("e1").join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.pi_dst") < col("e2.pi_dst"))
        .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
      // each wedge closes against at most one oriented edge (edge set is
      // distinct), so an inner-join count IS the triangle count
      val triangles = wedges.join(oriented,
        col("b") === col("src") && col("c") === col("dst"))
      val summary = edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
        .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
        .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
      summary.select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    }),


    // K-CORE DECOMPOSITION (round 7): the iterative PEELING member of
    // the graph family — repeatedly drop nodes whose degree in the
    // SURVIVING subgraph is < k until stable; what remains is the
    // maximal subgraph of minimum degree k (the standard "dense nucleus"
    // cut before community detection). Runs a FIXED 6 peel rounds on
    // both engines (the fixed-unroll pagerank discipline — identical
    // recurrence ⇒ identical state, converged or not; the fixture
    // converges in 3), each round one semi-join restriction + one keyed
    // degree aggregate — co-keyed shuffles only, lineage truncated per
    // round via materialized views exactly like the cluster propagation
    // loop. Output: the k-core's nodes with their in-core degrees.
    "graph_kcore" -> ((s, dir) => {
      // Round 14 A/B: the orders_basket_lift order-clustered-distinct
      // lever measured byte-NEUTRAL here (18.9 -> 18.7 MB) — this
      // self-join's probe side broadcasts, so there were no join
      // exchanges to save and the dominant bytes are the C(basket,2)
      // pair rows entering the support aggregate. REVERTED.
      val op = Sources.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = util.Views.materialize(
        op.as("a").join(op.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .select("u", "v"))
      // Degrees of the round-6 node set, no extra filter: the oracle
      // unrolls the SAME rounds, so both report identical state even
      // in the (impossible-here) unconverged case.
      graph.KCore.coreDegrees(edges, k = 3, rounds = 6)
        .orderBy("node")
    }),


    // K-CORE OVER PUBLISHED EDGES (round 10, VERDICT r9 task #2's
    // family lever): the thresholded co-purchase edge derivation — a
    // fact-table self-join + support aggregate, the dominant cost of
    // every in-query graph entry — runs ONCE into a write-once
    // u-bucketed warehouse table; the peel loop then probes the stored
    // scan. Same fixed-unroll loop (graph.KCore), same oracle.
    "graph_kcore_stored" -> ((s, dir) =>
      graph.KCore.coreDegrees(copurchEdges(s, dir), k = 3, rounds = 6)
        .orderBy("node")),


    // LINK PREDICTION by common neighbors — the graph-analytics read
    // side: over the same thresholded co-purchase graph as
    // graph_triangles, score NON-adjacent part pairs by how many
    // neighbors they share (the classic common-neighbours baseline) and
    // emit the top-20 candidate edges. Wedge enumeration here needs
    // EVERY center (unlike triangle counting, where the degree
    // orientation picks one canonical wedge per triangle), so the hub
    // guard is explicit instead: centers above the degree cap are
    // excluded (fixture max degree 13 — the cap only bites at scale,
    // where a hub center's D² pair fan-out adds noise-floor signal at
    // quadratic cost; hub-removal is the standard link-prediction
    // practice). Non-adjacency = left_anti against the canonical u<v
    // edge set; candidate ranking lands in TakeOrderedAndProject.
    "graph_common_neighbors" -> ((s, dir) => {
      val edges = copurchEdges(s, dir) // published artifact (round 11)
      val adj = edges.select(col("u").as("c"), col("v").as("nb"))
        .unionAll(edges.select(col("v").as("c"), col("u").as("nb")))
      val centerDeg = adj.groupBy("c").agg(count(lit(1)).as("dg"))
      val small = util.Views.materialize(
        adj.join(centerDeg.filter(col("dg") <= 64), "c").select("c", "nb"))
      val cn = small.as("x").join(small.as("y"),
          col("x.c") === col("y.c") && col("x.nb") < col("y.nb"))
        .groupBy(col("x.nb").as("u"), col("y.nb").as("v"))
        .agg(count(lit(1)).as("n_common"))
      cn.join(edges, Seq("u", "v"), "left_anti")
        .orderBy(col("n_common").desc, col("u"), col("v"))
        .limit(20)
    }),


    // RECURSIVE CTE (Spark 4's WITH RECURSIVE) — iterative graph
    // traversal expressed DECLARATIVELY: multi-hop reachability over the
    // thresholded co-purchase graph from a sparse seed set, reporting
    // how many parts are first reached at each hop (the BFS frontier
    // profile). The engine's hand-built iterative twin is
    // dedup_clusters' driver loop; the recursive form keeps the whole
    // iteration inside one SQL plan. Hop cap 3 bounds path enumeration
    // (UNION ALL recursion enumerates PATHS — on a denser graph the cap
    // and the support threshold are the fan-out guards, the same role
    // the LSH df-cap plays); first-reach dedup is a min-hop aggregate
    // at the end. DuckDB runs the identical recursion.
    "graph_reachability" -> ((s, dir) => {
      // Each recursive step re-evaluates the plan under the anchor CTEs,
      // so the edge input must be cheap per hop: round 11 re-based it on
      // the PUBLISHED bucketed artifact (the in-query derivation ran
      // once per hop before materialization was added — 7.2 s at sf0.1;
      // a cached scan of the stored table is the cluster-scale shape).
      graft.util.Views.materialize(copurchEdges(s, dir))
        .createOrReplaceTempView("graft_reach_edges")
      s.sql("""
        WITH RECURSIVE adj AS (
          SELECT u AS src, v AS dst FROM graft_reach_edges
          UNION ALL SELECT v, u FROM graft_reach_edges),
        r(n, hop) AS (
          SELECT DISTINCT src AS n, 0 AS hop FROM adj WHERE src % 97 = 0
          UNION ALL
          SELECT adj.dst, r.hop + 1 FROM r JOIN adj ON r.n = adj.src
          WHERE r.hop < 3)
        SELECT hop, count(*) AS n_first_reached
        FROM (SELECT n, min(hop) AS hop FROM r GROUP BY n)
        GROUP BY hop ORDER BY hop""")
    }),


    // LINK PREDICTION, Jaccard variant — common-neighbours normalized by
    // the neighbourhood union: |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)|, which demotes
    // hub-adjacent pairs that the raw count over-ranks. Reuses the
    // graph_common_neighbors wedge machinery (same thresholded
    // co-purchase graph, same ≤64-degree center cap) plus one broadcast
    // degree join; the score is an exact integer ratio (×1e6 div) so the
    // ranking hashes identically cross-engine. Top-20 lands in
    // TakeOrderedAndProject — no global sort materializes.
    "graph_link_prediction" -> ((s, dir) => {
      val edges = copurchEdges(s, dir) // published artifact (round 11)
      val adj = edges.select(col("u").as("c"), col("v").as("nb"))
        .unionAll(edges.select(col("v").as("c"), col("u").as("nb")))
      val deg = adj.groupBy(col("nb")).agg(count(lit(1)).as("dg"))
      val centerDeg = adj.groupBy("c").agg(count(lit(1)).as("dg"))
      val small = util.Views.materialize(
        adj.join(centerDeg.filter(col("dg") <= 64), "c").select("c", "nb"))
      val cn = small.as("x").join(small.as("y"),
          col("x.c") === col("y.c") && col("x.nb") < col("y.nb"))
        .groupBy(col("x.nb").as("u"), col("y.nb").as("v"))
        .agg(count(lit(1)).as("n_common"))
      cn.join(edges, Seq("u", "v"), "left_anti")
        .join(broadcast(deg.select(col("nb").as("u"), col("dg").as("du"))), "u")
        .join(broadcast(deg.select(col("nb").as("v"), col("dg").as("dv"))), "v")
        .withColumn("jaccard_q",
          expr("n_common * 1000000 div (du + dv - n_common)"))
        .select("u", "v", "n_common", "du", "dv", "jaccard_q")
        .orderBy(col("jaccard_q").desc, col("u"), col("v"))
        .limit(20)
    }),


    // EXACT MEDIA DEDUP — the multimodal twin of dedup_exact: identical
    // binary payloads collapse by md5 over the raw bytes (the standard
    // content-addressed-store key), per format: asset count, distinct
    // payloads, duplicate assets, and the bytes a dedup pass reclaims
    // (every byte beyond each group's min-media_id survivor). Payload
    // hashing is row-local; the group-and-rollup is one keyed aggregate
    // on (format, md5) then one tiny per-format rollup — the same
    // two-level shape dedup_exact scales with.
    "mm_dedup_exact" -> ((s, dir) => {
      val media = multimodal.Multimodal.synthesize(Sources.documents(s, dir))
        .select(col("media_id"), col("meta.format").as("format"),
          md5(col("payload")).as("h"),
          length(col("payload")).cast("long").as("n_bytes"))
      val groups = media.groupBy("format", "h")
        .agg(count(lit(1)).as("n_assets"), min(col("media_id")).as("survivor_id"),
          sum(col("n_bytes")).as("group_bytes"), max(col("n_bytes")).as("one_size"))
      groups.groupBy("format")
        .agg(sum(col("n_assets")).as("n_assets"),
          count(lit(1)).as("n_unique_payloads"),
          sum(col("n_assets") - 1).as("n_dup_assets"),
          sum(col("group_bytes") - col("one_size")).as("bytes_reclaimed"))
        .orderBy("format")
    }),


    // DATA PROFILING SUMMARY — the first query any warehouse runs on an
    // unknown table: per column, row/null/distinct counts in ONE pass
    // (the distinct aggregates Expand the scan ×columns — at 100 TB you
    // trade that for approx_count_distinct; the exact twin is the
    // correctness tier here, same pattern as the sketch families). The
    // stack() unpivot emits one row per column from the single
    // aggregate row — no per-column scans, no driver loops.
    "data_profile_summary" -> ((s, dir) => {
      // Round 14 A/B: width-guarding this scan (Par.widen by o_orderkey)
      // measured 1.24 -> 1.48 s and 3.1 -> 8.5 MB shuffle — the Expand's
      // serialized CPU is cheaper than shipping the full-width order
      // rows. REVERTED; the single-split Expand stands at fixture scale.
      val o = Sources.orders(s, dir)
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap { c =>
          Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
            countDistinct(col(c)).as(s"dist_$c"))
        }
      val one = o.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c => s"'$c', null_$c, dist_$c").mkString(", ")
      one.selectExpr(
          s"stack(${cols.length}, $stackArgs) AS (column_name, n_null, n_distinct)",
          "n_rows")
        .orderBy("column_name")
    }),


    // ROLLUP-MV REWRITE (engine feature — plans/MvRewrite.scala +
    // plans/Mv.scala): the query is written against the FACT table, and
    // the injected optimizer rule re-plans it as a RE-aggregation of the
    // (l_returnflag, l_linestatus) materialized view — associative state
    // (sum/count/min/max) folds onto any grain subset, so the steady-
    // state read touches |MV| rows (≤ ~6 here) instead of |lineitem|.
    // The MV itself is a write-once stored artifact (built in warm-up,
    // probed in timed reps — the `_stored` protocol); the ORACLE
    // recomputes from the raw fact, so a rewrite that ever changed
    // semantics would hash-mismatch, and MvRewriteSpec pins that the
    // rewritten plan scans the MV path and not the fact. At 100 TB this
    // is the warehouse dashboard shape: ingest maintains the rollup,
    // queries never rescan history.
    "mv_rollup_stored" -> ((s, dir) => {
      plans.Mv.ensureLineitemMv(s, dir)
      Sources.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          sum(util.Stable.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(util.Stable.dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),


    // The GRAIN-PREDICATE variant: a filter on an MV grain column
    // selects whole MV groups, so it transplants onto the MV scan and
    // the rewrite still fires (a non-grain predicate — l_shipdate, say —
    // correctly blocks it; MvRewriteSpec pins both directions). Also
    // exercises the min/max re-aggregation path (min of per-group
    // minima) under an expression tree around the aggregate
    // (unix_micros(min(...)) — the rewrite maps the AGGREGATE node and
    // carries the surrounding tree verbatim).
    "mv_rollup_filtered_stored" -> ((s, dir) => {
      plans.Mv.ensureLineitemMv(s, dir)
      Sources.lineitem(s, dir)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          // l_shipdate is TIMESTAMP_NTZ in the testdata; the UTC-pinned
          // session makes the NTZ→TZ cast a wall-clock no-op, so
          // unix_micros is exact (the Sources.events discipline).
          unix_micros(min(col("l_shipdate")).cast("timestamp")).as("min_ship_us"),
          unix_micros(max(col("l_shipdate")).cast("timestamp")).as("max_ship_us"))
        .orderBy("l_returnflag")
    }),


    // STAR-SCHEMA MV REWRITE (round 10, VERDICT r9 task #7): the query
    // is the dominant BI shape — aggregate over fact ⋈ broadcast-dim
    // with a dim predicate — and the extended matcher re-plans it as
    // the same aggregate over MV ⋈ dim: the (l_returnflag, l_suppkey)
    // rollup carries the FK in its grain, supplier joins key-preserving
    // on its unique s_suppkey (TPC-H referential integrity, declared
    // via MvDim like the sums contract), so the dim predicate selects
    // whole MV rows. The ORACLE recomputes from the raw fact ⋈ dim;
    // MvRewriteSpec pins that the optimized plan scans the MV and that
    // non-key-preserving joins / dim-column groupings stay on the fact.
    "mv_rollup_dim_stored" -> ((s, dir) => {
      plans.Mv.ensureLineitemSuppMv(s, dir)
      Sources.lineitem(s, dir)
        .join(Sources.supplier(s, dir).filter(col("s_nationkey") < 5),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_returnflag")
        .agg(
          sum(util.Stable.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),


    // MULTI-DIM STAR REWRITE (round 11, VERDICT r10 task #5): the
    // dominant BI shape joins SEVERAL dimensions around one fact — here
    // supplier (nation predicate) AND part (size predicate) — and the
    // chain matcher peels both registered key-preserving MvDims, so the
    // aggregate plans over MV ⋈ supplier ⋈ part: |MV| rows plus two
    // broadcast dims instead of the fact scan. The ORACLE recomputes
    // from the raw three-way join — a rewrite that duplicated or
    // dropped a single fact row would hash-mismatch; MvRewriteSpec pins
    // the MV-scan plan shape and the blocking negatives for mixed
    // eligible/ineligible chains.
    "mv_rollup_2dim_stored" -> ((s, dir) => {
      plans.Mv.ensureLineitemSuppPartMv(s, dir)
      Sources.lineitem(s, dir)
        .join(Sources.supplier(s, dir).filter(col("s_nationkey") < 10),
          col("l_suppkey") === col("s_suppkey"))
        .join(Sources.part(s, dir).filter(col("p_size") < 25),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_returnflag")
        .agg(
          sum(util.Stable.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),


    // INCREMENTAL MV REFRESH (plans/Mv.scala): the day-grain events
    // rollup is maintained warehouse-style — history partials live in a
    // write-once store whose marker carries the refresh cutoff (a
    // catalog watermark, read back driver-side with no corpus scan), and
    // each invocation aggregates ONLY the `[cutoff, ∞)` delta through
    // the footer-pruned `eventsTsRange` scan, then merges by
    // re-aggregating the associative partials. The oracle recomputes the
    // full-corpus aggregate from scratch — refresh-equals-recompute is
    // exactly the incremental-view-maintenance contract. At 100 TB the
    // delta scan reads a week of row groups, not two years.
    "mv_refresh_incremental_stored" -> ((s, dir) =>
      plans.Mv.refreshedEventsDay(s, dir).orderBy("day", "event_type")),


    // STREAM-MAINTAINED MV (round 12, VERDICT r11 #3): the day rollup as
    // a long-running ingest leaves it on disk — a versioned snapshot
    // store folded one micro-batch at a time through the
    // Streams.mvRollupIngest merge (only touched grain keys commit per
    // batch; the fact is never rescanned). The artifact here is built by
    // running the corpus through that same per-batch fold in 4
    // deterministic arrival slices; the probe reads the store's LATEST
    // version — no aggregation at read time at all. The oracle recomputes
    // from scratch: streamed-maintenance ≡ recompute is the contract.
    "mv_rollup_live_stored" -> ((s, dir) => {
      val store = plans.Mv.ensureEventsDayLiveMv(s, dir)
      plans.Mv.liveEventsDay(s, store).orderBy("day", "event_type")
    }),


    // TIME TRAVEL over the stream-maintained MV: the store's version 2
    // is, by the marker-gated fold's construction, exactly the rollup of
    // the first two arrival slices (event_id % 4 IN (0, 1)) — and the
    // oracle RECOMPUTES that prefix from the raw fact, so one
    // mis-attributed micro-batch, one double-fold, or one latest-wins
    // slip in the snapshot store's as-of read changes a counter and
    // hash-fails. This is the replayable per-batch history a versioned
    // MV store buys (audits, backfills, "what did the dashboard say
    // before batch 3"), checkable because arrival slicing is
    // deterministic.
    "mv_rollup_live_asof" -> ((s, dir) => {
      val store = plans.Mv.ensureEventsDayLiveMv(s, dir)
      sources.SnapshotStore.readAsOf(s, store, "mv_key", 2)
        .select(col("day"), col("event_type"), col("cnt").as("n_events"),
          col("sum_cents").as("value_cents"))
        .orderBy("day", "event_type")
    }),


    // Newman MODULARITY of the BRAND partition over the co-purchase
    // graph — "do same-brand parts co-purchase more than a random graph
    // with these degrees would?", the partition-quality score every
    // community-detection pipeline optimizes, computed EXACTLY:
    // Q = Σ_c(4m·e_c − d_c²)/(4m²) keeps the numerator in BIGINT (e_c =
    // intra-community edges, d_c = community degree mass) with ONE
    // closing division. Attribute-derived communities (label = p_brand,
    // a broadcast dimension join) keep the whole thing two keyed
    // aggregates over the edge list — evaluating a CANDIDATE partition
    // is the cheap inner step that iterative community detection
    // (Louvain et al.) repeats; this is that step, distributed, with the
    // graph_triangles support-thresholded edge construction.
    "graph_modularity" -> ((s, dir) => {
      val edges = copurchEdges(s, dir) // published artifact (round 11)
      val nb = edges.select(col("u").as("n"), col("v").as("m"))
        .unionAll(edges.select(col("v").as("n"), col("u").as("m")))
      // Labels come ONLY from the part dimension (no edge lineage), so
      // joining them against edges/degrees can never trip the
      // ambiguous-self-join analyzer check.
      val partLabels = Sources.part(s, dir)
        .select(col("p_partkey").as("n"), col("p_brand").as("l"))
      val m = edges.agg(count(lit(1)).as("m"))
      val deg = nb.groupBy("n").agg(count(lit(1)).as("dg"))
      val nodesL = deg.join(broadcast(partLabels), "n")
      val ec = edges
        .join(broadcast(partLabels.select(col("n").as("u"), col("l").as("lu"))), "u")
        .join(broadcast(partLabels.select(col("n").as("v"), col("l").as("lv"))), "v")
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("c")).agg(count(lit(1)).as("e_c"))
      val dc = nodesL.groupBy(col("l").as("c")).agg(sum(col("dg")).as("d_c"))
      val perC = dc.join(ec, Seq("c"), "left")
        .select(col("c"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
        .crossJoin(broadcast(m))
        .select((lit(4L) * col("m") * col("e_c") -
          col("d_c") * col("d_c")).as("term"))
      val sizes = nodesL.groupBy("l").agg(count(lit(1)).as("sz"))
      nodesL.agg(count(lit(1)).as("n_nodes"),
          countDistinct(col("l")).as("n_communities"))
        .crossJoin(broadcast(m.select(col("m").as("n_edges"))))
        .crossJoin(broadcast(sizes.agg(max(col("sz")).as("largest"))))
        .crossJoin(broadcast(perC.agg(sum(col("term")).as("qnum"))))
        .select(col("n_nodes"), col("n_edges"), col("n_communities"),
          col("largest"),
          (col("qnum").cast("double") /
            (lit(4.0) * col("n_edges").cast("double") *
              col("n_edges").cast("double"))).as("modularity"))
    }),


    // DEGREE ASSORTATIVITY of the part co-purchase graph — "do hubs
    // link to hubs?": the Pearson correlation of endpoint degrees over
    // the edge list (each undirected edge contributes both
    // orientations, the standard convention). Completes the graph-
    // analytics suite's structural readouts (triangles = clustering,
    // modularity = partition quality, this = degree mixing). Degrees
    // are one keyed aggregate broadcast-joined back to the edges; the
    // moments are PURE BIGINT (the corr_matrix discipline) with one
    // final sqrt+divide tree. Edge derivation = the thresholded
    // distinct-pair graph shared with graph_triangles/common_neighbors.
    "graph_assortativity" -> ((s, dir) => {
      val edges = copurchEdges(s, dir) // published artifact (round 11)
      val dir2 = edges.select(col("u").as("x"), col("v").as("y"))
        .unionAll(edges.select(col("v").as("x"), col("u").as("y")))
      val deg = dir2.groupBy("x").agg(count(lit(1)).as("d"))
      val ed = dir2
        .join(deg.select(col("x"), col("d").as("dx")), "x")
        .join(deg.select(col("x").as("y"), col("d").as("dy")), "y")
      ed.agg(count(lit(1)).as("m2"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"),
          sum(col("dx") * col("dy")).as("sxy"))
        .withColumn("num",
          (col("m2") * col("sxy") - col("sx") * col("sy")).cast("double"))
        .withColumn("vx",
          (col("m2") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("vy",
          (col("m2") * col("syy") - col("sy") * col("sy")).cast("double"))
        .select(col("m2"),
          (col("num") / nullif(sqrt(col("vx") * col("vy")), lit(0.0)))
            .as("assortativity"))
    }),


    // MULTIMODAL NEAR-DUP (perceptual-hash shape) — the near-duplicate
    // tier for binary assets beside mm_dedup_exact's content addressing:
    // a 60-bit chunk-hash signature (15 payload chunks × 4 md5 bits —
    // where a real pipeline computes pHash/aHash from decoded pixels,
    // the banding/verify plumbing is identical and the chunk hash is the
    // deterministic offline stand-in), banded 4×15 bits — banding
    // guarantees a shared bucket only for pairs whose differing bits
    // miss at least one band entirely (hamming ≤ 8 spread as ≤2 bits
    // per band across all 4 bands yields zero shared buckets and is
    // missed — an accepted-recall trade, mirrored exactly by the
    // oracle), candidates verified by bit_count(xor) ≤ 8.
    // Near-copies are injected in-query (one mutated middle chunk,
    // disjoint id space — the docs_cross_source_dup discipline) since
    // the fixture has no natural near-dups. Never all-pairs: candidates
    // come only from band buckets.
    "mm_phash_near_dup" -> ((s, dir) => {
      val base = Sources.documents(s, dir)
        .select(col("doc_id").as("media_id"), col("text").as("txt"))
      val copies = base.filter(col("media_id") % 37 === 5)
        .select((col("media_id") + 1000000L).as("media_id"),
          concat(expr("substring(txt, 1, length(txt) div 2)"), lit("XX"),
            expr("substring(txt, length(txt) div 2 + 3, length(txt))"))
            .as("txt"))
      val assets = base.unionByName(copies)
      val clen = "((length(txt) + 14) div 15)"
      val phashExpr = (0 until 15).map { i =>
        s"(conv(substring(md5(cast(concat('ph:', substring(txt, $i * $clen + 1, $clen)) as binary)), 1, 1), 16, 10) * cast(${1L << (4 * i)} as bigint))"
      }.mkString("(", " + ", ")")
      val ph = util.Views.materialize(
        assets.select(col("media_id"), expr(phashExpr).cast("long").as("phash")))
      val bands = ph.select(col("media_id"), col("phash"),
          explode(expr("array(0, 1, 2, 3)")).as("b"))
        .withColumn("bv", expr("shiftright(phash, b * 15) % 32768"))
      bands.as("x").join(bands.as("y"),
          col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
            col("x.media_id") < col("y.media_id"))
        .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
          expr("bit_count(x.phash ^ y.phash)").cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 8)
        .orderBy("id_a", "id_b")
    }),


    // GLOBAL CLUSTERING COEFFICIENT — 3·triangles / open-wedge count
    // Σ C(d,2): the transitivity number completing the structural
    // readouts (triangles = count, assortativity = degree mixing, this
    // = closure probability). Reuses the degree-ordered orientation
    // (wedges enumerated over out-neighbors only — the √(2m) hub
    // guard); the denominator needs no join at all, it re-aggregates
    // the degree table. One row out.
    "graph_clustering_coeff" -> ((s, dir) => {
      val edges = copurchEdges(s, dir) // published artifact (round 11)
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      val pi = deg.select(col("n"),
        (col("dg") * lit(10000000000L) + col("n")).as("pi"))
      val oriented = util.Views.materialize(edges
        .join(pi.select(col("n").as("u"), col("pi").as("pi_u")), "u")
        .join(pi.select(col("n").as("v"), col("pi").as("pi_v")), "v")
        .select(
          when(col("pi_u") < col("pi_v"), col("u")).otherwise(col("v")).as("src"),
          when(col("pi_u") < col("pi_v"), col("v")).otherwise(col("u")).as("dst"),
          greatest(col("pi_u"), col("pi_v")).as("pi_dst")))
      val owedges = oriented.as("e1").join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.pi_dst") < col("e2.pi_dst"))
        .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
      val triangles = owedges.join(oriented,
        col("b") === col("src") && col("c") === col("dst"))
      deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
        .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(triangles.agg(count(lit(1)).as("n_triangles"))))
        .withColumn("global_cc", (col("n_triangles") * 3L).cast("double") /
          nullif(col("n_wedges").cast("double"), lit(0.0)))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles", "global_cc")
    }),


    // DATA-CONTRACT VALIDATION — the expectations audit every ingest
    // runs before publishing a table: per declared constraint
    // (uniqueness, null rate, enum membership, range, parseability),
    // exact violation counts and a pass verdict, in ONE shuffle-free
    // corpus pass (a single conditional aggregate + stack — never one
    // scan per rule). Constraint thresholds are build-time literals
    // shared with the oracle.
    "data_contract_check" -> ((s, dir) => {
      val ev = Sources.events(s, dir)
      ev.agg(
          count(lit(1)).as("n"),
          (count(lit(1)) - countDistinct(col("event_id"))).as("v_unique"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("v_null_user"),
          sum(when(!col("event_type").isin(
            "click", "purchase", "signup", "view", "error"), 1L)
            .otherwise(0L)).as("v_enum"),
          sum(when(col("value") < 0.0, 1L).otherwise(0L)).as("v_negval"),
          sum(when(expr("ts DIV 86400000000000") < 19000L ||
            expr("ts DIV 86400000000000") > 20500L, 1L).otherwise(0L))
            .as("v_tsrange"),
          // NULL props is an explicit violation on BOTH sides (a bare
          // try_parse_json(NULL) IS NULL counts it here but DuckDB's
          // NOT json_valid(NULL) yields NULL → 0 — silent divergence).
          sum(when(col("props").isNull ||
            expr("try_parse_json(props)").isNull, 1L).otherwise(0L))
            .as("v_json"))
        .selectExpr("n",
          "stack(6, 'event_id_unique', v_unique, 'user_id_not_null', " +
            "v_null_user, 'event_type_in_enum', v_enum, " +
            "'value_non_negative', v_negval, 'ts_in_range', v_tsrange, " +
            "'props_valid_json', v_json) AS (constraint, n_violations)")
        .select(col("constraint"), col("n").as("n_checked"),
          col("n_violations"),
          (col("n_violations") === 0L).cast("int").as("pass"))
        .orderBy("constraint")
    }),


    // DEGREE DISTRIBUTION of the co-purchase graph — the first plot any
    // graph analysis draws (is this power-law?): power-of-two degree
    // buckets via the binary-rendering length (the docs_length_histogram
    // discipline — no float log2 boundary), node/edge-mass per bucket.
    // Degree table re-aggregate only; no join.
    "graph_degree_histogram" -> ((s, dir) => {
      val edges = copurchEdges(s, dir) // published artifact (round 11)
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      deg.withColumn("bucket", length(bin(col("dg"))) - 1)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("degree_mass"),
          min(col("dg")).as("min_degree"), max(col("dg")).as("max_degree"))
        .withColumn("bucket_lo", expr("shiftleft(CAST(1 AS BIGINT), bucket)"))
        .select(col("bucket").cast("long").as("bucket"), col("bucket_lo"),
          col("n_nodes"), col("degree_mass"), col("min_degree"),
          col("max_degree"))
        .orderBy("bucket")
    }),
  )

  def oracles: Map[String, String] = Map(
    "idx_union_years" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS "year",
        |  count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) IN (1995, 1996, 1997)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "idx_financials" -> idx.FinancialReport.oracleSql,

    "data_ri_audit" -> {
      def rel(name: String, child: String, fk: String, parent: String, pk: String) =
        s"""SELECT '$name' AS rel,
           |  (SELECT count(*) FROM $child) AS n_rows,
           |  (SELECT count(*) FROM $child ch
           |   WHERE NOT EXISTS (SELECT 1 FROM $parent pa WHERE pa.$pk = ch.$fk))
           |  AS n_orphans""".stripMargin
      Seq(
        rel("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        rel("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        rel("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        rel("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        rel("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
        rel("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        rel("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY rel")
    },

    "mm_catalog" ->
      s"""${multimodal.Multimodal.catalogSql("documents", 128)}
         |ORDER BY media_id""".stripMargin,

    "mm_frame_sample" ->
      s"""${multimodal.Multimodal.frameSampleSql("documents", 250)}
         |ORDER BY media_id, sample_ms""".stripMargin,

    "mm_audio_windows" ->
      s"""${multimodal.Multimodal.audioWindowSql("documents", 400, 160)}
         |ORDER BY media_id""".stripMargin,

    "mm_pack_shards" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) + 512 AS rec_bytes,
        |    doc_id % 16 AS bucket,
        |    md5(CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents),
        |c AS (
        |  SELECT *, CAST(sum(rec_bytes) OVER (PARTITION BY bucket
        |      ORDER BY rk, media_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM m),
        |d AS (SELECT *, (cum - rec_bytes) // 16384 AS shard_idx FROM c)
        |SELECT media_id, bucket, shard_idx, rec_bytes,
        |  CAST(coalesce(sum(rec_bytes) OVER (PARTITION BY bucket, shard_idx
        |      ORDER BY rk, media_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS byte_offset
        |FROM d ORDER BY media_id""".stripMargin,

    // The stubbed decode is deterministic byte statistics over the UTF-8
    // payload, and the fixture text is pure ASCII (verified: octet_length
    // == length for every doc), so char code points == payload bytes and
    // the whole mapPartitions pass is mirrorable in SQL. A REAL codec
    // would be rows-only — this pins the plumbing (schema, encoders,
    // batch shape) cross-engine while the stub stands in.
    "mm_decode_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN length(text) = 0 THEN -1
        |            ELSE ascii(substring(text, 1, 1)) END AS INTEGER) AS first_byte,
        |  CAST(coalesce(list_sum([ascii(text[i]) FOR i IN range(1, length(text) + 1)]), 0)
        |       AS BIGINT) AS byte_sum,
        |  CAST(octet_length(encode(text)) // 256 + 1 AS INTEGER) AS n_frames,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(coalesce(list_sum([ascii(text[i]) FOR i IN range(1, length(text) + 1)]), 0) AS DOUBLE)
        |            / octet_length(encode(text)) END AS mean_byte
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_decode_png" ->
      s"""${multimodal.Multimodal.decodePngSql("documents")}
         |ORDER BY media_id""".stripMargin,

    "mm_decode_jpeg" ->
      s"""${multimodal.Multimodal.decodeJpegSql("documents")}
         |ORDER BY media_id""".stripMargin,

    "mm_decode_quarantine" ->
      s"""${multimodal.Multimodal.quarantineSql("documents")}
         |ORDER BY media_id""".stripMargin,

    "idx_null_handling" ->
      """SELECT c_custkey,
        |  COALESCE(CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END, -1.0) AS bal_filled,
        |  COALESCE(CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal_coalesced,
        |  COALESCE(CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_name END, '') AS name_defaulted
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "graph_pagerank" -> {
      // Both directions of the distinct bipartite edge set; the
      // iteration CTEs come from the same generator (constants shared
      // with the Spark loop by construction).
      val und =
        """SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS src,
          |                CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst FROM lineitem""".stripMargin
      val edgesSql =
        s"""SELECT src, dst FROM ($und) fwd
           |UNION ALL
           |SELECT dst AS src, src AS dst FROM ($und) rev""".stripMargin
      s"""${graph.PageRank.ranksSql(edgesSql, iters = 3)}
         |SELECT node, node % 2 AS is_supplier, pr
         |FROM r3 ORDER BY pr DESC, node LIMIT 100""".stripMargin
    },

    "graph_pagerank_directed" -> {
      val edgesSql =
        """SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS src,
          |                CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst FROM lineitem""".stripMargin
      s"""${graph.PageRank.ranksDirectedSql(edgesSql, iters = 3)}
         |SELECT node, node % 2 AS is_supplier, pr
         |FROM r3 ORDER BY pr DESC, node LIMIT 100""".stripMargin
    },

    // The stored tiers compute the SAME ranks from the published edge
    // layout — one oracle each, shared with the in-query twins (the
    // dedup_incremental_lsh_stored discipline: a parquet/bucketing
    // round-trip that changed a single rank unit would hash-mismatch).
    "graph_pagerank_stored" -> {
      val und =
        """SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS src,
          |                CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst FROM lineitem""".stripMargin
      val edgesSql =
        s"""SELECT src, dst FROM ($und) fwd
           |UNION ALL
           |SELECT dst AS src, src AS dst FROM ($und) rev""".stripMargin
      s"""${graph.PageRank.ranksSql(edgesSql, iters = 3)}
         |SELECT node, node % 2 AS is_supplier, pr
         |FROM r3 ORDER BY pr DESC, node LIMIT 100""".stripMargin
    },

    "graph_pagerank_directed_stored" -> {
      val edgesSql =
        """SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS src,
          |                CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst FROM lineitem""".stripMargin
      s"""${graph.PageRank.ranksDirectedSql(edgesSql, iters = 3)}
         |SELECT node, node % 2 AS is_supplier, pr
         |FROM r3 ORDER BY pr DESC, node LIMIT 100""".stripMargin
    },

    "graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT n, count(*) AS dg
        |  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY 1),
        |pi AS (SELECT n, dg * 10000000000 + n AS pi FROM deg),
        |o AS (
        |  SELECT CASE WHEN pu.pi < pv.pi THEN e.u ELSE e.v END AS src,
        |         CASE WHEN pu.pi < pv.pi THEN e.v ELSE e.u END AS dst,
        |         greatest(pu.pi, pv.pi) AS pi_dst
        |  FROM edges e JOIN pi pu ON pu.n = e.u JOIN pi pv ON pv.n = e.v),
        |w AS (
        |  SELECT e1.dst AS b, e2.dst AS c
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.pi_dst < e2.pi_dst),
        |t AS (SELECT count(*) AS n_triangles
        |      FROM w JOIN o ON o.src = w.b AND o.dst = w.c)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM edges) AS n_edges,
        |  (SELECT count(*) FROM w) AS n_wedges,
        |  (SELECT n_triangles FROM t) AS n_triangles""".stripMargin,

    "graph_kcore" -> {
      // Fixed 10-round unroll mirroring the Spark loop (the pagerank
      // oracle discipline — iteration count generated next to the loop
      // so they cannot drift).
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
      // reference, and each round references its predecessor four times
      // — 10 inlined rounds would expand 4^10-fold and never finish.
      val rounds = (1 to 6).map { i =>
        s"""n$i AS MATERIALIZED (
           |  SELECT node FROM (
           |    SELECT e.u AS node FROM edges e
           |    WHERE e.u IN (SELECT node FROM n${i - 1})
           |      AND e.v IN (SELECT node FROM n${i - 1})
           |    UNION ALL
           |    SELECT e.v FROM edges e
           |    WHERE e.u IN (SELECT node FROM n${i - 1})
           |      AND e.v IN (SELECT node FROM n${i - 1}))
           |  GROUP BY 1 HAVING count(*) >= 3)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |edges AS (
         |  SELECT a.p AS u, b.p AS v
         |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |n0 AS (
         |  SELECT n AS node
         |  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
         |  GROUP BY 1 HAVING count(*) >= 3),
         |$rounds
         |SELECT node, count(*) AS core_degree FROM (
         |  SELECT e.u AS node FROM edges e
         |  WHERE e.u IN (SELECT node FROM n6) AND e.v IN (SELECT node FROM n6)
         |  UNION ALL
         |  SELECT e.v FROM edges e
         |  WHERE e.u IN (SELECT node FROM n6) AND e.v IN (SELECT node FROM n6))
         |GROUP BY 1 ORDER BY node""".stripMargin
    },

    // Stored-edge twin: same peel recurrence over the same edge set —
    // identical oracle to graph_kcore.
    "graph_kcore_stored" -> {
      val rounds = (1 to 6).map { i =>
        s"""n$i AS MATERIALIZED (
           |  SELECT node FROM (
           |    SELECT e.u AS node FROM edges e
           |    WHERE e.u IN (SELECT node FROM n${i - 1})
           |      AND e.v IN (SELECT node FROM n${i - 1})
           |    UNION ALL
           |    SELECT e.v FROM edges e
           |    WHERE e.u IN (SELECT node FROM n${i - 1})
           |      AND e.v IN (SELECT node FROM n${i - 1}))
           |  GROUP BY 1 HAVING count(*) >= 3)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |edges AS (
         |  SELECT a.p AS u, b.p AS v
         |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |n0 AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
         |  GROUP BY 1 HAVING count(*) >= 3),
         |$rounds
         |SELECT node, count(*) AS core_degree FROM (
         |  SELECT e.u AS node FROM edges e
         |  WHERE e.u IN (SELECT node FROM n6) AND e.v IN (SELECT node FROM n6)
         |  UNION ALL
         |  SELECT e.v FROM edges e
         |  WHERE e.u IN (SELECT node FROM n6) AND e.v IN (SELECT node FROM n6))
         |GROUP BY 1 ORDER BY node""".stripMargin
    },

    "graph_common_neighbors" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS c, v AS nb FROM edges
        |        UNION ALL SELECT v, u FROM edges),
        |cd AS (SELECT c, count(*) AS dg FROM adj GROUP BY 1),
        |sm AS (SELECT adj.c, adj.nb FROM adj JOIN cd USING (c) WHERE dg <= 64),
        |cn AS (
        |  SELECT x.nb AS u, y.nb AS v, count(*) AS n_common
        |  FROM sm x JOIN sm y ON x.c = y.c AND x.nb < y.nb
        |  GROUP BY 1, 2)
        |SELECT cn.u, cn.v, cn.n_common
        |FROM cn LEFT JOIN edges e ON cn.u = e.u AND cn.v = e.v
        |WHERE e.u IS NULL
        |ORDER BY cn.n_common DESC, cn.u, cn.v LIMIT 20""".stripMargin,

    "graph_reachability" ->
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS src, v AS dst FROM edges
        |        UNION ALL SELECT v, u FROM edges),
        |r(n, hop) AS (
        |  SELECT DISTINCT src AS n, 0 AS hop FROM adj WHERE src % 97 = 0
        |  UNION ALL
        |  SELECT adj.dst, r.hop + 1 FROM r JOIN adj ON r.n = adj.src
        |  WHERE r.hop < 3)
        |SELECT hop, count(*) AS n_first_reached
        |FROM (SELECT n, min(hop) AS hop FROM r GROUP BY n)
        |GROUP BY hop ORDER BY hop""".stripMargin,

    "graph_link_prediction" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS c, v AS nb FROM edges
        |        UNION ALL SELECT v, u FROM edges),
        |deg AS (SELECT nb, count(*) AS dg FROM adj GROUP BY 1),
        |cd AS (SELECT c, count(*) AS dg FROM adj GROUP BY 1),
        |sm AS (SELECT adj.c, adj.nb FROM adj JOIN cd USING (c) WHERE dg <= 64),
        |cn AS (
        |  SELECT x.nb AS u, y.nb AS v, count(*) AS n_common
        |  FROM sm x JOIN sm y ON x.c = y.c AND x.nb < y.nb
        |  GROUP BY 1, 2),
        |nonadj AS (
        |  SELECT cn.u, cn.v, cn.n_common
        |  FROM cn LEFT JOIN edges e ON cn.u = e.u AND cn.v = e.v
        |  WHERE e.u IS NULL)
        |SELECT nonadj.u, nonadj.v, n_common, du.dg AS du, dv.dg AS dv,
        |  n_common * 1000000 // (du.dg + dv.dg - n_common) AS jaccard_q
        |FROM nonadj
        |  JOIN deg du ON du.nb = nonadj.u
        |  JOIN deg dv ON dv.nb = nonadj.v
        |ORDER BY jaccard_q DESC, nonadj.u, nonadj.v LIMIT 20""".stripMargin,

    "mm_dedup_exact" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
        |         ELSE 'wav' END AS format,
        |    md5(text) AS h,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |g AS (
        |  SELECT format, h, count(*) AS n_assets,
        |    CAST(sum(n_bytes) AS BIGINT) AS group_bytes,
        |    max(n_bytes) AS one_size
        |  FROM media GROUP BY 1, 2)
        |SELECT format, CAST(sum(n_assets) AS BIGINT) AS n_assets,
        |  count(*) AS n_unique_payloads,
        |  CAST(sum(n_assets - 1) AS BIGINT) AS n_dup_assets,
        |  CAST(sum(group_bytes - one_size) AS BIGINT) AS bytes_reclaimed
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "data_profile_summary" ->
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS column_name,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null,
        |    count(DISTINCT o_orderkey) AS n_distinct, count(*) AS n_rows
        |  FROM orders
        |  UNION ALL SELECT 'o_custkey',
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_custkey), count(*) FROM orders
        |  UNION ALL SELECT 'o_orderstatus',
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderstatus), count(*) FROM orders
        |  UNION ALL SELECT 'o_totalprice',
        |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_totalprice), count(*) FROM orders
        |  UNION ALL SELECT 'o_orderpriority',
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderpriority), count(*) FROM orders)
        |ORDER BY column_name""".stripMargin,


    // The MV-rewrite oracles recompute from the RAW fact — the whole
    // point: if the optimizer's MV fold ever diverged from first
    // principles, the hash would catch it.
    "mv_rollup_stored" ->
      s"""SELECT l_returnflag,
         |  CAST(sum(${util.Stable.dec2Sql("l_quantity")}) AS DOUBLE) AS sum_qty,
         |  CAST(sum(${util.Stable.dec2Sql("l_extendedprice")}) AS DOUBLE) AS sum_price,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "mv_rollup_dim_stored" ->
      s"""SELECT l_returnflag,
         |  CAST(sum(${util.Stable.dec2Sql("l_quantity")}) AS DOUBLE) AS sum_qty,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |WHERE s_nationkey < 5
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "mv_rollup_2dim_stored" ->
      s"""SELECT l_returnflag,
         |  CAST(sum(${util.Stable.dec2Sql("l_quantity")}) AS DOUBLE) AS sum_qty,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE s_nationkey < 10 AND p_size < 25
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "mv_rollup_filtered_stored" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  epoch_us(min(l_shipdate)) AS min_ship_us,
        |  epoch_us(max(l_shipdate)) AS max_ship_us
        |FROM lineitem WHERE l_linestatus = 'F'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "mv_refresh_incremental_stored" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // The stream-maintained MV must equal the from-scratch aggregate —
    // same contract (and thus same oracle shape) as the incremental
    // refresh, with the store's latest-wins fold replacing the
    // delta-merge.
    "mv_rollup_live_stored" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // Version 2 of the store = the fold of arrival slices 0 and 1
    // (event_id % 4), recomputed here from the raw fact.
    "mv_rollup_live_asof" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events WHERE event_id % 4 IN (0, 1)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "graph_modularity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |nb AS (SELECT u AS n, v AS m FROM e UNION ALL SELECT v, u FROM e),
        |pl AS (SELECT p_partkey AS n, p_brand AS l FROM part),
        |deg AS (SELECT n, count(*) AS dg FROM nb GROUP BY 1),
        |nl AS MATERIALIZED (
        |  SELECT deg.n, deg.dg, pl.l FROM deg JOIN pl USING (n)),
        |mm AS (SELECT count(*) AS m FROM e),
        |ec AS (SELECT lu.l AS c, count(*) AS e_c
        |       FROM e JOIN pl lu ON lu.n = e.u JOIN pl lv ON lv.n = e.v
        |       WHERE lu.l = lv.l GROUP BY 1),
        |dc AS (SELECT l AS c, CAST(sum(dg) AS BIGINT) AS d_c
        |       FROM nl GROUP BY 1),
        |terms AS (SELECT CAST(4 * mm.m * COALESCE(ec.e_c, 0)
        |            - dc.d_c * dc.d_c AS BIGINT) AS term
        |          FROM dc LEFT JOIN ec USING (c) CROSS JOIN mm),
        |sz AS (SELECT l, count(*) AS sz FROM nl GROUP BY 1)
        |SELECT (SELECT count(*) FROM nl) AS n_nodes,
        |  (SELECT m FROM mm) AS n_edges,
        |  (SELECT count(DISTINCT l) FROM nl) AS n_communities,
        |  (SELECT max(sz) FROM sz) AS largest,
        |  CAST((SELECT CAST(sum(term) AS BIGINT) FROM terms) AS DOUBLE)
        |    / (4e0 * (SELECT m FROM mm) * (SELECT m FROM mm))
        |    AS modularity""".stripMargin,


    "graph_assortativity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d2 AS (SELECT u AS x, v AS y FROM edges
        |       UNION ALL SELECT v, u FROM edges),
        |deg AS (SELECT x, count(*) AS d FROM d2 GROUP BY 1),
        |ed AS (
        |  SELECT gx.d AS dx, gy.d AS dy
        |  FROM d2 JOIN deg gx ON d2.x = gx.x JOIN deg gy ON d2.y = gy.x),
        |m AS (
        |  SELECT count(*) AS m2,
        |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |    CAST(sum(dx*dx) AS BIGINT) AS sxx,
        |    CAST(sum(dy*dy) AS BIGINT) AS syy,
        |    CAST(sum(dx*dy) AS BIGINT) AS sxy
        |  FROM ed)
        |SELECT CAST(m2 AS BIGINT) AS m2,
        |  CAST(m2*sxy - sx*sy AS DOUBLE)
        |    / nullif(sqrt(CAST(m2*sxx - sx*sx AS DOUBLE)
        |                  * CAST(m2*syy - sy*sy AS DOUBLE)), 0.0)
        |    AS assortativity
        |FROM m""".stripMargin,


    "mm_phash_near_dup" -> {
      val clen = "((length(txt) + 14) // 15)"
      val phash = (0 until 15).map { i =>
        s"(CAST(concat('0x', substr(md5(concat('ph:', substring(txt, $i * $clen + 1, $clen))), 1, 1)) AS BIGINT) * ${1L << (4 * i)})"
      }.mkString("(", " + ", ")")
      s"""WITH base AS (
         |  SELECT doc_id AS media_id, text AS txt FROM documents),
         |copies AS (
         |  SELECT media_id + 1000000 AS media_id,
         |    substring(txt, 1, length(txt) // 2) || 'XX' ||
         |      substring(txt, length(txt) // 2 + 3, length(txt)) AS txt
         |  FROM base WHERE media_id % 37 = 5),
         |assets AS (SELECT * FROM base UNION ALL SELECT * FROM copies),
         |ph AS (SELECT media_id, $phash AS phash FROM assets),
         |bands AS (
         |  SELECT media_id, phash, b.b AS b,
         |    (phash >> (b.b * 15)) % 32768 AS bv
         |  FROM ph CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b),
         |pairs AS (
         |  SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
         |    CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
         |  FROM bands x JOIN bands y
         |    ON x.b = y.b AND x.bv = y.bv AND x.media_id < y.media_id)
         |SELECT id_a, id_b, hamming FROM pairs
         |WHERE hamming <= 8 ORDER BY id_a, id_b""".stripMargin
    },


    "graph_clustering_coeff" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT n, count(*) AS dg
        |  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY 1),
        |pi AS (SELECT n, dg * 10000000000 + n AS pi FROM deg),
        |o AS (
        |  SELECT CASE WHEN pu.pi < pv.pi THEN e.u ELSE e.v END AS src,
        |         CASE WHEN pu.pi < pv.pi THEN e.v ELSE e.u END AS dst,
        |         greatest(pu.pi, pv.pi) AS pi_dst
        |  FROM edges e JOIN pi pu ON pu.n = e.u JOIN pi pv ON pv.n = e.v),
        |w AS (
        |  SELECT e1.dst AS b, e2.dst AS c
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.pi_dst < e2.pi_dst),
        |t AS (SELECT count(*) AS n_triangles
        |      FROM w JOIN o ON o.src = w.b AND o.dst = w.c)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM edges) AS n_edges,
        |  (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) FROM deg)
        |    AS n_wedges,
        |  (SELECT n_triangles FROM t) AS n_triangles,
        |  CAST((SELECT n_triangles FROM t) * 3 AS DOUBLE)
        |    / nullif(CAST((SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT)
        |                   FROM deg) AS DOUBLE), 0.0) AS global_cc""".stripMargin,


    "data_contract_check" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    count(*) - count(DISTINCT event_id) AS v_unique,
        |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_null_user,
        |    CAST(sum(CASE WHEN event_type NOT IN
        |      ('click', 'purchase', 'signup', 'view', 'error')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_enum,
        |    CAST(sum(CASE WHEN value < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_negval,
        |    CAST(sum(CASE WHEN epoch_ns(ts) // 86400000000000 < 19000
        |      OR epoch_ns(ts) // 86400000000000 > 20500
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_tsrange,
        |    CAST(sum(CASE WHEN props IS NULL OR NOT json_valid(props)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_json
        |  FROM events)
        |SELECT "constraint", n AS n_checked, n_violations,
        |  CAST(n_violations = 0 AS INTEGER) AS pass
        |FROM (
        |  SELECT 'event_id_unique' AS "constraint", n,
        |    v_unique AS n_violations FROM a
        |  UNION ALL SELECT 'user_id_not_null', n, v_null_user FROM a
        |  UNION ALL SELECT 'event_type_in_enum', n, v_enum FROM a
        |  UNION ALL SELECT 'value_non_negative', n, v_negval FROM a
        |  UNION ALL SELECT 'ts_in_range', n, v_tsrange FROM a
        |  UNION ALL SELECT 'props_valid_json', n, v_json FROM a)
        |ORDER BY "constraint"""".stripMargin,


    "graph_degree_histogram" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT n, count(*) AS dg
        |  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY 1),
        |b AS (SELECT dg, length(bin(dg)) - 1 AS bucket FROM deg)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(1 AS BIGINT) << bucket AS bucket_lo,
        |  count(*) AS n_nodes, CAST(sum(dg) AS BIGINT) AS degree_mass,
        |  min(dg) AS min_degree, max(dg) AS max_degree
        |FROM b GROUP BY 1, 2 ORDER BY bucket""".stripMargin,
  )
}
