package perfbench

/** The benchmark's workloads: which registry queries a run times, and
  * which stored queries its build phase calls first. */
object Workloads {
  final case class Workload(name: String, ops: Seq[String], stored: Seq[String])

  /** The paper's own surface: IDX normalization, YF OHLCV rollups and the
    * news split-merge summarizer (whose UDF runs in one task), plus one
    * rollup of the OHLCV fact answered from its stored materialized view,
    * so that the pipelines have a write-once artifact of their own. */
  val ReferenceEtl: Seq[String] = Seq(
    "idx_financials", "yf_month_agg", "news_summarize", "news_chunking", "mv_rollup_stored")

  /** Execution-bound self-joins, shuffles, cached views and loops. */
  val LlmHeavy: Seq[String] = Seq(
    "dedup_jaccard_pairs", "graph_pagerank", "docs_chunk_dedup")

  /** Write-once stored artifacts (materialized rollup, bitmap rollup,
    * random-hyperplane ANN index) and their probes. */
  val Stored: Seq[String] = Seq(
    "mv_rollup_stored", "events_bitmap_rollup_stored", "sim_ann_rhp_stored")

  def apply(name: String): Workload = name match {
    case "reference_etl" => Workload(name, ReferenceEtl, Seq("mv_rollup_stored"))
    case "llm_heavy" => Workload(name, LlmHeavy, Nil)
    case "ingest_serve" => Workload(name, Stored, Stored)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
