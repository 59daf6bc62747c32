package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the engine's native expressions (design-rule tier (c):
  * `SparkSessionExtensions` is the sanctioned way to extend the engine —
  * no fork, no reflection into the registry).
  *
  * Register via config (`spark.sql.extensions` =
  * `graft.functions.GraftExtensions`) or `.withExtensions(new
  * GraftExtensions)` on a session builder, as [[graft.GraftSession]]
  * does. After that the functions are first-class in SQL:
  * {{{
  *   SELECT word_shingles(text, 3)  FROM documents
  *   SELECT sign_sketch(vec, 64)    FROM embeddings
  *   SELECT simhash_mask(shingle), vec_dot(a, b)
  * }}}
  * The width arguments must be integer literals (they parameterize
  * codegen, like a type argument — not a per-row value).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Whole-operator extension (tier c): per-key top-k planner strategy.
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // Optimizer rewrite: row_number-window + rank filter → the bounded
    // per-key top-k operator, transparently (users keep the window form).
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    // Rollup-MV rewrite: aggregates over a registered fact table fold
    // onto its pre-aggregated materialized view (re-aggregation of
    // associative state), so steady-state analytics read |MV| rows, not
    // |fact| rows.
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => WordShingles(text, graft.dedup.Dedup.ShingleN)
        case Seq(text, n) => WordShingles(text, litInt(n, "shingle width"))
        case _ => throw new IllegalArgumentException(
          "word_shingles(text[, n]) takes 1 or 2 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("sign_sketch"),
      new ExpressionInfo(classOf[SignSketch].getName, "sign_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(vec) => SignSketch(vec, SketchUtil.MaxBits)
        case Seq(vec, bits) => SignSketch(vec, litInt(bits, "sketch width"))
        case _ => throw new IllegalArgumentException(
          "sign_sketch(vec[, bits]) takes 1 or 2 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_row"),
      new ExpressionInfo(classOf[MinhashRow].getName, "minhash_row"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => MinhashRow(s, graft.dedup.Dedup.NumHashes)
        case Seq(s, n) => MinhashRow(s, litInt(n, "hash count"))
        case _ => throw new IllegalArgumentException(
          "minhash_row(shingle[, n]) takes 1 or 2 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_mask"),
      new ExpressionInfo(classOf[SimhashMask].getName, "simhash_mask"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => SimhashMask(s)
        case _ => throw new IllegalArgumentException(
          "simhash_mask(shingle) takes exactly 1 argument")
      }))
    ext.injectFunction((
      FunctionIdentifier("mg_sketch"),
      new ExpressionInfo(classOf[MisraGries].getName, "mg_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(item, cap) => MisraGries(item, litInt(cap, "sketch capacity"))
        case _ => throw new IllegalArgumentException(
          "mg_sketch(item, capacity) takes exactly 2 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomAgg].getName, "bloom_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(item, bits, hashes) =>
          BloomAgg(item, litInt(bits, "bloom bit count"),
            litInt(hashes, "bloom hash count"))
        case _ => throw new IllegalArgumentException(
          "bloom_agg(item, numBits, numHashes) takes exactly 3 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[MightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => args match {
        case Seq(bloom, item, hashes) =>
          MightContain(bloom, item, litInt(hashes, "bloom hash count"))
        case _ => throw new IllegalArgumentException(
          "bloom_might_contain(bloom, item, numHashes) takes exactly 3 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("cms_agg"),
      new ExpressionInfo(classOf[CmsAgg].getName, "cms_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(item, depth, width) =>
          CmsAgg(item, litInt(depth, "cms depth"), litInt(width, "cms width"))
        case _ => throw new IllegalArgumentException(
          "cms_agg(item, depth, width) takes exactly 3 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_agg"),
      new ExpressionInfo(classOf[KmvAgg].getName, "kmv_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(item, k) => KmvAgg(item, litInt(k, "kmv sketch size"))
        case _ => throw new IllegalArgumentException(
          "kmv_agg(item, k) takes exactly 2 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VecDot(a, b)
        case _ => throw new IllegalArgumentException(
          "vec_dot(a, b) takes exactly 2 arguments")
      }))
  }
}
