package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** The scan-width guard's range shape on the two sorted one-file
  * derivations: one range exchange on the sort key below the per-row
  * work, `defaultParallelism` tasks for that work, and no exchange added
  * once the scan already has a split per core. */
class ParSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def cores = spark.sparkContext.defaultParallelism

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  private def hasUdf(p: SparkPlan): Boolean =
    find(p)(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))).isDefined

  /** One shuffle exchange in the plan: a `cores`-wide range partitioning
    * on `key`, with no UDF below it. */
  private def assertOneRangeExchange(df: DataFrame, key: String): Unit = {
    val ex = exchanges(df)
    assert(ex.size === 1, s"expected one exchange:\n${df.queryExecution.executedPlan}")
    ex.head.outputPartitioning match {
      case RangePartitioning(ordering, n) =>
        assert(n === cores)
        assert(ordering.map(_.child).collect { case a: Attribute => a.name } === Seq(key))
      case other => fail(s"expected a range partitioning on $key, got $other")
    }
    assert(!hasUdf(ex.head.child), s"per-row UDFs run below the exchange:\n${ex.head}")
  }

  /** Task counts of the stages one full write of `df` runs. */
  private def stageTasks(df: DataFrame): Seq[Int] =
    new JobProbe(spark).run(df.write.format("noop").mode("overwrite").save())._3

  test("news_chunking: one range exchange on doc_id, the summarizer stage runs on every core") {
    val df = SparkEntry.queries("news_chunking")(spark, sfDir)
    assertOneRangeExchange(df, "doc_id")
    assert(hasUdf(df.queryExecution.executedPlan))
    val tasks = stageTasks(df)
    assert(tasks.last === cores, s"stage task counts $tasks")
  }

  test("idx_financials: one range exchange on o_orderkey over the six narrow source columns") {
    val df = SparkEntry.queries("idx_financials")(spark, sfDir)
    assertOneRangeExchange(df, "o_orderkey")
    assert(exchanges(df).head.child.output.size === 6)
    val tasks = stageTasks(df)
    assert(tasks.last === cores, s"stage task counts $tasks")
  }

  test("widenByRange is a no-op once the scan has a split per core") {
    val docs = Sources.documents(spark, sfDir).select("doc_id", "text")
    assert(util.Par.widenByRange(docs, col("doc_id")) ne docs, "guard must fire on one small file")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      assert(util.Par.estimatedScanTasks(docs).exists(_ >= cores))
      assert(util.Par.widenByRange(docs, col("doc_id")) eq docs)
      val df = SparkEntry.queries("news_chunking")(spark, sfDir)
      assert(df.queryExecution.logical.collect { case r: RepartitionByExpression => r }.isEmpty)
      assert(exchanges(df).size === 1) // the orderBy's own
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }
}
