package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Views

/** How [[graft.util.Views]] forces and reclaims a view: one job over the
  * cached scan, the cache filled afterwards, the forcing count equal to
  * `Dataset.count()`, and a reclaim that neither leaks nor breaks when
  * another thread registers a view meanwhile. */
class ViewsSpec extends SparkSpec {

  private def cached(df: DataFrame) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  test("materialize forces a persisted frame with no exchange in one job and fills its cache") {
    Views.unpersistAll()
    val df = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") * 3).as("y"))
    val (_, jobs, _) = new JobProbe(spark).run(Views.materialize(df))
    assert(jobs === 1)
    val entry = cached(df)
    assert(entry.isDefined, "the view is not in the cache manager")
    assert(entry.get.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    Views.unpersistAll()
    assert(cached(df).isEmpty)
  }

  test("materializeCounted returns Dataset.count() of the same frame") {
    Views.unpersistAll()
    val base = spark.range(0, 500, 1, 3).select(col("id"), (col("id") % 7).as("k"))
    def frame = base.join(base.groupBy("k").agg(count(lit(1)).as("n")), "k")
      .filter(col("id") % 5 =!= 0)
    val expected = frame.count()
    val (_, n) = Views.materializeCounted(frame)
    assert(n === expected)
    assert(Views.materializeCounted(spark.range(0).toDF())._2 === 0L)
    Views.unpersistAll()
  }

  test("unpersistAll drops views built on views, newest first, leaving nothing persisted") {
    Views.unpersistAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val a = Views.materialize(spark.range(0, 200, 1, 2).toDF("id"))
    val b = Views.materialize(a.select((col("id") * 2).as("id")))
    Views.materialize(b.union(a).distinct())
    assert(spark.sparkContext.getPersistentRDDs.keySet.size >= before.size + 3)
    Views.unpersistAll()
    assert(cached(a).isEmpty && cached(b).isEmpty)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("unpersistAll holds the registry while another thread registers views") {
    Views.unpersistAll()
    val df = spark.range(1).toDF("id")
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    // A few hundred registrations, paced so that most land while the
    // main thread is inside a reclaim walk.
    val writer = new Thread(() =>
      try (1 to 500).foreach { _ => Views.register(df); Thread.sleep(0, 200000) }
      catch { case t: Throwable => failure.set(t) })
    writer.start()
    try while (writer.isAlive) Views.unpersistAll()
    finally writer.join()
    Views.unpersistAll()
    assert(failure.get === null)
  }
}
