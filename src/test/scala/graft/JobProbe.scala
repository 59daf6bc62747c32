package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Counts the jobs and stages a block of code launches. The block runs
  * under a probe tag (a thread-local Spark property, inherited by the
  * jobs it submits); [[run]] then runs one tagged sentinel job and waits
  * for its start event, so every event posted before it has been
  * delivered to this listener when the counts are read. */
final class JobProbe(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val jobs = new ConcurrentLinkedQueue[Properties]
  private val stages = new ConcurrentLinkedQueue[(String, Int, Int)]

  private def tag(p: Properties): String =
    Option(p).map(_.getProperty(JobProbe.Key)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Option(e.properties).getOrElse(new Properties))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(tag(e.properties)).foreach(t =>
      stages.add((t, e.stageInfo.stageId, e.stageInfo.numTasks)))

  private def tagged[T](t: String)(body: => T): T = {
    sc.setLocalProperty(JobProbe.Key, t)
    try body finally sc.setLocalProperty(JobProbe.Key, null)
  }

  /** Runs `body` with this listener attached, then waits for a sentinel
    * job tagged `t/sentinel`; returns the result and every job started
    * meanwhile, on any thread. */
  private def listening[T](t: String)(body: => T): (T, Seq[Properties]) = {
    sc.addSparkListener(this)
    try {
      val r = body
      tagged(s"$t/sentinel")(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen = jobs.asScala.exists(tag(_) == s"$t/sentinel")
      while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen, "listener bus did not deliver the sentinel job")
      (r, jobs.asScala.filter(tag(_) != s"$t/sentinel").toSeq)
    } finally sc.removeSparkListener(this)
  }

  /** Runs `body` under a fresh tag; returns its result, the number of
    * jobs it launched, and the task count of each of its stages in
    * submission order. */
  def run[T](body: => T): (T, Int, Seq[Int]) = {
    val t = java.util.UUID.randomUUID().toString
    val (r, js) = listening(t)(tagged(t)(body))
    (r, js.count(tag(_) == t),
      stages.asScala.filter(_._1 == t).toSeq.sortBy(_._2).map(_._3))
  }

  /** Runs `body` and returns its result and the local properties of
    * every job started while it ran, on ANY thread (a streaming query's
    * own thread included). */
  def jobsDuring[T](body: => T): (T, Seq[Properties]) =
    listening(java.util.UUID.randomUUID().toString)(body)
}

object JobProbe {
  val Key = "graft.test.probe"
}
