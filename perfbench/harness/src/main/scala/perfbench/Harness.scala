package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sources, SparkEntry}
import graft.dedup.Dedup
import graft.streaming.Streams
import graft.util.{Artifacts, HostTelemetry, Views}

/** One benchmark run of one workload, in one JVM on `local[nproc - 1]`:
  * the executor threads leave one core to the driver, JIT and GC
  * threads, so a stage's tasks are not held back by the JVM's own work.
  *
  * A run sets up [[SetupReps]] times. The first set-up starts the JVM,
  * the SparkContext and a session, and runs one pass of the workload's
  * operations on a tiny warm-up input, so that JIT and codegen
  * compilation is paid before timing. Each later set-up starts a new
  * session on the same context and serves the first operation on the
  * warm-up input: a stopped context does not restart cleanly in one JVM
  * while the engine caches plans JVM-wide, and a second full warm-up
  * pass would cost as much as the measured passes. Then the run measures
  * one cycle on its own input, in the last session:
  *
  *  1. build: [[Dedup.writeLshIndex]] over the corpus minus the held-out
  *     slice, then the first call of every stored query of the workload;
  *     no artifact of the run's input is stored yet, so all are built;
  *  2. ingest: the held-out slice through [[Streams.nearDupIngest]] with
  *     `appendToIndex = true`, one staged file per micro-batch;
  *  3. passes: one priming pass, then whole passes over the workload's
  *     operations until the measuring time is spent (at least
  *     [[MinPasses]]). The priming pass is the first to meet the run's
  *     input (its files, its row counts, the probe paths) and reads 20–50 %
  *     slower than the rest; its results are checked like any other
  *     pass's, but its times are left out of the medians.
  *
  * Every operation's result is written in full to a parquet sink, one
  * directory per pass and operation; the result is never reduced to a
  * count, so no output column can be pruned away. The outputs are checked
  * afterwards, outside this JVM (see `check.py`).
  *
  * Usage: Harness <workload> <dataDir> <warmDir> <runDir> <seconds> <trace 0|1>
  */
object Harness {
  val SetupReps = 3
  val MinPasses = 3
  val IngestBatches = 2
  val IngestThreshold = 0.6
  /** Held-out slice of the augmented corpus: what the stream ingests. */
  val heldOut = pmod(col("doc_id"), lit(8L)) === 7L

  def session(cores: Int, dir: String): SparkSession =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30min")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.streaming.checkpointLocation", s"$dir/checkpoints")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val Array(wlName, dataDir, warmDir, runDir, secondsArg, traceArg) = args
    val wl = Workloads(wlName)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = (Runtime.getRuntime.availableProcessors() - 1).max(1)
    val (load0, cpu0) = (HostTelemetry.loadavg(), HostTelemetry.cpuLine())
    val queries = SparkEntry.queries
    val missing = (wl.ops ++ wl.stored).filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    // Set-up, SetupReps times; the last session is the one measured.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val rec = new Recorder
    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { i =>
      val t0 = if (i == 1) jvmStartMs else System.currentTimeMillis()
      spark = if (i == 1) {
        val s = session(cores, runDir)
        s.sparkContext.setLogLevel("ERROR")
        s.sparkContext.addSparkListener(rec)
        s
      } else spark.newSession()
      spark.listenerManager.register(rec.queryListener)
      spark.streams.addListener(rec.streamListener)
      val warm = new Cycle(spark, rec, wl, queries, warmDir, s"$runDir/setup$i", None)
      warm.pass(0, traced = false, if (i == 1) wl.ops else wl.ops.take(1))
      warm.cleanUp()
      (System.currentTimeMillis() - t0) / 1000.0
    }

    val spans = if (trace) Some(new Trace.Spans) else None
    val cycle = new Cycle(spark, rec, wl, queries, dataDir, s"$runDir/timed", spans)
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
    val wh0 = Cycle.bytes(new File(new java.net.URI(whDir).getPath))
    val build = cycle.build()
    val ingest = cycle.ingest(IngestBatches)
    val artifactMb = (Cycle.bytes(new File(new java.net.URI(whDir).getPath)) - wh0) / 1e6
    val buildsBeforePasses = Artifacts.builds.get
    val priming = cycle.pass(1, traced = false)
    cycle.cleanUp()
    val passes = mutable.ArrayBuffer.empty[Cycle.Pass]
    val tMeasure = System.nanoTime()
    // Whole passes only. A traced run alternates traced and untraced
    // passes so that it can report its own tracing overhead.
    while (passes.size < MinPasses || (System.nanoTime() - tMeasure) / 1e9 < seconds) {
      passes += cycle.pass(passes.size + 2, traced = trace && passes.size % 2 == 0)
      cycle.cleanUp()
    }
    val timedBuilds = Artifacts.builds.get - buildsBeforePasses
    val reads = if (trace) cycle.timedReads() else Nil
    val (load1, cpu1) = (HostTelemetry.loadavg(), HostTelemetry.cpuLine())

    val allOps = build.ops ++ priming.ops ++ passes.flatMap(_.ops)
    val attempted = allOps.size + IngestBatches
    val failedOps = allOps.filterNot(_.ok).map(_.name) ++
      (if (ingest.ok) Nil else Seq.fill(IngestBatches)("ingest"))
    val untraced = passes.filterNot(_.traced)
    val e2e = Seq(
      "setup_s" -> Cycle.median(setupS),
      "pass_s" -> Cycle.median(untraced.map(_.wallS).toSeq),
      "op_p50_s" -> Cycle.median(untraced.flatMap(_.ops.map(_.wallS)).toSeq),
      "shuffle_mb" -> Cycle.median(untraced.map(_.shuffleMb).toSeq),
      "build_s" -> build.wallS,
      "artifact_mb" -> artifactMb,
      "ingest_docs_per_s" -> ingest.docsPerS)
    val layers = if (!trace) Nil else {
      val traced = passes.filter(_.traced).toSeq
      def med(f: Cycle.Pass => Double) = Cycle.median(traced.map(f))
      def sum(f: Cycle.OpRec => Double)(p: Cycle.Pass) = p.ops.map(f).sum
      val execS = med(sum(_.execS))
      val taskS = med(sum(_.exec.taskMs / 1000.0))
      val batches = rec.batches.asScala.toSeq
      Seq(
        "sources.read_ms" -> reads.map(_._2).sum,
        "sources.read_jobs" -> reads.map(_._3).sum.toDouble,
        "registry.construct_s" -> med(sum(_.constructS)),
        "registry.construct_jobs" -> med(sum(_.constructJobs.toDouble)),
        "views.persisted" -> med(sum(_.persisted.toDouble)),
        "views.cached_mb" -> med(sum(_.cachedMb)),
        "catalyst.analysis_ms" -> med(sum(_.plan.analysisMs)),
        "catalyst.optimization_ms" -> med(sum(_.plan.optimizationMs)),
        "catalyst.planning_ms" -> med(sum(_.plan.planningMs)),
        "catalyst.plan_nodes" -> med(sum(_.plan.nodes.toDouble)),
        "catalyst.exchanges" -> med(sum(_.plan.exchanges.toDouble)),
        "exec.s" -> execS,
        "exec.jobs" -> med(sum(_.exec.jobs.toDouble)),
        "exec.stages" -> med(sum(_.exec.stages.toDouble)),
        "exec.tasks" -> med(sum(_.exec.tasks.toDouble)),
        "exec.task_s" -> taskS,
        "exec.util" -> (if (execS > 0) taskS / (cores * execS) else 0.0),
        "exec.spill_mb" -> med(sum(_.exec.spillBytes / 1e6)),
        "exec.shuffle_read_mb" -> med(sum(_.exec.shuffleReadBytes / 1e6)),
        "jvm.gc_s" -> med(_.gcS),
        "artifacts.builds" -> build.builds.toDouble,
        "artifacts.probe_construct_s" -> med(p => p.ops.filter(o => wl.stored.contains(o.name))
          .map(_.constructS).sum),
        "streams.batch_s" -> Cycle.median(batches.map(_.triggerMs / 1000.0)),
        "streams.add_batch_s" -> Cycle.median(batches.map(_.addBatchMs / 1000.0)),
        "streams.index_rows" -> ingest.indexRows.toDouble,
        // The first pass on the run's input is the slowest; leave it out.
        "trace.overhead_s" -> (med(_.wallS) - Cycle.median(untraced.map(_.wallS).toSeq)))
    }
    spans.foreach { s =>
      Files.write(Paths.get(s"$runDir/spans.jsonl"), s.all.map(_.json).asJava)
    }
    val allPasses = priming +: passes.toSeq
    val lastPass = passes.last.number
    val checks = Json.obj(Seq(
      "build" -> Json.arr(build.ops.filter(_.ok).map(o => Json.str(o.name))),
      "passes" -> Json.arr(allPasses.map(p =>
        Json.arr(p.ops.filter(_.ok).map(o => Json.str(o.name))))),
      "last_pass" -> lastPass.toString,
      "sink" -> Json.str(cycle.sinkRoot),
      "ingest" -> Json.str(cycle.ingestDir),
      "index" -> Json.str(cycle.indexDir),
      "threshold" -> Json.num(IngestThreshold),
      "batches" -> IngestBatches.toString,
      "augmented_sql" -> Json.str(Dedup.augmentedSql)))
    val oracle = Json.obj((wl.ops ++ wl.stored).distinct.sorted.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => n -> Json.str(sql))))
    def metrics(kv: Seq[(String, Double)]) = Json.obj(kv.map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "cores" -> cores.toString,
      "attempted" -> attempted.toString,
      "failed" -> failedOps.size.toString,
      "failed_ops" -> Json.arr(failedOps.map(Json.str)),
      "passes" -> allPasses.size.toString,
      "timed_artifact_builds" -> timedBuilds.toString,
      "e2e" -> metrics(e2e),
      "layers" -> metrics(layers),
      "pass_s" -> Json.arr(allPasses.map(p => Json.num(p.wallS))),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "ingest_batch_s" -> Json.arr(rec.batches.asScala.toSeq.map(b => Json.num(b.triggerMs / 1000.0))),
      "host" -> HostTelemetry.json(load0, cpu0, load1, cpu1),
      "checks" -> checks,
      "oracle" -> oracle))
    Files.writeString(Paths.get(s"$runDir/record.json"), record + "\n")
    spark.stop()
  }
}

/** The build → ingest → pass cycle over one input directory. */
final class Cycle(spark: SparkSession, rec: Recorder, wl: Workloads.Workload,
                  queries: Map[String, (SparkSession, String) => DataFrame],
                  dataDir: String, outDir: String, spans: Option[Trace.Spans]) {
  import Cycle._

  val sinkRoot = s"$outDir/sink"
  val ingestDir = s"$outDir/ingest"
  val indexDir: String = new File(new java.net.URI(
    spark.conf.get("spark.sql.warehouse.dir")).getPath, s"lsh_index_${new File(outDir).getName}").getPath
  private val sc = spark.sparkContext
  private val tables = mutable.LinkedHashSet.empty[String]

  private def corpus: DataFrame = Dedup.augmented(Sources.table(spark, dataDir, "documents"))

  private def phase(op: String, p: String, desc: String): Unit = {
    sc.setLocalProperty("perfbench.op", op)
    sc.setLocalProperty("perfbench.phase", p)
    sc.setJobDescription(desc)
  }

  /** One operation: build its DataFrame, write the whole result. */
  def runOp(opId: String, name: String, sink: String, traced: Boolean): OpRec = {
    rec.tracing.set(traced)
    phase(opId, "construct", s"$name/construct")
    val t0 = System.nanoTime()
    val t0ms = System.currentTimeMillis()
    var tc = t0
    val r = try {
      val df = queries(name)(spark, dataDir)
      tc = System.nanoTime()
      val tcMs = System.currentTimeMillis()
      val (persisted, cachedMb) =
        if (traced) (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.filter(_.isCached)
          .map(i => i.memSize + i.diskSize).sum / 1e6)
        else (0, 0.0)
      // The sink's plan is the DataFrame's plan: analysed while it was
      // built, optimised and planned by the write.
      val dfAnalysisMs = df.queryExecution.tracker.phases.get("analysis")
        .map(_.durationMs.toDouble).getOrElse(0.0)
      phase(opId, "execute", s"$name/execute")
      df.write.mode("overwrite").parquet(sink)
      val t1 = System.nanoTime()
      val t1ms = System.currentTimeMillis()
      if (!traced) OpRec(name, ok = true, (t1 - t0) / 1e9, (tc - t0) / 1e9)
      else {
        rec.drain()
        val write = rec.takePlan(new File(sink).getAbsolutePath).getOrElse(NoPlan)
        val cons = rec.counter(opId, "construct")
        val exec = rec.counter(opId, "execute")
        val planMs = write.optimizationMs + write.planningMs + write.analysisMs
        val execS = ((t1 - tc) / 1e9 - planMs / 1000.0).max(0.0)
        val plan = write.copy(analysisMs = write.analysisMs + dfAnalysisMs)
        spans.foreach { s =>
          s.add(Trace.Span(opId, name, "construct", t0ms, tcMs, Seq(
            "jobs" -> cons.jobs.get.toDouble, "stages" -> cons.stages.get.toDouble,
            "tasks" -> cons.tasks.get.toDouble, "task_s" -> cons.taskMs.get / 1000.0,
            "persisted" -> persisted.toDouble, "cached_mb" -> cachedMb)))
          s.add(Trace.Span(opId, name, "plan", plan.planStartMs.max(tcMs),
            plan.planEndMs.max(tcMs), Seq(
              "analysis_ms" -> plan.analysisMs, "optimization_ms" -> plan.optimizationMs,
              "planning_ms" -> plan.planningMs, "plan_nodes" -> plan.nodes.toDouble,
              "exchanges" -> plan.exchanges.toDouble)))
          s.add(Trace.Span(opId, name, "execute", plan.planEndMs.max(tcMs), t1ms, Seq(
            "jobs" -> exec.jobs.get.toDouble, "stages" -> exec.stages.get.toDouble,
            "tasks" -> exec.tasks.get.toDouble, "task_s" -> exec.taskMs.get / 1000.0,
            "spill_mb" -> exec.spillBytes.get / 1e6,
            "shuffle_read_mb" -> exec.shuffleReadBytes.get / 1e6)))
        }
        OpRec(name, ok = true, (t1 - t0) / 1e9, (tc - t0) / 1e9, execS, cons.jobs.get,
          persisted, cachedMb, plan, ExecSnap(exec))
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        OpRec(name, ok = false, (System.nanoTime() - t0) / 1e9, (tc - t0) / 1e9)
    } finally {
      rec.tracing.set(false)
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.phase", null)
      sc.setJobDescription(null)
      Views.unpersistAll()
      spark.catalog.clearCache()
    }
    if (traced) tables ++= rec.takeTables()
    System.err.println(f"[perfbench] $opId%-48s ${r.wallS}%8.3f s${if (r.ok) "" else "  FAILED"}")
    r
  }

  /** Stored-artifact build into the (empty) warehouse: the LSH index the
    * stream dedups against, then the first call of each stored query. */
  def build(): Build = {
    val b0 = Artifacts.builds.get
    val t0 = System.nanoTime()
    sc.setJobDescription("build/lsh_index")
    Dedup.writeLshIndex(corpus.filter(!Harness.heldOut), "doc_id", "text", indexDir)
    sc.setJobDescription(null)
    Views.unpersistAll()
    val ops = wl.stored.map(n => runOp(s"build/$n", n, s"$sinkRoot/build/$n", traced = false))
    Build((System.nanoTime() - t0) / 1e9, Artifacts.builds.get - b0, ops)
  }

  /** Stage the held-out slice as one parquet file per micro-batch (in
    * doc-id order), then stream it through the near-dup ingest. */
  def ingest(batches: Int): Ingest = {
    val stage = new File(s"$ingestDir/stage")
    val rows = corpus.filter(Harness.heldOut).orderBy("doc_id").collect()
    val schema = corpus.schema
    val per = (rows.length + batches - 1) / batches
    stage.mkdirs()
    val chunks = rows.grouped(per).toSeq
    chunks.zipWithIndex.foreach { case (chunk, b) =>
      val tmp = s"$ingestDir/tmp$b"
      spark.createDataFrame(chunk.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(stage, f"batch-$b%03d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + b * 1000L)
    }
    rec.batches.clear()
    val emitted = new java.util.concurrent.atomic.AtomicInteger
    val t0 = System.nanoTime()
    val ok = try {
      val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(stage.getPath)
      val q = Streams.nearDupIngest(docs, indexDir, Harness.IngestThreshold,
        appendToIndex = true, checkpointLocation = Some(s"$ingestDir/checkpoint")) { survivors =>
        survivors.select("doc_id").write.mode("overwrite")
          .parquet(s"$ingestDir/survivors/batch=${emitted.getAndIncrement()}")
      }
      // The ingest starts with the default trigger; every staged file is
      // available up front, so wait for all of them, then stop.
      q.processAllAvailable()
      q.stop()
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ingest failed: ${e.getClass.getName}: ${e.getMessage}")
        false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val indexRows = if (ok) spark.read.parquet(s"$indexDir/shingles").count() else 0L
    spans.foreach(s => rec.batches.asScala.foreach(b => s.add(Trace.Span(s"ingest/${b.id}",
      "nearDupIngest", "batch", b.startMs, b.startMs + b.triggerMs, Seq(
        "trigger_s" -> b.triggerMs / 1000.0, "add_batch_s" -> b.addBatchMs / 1000.0,
        "docs" -> chunks.lift(b.id.toInt).map(_.length.toDouble).getOrElse(0.0))))))
    Ingest(ok && emitted.get == batches, rows.length / dt, indexRows)
  }

  def pass(number: Int, traced: Boolean, ops: Seq[String] = wl.ops): Pass = {
    val gc0 = Trace.gcSeconds()
    rec.drain()
    val sw0 = rec.shuffleWriteBytes.get
    val t0 = System.nanoTime()
    val recs = ops.map(n => runOp(s"p$number/$n", n, s"$sinkRoot/p$number/$n", traced))
    val wall = (System.nanoTime() - t0) / 1e9
    rec.drain()
    Pass(number, traced, wall, (rec.shuffleWriteBytes.get - sw0) / 1e6, Trace.gcSeconds() - gc0, recs)
  }

  /** Session upkeep between passes, outside every timed window. */
  def cleanUp(): Unit = {
    Views.unpersistAll()
    spark.catalog.clearCache()
    System.gc()
  }

  /** One timed `Sources.table` call per table the traced passes read:
    * (table, ms, jobs). */
  def timedReads(): Seq[(String, Double, Long)] = tables.toSeq.sorted.map { t =>
    rec.tracing.set(true)
    phase(s"sources/$t", "read", s"sources/$t")
    val t0 = System.nanoTime()
    Sources.table(spark, dataDir, t)
    val ms = (System.nanoTime() - t0) / 1e6
    rec.drain()
    rec.tracing.set(false)
    (t, ms, rec.counter(s"sources/$t", "read").jobs.get)
  }
}

object Cycle {
  final case class ExecSnap(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                            spillBytes: Long, shuffleReadBytes: Long)
  object ExecSnap {
    def apply(c: Counters): ExecSnap = ExecSnap(c.jobs.get, c.stages.get, c.tasks.get,
      c.taskMs.get, c.spillBytes.get, c.shuffleReadBytes.get)
  }
  val NoPlan: PlanStats = PlanStats(0, 0, 0, 0L, 0L, 0, 0)
  final case class OpRec(name: String, ok: Boolean, wallS: Double, constructS: Double,
                         execS: Double = 0, constructJobs: Long = 0, persisted: Int = 0,
                         cachedMb: Double = 0, plan: PlanStats = NoPlan,
                         exec: ExecSnap = ExecSnap(0, 0, 0, 0, 0, 0))
  final case class Pass(number: Int, traced: Boolean, wallS: Double, shuffleMb: Double,
                        gcS: Double, ops: Seq[OpRec])
  final case class Build(wallS: Double, builds: Long, ops: Seq[OpRec])
  final case class Ingest(ok: Boolean, docsPerS: Double, indexRows: Long)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def bytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    else f.length
}
