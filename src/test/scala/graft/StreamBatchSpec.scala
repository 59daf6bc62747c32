package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import streaming.{StreamDoc, StreamVec, Streams}

/** The micro-batch protocol the marker-gated streams share (README,
  * "Stream batches"), checked the same way for every stream that uses it:
  *
  *  - the four index ingests adjudicate a marker-less replay alike: a
  *    batch whose ids are all indexed self-heals, a partial overlap fails
  *    loudly, and a marker planted at the hand-computed path
  *    `<dir>/_batches/<nameUUIDFromBytes(checkpoint)>-<batchId>` suppresses
  *    its batch (markers and indexes written by earlier builds stay valid);
  *  - every stream reads its micro-batch once, so `numInputRows` is the
  *    batch's row count. */
class StreamBatchSpec extends SparkSpec {

  import spark.implicits._

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def markers(root: String): Int = {
    val d = new Path(s"$root/_batches")
    if (!fs.exists(d)) 0
    else fs.listStatus(d).count(s => !s.getPath.getName.startsWith("."))
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One index ingest: a fresh index holding `indexed`, and a stream
    * (appendToIndex = true) fed batches of ids. */
  private trait Ingest {
    def name: String
    def indexed: Seq[Long]
    def fresh: Long
    /** Builds a fresh index; returns the directory holding `_batches`. */
    def build(): String
    def indexRows(): Long
    /** Starts the ingest; returns it and a feeder that adds one batch. */
    def start(ckpt: Option[String], emit: DataFrame => Unit): (StreamingQuery, Seq[Long] => Unit)
    def cleanup(): Unit = ()
  }

  private val texts = Map(
    1L -> "alpha beta gamma delta epsilon zeta",
    2L -> "one two three four five six seven",
    99L -> "totally fresh words never indexed here",
    100L -> "another unseen sentence with its own tokens",
    101L -> "alpha beta gamma delta epsilon zeta")

  private def docStream(): (MemoryStream[StreamDoc], Seq[Long] => Unit) = {
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[StreamDoc]
    (s, ids => s.addData(ids.map(i => StreamDoc(i, new Timestamp(0L), texts(i))): _*))
  }

  private def existingDocs: DataFrame =
    Seq(1L, 2L).map(i => (i, texts(i))).toDF("doc_id", "text")

  /** Embeddings at ids % 10 != 0 are indexed; a fresh id carries the
    * vector of an unindexed embedding. */
  private lazy val vectors: Map[Long, Seq[Float]] =
    Sources.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

  private def corpus: DataFrame =
    vectors.toSeq.filter(_._1 % 10 != 0).sortBy(_._1).toDF("id", "vec")

  private def vecStream(): (MemoryStream[StreamVec], Seq[Long] => Unit) = {
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[StreamVec]
    (s, ids => s.addData(ids.map(i => StreamVec(i, vectors(i % 100000L))): _*))
  }

  private val ingests: Seq[Ingest] = Seq(
    new Ingest {
      val name = "nearDupIngest"
      val indexed = Seq(1L, 2L)
      val fresh = 99L
      var dir = ""
      def build() = {
        dir = tmp("graft_sb_lsh")
        dedup.Dedup.writeLshIndex(existingDocs, "doc_id", "text", dir)
        dir
      }
      def indexRows() = {
        val (b, s) = dedup.Dedup.readLshIndex(spark, dir)
        b.count() + s.count()
      }
      def start(ckpt: Option[String], emit: DataFrame => Unit) = {
        val (s, feed) = docStream()
        (Streams.nearDupIngest(s.toDF(), dir, 0.6, appendToIndex = true,
          checkpointLocation = ckpt)(emit), feed)
      }
    },
    new Ingest {
      val name = "nearDupIngestBucketed"
      val indexed = Seq(1L, 2L)
      val fresh = 99L
      val base = "graft_test_sb_bkt"
      private val tables = Seq("shingles", "bands", "dict", "shids").map(p => s"${base}_$p")
      def build() = {
        cleanup()
        dedup.Dedup.writeLshIndexBucketed(existingDocs, "doc_id", "text", base)
        s"${spark.conf.get("spark.sql.warehouse.dir")}/${base}_bands"
      }
      def indexRows() = tables.map { t =>
        spark.catalog.refreshTable(t); spark.table(t).count()
      }.sum
      def start(ckpt: Option[String], emit: DataFrame => Unit) = {
        val (s, feed) = docStream()
        (Streams.nearDupIngestBucketed(s.toDF(), base, 0.6, appendToIndex = true,
          checkpointLocation = ckpt)(emit), feed)
      }
      override def cleanup() = tables.foreach(EntryOps.dropManagedTable(spark, _))
    },
    new Ingest {
      val name = "annIngest"
      lazy val indexed = vectors.keys.filter(_ % 10 != 0).toSeq.sorted.take(2)
      lazy val fresh = vectors.keys.filter(_ % 10 == 0).min + 100000L
      var dir = ""
      def build() = {
        dir = tmp("graft_sb_ann")
        val c = corpus
        val coarse = sim.Similarity.sampledCentroids(c, 16)
        val book = sim.Similarity.ivfPqBook(c)
        coarse.write.parquet(s"$dir/coarse")
        book.write.parquet(s"$dir/book")
        sim.Similarity.ivfPqIndexWith(c, spark.read.parquet(s"$dir/coarse"),
          spark.read.parquet(s"$dir/book")).write.parquet(s"$dir/rows")
        dir
      }
      def indexRows() = spark.read.parquet(s"$dir/rows").count()
      def start(ckpt: Option[String], emit: DataFrame => Unit) = {
        val (s, feed) = vecStream()
        (Streams.annIngest(s.toDF(), dir, 0.8, appendToIndex = true,
          checkpointLocation = ckpt)(emit), feed)
      }
    },
    new Ingest {
      val name = "rhpIngest"
      lazy val indexed = vectors.keys.filter(_ % 10 != 0).toSeq.sorted.take(2)
      lazy val fresh = vectors.keys.filter(_ % 10 == 0).min + 100000L
      var dir = ""
      def build() = {
        dir = tmp("graft_sb_rhp")
        sim.Similarity.rhpBandIndex(corpus).write.parquet(s"$dir/rows")
        sim.Similarity.rhpSketches(corpus).write.parquet(s"$dir/sketches")
        dir
      }
      def indexRows() =
        spark.read.parquet(s"$dir/rows").count() +
          spark.read.parquet(s"$dir/sketches").count()
      def start(ckpt: Option[String], emit: DataFrame => Unit) = {
        val (s, feed) = vecStream()
        (Streams.rhpIngest(s.toDF(), dir, maxHamming = 0, appendToIndex = true,
          checkpointLocation = ckpt)(emit), feed)
      }
    })

  ingests.foreach { in =>
    test(s"${in.name} replay: full overlap self-heals, partial overlap fails, a planted marker suppresses") {
      try {
        // Full overlap with no marker (the crash window between append
        // and marker): marker written, nothing emitted, index unchanged.
        var root = in.build()
        val rows0 = in.indexRows()
        var emits = 0
        val (q1, feed1) = in.start(None, _ => emits += 1)
        try { feed1(in.indexed); q1.processAllAvailable() } finally q1.stop()
        assert(emits === 0, "an applied replay must not re-emit")
        assert(markers(root) === 1)
        assert(in.indexRows() === rows0)

        // Partial overlap: undecidable, so the batch fails loudly and
        // appends nothing.
        root = in.build()
        val rows1 = in.indexRows()
        val (q2, feed2) = in.start(None, _ => ())
        val ex = intercept[StreamingQueryException] {
          try { feed2(Seq(in.indexed.head, in.fresh)); q2.processAllAvailable() }
          finally q2.stop()
        }
        val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
        assert(msgs.exists(_.contains("replay marker")),
          s"expected the replay-marker failure in the cause chain, got: $msgs")
        assert(markers(root) === 0)
        assert(in.indexRows() === rows1, "a failed batch must not append")

        // A marker planted at the hand-computed path suppresses batch 0;
        // batch 1 has none and runs.
        root = in.build()
        val rows2 = in.indexRows()
        val ckpt = tmp("graft_sb_ckpt")
        val lineage = java.util.UUID.nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString
        val planted = new Path(s"$root/_batches/$lineage-0")
        fs.mkdirs(planted.getParent)
        fs.create(planted, true).close()
        emits = 0
        val (q3, feed3) = in.start(Some(ckpt), _ => emits += 1)
        try {
          feed3(Seq(in.fresh)); q3.processAllAvailable()
          assert(emits === 0, "a marked batch must not run")
          assert(in.indexRows() === rows2, "a marked batch must not append")
          assert(markers(root) === 1)
          feed3(Seq(in.fresh + 1)); q3.processAllAvailable()
        } finally q3.stop()
        assert(emits === 1)
        assert(markers(root) === 2)
        assert(fs.exists(new Path(s"$root/_batches/$lineage-1")))
      } finally in.cleanup()
    }
  }

  /** The job ceiling of one near-dup micro-batch with appends on: one
    * adjudication aggregate, the probe's forced views, the survivors,
    * the append from the probe's views, and the batch read itself. A
    * re-derivation of the batch's shingles or bands, or a second forcing
    * action per view, pushes it over. The bucketed ingest also reads the
    * dictionary snapshot and extends the dictionary (dense-id sort,
    * zipWithIndex, checkpoint) before its four bucketed appends. */
  Seq("nearDupIngest" -> 38, "nearDupIngestBucketed" -> 80).foreach { case (name, budget) =>
    val in = ingests.find(_.name == name).get
    test(s"$name runs one micro-batch within its job budget") {
      try {
        in.build()
        var survivors = Set.empty[Long]
        val (q, feed) = in.start(None,
          surv => survivors = surv.select("doc_id").collect().map(_.getLong(0)).toSet)
        val (_, jobs) = try new JobProbe(spark).jobsDuring {
          feed(Seq(99L, 100L, 101L)); q.processAllAvailable()
        } finally q.stop()
        // 101 repeats doc 1's text: rejected; the two fresh docs survive
        // and are appended.
        assert(survivors === Set(99L, 100L))
        val n = jobs.count(_.getProperty(
          org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY) ==
          q.id.toString)
        assert(n > 0, "no job carried the stream's query id")
        info(s"$n jobs in the micro-batch")
        assert(n <= budget)
      } finally in.cleanup()
    }
  }

  private val DayNs = 86400000000000L

  /** (ts, user_id, event_type, value): every rollup reads its own columns. */
  private def events(day: Long, users: Range): Seq[(Long, Long, String, Double)] =
    users.map(u => (day * DayNs + u * 1000L, u.toLong, if (u % 2 == 0) "view" else "buy", u * 0.25))

  private val rollups: Seq[(String, (DataFrame, String) => StreamingQuery)] = Seq(
    "mgRollup" -> ((df, dir) => Streams.mgRollup(df, dir, 4)),
    "kmvRollup" -> ((df, dir) => Streams.kmvRollup(df, dir, 64)),
    "hllRollup" -> ((df, dir) => Streams.hllRollup(df, dir)),
    "mvRollupIngest" -> ((df, dir) => Streams.mvRollupIngest(df, dir)))

  rollups.foreach { case (name, start) =>
    test(s"$name reads each micro-batch once: numInputRows is its row count") {
      implicit val sqlCtx = spark.sqlContext
      val b1 = events(100, 1 to 40)
      val b2 = events(100, 30 to 60) ++ events(101, 1 to 7)
      val stream = MemoryStream[(Long, Long, String, Double)]
      val q = start(stream.toDF().toDF("ts", "user_id", "event_type", "value"),
        tmp(s"graft_sb_$name") + "/store")
      try {
        stream.addData(b1: _*); q.processAllAvailable()
        stream.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq ===
        Seq(b1.length.toLong, b2.length.toLong))
    }
  }
}
