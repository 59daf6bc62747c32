package graft

/** S5/S6 probe coverage (reference `idx_transform.py:290-292`,
  * `yfinance_transform.py:117`): the probes are load-bearing — every
  * [[Sources.table]] read runs the S5 existence check and [[Sources.ohlcv]]
  * runs the S6 column check — and these tests exercise both branches. */
class SourcesSpec extends SparkSpec {

  test("S5 tableExists: true for real tables, false otherwise") {
    assert(Sources.tableExists(sfDir, "lineitem"))
    assert(!Sources.tableExists(sfDir, "no_such_table"))
  }

  test("S5 guard: reading a missing table fails with the probe message") {
    val e = intercept[IllegalArgumentException] {
      Sources.table(spark, sfDir, "no_such_table")
    }
    assert(e.getMessage.contains("S5 existence probe"))
  }

  // --- schemas come from the parquet footer, with no job.

  private def tables: Seq[String] =
    new java.io.File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq

  test("Sources.table's footer schema equals Spark's inferred schema for every table") {
    assert(tables.size >= 10)
    tables.foreach { t =>
      assert(Sources.table(spark, sfDir, t).schema ===
        spark.read.parquet(s"$sfDir/$t.parquet").schema, s"table $t")
    }
  }

  test("Sources.table launches no job; Spark's inference launches one") {
    val probe = new JobProbe(spark)
    val (_, readJobs, _) = probe.run(tables.foreach(Sources.table(spark, sfDir, _)))
    assert(readJobs === 0)
    // The probe sees inference jobs, so the 0 above is not a blind count.
    val (_, inferJobs, _) = probe.run(spark.read.parquet(s"$sfDir/orders.parquet"))
    assert(inferJobs >= 1)
  }

  test("Sources.parquet reads a directory's first data file footer, skipping _ and . files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_footer").toString
    val df = spark.range(10).selectExpr("id", "cast(id as string) as s")
    df.repartition(2).write.mode("overwrite").parquet(s"$dir/t")
    val probe = new JobProbe(spark)
    val (read, jobs, _) = probe.run(Sources.parquet(spark, s"$dir/t"))
    assert(jobs === 0)
    assert(read.schema === spark.read.parquet(s"$dir/t").schema)
    assert(read.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
  }

  test("S6 hasColumn: present and absent columns") {
    val li = Sources.lineitem(spark, sfDir)
    assert(Sources.hasColumn(li, "l_shipdate"))
    assert(!Sources.hasColumn(li, "no_such_column"))
  }

  test("S6 guard: ohlcv view requires the Date source column") {
    // The probe passes on real data (view builds fine)...
    assert(Sources.ohlcv(spark, sfDir).columns.contains("Date"))
    // ...and hasColumn is what it consults (asserted directly above).
  }

  // --- events `ts` contract: BIGINT nanos regardless of physical encoding.
  // The driver's testdata has carried both INT64 TIMESTAMP(NANOS) and
  // timestamp[us] across rounds; Sources.events must normalize either so
  // every downstream integer-nanos shape (`ts DIV 86400000000000`,
  // `ts DIV 1000`) keeps analyzing AND keeps agreeing with the DuckDB
  // `epoch_ns(ts)` oracle.

  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** Write a tiny events.parquet with `ts` in the given flavor, read it
    * back through Sources.events, and return (tsType seen by the reader,
    * normalized rows). Micros values chosen sub-second-offset so the
    * micros→nanos ×1000 is visibly exact. */
  private def roundtrip(flavor: String): Seq[(Long, Long)] = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ev_$flavor").toString
    val micros = Seq(1704067207179575L, 1706655432194062L) // 2024-01-01.., 2024-01-30..
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(micros.zipWithIndex.map { case (us, i) =>
        org.apache.spark.sql.Row(i.toLong, us)
      }), StructType(Seq(
        StructField("event_id", LongType), StructField("us", LongType))))
    val withTs = flavor match {
      case "micros_tz"  => base.withColumn("ts", timestamp_micros(col("us"))).drop("us")
      case "micros_ntz" => base.withColumn("ts",
        timestamp_micros(col("us")).cast(TimestampNTZType)).drop("us")
      case "long"       => base.withColumn("ts", col("us") * lit(1000L)).drop("us")
    }
    withTs.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Sources.events(spark, dir)
    assert(ev.schema("ts").dataType === LongType,
      s"$flavor: ts must leave Sources.events as BIGINT nanos")
    // The two downstream time-math shapes every event query uses:
    ev.select(col("event_id"),
        expr("ts DIV 86400000000000").as("day"),
        expr("ts DIV 1000").as("us"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
  }

  test("events ts contract: micros(TZ), micros(NTZ), and long all normalize to nanos") {
    val expected = Seq(
      (1704067207179575L / 86400000000L, 1704067207179575L),
      (1706655432194062L / 86400000000L, 1706655432194062L))
    assert(roundtrip("micros_tz") === expected)
    assert(roundtrip("micros_ntz") === expected)
    assert(roundtrip("long") === expected)
  }

  test("events ts contract: the real testdata reads as BIGINT nanos") {
    val ev = Sources.events(spark, sfDir)
    assert(ev.schema("ts").dataType === LongType)
    // Sanity: values land in the 2024 nanos range, not micros or seconds.
    val mn = ev.agg(min(col("ts"))).head.getLong(0)
    assert(mn > 1700000000000000000L, s"min ts $mn is not in the nanos range")
  }
}
