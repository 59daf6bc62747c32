package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — trailing names (if any)
    // restrict the dump for fast single-query iteration.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus)
      // Release shuffle files promptly in a long many-query session (see
      // Bench.scala — same hygiene, same reason).
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A throwing query must be LOUD in the correctness artifact, not
        // absent from it (round-5 lesson: 16 analysis failures vanished).
        // Dump a 1-row `_error` parquet — the oracle compare then records
        // an explicit schema/hash mismatch row for this query — plus a
        // plain-text sidecar with the full message for the human.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(4000)}"
        // The dump itself must never abort the run: if the session is the
        // thing that died, the parquet write below throws too — swallow
        // it so the remaining queries and oracle_sql.json still land
        // (the sidecar goes through plain java.nio first for the same
        // reason).
        try Files.writeString(Paths.get(s"$outDir/$name._ERROR.txt"), msg)
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sidecar failed: ${e2.getMessage}")
        }
        try {
          import spark.implicits._
          Seq(msg).toDF("_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error dump failed: ${e2.getMessage}")
        }
      }
      // Dedup/sim queries persist shared intermediates; reclaim them so
      // the multi-query run doesn't accumulate cache/shuffle residue.
      graft.util.Views.unpersistAll()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
