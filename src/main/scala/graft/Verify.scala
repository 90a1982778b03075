package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: only dump these queries (local iteration;
    // the driver always calls with exactly two)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftExtensions.session("graft-verify", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Round-8 postmortem: a query whose PLAN throws used to be printed to
    // stderr and written nowhere, so the driver's report silently dropped
    // it — 15 regressions looked like "fewer queries", not "15 broken".
    // Now every registered query ALWAYS produces an output dir: on failure
    // a 1-row `_error` parquet (guaranteed schema/hash mismatch vs the
    // oracle → a visible red row), and the process exits nonzero.
    var failures = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
            .toDF("_error").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
        }
      }
    }
    println(s"[verify] registered=${SparkEntry.queries.size} " +
      s"oracle=${SparkEntry.oracleSql.size} " +
      s"no_oracle=${SparkEntry.queries.size - SparkEntry.oracleSql.size} " +
      s"failed=$failures")
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
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // durable staging (spark.graft.stagingDir) leaves its staged frames
    // under the root; the run's outputs are written, so delete them
    Staging.cleanup(spark)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
