package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always calls with two args = full dump)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = GraftSession()
    // Testdata-schema canary (round-8 incident: a driver regen changed
    // events.ts's physical type and four queries vanished from the
    // correctness artifact with no error row). Named drift errors print
    // LOUDLY here; the dump still proceeds — partial results beat none,
    // and SchemaCanarySpec fails the build on the same condition.
    graft.sources.SchemaCanary.errors(spark, sfDir).foreach { e =>
      System.err.println(s"[verify] SCHEMA CANARY: $e")
    }
    new java.io.File(outDir).mkdirs()
    Lane.queries(only).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    import Lane.jsonString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
