package graft

import org.apache.spark.sql.types.{StringType, TimestampType}
import graft.sources.{SchemaCanary, Tables}

/** Guards the ingestion contract against driver testdata regens (the
  * round-8 incident: events.ts flipped TIMESTAMP(NANOS) → timestamp[us]/NTZ
  * and four queries silently vanished from the correctness artifact).
  * A drift must become ONE named failure, here, at build time. */
class SchemaCanarySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("current testdata passes the canary (no drift)") {
    assume(new java.io.File(sfDir).isDirectory)
    val errs = SchemaCanary.errors(spark, sfDir)
    assert(errs.isEmpty, s"testdata schema drifted:\n${errs.mkString("\n")}")
  }

  test("events.ts normalizes to TimestampType at the Tables boundary") {
    assume(new java.io.File(sfDir).isDirectory)
    val dt = Tables.table(spark, sfDir, "events").schema("ts").dataType
    assert(dt == TimestampType,
      s"events.ts arrived ${dt.simpleString} past the boundary — " +
        "Tables.table must normalize every physical encoding")
  }

  test("a doctored string ts fails with the table and column named") {
    assume(new java.io.File(sfDir).isDirectory)
    val tmp = tempDir("canary").toFile
    // copy the real tables' paths is unnecessary: point the canary at a dir
    // holding only a doctored events table; the other tables report
    // unreadable (also named), and the events.ts row carries the type error.
    import spark.implicits._
    Seq((1L, "2024-01-01T00:00:00Z", 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${tmp.getAbsolutePath}/events.parquet")
    val errs = SchemaCanary.errors(spark, tmp.getAbsolutePath)
    val tsErr = errs.find(_.startsWith("events.ts:"))
    assert(tsErr.isDefined, s"expected a named events.ts error, got:\n${errs.mkString("\n")}")
    assert(tsErr.get.contains("string"), tsErr.get)
    // and the ingestion boundary itself refuses, naming the column
    val boundary = intercept[IllegalStateException] {
      Tables.table(spark, tmp.getAbsolutePath, "events").schema
    }
    assert(boundary.getMessage.contains("events.ts"))
    // a doctored STRING column elsewhere is named too
    Seq((1, 2.0)).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"${tmp.getAbsolutePath}/region.parquet")
    val regErrs = SchemaCanary.errors(spark, tmp.getAbsolutePath)
    assert(regErrs.exists(e => e.startsWith("region.r_name:") && e.contains("double")),
      regErrs.mkString("\n"))
  }
}
