package graft

import graft.operators.Preview
import graft.sources.RunLog

/** The last two reference behaviors (S12 log sink, P14 preview) as
  * first-class components: buffered-then-pushed run logs and the
  * dtypes+head diagnostic, both safe at scale. */
class RunLogPreviewSpec extends SparkSpec {
  import spark.implicits._

  test("run log: buffer, levels, one-object push, overwrite on re-push") {
    val dir = tempDir("graft_runlog")
    val path = dir.resolve("run.log").toString
    val log = RunLog(spark, path)
    log.info("extract started")
    log.warn("3 malformed rows skipped")
    log.error("retrying load")
    val n = log.push()
    val written = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      "UTF-8")
    assert(n === written.getBytes("UTF-8").length.toLong)
    val lines = written.split("\n").toSeq
    assert(lines.size === 3)
    assert(lines(0).contains(" - INFO - extract started"))
    assert(lines(1).contains(" - WARN - 3 malformed rows skipped"))
    assert(lines(2).contains(" - ERROR - retrying load"))
    // reference put_object semantics: re-push replaces the object
    log.info("load finished")
    log.push()
    val again = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      "UTF-8")
    assert(again.split("\n").length === 4)
    assert(again.startsWith(written.stripSuffix("\n").split("\n").head))
  }

  test("preview: dtypes + head, rendered without materializing the frame") {
    val df = Seq((1L, "alpha", null.asInstanceOf[String]),
      (2L, "a-very-long-string-cell-that-must-truncate-here", "x"),
      (3L, "gamma", "y"))
      .toDF("id", "name", "opt")
    val p = Preview.preview(df, n = 2, maxWidth = 12)
    assert(p.contains("id: bigint"))
    assert(p.contains("name: string"))
    val lines = p.split("\n").toSeq
    // schema block, separator, header, separator, 2 rows, separator
    assert(lines.count(_.startsWith("| ")) === 3) // header + 2 rows
    assert(p.contains("null"))
    assert(p.contains("…"), "long cell must truncate")
    assert(!p.contains("gamma"), "row 3 must not be fetched")
  }

  test("preview fetch plans as a limit, not a full collect") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
    // take(n) goes through CollectLimit / limited scan — assert the
    // LOGICAL shape the fetch uses: a GlobalLimit lands atop the plan
    val limited = df.limit(3).queryExecution.optimizedPlan.toString
    assert(limited.contains("GlobalLimit") || limited.contains("Limit"),
      limited)
    val p = Preview.preview(df, n = 3)
    assert(p.split("\n").count(_.startsWith("| ")) === 4) // header + 3
  }
}
