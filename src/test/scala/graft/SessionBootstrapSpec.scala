package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.SQLConf

/** Guards the single session bootstrap: [[GraftSession.confs]] reproduces
  * the session `Verify` and `Bench` ran on when each built its own, no
  * other main builds a session by hand, and the spec session is
  * the factory's. */
class SessionBootstrapSpec extends SparkSpec {

  /** The confs `graft.Bench` set by literal before the factory existed;
    * Bench and Verify both also ran `BucketedTable.configure`. */
  private def benchConfs(cpus: Int) = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** `graft.Verify` set the same keys except AQE, which it left at Spark's
    * default. */
  private def verifyConfs(cpus: Int) = benchConfs(cpus) -
    "spark.sql.adaptive.enabled" +
    ("spark.sql.adaptive.enabled" ->
      SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValueString)

  test("confs equal Bench's and Verify's former session, key by key") {
    for (cpus <- Seq(2, 8, 32)) {
      val confs = GraftSession.confs(cpus)
      assert(confs.map(_._1).distinct.size === confs.size, "duplicate key")
      assert(confs.toMap === benchConfs(cpus))
      assert(confs.toMap === verifyConfs(cpus))
      // the concurrent lanes added only the FAIR scheduler
      assert(GraftSession.confs(cpus, fair = true).toMap ===
        benchConfs(cpus) + ("spark.scheduler.mode" -> "FAIR"))
    }
  }

  test("no main source other than GraftSession builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    val stream = Files.walk(root)
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(root.relativize(_: Path).toString).toList
      finally stream.close()
    assert(offenders.isEmpty)
  }

  test("the spec session is the factory's, on 2 threads") {
    assert(spark.sparkContext.master === "local[2]")
    GraftSession.confs(2).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
    assert(spark.conf.get(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled") === "false")
  }
}
