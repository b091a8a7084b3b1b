package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BucketedTable

/** Shared local session for specs, built by the same [[GraftSession]]
  * factory as Verify/Bench (UTC, nanos-as-long for the events table,
  * bucketed layout reads) on 2 threads and 2 shuffle partitions, so a
  * spec session cannot drift from theirs. The session is shared across
  * suites and never stopped (JVM exit ends it); each suite's
  * [[TempDirs]] are deleted after its last test. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  // arm the debug contract check in top_k_by(distinctIds): any suite
  // exercising it through a caller that feeds an id differing values
  // fails loudly instead of silently getting best-value-per-id
  System.setProperty("graft.topk.checkDistinctContract", "true")

  lazy val spark: SparkSession = GraftSession(cpus = 2)

  private val layouts = new ConcurrentLinkedQueue[String]

  /** Drop the bucketed layout `name` (its catalog entry and its files
    * under [[BucketedTable.layoutRoot]]) after the suite's last test. For
    * layouts over a [[tempDir]] source: once the source is deleted no
    * later run can select the layout again, so nothing else removes it. */
  def dropLayoutAfterAll(name: String): String = { layouts.add(name); name }

  override def afterAll(): Unit =
    try layouts.asScala.foreach { name =>
      spark.sql(s"DROP TABLE IF EXISTS $name")
      TempDirs.deleteTree(BucketedTable.layoutRoot.toPath.resolve(name))
    } finally super.afterAll()
}
