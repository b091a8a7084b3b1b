package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Read-only query surface: one unit is one pass over the configured
  * registered queries in a seed-shuffled order, one client, closed loop.
  * Each query is timed in three parts: build (the registry call, including
  * any eager jobs the operators run inside it), plan (`executedPlan`) and
  * exec (`toRdd.count()`, which produces every row without collecting). */
final class Mix(spark: SparkSession, tracer: Tracer, cfg: JsonNode,
                work: String) extends Workload {

  private val data = cfg.get("data").asText
  private val seed = cfg.get("seed").asLong
  private val names = cfg.get("queries").elements.asScala.map(_.asText).toSeq

  def setup(): Unit = ()

  /** The first warm-up unit (run -1) is the result check: each query's
    * rows are written as parquet beside its oracle SQL, for the DuckDB
    * compare. */
  def unit(run: Int): Map[String, Any] =
    if (run == -1) checkPass() else pass(run)

  private def pass(run: Int): Map[String, Any] = {
    val ops = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.LinkedHashMap.empty[String, String]
    for (q <- new scala.util.Random(seed * 1000003L + run).shuffle(names)) {
      val t0 = System.nanoTime()
      try tracer.span(s"q.$q", run) {
        val df = tracer.span(s"q.$q.build", run)(
          SparkEntry.queries(q)(spark, data))
        tracer.span(s"q.$q.plan", run)(df.queryExecution.executedPlan)
        tracer.span(s"q.$q.exec", run)(df.queryExecution.toRdd.count())
      } catch { case e: Exception => errors(q) = Harness.describe(e) }
      ops(q) = (System.nanoTime() - t0) / 1e9
    }
    Map("ops" -> ops, "errors" -> errors)
  }

  private def checkPass(): Map[String, Any] = {
    val out = s"$work/check"
    val errors = mutable.LinkedHashMap.empty[String, String]
    for (q <- names)
      try SparkEntry.queries(q)(spark, data).coalesce(1).write
        .mode("overwrite").parquet(s"$out/$q")
      catch { case e: Exception => errors(q) = Harness.describe(e) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Harness.json.writeValueAsString(
        names.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    Map("errors" -> errors)
  }
}
