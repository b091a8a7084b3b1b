package graft

import org.apache.spark.sql.SparkSession

/** The one session bootstrap every entry point shares (the `main`s and the
  * test `SparkSpec`). The confs that decide plan shapes live here once, so
  * a dev probe, a bench lane and a spec cannot drift from the session
  * `Verify` and `Bench` run on. Idempotent: a later call returns the
  * running session and re-applies the runtime confs (Spark keeps the
  * static ones, such as the master, from the first call).
  */
object GraftSession {

  /** Worker threads when the caller does not pin them:
    * `SPARK_GRAFT_CPUS`, else 32. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** The bootstrap confs as a pure list, so specs can pin them. Shuffle
    * partitions track the thread count; AQE is Spark 4's default, set
    * explicitly so the list states it; `nanosAsLong` reads a
    * TIMESTAMP(NANOS) `events.ts` as Long, converted to TimestampType in
    * `graft.sources.Tables`. `fair` is for the lanes that run jobs
    * concurrently on one session. */
  def confs(cpus: Int, fair: Boolean = false): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false"
  ) ++ (if (fair) Seq("spark.scheduler.mode" -> "FAIR") else Nil)

  /** Build (or return) the session with [[confs]], opt it into bucketed
    * layout reads ([[graft.sources.BucketedTable.configure]]) and set the
    * log level to WARN. */
  def apply(cpus: Int = envCpus, fair: Boolean = false): SparkSession = {
    val spark = confs(cpus, fair)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    graft.sources.BucketedTable.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench-only filter for WindowExec's move-all-data-to-one-partition
    * WARN: the three unpartitioned windows in the suite (funnel stage
    * rates, concurrency bucket offsets, shard-balance offsets) are
    * provably bounded — PlanShapeSpec pins that they sit above
    * aggregates — and a constant partition key does not survive the
    * optimizer (foldable spec keys are eliminated). Scoped to the two
    * window classes; Verify and user sessions keep the warning. */
  def quietWindowWarnings(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      java.util.Map.of(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR,
        "org.apache.spark.sql.execution.window.WindowExecBase",
        org.apache.logging.log4j.Level.ERROR))
    catch { // log4j-core absent, or another backend: keep the noise
      case _: LinkageError | _: ClassCastException => ()
    }
}
