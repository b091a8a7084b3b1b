package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: `unit` is the timed unit of work and
  * `after` the untimed glue that follows it (checks, restoring inputs). */
trait Workload {
  def setup(): Unit
  def unit(run: Int): Map[String, Any]
  def after(run: Int): Map[String, Any] = Map.empty
}

/** JVM side of the benchmark. Reads the run's config (written by run.py),
  * sets up, warms up to a plateau, runs the timed units and writes every
  * raw measurement to `<work>/result.json`. run.py turns that file into
  * metrics and checks the outputs against the oracles.
  *
  * Usage: `perfbench.Harness <config.json>`. */
object Harness {
  /** Warm-up has reached its plateau when the last unit is no faster than
    * the best before it by more than this share. */
  val Tolerance = 0.05

  val json: JsonMapper =
    JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val cfg = json.readTree(new java.io.File(args(0)))
    val work = cfg.get("work").asText
    val cores = cfg.get("cores").asInt
    val trace = cfg.get("trace").asBoolean
    val seconds = cfg.get("seconds").asDouble
    val load0 = loadAvg()
    val t0 = System.nanoTime()
    val confs = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/spark-warehouse")
    val spark = confs.foldLeft(SparkSession.builder()
      .master(s"local[$cores]")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    graft.sources.BucketedTable.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val workload: Workload = cfg.get("workload").asText match {
      case "query_mix" => new Mix(spark, tracer, cfg, work)
      case _ => new Etl(spark, tracer, cfg, work)
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    workload.setup()
    val workloadSetupS = (System.nanoTime() - t1) / 1e9

    // Warm up: at least `warmup_min` units, then until the last unit is no
    // faster than the best before it by more than `Tolerance`, at most
    // `warmup_max` units. There is no time cap, so the count does not depend
    // on how fast the machine is that minute.
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t2 = System.nanoTime()
    def warmElapsed = (System.nanoTime() - t2) / 1e9
    def walls = warm.map(_("wall_s").asInstanceOf[Double])
    def plateau = walls.size >= 2 &&
      walls.last >= (1 - Tolerance) * walls.init.min
    while (warm.size < cfg.get("warmup_min").asInt ||
      (!plateau && warm.size < cfg.get("warmup_max").asInt))
      warm += measured(workload, tracer, -1 - warm.size, traced = false)
    val warmupS = warmElapsed
    val jvmSetupS =
      (System.currentTimeMillis() - cfg.get("launch_ms").asDouble) / 1e3

    // Timed units: at least `min_units`, then another while it is expected
    // to end inside the window of `seconds`. With five or more units the
    // median does not hinge on whether one more unit fitted. A traced run
    // alternates untraced and traced units, starting untraced, with at
    // least one of each.
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    val minUnits = cfg.get("min_units").asInt
    val (steal0, total0) = cpuJiffies()
    val t3 = System.nanoTime()
    def elapsed = (System.nanoTime() - t3) / 1e9
    def typical = median(units.map(_("wall_s").asInstanceOf[Double]).toSeq)
    while (units.size < minUnits || (trace && units.size < 2) ||
      elapsed + typical <= seconds)
      units += measured(workload, tracer, units.size,
        traced = trace && units.size % 2 == 1)
    val measuredS = elapsed
    val (steal1, total1) = cpuJiffies()

    val result = Map(
      "env" -> Map(
        "nproc" -> cores, "master" -> s"local[$cores]",
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "load_avg_before" -> load0,
        "cpu_steal_pct" -> (if (total1 > total0)
          100.0 * (steal1 - steal0) / (total1 - total0) else 0.0),
        "session_confs" -> confs.map { case (k, _) => k -> spark.conf.get(k) },
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "setup" -> Map("session_s" -> sessionS,
        "workload_setup_s" -> workloadSetupS,
        "warmup_s" -> warmupS, "plateau" -> plateau, "jvm_s" -> jvmSetupS),
      "measured_s" -> measuredS,
      "warmup" -> warm, "units" -> units,
      "spans" -> tracer.spans.map(_.toMap),
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.writeString(Paths.get(s"$work/result.json"),
      json.writeValueAsString(result))
  }

  /** One unit with its wall time and the JVM's GC and JIT time during it.
    * A thrown error is recorded, not raised: it counts as a failed
    * operation, and the run goes on. */
  private def measured(w: Workload, tracer: Tracer, run: Int,
                       traced: Boolean): Map[String, Any] = {
    tracer.set(traced)
    val gc0 = gcMs(); val jit0 = jitMs()
    val t0 = System.nanoTime()
    val out = try w.unit(run)
    catch { case e: Exception => Map("error" -> describe(e)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = (gcMs() - gc0) / 1e3; val jit = (jitMs() - jit0) / 1e3
    tracer.set(false)
    out ++ w.after(run) ++ Map("run" -> run, "traced" -> traced,
      "wall_s" -> wall, "gc_s" -> gc, "jit_s" -> jit)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) = readFirstLine("/proc/stat")
    .map(_.trim.split("\\s+").drop(1).map(_.toLong))
    .map(f => (if (f.length > 7) f(7) else 0L, f.sum)).getOrElse((0L, 0L))

  private def loadAvg(): Double = readFirstLine("/proc/loadavg")
    .map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def readFirstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().nextOption() finally src.close()
    } catch { case _: java.io.IOException => None }
}
