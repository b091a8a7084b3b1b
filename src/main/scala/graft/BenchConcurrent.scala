package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}

import Lane.{f2, f3, jsonString, materialize}

/** Concurrent-query bench lane (VERDICT r11 #6): a production warehouse
  * session runs queries CONCURRENTLY on one SparkSession, which the
  * serial bench never exercises — the shared session conf
  * (`BucketedTable.configure`), the bucketed-layout catalog, the
  * fingerprinted index roots, and per-query temp views are all shared
  * state that only concurrency can race.
  *
  * Protocol, one JVM:
  *  1. codegen warm-up at sf0.001 (as graft.Bench);
  *  2. a SERIAL timed pass at the target SF — the baseline, and the pass
  *     that materializes every layout/index asset so the concurrent pass
  *     measures steady state (assets prebuilt, the production shape)
  *     rather than create-if-missing races a bootstrap would serialize;
  *  3. a CONCURRENT pass: every query submitted once to a fixed pool of
  *     `SPARK_GRAFT_BENCH_THREADS` (default 6) workers in shuffled
  *     order, `spark.scheduler.mode=FAIR` so stages interleave the way
  *     a shared session's would.
  *
  * Reported per query: serial s, concurrent s, ratio; headline: wall
  * time of each pass (the throughput number — concurrent wall well
  * under serial wall = the session actually overlaps work), sum of
  * per-query times (the contention number — conc_sum/serial_sum reads
  * as average per-query dilation under sharing), p50/p95 dilation, and
  * every error (a failure that only happens concurrently IS the bug
  * this lane hunts). Artifact: BENCH_CONCURRENT.json.
  */
object BenchConcurrent {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val threads = sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "6").toInt
    val load0 = Bench.loadAvg()
    val (steal0, jiffies0) = Bench.cpuJiffies()
    val spark = GraftSession(fair = true)
    GraftSession.quietWindowWarnings()

    val qs = Lane.queries(Lane.benchOnly).toSeq

    // codegen warm-up (plan-structure dependent only)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    if (warmDir != "none" && new java.io.File(warmDir).isDirectory)
      qs.foreach { case (_, fn) =>
        try materialize(fn(spark, warmDir)) catch { case scala.util.control.NonFatal(_) => () }
      }

    def timed(fn: (SparkSession, String) => DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      try { materialize(fn(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
      catch { case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
    }

    // serial pass: baseline + asset materialization
    val serialT0 = System.nanoTime()
    val serial = qs.map { case (n, fn) => n -> timed(fn) }.toMap
    val serialWall = (System.nanoTime() - serialT0) / 1e9

    // concurrent pass
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    val order = new scala.util.Random(seed).shuffle(qs)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val concT0 = System.nanoTime()
    val concFuts = order.map { case (n, fn) => Future(n -> timed(fn)) }
    val conc = Await.result(Future.sequence(concFuts), 6.hours).toMap
    val concWall = (System.nanoTime() - concT0) / 1e9
    pool.shutdown()

    val (steal1, jiffies1) = Bench.cpuJiffies()
    val stealPct = if (jiffies1 > jiffies0)
      100.0 * (steal1 - steal0) / (jiffies1 - jiffies0) else 0.0

    val serialOk = serial.collect { case (n, Right(s)) => n -> s }
    val concOk = conc.collect { case (n, Right(s)) => n -> s }
    val errors =
      serial.collect { case (n, Left(e)) =>
        s"""{"q":"$n","pass":"serial","err":${jsonString(e)}}""" } ++
      conc.collect { case (n, Left(e)) =>
        s"""{"q":"$n","pass":"concurrent","err":${jsonString(e)}}""" }
    val ratios = concOk.flatMap { case (n, c) =>
      serialOk.get(n).filter(_ > 0.05).map(s => n -> c / s) }.toSeq
    def pct(p: Double): Double = Lane.pct(ratios.map(_._2), p)
    val perQuery = qs.map(_._1).sorted.map { n =>
      val s = serialOk.get(n).map(f3).getOrElse("null")
      val c = concOk.get(n).map(f3).getOrElse("null")
      s""""$n":{"serial":$s,"concurrent":$c}"""
    }
    val json =
      s"""{"metric":"concurrent_wall","value":${f3(concWall)},"unit":"sec","threads":$threads,"sf":"$sfDir","seed":$seed,"n_queries":${qs.size},"serial_wall":${f3(serialWall)},"serial_sum":${f3(serialOk.values.sum)},"concurrent_sum":${f3(concOk.values.sum)},"wall_speedup":${f2(serialWall / math.max(concWall, 1e-9))},"dilation_p50":${f2(pct(0.5))},"dilation_p95":${f2(pct(0.95))},"n_failed_serial":${serial.count(_._2.isLeft)},"n_failed_concurrent":${conc.count(_._2.isLeft)},"errors":[${errors.mkString(",")}],"load_avg_start":${f2(load0)},"load_avg_end":${f2(Bench.loadAvg())},"steal_pct":${f2(stealPct)},"queries":{${perQuery.mkString(",")}}}"""
    val w = new java.io.PrintWriter("BENCH_CONCURRENT.json", "UTF-8")
    try w.println(json) finally w.close()
    // stdout: headline only (artifact carries the full map)
    println(s"""{"metric":"concurrent_wall","value":${f3(concWall)},"unit":"sec","threads":$threads,"serial_wall":${f3(serialWall)},"wall_speedup":${f2(serialWall / math.max(concWall, 1e-9))},"dilation_p50":${f2(pct(0.5))},"dilation_p95":${f2(pct(0.95))},"n_failed_serial":${serial.count(_._2.isLeft)},"n_failed_concurrent":${conc.count(_._2.isLeft)}}""")
    spark.stop()
    if (serial.exists(_._2.isLeft) || conc.exists(_._2.isLeft)) sys.exit(2)
  }
}
