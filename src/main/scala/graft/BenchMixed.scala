package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import Lane.{f1, f2, jsonString, materialize, pct}

/** Mixed-workload lane (VERDICT r12 #5): the streaming decontamination
  * loop and the batch bench surface CONCURRENTLY on ONE SparkSession —
  * the production shape neither BENCH_FULL (batch only) nor
  * BENCH_STREAMING (stream only) exercises: layout/index `KeyedLocks`
  * under cross-lane contention, streaming state-store pressure next to
  * batch shuffle/cache pressure, FAIR-scheduler interleaving of
  * micro-batch triggers with multi-stage batch jobs.
  *
  * Protocol, one JVM (`spark.scheduler.mode=FAIR`):
  *  1. codegen warm-up of the batch surface at sf0.001 (as graft.Bench);
  *  2. decontamination stream starts against a pre-seeded corpus-sized
  *     span index, compaction armed (the BENCH_STREAMING configuration);
  *  3. phase SOLO-PRE: `SPARK_GRAFT_MIXED_SOLO` triggers with the batch
  *     lane idle — the baseline trigger latency on this box;
  *  4. phase MIXED: the full batch surface runs serially on a worker
  *     thread while the stream keeps triggering until the batch lane
  *     finishes — every trigger in this window is timed under
  *     contention;
  *  5. phase SOLO-POST: `SPARK_GRAFT_MIXED_SOLO` more solo triggers —
  *     separates contention dilation (recovers) from state growth
  *     (does not).
  *
  * Reported: batch wall + per-query failures (a failure that only
  * happens with the stream running IS the bug this lane hunts), per-
  * phase trigger p50/p95, the mixed/solo dilation ratio, and the index
  * file-count bounds (compaction must keep working under contention).
  * Artifact: BENCH_MIXED.json.
  */
object BenchMixed {

  private case class Stat(rows: Long, ms: Double)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val soloTriggers = sys.env.getOrElse("SPARK_GRAFT_MIXED_SOLO", "5").toInt
    val docsPerTrigger =
      sys.env.getOrElse("SPARK_GRAFT_MIXED_DOCS", "2500").toInt
    val load0 = Bench.loadAvg()
    val spark = GraftSession(fair = true)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val qs = Lane.queries(Lane.benchOnly).toSeq

    // codegen warm-up (plan-structure dependent only)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    if (warmDir != "none" && new java.io.File(warmDir).isDirectory)
      qs.foreach { case (_, fn) =>
        try materialize(fn(spark, warmDir)) catch { case scala.util.control.NonFatal(_) => () }
      }

    // ---- decontamination stream, pre-seeded + compaction armed ----
    val base = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect()
    val perTrigger = math.min(docsPerTrigger, base.length)
    val maxId = base.map(_.getLong(0)).max + 1L
    val indexRoot = tmp("bm-dc-index")
    graft.sources.VersionedStats.commitWithRowStat(
      graft.ext.DedupIndex.spanIndex(
        graft.sources.Tables.table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text")), k = 12), indexRoot)
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamingDecontamination.decontaminationWriter(
      stream, indexRoot, tmp("bm-dc-report"), k = 12,
      checkpoint = tmp("bm-dc-ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("0 seconds"),
      compactAboveFiles = 16).start()

    var triggerNo = 0
    def oneTrigger(): Stat = {
      triggerNo += 1
      val i = triggerNo
      val batch = base.take(perTrigger).map { r =>
        val text = if (i % 2 == 1)
          r.getString(1).split(" ").map(_ + s"m$i").mkString(" ")
        else r.getString(1)
        (r.getLong(0) + i * maxId, text)
      }
      input.addData(batch.toSeq)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      Stat(batch.length.toLong, (System.nanoTime() - t0) / 1e6)
    }

    // phase SOLO-PRE
    val pre = (1 to soloTriggers).map(_ => oneTrigger())

    // phase MIXED: batch surface on a worker thread, triggers on this one
    val pool = Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    @volatile var batchDone = false
    val batchRun: Future[(Double, Seq[(String, Double)], Seq[String])] =
      Future {
        val t0 = System.nanoTime()
        val times = Seq.newBuilder[(String, Double)]
        val errs = Seq.newBuilder[String]
        qs.foreach { case (name, fn) =>
          val s0 = System.nanoTime()
          try { materialize(fn(spark, sfDir))
            times += name -> (System.nanoTime() - s0) / 1e9
          } catch { case scala.util.control.NonFatal(e) =>
            errs += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(120)}"
          }
        }
        batchDone = true
        ((System.nanoTime() - t0) / 1e9, times.result(), errs.result())
      }
    val mixed = Seq.newBuilder[Stat]
    while (!batchDone) mixed += oneTrigger()
    val (batchWall, batchTimes, batchErrs) =
      Await.result(batchRun, 3.hours)
    pool.shutdown()

    // phase SOLO-POST
    val post = (1 to soloTriggers).map(_ => oneTrigger())
    q.stop()

    val files = graft.sources.VersionedTable.fileCount(spark, indexRoot)
    val mixedStats = mixed.result()
    def phase(name: String, s: Seq[Stat]): String =
      s""""$name":{"triggers":${s.size},"trigger_ms_p50":${f1(pct(s.map(_.ms), 0.5))},"trigger_ms_p95":${f1(pct(s.map(_.ms), 0.95))},"trigger_ms_max":${f1(if (s.isEmpty) -1 else s.map(_.ms).max)}}"""
    val dilation =
      if (pre.isEmpty || mixedStats.isEmpty) -1.0
      else pct(mixedStats.map(_.ms), 0.5) / math.max(pct(pre.map(_.ms), 0.5), 1e-9)
    val slowest = batchTimes.sortBy(-_._2).take(5)
      .map { case (n, s) => s""""$n":${f2(s)}""" }.mkString(",")
    val json = s"""{"metric":"mixed_workload","sf_dir":"$sfDir","load_avg_start":${f2(load0)},"docs_per_trigger":$perTrigger,"batch":{"queries":${batchTimes.size},"failures":${batchErrs.size},"failed":[${batchErrs.map(jsonString).mkString(",")}],"wall_sec":${f2(batchWall)},"slowest":{$slowest}},"stream":{${phase("solo_pre", pre)},${phase("mixed", mixedStats)},${phase("solo_post", post)},"mixed_over_solo_p50":${f2(dilation)},"index_files_final":$files}}"""
    println(json)
    spark.stop()
  }
}
