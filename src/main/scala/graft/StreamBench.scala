package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingDecontamination, StreamingKpis,
  StreamingSessions}
import Lane.{f1, f2, pct}

/** Streaming micro-bench (VERDICT r09 #4): the 8 streaming suites prove
  * semantics but publish no latency/throughput number. This harness
  * drives the three stateful loops with a deterministic in-memory feed
  * and reports rows/s and per-trigger ms into BENCH_STREAMING.json —
  * measured, not gated: the artifact exists so a regression (e.g. state
  * store growth making trigger time climb) becomes a visible number
  * instead of an invisible property.
  *
  * Feeds use MemoryStream + processAllAvailable per trigger — wall-clock
  * per trigger includes source admission, state store I/O, and sink
  * commit, which is the number a user feels. The rate source was
  * considered and rejected: its admission cadence (rowsPerSecond) would
  * measure the throttle, not the engine.
  *
  * Benches:
  *  - sessionize: flatMapGroupsWithState gap sessions, N users
  *    interleaved, event-time advancing ~1 min/trigger so the watermark
  *    moves and timeout-close paths execute (state stays O(users)).
  *  - hourly_kpis: watermarked sliding-window agg + approx distinct.
  *  - decontamination: the versioned span-index loop (cut batch against
  *    index, append report, ingest spans) over real sf0.001 documents —
  *    per trigger the index grows, so trigger_ms trend is the signal.
  *  - knn_graph_ingest: the persisted kNN graph's maintenance lane —
  *    fresh vectors per trigger absorbed by local descent; trend again
  *    the signal (a climb means ingest stopped being batch-local).
  *  - split_maintenance: the persisted split index's lane — arriving
  *    docs inherit their near-dup cluster's side via the stored-postings
  *    probe; assignments append to the report table per trigger.
  */
object StreamBench {

  private case class TriggerStat(rows: Long, ms: Double)

  /** Growth slope of a trigger-latency series: p50 of the last
    * `steady/2` triggers over p50 of the first `steady/2` (equal-size
    * halves; an odd middle trigger is dropped), the warmup trigger
    * excluded — the mixed lane's state-growth witness generalized so
    * the growing-index lanes (knn_graph_ingest, split_maintenance)
    * assert flatness BY NUMBER instead of by eyeball (VERDICT r15 #3).
    * ~1.0 = flat (per-trigger cost independent of accumulated state);
    * a sustained climb means ingest stopped being batch-local. -1 when
    * fewer than 4 steady triggers (halves would be noise, not trend).
    * Public and pure so StreamBenchSlopeSpec pins the exact semantics
    * the artifact reports. */
  def growthSlope(ms: Seq[Double]): Double = {
    val steady = ms.drop(1)
    if (steady.size < 4) -1.0
    else {
      val half = steady.size / 2
      pct(steady.takeRight(half), 0.5) /
        math.max(pct(steady.take(half), 0.5), 1e-9)
    }
  }

  private def report(name: String, stats: Seq[TriggerStat],
                     extra: String = ""): String = {
    val rows = stats.map(_.rows).sum
    val totalSec = stats.map(_.ms).sum / 1000.0
    // Trigger 0 carries one-off codegen/state-store-open cost (with 20
    // triggers it IS the p95); report it separately so the percentiles
    // read steady-state latency, the number a trend watcher cares about.
    val warmMs = stats.headOption.map(_.ms).getOrElse(-1.0)
    val ms = stats.drop(1).map(_.ms)
    s""""$name":{"rows":$rows,"triggers":${stats.size},"total_sec":${f2(totalSec)},"rows_per_sec":${(rows / math.max(totalSec, 1e-9)).toLong},"warmup_trigger_ms":${f1(warmMs)},"trigger_ms_p50":${f1(pct(ms, 0.5))},"trigger_ms_p95":${f1(pct(ms, 0.95))},"trigger_ms_max":${f1(if (ms.isEmpty) -1.0 else ms.max)}$extra}"""
  }

  def main(args: Array[String]): Unit = {
    // run-condition meta, as in Bench: trigger latencies inflate
    // uniformly 1.5-4x under hypervisor steal or co-tenant load, and an
    // artifact without its measurement conditions can't be adjudicated
    val load0 = Bench.loadAvg()
    val (steal0, jiffies0) = Bench.cpuJiffies()
    val spark = GraftSession()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def tmp(prefix: String): String =
      Files.createTempDirectory(prefix).toString

    val triggers = sys.env.getOrElse("SPARK_GRAFT_STREAM_TRIGGERS", "20").toInt
    val rowsPerTrigger =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "25000").toInt
    val users = 2000

    // ---- sessionize ----------------------------------------------------
    val sessStats = {
      val input = MemoryStream[StreamingSessions.SessionEvent]
      val out = StreamingSessions.sessionize(input.toDS(), gapSeconds = 300)
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", tmp("sb-sess")).outputMode("append")
        .start()
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val stats = (0 until triggers).map { b =>
        // trigger b spans one minute; each user gets rowsPerTrigger/users
        // events spread across it. Sessions close via the 300 s gap as
        // the watermark advances trigger over trigger.
        val events = (0 until rowsPerTrigger).map { i =>
          val u = i % users
          val t = base + b * 60000L + (i / users) * 7000L + u % 997
          StreamingSessions.SessionEvent(u, new Timestamp(t), 1.0)
        }
        input.addData(events)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        TriggerStat(rowsPerTrigger, (System.nanoTime() - t0) / 1e6)
      }
      q.stop()
      stats
    }

    // ---- per-key EWMA (flatMapGroupsWithState, O(1) state) -------------
    val ewmaStats = {
      val input = MemoryStream[graft.streaming.StreamingEwma.EwmaInput]
      val out = graft.streaming.StreamingEwma.smoothed(input.toDS())
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", tmp("sb-ewma")).outputMode("append")
        .start()
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val stats = (0 until triggers).map { b =>
        val rows = (0 until rowsPerTrigger).map { i =>
          val u = (i % users).toLong
          graft.streaming.StreamingEwma.EwmaInput(u,
            new Timestamp(base + b * 60000L + (i / users) * 1000L),
            b.toLong * rowsPerTrigger + i, (i % 100).toDouble)
        }
        input.addData(rows)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        TriggerStat(rowsPerTrigger, (System.nanoTime() - t0) / 1e6)
      }
      q.stop()
      stats
    }

    // ---- hourly windowed kpis -----------------------------------------
    val kpiStats = {
      val input = MemoryStream[(Timestamp, Long, String, Double)]
      val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
      val out = StreamingKpis.hourlyWindowedKpis(events, "ts", "user_id")
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", tmp("sb-kpi")).outputMode("append")
        .start()
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val types = Array("play", "pause", "skip", "like")
      val stats = (0 until triggers).map { b =>
        // ~3 event-time minutes per trigger: windows age out and emit as
        // the watermark crosses hour boundaries.
        val rows = (0 until rowsPerTrigger).map { i =>
          val t = base + b * 180000L + (i % 180) * 1000L
          (new Timestamp(t), (i % users).toLong, types(i % types.length),
            (i % 100).toDouble)
        }
        input.addData(rows)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        TriggerStat(rowsPerTrigger, (System.nanoTime() - t0) / 1e6)
      }
      q.stop()
      stats
    }

    // ---- decontamination loop -----------------------------------------
    // Realistic shape (VERDICT r10 #5 — the earlier 25-docs/trigger run
    // measured trigger overhead, not throughput): the index is PRE-SEEDED
    // with the full sf0.1 corpus' spans, then each trigger streams a
    // full-corpus-sized batch (docsPerTrigger, default the whole 5k-doc
    // table) of fresh replicas — odd replicas word-salted (all-new spans:
    // the pure ingest path), even replicas verbatim (every span already
    // indexed: the full-cut path) — so cut and ingest legs both carry
    // real volume while the index grows each trigger. Read amplification
    // is reported from DataFrame.inputFiles: how many index files one
    // trigger's cut actually touches.
    val (decontStats, decontExtra) = {
      val sf = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS_DIR",
        "/root/testdata/sf0.1")
      val docTriggers =
        sys.env.getOrElse("SPARK_GRAFT_STREAM_DOC_TRIGGERS", "6").toInt
      val base = graft.sources.Tables.table(spark, sf, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).collect()
      val docsPerTrigger = math.min(
        sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", base.length.toString)
          .toInt, base.length)
      val maxId = base.map(_.getLong(0)).max + 1L
      val indexRoot = tmp("sb-dc-index")
      val reportRoot = tmp("sb-dc-report")
      // pre-seed: the corpus-sized span index every trigger cuts against
      graft.sources.VersionedStats.commitWithRowStat(
        graft.ext.DedupIndex.spanIndex(
          graft.sources.Tables.table(spark, sf, "documents")
            .select(col("doc_id"), col("text")), k = 12), indexRoot)
      val input = MemoryStream[(Long, String)]
      val stream = input.toDF().toDF("doc_id", "text")
      // Continuous micro-batch trigger: the writer's AvailableNow default
      // would terminate on the initially-empty MemoryStream before any
      // addData arrives, measuring nothing.
      // compaction armed (VERDICT r11 #2): the unarmed loop's manifest
      // grew 6 -> 46 files in 6 triggers — linear read amplification
      // forever; the file-count policy rewrites the snapshot clustered
      // on the hash key whenever the manifest passes 16 files
      val q = StreamingDecontamination.decontaminationWriter(
        stream, indexRoot, reportRoot, k = 12,
        checkpoint = tmp("sb-dc-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds"),
        compactAboveFiles = 16).start()
      val filesPerTrigger = Seq.newBuilder[Int]
      val stats = (1 to docTriggers).map { i =>
        filesPerTrigger += graft.sources.VersionedTable
          .read(spark, indexRoot).inputFiles.length
        val batch = base.take(docsPerTrigger).map { r =>
          val text = if (i % 2 == 1)
            r.getString(1).split(" ").map(_ + s"r$i").mkString(" ")
          else r.getString(1)
          (r.getLong(0) + i * maxId, text)
        }
        input.addData(batch.toSeq)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        TriggerStat(batch.length.toLong, (System.nanoTime() - t0) / 1e6)
      }
      q.stop()
      val files = filesPerTrigger.result() :+
        graft.sources.VersionedTable.fileCount(spark, indexRoot)
      val indexRows = graft.sources.VersionedTable
        .read(spark, indexRoot).count()
      val extra = s""","docs_per_trigger":$docsPerTrigger,"index_rows_final":$indexRows,"index_files_first":${files.headOption.getOrElse(-1)},"index_files_last":${files.lastOption.getOrElse(-1)},"index_files_max":${if (files.isEmpty) -1 else files.max}"""
      (stats, extra)
    }

    // ---- semantic screen loop ------------------------------------------
    // The embedding sibling at the same realistic-volume discipline: the
    // IVF-PQ index is pre-seeded with the full corpus' codes, then each
    // trigger streams a corpus-sized batch — odd triggers re-send indexed
    // embeddings under new ids (the all-contaminated screen path), even
    // triggers send decorrelated vectors (half-rotated dims with
    // alternating signs — expected cosine ≈ 0 to everything indexed, so
    // mostly the survivor-ingest path; plain negation would NOT work:
    // cos(u,−v) = −cos(u,v) flags every anti-correlated pair) — so both
    // legs carry real volume while the codes table grows on even
    // triggers.
    val (screenStats, screenExtra) = {
      val sf = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS_DIR",
        "/root/testdata/sf0.1")
      val screenTriggers =
        sys.env.getOrElse("SPARK_GRAFT_STREAM_VEC_TRIGGERS", "6").toInt
      val base = graft.sources.Tables.table(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val vecsPerTrigger = math.min(
        sys.env.getOrElse("SPARK_GRAFT_STREAM_VECS", base.length.toString)
          .toInt, base.length)
      val maxId = base.map(_._1).max + 1L
      val indexRoot = tmp("sb-sc-index")
      val reportRoot = tmp("sb-sc-report")
      graft.ext.PqIndex.create(
        graft.sources.Tables.table(spark, sf, "embeddings"), indexRoot)
      val input = MemoryStream[(Long, Array[Float])]
      val stream = input.toDF().toDF("vec_id", "embedding")
      val q = graft.streaming.StreamingSemanticDecontamination.screenWriter(
        stream, indexRoot, reportRoot, nprobe = 4, tau2 = 1.0,
        checkpoint = tmp("sb-sc-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds"),
        // lower threshold than the span lane: codes commits add ~1 file
        // per trigger, so 4 exercises the policy within the 6-trigger run
        compactAboveFiles = 4).start()
      val filesPerTrigger = Seq.newBuilder[Int]
      val stats = (1 to screenTriggers).map { i =>
        filesPerTrigger += graft.ext.PqIndex
          .codes(spark, indexRoot).inputFiles.length
        // per-trigger rotation offset: without it, even trigger 4 would
        // replay trigger 2's exact transform — duplicates of already-
        // ingested survivors, collapsing the fresh leg into the dup leg
        val batch = base.take(vecsPerTrigger).map { case (id, e) =>
          val d = e.length
          val v = if (i % 2 == 1) e
            else Array.tabulate(d)(j =>
              (if (j % 2 == 0) 1f else -1f) * e((j + d / 2 + i) % d))
          (id + i * maxId, v)
        }
        input.addData(batch.toSeq)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        TriggerStat(batch.length.toLong, (System.nanoTime() - t0) / 1e6)
      }
      q.stop()
      val files = filesPerTrigger.result() :+
        graft.sources.VersionedTable.fileCount(spark, indexRoot)
      val indexRows = graft.ext.PqIndex.codes(spark, indexRoot).count()
      val flagged = graft.sources.VersionedTable.read(spark, reportRoot)
        .where(col("contaminated")).count()
      val extra = s""","vecs_per_trigger":$vecsPerTrigger,"index_rows_final":$indexRows,"flagged_total":$flagged,"index_files_first":${files.headOption.getOrElse(-1)},"index_files_last":${files.lastOption.getOrElse(-1)},"index_files_max":${if (files.isEmpty) -1 else files.max}"""
      (stats, extra)
    }

    // ---- lexical screen loop -------------------------------------------
    // The BM25 sibling: a FROZEN eval-set index (first 10% of the corpus
    // — a realistic benchmark-suite size), each trigger streaming the
    // whole corpus against it. Odd triggers word-salt every token (all
    // probe terms OOV — the cheap clean path: docs drop out at the df
    // join); even triggers send the corpus verbatim (every doc shares
    // vocabulary with the eval set: the full probe+score path, with the
    // eval subset flagging as self-dups). The index never grows — a
    // rising trigger-time trend here would be a regression, not load.
    val (lexStats, lexExtra) = {
      val sf = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS_DIR",
        "/root/testdata/sf0.1")
      val lexTriggers =
        sys.env.getOrElse("SPARK_GRAFT_STREAM_LEX_TRIGGERS", "6").toInt
      val docs = graft.sources.Tables.table(spark, sf, "documents")
        .select(col("doc_id"), col("text"))
      val base = docs.orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val evalN = math.max(base.length / 10, 1)
      val maxId = base.map(_._1).max + 1L
      val indexRoot = tmp("sb-lx-index")
      val reportRoot = tmp("sb-lx-report")
      graft.ext.LexicalIndex.create(
        docs.where(col("doc_id") < evalN), indexRoot)
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingLexicalScreen.screenWriter(
        input.toDF().toDF("doc_id", "text"), indexRoot, reportRoot,
        threshold = 6.0, checkpoint = tmp("sb-lx-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds")).start()
      val stats = (1 to lexTriggers).map { i =>
        val batch = base.map { case (id, text) =>
          val t = if (i % 2 == 1)
            text.split(" ").map(_ + s"r$i").mkString(" ")
          else text
          (id + i * maxId, t)
        }
        input.addData(batch.toSeq)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        TriggerStat(batch.length.toLong, (System.nanoTime() - t0) / 1e6)
      }
      q.stop()
      val flagged = graft.sources.VersionedTable.read(spark, reportRoot)
        .where(col("contaminated")).count()
      val extra = s""","docs_per_trigger":${base.length},"eval_index_docs":$evalN,"flagged_total":$flagged"""
      (stats, extra)
    }

    // ---- kNN-graph maintenance loop -------------------------------------
    // The fifth index family's lane (VERDICT r14 #2): the graph +
    // lane-owned corpus table are pre-seeded with the full sf0.1
    // embeddings, then each trigger streams a batch of FRESH vectors
    // (decorrelated transform, new ids — the pure ingest path; the
    // no-op/replay paths are spec-gated, and a re-sent batch would
    // short-circuit to ~0 work, which is not a throughput number).
    // Per trigger: novelty anti-join + corpus append + seed from the
    // frozen cells + one local-descent round over the affected
    // neighborhood + full-snapshot commit. The graph grows every
    // trigger, so the trigger_ms TREND is the signal — a superlinear
    // climb means the ingest stopped being batch-local. Corpus
    // compaction armed (appends add a file per trigger).
    val (kgStats, kgExtra) = {
      val sf = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS_DIR",
        "/root/testdata/sf0.1")
      // 12 triggers: enough steady-state halves for the growth-slope
      // fit to read trend rather than noise
      val kgTriggers =
        sys.env.getOrElse("SPARK_GRAFT_STREAM_KG_TRIGGERS", "12").toInt
      val base = graft.sources.Tables.table(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val vecsPerTrigger = math.min(
        sys.env.getOrElse("SPARK_GRAFT_STREAM_KG_VECS", "500").toInt,
        base.length)
      val maxId = base.map(_._1).max + 1L
      val graphRoot = tmp("sb-kg-graph")
      val corpusRoot = tmp("sb-kg-corpus")
      val seed = graft.sources.Tables.table(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding"))
      graft.ext.KnnGraphIndex.create(seed, graphRoot)
      graft.sources.VersionedTable.commit(seed, corpusRoot)
      val input = MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.StreamingKnnGraph.ingestWriter(
        input.toDF().toDF("vec_id", "embedding"), graphRoot, corpusRoot,
        checkpoint = tmp("sb-kg-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds"),
        compactAboveFiles = 8).start()
      val stats = (1 to kgTriggers).map { i =>
        // per-trigger rotation offset (the screen lane's trick): fresh
        // vectors decorrelated from everything indexed AND from every
        // earlier trigger's batch
        val batch = base.take(vecsPerTrigger).map { case (id, e) =>
          val d = e.length
          val v = Array.tabulate(d)(j =>
            (if (j % 2 == 0) 1f else -1f) * e((j + d / 2 + i) % d))
          (id + i * maxId, v)
        }
        input.addData(batch.toSeq)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        TriggerStat(batch.length.toLong, (System.nanoTime() - t0) / 1e6)
      }
      q.stop()
      val graphRows = graft.sources.VersionedTable
        .read(spark, graphRoot).count()
      val corpusRows = graft.sources.VersionedTable
        .read(spark, corpusRoot).count()
      val extra = s""","vecs_per_trigger":$vecsPerTrigger,"growth_slope_p50":${f2(growthSlope(stats.map(_.ms)))},"graph_rows_final":$graphRows,"corpus_rows_final":$corpusRows,"graph_versions_last":${graft.sources.VersionedTable.versions(spark, graphRoot).size},"corpus_files_last":${graft.sources.VersionedTable.fileCount(spark, corpusRoot)}"""
      (stats, extra)
    }

    // ---- split-maintenance loop ------------------------------------------
    // The sixth index family's lane: the split index is pre-seeded with
    // the full corpus, then each trigger streams a batch of arriving
    // docs — half verbatim re-texts under new ids (near-dups that must
    // INHERIT their cluster's side: the fingerprint-probe + affected-CC
    // path), half word-salted (fresh singletons: the cheap path) — and
    // the batch's assignments append to the report table. The postings
    // table grows per trigger, so the trigger_ms trend is the signal;
    // fps compaction armed.
    val (splitStats, splitExtra) = {
      val sf = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS_DIR",
        "/root/testdata/sf0.1")
      // 12 triggers for a meaningful slope fit, as in the kg lane
      val spTriggers =
        sys.env.getOrElse("SPARK_GRAFT_STREAM_SPLIT_TRIGGERS", "12").toInt
      val base = graft.sources.Tables.table(spark, sf, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).collect()
      val docsPerTrigger = math.min(
        sys.env.getOrElse("SPARK_GRAFT_STREAM_SPLIT_DOCS", "1000").toInt,
        base.length)
      val maxId = base.map(_.getLong(0)).max + 1L
      val indexRoot = tmp("sb-sp-index")
      val reportRoot = tmp("sb-sp-report")
      graft.ext.SplitIndex.create(
        graft.sources.Tables.table(spark, sf, "documents")
          .select(col("doc_id"), col("text")), indexRoot)
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingSplitMaintenance.assignWriter(
        input.toDF().toDF("doc_id", "text"), indexRoot, reportRoot,
        checkpoint = tmp("sb-sp-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("0 seconds"),
        compactAboveFiles = 16).start()
      val stats = (1 to spTriggers).map { i =>
        val batch = base.take(docsPerTrigger).zipWithIndex.map {
          case (r, j) =>
            val t = if (j % 2 == 0) r.getString(1) // inherit path
              else r.getString(1).split(" ").map(_ + s"s$i$j")
                .mkString(" ")                     // fresh singleton
            (r.getLong(0) + i * maxId, t)
        }
        input.addData(batch.toSeq)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        TriggerStat(batch.length.toLong, (System.nanoTime() - t0) / 1e6)
      }
      q.stop()
      // the logical label view (merge-on-read: physical rows include
      // superseded overlay duplicates)
      val labelRows = graft.ext.SplitIndex.labels(spark, indexRoot).count()
      val reportRows = graft.sources.VersionedTable
        .read(spark, reportRoot).count()
      val fpsFiles = graft.sources.VersionedTable
        .fileCount(spark, indexRoot + "/fps")
      val extra = s""","docs_per_trigger":$docsPerTrigger,"growth_slope_p50":${f2(growthSlope(stats.map(_.ms)))},"label_rows_final":$labelRows,"report_rows_final":$reportRows,"fps_files_last":$fpsFiles"""
      (stats, extra)
    }

    // ---- trigger-scale soak (VERDICT r11 #7) ---------------------------
    // 100+ triggers through the decontamination loop with compaction
    // armed AND the retention policy live: every 10 triggers,
    // VersionedTable.vacuum(keep=3) runs between triggers (the documented
    // safe horizon with in-loop compaction), while the writer purges its
    // dead `_ingest/` replay markers every trigger — the long-horizon
    // state that would otherwise grow one file per trigger forever.
    // Reported: p95 over the first vs second half (flat = no hidden
    // superlinear state), max/last manifest file counts, and the final
    // marker count (one live marker, NOT one per trigger). Smaller
    // batches than the throughput lane — the soak measures trend, not
    // rate.
    val (soakStats, soakExtra) = {
      val soakTriggers =
        sys.env.getOrElse("SPARK_GRAFT_STREAM_SOAK_TRIGGERS", "100").toInt
      if (soakTriggers <= 0) (Seq.empty[TriggerStat], "")
      else {
        val sf = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS_DIR",
          "/root/testdata/sf0.1")
        val docsPerTrigger =
          sys.env.getOrElse("SPARK_GRAFT_STREAM_SOAK_DOCS", "500").toInt
        val base = graft.sources.Tables.table(spark, sf, "documents")
          .select(col("doc_id"), col("text"))
          .orderBy(col("doc_id")).limit(docsPerTrigger).collect()
        val maxId = graft.sources.Tables.table(spark, sf, "documents")
          .agg(max(col("doc_id"))).head().getLong(0) + 1L
        val indexRoot = tmp("sb-soak-index")
        val reportRoot = tmp("sb-soak-report")
        graft.sources.VersionedStats.commitWithRowStat(
          graft.ext.DedupIndex.spanIndex(
            graft.sources.Tables.table(spark, sf, "documents")
              .select(col("doc_id"), col("text"))
              .orderBy(col("doc_id")).limit(docsPerTrigger), k = 12),
          indexRoot)
        val input = MemoryStream[(Long, String)]
        val q = StreamingDecontamination.decontaminationWriter(
          input.toDF().toDF("doc_id", "text"), indexRoot, reportRoot,
          k = 12, checkpoint = tmp("sb-soak-ckpt"),
          trigger = org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("0 seconds"),
          compactAboveFiles = 16).start()
        val filesSeen = Seq.newBuilder[Int]
        val stats = (1 to soakTriggers).map { i =>
          val batch = base.map { r =>
            val text = if (i % 2 == 1)
              r.getString(1).split(" ").map(_ + s"s$i").mkString(" ")
            else r.getString(1)
            (r.getLong(0) + i * maxId, text)
          }
          input.addData(batch.toSeq)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val ms = (System.nanoTime() - t0) / 1e6
          filesSeen += graft.sources.VersionedTable.fileCount(spark, indexRoot)
          // retention between triggers: keep >= 3 versions (compaction can
          // put a marker's pinned pre-version two behind latest); sweeps
          // unreferenced data files (the writer purges its dead markers)
          if (i % 10 == 0)
            graft.sources.VersionedTable.vacuum(spark, indexRoot,
              keepVersions = 3)
          TriggerStat(batch.length.toLong, ms)
        }
        q.stop()
        val files = filesSeen.result()
        val half = stats.size / 2
        val firstHalf = stats.slice(1, half).map(_.ms)
        val secondHalf = stats.drop(half).map(_.ms)
        val markers =
          StreamingDecontamination.marker(indexRoot).batches(spark).size
        val extra = s""","docs_per_trigger":${base.length},"p95_first_half_ms":${f1(pct(firstHalf, 0.95))},"p95_second_half_ms":${f1(pct(secondHalf, 0.95))},"index_files_max":${if (files.isEmpty) -1 else files.max},"index_files_last":${files.lastOption.getOrElse(-1)},"ingest_markers_last":$markers,"versions_last":${graft.sources.VersionedTable.versions(spark, indexRoot).size}"""
        (stats, extra)
      }
    }

    val (steal1, jiffies1) = Bench.cpuJiffies()
    val stealPct =
      if (jiffies1 > jiffies0)
        100.0 * (steal1 - steal0) / (jiffies1 - jiffies0)
      else 0.0
    val json = s"""{${report("sessionize", sessStats)},${report(
        "ewma", ewmaStats)},${report(
        "hourly_kpis", kpiStats)},${report("decontamination", decontStats,
        decontExtra)},${report("semantic_screen", screenStats,
        screenExtra)},${report("lexical_screen", lexStats,
        lexExtra)},${report("knn_graph_ingest", kgStats,
        kgExtra)},${report("split_maintenance", splitStats,
        splitExtra)},${if (soakStats.nonEmpty)
          report("decontamination_soak", soakStats, soakExtra) + ","
        else ""}"triggers":$triggers,"rows_per_trigger":$rowsPerTrigger,"load_avg_start":$load0,"load_avg_end":${Bench.loadAvg()},"steal_pct":${f2(stealPct)}}"""
    val w = new java.io.PrintWriter("BENCH_STREAMING.json", "UTF-8")
    try w.println(json) finally w.close()
    println(json)
    spark.stop()
  }
}
