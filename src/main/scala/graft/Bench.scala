package graft
import org.apache.spark.sql.DataFrame

import Lane.{f2, f3, jsonString, materialize}

object Bench {
  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat —
    * lets gate evaluations separate code regressions from hypervisor
    * co-tenant noise (BASELINE.md documents 3-4x uniform inflation under
    * steal). Zeroes on non-Linux. */
  private[graft] def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  private[graft] def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** One timed attempt. Right(seconds) on success; Left(error) on ANY
    * throw — plan-build, analysis, or execution. A failure must never
    * contribute a timing: round 8 recorded four analysis-broken queries
    * as 0.09-0.22 s "measurements" with rc 0, and the deviation guard
    * (which only alarms on slowdowns) read the breakage as a speedup. */
  private def timedAttempt(mk: () => DataFrame): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { materialize(mk()); Right((System.nanoTime() - t0) / 1e9) }
    catch { case scala.util.control.NonFatal(e) =>
      Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
  }

  /** Whether this run may REPLACE the committed deviation reference
    * (BENCH_FULL.json) — pure, spec-pinned. A subset run would leave a
    * hole-ridden reference; a run with failures has partial totals; and
    * a run from a NOISY window (ambient load ≥ 2 before the bench
    * perturbed the box, or visible steal ≥ 0.5%) would poison every
    * later deviation comparison with co-tenant noise — the recurring
    * "re-pin the calm reference" verdict item, ended structurally here.
    * A run against a DIFFERENT sf than the committed reference never
    * replaces it either (round 11: a calm sf0.01 iteration run silently
    * committed itself over the sf0.1 reference — calm, full, green, and
    * still the wrong number).
    *
    * Cross-run normalizer (VERDICT r13 #3 — the box-day hole): the
    * noise gates are INSTANT readings (load at start, steal during),
    * and a uniformly slow box-day walks straight through them — the
    * r13 re-pin accepted 238.8 s over a 170.9 s reference at
    * load0 0.79, degrading the headline comparator 1.10 → 1.52 with no
    * real regression underneath. `medianRatio` is the MEDIAN per-query
    * ratio of this run vs the current committed reference over shared
    * queries whose reference time exceeds 0.3 s (sub-0.3 s rows are
    * jitter); a median above [[RefInflationCap]] means the whole box
    * ran uniformly slower than the pinned day, and the re-pin is
    * refused (routed to the dirty file, like the sf gate). A uniformly
    * FASTER run re-pins freely — that restores the honest comparator.
    * None (no comparable committed reference, or too few shared slow
    * queries to take a median) passes the gate: there is nothing to
    * normalize against.
    *
    * `force` (SPARK_GRAFT_BENCH_FORCE_REF=1) overrides the noise, sf,
    * and inflation gates, for deliberate re-pins. Returns the action
    * for the artifact: written | subset_skip | failed_skip |
    * sf_mismatch_skip | refused_noisy | refused_inflated. */
  def refDecision(subset: Boolean, nFailed: Int, load0: Double,
                  stealPct: Double, force: Boolean,
                  sfMatch: Boolean = true,
                  medianRatio: Option[Double] = None): String =
    if (subset) "subset_skip"
    else if (nFailed > 0) "failed_skip"
    else if (!sfMatch && !force) "sf_mismatch_skip"
    else if (!force && medianRatio.exists(_ > RefInflationCap))
      "refused_inflated"
    else if (force || (load0 >= 0 && load0 < 2.0 && stealPct < 0.5))
      "written"
    else "refused_noisy"

  /** Median shared-query ratio above which a re-pin is refused: 1.15
    * tolerates honest jitter and small code-wide constants while
    * catching the measured box-day signatures (1.30× in r13, and the
    * uniform envelopes every round's verdict has noted since r1). */
  val RefInflationCap: Double = 1.15

  /** The cross-run normalizer's input: median of per-query ratios
    * (this run / committed reference) over shared queries with
    * reference time > 0.3 s. None when fewer than `minShared` such
    * queries exist — a median of a handful of rows is noise, not a
    * box-day signal. */
  def medianRefRatio(current: Map[String, Double],
                     reference: Map[String, Double],
                     minShared: Int = 8): Option[Double] = {
    val ratios = reference.toSeq.collect {
      case (n, p) if p > 0.3 && current.contains(n) => current(n) / p
    }.sorted
    if (ratios.size < minShared) None
    else Some(ratios(ratios.size / 2))
  }

  /** The sf recorded in the COMMITTED reference, for the sf gate; None
    * when no committed reference exists (first pin: any sf may write). */
  private def committedRefSf(path: String): Option[String] =
    try {
      val json = scala.sys.process.Process(
        Seq("git", "show", s"HEAD:$path")).!!
      "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(json).map(_.group(1))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The previous run's per-query map, for the deviation guard: prefer
    * the last COMMITTED BENCH_FULL.json (the repo's defensible number),
    * fall back to the on-disk file (read BEFORE this run overwrites
    * it). Minimal parse: the "queries" object is flat name→seconds. */
  private def previousBench(path: String,
                            sfDir: String): (String, Map[String, Double]) = {
    def parseQueries(json: String): Map[String, Double] = {
      // only a same-SF reference is comparable
      val sfOk = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(json)
        .exists(_.group(1) == sfDir)
      if (!sfOk) return Map.empty
      val tag = "\"queries\":{"
      val i = json.indexOf(tag)
      if (i < 0) return Map.empty
      val start = i + tag.length
      val end = json.indexOf('}', start)
      if (end < 0) return Map.empty
      "\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(json.substring(start, end))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    try {
      val committed = scala.sys.process.Process(
        Seq("git", "show", s"HEAD:$path")).!!
      val q = parseQueries(committed)
      if (q.nonEmpty) return ("HEAD", q)
    } catch { case scala.util.control.NonFatal(_) => () }
    try {
      val src = scala.io.Source.fromFile(path)
      val q = try parseQueries(src.mkString) finally src.close()
      if (q.nonEmpty) ("disk", q) else ("none", Map.empty)
    } catch { case scala.util.control.NonFatal(_) => ("none", Map.empty) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Single definition: this file is both the full-map artifact this run
    // writes and the committed deviation reference the next run reads.
    val fullPath = "BENCH_FULL.json"
    val spark = GraftSession()
    // Spill accounting (VERDICT r12 #6 — the constrained-heap lane's
    // evidence): total task spill volumes across the whole run, so a
    // half-heap bench can PIN "pressure absorbed by spill, zero
    // failures" with numbers instead of the absence of errors. Near-zero
    // overhead; reported in the run meta of every bench.
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    GraftSession.quietWindowWarnings()
    val only = Lane.benchOnly
    val benchQueries = Lane.queries(only)
    // Ambient load BEFORE the bench perturbs the box: the 32-thread
    // warm-up passes below push the 1-minute loadavg to ~5 on their own,
    // so capturing load_avg_start after them (as earlier rounds did)
    // recorded the bench's self-noise as if it were co-tenant load and
    // made every "calm window?" judgment read dirty. Steal% is unaffected
    // (our own work is not steal) and stays the cleaner signal.
    val load0 = loadAvg()
    // Warm-up: JVM/codegen/parquet-reader init should not be billed to
    // whichever query happens to run first.
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count() catch { case scala.util.control.NonFatal(_) => () }
    // Codegen warm-up stage 1 at the smallest SF: run every query once
    // against sf0.001 before timing. WholeStageCodegen sources depend on
    // plan structure, not data paths or volume, and janino compilation is
    // cached on the source string — so this compiles every fragment for
    // ~seconds of tiny-data work. Standard JIT-exclusion practice;
    // disable with SPARK_GRAFT_WARMUP_DIR=none.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    if (warmDir != "none" && warmDir != sfDir
        && new java.io.File(warmDir).isDirectory) {
      benchQueries.foreach { case (_, fn) =>
        try materialize(fn(spark, warmDir)) catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // Warm-up stage 2: one untimed pass at the measured SF itself. AQE's
    // runtime re-plans at sf0.1 (partition coalescing, broadcast
    // conversions, skew splits) produce codegen fragments the sf0.001
    // pass never compiles — BASELINE.md attributes ~10 s of a cold run to
    // them — so without this pass the first timed run of each query pays
    // janino latency that later runs don't, and consecutive driver runs
    // disagree. With it, cold and warm driver runs converge on the
    // steady-state number (the quantity the 2x gate is defined over).
    // Disable with SPARK_GRAFT_WARMUP_FULL=0 to measure cold-compile.
    // Published numbers from round 4 onward are steady-state (warm_full=1,
    // recorded in the output meta); compare like with like — the pre-r4
    // cold-run numbers are not the same quantity.
    val warmFull = sys.env.getOrElse("SPARK_GRAFT_WARMUP_FULL", "1") != "0"
    if (warmFull) {
      benchQueries.foreach { case (_, fn) =>
        try materialize(fn(spark, sfDir)) catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // repeat>1: per-query best-of-N in one JVM. Default 1.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt
    // Randomized execution order (seed logged, pin via env to reproduce):
    // queries used to run in Scala Map hash order, so a co-tenant load
    // burst always inflated the same contiguous block and a slow total
    // could not be attributed from the artifact (VERDICT r03). A per-run
    // order plus per-query telemetry below localizes any burst.
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    val order = new scala.util.Random(seed).shuffle(benchQueries.toSeq)
    val (steal0, jiffies0) = cpuJiffies()
    var steal = steal0
    var jiffies = jiffies0
    // telemetry: one row per query — timing (min over SUCCESSFUL attempts
    // only; a failed attempt's elapsed time is not a measurement), end
    // wall-clock ms, loadavg at end, steal% during this query, 1-based
    // position in the run order, and the first error if any attempt threw.
    case class QRun(name: String, sec: Double, ok: Boolean, err: String,
                    endMs: Long, load: Double, stealPct: Double, pos: Int)
    val telemetry = order.zipWithIndex.map { case ((name, fn), i) =>
      val attempts = (1 to repeat).map(_ => timedAttempt(() => fn(spark, sfDir)))
      val (s1, j1) = cpuJiffies()
      val qSteal =
        if (j1 > jiffies) 100.0 * (s1 - steal) / (j1 - jiffies) else 0.0
      steal = s1; jiffies = j1
      val oks = attempts.collect { case Right(s) => s }
      val err = attempts.collectFirst { case Left(e) => e }.getOrElse("")
      QRun(name, if (oks.nonEmpty) oks.min else -1.0, oks.nonEmpty, err,
        System.currentTimeMillis(), loadAvg(), qSteal, i + 1)
    }
    val failed = telemetry.filterNot(_.ok)
    failed.foreach(q => System.err.println(s"[bench] FAILED ${q.name}: ${q.err}"))
    // Flaky = succeeded overall but at least one attempt threw (only
    // possible with repeat>1). Surfaced on stderr and in the artifact so
    // intermittent breakage is never invisible (ADVICE r9).
    val flaky = telemetry.filter(q => q.ok && q.err.nonEmpty)
    flaky.foreach(q => System.err.println(s"[bench] FLAKY ${q.name}: ${q.err}"))
    val firstPass = telemetry.filter(_.ok).map(q => q.name -> q.sec).toMap
    // The first-pass measurement window is captured HERE, before the
    // salvage pass below: re-measure runs execute after this point, so
    // folding them into the reported window would make load/steal describe
    // a different interval than the numbers they annotate (ADVICE r7).
    val load1 = loadAvg()
    val stealPct =
      if (jiffies > jiffies0)
        100.0 * (steal - steal0) / (jiffies - jiffies0)
      else 0.0
    // Noise-rejection pass (VERDICT r06 item 3): a co-tenant load burst
    // during one query's window inflates that query only, and round 6's
    // gate alarm (skew_agg_salted 4.15x under load 8.7) cost a full
    // adjudication cycle. Before the deviation list is emitted, re-measure
    // any query whose first pass either (a) deviated >2x from the
    // committed reference or (b) ran under a localized load burst (its
    // window's loadavg > max(2x run median, median+2)) or visible steal
    // (>5%). Best-of-3 re-runs (failed re-runs contribute no timing), and
    // the final number is the min of the passes — legitimate regressions
    // reproduce calm and survive; bursts don't. Re-measured queries are
    // recorded in the artifact so a gate reader can see which numbers were
    // salvaged.
    val (prevSource, prevQ) =
      if (only.isEmpty) previousBench(fullPath, sfDir)
      else ("skipped", Map.empty[String, Double])
    val loads = telemetry.map(_.load).filter(_ >= 0).sorted
    val medLoad = if (loads.nonEmpty) loads(loads.size / 2) else -1.0
    val loadBurstAt = if (medLoad >= 0) math.max(2 * medLoad, medLoad + 2)
                      else Double.MaxValue
    val suspectAll = telemetry.filter { q =>
      q.ok && q.sec > 0.2 && (
        prevQ.get(q.name).exists(p => p > 0 && q.sec / p > 2.0) ||
        q.load > loadBurstAt || q.stealPct > 5.0)
    }
    // Cap the salvage set (ADVICE r7): under sustained box-wide load the
    // burst predicate can mark half the suite and the "noise rejection"
    // triples the run. Take the worst offenders — by ratio-vs-reference
    // where a reference exists, by absolute time otherwise — and record
    // how many were dropped so the artifact shows the cap bit.
    val remeasureCap =
      sys.env.getOrElse("SPARK_GRAFT_REMEASURE_CAP", "16").toInt
    // Referenced queries rank by ratio-vs-reference and ALWAYS ahead of
    // unreferenced ones: the two keys are incommensurate (a 15 s query
    // with no reference is not more suspect than a 3x regression), and
    // mixing them let long unreferenced queries evict genuine 2-3x
    // regressions from the capped salvage set (ADVICE r9).
    val suspect = suspectAll
      .sortBy { q =>
        val ref = prevQ.get(q.name).filter(_ > 0)
        (if (ref.isDefined) 0 else 1,
         -ref.map(p => q.sec / p).getOrElse(q.sec))
      }
      .take(remeasureCap).map(_.name)
    val remeasureDropped = suspectAll.size - suspect.size
    val byName = benchQueries.toMap
    val remeasured = suspect.flatMap { n =>
      byName.get(n).map { fn =>
        val attempts = (1 to 3).map(_ => timedAttempt(() => fn(spark, sfDir)))
        val oks = attempts.collect { case Right(s) => s }
        // If every salvage attempt threw, the fallback keeps the first-pass
        // number — but the failure must be visible in the artifact, not
        // silently absorbed (ADVICE r9): salvage_err rides the remeasured
        // row so a gate reader can see the re-measurement never succeeded.
        val err = if (oks.isEmpty)
          attempts.collectFirst { case Left(e) => e }.getOrElse("") else ""
        (n, firstPass(n), if (oks.nonEmpty) oks.min else firstPass(n), err)
      }
    }
    val results = firstPass ++ remeasured.map { case (n, orig, best, _) =>
      n -> math.min(orig, best)
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full per-query map + telemetry goes to a file; the stdout line
    // carries only the slowest 40 so the whole JSON line stays well under
    // the harness's 2000-char output-tail window (at 73+ queries a
    // full-precision map overflows it and the head of the line —
    // including the headline total — gets truncated away).
    val byTime = results.toSeq.sortBy(-_._2)
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
    // err is emitted whenever ANY attempt threw — including ok=true rows
    // where repeat>1 and only some attempts failed. Without it, a query
    // that throws on 1 of N attempts left no trace anywhere (ADVICE r9).
    val teleJson = telemetry.map { q =>
      val errField = if (q.err.nonEmpty) s""","err":${jsonString(q.err)}""" else ""
      s"""{"q":"${q.name}","sec":${f3(q.sec)},"ok":${q.ok},"end_ms":${q.endMs},"load":${f2(q.load)},"steal_pct":${f2(q.stealPct)},"order":${q.pos}$errField}"""
    }.mkString("[", ",", "]")
    val failedJson = failed.map(q =>
      s"""{"q":"${q.name}","err":${jsonString(q.err)}}""").mkString("[", ",", "]")
    def meta(medRatio: Option[Double]) = s""""sf":"$sfDir","seed":$seed,"warm_full":$warmFull,"load_avg_start":${f2(load0)},"load_avg_end":${f2(load1)},"steal_pct":${f2(stealPct)},"median_ref_ratio":${medRatio.map(f2).getOrElse("null")},"heap_max_mb":${Runtime.getRuntime.maxMemory() >> 20},"spill_mem_mb":${spillMem.get() >> 20},"spill_disk_mb":${spillDisk.get() >> 20}"""
    // Deviation guard (VERDICT r05 hygiene item 2): flag every query
    // that ran >3x slower than the last committed full map, so a noisy
    // run reads as a one-line artifact instead of a forensic pass.
    // Sub-0.2 s queries are skipped (pure jitter at that size); the
    // run's load/steal meta stays alongside for the "comparable load"
    // judgment. Only meaningful on same-SF full runs — a subset run
    // (BENCH_ONLY) compares apples to oranges, and previousBench
    // rejects a reference whose recorded SF differs from this run's.
    // (prevSource/prevQ resolved above, before the noise-rejection pass.)
    val deviations = results.toSeq.flatMap { case (n, s) =>
      prevQ.get(n) match {
        case Some(p) if p > 0 && s > 0.2 && s / p > 3.0 =>
          Some((n, s, p, s / p))
        case _ => None
      }
    }.sortBy(-_._4)
    val devJson = deviations.map { case (n, s, p, r) =>
      s"""{"q":"$n","sec":${f3(s)},"prev_sec":${f3(p)},"ratio":${f2(r)}}"""
    }.mkString("[", ",", "]")
    val remJson = remeasured.map { case (n, orig, best, err) =>
      val extra = if (err.nonEmpty) s""","salvage_err":${jsonString(err)}""" else ""
      s"""{"q":"$n","first_sec":${f3(orig)},"best_sec":${f3(best)}$extra}"""
    }.mkString("[", ",", "]")
    val flakyJson = flaky.map(q =>
      s"""{"q":"${q.name}","err":${jsonString(q.err)}}""").mkString("[", ",", "]")
    val devMeta = s""""deviations":$devJson,"remeasured":$remJson,"remeasure_dropped":$remeasureDropped,"deviation_ref":"$prevSource","failed":$failedJson,"flaky":$flakyJson"""
    // Reference-update gate ([[refDecision]]): subset runs and failed
    // runs never replace the committed full map, and a NOISY window's
    // numbers land in BENCH_FULL.dirty.json instead — visible for
    // inspection, never the next run's deviation reference.
    val refSf = committedRefSf(fullPath)
    // cross-run normalizer input: only the COMMITTED reference is a pin
    // worth defending (a disk fallback is just the previous local run)
    val medRatio =
      if (prevSource == "HEAD") medianRefRatio(results.toMap, prevQ)
      else None
    val refAction = refDecision(only.nonEmpty, failed.size, load0, stealPct,
      sys.env.get("SPARK_GRAFT_BENCH_FORCE_REF").contains("1"),
      sfMatch = refSf.forall(_ == sfDir),
      medianRatio = medRatio)
    val fullTarget = refAction match {
      case "written" => Some(fullPath)
      case "refused_noisy" =>
        System.err.println(s"[bench] NOISY window (load0=${f2(load0)}, " +
          s"steal=${f2(stealPct)}%): reference kept; full map -> " +
          s"$fullPath.dirty.json (force with SPARK_GRAFT_BENCH_FORCE_REF=1)")
        Some(s"$fullPath.dirty.json")
      case "refused_inflated" =>
        System.err.println(s"[bench] UNIFORM INFLATION vs committed " +
          s"reference (median shared-query ratio ${f2(medRatio.get)} > " +
          s"${Bench.RefInflationCap}): box-day, not code — reference " +
          s"kept; full map -> $fullPath.dirty.json (force with " +
          "SPARK_GRAFT_BENCH_FORCE_REF=1)")
        Some(s"$fullPath.dirty.json")
      case "sf_mismatch_skip" =>
        System.err.println(s"[bench] sf mismatch (reference ${refSf.get}, " +
          s"this run $sfDir): reference kept; full map -> " +
          s"$fullPath.dirty.json (force with SPARK_GRAFT_BENCH_FORCE_REF=1)")
        Some(s"$fullPath.dirty.json")
      case _ => None
    }
    fullTarget.foreach { path =>
      try {
        val w = new java.io.PrintWriter(path, "UTF-8")
        try w.println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","ref_update":"$refAction","queries":${qjson(byTime)},"telemetry":$teleJson,$devMeta,${meta(medRatio)}}""")
        finally w.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${qjson(byTime.take(40))},"n_queries":${results.size},"n_failed":${failed.size},"ref_update":"$refAction","all_queries_file":"$fullPath",$devMeta,${meta(medRatio)}}""")
    spark.stop()
    // Loud exit: a broken query is a broken bench. total above excludes
    // the failed queries (they contributed no timing), so rc is the only
    // honest signal left — round 8's four analysis-broken queries sailed
    // through as rc 0 "speedups".
    if (failed.nonEmpty) sys.exit(2)
  }
}
