package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{KnnGraph, KnnGraphIndex, Similarity, SplitIndex}
import Lane.{f2, f3, materialize}

/** Dev probes — not part of the `Verify`/`Bench` contract. One main, one mode per
  * lane, each on the shared [[GraftSession]]:
  *
  * {{{
  * runMain graft.Probe jobs [sfDir] [query ...]
  * runMain graft.Probe ab [sfDir] [query ...]     (GRAFT_PROBE_AB, GRAFT_PROBE_REPS)
  * runMain graft.Probe recall <corpus> [degree] [iters] [nprobe] [nQueries] [k]
  * runMain graft.Probe knn-ingest <corpus> [nQueries] [k]
  * runMain graft.Probe split-ingest [nDocs] [dupFrac%] [sem]
  * runMain graft.Probe explain [sfDir] [query ...]
  * runMain graft.Probe gen <k> <outDir> [baseDir]
  * }}}
  *
  * `<corpus>` is an embeddings directory (the standard test data or a
  * [[ScaleProbe]] replica blowup) or `gen:clustered:N[:C[:SIGMA]]`
  * ([[clusteredCorpus]]). Env: SPARK_GRAFT_CPUS (default 32); `explain`
  * always runs `local[4]`, so its dumps stay comparable across hosts.
  */
object Probe {

  private val Usage = "usage: graft.Probe <jobs|ab|recall|knn-ingest|" +
    "split-ingest|explain|gen> [args ...]"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val a = args.drop(1)
    def int(i: Int, default: Int): Int = a.lift(i).fold(default)(_.toInt)
    def sfDir(default: String): String =
      a.headOption.getOrElse(Lane.testData(default))
    val run: SparkSession => Unit = mode match {
      case "jobs" => jobs(_, sfDir("sf0.1"), a.drop(1).toSeq)
      case "ab" =>
        val spec = sys.env.getOrElse("GRAFT_PROBE_AB",
          sys.error("ab needs GRAFT_PROBE_AB=\"conf=v1,v2\""))
        val reps = sys.env.getOrElse("GRAFT_PROBE_REPS", "3").toInt
        ab(_, sfDir("sf0.1"), a.drop(1).toSeq, spec, reps)
      case "recall" => recall(_, a(0), Some(int(1, 0)).filter(_ > 0),
        iters = int(2, 3), nprobe = int(3, 3), nQueries = int(4, 30),
        k = int(5, 3))
      case "knn-ingest" => knnIngest(_, a(0), nQueries = int(1, 30),
        k = int(2, 3))
      case "split-ingest" => splitIngest(_,
        nDocs = a.lift(0).fold(50000L)(_.toLong), dupPct = int(1, 10),
        semantic = a.lift(2).contains("sem"))
      case "explain" => explain(_, sfDir("sf0.001"), a.drop(1).toSeq)
      case "gen" => spark =>
        val base = a.lift(2).getOrElse(
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Lane.testData("sf0.1")))
        ScaleProbe.generate(spark, base, a(1), a(0).toInt)
        println(s"generated ${a(0)}x of $base at ${a(1)}")
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val spark =
      GraftSession(cpus = if (mode == "explain") 4 else GraftSession.envCpus)
    try run(spark) finally spark.stop()
  }

  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def tmp(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft-probe-$tag").toString + "/index"

  /** Warm-up as in graft.Bench (JVM, parquet reader), then each named
    * query once at sf0.001 (codegen) and once at `sfDir` (AQE re-plans). */
  private def warm(spark: SparkSession, sfDir: String,
                   names: Seq[String]): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case scala.util.control.NonFatal(_) => () }
    for (n <- names; dir <- Seq(Lane.testData("sf0.001"), sfDir))
      try materialize(SparkEntry.queries(n)(spark, dir))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Per-job profile: each named query's wall time plus every job's start
    * offset, duration and description, so launch-overhead-bound queries
    * can be dissected. */
  private def jobs(spark: SparkSession, sfDir: String,
                   names: Seq[String]): Unit = {
    warm(spark, sfDir, names)
    val done = ArrayBuffer.empty[(Int, Long, Long, String)]
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (System.nanoTime(), Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach { case (s, d) =>
          done.synchronized { done += ((e.jobId, s, System.nanoTime(), d)) }
        }
    })
    names.foreach { n =>
      done.synchronized { done.clear() }
      val t0 = System.nanoTime()
      materialize(SparkEntry.queries(n)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      val snap = done.synchronized { done.toSeq }
      println(f"\n===== $n: wall $wall%.3f s, ${snap.size} jobs =====")
      snap.sortBy(_._2).foreach { case (id, s, e, d) =>
        println(f"  job $id%3d  start+${(s - t0) / 1e9}%7.3f  " +
          f"dur ${(e - s) / 1e9}%6.3f  $d")
      }
    }
  }

  /** A/B of one session conf (`spec` = "conf=v1,v2"): `reps` interleaved
    * timed passes per value WITHIN this one JVM (same page cache, same JIT
    * state), best-of reported per arm — separate JVM runs on one box
    * drift ±30% back-to-back (page cache, co-tenant, thermal), swamping
    * config effects. The CacheManager is cleared before every pass: a
    * .persist() inside a query would otherwise feed later passes through
    * plan identity, and the repeat would not be honest. */
  private def ab(spark: SparkSession, sfDir: String, names: Seq[String],
                 spec: String, reps: Int): Unit = {
    warm(spark, sfDir, names)
    val Array(conf, vals) = spec.split("=", 2)
    names.foreach { n =>
      val timings = scala.collection.mutable.Map
        .empty[String, List[Double]].withDefaultValue(Nil)
      for (_ <- 1 to reps; v <- vals.split(",")) {
        spark.conf.set(conf, v)
        spark.sharedState.cacheManager.clearCache()
        timings(v) = secs(materialize(SparkEntry.queries(n)(spark, sfDir))) ::
          timings(v)
      }
      timings.toSeq.sortBy(_._1).foreach { case (v, ts) =>
        println(f"===== $n $conf=$v: best ${ts.min}%.3f s  " +
          ts.reverse.map(t => f"$t%.3f").mkString("[", " ", "]"))
      }
    }
  }

  /** An embeddings corpus (vec_id, embedding): a directory's `embeddings`
    * table, or `gen:clustered:N[:C[:SIGMA]]` (defaults C = 256,
    * SIGMA = 0.25) for [[clusteredCorpus]]. */
  private def corpus(spark: SparkSession, spec: String): DataFrame =
    if (spec.startsWith("gen:clustered:")) {
      val p = spec.stripPrefix("gen:clustered:").split(":")
      clusteredCorpus(spark, p(0).toLong, p.lift(1).fold(256)(_.toInt),
        p.lift(2).fold(0.25)(_.toDouble))
    } else graft.sources.Tables.table(spark, spec, "embeddings")

  /** Deterministic C-center mixture corpus (vec_id, embedding[dim]):
    * center c sits on a hash-seeded ±1 hypercube corner, each vector
    * adds per-dim uniform noise of half-width `sigma` — all from
    * xxhash64, no RNG state, so any (n, c, sigma) names ONE corpus.
    * Codegen-friendly: one spark.range, transforms over a sequence,
    * no collected arrays, no UDFs. */
  private def clusteredCorpus(spark: SparkSession, n: Long, centers: Int,
                              sigma: Double, dim: Int = 64): DataFrame = {
    val c = pmod(xxhash64(lit("cl-c"), col("id")), lit(centers.toLong))
    spark.range(n)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d => {
          val corner = (pmod(xxhash64(lit("cl-d"), c, d), lit(2L))
            .cast("double") * 2.0 - 1.0)
          val noise = (pmod(xxhash64(lit("cl-n"), col("id"), d),
            lit(2000L)).cast("double") / 1000.0 - 1.0) * sigma
          (corner + noise).cast("float")
        }).as("embedding"))
  }

  /** Recall at scale of the corpus-wide kNN graph
    * ([[graft.ext.KnnGraph.knnGraphDescent]]): one JSON line with the
    * tie-aware recall@k of the first `nQueries` ids vs in-plan brute
    * force ([[graft.ext.Similarity.recallFraction]] — linear:
    * |queries| × corpus) plus the build and witness walls. The registered
    * `knn_graph_refined` carries a thresholded witness; this mode exists
    * for SIZING sweeps, where the distance to the floor is the signal (a
    * fixed internal degree decays with n on isotropic vectors). A
    * directory probes the ISOTROPIC family (a sign-flip replica blowup is
    * its worst case, which [[graft.ext.KnnGraph.degreeFor]] is calibrated
    * on); `gen:clustered` probes the CLUSTERED family, where neighbors
    * concentrate inside coarse cells and the count-scaled degree rule
    * overpays. `degree` pins a fixed degree for a sweep; absent or 0
    * takes the structure-aware rule. */
  private def recall(spark: SparkSession, dir: String, degreeArg: Option[Int],
                     iters: Int, nprobe: Int, nQueries: Int, k: Int): Unit = {
    val emb = corpus(spark, dir)
    val n = emb.count()
    // registered sizing: nlist from the corpus-count stat, fit-capped
    val nlist = math.min(Similarity.IvfFitNlistCap.toLong,
      math.max(8L, n / 512L)).toInt
    val t0 = System.nanoTime()
    val centroids = Similarity.ivfFit(emb, nlist = nlist)
    val compact = KnnGraph.compactness(emb, centroids)
    val degree = degreeArg.getOrElse(KnnGraph.degreeForCorpus(n, compact))
    val graph = KnnGraph.knnGraphDescent(emb, k, centroids,
      nprobe = nprobe, degree = degree, iters = iters)
    val t1 = System.nanoTime()
    val row = Similarity.recallFraction(
      graph.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("neighbor_id").as("cand_id")),
      emb, emb.where(col("vec_id") < nQueries), k, force = true).head
    val t2 = System.nanoTime()
    println(s"""{"metric":"knn_graph_recall","dir":"$dir","n":$n""" +
      s""","nlist":$nlist,"compactness":${f3(compact)}""" +
      s""","degree":$degree,"iters":$iters""" +
      s""","nprobe":$nprobe,"n_queries":${row.getLong(0)},"k":$k""" +
      s""","hits":${row.getLong(2)},"recall":${row.getDouble(3)}""" +
      s""","build_sec":${f3((t1 - t0) / 1e9)}""" +
      s""","witness_sec":${f3((t2 - t1) / 1e9)}}""")
  }

  /** Ingest-vs-rebuild of the persisted kNN graph
    * ([[graft.ext.KnnGraphIndex]]), whose economic claim is that absorbing
    * a batch costs a FRACTION of rebuilding, at held recall: builds the
    * index on 90% of the corpus, times `ingest` of the held-out 10% and a
    * full `create` on 100% (what a user without the asset pays on every
    * batch arrival), and prints one JSON line with both walls, their
    * ratio and the tie-aware recall@k of the INGESTED vectors' edges vs
    * in-plan brute force over the full corpus. */
  private def knnIngest(spark: SparkSession, dir: String, nQueries: Int,
                        k: Int): Unit = {
    val emb = corpus(spark, dir).select(col("vec_id"), col("embedding"))
      .persist()
    val n = emb.count()
    val base = emb.where(col("vec_id") % 10 =!= 0)
    val batch = emb.where(col("vec_id") % 10 === 0)
    val root = tmp("kgi-base")
    val createSec = secs(KnnGraphIndex.create(base, root))
    val ingestSec = secs(KnnGraphIndex.ingest(root, emb, batch))
    val rebuildSec = secs(KnnGraphIndex.create(emb, tmp("kgi-full")))
    // recall of the ingested vectors' edges (the batch's first nQueries ids)
    val queries = batch.orderBy(col("vec_id")).limit(nQueries)
    val row = Similarity.recallFraction(
      KnnGraphIndex.topK(spark, root)
        .join(queries.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("query_id"),
          col("neighbor_id").as("cand_id")),
      emb, queries, k, force = true).head
    println(s"""{"metric":"knn_graph_ingest_probe","dir":"$dir","n":$n""" +
      s""","batch_frac":0.1,"k":$k,"n_queries":${row.getLong(0)}""" +
      s""","hits":${row.getLong(2)},"ingest_recall":${row.getDouble(3)}""" +
      s""","create90_sec":${f3(createSec)}""" +
      s""","ingest_sec":${f3(ingestSec)}""" +
      s""","rebuild_sec":${f3(rebuildSec)}""" +
      s""","ingest_over_rebuild":${f3(ingestSec / math.max(rebuildSec, 1e-9))}}""")
  }

  /** Semantic split-ingest threshold: the PRODUCTION near-dup point (0.9 —
    * p ≈ 0.86 at the threshold angle, so the ρ-law table count stays
    * small), not the registered queries' deliberately-low 0.4: the
    * random-vector fixture has pair cosines concentrated at
    * ±1/√64 ≈ 0.125, and 0.4 sits only 3.2σ out — at probe sizes that
    * admits tens of thousands of accidental pairs whose giant
    * component makes every "affected neighborhood" corpus-sized,
    * measuring the fixture, not the operator. 0.9 is ~7σ: exactly the
    * engineered dup clusters (cosine 1.0) and nothing else. */
  private val SemThreshold = 0.9

  /** Ingest-vs-rebuild of the persisted split-labels index
    * ([[graft.ext.SplitIndex]]), whose claim is that absorbing an
    * arriving slice costs a FRACTION of re-running the winnowing pass +
    * components over everything while answering BYTE-IDENTICALLY: builds
    * the index on 90% of a corpus, times `ingest` of the held-out 10% and
    * a full `create` on 100% at a second root, checks label (and edge)
    * identity between the two assets, and prints one JSON line.
    *
    * The corpus is deterministic (seeded token streams, no wall clock):
    * when doc i's hash lands under `dupPct` it is a verbatim copy of the
    * 50-aligned anchor below it, offset to end in 1 (clusters of
    * ~dupPct% of 50 ≈ 5 docs — far under the stop-fingerprint bucket cap,
    * so every cluster is FOUND, unlike a single giant hub whose buckets
    * the cap rightly drops). Anchors end in 1, i.e. live in the BASE; the
    * held-out slice (ids ending in 0) carries ~dupPct% docs that near-dup
    * base clusters — the inherit path — plus singletons, the realistic
    * arrival mix.
    *
    * `semantic` adds embeddings keyed on the SAME dup structure — docs
    * sharing a source share an identical vector (cosine 1.0), distinct
    * docs get independent pseudo-random 64-dim vectors (see
    * [[SemThreshold]]) — and exercises createSemantic / ingestSemantic,
    * comparing labels AND the union edge MULTISET with the full semantic
    * rebuild. The multi-probe generator's constant-recall cost is
    * super-linear by the ρ-law (~N^1.22 at 0.9), so semantic sizes are
    * meant for ~50-200k, not the lexical mode's 1M. */
  private def splitIngest(spark: SparkSession, nDocs: Long, dupPct: Int,
                          semantic: Boolean): Unit = {
    val src = when(pmod(hash(col("id")), lit(100)) < dupPct && col("id") >= 51,
      col("id") - pmod(col("id"), lit(50)) + 1).otherwise(col("id")).as("__src")
    val docs = spark.range(nDocs).select(col("id").as("doc_id"), src)
      .select(col("doc_id"),
        array_join(transform(sequence(lit(0), lit(59)),
          j => concat(lit("t"), col("__src"), lit("w"), j)), " ")
          .as("text"))
      .persist()
    docs.count()
    // element-wise hash of (__src, dim), uniform in [-1, 1)
    val emb = Option.when(semantic) {
      val e = spark.range(nDocs).select(col("id").as("vec_id"), src)
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(63)),
            j => ((pmod(hash(col("__src"), j), lit(2001)) - 1000)
              / lit(1000.0)).cast("float")).as("embedding"))
        .persist()
      e.count()
      e
    }
    def create(d: DataFrame, e: Option[DataFrame], root: String): Unit =
      e match {
        case Some(v) => SplitIndex.createSemantic(d, v, root,
          threshold = SemThreshold)
        case None => SplitIndex.create(d, root)
      }
    val base = docs.where(col("doc_id") % 10 =!= 0)
    val delta = docs.where(col("doc_id") % 10 === 0)

    // bytes on disk under a table root's data/ — the write-amplification
    // witness: the ingest's label commit must scale with |affected|,
    // not |corpus| (merge-on-read overlay)
    def dataBytes(root: String): Long = {
      val d = java.nio.file.Paths.get(root, "data")
      if (!java.nio.file.Files.isDirectory(d)) 0L
      else {
        val s = java.nio.file.Files.walk(d)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    }

    val incRoot = tmp("split-inc")
    val buildSec = secs(create(base,
      emb.map(_.where(col("vec_id") % 10 =!= 0)), incRoot))
    val labelBaseBytes = dataBytes(incRoot + "/labels")
    // compaction disarmed for the measurement: the probe times ONE
    // ingest, and the amortized fold would read as its write cost
    val ingestSec = secs(emb match {
      case Some(e) => SplitIndex.ingestSemantic(incRoot, delta,
        e.where(col("vec_id") % 10 === 0), compactLabelsAboveFiles = 0)
      case None => SplitIndex.ingest(incRoot, delta, compactLabelsAboveFiles = 0)
    })
    val labelIngestBytes = dataBytes(incRoot + "/labels") - labelBaseBytes
    val fullRoot = tmp("split-full")
    val rebuildSec = secs(create(docs, emb, fullRoot))

    // identity: the maintained asset answers exactly like the rebuild.
    // In semantic mode the edge comparison is the union MULTISET (the
    // witness counts pairs with generator multiplicity).
    def pairFrame(root: String) =
      if (semantic) SplitIndex.unionEdges(spark, root)
      else SplitIndex.edges(spark, root).select(col("doc_a"), col("doc_b"))
    val mismatched = SplitIndex.labels(spark, incRoot)
      .withColumnRenamed("rep", "__a")
      .join(SplitIndex.labels(spark, fullRoot)
        .withColumnRenamed("rep", "__b"), Seq("doc_id"), "full")
      .where(col("__a").isNull || col("__b").isNull ||
        col("__a") =!= col("__b"))
      .limit(1).count()
    val edgeDelta =
      pairFrame(incRoot).exceptAll(pairFrame(fullRoot)).limit(1).count() +
        pairFrame(fullRoot).exceptAll(pairFrame(incRoot)).limit(1).count()
    val nLabels = SplitIndex.labels(spark, incRoot).count()
    val nEdges = pairFrame(incRoot).count()
    val metric = if (semantic) "split_index_semantic_ingest_vs_rebuild"
      else "split_index_ingest_vs_rebuild"
    println(s"""{"metric":"$metric","n_docs":$nDocs,"dup_pct":$dupPct,"build90_sec":${f2(buildSec)},"ingest10_sec":${f2(ingestSec)},"rebuild100_sec":${f2(rebuildSec)},"ingest_over_rebuild":${f2(ingestSec / math.max(rebuildSec, 1e-9))},"labels":$nLabels,"edges":$nEdges,"label_mismatches":$mismatched,"edge_set_delta":$edgeDelta,"label_base_bytes":$labelBaseBytes,"label_ingest_bytes":$labelIngestBytes,"label_write_frac":${f2(labelIngestBytes.toDouble / math.max(1L, labelBaseBytes))}}""")
  }

  /** Plan inspector: the formatted physical plan of each named query (all
    * of them when none is named) — the feedback loop for the scale
    * checklist: filters pushed to the scan (PushedFilters), columns pruned
    * (ReadSchema), dims broadcast, no nested-loop joins, wide
    * WholeStageCodegen spans. */
  private def explain(spark: SparkSession, sfDir: String,
                      names: Seq[String]): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted)
      .foreach { name =>
        println(s"\n===== $name =====")
        SparkEntry.queries.get(name) match {
          case Some(fn) => fn(spark, sfDir).explain("formatted")
          case None => println(s"unknown query: $name")
        }
      }
  }
}
