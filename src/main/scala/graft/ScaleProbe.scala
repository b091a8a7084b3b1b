package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Lane.{f3, materialize}

/** Empirical scale probe: measure how each headline query's runtime grows
  * when the data grows ~10x, converting the repo's "this plan survives
  * 100x" arguments (PlanShapeSpec pins) into measurements.
  *
  * /root/testdata is read-only and tops out at sf0.1, so the probe
  * synthesizes larger inputs OUTSIDE it (default target/scaleprobe/) by
  * unioning k key-shifted replicas of sf0.1. The construction is an
  * ISOMETRY per replica, so per-replica workload structure is exactly the
  * base workload and totals scale by k — the clean setting for reading a
  * scaling exponent off two timings:
  *
  *  - Key columns shift by replica * (max(key)+1) per key domain, applied
  *    consistently on both sides of every FK (orders.o_custkey and
  *    customer.c_custkey shift together), so joins stay intact within a
  *    replica and never match across replicas. Dims (region/nation) stay
  *    fixed — dims grow slower than facts on real clusters.
  *  - documents.text is word-salted per replica (every word gets a _r<i>
  *    suffix). Shingle/minhash/simhash/winnowing similarity WITHIN a
  *    replica is preserved exactly (both members of a pair transform the
  *    same way); similarity ACROSS replicas collapses (disjoint token
  *    spaces) — so near-dup pair generation scales by k, not k^2.
  *  - embeddings flip signs on a per-replica hash-chosen dim pattern.
  *    s in {-1,+1}^d applied to both x and y preserves <x,y> and norms,
  *    so intra-replica cosine structure (pairs, kNN neighborhoods) is
  *    EXACT; cross-replica dots become random-sign sums ~ 0, far below
  *    any near-dup threshold. Replica 0 is the identity.
  *
  * Deliberately excluded: the skew_* fixture twins. Replicating both
  * sides of a deliberately skewed join multiplies the hot key's output
  * quadratically in the DATA itself — the probe would read the fixture's
  * construction, not the operator's scaling.
  *
  * Output: SCALEPROBE.json — per query, seconds at each factor and the
  * fitted exponent log(t_hi/t_lo)/log(hi/lo). ~1.0 = linear, <~1.2 is
  * healthy (shuffle/sort log factors); anything near 2 is a found bug.
  * Queries under 0.3 s at the base factor are exponent-unreliable (JVM
  * jitter dominates) and are flagged low_signal rather than trusted.
  */
object ScaleProbe {

  /** Per-table key domains to shift: column -> offset unit is computed
    * from the BASE table's max so replicas never collide. */
  private val keyDomains: Map[String, Seq[(String, String)]] = Map(
    // table -> (column, domain); same domain = same offset unit
    "customer" -> Seq("c_custkey" -> "cust"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "order", "o_custkey" -> "cust"),
    "lineitem" -> Seq("l_orderkey" -> "order", "l_partkey" -> "part",
      "l_suppkey" -> "supp"),
    "events" -> Seq("event_id" -> "event", "user_id" -> "user"),
    "documents" -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec")
  )

  private val dims = Seq("region", "nation")
  private val facts = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Build the k-replica blowup of `baseDir` into `outDir` (idempotent:
    * skipped when the marker file exists). */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
               k: Int, tables: Option[Set[String]] = None): Unit = {
    // a table-filtered generation gets its own marker so it never
    // satisfies (or is satisfied by) a full generation of the same dir
    val markerName = tables match {
      case None => "_GRAFT_SCALE_OK"
      case Some(ts) => "_GRAFT_SCALE_OK_" + ts.toSeq.sorted.mkString("_")
    }
    val marker = new java.io.File(s"$outDir/$markerName")
    if (marker.exists() ||
      new java.io.File(s"$outDir/_GRAFT_SCALE_OK").exists()) return
    new java.io.File(outDir).mkdirs()

    // Offset units from the base tables (max+1 per key domain).
    val domains = keyDomains.values.flatten.map(_._2).toSeq.distinct
    val unit: Map[String, Long] = domains.map { d =>
      val (tbl, colName) = d match {
        case "cust" => ("customer", "c_custkey")
        case "supp" => ("supplier", "s_suppkey")
        case "part" => ("part", "p_partkey")
        case "order" => ("orders", "o_orderkey")
        case "event" => ("events", "event_id")
        case "user" => ("events", "user_id")
        case "doc" => ("documents", "doc_id")
        case "vec" => ("embeddings", "vec_id")
      }
      val mx = graft.sources.Tables.table(spark, baseDir, tbl)
        .agg(max(col(colName))).head.getLong(0)
      d -> (mx + 1L)
    }.toMap

    dims.foreach { t =>
      graft.sources.Tables.table(spark, baseDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    facts.filter(t => tables.forall(_.contains(t))).foreach { t =>
      val base = graft.sources.Tables.table(spark, baseDir, t)
      val replicas = (0 until k).map { i =>
        var df = base
        for ((c, d) <- keyDomains(t))
          df = df.withColumn(c, (col(c) + lit(i * unit(d))).cast("long"))
        if (t == "documents" && i > 0) {
          // Word-salt: within-replica shingle similarity preserved
          // exactly, cross-replica token spaces disjoint. The salt MUST
          // survive tokenization as part of its word: TextAnalysis.tokens
          // extracts [a-z0-9]+ runs, so an alphanumeric suffix ("batchr2")
          // maps each token bijectively, while a separator ("batch_r2")
          // would SPLIT every word into (word, salt) — interleaving a
          // shared token between all content words, collapsing k-shingle
          // specificity to ~k/2 content words and inflating shingle-bucket
          // collisions quadratically (the first probe run measured
          // exponent 1.93 on neardup_jaccard from exactly this).
          df = df
            .withColumn("text", array_join(
              transform(split(col("text"), " "),
                w => concat(w, lit(s"r$i"))), " "))
            .withColumn("n_chars", length(col("text")).cast("long"))
        }
        if (t == "embeddings" && i > 0) {
          // Sign-flip isometry: dims whose murmur3(dim*2654435761 + i)
          // is even flip sign. Same pattern for every vector in the
          // replica => intra-replica dot products and norms unchanged.
          df = df.withColumn("embedding",
            expr(s"transform(embedding, (x, j) -> " +
              s"CASE WHEN pmod(hash(j * 2654435761 + $i), 2) = 0 " +
              s"THEN x ELSE -x END)"))
        }
        df
      }
      replicas.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    marker.createNewFile()
    ()
  }

  /** Queries probed: the bench's most expensive plus the whole near-dup /
    * components / span family — the operators whose 100 TB posture rests
    * on bucketed pair generation staying linear. */
  val probeQueries: Seq[String] = Seq(
    "tpch_q1_pricing_summary", "tpch_q5_local_supplier",
    "tpch_q18_large_customers", "tpch_q21_waiting_supplier",
    "tpch_q4_priority_check", "tpch_q9_product_profit",
    "tpch_q13_cust_distribution", "tpch_q16_supplier_relation",
    "tpch_q19_disjunct_revenue", "tpch_q22_sales_opportunity",
    "revenue_by_nation_merge", "incremental_kpis", "user_sessions",
    "hourly_concurrency", "asof_click_view_native", "supplier_pagerank",
    "dedup_components", "dedup_survivors", "neardup_minhash",
    "neardup_simhash", "neardup_jaccard", "neardup_winnowing",
    "neardup_cosine_lsh", "dup_span_report", "span_cut_docs",
    "doc_span_dup_ratio", "tfidf_top_tokens", "knn_lsh_or",
    "context_packing", "training_pipeline_counts",
    "bucketed_join_revenue", "incremental_kpis_bucketed",
    "tpch_q5_planned",
    // round-11 additions: the heaps-law sizing scan, DSIR's two-model
    // score+rank (its md5 n-gram fan-out is THE cost), and the full
    // k-means fit+diagnostics (registered form re-fits, so the probe
    // measures rounds × corpus scans)
    "vocab_growth", "dsir_mixture_shift", "kmeans_cluster_stats",
    "collocations_pmi",
    // hybrid retrieval: word-salting confines query-TERM matches to
    // replica 0, so the probe measures what actually scales — the
    // index-build corpus scan (tf/dl/df + hashed features), fixed query
    // set — which is the production shape (corpus grows, queries don't).
    // EWMA: k× users at constant per-user sequence length — the fold
    // must scale with the user count, embarrassingly.
    "hybrid_rrf_top_docs", "user_value_ewma",
    // triangles: replicas carry disjoint supplier spaces, so the
    // co-supply graph is k disjoint copies — edge build, wedge join,
    // and closing probe must all scale by k
    "supplier_triangles",
    // blocklist: word-salting confines matches to replica 0 — the probe
    // measures the bounded-window scan + anchor join, the part that
    // grows with the corpus (blocklists don't). CDC stability: two full
    // chunkings + an identity join, token-linear per replica.
    "blocklist_screen", "cdc_stability",
    // equi-depth histogram: the distributed-global-rank claim measured
    // (range exchange + per-chunk offsets — the ntile-free shape);
    // local clustering: the wedge join under k disjoint graph copies;
    // trend: one window + one algebraic aggregate, embarrassingly linear
    "price_equidepth_hist", "supplier_local_clustering",
    "user_value_trend",
    // multi-probe LSH: the probe-side fan-out is P+1 = O(log n), so the
    // pair-gen must stay near-linear like its single-bucket sibling
    // while carrying ~3.4x its recall
    "neardup_multiprobe",
    // budget-ruled sibling: (masks, tables) from multiProbeParams at
    // the 0.6 target — the chosen-point row the r12 verdict asked for
    "neardup_multiprobe_budgeted",
    // corpus-wide kNN graph: candidate volume is nprobe/nlist of N² per
    // the IVF budget, and the registered form carries its 10-query
    // brute-force recall witness (linear); the graph itself must scale
    // with the self-join's cell-bounded candidates
    "knn_graph",
    // NN-descent sibling (r13): bounded-cell seed + 3 descent rounds at
    // n·36²/2 scored pairs each — linear by construction, and the one
    // form whose recall floor holds at x10/x30 (its registered witness)
    "knn_graph_refined",
    // split-index family (r16): the fresh rows scale like their pair
    // generators (winnowing by k under word-salting; + multi-probe LSH
    // for the semantic regime) feeding pointer-jumped components; the
    // *_indexed rows measure the READ path off committed labels —
    // attempt 1 pays the per-factor index build at that scale,
    // min-of-attempts keeps the steady-state lookup, which must stay
    // ~linear (a scan + hash projection + the stored-edge witness
    // join). Ingest-vs-rebuild economics live in `Probe split-ingest`; the
    // *_ingested twins are omitted here because min-of-attempts
    // reduces them to the same read path as *_indexed.
    "leakage_safe_split", "leakage_safe_split_indexed",
    "leakage_safe_split_semantic", "leakage_safe_split_semantic_indexed")

  /** Probe-only operators: production paths whose REGISTERED query form
    * carries a deliberately-quadratic exact-witness side (the
    * `semantic_dedup` gate row computes the brute-force prunable set to
    * hash-match against DuckDB). The probe measures the OPERATOR a
    * pipeline would run at scale, not its test-scale witness. */
  val probeExtras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "semantic_dedup_verdicts" -> ((s, dir) =>
      graft.ext.SemanticDedup.verdicts(
        graft.sources.Tables.table(s, dir, "embeddings"), threshold = 0.4)),
    // The refined regime forced at probe scale (default params stay flat
    // up to nlist=256 — far beyond these corpora): capped coarse fit +
    // per-cell OR-LSH refinement. Production-like threshold 0.85; the
    // OR-table count grows with the per-cell split depth, so the honest
    // expectation here is the 1+ρ LSH exponent (BASELINE.md), not 1.0.
    "semantic_dedup_verdicts_refined" -> ((s, dir) =>
      graft.ext.SemanticDedup.verdicts(
        graft.sources.Tables.table(s, dir, "embeddings"), threshold = 0.85,
        targetClusterSize = 64, flatNlistCap = 8)),
    // The PQ ANN operator alone (the registered knn_pq row carries the
    // brute-force recall twin): bounded fit (build sec), then encode +
    // ADC shortlist + exact re-rank. Expected near-linear in the
    // corpus: the ADC scan is corpus × queries × m lookups and the
    // shortlist window shuffles scalar rows only.
    "knn_pq_operator" -> ((s, dir) => {
      val emb = graft.sources.Tables.table(s, dir, "embeddings")
      val cb = graft.ext.ProductQuant.pqFit(emb)
      graft.ext.ProductQuant.knnPq(emb,
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 10),
        k = 5, cb)
    }),
    // The learned quality gate end to end (fit on the 80% split +
    // score the full corpus — the registered rows witness the same
    // math on the held-out slice). Label is a substring test so the
    // probe's word-salting preserves it per replica; vocabulary grows
    // by k (disjoint salted token spaces), so this also measures the
    // vocab-sized broadcast growing with the corpus. Expected linear:
    // one token aggregation + broadcast-join scoring.
    "nb_quality_operator" -> ((s, dir) => {
      val docs = graft.sources.Tables.table(s, dir, "documents")
        .withColumn("label", col("text").contains("spark").cast("long"))
      val split = graft.ext.Sampling.deterministicSplit(
        docs, col("doc_id"), Seq("train" -> 80, "test" -> 20))
      val m = graft.ext.QualityClassifier.fitBernoulliNb(
        split.where(col("split") === "train"), "label")
      graft.ext.QualityClassifier.scoreBernoulliNb(
          docs.select("doc_id", "text"), m)
        .select("doc_id", "logodds", "pred")
    }),
    // The text→vector bridge over the whole corpus (the registered
    // hashed_features row witnesses 20 docs). Expected linear: pure
    // per-token map + two combiner-friendly aggregations.
    "hashing_vectorizer_operator" -> ((s, dir) =>
      graft.ext.TextAnalysis.hashingVectorizer(
        graft.sources.Tables.table(s, dir, "documents"))),
    // IVF-PQ at the witness params: both fits in build time, then the
    // probed-cell ADC join + re-rank. Expected SUB-linear in the
    // corpus vs knn_pq_operator's full ADC scan: each query touches
    // nprobe/nlist of the codes.
    "knn_ivfpq_operator" -> ((s, dir) => {
      val emb = graft.sources.Tables.table(s, dir, "embeddings")
      val coarse = graft.ext.ProductQuant.coarseFit(emb, nlist = 8)
      val cb = graft.ext.ProductQuant.pqFitIvf(emb, coarse)
      graft.ext.ProductQuant.knnIvfPq(emb,
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 10),
        k = 5, coarse, cb, nprobe = 4, refine = 200)
    }),
    // BM25 over the growing corpus with the FIXED registered query set —
    // the production shape (corpus grows, query workload doesn't). The
    // probe's word-salting confines term matches to replica 0, so what
    // scales is the dominant cost: the index-statistics aggregations
    // (tf/dl/df) over the whole corpus. Expected linear.
    "bm25_operator" -> ((s, dir) => {
      val q = s.createDataFrame(Seq(
        (0L, "spark window agg"), (1L, "customer order join fast"),
        (2L, "vector stream quux"))).toDF("query_id", "query_text")
      graft.ext.Retrieval.bm25TopK(
        graft.sources.Tables.table(s, dir, "documents"), q, k = 5)
    }),
    // PCA end to end: the vec_moments pass + Jacobi land in BUILD
    // seconds (the fit materializes eagerly; the scan is corpus-linear,
    // the driver solve is corpus-FREE), projection in exec. A build
    // column growing faster than linear = the bounded-fit claim broke.
    "pca_project_operator" -> ((s, dir) => {
      val emb = graft.sources.Tables.table(s, dir, "embeddings")
      val model = graft.ext.DimReduce.pcaFit(emb, k = 16)
      graft.ext.DimReduce.projectPca(emb, model)
    }),
    // Fit-free signed projection over the corpus: pure per-row map,
    // the cheapest possible reducer. Expected linear, near-zero build.
    "rp_project_operator" -> ((s, dir) =>
      graft.ext.DimReduce.rpVectorizer(
        graft.sources.Tables.table(s, dir, "embeddings"), k = 16, dim = 64)),
    // BPE learning end to end (8 rounds): the corpus scan reduces to the
    // word-type table once; each round is a vocab-sized aggregation.
    // The probe's word-salting grows the vocabulary ~k-fold (disjoint
    // token spaces), so this measures the rounds scaling with VOCAB —
    // the quantity that actually grows — plus the one corpus scan.
    "bpe_learn_operator" -> ((s, dir) =>
      graft.ext.Bpe.mergesFrame(
        graft.sources.Tables.table(s, dir, "documents"), rounds = 8)),
    // Lexical decontamination screen: frozen eval index (the BASE sf0.1
    // corpus' first 500 docs — fixed across factors, as a benchmark set
    // is), the growing corpus streamed against it. The probe's word
    // salting makes replicas >0 OOV against the index, so what scales is
    // the probe-side tokenize + df-join + (replica-0 only) scoring.
    // Expected linear in the batch; build = index create, first factor
    // only (same root across factors — the index is frozen by design).
    // The descent graph operator alone (the registered row carries its
    // linear 10-query brute-force witness): registered sizing — nlist
    // from the corpus-count stat, clamped to the fit cap. This is the
    // x100 witness for the past-the-cap regime (200k vectors → raw
    // nlist 391 > cap 256 → cells ≈ 770 → per-cell OR-LSH splits keep
    // seed buckets ≈ targetCell): expected near-linear build+exec where
    // knnGraphIvf's cell join goes n·nprobe·(n/cap) quadratic.
    "knn_graph_descent_operator" -> ((s, dir) => {
      val emb = graft.sources.Tables.table(s, dir, "embeddings")
      val n = emb.count()
      val nlist = math.min(graft.ext.Similarity.IvfFitNlistCap.toLong,
        math.max(8L, n / 512L)).toInt
      val centroids = graft.ext.Similarity.ivfFit(emb, nlist = nlist)
      // degree from the measured count-scaled rule (the registered
      // query's sizing): fixed 18's recall decays with n — see
      // KnnGraph.degreeFor's table
      graft.ext.KnnGraph.knnGraphDescent(
        emb, k = 3, centroids, nprobe = 3,
        degree = graft.ext.KnnGraph.degreeFor(n), iters = 3)
    }),
    "lexical_screen_operator" -> ((s, dir) => {
      val root =
        s"${System.getProperty("java.io.tmpdir")}/graft_lex_probe_index"
      graft.ext.LexicalIndex.create(
        graft.sources.Tables.table(s,
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
          "documents").where(col("doc_id") < 500), root)
      graft.ext.LexicalIndex.screen(s,
        graft.sources.Tables.table(s, dir, "documents"), root,
        threshold = 6.0)
    }))

  /** One timed attempt split into (build, exec) seconds: build is the
    * query-construction call — for operators with an eager planning
    * component (SemanticDedup's count+centroid fit, estimated joins'
    * sketch pass) this reports the fit/planning cost SEPARATELY from
    * the distributed execution, so a fit that stopped being bounded
    * shows up as build time growing with the factor. Best attempt by
    * total. */
  private def timeIt(mk: () => DataFrame, attempts: Int): (Double, Double) =
    (1 to attempts).map { _ =>
      val t0 = System.nanoTime()
      val df = mk()
      val t1 = System.nanoTime()
      materialize(df)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }.minBy(t => t._1 + t._2)

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "target/scaleprobe")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val attempts =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_ATTEMPTS", "2").toInt
    val spark = GraftSession()
    GraftSession.quietWindowWarnings()

    val qs = probeQueries.filter(n => only.forall(_.contains(n)))
      .flatMap(n => SparkEntry.queries.get(n).map(n -> _)) ++
      probeExtras.toSeq.filter { case (n, _) => only.forall(_.contains(n)) }

    // Generate each factor's dataset (factor 1 = the base dir itself).
    // SPARK_GRAFT_SCALE_TABLES limits generation to a fact subset (e.g.
    // "embeddings" for vector-only probes at factors where the full
    // blowup would be wasteful); filtered dirs get their own marker.
    val genTables = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
    val dirs: Seq[(Int, String)] = factors.map {
      case 1 => 1 -> baseDir
      case k =>
        val d = s"$outRoot/x$k"
        System.err.println(s"[scaleprobe] generating ${k}x at $d ...")
        generate(spark, baseDir, d, k, genTables)
        k -> d
    }

    // Codegen warm-up at the smallest SF (plan-structure dependent only).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    if (warmDir != "none" && new java.io.File(warmDir).isDirectory)
      qs.foreach { case (_, fn) =>
        try materialize(fn(spark, warmDir)) catch { case scala.util.control.NonFatal(_) => () }
      }

    val timings = qs.map { case (name, fn) =>
      val byFactor = dirs.map { case (k, d) =>
        val (build, exec) =
          try timeIt(() => fn(spark, d), attempts)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[scaleprobe] FAILED $name@x$k: ${e.getMessage}")
            (-1.0, 0.0) }
        System.err.println(
          s"[scaleprobe] $name x$k: ${f3(build + exec)}s (build ${f3(build)})")
        k -> (build, exec)
      }
      name -> byFactor
    }

    val lo = factors.min.toDouble
    val hi = factors.max.toDouble
    val rows = timings.map { case (name, byFactorSplit) =>
      val byFactor = byFactorSplit.map { case (k, (b, e)) =>
        k -> (if (b < 0) -1.0 else b + e) }
      val m = byFactor.toMap
      val builds = byFactorSplit.toMap
      val (tLo, tHi) = (m(factors.min), m(factors.max))
      val exp =
        if (tLo > 0 && tHi > 0) math.log(tHi / tLo) / math.log(hi / lo)
        else Double.NaN
      // With >= 3 factors, also fit the TAIL exponent over the two
      // largest — the asymptotically honest number once fixed JVM/plan
      // overhead (which deflates the full-range fit) has amortized.
      val tailExp = if (factors.size >= 3) {
        val Seq(mid, top) = factors.sorted.takeRight(2)
        val (tM, tT) = (m(mid), m(top))
        if (tM > 0 && tT > 0)
          math.log(tT / tM) / math.log(top.toDouble / mid) else Double.NaN
      } else Double.NaN
      val lowSignal = tLo >= 0 && tLo < 0.3
      val secs = byFactor.map { case (k, s) =>
        s""""x$k":${f3(s)}""" }.mkString(",")
      // build (construction/fit/planning) seconds per factor, only when
      // any factor's build cost is non-trivial — keeps linear-scan rows
      // compact while fit-carrying operators report the split.
      val buildStr =
        if (builds.values.exists { case (b, _) => b >= 0.05 })
          "," + byFactorSplit.map { case (k, (b, _)) =>
            s""""build_x$k":${f3(math.max(b, 0.0))}""" }.mkString(",")
        else ""
      val expStr = if (exp.isNaN) "null" else f3(exp)
      val tailStr =
        if (tailExp.isNaN) "" else s""","exponent_tail":${f3(tailExp)}"""
      s""""$name":{$secs$buildStr,"exponent":$expStr$tailStr,"low_signal":$lowSignal}"""
    }
    val json = s"""{"base":"$baseDir","factors":[${factors.mkString(",")}],"attempts":$attempts,"queries":{${rows.mkString(",")}}}"""
    val w = new java.io.PrintWriter("SCALEPROBE.json", "UTF-8")
    try w.println(json) finally w.close()
    println(json)
    spark.stop()
  }
}
