package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, ImportanceSampling, Multimodal, Retrieval, Similarity, SpanDedup, TextAnalysis}
import graft.operators.{Cleaning, Kpis, Validation}
import graft.Pipeline

/** Later-round extension operators (bloom/range/asof/attribution/
  * sessionization/sampling families — SURVEY.md §7.3+). */
object Ext3Queries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bloom-filter runtime join pruning: revenue of lineitems whose order
    // is URGENT — the big side is pre-filtered through a bloom of the
    // filtered orders' keys BEFORE the join shuffle (operators/BloomJoin;
    // no false negatives, so the result is exactly the plain join's).
    "bloom_pruned_revenue" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      graft.operators.BloomJoin.prunedInnerJoin(
          t(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey",
          expectedItems = 400000L)
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(count(lit(1)).as("n_items"),
          Money.revenueExact("l_extendedprice", "l_discount").as("revenue"))
        .orderBy(col("order_year"))
    }),

    // Measured bloom-on/off twin pair (same oracle as
    // bloom_pruned_revenue): both sides SHUFFLE_MERGE — the regime the
    // bloom prune exists for (a dimension too big to broadcast; under
    // broadcast the join is already a hash filter and the prune is
    // redundant). BENCH_FULL carries the comparison like the skew and
    // top-k pairs.
    "revenue_urgent_plain" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      t(s, dir, "lineitem")
        .join(urgent.hint("SHUFFLE_MERGE"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(count(lit(1)).as("n_items"),
          Money.revenueExact("l_extendedprice", "l_discount").as("revenue"))
        .orderBy(col("order_year"))
    }),

    "revenue_urgent_bloom_merge" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      graft.operators.BloomJoin.prunedInnerJoin(
          t(s, dir, "lineitem"), "l_orderkey",
          urgent.hint("SHUFFLE_MERGE"), "o_orderkey",
          expectedItems = 400000L)
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(count(lit(1)).as("n_items"),
          Money.revenueExact("l_extendedprice", "l_discount").as("revenue"))
        .orderBy(col("order_year"))
    }),

    // Pattern redaction (PII-scrub machinery, ext/Redaction): per-language
    // attrition report. The corpus is clean by construction, so the pii
    // counts double as a leak canary; the 'engine_term' pattern exercises
    // the nonzero path on real data.
    "redaction_stats" -> ((s, dir) =>
      graft.ext.Redaction.redactionStats(t(s, dir, "documents"), "text",
        groupCols = Seq("lang"),
        patterns = Seq(
          "email" -> graft.ext.Redaction.piiPatterns.head._2,
          "engine_term" -> "\\b(spark|stream)\\b"))),

    // Overlapping token-window chunking (ext/Chunking): every chunk row
    // with its token count and content hash — 32-token windows, stride 24.
    "doc_chunks" -> ((s, dir) =>
      graft.ext.Chunking.chunkByTokens(t(s, dir, "documents"), "text",
          idCols = Seq("doc_id"), chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Gopher/C4-style hard quality rules: per-language per-rule attrition
    // funnel (ext/TextAnalysis.qualityFunnel).
    "quality_funnel" -> ((s, dir) =>
      TextAnalysis.qualityFunnel(t(s, dir, "documents"))),

    // Unigram-LM perplexity scores (ext/TextAnalysis.unigramPerplexity):
    // the CCNet-style quality gate's input — self-trained add-0.5 unigram
    // model, per-doc exp(mean NLL). One corpus scan (exchange reuse
    // pinned), vocab-sized score join.
    "doc_perplexity" -> ((s, dir) =>
      TextAnalysis.unigramPerplexity(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // Bigram-LM perplexity (the sequence-aware sibling — scrambled token
    // order keeps unigram ppl but explodes here): self-trained add-0.5
    // conditional bigram model, exact vs DuckDB end to end.
    "doc_perplexity_bigram" -> ((s, dir) =>
      TextAnalysis.bigramPerplexity(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // Mahalanobis outlier scoring from the moments/whitening stack
    // (d² = ‖whitened(v)‖²): the TRACE IDENTITY is the earned contract —
    // with the population covariance of the same data, avg(d²) must equal
    // the effective rank EXACTLY (up to eigen numerics), and the tail
    // above χ²-ish 2×rank must be small. n_vecs is oracle-exact.
    "mahalanobis_calibration" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.ext.DimReduce.pcaFit(emb, k = 64)
      graft.ext.DimReduce.mahalanobisScores(emb, model)
        .agg(count(lit(1)).as("n_vecs"),
          max(col("mahal_rank")).cast("long").as("rank"),
          (abs(avg(col("d2")) - max(col("mahal_rank"))) < 0.01)
            .as("avg_d2_matches_rank"),
          (sum(when(col("d2") > lit(2.0) * col("mahal_rank"), 1L)
              .otherwise(0L))
            < count(lit(1)) * 0.01).as("tail_frac_lt_001"))
    }),

    // Token-count histogram: docs per 10-token bucket — the length
    // distribution a packing/truncation policy is tuned against.
    "token_histogram" -> ((s, dir) =>
      t(s, dir, "documents")
        .select((floor(TextAnalysis.tokenCount(col("text")) / 10.0) * 10)
          .cast("long").as("bucket_lo"))
        .groupBy(col("bucket_lo")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bucket_lo"))),

    // Incremental-ingest dedup: the deterministic 80/20 split plays the
    // existing-corpus / new-batch roles, and every 20th corpus doc is
    // "re-crawled" into the batch so the duplicate path has real
    // witnesses; the batch anti-matches the corpus's distinct fingerprint
    // set (batch-sized shuffle only).
    "incremental_new_docs" -> ((s, dir) => {
      val split = graft.ext.Sampling.deterministicSplit(
        t(s, dir, "documents"), col("doc_id"),
        Seq("corpus" -> 80, "batch" -> 20))
      val corpus = split.where(col("split") === "corpus")
      val batch = split.where(col("split") === "batch")
        .unionByName(corpus.where(col("doc_id") % 20 === 0))
      TextAnalysis.incrementalDedupReport(corpus, batch,
        groupCols = Seq("lang"))
    }),

    // The PERSISTED-INDEX twin of incremental_new_docs (same oracle):
    // the corpus's fingerprint set lives as a VersionedTable asset —
    // built on first touch (the only corpus-text scan, ever), READ on
    // every later ingest. The report path consumes only the 32-byte-key
    // index + the batch; at 100 TB this is the difference between
    // rescanning the corpus daily and a signature-table join
    // (IncrementalIndexSpec pins that corpus text is absent from the
    // report plan).
    "incremental_new_docs_indexed" -> ((s, dir) => {
      val split = graft.ext.Sampling.deterministicSplit(
        t(s, dir, "documents"), col("doc_id"),
        Seq("corpus" -> 80, "batch" -> 20))
      val corpus = split.where(col("split") === "corpus")
      val batch = split.where(col("split") === "batch")
        .unionByName(corpus.where(col("doc_id") % 20 === 0))
      val root = IndexCatalog.root(dir, "fp")
      val index = graft.ext.DedupIndex.readOrBuild(s, root,
        graft.ext.DedupIndex.fingerprintIndex(corpus))
      graft.ext.DedupIndex.incrementalNewDocs(index, batch,
        groupCols = Seq("lang"))
    }),

    // Span-granular contamination vs the PERSISTED span index (third
    // index family in ext/DedupIndex): each batch doc's k-gram spans
    // probed against the corpus's distinct span-hash set — the exact
    // n-gram decontamination index production evals keep; corpus text
    // is scanned once ever (index build), never per batch.
    "span_contamination_indexed" -> ((s, dir) => {
      val (root, index) = IndexCatalog.ensureSpan(s, dir)
      graft.ext.DedupIndex.spanContamination(index,
        IndexCatalog.spanSplit(s, dir).where(col("split") === "batch"),
        k = 5,
        indexRows = graft.sources.VersionedStats.statsFor(s, root)
          .map(_._1))
    }),

    // The bloom-compressed probe of the same index, emitted as the
    // hash-matched no-false-negative witness: the EXACT contamination
    // report (doc_id, n_spans, n_seen, seen_ratio — the same rows the
    // indexed twin oracles) plus the one verdict the bloom probe must
    // earn per doc — its seen-count never undercounts the exact one (a
    // contaminated span can never slip through a bloom gate). The FP
    // side stays spec territory (IncrementalIndexSpec: measured rate
    // within 3×fpp). expectedItems comes from the index's own row
    // count, the stored stat a catalog would hold.
    "span_contamination_bloom" -> ((s, dir) => {
      val (root, index) = IndexCatalog.ensureSpan(s, dir)
      // the catalog stat serves both the prune gate and the bloom's
      // expectedItems (r13 ran an index count() job here for the latter)
      val idxRows = graft.sources.VersionedStats.statsFor(s, root)
        .map(_._1)
      val batch = IndexCatalog.spanSplit(s, dir)
        .where(col("split") === "batch")
      val exact = graft.ext.DedupIndex.spanContamination(index, batch,
        k = 5, indexRows = idxRows)
      val bloom = graft.ext.DedupIndex.spanContaminationBloom(index, batch,
          k = 5,
          expectedItems = math.max(1L,
            idxRows.getOrElse(index.count())))
        .select(col("doc_id"), col("n_seen").as("__bloom_seen"))
      exact.join(bloom, Seq("doc_id"))
        .select(col("doc_id"), col("n_spans"), col("n_seen"),
          col("seen_ratio"),
          (col("__bloom_seen") >= col("n_seen"))
            .as("bloom_no_false_negative"))
        .orderBy(col("doc_id"))
    }),

    // Catalog-level index health (ext/IndexHealth — VERDICT r15 #4):
    // per (family, table) the version count, latest version, sidecar
    // presence and — for the fit-carrying families — the frozen
    // model's staleness ratio with the decade boundary evaluated.
    // Each family is ENSURED first through the same IndexCatalog
    // ensure* its authoritative query calls (a no-op on a warm
    // catalog — the steady state in any repeated run),
    // which makes the report a pure function of the input corpus:
    // cold-vs-warm catalog state and query execution order stop being
    // variables, so the row set is held to the DuckDB oracle like
    // every other query (VERDICT r16 #1/#3 — previously the one
    // rows-only exemption). The layout/machine-dependent columns the
    // full IndexHealth.report carries (manifest file count, sidecar
    // row count) are NOT emitted here — layout witnesses live in
    // IndexHealthSpec (the span_probe_file_skip lesson), which also
    // pins the decade-boundary staleness crossing. The cold-catalog
    // (versions = 0) view is IndexHealth.report called directly.
    "index_health" -> ((s, dir) =>
      graft.ext.IndexHealth.report(s, Seq(
        "span_dedup" -> IndexCatalog.ensureSpan(s, dir)._1,
        "pq" -> IndexCatalog.ensurePq(s, dir),
        "lexical" -> IndexCatalog.ensureLex(s, dir),
        "knn_graph" -> IndexCatalog.ensureKnnGraph(s, dir),
        "split" -> IndexCatalog.ensureSplit(s, dir),
        "split_semantic" -> IndexCatalog.ensureSplitSemantic(s, dir)))
        .select(col("family"), col("table"), col("versions"),
          col("latest_version"), col("has_row_stats"),
          col("staleness_ratio"), col("stale"))
        .orderBy(col("family"), col("table"))),

    // The production substring-dedup shape: the batch CUT against the
    // persisted span index (corpus never rescanned, corpus owns all its
    // spans). Same byte-exact md5 witness as span_cut_docs.
    "span_cut_indexed" -> ((s, dir) => {
      val (root, index) = IndexCatalog.ensureSpan(s, dir)
      graft.ext.DedupIndex.cutSeenSpans(index,
        IndexCatalog.spanSplit(s, dir).where(col("split") === "batch"),
        k = 5,
        indexRows = graft.sources.VersionedStats.statsFor(s, root)
          .map(_._1))
    }),

    // Span membership lookup through the FILE-SKIP read path (VERDICT
    // r13 #7): the smallest-grain decontamination question — "is this
    // exact 5-gram anywhere in the corpus" — against the persisted span
    // index, reading ONLY the files whose registered [min,max] sh range
    // can contain a probe key. The index is range-clustered once
    // (Compaction.compactVersioned with the sh range stat, idempotent
    // across runs); probes are the first 5-gram of docs 0-2 plus a
    // literal never-in-corpus span. The file-skip witness (pruned read
    // touches strictly fewer files than the manifest lists) is pinned
    // in IncrementalIndexSpec, where the file counts are real — NOT in
    // the oracle-compared columns: a hardcoded TRUE there would couple
    // membership correctness to physical layout (a one-file index at a
    // tiny SF, or URI-encoding drift between input_file_name and the
    // manifest, would fail verify even though every verdict is exact).
    // Uniform md5 keys mean the skip wins exactly in this small-probe
    // regime — batch-sized probes keep the gated bloom-prune path.
    "span_probe_file_skip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = IndexCatalog.ensureSpan(s, dir, "spanfr")._1
      graft.ext.DedupIndex.ensureFileRanges(s, root)
      val probes = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("probe_id"),
          array_join(slice(graft.ext.TextAnalysis.tokens(col("text")),
            1, 5), " ").as("span"))
        .unionByName(s.range(1).select(lit(99L).as("probe_id"),
          lit("zz90 zz91 zz92 zz93 zz94").as("span")))
      graft.ext.DedupIndex.spanProbeLookup(s, root, probes)._1
        .select(col("probe_id"), col("seen"))
    }),

    // Ordered conversion funnel: users clearing view -> click -> purchase
    // strictly in order (operators/Funnel; one shuffle + one sort, k
    // chained window-mins, no per-user history buffer).
    "conversion_funnel" -> ((s, dir) =>
      graft.operators.Funnel.conversionFunnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))),

    // Weekly cohort retention matrix (operators/Cohort): two user-keyed
    // aggregates + one user-keyed join; output is cohorts x weeks.
    "cohort_retention" -> ((s, dir) =>
      graft.operators.Cohort.weeklyRetention(t(s, dir, "events"),
        "user_id", "ts")),

    // Time-RANGE rolling window (feature engineering): each order's
    // trailing-7-day revenue for its customer — a VALUE-range frame over
    // epoch seconds, not a row frame. Cents-integer sum: exact arithmetic
    // in any engine regardless of windowed-sum accumulation order.
    "rolling_7d_revenue" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("__sec"))
        .rangeBetween(-7L * 86400, 0)
      t(s, dir, "orders")
        .withColumn("__sec", unix_timestamp(col("o_orderdate")))
        .withColumn("rev_7d_cents",
          sum(round(col("o_totalprice") * 100).cast("long")).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("rev_7d_cents"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Mergeable HLL rollup: daily user sketches union'd into per-type
    // distinct estimates WITHOUT re-scanning events — the store-the-
    // sketch pattern (Datasketches HLL). Hash-matched band witness: the
    // exact day and user distincts are real oracle data; the boolean is
    // the ROLLUP contract — the union of 30 daily sketches must still
    // land within 15% of the true per-type cardinality (union does not
    // compound HLL error; HllRollupSpec carries the tighter bound).
    "uniques_hll_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val rolled = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users_exact"))
      rolled.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_users_exact"),
          (abs(col("__est").cast("double") - col("n_users_exact")) <=
            lit(0.15) * col("n_users_exact").cast("double"))
            .as("rollup_within_band"))
        .orderBy(col("event_type"))
    }),

    // Point-in-time join against the SCD2 dimension: each order picks the
    // version valid AT its order date (equi key + validity range — plans
    // as a sort-merge join with a residual condition, never a nested
    // loop). Orders predating the dimension land in NO_VERSION: the PIT
    // contract makes missing history explicit instead of leaking the
    // current version backwards in time.
    "scd2_pit_join" -> ((s, dir) => {
      import graft.operators.Scd
      val cust = t(s, dir, "customer")
      val dim0 = cust.select(col("c_custkey"),
          col("c_mktsegment").as("segment"))
        .withColumn("effective_from", lit("1995-01-01").cast("date"))
        .withColumn("effective_to", lit(null).cast("date"))
      val upd = cust.select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0,
          concat(col("c_mktsegment"), lit("_V2")))
          .otherwise(col("c_mktsegment")).as("segment"))
      val dim = Scd.scd2Merge(dim0, upd, keys = Seq("c_custkey"),
          attrs = Seq("segment"), asOf = lit("1996-01-01").cast("date"))
        .withColumn("effective_from", col("effective_from").cast("timestamp"))
        .withColumn("effective_to", col("effective_to").cast("timestamp"))
      val orders = t(s, dir, "orders")
      orders.join(dim,
          orders("o_custkey") === dim("c_custkey") &&
            col("effective_from") <= col("o_orderdate") &&
            (col("effective_to").isNull ||
              col("o_orderdate") < col("effective_to")),
          "left")
        .groupBy(coalesce(col("segment"), lit("NO_VERSION")).as("segment"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("segment"))
    }),

    // Deterministic k-per-stratum sample (ext/Sampling.samplePerStratum):
    // the reproducible "reservoir" — 3 docs per language, identical
    // selection on any engine/run/layout. The md5 < '8' candidate
    // pre-filter (keeps ~1/2) bounds the per-stratum sort volume — the
    // 100 TB shape, exercised here so the oracle covers it.
    "lang_doc_sample" -> ((s, dir) =>
      graft.ext.Sampling.samplePerStratum(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("n_chars")),
          key = col("doc_id"), stratum = col("lang"), k = 3,
          hexPrefixBelow = Some("8"))
        .select(col("lang"), col("sample_rank"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("sample_rank"))),

    // Time-weighted average over IRREGULAR samples (TWAP / sensor
    // integral): each observation holds its value until the next one, so
    // the mean weighs values by holding duration (micros), not by sample
    // count — burst-sampling cannot bias it. One user-keyed window
    // (lead) + one aggregate; integer-micro weights keep the weighted
    // sum engine-exact up to the final division.
    "twap_by_user" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("__hold",
          unix_micros(lead(col("ts"), 1).over(w).cast("timestamp"))
            - unix_micros(col("ts").cast("timestamp")))
        .where(col("__hold").isNotNull) // last sample holds nothing
        .groupBy(col("user_id"))
        // cents × micros per row is exact int64 (≥10³ headroom); the
        // weighted sum accumulates in decimal(38,0) (int128-like,
        // mirroring DuckDB's native hugeint sum) so BOTH engines divide
        // the identical exact numerator — the float weighted sum was
        // the one order-dependent step left in this query
        .agg(count(lit(1)).as("n_intervals"),
          round((sum((expr("cast(round(value * 100) as bigint)")
              * col("__hold")).cast("decimal(38,0)")).cast("double") / 100.0)
            / sum(col("__hold")).cast("double"), 6)
            .as("twap"))
        .orderBy(col("user_id"))
    }),

    // Frame sampling (ext/Multimodal.sampleFrames): 64-byte windows,
    // every 2nd frame — the 1-item -> N-frames video shape with stubbed
    // decode; rolled up per kind (checksums are engine-portable byte
    // functions, so the fan-out itself is oracled).
    "frame_sample_stats" -> ((s, dir) =>
      graft.ext.Multimodal.sampleFrames(
          graft.ext.Multimodal.documentsAsMedia(t(s, dir, "documents")),
          frameSize = 64, everyNth = 2)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("frame_len")).as("total_frame_bytes"),
          sum(col("frame_checksum")).as("total_checksum"))
        .orderBy(col("kind"))),

    // Top-k per group WITHOUT a window sort: the bounded TopKByDouble
    // aggregate (functions/TopKAggregate) ships only O(groups x k)
    // tuples through the exchange — the window form shuffles every row.
    // Deterministic tie-break (value desc, id asc) makes it oracle-exact.
    "top3_orders_per_cust" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKAggregate.topKBy(
          col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"),
          posexplode_outer(col("top")).as(Seq("pos", "e")))
        .where(col("e").isNotNull)
        .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rank"),
          col("e.id").as("o_orderkey"), col("e.v").as("o_totalprice"))
        .orderBy(col("o_custkey"), col("rank"))),

    // Built-in control twin of top3_orders_per_cust (same oracle): the
    // window form shuffles + sorts EVERY order row to rank it, where the
    // aggregate above ships only O(groups × k) structs through the
    // exchange — the measured pair for the custom-aggregate claim
    // (like the skew twins, the comparison lives in BENCH_FULL).
    "top3_orders_per_cust_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rank"))
    }),

    // Per-group feature standardization + outlier census: z-scores of
    // order totals within each priority. Shape: partial-aggregated group
    // stats (5 rows) broadcast-joined back — NOT a window partitioned by
    // the 5-value priority, which would sort the whole fact table on 5
    // reducers (the low-cardinality-window straggler at 100 TB). The
    // stats pass re-scans the cheap base relation, not a derived
    // pipeline (the PlanShape join-back rule is about recomputation).
    "zscore_outliers" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val stats = orders.groupBy(col("o_orderpriority"))
        .agg(avg(col("o_totalprice")).as("__mu"),
          stddev_samp(col("o_totalprice")).as("__sd"))
      orders.join(broadcast(stats), Seq("o_orderpriority"))
        .withColumn("z", (col("o_totalprice") - col("__mu")) / col("__sd"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(abs(col("z")) > 2.5, 1L).otherwise(0L)).as("n_outliers"),
          round(max(col("z")), 4).as("max_z"))
        .orderBy(col("o_orderpriority"))
    }),

    // Salted JOIN twin (operators/Skew.saltedJoin): hot-key-immune
    // (key, salt) join, row-identical to the plain join the oracle runs.
    "salted_join_segments" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(t(s, dir, "events"), cust,
          "user_id", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          Money.sumMoneyExact("value").as("total_value"))
        .orderBy(col("c_mktsegment"))
    }),

    // The stats CATALOG exercised end-to-end in the oracle gate: events
    // and the customer dim persist once as VersionedTables with stats +
    // heavy-hitter sidecars (commitWithStats — the write-time-maintained
    // catalog), and the join plans via adaptiveVersionedJoin entirely
    // from stored stats: zero scans happen before the physical strategy
    // is chosen. Same oracle as the salted/adaptive twins — the catalog
    // can only change speed. First run per SF dir pays the one-time
    // table build (same persisted-asset pattern as the dedup indexes).
    "catalog_join_segments" -> ((s, dir) => {
      val root = IndexCatalog.statsRoot(dir)
      val evRoot = root + "/events"; val custRoot = root + "/customer"
      if (graft.sources.VersionedTable.versions(s, evRoot).isEmpty)
        graft.sources.VersionedStats.commitWithStats(
          t(s, dir, "events"), evRoot, Seq("user_id"),
          hhCols = Seq("user_id"))
      if (graft.sources.VersionedTable.versions(s, custRoot).isEmpty)
        graft.sources.VersionedStats.commitWithStats(
          t(s, dir, "customer")
            .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
          custRoot, Seq("user_id"))
      graft.sources.VersionedStats.adaptiveVersionedJoin(
          s, evRoot, custRoot, "user_id")._1
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          Money.sumMoneyExact("value").as("total_value"))
        .orderBy(col("c_mktsegment"))
    }),

    // Adaptive twin of salted_join_segments (operators/AdaptiveJoin):
    // on this UNIFORM key distribution with a broadcastable dimension,
    // the four-way rule must land on the broadcast arm — the measured
    // counter-witness that the planner does NOT salt when a cheaper
    // strategy exists (salting's dim replication is pure cost here).
    // Same oracle as the salted twin: strategy never changes the answer.
    "adaptive_join_segments" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.operators.AdaptiveJoin.adaptiveJoin(t(s, dir, "events"), cust,
          "user_id")._1
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          Money.sumMoneyExact("value").as("total_value"))
        .orderBy(col("c_mktsegment"))
    }),

    // Categorical drift report (ext/Drift): language mix of the
    // deterministic corpus split vs the batch split, with per-category
    // smoothed KL terms — the crawl-to-crawl dataset-shift alarm.
    "lang_drift_report" -> ((s, dir) => {
      val split = graft.ext.Sampling.deterministicSplit(
        t(s, dir, "documents"), col("doc_id"),
        Seq("corpus" -> 80, "batch" -> 20))
      graft.ext.Drift.categoricalDrift(
        split.where(col("split") === "corpus"),
        split.where(col("split") === "batch"), col("lang"))
    }),

    // CDC-style snapshot diff (operators/SnapshotDiff): two synthetic
    // versions of the customer dimension (disjoint key drops + an acctbal
    // bump on every 5th key) classified added/removed/changed row-wise.
    // One full-outer key join; output is delta-sized.
    "snapshot_diff" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val prev = cust.where(pmod(col("c_custkey"), lit(10)) =!= 3)
      val next = cust.where(pmod(col("c_custkey"), lit(7)) =!= 2)
        .withColumn("c_acctbal",
          when(pmod(col("c_custkey"), lit(5)) === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      graft.operators.SnapshotDiff
        .diff(prev, next, Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // Distribution window functions (percent_rank / cume_dist / ntile)
    // per priority partition — row-level, deterministic tie-break.
    // Scale note: 5 priority values = 5 window partitions, a straggler
    // shape at corpus scale — these EXACT distribution stats are the
    // oracle-able form; at 100 TB rank approximately against t-digest
    // quantiles (the equi_depth_hist_approx pattern).
    "order_price_ranks" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        ntile(10).over(w).cast("long").as("decile"))
        .orderBy(col("o_orderkey"))
    }),

    // Skew census (operators/Skew.keySkewReport): the 10 heaviest event
    // keys with share + cumulative share — the diagnostic that decides
    // whether the salted twins above are needed. Global window bounded
    // to the top-k rows by construction.
    "key_skew_report" -> ((s, dir) =>
      graft.operators.Skew.keySkewReport(t(s, dir, "events"), "user_id", 10)),

    // Last-touch conversion attribution (operators/Attribution): each
    // purchase credited to the user's most recent prior non-purchase
    // event — carry-forward window, no join, one user-keyed exchange.
    "attribution_last_touch" -> ((s, dir) =>
      graft.operators.Attribution.report(t(s, dir, "events"),
        "user_id", "ts", "event_type", convType = "purchase",
        valueCol = "value", tieCol = "event_id")),

    // Median/MAD robust outlier census (operators/Robust) — the
    // heavy-tail-safe twin of zscore_outliers above; exact order-stat
    // medians vs the DuckDB oracle.
    "mad_outliers" -> ((s, dir) =>
      graft.operators.Robust.madOutlierCensus(t(s, dir, "orders"),
        "o_orderpriority", "o_totalprice")),

    // The 100 TB path of the same census: approx_percentile (t-digest,
    // mergeable partial aggregation — bounded memory per group) instead
    // of exact order statistics. Hash-matched rank witness (see
    // Robust.madOutlierCensusApproxWitness): exact group counts plus the
    // two rank contracts the t-digest must earn. RobustSpec still bounds
    // the census's value-level divergence from the exact twin.
    "mad_outliers_approx" -> ((s, dir) =>
      graft.operators.Robust.madOutlierCensusApproxWitness(
        t(s, dir, "orders"), "o_orderpriority", "o_totalprice")),

    // Multi-touch attribution (operators/Attribution.multiTouchReport):
    // each purchase's credit split across its journey's touches — linear
    // (1/n each) and U-shaped position (40/20/40) models. One user-keyed
    // exchange carries both window passes (the journey window keys on a
    // superset of the partitioning); fractions/values are summed in exact
    // integer micros/cents.
    "attribution_linear" -> ((s, dir) =>
      graft.operators.Attribution.multiTouchReport(t(s, dir, "events"),
        "user_id", "ts", "event_type", convType = "purchase",
        valueCol = "value", tieCol = "event_id", model = "linear")),

    "attribution_position" -> ((s, dir) =>
      graft.operators.Attribution.multiTouchReport(t(s, dir, "events"),
        "user_id", "ts", "event_type", convType = "purchase",
        valueCol = "value", tieCol = "event_id", model = "position")),

    // Time-decay multi-touch model: stepped half-life (1 h) weights as
    // exact integers (1e6 >> whole-half-lives) — recency-weighted credit
    // that still hash-matches a DuckDB oracle bit-for-bit.
    "attribution_decay" -> ((s, dir) =>
      graft.operators.Attribution.timeDecayReport(t(s, dir, "events"),
        "user_id", "ts", "event_type", convType = "purchase",
        valueCol = "value", tieCol = "event_id", halfLifeSec = 3600L)),

    // k-anonymity census (privacy ops, the structural complement of
    // ext/Redaction's PII scrubbing): how re-identifiable is the table
    // under a quasi-identifier set? One group pass on the QI columns,
    // then a bounded histogram of group sizes below k plus the count of
    // at-risk rows — the release/suppress decision input.
    "k_anonymity_report" -> ((s, dir) => {
      val k = 5
      val groups = t(s, dir, "customer")
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      groups.agg(
          count(lit(1)).as("n_groups"),
          count(when(col("n") < k, 1)).as("n_small_groups"),
          coalesce(sum(when(col("n") < k, col("n"))), lit(0L))
            .as("n_rows_at_risk"),
          min(col("n")).as("min_group_size"))
        .withColumn("k", lit(k.toLong))
    }),

    // Markov transition matrix over user journeys: adjacent event-type
    // pairs per user (lag window on the same one user-keyed exchange) →
    // transition counts + per-source probabilities (exact long counts,
    // one deterministic double division).
    "event_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val totals = org.apache.spark.sql.expressions.Window
        .partitionBy(col("prev_type"))
      pairs
        .withColumn("p", round(col("n") / sum(col("n")).over(totals), 6))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Bigram counts — the n-gram LM base layer over the token stream:
    // adjacent token pairs within each document, global top 25.
    "top_bigrams" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents")
        .select(explode_outer(zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .where(col("bigram").isNotNull)
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(25)
    }),

    // Equi-depth histogram (feature binning): 10 equal-population buckets
    // over order totals with exact bounds and counts — ntile over a
    // totally-ordered sort (tie-break on key), so bucket membership is
    // deterministic in any engine. The global ntile is the EXACT,
    // oracle-able form and serializes the sort onto one reducer; at
    // corpus scale swap the bounds to approx_percentile (t-digest) and
    // assign buckets by range — same output schema, rows-only verified,
    // like the other sketch twins.
    "equi_depth_hist" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_totalprice"), col("o_orderkey"))
        .withColumn("bucket", ntile(10).over(w).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy(col("bucket"))
    }),

    // Count-Min point-frequency estimates (functions/CountMin): token
    // frequencies for a probe set chosen AFTER the scan, answered from
    // one mergeable fixed-size sketch — the any-key complement of the
    // Misra-Gries top-k sketch. Hash-matched witness (the tolerance-band
    // pattern): per probe token the EXACT count plus the two CMS
    // contracts the sketch must satisfy — never under-counts (structural:
    // every true occurrence increments every probed cell), and stays
    // within εN of truth for ε = e/width (holds per probe with prob
    // ≥ 1−e^-depth; evaluated deterministically here — seeded hashes,
    // canary-pinned corpus). The absent probes (la/el/und: exact 0)
    // exercise the interesting CMS case — collision-only estimates.
    "token_freq_cms" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.CountMinFunctions._
      val toks = t(s, dir, "documents")
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("token"))
        .where(col("token").isNotNull)
      val sketch = toks.agg(cmsSketch(col("token")).as("sk"),
        count(lit(1)).as("n_total"))
      val exact = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_count"))
      val probes = Seq("the", "of", "and", "la", "el", "und").toDF("token")
      val est = cmsEstimate(col("sk"), col("token"))
      probes.join(broadcast(exact), Seq("token"), "left")
        .na.fill(0L, Seq("exact_count"))
        .crossJoin(broadcast(sketch))
        .select(col("token"), col("exact_count"),
          (est >= col("exact_count")).as("cms_ge_exact"),
          (est <= col("exact_count") +
            ceil(lit(math.E / 2048.0) * col("n_total")).cast("long"))
            .as("cms_within_eps"))
        .orderBy(col("token"))
    }),

    // AGMS join-size estimation (functions/JoinSizeSketch): the events ⋈
    // customer output size estimated from one cheap sketch per side —
    // the broadcast-vs-shuffle planning decision WITHOUT running the
    // join. Median-of-means computed fully in-plan (zip_with product,
    // sliced group means, array_sort median). Hash-matched band witness:
    // the side counts and the EXACT join size are real oracle data; the
    // sketch must land within 2x of truth (256 counters, median of 8
    // means of 32 — measured 0.73-1.10x across SFs; JoinEstimateSpec
    // carries the formal variance bound). The 2x band also pins the
    // strategy: est <= 2·|A⋈B| = 2·rows_a <= 4·max(side) here, so the
    // decision rule reduces to the side-count comparison DuckDB applies.
    // The estimate is CONSULTED, not just printed: the same decision
    // rule operators/EstimatedJoin applies as a physical-plan hint
    // (broadcast small+clean, sort-merge otherwise) is emitted as the
    // `strategy` column, and EstimatedJoinSpec pins the chosen join
    // operator per fixture.
    "join_size_estimate" -> ((s, dir) => {
      import graft.functions.JoinSizeSketch.agmsSketch
      val ev = t(s, dir, "events")
      val cu = t(s, dir, "customer")
      val sa = ev
        .agg(agmsSketch(col("user_id"), 256).as("sa"),
          count(lit(1)).as("rows_a"))
      val sb = cu
        .agg(agmsSketch(col("c_custkey"), 256).as("sb"),
          count(lit(1)).as("rows_b"))
      val exact = ev.select(col("user_id"))
        .join(cu.select(col("c_custkey")),
          col("user_id") === col("c_custkey"))
        .agg(count(lit(1)).as("exact_join_rows"))
      val products = zip_with(col("sa"), col("sb"), (x, y) => x * y)
      val means = transform(sequence(lit(0), lit(7)), g =>
        aggregate(slice(products, g * 32 + 1, lit(32)), lit(0L), _ + _)
          .cast("double") / 32.0)
      val sorted = array_sort(means)
      val median = (element_at(sorted, 4) + element_at(sorted, 5)) / 2.0
      val est = greatest(round(median).cast("long"), lit(0L))
      // EstimatedJoin.decide's broadcast rule, in-plan: broadcast
      // the smaller side iff it fits AND the output does not explode
      val canBroadcast =
        least(col("rows_a"), col("rows_b")) <= lit(10000000L) &&
          est <= lit(4.0) * greatest(col("rows_a"), col("rows_b"), lit(1L))
      sa.crossJoin(sb).crossJoin(broadcast(exact))
        .select(col("rows_a"), col("rows_b"), col("exact_join_rows"),
          (est >= col("exact_join_rows") / lit(2L) &&
            est <= lit(2L) * col("exact_join_rows")).as("est_within_2x"),
          when(canBroadcast && col("rows_b") <= col("rows_a"),
              lit("broadcast_right"))
            .when(canBroadcast, lit("broadcast_left"))
            .when(est <= lit(0.1) * greatest(col("rows_a"), col("rows_b")),
              lit("bloom_merge"))
            .otherwise(lit("shuffle_merge")).as("strategy"))
    }),

    // CAPSTONE composition — the end-to-end training-data pipeline as
    // ONE lazy plan: Gopher-style quality gate → deterministic 90/10
    // train/eval split → exact-dedup within train (min-doc_id survivor
    // per fingerprint) → decontamination (drop train docs whose
    // fingerprint appears in eval) → temperature-T=2 mixture flattening
    // → per-language doc/token counts. Every stage is an
    // already-oracled operator; this verifies they COMPOSE (the run a
    // real corpus actually takes), hash-checked end to end.
    "training_pipeline_counts" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__fp")).orderBy(col("doc_id"))
      val kept = TextAnalysis.qualityFlags(t(s, dir, "documents"))
        .where(col("keep"))
        .select(col("doc_id"), col("lang"), col("text"))
      val split = graft.ext.Sampling.deterministicSplit(kept,
        col("doc_id"), Seq("train" -> 90, "eval" -> 10))
      val withFp = split.withColumn("__fp",
        md5(concat_ws(" ", TextAnalysis.tokens(col("text")))))
      val evalFps = withFp.where(col("split") === "eval")
        .select(col("__fp")).distinct()
      val survivors = withFp.where(col("split") === "train")
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
      val clean = survivors.join(evalFps, Seq("__fp"), "left_anti")
      graft.ext.Sampling.temperatureSample(clean, col("doc_id"), col("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("total_tokens"))
        .orderBy(col("lang"))
    }),

    // The corpus-scale twin the equi_depth_hist comment promises:
    // t-digest decile bounds (one mergeable aggregate, no global sort),
    // emitted as a TOLERANCE-BAND WITNESS the DuckDB oracle can hash-match
    // (VERDICT r09 #7 — graduated from rows-only): for each sketch decile
    // bound, the exact rank fraction of rows at or below it, rounded to
    // 2 dp. Sketch accuracy 10000 bounds the rank error at N/10000
    // (±1e-4), so every row must round to exactly i/10 — the oracle is
    // the constant decile grid, and any sketch/normalization regression
    // larger than half a percentile breaks the hash. The full histogram
    // remains the exact twin's (`equi_depth_hist`) job; ProfileSpec still
    // bounds the sketch-vs-exact bucket divergence at 2%.
    "equi_depth_hist_approx" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val bounds = orders.agg(approx_percentile(col("o_totalprice"),
        array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000))
        .as("bs"))
      orders.crossJoin(broadcast(bounds))
        .select(col("o_totalprice"),
          posexplode_outer(col("bs")).as(Seq("i", "b")))
        .where(col("b").isNotNull)
        .groupBy(col("i"))
        .agg(round(
          sum(when(col("o_totalprice") <= col("b"), 1L).otherwise(0L)) /
            count(lit(1)).cast("double"), 2).as("rank_frac"))
        .select((col("i") + 1).cast("long").as("bound_idx"),
          col("rank_frac"))
        .orderBy(col("bound_idx"))
    }),

    // Deterministic negative sampling (ext/Sampling): contrastive
    // training pairs with hash-picked negatives — bucket reps broadcast,
    // anchors explode ×k and map-side join; no randomness, so the oracle
    // reproduces every pair through the shared md5-bucket family.
    "contrastive_negatives" -> ((s, dir) =>
      graft.ext.Sampling.contrastiveNegatives(
          t(s, dir, "documents"), col("doc_id"), k = 3, buckets = 16)
        .orderBy(col("anchor_doc_id"), col("neg_rank"))),

    // One-pass column profiler (operators/Profile): every numeric
    // lineitem column's min/max/null_count/mean from ONE aggregation
    // scan, unpivoted to long form — never a job per column.
    "numeric_profile" -> ((s, dir) =>
      graft.operators.Profile.numericProfile(t(s, dir, "lineitem"))),

    // Trailing-window spike census: each event's value vs its user's
    // trailing-20-event average, flagged when it jumps 4× (|v·n − s| >
    // 3s ⇔ v > 4·mean or v < −2·mean) — the comparison is multiplied out
    // so it is ALL-integer (cents), immune to sliding-frame float
    // accumulation order differing between engines. Requires ≥10 prior
    // events so cold-start rows never score.
    "value_spike_census" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-20, -1)
      t(s, dir, "events")
        .withColumn("vc", round(col("value") * 100).cast("long"))
        .withColumn("s", sum(col("vc")).over(w))
        .withColumn("n", count(col("vc")).over(w))
        .groupBy(col("user_id"))
        .agg(count(when(col("n") >= 10, 1)).as("n_scored"),
          count(when(col("n") >= 10 &&
            abs(col("vc") * col("n") - col("s")) > col("s") * 3, 1))
            .as("n_spikes"))
        .orderBy(col("user_id"))
    }),

    // Weighted sample without replacement (A-ES, ext/Sampling): 50 docs
    // drawn ∝ document length. Rows-only: the -ln(u)/w score is exactly
    // reproducible within Spark but ln is not bit-standardized across
    // engines (SamplingSpec proves the weight-proportional property).
    "weighted_doc_sample" -> ((s, dir) =>
      graft.ext.Sampling.weightedSample(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              length(col("text")).cast("double").as("w")),
          col("doc_id"), col("w"), k = 50)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Temperature (α=1/2) mixture sampling (ext/Sampling.temperatureSample):
    // per-language kept counts + ppm thresholds — the training-mix
    // flattening pass; T=2 rates are sqrt (IEEE-exact on any engine).
    "temperature_mixture" -> ((s, dir) =>
      graft.ext.Sampling.temperatureSample(t(s, dir, "documents"),
          col("doc_id"), col("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), max(col("keep_ppm")).as("keep_ppm"))
        .orderBy(col("lang"))),

    // Vocabulary growth curve (Heaps'-law sizing): distinct tokens per
    // doc-id prefix, from ONE scan (token → first doc, then cumulative
    // counts over the grid — never a distinct-agg per point).
    "vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(t(s, dir, "documents"),
        Seq(100L, 200L, 300L, 400L, 500L))),

    // PMI collocations (Church & Hanks): top-20 bigram associations,
    // rare pairs (< 5 occurrences) excluded, rank on the rounded PMI.
    "collocations_pmi" -> ((s, dir) =>
      TextAnalysis.collocationsPmi(t(s, dir, "documents"))),

    // Distributed BPE vocabulary learning (ext/Bpe, Sennrich 2016): 8
    // merge rounds over the word-TYPE table (vocabulary-sized after one
    // corpus scan). The separator-encoded literal-replace merge makes
    // the whole learner bit-reproducible in SQL — the oracle replays
    // all 8 rounds as chained CTEs and must land on the SAME rules.
    "bpe_merges" -> ((s, dir) =>
      graft.ext.Bpe.mergesFrame(t(s, dir, "documents"), rounds = 8)
        .orderBy(col("round"))),

    // The learned vocabulary applied back to the corpus: per-language
    // token counts, total subword symbols, and fertility — each word
    // TYPE segmented once, occurrences broadcast-joined against it.
    "bpe_segmentation_stats" -> ((s, dir) =>
      // fused learn+stats: ONE word-type scan feeds the 8-round learner
      // AND the type segmentation (the separate-call form paid the
      // corpus tokenize + type aggregation twice); identical results
      graft.ext.Bpe.learnAndSegmentationStats(
        t(s, dir, "documents"), rounds = 8)),

    // Persisted lexical decontamination screen (ext/LexicalIndex — the
    // fifth index family): eval set = docs 0-9 indexed once as a
    // VersionedTable, batch = docs 0-29 screened with their 16 rarest
    // index terms. EXACT oracle end to end (DuckDB reruns the identical
    // BM25 chain). Every eval doc re-sent in the batch retrieves ITSELF
    // as best match (asserted in LexicalIndexSpec); discrimination
    // against clean docs is corpus-dependent — this shared-vocabulary
    // synthetic corpus is the honest worst case (clean docs genuinely
    // share most terms; the spec shows separation on disjoint-vocab
    // docs) — so the gate here verifies machinery, not a magic cutoff.
    "lexical_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = IndexCatalog.ensureLex(s, dir)
      graft.ext.LexicalIndex.screen(s, docs.where(col("doc_id") < 30),
          root, threshold = 6.0)
        .orderBy(col("doc_id"))
    }),

    // BM25 full-text retrieval (ext/Retrieval — Robertson/Lucene variant):
    // the corpus index statistics first — exact integers + the avgdl the
    // scoring divides by.
    "bm25_corpus_stats" -> ((s, dir) =>
      Retrieval.bm25CorpusStats(t(s, dir, "documents"))),

    // Per-(query, doc) BM25 scores for a fixed 3-query set (one query has
    // an out-of-vocabulary term — it must simply contribute nothing, not
    // null the score), restricted to doc_id < 25 for the output ONLY:
    // df/dl/avgdl are corpus-wide statistics and must be computed before
    // any output filter. Exact vs DuckDB's reimplementation of the same
    // closed form (same literal params, same op order, round 6).
    "bm25_scores_sample" -> ((s, dir) =>
      Retrieval.bm25Scores(t(s, dir, "documents"), bm25Queries(s))
        .where(col("doc_id") < 25)
        .orderBy(col("query_id"), col("doc_id"))),

    // Top-5 docs per query via the bounded TopKByDouble aggregate (only
    // queries × k tuples cross the final exchange — no window sort over
    // every matching document). Rank ties break (score desc, doc_id asc)
    // on the ROUNDED score in both engines.
    "bm25_top_docs" -> ((s, dir) =>
      Retrieval.bm25TopK(t(s, dir, "documents"), bm25Queries(s), k = 5)
        .orderBy(col("query_id"), col("rank"))),

    // DSIR importance resampling (ext/ImportanceSampling, Xie et al.
    // 2023): hashed unigram+bigram models (64 buckets, add-1), target =
    // source 'src0', weights for the first 25 docs — the exact
    // log-ratio closed form, oracled end to end.
    "dsir_weights" -> ((s, dir) =>
      ImportanceSampling.importanceWeights(t(s, dir, "documents"),
          col("source") === "src0", dim = 64)
        .where(col("doc_id") < 25)
        .orderBy(col("doc_id"))),

    // The mixture-shift report over the top-20% selection: per source,
    // corpus count vs selected count — the diagnostic showing the
    // resampling tilts the mix toward the target domain. Selection
    // ranks (rounded weight desc, doc_id) via the DISTRIBUTED global
    // row number (range chunks + bounded offsets), no single-partition
    // window anywhere in the plan.
    "dsir_mixture_shift" -> ((s, dir) =>
      ImportanceSampling.mixtureShift(t(s, dir, "documents"),
        col("source") === "src0", frac = 0.2, dim = 64)),

    // Distributed Lloyd k-means (ext/Clustering): k=4, 3 rounds from the
    // deterministic lowest-vec_id init, centroids rounded 6 dp per
    // round. EXACT oracle — DuckDB replays the identical fit round by
    // round (the BPE discipline applied to Lloyd).
    "kmeans_centroids" -> ((s, dir) =>
      graft.ext.Clustering.centroidsFrame(t(s, dir, "embeddings"),
          k = 4, rounds = 3)
        .orderBy(col("cluster"), col("dim"))),

    // Per-vector assignment under the same fit (first 60 ids) + the
    // per-cluster size/inertia diagnostics (the elbow numbers).
    "kmeans_assignments" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cent = graft.ext.Clustering.lloydFit(emb, k = 4, rounds = 3)
      graft.ext.Clustering.assignments(emb, cent)
        .where(col("vec_id") < 60)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy(col("vec_id"))
    }),
    "kmeans_cluster_stats" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cent = graft.ext.Clustering.lloydFit(emb, k = 4, rounds = 3)
      graft.ext.Clustering.clusterStats(emb, cent)
        .select(col("cluster").cast("long").as("cluster"), col("n"),
          col("inertia"))
    }),

    // Simplified (centroid-based) silhouette over the same fit — the
    // O(n·k) cluster-quality diagnostic, per-cluster mean.
    "kmeans_silhouette" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cent = graft.ext.Clustering.lloydFit(emb, k = 4, rounds = 3)
      graft.ext.Clustering.silhouette(emb, cent)
        .select(col("cluster").cast("long").as("cluster"), col("n"),
          col("silhouette"))
    }),

    // Elbow curve: total inertia at k ∈ {2,4,8}, three independent fits
    // — the k-picking diagnostic, each fit exactly replayed by DuckDB.
    "kmeans_elbow" -> ((s, dir) =>
      graft.ext.Clustering.elbowFrame(t(s, dir, "embeddings"),
        Seq(2, 4, 8), rounds = 3).orderBy(col("k"))),

    // Per-user EWMA (operators/Ewma, α=1/2): a sequential recurrence no
    // algebraic aggregate expresses — each user's (ts, event_id)-ordered
    // value sequence folded in one codegen'd pass, in EXACT integer
    // micro-space (quantize once, floor-halve each step — no rounding
    // boundary anywhere). EXACT oracle: DuckDB replays the recurrence
    // step by step as a recursive CTE (the Lloyd/BPE round-replay
    // discipline applied to a per-row fold).
    "user_value_ewma" -> ((s, dir) =>
      graft.operators.Ewma.perEntity(t(s, dir, "events"),
        "user_id", "ts", "event_id", "value")),

    // Triangle count + global clustering coefficient (ext/Triangles,
    // degree-orientation — Suri & Vassilvitskii) over the supplier
    // co-supply graph: suppliers sharing >= 5 orders. All-integer until
    // the final rounded ratio; the wedge fan-out is bounded by ORIENTED
    // out-degree, so the hub supplier never squares its raw degree.
    "supplier_triangles" -> ((s, dir) => {
      val sp = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk"))
        .distinct()
      val co = sp.select(col("o"), col("sk").as("src"))
        .join(sp.select(col("o"), col("sk").as("dst")), "o")
        .where(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .where(col("w") >= 5)
      graft.ext.Triangles.triangleStats(co.select(col("src"), col("dst")))
    }),

    // Per-entity OLS trend (operators/Trend): slope/intercept of value
    // against sequence position, all sums in EXACT decimal integer
    // space (x = small sequence index, y quantized once to micros) —
    // summation order cannot matter; only the final divisions are
    // floats, literal-op-order-mirrored in the oracle.
    "user_value_trend" -> ((s, dir) =>
      graft.operators.Trend.perEntity(t(s, dir, "events"),
        "user_id", "ts", "event_id", "value")),

    // Content-defined chunking (ext/Chunking.chunkContentDefined): the
    // rolling-hash boundary discipline; exact chunk rows for a doc
    // sample. Dual formulation vs the oracle (Spark: in-array
    // filter/slice; DuckDB: row-wise flags + windowed cumsum) — both
    // must land on identical chunk ids, sizes, and md5 identities.
    "cdc_chunks" -> ((s, dir) =>
      graft.ext.Chunking.chunkContentDefined(
          t(s, dir, "documents").where(col("doc_id") < 20),
          "text", Seq("doc_id"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // The property CDC exists for, measured: prepend one token to EVERY
    // document and count surviving chunk identities. Fixed-size
    // chunking loses every chunk to the offset shift; CDC boundaries
    // re-synchronize at the first content boundary (ChunkingSpec pins
    // the fixed-vs-CDC comparison; the floor here is earned in-plan).
    "cdc_stability" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pert = docs.withColumn("text", concat(lit("zz9 "), col("text")))
      val o = graft.ext.Chunking.chunkContentDefined(docs, "text",
        Seq("doc_id")).select(col("doc_id"), col("chunk_hash")).distinct()
      val p = graft.ext.Chunking.chunkContentDefined(pert, "text",
        Seq("doc_id")).select(col("doc_id"), col("chunk_hash")).distinct()
      val shared = o.join(p, Seq("doc_id", "chunk_hash"))
        .agg(count(lit(1)).as("n_shared"))
      o.agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"))
        .crossJoin(broadcast(shared))
        .withColumn("shared_ratio",
          round(col("n_shared").cast("double") / col("n_chunks"), 6))
        .select(col("n_docs"), col("n_chunks"), col("n_shared"),
          col("shared_ratio"),
          (col("shared_ratio") >= 0.5).as("resync_ge_050"))
    }),

    // Phrase-blocklist screen (ext/Blocklist — the content-policy stage):
    // consecutive-token phrase matches via ONE bounded-window corpus
    // pass + anchor-token candidate join, never scan × |blocklist|.
    // Two hot phrases, one trigram, one OOV (the zero path) — mirrored
    // literally in the oracle's VALUES.
    "blocklist_screen" -> ((s, dir) => {
      import s.implicits._
      val phrases = Seq((0L, "table hash"), (1L, "customer join"),
        (2L, "stream table hash"), (3L, "quux forbidden phrase"))
        .toDF("phrase_id", "phrase")
      graft.ext.Blocklist.screenReport(t(s, dir, "documents"), phrases)
    }),

    // Per-node local clustering (Watts-Strogatz ego-net density) over
    // the same co-supply graph: triangles credit their three corners,
    // coeff = 2·t/(deg·(deg−1)). Output bounded to node < 25 AFTER the
    // graph-wide computation.
    "supplier_local_clustering" -> ((s, dir) => {
      val sp = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk"))
        .distinct()
      val co = sp.select(col("o"), col("sk").as("src"))
        .join(sp.select(col("o"), col("sk").as("dst")), "o")
        .where(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .where(col("w") >= 5)
      graft.ext.Triangles.localClustering(
          co.select(col("src"), col("dst")))
        .where(col("node") < 25)
        .orderBy(col("node"))
    }),

    // Equi-depth order-price histogram (operators/Histogram): 10 buckets
    // of near-equal row count via the DISTRIBUTED exact global rank —
    // never ntile's single-partition window. Boundaries are order
    // statistics: engine-exact, no rounding discipline needed.
    "price_equidepth_hist" -> ((s, dir) =>
      graft.operators.Histogram.equiDepth(t(s, dir, "orders"),
        "o_totalprice", "o_orderkey", k = 10)),

    // Hybrid retrieval: BM25 top-10 ∪ exact hashed-dense top-10 fused by
    // reciprocal-rank fusion (ext/Retrieval.rrfFuse — RRF needs no score
    // calibration between retrievers). Both branches are top-k-bounded
    // aggregates; the dense dot products are LONG-space exact; the
    // fusion frame is ≤ 20 rows/query. Oracled end to end: DuckDB
    // reruns BM25, the signed-hash dot products, both rank windows, and
    // the fusion arithmetic.
    "hybrid_rrf_top_docs" -> ((s, dir) =>
      // one corpus tokenize for BOTH retriever legs (r17, guide §2.4):
      // Retrieval.hybridRrfTopDocs shares the postings checkpoint
      // between BM25 and the hashed dense ranks — bit-identical to the
      // former bm25TopK + hashedDenseTopK composition, minus the
      // second tokenize+group pass
      Retrieval.hybridRrfTopDocs(t(s, dir, "documents"), bm25Queries(s),
          k = 10)
        .orderBy(col("query_id"), col("fused_rank")))
  )

  /** Fixed BM25 query set: in-vocabulary multi-term, high-df mixed, and a
    * query carrying an out-of-vocabulary term ('quux' appears nowhere).
    * Mirrored literally in the ExtOracleB VALUES clause. */
  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, "spark window agg"), (1L, "customer order join fast"),
      (2L, "vector stream quux")).toDF("query_id", "query_text")
  }
}
