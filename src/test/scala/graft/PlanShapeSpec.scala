package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}
import graft.operators.RangeJoin

/** Plan-shape regression guards: the scale properties VERDICT/BASELINE
  * establish (single corpus scan, no nested-loop joins, pushdown reaching
  * the parquet reader) asserted mechanically, so a refactor that silently
  * reintroduces a self-join or a BroadcastNestedLoopJoin fails CI instead
  * of only showing up as a 10x bench regression.
  *
  * Assertions read the FORMATTED physical plan string — the same artifact
  * a human audit reads (`graft.Probe explain`).
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  private def scanCount(p: String): Int =
    "\\(\\d+\\) Scan parquet".r.findAllIn(p).toSeq.distinct.size

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("near-dup pair generation scans the corpus exactly once") {
    // bucket-collect pair-gen: a self-join regression would show two scans
    // (Spark does not reuse the exchange across aliased branches)
    for ((name, df) <- Seq(
      "jaccard" -> Dedup.jaccardPairs(docs, 5, 0.8),
      "minhash" -> Dedup.minhashPairs(docs, 5, bands = 16),
      "simhash" -> Dedup.simhashPairs(docs),
      "winnowing" -> Dedup.winnowingPairs(docs),
      "contamination" -> Dedup.contaminationPairs(docs, 5,
        Seq("train" -> 80, "val" -> 10, "test" -> 10)))) {
      val p = plan(df)
      assert(scanCount(p) === 1, s"$name should scan the corpus once:\n$p")
      assert(!p.contains("NestedLoop"), s"$name has a nested-loop join")
    }
  }

  test("range join is a bucketed hash join, never a nested loop") {
    val points = (0L to 50L).map(i => (i, i.toDouble)).toDF("pid", "p")
    val ivs = Seq((1L, 0.0, 10.0), (2L, 30.0, 44.0)).toDF("iid", "lo", "hi")
    val p = plan(RangeJoin.pointInInterval(points, "p", ivs, "lo", "hi", 10L))
    assert(!p.contains("NestedLoop"), s"range join degraded to nested loop:\n$p")
  }

  test("filter + projection push down to the parquet scan") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_totalprice") > 100000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), " +
      "GreaterThan(o_totalprice,100000.0)]"), s"filter not pushed:\n$p")
    // pruned read schema: only the two selected columns reach the reader
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"columns not pruned:\n$p")
  }

  test("chunking is a shuffle-free projection (no Exchange below the explode)") {
    val p = plan(graft.ext.Chunking.chunkByTokens(docs, "text",
      Seq("doc_id"), chunkSize = 32, stride = 24))
    assert(!p.contains("Exchange"), s"chunking should not shuffle:\n$p")
    assert(p.contains("Generate"), s"chunking should explode chunk ids:\n$p")
  }

  test("bloom-pruned join filters the fact side below the join") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = plan(graft.operators.BloomJoin.prunedInnerJoin(
      li, "l_orderkey", orders, "o_orderkey", expectedItems = 10000L))
    assert(p.contains("might_contain"), s"bloom filter missing:\n$p")
    assert(!p.contains("NestedLoop"), s"bloom join degraded:\n$p")
    // the prune is a Filter on the scan side, not a post-join predicate:
    // might_contain must appear before the first join operator in plan order
    val joinAt = p.indexOf("Join")
    val mightAt = p.indexOf("might_contain")
    assert(joinAt >= 0 && mightAt >= 0)
  }

  test("SCD2 point-in-time join keeps its equi key (no nested loop)") {
    val p = plan(SparkEntry.queries("scd2_pit_join")(spark, sf))
    assert(!p.contains("NestedLoop"),
      s"PIT join lost its equi key and degraded to a nested loop:\n$p")
  }

  test("ANN paths: corpus scans once; brute-force broadcasts the probe side") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = emb.where(col("vec_id") < 5)
    val bf = plan(Similarity.knnBruteForce(emb, probes, k = 3))
    assert(bf.contains("BroadcastExchange"),
      s"brute-force kNN should broadcast probes:\n$bf")
    val lsh = plan(Similarity.knnLsh(emb, probes, k = 3))
    assert(!lsh.contains("NestedLoop"), s"LSH kNN has a nested loop:\n$lsh")
  }

  test("LSH near-dup: one mask plans no generator, multi-probe explodes") {
    val gen = "\\(\\d+\\) Generate".r
    val single = plan(SparkEntry.queries("neardup_cosine_lsh")(spark, sf))
    assert(gen.findFirstIn(single).isEmpty,
      s"neardup_cosine_lsh gained a probe-mask generator:\n$single")
    val multi = plan(SparkEntry.queries("neardup_multiprobe")(spark, sf))
    assert(gen.findFirstIn(multi).isDefined,
      s"neardup_multiprobe lost its probe-mask generator:\n$multi")
  }

  test("the rounded cosine is spelled only in Similarity") {
    // (no Spark work: a scan of the main sources)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val stream = java.nio.file.Files.walk(root)
    val offenders =
      try stream.iterator().asScala.toList
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "Similarity.scala")
        .filter(p => java.nio.file.Files.readString(p).contains("pairCosine("))
        .map(p => root.relativize(p).toString)
      finally stream.close()
    assert(offenders.isEmpty)
  }

  test("round-5 queries keep their audited shapes") {
    // temperature mixture: the only data-side join is a broadcast of the
    // stratum thresholds — a regression to a shuffle join would move the
    // whole corpus
    val tm = plan(SparkEntry.queries("temperature_mixture")(spark, sf))
    assert(tm.contains("BroadcastHashJoin"),
      s"temperature_mixture lost its broadcast join-back:\n$tm")
    assert(!tm.contains("SortMergeJoin"),
      s"temperature_mixture shuffles the corpus for its thresholds:\n$tm")
    // weighted A-ES sample: top-k must stay a distributed TakeOrdered,
    // never a global sort
    val ws = plan(SparkEntry.queries("weighted_doc_sample")(spark, sf))
    assert(ws.contains("TakeOrderedAndProject"),
      s"weighted sample degraded from TakeOrdered:\n$ws")
    // profiler: one aggregation pass — a per-column loop would show
    // multiple scans
    val np = plan(SparkEntry.queries("numeric_profile")(spark, sf))
    assert(scanCount(np) === 1, s"profiler must scan once:\n$np")
  }

  test("round-6 queries keep their audited shapes") {
    // incremental KPI refresh: every dim/affected-group join must stay
    // broadcast — a SortMergeJoin anywhere means either the part dim or
    // the (small by definition) affected-group set started shuffling
    // the fact side; the diff's full-outer join is the only intended
    // fact-sized exchange
    val ik = plan(SparkEntry.queries("incremental_kpis")(spark, sf))
    assert(ik.contains("BroadcastHashJoin"),
      s"incremental_kpis lost its broadcast joins:\n$ik")
    assert(!ik.contains("SortMergeJoin"),
      s"incremental_kpis shuffles a join that must broadcast:\n$ik")
    assert(!ik.contains("BroadcastNestedLoopJoin"),
      s"incremental_kpis degraded to a nested loop:\n$ik")
    val ih = plan(SparkEntry.queries("incremental_kpis_hourly")(spark, sf))
    assert(!ih.contains("SortMergeJoin") &&
      !ih.contains("BroadcastNestedLoopJoin"),
      s"incremental_kpis_hourly join shape regressed:\n$ih")
  }

  test("hourly_concurrency has no unpartitioned data-growing window") {
    // round-7 fix: the sweep is a two-pass scan — any window with an empty
    // partition spec must sit above the bucket-total aggregate (<= nBuckets
    // rows), never over the raw endpoint stream
    val df = SparkEntry.queries("hourly_concurrency")(spark, sf)
    val wins = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty, "sweep should contain window nodes")
    val global = wins.filter(_.partitionSpec.isEmpty)
    global.foreach { w =>
      val bounded = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty
      assert(bounded,
        s"unpartitioned window over non-aggregated (data-sized) input:\n$w")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "per-bucket running sum lost its partitioned window")
  }

  test("adaptive joins land the decision their fixtures were built for") {
    // the skewed fixture must drive the SALTED arm: the physical join
    // keys carry the salt column next to skey (a plain skey-only join
    // means the planner stopped seeing the hot key)
    val sj = plan(SparkEntry.queries("skew_join_adaptive")(spark, sf))
    assert(sj.contains("__salt"),
      s"skew_join_adaptive lost its salted arm:\n${sj.take(800)}")
    assert(!sj.contains("BroadcastNestedLoopJoin"))
    // the uniform events x customer join must broadcast the dim — the
    // counter-witness that the planner does not salt without a hot key
    val aj = plan(SparkEntry.queries("adaptive_join_segments")(spark, sf))
    assert(aj.contains("BroadcastHashJoin"),
      s"adaptive_join_segments lost its broadcast arm:\n${aj.take(800)}")
    assert(!aj.contains("__salt"),
      s"adaptive_join_segments salted a uniform join:\n${aj.take(800)}")
  }

  test("unpartitioned windows appear only above bounded aggregates") {
    // Funnel / hourlyConcurrency / tokenBalancedAssign run global prefix
    // sums over provably bounded frames (stage count / bucket totals /
    // 16^hexChars rows). A constant partitionBy(lit(0)) does NOT survive
    // Spark 4's optimizer (the foldable key is eliminated and the spec
    // reads empty again), so the invariant is pinned the way
    // hourly_concurrency's pin does it: every empty-partition WindowExec
    // must sit above an aggregate, never over data-sized input. The
    // benign move-to-single-partition WARN these emit is filtered
    // bench-locally in Bench.main.
    for ((name, df) <- Seq(
      "conversion_funnel" -> SparkEntry.queries("conversion_funnel")(spark, sf),
      "token_balanced_shards" -> SparkEntry.queries("token_balanced_shards")(spark, sf))) {
      val bare = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w }
      bare.foreach { w =>
        val bounded = w.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.nonEmpty
        assert(bounded,
          s"$name: unpartitioned window over non-aggregated input:\n$w")
      }
    }
  }

  test("unigram perplexity: corpus exchange reused at runtime, no rescans") {
    // dt feeds the vocabulary aggregate, the totals, and the score join.
    // The shared (doc_id, tok) exchange is unified by ReuseExchange at
    // EXECUTION time (the static explain still prints three scan
    // branches), so the pin reads the executed plan: every duplicate
    // branch must resolve to a ReusedExchange/reused stage, leaving
    // exactly one live parquet scan of the corpus.
    val df = graft.ext.TextAnalysis.unigramPerplexity(docs)
    df.queryExecution.toRdd.count()
    val ep = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(ep).size
    val reused = "ReusedExchange|ReusedQueryStage|reused".r
      .findAllIn(ep).nonEmpty
    assert(scans <= 1 || reused,
      s"perplexity re-scans the corpus ($scans scans, no reuse):\n" +
        ep.take(2000))
    // NB: the one BroadcastNestedLoopJoin(Cross) in this plan is the
    // (T, V) one-row broadcast scalar riding the score projection — the
    // same accepted bounded-cross pattern as tfIdf's corpus count — so no
    // blanket NestedLoop assertion here; the data-sized joins above it
    // must still hash.
    assert(ep.contains("BroadcastHashJoin") || ep.contains("SortMergeJoin"),
      s"perplexity's score join lost its hash strategy:\n${ep.take(2000)}")
  }

  test("tpch q1: shipdate filter reaches the parquet scan") {
    val p = plan(SparkEntry.queries("tpch_q1_pricing_summary")(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"Q1's shipdate predicate should push to the scan:\n${p.take(1200)}")
    assert(!p.contains("NestedLoop"))
  }

  test("tpch q3: planner (not a hint) broadcasts the filtered customer dim") {
    // The query carries NO broadcast() hint (TpchCanon drops it on purpose):
    // the single-column segment-filtered customer frame is small enough that
    // the size estimate / AQE must pick BroadcastHashJoin unaided. This pin
    // is the witness that the planner makes the right call — a hint would
    // only prove we told it to.
    val p = plan(SparkEntry.queries("tpch_q3_shipping_priority")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"Q3's planner-chosen broadcast dim join disappeared:\n${p.take(1200)}")
    assert(!p.contains("NestedLoop"))
  }

  test("tpch q5: snowflake joins hash, nation/region broadcast, date pushed") {
    val p = plan(SparkEntry.queries("tpch_q5_local_supplier")(spark, sf))
    assert(!p.contains("NestedLoop"), s"Q5 degraded to nested loop:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      s"Q5 lost the broadcast dim joins:\n${p.take(1200)}")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"Q5's date predicate should push to the orders scan:\n${p.take(1200)}")
  }

  test("tpch q17: correlated scalar-avg decorrelates to aggregate + join") {
    // The inner per-partkey avg must run ONCE as a grouped aggregate joined
    // back on l_partkey — a per-row nested-loop re-execution of the inner
    // query is the silent scale-killer this pin exists to catch.
    val df = SparkEntry.queries("tpch_q17_small_qty_revenue")(spark, sf)
    val p = plan(df)
    assert(!p.contains("NestedLoop"),
      s"Q17's correlated subquery fell back to a nested loop:\n${p.take(1500)}")
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.exists(_.toString.contains("l_partkey")) => a
    }
    assert(aggs.nonEmpty,
      s"Q17 should contain a per-partkey aggregate (the decorrelated avg):\n${p.take(1500)}")
  }

  test("tpch q20: nested semi chain decorrelates, correlated sum is grouped") {
    val df = SparkEntry.queries("tpch_q20_part_promotion")(spark, sf)
    val p = plan(df)
    assert(!p.contains("NestedLoop"),
      s"Q20's correlation fell back to a nested loop:\n${p.take(1500)}")
    assert(p.contains("LeftSemi"),
      s"Q20's IN chain should plan as semi joins:\n${p.take(1500)}")
    // The date-windowed correlated sum decorrelates to ONE aggregate
    // grouped by BOTH correlation keys, joined back — not re-run per row.
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.exists(_.toString.contains("l_partkey")) &&
           a.groupingExpressions.exists(_.toString.contains("l_suppkey")) => a
    }
    assert(aggs.nonEmpty,
      s"Q20's correlated sum should be a (partkey, suppkey)-grouped aggregate:\n${p.take(1500)}")
  }

  test("tpch q21: exists/not-exists become semi + anti hash joins") {
    // Equality correlation on l_orderkey with an l_suppkey <> inequality
    // rider: the hash join carries the inequality as a residual condition.
    // A planner that only decorrelates pure-equality predicates nested-loops
    // here — over the biggest table in the schema.
    val df = SparkEntry.queries("tpch_q21_waiting_supplier")(spark, sf)
    val p = plan(df)
    assert(!p.contains("NestedLoop"),
      s"Q21's double correlation fell back to a nested loop:\n${p.take(1500)}")
    assert(p.contains("LeftSemi"),
      s"Q21 lost its EXISTS semi join:\n${p.take(1500)}")
    assert(p.contains("LeftAnti"),
      s"Q21 lost its NOT EXISTS anti join:\n${p.take(1500)}")
  }

  test("tpch q2: correlated min-over-join decorrelates to a grouped aggregate") {
    val df = SparkEntry.queries("tpch_q2_min_cost_supplier")(spark, sf)
    val p = plan(df)
    assert(!p.contains("NestedLoop"),
      s"Q2's correlated min fell back to a nested loop:\n${p.take(1500)}")
    // the decorrelated inner: a min aggregate grouped on the correlation
    // key (l_partkey), fed by the region-filtered join
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.size == 1 &&
           a.groupingExpressions.exists(_.toString.contains("partkey")) &&
           a.aggregateExpressions.exists(_.toString.contains("min")) => a
    }
    assert(aggs.nonEmpty,
      s"Q2 should contain the decorrelated per-partkey min:\n${p.take(1500)}")
  }

  test("tpch q15: max-over-window form scans lineitem once, window is bounded") {
    // The spec's CTE + scalar-MAX would scan lineitem twice (the scalar
    // subquery plans independently — verified in round 10); the registered
    // window form must keep ONE scan, with its only unpartitioned window
    // sitting above the supplier-bounded aggregate.
    val df = SparkEntry.queries("tpch_q15_top_supplier")(spark, sf)
    val p = plan(df)
    assert(scanCount(p) === 2, // lineitem + supplier
      s"Q15 should scan lineitem and supplier exactly once each:\n${p.take(1500)}")
    assert(!p.contains("NestedLoop"))
    val bare = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w }
    bare.foreach { w =>
      val bounded = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty
      assert(bounded, s"Q15's max window must sit above the aggregate:\n$w")
    }
  }

  test("tpch q18: having-filter is a semi join, never a full-table window") {
    val df = SparkEntry.queries("tpch_q18_large_customers")(spark, sf)
    val wins = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.isEmpty,
      "Q18 must filter big orders via aggregate + semi join, not a window")
    val p = plan(df)
    assert(p.contains("LeftSemi"), s"Q18 lost its semi join:\n${p.take(1200)}")
  }

  test("tpch q4: EXISTS decorrelates to a semi join on the pushed flag scan") {
    val p = plan(SparkEntry.queries("tpch_q4_priority_check")(spark, sf))
    assert(p.contains("LeftSemi"),
      s"Q4's EXISTS should plan as a semi join:\n${p.take(1500)}")
    assert(!p.contains("NestedLoop"),
      s"Q4's correlation fell back to a nested loop:\n${p.take(1500)}")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"Q4's flag predicate should push to the lineitem scan:\n${p.take(1500)}")
  }

  test("tpch q6: every predicate reaches the scan; no join anywhere") {
    val df = SparkEntry.queries("tpch_q6_forecast_revenue")(spark, sf)
    val p = plan(df)
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(p.contains(s"IsNotNull($c)") || p.contains(c),
        s"Q6's $c predicate vanished from the scan:\n${p.take(1200)}")
    assert(p.contains("PushedFilters: [IsNotNull"),
      s"Q6's predicates should push to the parquet reader:\n${p.take(1200)}")
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.isEmpty, s"Q6 must be a pure scan + aggregate:\n${p.take(1200)}")
  }

  test("tpch q11: threshold rides a broadcast scalar; fact scanned once") {
    // The grouped-values branch feeds both the row side and the one-row
    // threshold aggregate; ReuseExchange must unify the duplicate branch
    // (statically or as an AQE reused stage) so lineitem is scanned once —
    // the spec's scalar-subquery form scans it twice (see TpchCanon2 doc).
    // sf0.01, not sf0.001: the smallest SF has no NATION_5 supplier, AQE
    // empty-propagates the whole plan and there is no exchange to reuse.
    val df = SparkEntry.queries("tpch_q11_important_stock")(
      spark, "/root/testdata/sf0.01")
    df.queryExecution.toRdd.count()
    val ep = df.queryExecution.executedPlan.toString
    val liScans = "lineitem".r.findAllIn(ep).size
    val reused = "ReusedExchange|ReusedQueryStage|reused".r
      .findAllIn(ep).nonEmpty
    assert(liScans <= 1 || reused,
      s"Q11 re-scans the fact ($liScans lineitem refs, no reuse):\n" +
        ep.take(2000))
    // the one cross join is the accepted one-row broadcast scalar
    assert(!plan(df).contains("CartesianProduct"),
      "Q11's threshold join must broadcast, never a cartesian shuffle")
  }

  test("tpch q16: NOT IN plans as an anti hash join, never a nested loop") {
    val p = plan(SparkEntry.queries("tpch_q16_supplier_relation")(spark, sf))
    assert(p.contains("LeftAnti"),
      s"Q16's NOT IN should plan as an anti join:\n${p.take(1500)}")
    assert(!p.contains("NestedLoop"),
      s"Q16's NOT IN fell back to a nested loop:\n${p.take(1500)}")
    assert(p.contains("In(p_size"),
      s"Q16's size-set predicate should push to the part scan:\n${p.take(1500)}")
  }

  test("tpch q19: factored disjunction hash-joins with per-side pushed bounds") {
    // The registered form factors the common equality out of the spec's
    // OR-of-ANDs (Catalyst does not extract join keys from a disjunction —
    // the literal form plans as a BroadcastNestedLoopJoin); the pin holds
    // the hash join AND the derived per-branch bounds reaching BOTH scans.
    val p = plan(SparkEntry.queries("tpch_q19_disjunct_revenue")(spark, sf))
    assert(!p.contains("NestedLoop"),
      s"Q19 degraded to a nested loop:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"Q19 lost its equi join:\n${p.take(1500)}")
    assert(p.contains("In(p_brand"),
      s"Q19's brand set should push to the part scan:\n${p.take(1500)}")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"),
      s"Q19's quantity envelope should push to the lineitem scan:\n${p.take(1500)}")
  }

  test("tpch q22: NOT EXISTS is an anti join; the avg is one scalar subquery") {
    val df = SparkEntry.queries("tpch_q22_sales_opportunity")(spark, sf)
    val p = plan(df)
    assert(p.contains("LeftAnti"),
      s"Q22's NOT EXISTS should plan as an anti join:\n${p.take(1500)}")
    assert(!p.contains("NestedLoop"),
      s"Q22's correlation fell back to a nested loop:\n${p.take(1500)}")
    // date-pruned anti-join build side: the orders scan carries the
    // recency predicate, so the build is the active-customer set only
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"Q22's recency predicate should push to the orders scan:\n${p.take(1500)}")
  }

  test("PQ ADC scoring: native kernels in plan, no vectors in the scoring join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    val cb = graft.ext.ProductQuant.pqFit(emb)
    val p = plan(graft.ext.ProductQuant.knnPq(emb, queries, k = 5, cb))
    // the compiled kernels, not their interpreted HOF twins, do the work
    assert(p.contains("graft_pq_code"), s"encode not native:\n${p.take(2000)}")
    assert(p.contains("graft_pq_lut"), s"LUT not native:\n${p.take(2000)}")
    assert(p.contains("graft_adc"), s"ADC not native:\n${p.take(2000)}")
    // the ADC shortlist window must see scalar rows only: no embedding
    // (vector) column may ride its exchange
    val windowSection = p.split("\\n").dropWhile(l => !l.contains("Window"))
      .take(12).mkString("\n")
    assert(!windowSection.contains("embedding"),
      s"vectors ride the shortlist exchange:\n$windowSection")
  }

  test("IVF-PQ: no inferred isnotnull filter re-derives the cell assignment") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    val coarse = graft.ext.ProductQuant.coarseFit(emb, nlist = 8)
    val cb = graft.ext.ProductQuant.pqFitIvf(emb, coarse)
    val p = plan(graft.ext.ProductQuant.knnIvfPq(emb, queries, k = 5,
      coarse, cb, nprobe = 4, refine = 200))
    // the round-11 pushdown trap: a nullable join key gets an inferred
    // isnotnull(list_id) pushed below the exchange with the WHOLE
    // assignment chain substituted in — visible as graft_pq_code inside
    // a Filter/PushedFilters on the corpus scan side. The coalesced
    // non-nullable key must leave scans filter-free of the kernel.
    val scanFilters = p.split("\\n").filter(l =>
      l.contains("PushedFilters") || l.trim.startsWith("Condition"))
    assert(!scanFilters.exists(_.contains("graft_pq_code")),
      s"cell assignment leaked into a pushed filter:\n${scanFilters.mkString("\n")}")
    assert(!p.contains("NestedLoop"), "IVF-PQ join degraded to nested loop")
  }

  test("split-label merge-on-read: the overlay supersede is a broadcast " +
      "anti-join (base never shuffled); the pure-base state reads as a " +
      "plain scan with no join at all") {
    val tmp = tempDir("graft-planshape-split").resolve("r").toString
    val text = (0 until 60).map(t => s"a$t").mkString(" ")
    graft.ext.SplitIndex.create(
      Seq((0L, text), (1L, text), (2L, "b " * 60)).toDF("doc_id", "text"),
      tmp)
    // pure base (marker fast path): no join operator in the read plan
    val basePlan = plan(graft.ext.SplitIndex.labels(spark, tmp))
    assert(!basePlan.contains("Join"),
      s"pure-base label read plans a join:\n$basePlan")
    // with an overlay (compaction disarmed): the supersede must be a
    // broadcast LeftAnti into the base scan — a SortMergeJoin here
    // would shuffle the whole base per lookup at corpus scale
    graft.ext.SplitIndex.ingest(tmp,
      Seq((10L, text)).toDF("doc_id", "text"),
      compactLabelsAboveFiles = 0)
    val p = plan(graft.ext.SplitIndex.labels(spark, tmp))
    assert(p.contains("BroadcastHashJoin LeftAnti"),
      s"overlay supersede is not a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"label read shuffles the base snapshot:\n$p")
  }
}
