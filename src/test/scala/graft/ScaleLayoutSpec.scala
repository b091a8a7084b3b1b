package graft

import org.apache.spark.sql.functions._

import graft.ext.{SemanticDedup, Similarity}
import graft.sources.BucketedTable

/** Physical-layout witnesses ([[graft.sources.BucketedTable]]) and
  * SemDeDup semantic dedup ([[graft.ext.SemanticDedup]]): the plan-shape
  * claims the registered queries make (exchange-free co-bucketed join,
  * bucket pruning, partition pruning) pinned mechanically, plus the
  * pruning rule's contracts on a corpus with KNOWN duplicates. */
class ScaleLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---- bucketed layout -------------------------------------------------

  test("co-bucketed orders⋈lineitem joins without any Exchange") {
    val o = BucketedTable.bucketed(spark, sf, "orders", "o_orderkey", 8)
    val l = BucketedTable.bucketed(spark, sf, "lineitem", "l_orderkey", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), col("l_extendedprice"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle-family join on co-bucketed sides:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
      // and the result is the same as joining the source tables directly
      val expected = graft.sources.Tables.table(spark, sf, "lineitem")
        .join(graft.sources.Tables.table(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("bucket-key point lookup prunes to the matching buckets") {
    val q = registry.ScaleQueries.queries("bucket_pruned_orders")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(p)
    assert(sel.isDefined, s"no bucket pruning in the scan:\n$p")
    assert(sel.get.group(1).toInt <= 2,
      s"two keys must prune to at most two buckets:\n$p")
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(500L, 1000L))
  }

  test("bucket-key aggregation needs no exchange either") {
    // the scan's reported hash partitioning satisfies the groupBy's
    // distribution requirement — aggregation collapses in place
    val o = BucketedTable.bucketed(spark, sf, "orders", "o_orderkey", 8)
    val agg = o.groupBy(col("o_orderkey"))
      .agg(sum(col("o_totalprice")).as("t"))
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"bucket-key aggregation must not shuffle:\n$p")
  }

  test("a fresh session re-registers an existing layout without rewriting") {
    // force the re-registration path: drop ONLY the catalog entry (the
    // table is external — files stay), then read again
    val before = BucketedTable.bucketed(spark, sf, "orders", "o_orderkey", 8)
      .count()
    // the EXACT name for this (dir, spec) — another suite's orders layout
    // from a different source dir must not be the one dropped here
    val name = BucketedTable.bucketedName(sf, "orders", "o_orderkey", 8)
    assert(spark.catalog.tableExists(name), s"expected $name registered")
    spark.sql(s"DROP TABLE $name")
    val again = BucketedTable.bucketed(spark, sf, "orders", "o_orderkey", 8)
    assert(again.count() === before)
    // still a real bucketed table: pruning metadata survived re-register
    val p = again.where(col("o_orderkey") === 500L)
      .queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount: 1 out of 8"),
      s"re-registered table lost its bucketing:\n$p")
  }

  test("partitioned read prunes on the partition filter") {
    val q = registry.ScaleQueries.queries("partitioned_events_prune")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:") && p.contains("event_type"),
      s"partition filter did not reach the scan:\n$p")
    // the data filter must NOT appear as a post-scan Filter on rows
    assert("PartitionFilters: \\[[^\\]]*event_type".r
      .findFirstIn(p).isDefined, s"event_type not a partition filter:\n$p")
  }

  // ---- semantic dedup --------------------------------------------------

  /** Corpus with KNOWN duplicates: two orthogonal base directions, 12
    * vectors each (small deterministic wiggle), plus exact copies of
    * vectors 0 and 12 — copies MUST be pruned regardless of how k-means
    * splits the groups. */
  private def corpus() = {
    val dim = 16
    def vec(base: Int, i: Int): Array[Float] = {
      val a = new Array[Float](dim)
      a(base) = 1f
      a((base + 2 + (i % 3)) % dim) = 0.05f * ((i % 5) + 1)
      a
    }
    val rows =
      (0 until 12).map(i => (i.toLong, vec(0, i))) ++
        (12 until 24).map(i => (i.toLong, vec(8, i))) ++
        Seq((24L, vec(0, 0)), (25L, vec(8, 12)))
    rows.toDF("vec_id", "embedding")
  }

  test("exact copies are pruned and keep their original as keeper") {
    val v = SemanticDedup.verdicts(corpus(), threshold = 0.95,
      targetClusterSize = 4).cache()
    val copies = v.where(col("vec_id").isin(24L, 25L)).collect()
    assert(copies.forall(_.getBoolean(2)), "exact copies must be pruned")
    // keeper is a strictly lower id with cosine >= threshold (here 1.0)
    val k24 = v.where(col("vec_id") === 24L).select(col("keeper_id"),
      col("keeper_cos")).head()
    assert(k24.getLong(0) < 24L && k24.getDouble(1) >= 0.95)
  }

  test("verdict contracts: subset of exact prunable, survivors clean") {
    val c = corpus()
    val v = SemanticDedup.verdicts(c, threshold = 0.95,
      targetClusterSize = 4).cache()
    val exactPrunable = Similarity.cosineNearDupPairs(c, 0.95)
      .select(col("vec_b").as("vec_id")).distinct()
    // pruned ⊆ exact prunable
    assert(v.where(col("pruned")).select(col("vec_id"))
      .join(exactPrunable, Seq("vec_id"), "left_anti").count() === 0)
    // survivors have no same-nearest-cluster pair at >= threshold
    val sv = v.where(!col("pruned")).select(col("cluster"), col("vec_id"))
      .join(c, Seq("vec_id"))
    val sa = sv.select(col("cluster"), col("vec_id").as("ia"),
      col("embedding").as("va"))
    val sb = sv.select(col("cluster"), col("vec_id").as("ib"),
      col("embedding").as("vb"))
    val bad = sa.join(sb, Seq("cluster")).where(col("ia") < col("ib"))
      .where(SemanticDedup.roundedCosine(col("va"), col("vb")) >= 0.95)
    assert(bad.count() === 0, "surviving near-dup pair within a cluster")
  }

  test("survivors() equals corpus minus pruned verdicts") {
    val c = corpus()
    val s = SemanticDedup.survivors(c, threshold = 0.95,
      targetClusterSize = 4)
    val v = SemanticDedup.verdicts(c, threshold = 0.95,
      targetClusterSize = 4)
    assert(s.count() === v.where(!col("pruned")).count())
    assert(s.join(v.where(col("pruned")), Seq("vec_id")).count() === 0)
  }

  test("multi-probe assignment emits the nearest list first") {
    val c = corpus()
    val cents = Similarity.ivfFit(c, nlist = 4)
    val withLists = c.select(col("vec_id"),
      Similarity.ivfListIds(col("embedding"), cents, 2).as("ls"),
      Similarity.ivfListId(col("embedding"), cents).as("nearest"))
    assert(withLists.where(element_at(col("ls"), 1) =!= col("nearest"))
      .count() === 0)
    assert(withLists.where(size(col("ls")) =!= 2).count() === 0)
  }

  // ---- semantic dedup: refined regime & bounded-fit sizing -------------

  test("sizing rules: nlist target, refinement depth, OR-table floor") {
    // total-cluster target: ceil(n/target), floor 8
    assert(SemanticDedup.nlistFor(500, 1024) === 8)
    assert(SemanticDedup.nlistFor(1000000, 1024) === 977)
    // refinement depth: 0 at/under target, +1 per doubling over it
    assert(SemanticDedup.refinePlanesFor(0, 32) === 0)
    assert(SemanticDedup.refinePlanesFor(32, 32) === 0)
    assert(SemanticDedup.refinePlanesFor(33, 32) === 1)
    assert(SemanticDedup.refinePlanesFor(64, 32) === 1)
    assert(SemanticDedup.refinePlanesFor(65, 32) === 2)
    assert(SemanticDedup.refinePlanesFor(1L << 42, 1024) === 32)
    // OR-table floor: monotone in planes, 1 when a single table already
    // clears the floor, and the amplified recall actually clears it
    for (th <- Seq(0.4, 0.7, 0.9); pl <- 1 to 10) {
      val t = SemanticDedup.refineTablesFor(pl, th)
      val p = 1.0 - math.acos(th) / math.Pi
      assert(1.0 - math.pow(1.0 - math.pow(p, pl), t) >= 0.8 - 1e-9,
        s"floor missed at planes=$pl th=$th tables=$t")
      assert(t >= SemanticDedup.refineTablesFor(math.max(1, pl - 1), th))
    }
    assert(SemanticDedup.refineTablesFor(0, 0.4) === 1)
    // the flat/refined caps are ONE invariant with the ivfFit cap
    assert(SemanticDedup.FlatNlistCap === Similarity.IvfFitNlistCap)
    // lshAdaptiveParams' tables half still delegates to the p^4 rule
    val (pl9, tb9) = Similarity.lshAdaptiveParams(1000000L, 0.4, 512)
    assert(tb9 === Similarity.orTablesFor(pl9, 0.4))
  }

  test("ivfFit refuses nlist beyond the bounded-driver-fit cap") {
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfFit(corpus(), nlist = Similarity.IvfFitNlistCap + 1)
    }
    assert(e.getMessage.contains("bounded"))
    intercept[IllegalArgumentException] {
      SemanticDedup.verdicts(corpus(), 0.9,
        flatNlistCap = SemanticDedup.FlatNlistCap + 1)
    }
  }

  test("refined regime: exact copies can never escape, subset holds") {
    // force the refined regime on the known-duplicates corpus:
    // nlistFor(26, 4) = 8 > flatNlistCap 4
    val c = corpus()
    val v = SemanticDedup.verdicts(c, threshold = 0.95,
      targetClusterSize = 4, flatNlistCap = 4).cache()
    // identical vectors share every cell and every sign bit — pruned
    // with a lower-id keeper regardless of how cells/buckets split
    val copies = v.where(col("vec_id").isin(24L, 25L)).collect()
    assert(copies.forall(_.getBoolean(2)),
      "exact copies must be pruned in the refined regime")
    assert(v.where(col("vec_id") === 24L).head().getLong(3) < 24L)
    // pruned ⊆ exact prunable (the global-soundness contract)
    val exactPrunable = Similarity.cosineNearDupPairs(c, 0.95)
      .select(col("vec_b").as("vec_id")).distinct()
    assert(v.where(col("pruned")).select(col("vec_id"))
      .join(exactPrunable, Seq("vec_id"), "left_anti").count() === 0)
    // deterministic: a second run returns the identical frame
    val v2 = SemanticDedup.verdicts(c, threshold = 0.95,
      targetClusterSize = 4, flatNlistCap = 4)
    assert(v.exceptAll(v2).isEmpty && v2.exceptAll(v).isEmpty)
  }

  test("refined regime recall on real embeddings clears the witness floor") {
    val emb = graft.sources.Tables.table(spark, sf, "embeddings")
    val v = SemanticDedup.verdicts(emb, threshold = 0.4,
      targetClusterSize = 32, flatNlistCap = 8)
    val exact = Similarity.cosineNearDupPairs(emb, 0.4)
      .select(col("vec_b")).distinct().count()
    val caught = v.where(col("pruned")).count()
    // measured 0.726 at sf0.001 (0.91/0.79 at sf0.01/0.1) — floored at
    // the registered witness's 0.6
    assert(caught.toDouble >= 0.6 * exact,
      s"refined recall ${caught.toDouble / exact} below the 0.6 floor")
  }

  // ---- layout cache correctness -----------------------------------------

  test("regenerated source invalidates the cached layout (fingerprint)") {
    val dir = tempDir("graft-fp").toString
    spark.range(10).selectExpr("id AS k", "id * 2 AS v")
      .write.parquet(s"$dir/orders.parquet")
    assert(BucketedTable.bucketed(spark, dir, "orders", "k", 4)
      .count() === 10)
    dropLayoutAfterAll(BucketedTable.bucketedName(dir, "orders", "k", 4))
    // regenerate the source at the SAME path with different contents —
    // the layout key must change, never serving the stale files
    spark.range(25).selectExpr("id AS k", "id * 3 AS v")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(BucketedTable.bucketed(spark, dir, "orders", "k", 4)
      .count() === 25, "stale layout served after source regeneration")
    dropLayoutAfterAll(BucketedTable.bucketedName(dir, "orders", "k", 4))
  }

  test("catalog entry whose files vanished re-materializes, not FNF") {
    val dir = tempDir("graft-gone").toString
    spark.range(12).selectExpr("id AS k", "id AS v")
      .write.parquet(s"$dir/orders.parquet")
    assert(BucketedTable.bucketed(spark, dir, "orders", "k", 4)
      .count() === 12)
    val name =
      dropLayoutAfterAll(BucketedTable.bucketedName(dir, "orders", "k", 4))
    assert(spark.catalog.tableExists(name))
    // simulate the tmp reaper: layout files gone, catalog entry alive
    val layoutDir = new java.io.File(BucketedTable.layoutRoot, name)
    TempDirs.deleteTree(layoutDir.toPath)
    assert(!new java.io.File(layoutDir, "_SUCCESS").isFile)
    assert(BucketedTable.bucketed(spark, dir, "orders", "k", 4)
      .count() === 12, "vanished layout files must re-materialize")
  }

  // ---- incremental refresh × bucketed layout -----------------------------

  test("single-group delta bucket-prunes the incremental recompute scan") {
    val li = BucketedTable.bucketed(spark, sf, "lineitem", "l_partkey", 8)
    // delta: ONE part's rows arrive as a late append batch. Append-only
    // ingest (appendOnlyDiff) needs no row key — which matters here,
    // because this testdata's (l_orderkey, l_linenumber) is NOT unique
    // and a row-keyed SnapshotDiff would cross-match duplicates and
    // flag every group (found by this spec's first draft).
    val batch = li.where(col("l_partkey") === 7L)
    val rowDiff = graft.operators.IncrementalKpis
      .appendOnlyDiff(batch, Seq("l_orderkey", "l_linenumber"))
    val keys = graft.operators.IncrementalKpis
      .affectedGroups(rowDiff, Seq("l_partkey")).collect().map(_.getLong(0))
    assert(keys.toSeq === Seq(7L), "delta must localize to the one group")
    val recompute = li.where(col("l_partkey").isin(keys.toSeq: _*))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"))
    val p = recompute.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(p)
    assert(sel.exists(_.group(1).toInt === 1),
      s"one affected group must read one bucket:\n$p")
    // and the group-key aggregate rides the bucketing: no exchange
    assert(!p.contains("Exchange"),
      s"bucket-key recompute aggregate must not shuffle:\n$p")
  }

  // ---- stats-planned q5 ---------------------------------------------------

  test("q5's dim strategies flip broadcast→merge with the stats, not hints") {
    import graft.operators.EstimatedJoin
    def pieces = {
      val o = graft.sources.Tables.table(spark, sf, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val fact = graft.sources.Tables.table(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
      val dims = Seq(
        EstimatedJoin.DimSpec("customer",
          graft.sources.Tables.table(spark, sf, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
          "o_custkey", "c_custkey"),
        EstimatedJoin.DimSpec("supplier",
          graft.sources.Tables.table(spark, sf, "supplier")
            .select(col("s_suppkey"), col("s_nationkey")),
          "l_suppkey", "s_suppkey"))
      (fact, dims)
    }
    val (f1, d1) = pieces
    val (_, small) = EstimatedJoin.estimatedMultiJoin(f1, d1,
      broadcastMaxRows = 100000L)
    assert(small.forall(_.estimate.strategy.startsWith("broadcast")),
      s"dims under the row cap must broadcast: $small")
    val (f2, d2) = pieces
    val (_, big) = EstimatedJoin.estimatedMultiJoin(f2, d2,
      broadcastMaxRows = 1L)
    assert(big.forall(s => !s.estimate.strategy.startsWith("broadcast")),
      s"dims over the row cap must not broadcast: $big")
  }
}
