package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.operators.{Cleaning, Enrich, Kpis, Validation}

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  test("D1 dedupRows removes exact duplicates and is idempotent") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    val once = Cleaning.dedupRows(df)
    assert(once.count() === 2)
    assert(Cleaning.dedupRows(once).count() === 2)
  }

  test("D2-deterministic dedupFirstBy keeps smallest by order columns") {
    val df = Seq((1, 3, "late"), (1, 1, "early"), (2, 5, "only"))
      .toDF("k", "ts", "tag")
    val out = Cleaning.dedupFirstBy(df, Seq("k"), Seq("ts")).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(2)))
    assert(out.toSeq === Seq((1, "early"), (2, "only")))
  }

  test("D3 dropNullKeys drops rows with null in any key column") {
    val df = Seq((Some(1), "a"), (None, "b")).toDF("k", "v")
    assert(Cleaning.dropNullKeys(df, Seq("k")).count() === 1)
  }

  test("D5 unionAll tolerates schema drift (missing columns become null)") {
    val a = Seq((1, "x")).toDF("k", "extra")
    val b = Seq(2).toDF("k")
    val u = Cleaning.unionAll(Seq(a, b)).orderBy("k").collect()
    assert(u.length === 2)
    assert(u(1).isNullAt(1))
  }
}

class KpisSpec extends SparkSpec {
  import spark.implicits._

  test("A4 modeTop1 breaks count ties to the smallest value (pandas semantics)") {
    // group 1: b x2, a x2 -> tie -> 'a' wins; group 2: c x1
    val df = Seq((1, "b"), (1, "b"), (1, "a"), (1, "a"), (2, "c"))
      .toDF("k", "v")
    val out = Kpis.modeTop1(df, "k", "v", "top").orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq === Seq((1, "a"), (2, "c")))
  }

  test("A1+A2 genreKpis counts and averages per dim key") {
    val fact = Seq((1, 10.0), (1, 20.0), (2, 5.0)).toDF("fk", "dur")
    val dim = Seq((1, "rock"), (2, "jazz")).toDF("dk", "genre")
    val out = Kpis.genreKpis(fact, dim, "fk", "dk", "genre", "dur")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq(("jazz", 1L, 5.0), ("rock", 2L, 15.0)))
  }

  test("A3+A5 hourlyKpisHod folds all dates into 24 hour-of-day buckets") {
    val df = Seq(
      ("2024-01-01 05:00:00", 1L, "x"),
      ("2024-06-30 05:59:59", 2L, "x"),  // different date, same hour bucket
      ("2024-01-01 06:00:00", 1L, "y"))
      .toDF("ts_s", "user_id", "etype")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = Kpis.hourlyKpisHod(df, "ts", "user_id", "etype")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(out.toSeq === Seq((5, 2L, 0.5, "x"), (6, 1L, 1.0, "y")))
  }

  test("diversity ratio stays in (0, 1]") {
    val df = Seq.tabulate(50)(i => ("2024-01-01 03:10:00", i.toLong, s"v${i % 7}"))
      .toDF("ts_s", "user_id", "etype")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val d = Kpis.hourlyKpisHod(df, "ts", "user_id", "etype")
      .select("diversity").as[Double].head()
    assert(d > 0.0 && d <= 1.0)
  }
}

class AsOfSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.AsOf

  test("as-of join picks the latest right row at or before each left ts") {
    val left = Seq((1, 5, "l5"), (1, 2, "l2"), (2, 9, "l9"))
      .toDF("k", "lt", "tag")
    val right = Seq((1, 1, 10.0), (1, 4, 40.0), (1, 6, 60.0), (2, 100, 999.0))
      .toDF("k", "rt", "v")
    val out = AsOf.asOfJoin(left, right, Seq("k"), "lt", "rt", Seq("v"))
      .orderBy("k", "lt")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // l2 -> rt=1 (10.0); l5 -> rt=4 (40.0), NOT rt=6; l9 -> no match
    assert(out.toSeq === Seq((1, 2, Some(10.0)), (1, 5, Some(40.0)),
      (2, 9, None)))
  }

  test("native as-of operator plans as AsOfJoinExec and matches the composed op") {
    val left = Seq((1, 5, "l5"), (1, 2, "l2"), (2, 9, "l9"), (3, 1, "l1"))
      .toDF("k", "lt", "tag")
    val right = Seq((1, 1, 10.0), (1, 4, 40.0), (1, 6, 60.0), (2, 100, 999.0))
      .toDF("k", "rt", "v")
    val native = AsOf.asOfJoinNative(left, right, Seq("k"), "lt", "rt", Seq("v"))
    // physical node prints as "AsOfJoin" (nodeName strips the Exec suffix)
    assert(native.queryExecution.executedPlan.toString.contains("AsOfJoin "))
    val a = native.orderBy("k", "lt").collect().map(_.toSeq).toSeq
    val b = AsOf.asOfJoin(left, right, Seq("k"), "lt", "rt", Seq("v"))
      .orderBy("k", "lt").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("as-of join: exact timestamp equality matches (>= semantics)") {
    val left = Seq((1, 4)).toDF("k", "lt")
    val right = Seq((1, 4, 40.0), (1, 3, 30.0)).toDF("k", "rt", "v")
    val out = AsOf.asOfJoin(left, right, Seq("k"), "lt", "rt", Seq("v"))
      .collect()
    assert(out.head.getDouble(2) === 40.0)
  }

  test("forward as-of picks the earliest right at-or-after each left row") {
    val left = Seq((1, 5, "l5"), (1, 2, "l2"), (2, 9, "l9"))
      .toDF("k", "lt", "tag")
    val right = Seq((1, 1, 10.0), (1, 4, 40.0), (1, 6, 60.0), (2, 5, 50.0))
      .toDF("k", "rt", "v")
    val out = AsOf.asOfJoinForward(left, right, Seq("k"), "lt", "rt", Seq("v"))
      .orderBy("k", "lt")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // l2 -> rt=4 (40.0, not rt=1); l5 -> rt=6; l9 -> nothing after -> None
    assert(out.toSeq === Seq((1, 2, Some(40.0)), (1, 5, Some(60.0)),
      (2, 9, None)))
    // exact equality matches forward too
    val eq = AsOf.asOfJoinForward(Seq((1, 4)).toDF("k", "lt"),
      Seq((1, 4, 44.0), (1, 9, 99.0)).toDF("k", "rt", "v"),
      Seq("k"), "lt", "rt", Seq("v")).collect()
    assert(eq.head.getDouble(2) === 44.0)
  }

  test("nearest as-of picks the time-closest side, preceding on ties") {
    val left = Seq((1, 5), (1, 10), (1, 100), (2, 7)).toDF("k", "lt")
    val right = Seq((1, 4, 40.0), (1, 12, 120.0), (2, 3, 30.0), (2, 11, 110.0))
      .toDF("k", "rt", "v")
    val out = AsOf.asOfJoinNearest(left, right, Seq("k"), "lt", "rt", Seq("v"))
      .orderBy("k", "lt")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    // lt=5: |5-4|=1 < |12-5|=7 -> 40; lt=10: |10-4|=6 > |12-10|=2 -> 120
    // lt=100: only backward reachable... both exist; |100-12|=88 -> 120
    // k=2 lt=7: |7-3|=4 = |11-7|=4 tie -> preceding (30)
    assert(out.toSeq === Seq((1, 5, 40.0), (1, 10, 120.0), (1, 100, 120.0),
      (2, 7, 30.0)))
  }

  test("nearest as-of matches a brute-force reference on arbitrary data") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      ls <- Gen.listOfN(12, Gen.zip(Gen.choose(1, 2), Gen.choose(0, 50)))
      rs <- Gen.listOfN(8, Gen.zip(Gen.choose(1, 2), Gen.choose(0, 50)))
    } yield (ls.distinct, rs.distinct)
    val prop = Prop.forAll(gen) { case (ls, rs) =>
      ls.isEmpty || {
        val left = ls.toDF("k", "lt")
        val right = rs.zipWithIndex
          .map { case ((k, rt), i) => (k, rt, i.toDouble) }
          .toDF("k", "rt", "v")
        val got = AsOf.asOfJoinNearest(left, right, Seq("k"), "lt", "rt",
            Seq("v")).orderBy("k", "lt")
          .collect()
          .map(r => (r.getInt(0), r.getInt(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
        // brute force: closest |rt - lt| per key, preceding wins ties
        val byKey = rs.zipWithIndex.groupBy(_._1._1)
        val want = ls.sorted.map { case (k, lt) =>
          val cands = byKey.getOrElse(k, Nil)
          val best = cands.sortBy { case ((_, rt), i) =>
            (math.abs(rt - lt), if (rt <= lt) 0 else 1, -rt)
          }.headOption
          (k, lt, best.map(_._2.toDouble))
        }
        got == want
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("nearest as-of rejects timestamp-vs-numeric time columns up front") {
    // micros vs caller-defined epoch units are incomparable; the require
    // must fire at plan time, not produce a silently-wrong distance
    val left = Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:05")))
      .toDF("k", "lt")
    val right = Seq((1, 4.0, 40.0)).toDF("k", "rt", "v")
    val e = intercept[IllegalArgumentException] {
      AsOf.asOfJoinNearest(left, right, Seq("k"), "lt", "rt", Seq("v"))
    }
    assert(e.getMessage.contains("must both be"))
  }
}

class ValidationSpec extends SparkSpec {
  import spark.implicits._

  test("one-pass report counts nulls, dups and violations") {
    val df = Seq(
      (Some(1), Some(10), "ok"),
      (None, Some(-5), "ok"),        // null key, negative value
      (Some(1), None, "bad"),        // null value, invalid type
      (Some(1), Some(10), "ok"))     // dup of row 1 on (k)
      .toDF("k", "v", "t")
    val r = Validation.report(df, Seq(
      Validation.rowCount,
      Validation.nullCount("k"),
      Validation.nullCount("v"),
      Validation.dupCount(Seq("k")),
      Validation.violations("neg_v", col("v") < 0),
      Validation.violations("bad_t", !col("t").isin("ok")))).head()
    assert(r.getLong(0) === 4)  // n_rows
    assert(r.getLong(1) === 1)  // null_k
    assert(r.getLong(2) === 1)  // null_v
    assert(r.getLong(3) === 2)  // 4 rows - 2 distinct k structs (1, null)
    assert(r.getLong(4) === 1)  // neg
    assert(r.getLong(5) === 1)  // bad type
  }

  test("requireColumns is a schema-level gate (no job)") {
    val df = Seq((1, 2)).toDF("a", "b")
    assert(Validation.requireColumns(df, Seq("a", "b")).isRight)
    assert(Validation.requireColumns(df, Seq("a", "zzz")) === Left(Seq("zzz")))
  }

  test("schemaReport covers ok/type_mismatch/missing/undeclared statuses") {
    val df = Seq((1L, "x", 2.5)).toDF("id", "name", "score")
    val got = Validation.schemaReport(df, Seq(
        "id" -> "bigint", "name" -> "int", "absent" -> "string"))
      .collect().map(r => (r.getString(0), r.getBoolean(3), r.getString(4)))
    assert(got.toSeq === Seq(
      ("absent", false, "missing"),
      ("id", true, "ok"),
      ("name", false, "type_mismatch"),
      ("score", true, "undeclared")))
  }

  test("invalidValues reports distinct lowercased offenders with counts") {
    val df = Seq("Rock", "ROCK", "pop", "polka", "polka", null)
      .toDF("genre")
    val got = Validation.invalidValues(df, "genre", Seq("rock", "pop"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("polka", 2L))) // whitelist is case-insensitive
  }
}

class EnrichSpec extends SparkSpec {
  import spark.implicits._

  test("fillMissing adds only absent columns") {
    val df = Seq((1, "x")).toDF("k", "present")
    val out = Enrich.fillMissing(df, Map("present" -> "IGNORED", "added" -> 0))
    assert(out.columns.toSet === Set("k", "present", "added"))
    assert(out.select("present").as[String].head() === "x")
    assert(out.select("added").as[Int].head() === 0)
  }

  test("P11 hourToTimestamp anchors on the parameterized day, not wall clock") {
    val df = Seq(0, 5, 23).toDF("hour")
    val out = Enrich.hourToTimestamp(df, "hour", "2024-06-25", "ts")
      .orderBy("hour").select("ts").as[java.sql.Timestamp].collect()
    assert(out(0).toInstant.toString === "2024-06-25T00:00:00Z")
    assert(out(1).toInstant.toString === "2024-06-25T05:00:00Z")
    assert(out(2).toInstant.toString === "2024-06-25T23:00:00Z")
  }

  test("P4 numeric coercion: try_cast gives null-on-error under ANSI mode") {
    // Spark 4 runs ANSI by default: a plain cast on bad input THROWS; the
    // reference's pd.to_numeric(errors='coerce') semantic is try_cast.
    val df = Seq("12.5", "not-a-number", "").toDF("raw")
    val out = df.select(expr("try_cast(raw AS double)").as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq === Seq(Some(12.5), None, None))
  }
}

class PercentileSpec extends SparkSpec {

  test("approx_percentile (t-digest) tracks exact percentile within 1% on orders") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val exact = orders
      .selectExpr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D)) AS qs")
      .collect()(0).getSeq[Double](0)
    val approx = orders
      .selectExpr("approx_percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D), 10000) AS qs")
      .collect()(0).getSeq[Double](0)
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e - a) / e <= 0.01, s"exact=$e approx=$a")
    }
  }
}
