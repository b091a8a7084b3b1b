package graft

import org.apache.spark.sql.functions._

import graft.sources.JdbcUpsertSink

/** Upsert semantics against embedded Derby (offline-safe; ships in
  * /opt/spark/jars). Asserts the reference's delete-scope contract: rows
  * are replaced iff (key, load_date) collides — SURVEY.md §7.5.5. */
class JdbcUpsertSpec extends SparkSpec {
  import spark.implicits._

  private val url = s"jdbc:derby:memory:graftdb;create=true"
  private val sink = JdbcUpsertSink(url)
  private val ddl =
    """CREATE TABLE genre_kpis (
       "genre" VARCHAR(64) NOT NULL,
       "listen_count" BIGINT,
       "load_date" DATE NOT NULL)"""

  test("upsert is idempotent and delete scope is (key, load_date)") {
    sink.ensureTable(ddl, "genre_kpis")
    sink.ensureTable(ddl, "genre_kpis") // second call must be a no-op

    val d1 = java.sql.Date.valueOf("2024-06-25")
    val d2 = java.sql.Date.valueOf("2024-06-26")
    val batch1 = Seq(("rock", 10L, d1), ("jazz", 5L, d1))
      .toDF("genre", "listen_count", "load_date")

    sink.upsert(batch1, "genre_kpis", Seq("genre"), "load_date", numPartitions = 2)
    assert(sink.countWhere("genre_kpis", "1=1") === 2)

    // Re-running the same batch: no duplicates (idempotence).
    sink.upsert(batch1, "genre_kpis", Seq("genre"), "load_date", numPartitions = 2)
    assert(sink.countWhere("genre_kpis", "1=1") === 2)

    // Same keys, new date: previous date's rows must survive.
    val batch2 = Seq(("rock", 99L, d2)).toDF("genre", "listen_count", "load_date")
    sink.upsert(batch2, "genre_kpis", Seq("genre"), "load_date")
    assert(sink.countWhere("genre_kpis", "1=1") === 3)

    // Same key+date with a new value: replaced, not appended.
    val batch3 = Seq(("rock", 42L, d1)).toDF("genre", "listen_count", "load_date")
    sink.upsert(batch3, "genre_kpis", Seq("genre"), "load_date")
    assert(sink.countWhere("genre_kpis", "1=1") === 3)
    assert(sink.countWhere("genre_kpis",
      "\"genre\" = 'rock' AND \"listen_count\" = 42") === 1)
    assert(sink.countWhere("genre_kpis",
      "\"genre\" = 'jazz' AND \"listen_count\" = 5") === 1)
  }

  test("mergeUpsert (MERGE dialect) matches delete+insert semantics") {
    val mergeDdl =
      """CREATE TABLE genre_kpis_m (
         "genre" VARCHAR(64) NOT NULL,
         "listen_count" BIGINT,
         "load_date" DATE NOT NULL)"""
    sink.ensureTable(mergeDdl, "genre_kpis_m")
    val d1 = java.sql.Date.valueOf("2024-06-25")
    val d2 = java.sql.Date.valueOf("2024-06-26")
    val batch1 = Seq(("rock", 10L, d1), ("jazz", 5L, d1))
      .toDF("genre", "listen_count", "load_date")

    sink.mergeUpsert(batch1, "genre_kpis_m", Seq("genre"), "load_date",
      numPartitions = 2)
    assert(sink.countWhere("genre_kpis_m", "1=1") === 2)

    // idempotence: same batch re-merged, no duplicates
    sink.mergeUpsert(batch1, "genre_kpis_m", Seq("genre"), "load_date")
    assert(sink.countWhere("genre_kpis_m", "1=1") === 2)

    // same key, new date: inserted alongside
    sink.mergeUpsert(Seq(("rock", 99L, d2)).toDF("genre", "listen_count",
      "load_date"), "genre_kpis_m", Seq("genre"), "load_date")
    assert(sink.countWhere("genre_kpis_m", "1=1") === 3)

    // same key+date, new value: updated in place
    sink.mergeUpsert(Seq(("rock", 42L, d1)).toDF("genre", "listen_count",
      "load_date"), "genre_kpis_m", Seq("genre"), "load_date")
    assert(sink.countWhere("genre_kpis_m", "1=1") === 3)
    assert(sink.countWhere("genre_kpis_m",
      "\"genre\" = 'rock' AND \"listen_count\" = 42") === 1)
  }

  test("mergeUpsert with a key-only batch emits an insert-only MERGE") {
    // no non-key columns -> an empty UPDATE SET clause would be malformed
    // SQL; the sink must fall back to WHEN NOT MATCHED-only
    val ddlK =
      """CREATE TABLE seen_keys (
         "genre" VARCHAR(64) NOT NULL,
         "load_date" DATE NOT NULL)"""
    sink.ensureTable(ddlK, "seen_keys")
    val d1 = java.sql.Date.valueOf("2024-06-25")
    val batch = Seq(("rock", d1), ("jazz", d1)).toDF("genre", "load_date")
    sink.mergeUpsert(batch, "seen_keys", Seq("genre"), "load_date")
    assert(sink.countWhere("seen_keys", "1=1") === 2)
    sink.mergeUpsert(batch, "seen_keys", Seq("genre"), "load_date") // idempotent
    assert(sink.countWhere("seen_keys", "1=1") === 2)
  }

  test("copyLoad bulk-ingests staged CSV part files (Derby IMPORT_TABLE)") {
    // the COPY-shaped S9 path end to end: partition-parallel CSV staging
    // + the warehouse's own bulk-ingest statement, not row INSERTs
    val ddlC =
      """CREATE TABLE genre_kpis_copy (
         "genre" VARCHAR(64) NOT NULL,
         "listen_count" BIGINT,
         "load_date" DATE NOT NULL)"""
    sink.ensureTable(ddlC, "genre_kpis_copy")
    val copySink = graft.sources.CopyBulkSink(url)
    val staging = tempDir("graft_copy")
      .resolve("batch").toString
    val d1 = java.sql.Date.valueOf("2024-06-25")
    val batch = (1 to 100).map(i => (s"genre_$i", i.toLong, d1))
      .toDF("genre", "listen_count", "load_date")
    val stmts = copySink.copyLoad(batch, "genre_kpis_copy", staging,
      numPartitions = 3)
    // 3 part files -> 3 IMPORT_TABLE calls, all in one transaction
    assert(stmts.length === 3)
    assert(stmts.forall(_.startsWith("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE")))
    assert(sink.countWhere("genre_kpis_copy", "1=1") === 100)
    assert(sink.countWhere("genre_kpis_copy",
      "\"genre\" = 'genre_7' AND \"listen_count\" = 7") === 1)
    // append semantics (COPY adds; dedup is the upsert layer's job)
    copySink.copyLoad(batch, "genre_kpis_copy", staging, numPartitions = 3)
    assert(sink.countWhere("genre_kpis_copy", "1=1") === 200)
  }

  test("copyLoad rolls back the whole load when one file fails") {
    val ddlR =
      """CREATE TABLE copy_rollback (
         "genre" VARCHAR(64) NOT NULL,
         "listen_count" BIGINT NOT NULL)"""
    sink.ensureTable(ddlR, "copy_rollback")
    val copySink = graft.sources.CopyBulkSink(url)
    val staging = tempDir("graft_copy_rb")
      .resolve("batch").toString
    val good = Seq(("rock", 1L)).toDF("genre", "listen_count")
    // Plain-SQL dialect: statement 1 inserts, statement 2 fails — the
    // sink's one-transaction contract must roll statement 1 back. (Derby's
    // IMPORT_TABLE can't be used here: it commits internally, a documented
    // Derby quirk; Redshift's COPY is one atomic statement per load.)
    val failing: graft.sources.CopyBulkSink.Dialect = (_, _, _) => Seq(
      "INSERT INTO copy_rollback VALUES ('rock', 1)",
      "INSERT INTO copy_rollback_no_such_table VALUES ('x', 2)")
    assertThrows[java.sql.SQLException] {
      copySink.copyLoad(good, "copy_rollback", staging, failing,
        numPartitions = 1)
    }
    assert(sink.countWhere("copy_rollback", "1=1") === 0)
  }

  test("copyLoad's default CSV options load quotes and microseconds exactly") {
    // a JSON string holding quotes (Spark's default backslash escape stops
    // Derby's import with XIE0R) and a microsecond timestamp (Spark's
    // default timestamp format drops the microseconds)
    sink.ensureTable(
      """CREATE TABLE copy_defaults (
         "payload" VARCHAR(256) NOT NULL,
         "ts" TIMESTAMP NOT NULL)""", "copy_defaults")
    val payload = """{"genre":"rock","note":"say \"hi\", it's 'live'"}"""
    val staging = tempDir("graft_copy_def")
      .resolve("batch").toString
    graft.sources.CopyBulkSink(url).copyLoad(
      Seq(payload).toDF("payload")
        .select(col("payload"),
          lit("2024-06-25 13:45:07.123456").cast("timestamp").as("ts")),
      "copy_defaults", staging, numPartitions = 1)
    val c = java.sql.DriverManager.getConnection(url)
    val back =
      try {
        val rs = c.createStatement()
          .executeQuery("""SELECT "payload", "ts" FROM copy_defaults""")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getString(1), r.getTimestamp(2).toLocalDateTime))
          .toList
      } finally c.close()
    assert(back === List((payload,
      java.time.LocalDateTime.parse("2024-06-25T13:45:07.123456"))))
  }

  test("redshiftCopy emits the reference COPY statement shape") {
    val stmts = graft.sources.CopyBulkSink.redshiftCopy(
      credentialsSql = "IAM_ROLE 'arn:aws:iam::0:role/loader'",
      ignoreHeader = 1)("genre_kpis", "s3://bucket/staging/run1",
      Seq("part-0.csv", "part-1.csv"))
    // one statement over the PREFIX — the warehouse fans in the files
    assert(stmts.length === 1)
    val s = stmts.head
    assert(s.contains("COPY genre_kpis FROM 's3://bucket/staging/run1'"))
    assert(s.contains("IAM_ROLE 'arn:aws:iam::0:role/loader'"))
    assert(s.contains("CSV"))
    assert(s.contains("IGNOREHEADER 1"))
    assert(s.contains("DATEFORMAT 'auto'"))
  }

  test("spark.read.jdbc round-trips the warehouse table (partitioned read)") {
    // the read half of the warehouse path: predicate-partitioned parallel
    // scan of what upsert wrote, types preserved
    val back = spark.read.jdbc(url, "genre_kpis",
      Array("\"load_date\" = DATE('2024-06-25')",
        "\"load_date\" = DATE('2024-06-26')"),
      new java.util.Properties)
    assert(back.rdd.getNumPartitions === 2)
    val rows = back.orderBy(col("genre"), col("load_date"))
      .as[(String, Long, java.sql.Date)].collect()
    assert(rows.length === 3)
    assert(rows.map(_._1).toSeq === Seq("jazz", "rock", "rock"))
    assert(rows.exists(r => r._1 == "rock" && r._2 == 42L))
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("cleanEvents unions, drops null keys and dedups on event identity") {
    val a = Seq((Some(1L), "2024-01-01 00:00:00", "view"),
      (None, "2024-01-01 00:00:01", "view")).toDF("user_id", "ts", "event_type")
    val b = Seq((Some(1L), "2024-01-01 00:00:00", "view")) // dup of a's first
      .toDF("user_id", "ts", "event_type")
    val out = Pipeline.cleanEvents(Seq(a, b), Seq("user_id", "ts"), Seq("user_id"))
    assert(out.count() === 1)
  }

  test("run computes both KPI families and the report from one frame") {
    val events = Seq(
      (1L, "2024-01-01 05:00:00", "view", 1.0),
      (2L, "2024-01-01 05:30:00", "click", 2.0),
      (1L, "2024-01-02 06:00:00", "view", 3.0))
      .toDF("user_id", "ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = Pipeline.run(spark, events)
    assert(out.hourlyKpis.count() === 2) // hours 5 and 6
    assert(out.genreKpis.collect().map(_.getString(0)).toSeq === Seq("click", "view"))
    assert(out.validationReport.head().getLong(0) === 3)
  }

  test("run fails fast on missing required columns") {
    val bad = Seq(1).toDF("not_it")
    assertThrows[IllegalArgumentException] {
      Pipeline.run(spark, bad)
    }
  }
}
