package graft

import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.StructType

import graft.sources.{Sinks, Tables}

class SourcesSpec extends SparkSpec {

  private val schema = StructType.fromDDL("id BIGINT, name STRING")

  test("S1 csv scan with explicit schema reads headers and skips empty files") {
    val dir = tempDir("csv-src")
    Files.writeString(dir.resolve("a.csv"), "id,name\n1,x\n2,y\n")
    Files.writeString(dir.resolve("empty.csv"), "")
    val df = Tables.csv(spark, schema, dir.toString + "/*.csv")
    assert(df.count() === 2)
    assert(df.schema === schema)
  }

  test("S3 modifiedAfter prunes files by mtime (the reference's 2h window)") {
    val dir = tempDir("csv-mtime")
    val old = dir.resolve("old.csv")
    Files.writeString(old, "id,name\n1,old\n")
    Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    Files.writeString(dir.resolve("new.csv"), "id,name\n2,new\n")
    val cutoff = java.time.Instant.now().minusSeconds(3600)
      .toString.replace("Z", "")
    val recent = Tables.csv(spark, schema, dir.toString + "/*.csv",
      modifiedAfter = Some(cutoff))
    val names = recent.collect().map(_.getString(1))
    assert(names.toSeq === Seq("new"))
  }

  private def hourAgo: String =
    java.time.Instant.now().minusSeconds(3600).toString.replace("Z", "")

  /** A landing prefix of 40 files: 35 stale and 5 fresh. One fresh name
    * holds glob metacharacters that, read as a pattern, match another
    * fresh file (`fresh[4].csv` matches `fresh4.csv`). */
  private def landing(): java.nio.file.Path = {
    val dir = tempDir("csv-landing")
    val stale = FileTime.fromMillis(System.currentTimeMillis() - 48L * 3600 * 1000)
    (0 until 35).foreach { i =>
      val f = dir.resolve(f"old$i%02d.csv")
      Files.writeString(f, s"id,name\n$i,old$i\n")
      Files.setLastModifiedTime(f, stale)
    }
    Seq("fresh1", "fresh2", "fresh3", "fresh4", "fresh[4]").zipWithIndex
      .foreach { case (n, i) =>
        Files.writeString(dir.resolve(s"$n.csv"), s"id,name\n${100 + i},$n\n")
      }
    dir
  }

  private def rows(df: DataFrame): Seq[(Long, String, String)] =
    Tables.withLineage(df).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)

  /** Spark's own recency-filtered read of `glob`, the reference result. */
  private def sparkRead(glob: String, cutoff: String): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("modifiedAfter", cutoff).csv(glob)

  test("S3 pruned read equals Spark's modifiedAfter read of the same glob") {
    val glob = landing().toString + "/*.csv"
    val cutoff = hourAgo
    val pruned = rows(Tables.csv(spark, schema, glob, Some(cutoff)))
    assert(pruned === rows(sparkRead(glob, cutoff)))
    assert(pruned.map(_._2) ===
      Seq("fresh1", "fresh2", "fresh3", "fresh4", "fresh[4]"))
  }

  test("S3 pruning runs on the driver: no Spark job builds the frame") {
    val glob = landing().toString + "/*.csv"
    val cutoff = hourAgo
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val confBefore = spark.conf.getAll
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.csv(spark, schema, glob, Some(cutoff))
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0)
    assert(spark.conf.getAll === confBefore)
  }

  test("S3 a survivor named with glob metacharacters is read exactly once") {
    val df = Tables.csv(spark, schema, landing().toString + "/*.csv",
      Some(hourAgo))
    val names = rows(df).map(_._2)
    assert(names.count(_ == "fresh[4]") === 1)
    assert(names.count(_ == "fresh4") === 1)
  }

  test("S3 an empty glob raises PATH_NOT_FOUND; an all-stale glob is empty") {
    val dir = landing()
    val e = intercept[AnalysisException] {
      Tables.csv(spark, schema, dir.toString + "/none*.csv", Some(hourAgo))
    }
    assert(e.getCondition === "PATH_NOT_FOUND")
    val allStale = Tables.csv(spark, schema, dir.toString + "/old*.csv",
      Some(hourAgo))
    assert(allStale.schema === schema)
    assert(allStale.count() === 0)
  }

  test("S2 hidden and empty files are skipped, as by a plain read") {
    val dir = tempDir("csv-hidden")
    Files.writeString(dir.resolve("a.csv"), "id,name\n1,x\n")
    Files.writeString(dir.resolve("_meta.csv"), "id,name\n2,meta\n")
    Files.writeString(dir.resolve(".hidden.csv"), "id,name\n3,hidden\n")
    Files.writeString(dir.resolve("empty.csv"), "")
    val glob = dir.toString + "/*.csv"
    val cutoff = hourAgo
    val pruned = rows(Tables.csv(spark, schema, glob, Some(cutoff)))
    assert(pruned.map(_._2) === Seq("x"))
    assert(pruned === rows(sparkRead(glob, cutoff)))
  }

  test("P1 lineage column carries the source file path") {
    val dir = tempDir("csv-lineage")
    Files.writeString(dir.resolve("part1.csv"), "id,name\n1,x\n")
    val df = Tables.withLineage(Tables.csv(spark, schema, dir.toString + "/*.csv"))
    val src = df.select("source_file").collect().head.getString(0)
    assert(src.contains("part1.csv"))
  }

  test("S5 sink round-trip: json") {
    import spark.implicits._
    val out = tempDir("sink-out")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Sinks.json(df, out.resolve("json").toString)
    assert(spark.read.json(out.resolve("json").toString).count() === 2)
  }
}

/** Hive-style partition layout: the 100 TB data-skipping witness. A date/
  * category-partitioned corpus must answer partition-selective queries by
  * reading only the matching directories — the plan carries the predicate
  * as PartitionFilters, not as a post-scan Filter over everything. */
class PartitionPruningSpec extends SparkSpec {
  import spark.implicits._

  test("partitionBy write + partition-selective read prunes at the scan") {
    val out = tempDir("part-events").toString
    val df = (0 until 1000).map(i =>
      (i.toLong, s"u$i", if (i % 3 == 0) "view" else if (i % 3 == 1) "click"
        else "purchase")).toDF("event_id", "user_id", "event_type")
    df.write.mode("overwrite").partitionBy("event_type").parquet(out)

    val pruned = spark.read.parquet(out).where($"event_type" === "view")
    assert(pruned.count() === 334)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    // predicate landed in partitionFilters (directory pruning), and only
    // the event_type=view directory's files were selected
    assert(scan.partitionFilters.nonEmpty,
      s"expected partition filters, got: ${scan.partitionFilters}")
    val selected = scan.selectedPartitions.toPartitionArray
    assert(scan.relation.location.inputFiles.length > // all files on disk
      selected.length) // files actually read
    assert(selected.forall(f => f.urlEncodedPath.contains("event_type%3Dview")
      || f.urlEncodedPath.contains("event_type=view")))
  }
}

/** Malformed-record handling — the reference silently drops rows failing
  * schema_check; Spark's parser modes make that policy explicit and
  * auditable (PERMISSIVE quarantines, DROPMALFORMED drops, FAILFAST
  * aborts). At 100 TB, quarantine-and-continue with a lineage of bad rows
  * is the only operable choice; this spec pins all three behaviors. */
class MalformedRecordsSpec extends SparkSpec {

  private def writeBad(): String = {
    val dir = tempDir("csv-bad")
    java.nio.file.Files.writeString(dir.resolve("data.csv"),
      "id,value\n1,10.5\nnot_a_number,oops,extra\n3,30.0\n")
    dir.toString
  }

  test("PERMISSIVE quarantines malformed rows into _corrupt_record") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, value DOUBLE, _corrupt_record STRING")
    val df = spark.read.schema(schema).option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(writeBad()).cache() // cache: corrupt-record col needs a stable scan
    assert(df.count() === 3)
    val bad = df.where(df("_corrupt_record").isNotNull)
    assert(bad.count() === 1)
    assert(bad.select("_corrupt_record").collect()(0).getString(0)
      .startsWith("not_a_number"))
    df.unpersist()
  }

  // NB: both tests below materialize the COLUMNS, not just count() — CSV
  // column pruning means count() parses nothing, so malformed rows are
  // neither dropped nor fatal on a count-only plan. That behavior is itself
  // load-bearing (a validation pass must touch the columns it validates).

  test("DROPMALFORMED keeps only parseable rows") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, value DOUBLE")
    val df = spark.read.schema(schema).option("header", "true")
      .option("mode", "DROPMALFORMED").csv(writeBad())
    assert(df.select("id", "value").collect().length === 2)
    // count() alone sees all 3 physical lines: pruning skips the parse
    assert(df.count() === 3)
  }

  test("FAILFAST aborts the scan on the first malformed row") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, value DOUBLE")
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("header", "true")
        .option("mode", "FAILFAST").csv(writeBad())
        .select("id", "value").collect()
    }
    assert(e.getMessage.toLowerCase.contains("malformed")
      || e.getCause != null)
  }
}

/** Clustered layout: repartitionByRange + sortWithinPartitions before the
  * write produces files with DISJOINT key ranges, which is what makes
  * parquet min/max row-group skipping effective — a point/range filter
  * then touches one file instead of all of them. The unsorted write spreads
  * every key range across every file. */
class ClusteredWriteSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{max, min}

  test("range-partitioned sorted write yields disjoint per-file key ranges") {
    val df = (0 until 10000).map(i => ((i * 7919) % 10000, s"v$i"))
      .toDF("k", "v")
    val out = tempDir("clustered").toString
    df.repartitionByRange(8, $"k").sortWithinPartitions($"k")
      .write.mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length === 8)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"k"), max($"k")).collect()(0)
      (r.getInt(0), r.getInt(1))
    }.sortBy(_._1)
    // consecutive file ranges never overlap
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi >= $lo2")
      case _ =>
    }
    // coverage is complete and ordered
    assert(ranges.head._1 === 0 && ranges.last._2 === 9999)
  }

  test("ORC round-trip preserves schema, types and predicate pushdown") {
    // second columnar format beside parquet: same writer/reader surface,
    // footer-statistics pushdown included (spark-sql bundles ORC)
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    val out = tempDir("orc-rt").toString + "/t"
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    val p = back.where($"o_totalprice" > 100000.0)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), " +
      "GreaterThan(o_totalprice,100000.0)]"), s"ORC filter not pushed:\n$p")
    assert(back.where($"o_totalprice" > 100000.0).count() ===
      src.where($"o_totalprice" > 100000.0).count())
  }
}
