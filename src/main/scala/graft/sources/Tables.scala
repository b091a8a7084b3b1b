package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.PathFilterFactory
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Readers over the engine's table surface.
  *
  * The reference ingests CSV objects from S3 prefixes by listing the prefix
  * and dropping old keys by `LastModified` on the driver (reference:
  * dags/etl/extract_stream_data.py:26-60 listing, :124-150 mtime pruning,
  * :62-77 per-file read). [[csv]] prunes the same way: one glob on the
  * driver, filtered by mtime through Spark's own `modifiedAfter` filter, so
  * only the fresh batch reaches Spark's file index. Spark's listing still
  * skips zero-length and hidden files, and explicit schemas replace dtype
  * inference (SURVEY.md §1.3 — inference differences are a correctness
  * hazard).
  *
  * Scale posture: these return lazy scans; filters/projections composed on top
  * reach the parquet reader as PushedFilters/ReadSchema. No collect, no
  * eager materialization.
  */
object Tables {

  /** Driver test tables (TESTDATA.md). */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Ingestion contract: events.ts is ALWAYS timezone-normalized (UTC)
    // TimestampType past this boundary, whatever the parquet writer chose.
    // Generations of the driver testdata have shipped three physical
    // encodings, each normalized here:
    //  - TIMESTAMP(NANOS): Spark has no nanos type; sessions set
    //    spark.sql.legacy.parquet.nanosAsLong so it arrives as Long
    //    nanos-since-epoch. Truncate to micros — same NS→US semantics as
    //    DuckDB's CAST(ts AS TIMESTAMP), keeping the oracle comparable.
    //    NB: integer `div`, not `/` — Spark's `/` on longs is DOUBLE
    //    division, and ns-epoch values (~1.7e18) exceed 2^53, so
    //    floor(ts/1000.0) lands ±1 µs off. Exposed by the as-of join.
    //  - timestamp[us] without timezone (isAdjustedToUTC=false) → Spark
    //    reads TIMESTAMP_NTZ. Cast to TimestampType: under the forced UTC
    //    session timezone the cast is value-preserving (reinterprets the
    //    wall-clock micros as UTC-epoch micros, identical bits).
    //  - timestamp[us] UTC-adjusted → TimestampType already; passthrough.
    // Anything else (e.g. a string ts) fails loudly with the table+column
    // named, instead of flowing through to per-query analysis errors that
    // a harness may silently drop (the round-8 incident).
    if (name == "events")
      df.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case Some(TimestampNTZType) =>
          // The NTZ→TimestampType cast is value-preserving ONLY under a UTC
          // session timezone (it reinterprets wall-clock micros as epoch
          // micros). A non-UTC session would silently shift every ts value —
          // the exact quiet drift this boundary exists to make loud.
          val tz = spark.sessionState.conf.sessionLocalTimeZone
          if (tz != "UTC") throw new IllegalStateException(
            s"events.ts: TIMESTAMP_NTZ normalization requires " +
              s"spark.sql.session.timeZone=UTC (session has '$tz'); a " +
              "non-UTC cast would shift every value instead of " +
              "reinterpreting it — set the session timezone to UTC")
          df.withColumn("ts", col("ts").cast(TimestampType))
        case Some(TimestampType) | None => df
        case Some(other) => throw new IllegalStateException(
          s"events.ts: unsupported physical type ${other.simpleString} " +
            "(expected long nanos, timestamp_ntz, or timestamp) — " +
            "testdata schema drifted; update Tables.table normalization")
      }
    else df
  }

  /** CSV scan with explicit schema (S1) over the files `path` (a Hadoop
    * glob) matches, keeping those modified after `modifiedAfter`: the
    * reference's incremental window (S3). Spark skips empty files (S2).
    *
    * The glob is expanded once on the driver, and its statuses, which
    * already carry each file's mtime, go through Spark's own path filters
    * for these options. Only the survivors reach the reader. Handing Spark
    * the glob instead makes its file index hold every file the prefix ever
    * received; past `parallelPartitionDiscovery.threshold` (32 paths) Spark
    * then runs a listing job with one task per file only to re-stat them
    * before it drops the stale ones. The reader keeps `modifiedAfter`, so
    * Spark still filters the survivors and the file set can only shrink.
    * A glob that matches nothing is handed over as it is, so Spark raises
    * its usual PATH_NOT_FOUND.
    */
  def csv(spark: SparkSession, schema: StructType, path: String,
          modifiedAfter: Option[String] = None): DataFrame = {
    val options = Map("header" -> "true") ++ modifiedAfter.map("modifiedAfter" -> _)
    spark.read.schema(schema).options(options).csv(fresh(spark, path, options): _*)
  }

  /** Hadoop glob metacharacters; a `\` before one makes it literal. */
  private val GlobMeta = """([{}\[\]*?\\])"""

  /** `glob`'s matches that pass Spark's path filters for `options`, as
    * escaped literal paths (Spark globs every path it is given). Directories
    * are kept for Spark to list and filter. */
  private def fresh(spark: SparkSession, glob: String,
                    options: Map[String, String]): Seq[String] = {
    val pattern = new Path(glob)
    val fs = pattern.getFileSystem(
      spark.sessionState.newHadoopConfWithOptions(options))
    val matches = Option(fs.globStatus(pattern)).getOrElse(Array.empty[FileStatus])
    if (matches.isEmpty) Seq(glob)
    else {
      val filters = PathFilterFactory.create(CaseInsensitiveMap(options))
      matches.toSeq
        .filter(st => st.isDirectory || filters.forall(_.accept(st)))
        .map(_.getPath.toString.replaceAll(GlobMeta, """\\$1"""))
    }
  }

  /** Row lineage (P1): the reference tags every row with its source object key
    * (reference: dags/etl/extract_stream_data.py:186-188). */
  def withLineage(df: DataFrame, colName: String = "source_file"): DataFrame =
    df.withColumn(colName, input_file_name())
}
