package perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.sql.DriverManager

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions.{col, lit, to_date}
import org.apache.spark.sql.types._

import graft.Pipeline
import graft.sources.{Archive, CopyBulkSink, JdbcUpsertSink, RunLog, Sinks,
  Tables}

/** The reference's daily DAG as one unit of work: extract the landing CSV
  * files (recency-filtered, with lineage) → clean and stage as parquet →
  * validation report → KPIs → idempotent upsert of both KPI families for
  * one load date → COPY-style bulk load of that date's cleaned events →
  * archive the landing files → push the run log.
  *
  * Embedded in-memory Derby stands in for Redshift, so the load stages time
  * only the Spark and JDBC side of a warehouse load. */
final class Etl(spark: SparkSession, tracer: Tracer, cfg: JsonNode,
                work: String) extends Workload {
  import Etl._

  private val landing = cfg.get("landing").asText
  private val archive = cfg.get("archive").asText
  private val freshGlob = cfg.get("fresh_glob").asText
  private val cutoff = cfg.get("cutoff").asText
  private val freshMtime = FileTime.fromMillis(cfg.get("fresh_mtime_ms").asLong)
  private val loadDate = java.sql.Date.valueOf(cfg.get("load_date").asText)
  private val url = "jdbc:derby:memory:warehouse;create=true"
  private val sink = JdbcUpsertSink(url)
  private val staged = s"$work/staging/events"

  /** Creates the warehouse tables and writes the engine's DuckDB twins of
    * the two KPI families, which the oracle runs over the landing files. */
  def setup(): Unit = {
    Seq(GenreTable -> GenreDdl, HourlyTable -> HourlyDdl,
      StageTable -> StageDdl).foreach { case (t, d) => sink.ensureTable(d, t) }
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      Harness.json.writeValueAsString(Seq("pipeline_kpis", "hourly_kpis_hod")
        .map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
  }

  def unit(run: Int): Map[String, Any] = {
    val log = RunLog(spark, s"$work/runlog/run-$run.log")
    val ops = mutable.LinkedHashMap.empty[String, Double]
    def stage[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val out = tracer.span(name, run)(body)
      ops(name) = (System.nanoTime() - t0) / 1e9
      log.info(f"$name finished in ${ops(name)}%.3f s")
      out
    }
    val raw = stage("etl.ingest") {
      val raw = Tables.withLineage(
        Tables.csv(spark, EventSchema, s"$landing/*.csv", Some(cutoff)))
      Sinks.parquet(Pipeline.cleanEvents(Seq(raw), IdCols, IdCols), staged)
      raw
    }
    val (out, report) = stage("etl.validate") {
      val out = Pipeline.run(spark, spark.read.parquet(staged))
      val r = out.validationReport.collect().head
      (out, r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap)
    }
    stage("etl.upsert.genre") {
      sink.upsert(out.genreKpis.withColumn("load_date", lit(loadDate)),
        GenreTable, Seq("event_type"), "load_date")
    }
    stage("etl.upsert.hourly") {
      sink.upsert(out.hourlyKpis.withColumn("load_date", lit(loadDate)),
        HourlyTable, Seq("hour"), "load_date")
    }
    stage("etl.copy") {
      execute(s"TRUNCATE TABLE $StageTable")
      CopyBulkSink(url).copyLoad(spark.read.parquet(staged)
          .where(to_date(col("ts")) === lit(loadDate)), StageTable,
        s"$work/copy-staging", writeOptions = CopyOptions)
    }
    val moved = stage("etl.archive") {
      Archive.moveMatching(spark, landing, archive, freshGlob).size
    }
    stage("etl.runlog")(log.push())
    val (listed, read) = scanned(raw)
    Map("ops" -> ops, "report" -> report, "files_moved" -> moved,
      "files_listed" -> listed, "files_read" -> read)
  }

  /** (files listed, files read) by the unit's own scan of the landing
    * prefix: the paths its glob matched, and those the recency filter let
    * through. Both come from the file index the ingest built; nothing is
    * listed again. */
  private def scanned(raw: DataFrame): (Int, Int) = {
    val index = raw.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location }
      .getOrElse(sys.error("the ingest read no file relation"))
    (index.rootPaths.size, index.inputFiles.length)
  }

  /** Untimed work between units: put the archived landing files back with
    * their original modification time, and read the warehouse back for the
    * oracle. */
  override def after(run: Int): Map[String, Any] = {
    val moved = Files.list(Paths.get(archive))
    try moved.forEach { p =>
      val dst = Paths.get(landing, p.getFileName.toString)
      Files.move(p, dst)
      Files.setLastModifiedTime(dst, freshMtime)
    } finally moved.close()
    Map(
      "genre_rows" -> rows(s"""SELECT "event_type", "listen_count",
        "avg_duration" FROM $GenreTable WHERE "load_date" = '$loadDate'
        ORDER BY 1"""),
      "hourly_rows" -> rows(s"""SELECT "hour", "unique_listeners",
        "diversity", "top_value" FROM $HourlyTable
        WHERE "load_date" = '$loadDate' ORDER BY 1"""),
      "warehouse" -> Seq(GenreTable, HourlyTable).map { t =>
        val all = rows(s"SELECT * FROM $t ORDER BY 1, 2")
        t -> Map("rows" -> all.size, "checksum" -> checksum(all))
      }.toMap,
      "stage_rows" -> rows(s"SELECT COUNT(*) FROM $StageTable").head.head)
  }

  private def execute(sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
    finally c.close()
  }

  private def rows(sql: String): Seq[Seq[Any]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(i => rs.getObject(i) match {
        case d: java.math.BigDecimal => d.doubleValue
        case d: java.sql.Date => d.toString
        case v => v
      })
      out.toSeq
    } finally c.close()
  }
}

object Etl {
  val GenreTable = "genre_kpis"
  val HourlyTable = "hourly_kpis"
  val StageTable = "events_stage"

  /** Event identity (the reference dedups on user, track, listen time). */
  val IdCols: Seq[String] = Seq("user_id", "event_type", "ts")

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Spark's CSV writer escapes quotes with a backslash by default, which
    * Derby's import rejects (XIE0R on the JSON quotes of `props`); Derby
    * also wants a space, not 'T', between date and time. */
  val CopyOptions: Map[String, String] = Map(
    "escape" -> "\"", "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  private val GenreDdl =
    s"""CREATE TABLE $GenreTable ("event_type" VARCHAR(64) NOT NULL,
       "listen_count" BIGINT, "avg_duration" DOUBLE,
       "load_date" DATE NOT NULL)"""
  private val HourlyDdl =
    s"""CREATE TABLE $HourlyTable ("hour" INT NOT NULL,
       "unique_listeners" BIGINT, "diversity" DOUBLE,
       "top_value" VARCHAR(64), "load_date" DATE NOT NULL)"""
  private val StageDdl =
    s"""CREATE TABLE $StageTable ("event_id" BIGINT, "ts" TIMESTAMP,
       "user_id" BIGINT, "event_type" VARCHAR(64), "value" DOUBLE,
       "props" VARCHAR(1024), "source_file" VARCHAR(1024))"""

  def checksum(rows: Seq[Seq[Any]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r =>
      md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
