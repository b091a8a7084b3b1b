package graft.sources

import java.util.Properties

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** COPY-shaped bulk load (SURVEY.md §2.1 S9): stage the DataFrame as
  * partitioned CSV under a staging prefix, then issue the warehouse's
  * bulk-ingest statement over that prefix through JDBC — the reference's
  * Redshift COPY path (dead code there) made live
  * (reference: dags/etl/load_to_redshift.py:133-156).
  *
  * Split of labor mirrors how COPY actually scales: the DATA path is the
  * partition-parallel executor CSV write (every part file written
  * concurrently, nothing through the driver), and the warehouse ingests
  * the staged files with its own parallelism; the JDBC connection carries
  * only the one control statement. At 100 TB the staging prefix is object
  * storage and `numPartitions` sizes the files the warehouse fans in.
  *
  * Dialects are a pure function `(table, stagedDir, partFiles) =>
  * statements`, so the statement plumbing is testable without a warehouse:
  *  - [[CopyBulkSink.redshiftCopy]] emits the reference's statement shape
  *    (one COPY over the whole prefix; Redshift ingests all files in
  *    parallel).
  *  - [[CopyBulkSink.derbyImport]] maps each staged part file onto
  *    embedded Derby's real bulk path (`SYSCS_UTIL.SYSCS_IMPORT_TABLE`),
  *    so the spec exercises an actual file-to-table bulk ingest
  *    end to end, not a mocked statement.
  *
  * The dialect's statements run inside one JDBC transaction: a failure
  * rolls back whatever the transaction covers (the reference
  * commits/rolls back around its COPY the same way,
  * load_to_redshift.py:150-156). Atomicity of the WHOLE load therefore
  * depends on the dialect honoring the surrounding transaction: Redshift's
  * single COPY statement is all-or-nothing, but Derby's import procedure
  * commits internally per file, so on Derby a multi-file load is atomic
  * per file only (see [[CopyBulkSink.derbyImport]]).
  *
  * `table` and `stagingDir` are interpolated into SQL (quotes escaped in
  * path literals) — they are developer-controlled configuration, not
  * untrusted user input.
  */
final case class CopyBulkSink(url: String, props: Properties = new Properties) {

  /** Stage `df` as CSV under `stagingDir` (overwritten), then execute the
    * dialect's ingest statements transactionally. Returns the executed
    * statements (for observability/tests).
    *
    * @param writeOptions CSV writer options, layered over
    *                     [[CopyBulkSink.CsvDefaults]].
    */
  def copyLoad(df: DataFrame, table: String, stagingDir: String,
               dialect: CopyBulkSink.Dialect = CopyBulkSink.derbyImport,
               numPartitions: Int = 4, header: Boolean = false,
               writeOptions: Map[String, String] = Map.empty): Seq[String] = {
    df.repartition(numPartitions).write.mode("overwrite")
      .option("header", header).options(CopyBulkSink.CsvDefaults ++ writeOptions)
      .csv(stagingDir)
    // Enumerate staged part files via the Hadoop FS API so the same code
    // resolves local paths in tests and object-store prefixes in prod.
    val dir = new Path(stagingDir)
    val fs = dir.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .map(_.toUri.getPath).sorted.toSeq
    val statements = dialect(table, stagingDir, parts)
    Jdbc.transaction(url, props)(st => statements.foreach(st.execute))
    statements
  }
}

object CopyBulkSink {
  /** `(table, stagedDir, partFiles) => ingest statements`. */
  type Dialect = (String, String, Seq[String]) => Seq[String]

  /** Default CSV writer options, readable by both Redshift `COPY ... CSV`
    * and Derby's import: a quote inside a field is escaped by doubling it
    * (RFC 4180) — Spark's default backslash escape makes Derby stop with
    * XIE0R on any string holding a quote — and timestamps are written as
    * `yyyy-MM-dd HH:mm:ss.SSSSSS`, which both parse and which keeps the
    * microseconds Spark's default format drops. */
  val CsvDefaults: Map[String, String] = Map(
    "escape" -> "\"", "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** SQL string-literal escaping for interpolated paths: double any
    * single quote. Paths are developer-controlled, but a legitimate
    * quote in a directory name must not break (or inject into) the
    * statement. */
  private def q(s: String): String = s.replace("'", "''")

  /** The reference's COPY statement shape (load_to_redshift.py:136-146):
    * one statement over the staging prefix — the warehouse parallelizes
    * across the part files itself. `credentialsSql` is the caller's
    * auth clause (e.g. an IAM-role clause); it is interpolated verbatim
    * and never logged by this sink. `ignoreHeader` mirrors IGNOREHEADER
    * for prefixes staged with `header = true`. */
  def redshiftCopy(credentialsSql: String, ignoreHeader: Int = 0,
                   options: String = "DATEFORMAT 'auto' TIMEFORMAT 'auto'")
      : Dialect = (table, dir, _) => Seq(
    s"""COPY $table FROM '${q(dir)}'
        $credentialsSql
        CSV
        IGNOREHEADER $ignoreHeader
        $options""")

  /** Embedded Derby's genuine bulk-ingest path: one
    * `SYSCS_UTIL.SYSCS_IMPORT_TABLE` call per staged part file (Derby
    * takes single files, not prefixes; NULL delimiters = CSV defaults,
    * final 0 = append, matching COPY semantics). Table name is passed
    * uppercase because unquoted DDL identifiers fold upper in Derby.
    * Caveat: Derby's import procedure commits internally, so on Derby a
    * multi-file load is atomic per FILE, not per load — unlike Redshift,
    * whose COPY ingests the whole prefix in one atomic statement. */
  val derbyImport: Dialect = (table, _, files) => files.map(f =>
    s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, '${q(table.toUpperCase)}', '${q(f)}', NULL, NULL, NULL, 0)")
}
