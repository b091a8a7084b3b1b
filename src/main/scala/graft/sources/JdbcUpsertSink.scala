package graft.sources

import java.sql.Statement
import java.util.Properties

import org.apache.spark.sql.DataFrame

/** Idempotent warehouse upsert: staging table + transactional
  * delete-then-insert keyed on (business keys, load-date) — the reference's
  * load path re-expressed on Spark's batched JDBC writer.
  *
  * Reference behavior reimplemented (SURVEY.md §2.1 S6-S8, §3.3):
  *  - DDL if-not-exists            (reference: dags/etl/load_to_redshift.py:77-115)
  *  - temp/staging table load — but batched `df.write.jdbc`, NOT the
  *    reference's per-row INSERT loop (:164-184, its perf bottleneck)
  *  - `BEGIN; DELETE FROM target USING staging ON keys+load_date;
  *    INSERT...SELECT; COMMIT`      (:186-203, :293-310)
  *
  * Idempotence contract: re-running the same batch leaves the target
  * unchanged (delete scope == insert scope == the batch's key×date set).
  *
  * Scale posture: the staging write is the only data-volume path and it is
  * partition-parallel (`numPartitions` connections, `batchsize` rows per
  * round trip). The upsert transaction is warehouse-side SQL touching only
  * keys in the batch — no data flows back through the driver. On warehouses
  * with native MERGE the post-action collapses to one statement; the
  * delete+insert form is the portable common denominator (works on
  * Redshift, Postgres, Derby).
  */
final case class JdbcUpsertSink(url: String, props: Properties = new Properties) {

  /** One statement on its own connection. */
  private def withStatement[A](f: Statement => A): A =
    Jdbc.connect(url, props)(c => Jdbc.statement(c)(f))

  /** On one connection, run `sql` iff whether `table` exists equals
    * `exists` (create-if-missing, drop-if-present). */
  private def executeIf(table: String, exists: Boolean, sql: String): Unit =
    Jdbc.connect(url, props) { c =>
      if (Jdbc.tableExists(c, table) == exists)
        Jdbc.statement(c)(_.execute(sql))
    }

  /** S6: create target if missing. `ddl` is dialect-specific DDL. */
  def ensureTable(ddl: String, table: String): Unit =
    executeIf(table, exists = false, ddl)

  /** S7+S8: batched staging write, then transactional delete+insert upsert.
    *
    * @param keyCols     business key columns (e.g. genre)
    * @param dateCol     load-date column completing the upsert key
    * @param numPartitions parallel JDBC connections for the staging write
    */
  def upsert(df: DataFrame, table: String, keyCols: Seq[String], dateCol: String,
             numPartitions: Int = 4, batchSize: Int = 10000): Unit = {
    val staging = s"${table}_staging"
    stageBatch(df, staging, numPartitions, batchSize)
    val cols = df.columns.map(quote).mkString(", ")
    val keyMatch = (keyCols :+ dateCol)
      .map(k => s"t.${quote(k)} = s.${quote(k)}").mkString(" AND ")
    Jdbc.transaction(url, props) { st =>
      // Derby lacks DELETE...USING; the EXISTS form is equivalent and
      // portable (same rows: target matching any staged key+date).
      st.executeUpdate(
        s"""DELETE FROM $table t WHERE EXISTS (
            SELECT 1 FROM $staging s WHERE $keyMatch)""")
      st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $staging")
    }
  }

  /** Staging load shared by [[upsert]] and [[mergeUpsert]]: drop + batched
    * partition-parallel rewrite. */
  private def stageBatch(df: DataFrame, staging: String,
                         numPartitions: Int, batchSize: Int): Unit = {
    // Drop + rewrite staging (overwrite semantics without DDL surprises).
    executeIf(staging, exists = true, s"DROP TABLE $staging")
    // Force VARCHAR for string columns in the staging DDL — some dialects
    // (Derby) default StringType to CLOB, which is not comparable to the
    // VARCHAR business keys of the target table.
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(1024)")
    val writer = df.repartition(numPartitions).write
      .option("batchsize", batchSize)
    (if (stringCols.nonEmpty)
       writer.option("createTableColumnTypes", stringCols.mkString(", "))
     else writer)
      .jdbc(url, staging, props)
  }

  /** S8 on MERGE dialects (Derby >= 10.11, Postgres >= 15, Redshift,
    * Snowflake, BigQuery): the delete+insert pair collapses to ONE atomic
    * `MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`
    * statement — no explicit transaction needed, and matched rows update
    * in place instead of churning delete+insert.
    *
    * Contract difference vs [[upsert]]: the staged batch must be UNIQUE on
    * (keyCols, dateCol) — MERGE raises on duplicate matches (the
    * delete+insert form would insert all duplicates). Same idempotence:
    * re-running the same batch leaves the target unchanged. */
  def mergeUpsert(df: DataFrame, table: String, keyCols: Seq[String],
                  dateCol: String, numPartitions: Int = 4,
                  batchSize: Int = 10000): Unit =
    mergeUpsertKeys(df, table, keyCols :+ dateCol, numPartitions, batchSize)

  /** [[mergeUpsert]] core with an arbitrary key set (no load-date
    * convention), for tables whose business key IS the whole upsert
    * key. */
  def mergeUpsertKeys(df: DataFrame, table: String, keys: Seq[String],
                      numPartitions: Int = 4, batchSize: Int = 10000): Unit = {
    val staging = s"${table}_staging"
    stageBatch(df, staging, numPartitions, batchSize)
    val keyMatch = keys.map(k => s"t.${quote(k)} = s.${quote(k)}").mkString(" AND ")
    val nonKey = df.columns.filterNot(keys.contains)
    val cols = df.columns.map(quote).mkString(", ")
    val values = df.columns.map(c => s"s.${quote(c)}").mkString(", ")
    // A key-only batch has nothing to UPDATE — an empty SET clause would be
    // malformed SQL, so emit the insert-only MERGE (matched rows are already
    // identical by definition of the match condition).
    val matchedClause =
      if (nonKey.isEmpty) ""
      else {
        val setClause = nonKey.map(c => s"${quote(c)} = s.${quote(c)}").mkString(", ")
        s"WHEN MATCHED THEN UPDATE SET $setClause"
      }
    withStatement(_.executeUpdate(
      s"""MERGE INTO $table t USING $staging s ON $keyMatch
          $matchedClause
          WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($values)"""))
  }

  private def quote(c: String): String = "\"" + c + "\""

  /** Post-load QC (reference's dead code A8, made live): row count for a
    * load date, fetched through one connection. */
  def countWhere(table: String, predicate: String): Long = withStatement { st =>
    val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table WHERE $predicate")
    rs.next(); rs.getLong(1)
  }
}
