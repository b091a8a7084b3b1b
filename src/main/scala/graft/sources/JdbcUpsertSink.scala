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
  * keys in the batch — no data flows back through the driver. The
  * delete+insert form is the reference's own and the portable common
  * denominator (works on Redshift, Postgres, Derby).
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

  private def quote(c: String): String = "\"" + c + "\""

  /** Post-load QC (reference's dead code A8, made live): row count for a
    * load date, fetched through one connection. */
  def countWhere(table: String, predicate: String): Long = withStatement { st =>
    val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table WHERE $predicate")
    rs.next(); rs.getLong(1)
  }
}
