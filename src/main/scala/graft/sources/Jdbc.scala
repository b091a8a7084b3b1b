package graft.sources

import java.sql.{Connection, DriverManager, Statement}
import java.util.Properties

/** JDBC plumbing shared by the warehouse sinks ([[JdbcUpsertSink]],
  * [[CopyBulkSink]]): one connection per call, closed on exit. */
private[sources] object Jdbc {

  def connect[A](url: String, props: Properties)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  def statement[A](c: Connection)(f: Statement => A): A = {
    val st = c.createStatement()
    try f(st) finally st.close()
  }

  /** Run `f` on one connection inside one transaction: commit on success,
    * roll back and rethrow on any throw; auto-commit is restored before
    * the connection closes. */
  def transaction[A](url: String, props: Properties)(f: Statement => A): A =
    connect(url, props) { c =>
      c.setAutoCommit(false)
      try statement(c) { st =>
        try { val r = f(st); c.commit(); r }
        catch { case e: Throwable => c.rollback(); throw e }
      } finally c.setAutoCommit(true)
    }

  /** Whether `table` exists; unquoted identifiers fold upper (Derby, ANSI). */
  def tableExists(c: Connection, table: String): Boolean = {
    val rs = c.getMetaData.getTables(null, null, table.toUpperCase, null)
    try rs.next() finally rs.close()
  }
}
