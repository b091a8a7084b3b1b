package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Helpers the bench and probe lanes share: materialization, quantiles,
  * number formatting, the query filter and the JSON string escaper. */
private[graft] object Lane {

  /** Fully materialize a query result. `df.count()` lets Catalyst rewrite
    * the action into an aggregate over the child plan, which for a
    * projection-only query can short-circuit actual column production
    * (parquet count-from-metadata; MalformedRecordsSpec documents
    * count-only plans parsing nothing). `toRdd.count()` runs the
    * executed plan exactly as registered (AQE included) and drains every
    * partition iterator, so every row is actually produced. */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Nearest-rank `p` quantile of `xs`; -1 when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) -1.0
    else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  def f1(d: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, d)
  def f2(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)
  def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** A scale-factor directory of the standard test data (TESTDATA.md). */
  def testData(sf: String): String = s"/root/testdata/$sf"

  /** SPARK_GRAFT_BENCH_ONLY=a,b,c: subset filter for local iteration on
    * specific queries (unset = full run). */
  def benchOnly: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

  /** The registered queries, restricted to `only` when given. */
  def queries(only: Option[Set[String]])
      : Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }

  /** JSON string literal. Escapes backslash, quote, and ALL control chars
    * (< 0x20) — a tab or CR in hand-written oracle SQL would otherwise
    * make a strict json.load of oracle_sql.json fail and silently drop the
    * whole correctness check; error messages in bench artifacts likewise. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
