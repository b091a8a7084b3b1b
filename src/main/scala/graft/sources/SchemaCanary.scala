package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Physical-schema canary over the driver testdata.
  *
  * Round 8 incident: the driver regenerated `/root/testdata` and `events.ts`
  * changed physical type (parquet TIMESTAMP(NANOS) → plain `timestamp[us]`,
  * which Spark reads as TIMESTAMP_NTZ). Nothing guarded the ingestion
  * contract, so four queries failed ANALYSIS and silently vanished from the
  * round's correctness artifact — no error row anywhere. This canary turns
  * the next such drift into ONE named failure: each table's columns are
  * checked against the set of physical encodings the engine actually
  * normalizes (Tables.table) or tolerates downstream.
  *
  * Accepted sets encode engine capability, not history: `events.ts` may be
  * Long nanos (legacy, normalized by integer-div), TIMESTAMP_NTZ (cast under
  * forced UTC), or TIMESTAMP; other timestamp columns may be NTZ or TIMESTAMP
  * (a nanos-long regen there would NOT be normalized today, so the canary
  * names it instead of letting queries break). Integer columns accept either
  * width — both sides of the oracle read the same file, so a width flip stays
  * consistent. A float→double flip on a value column changes results and is
  * named.
  */
object SchemaCanary {

  private val i: Set[DataType] = Set(IntegerType, LongType)
  private val s: Set[DataType] = Set(StringType)
  private val d: Set[DataType] = Set(DoubleType)
  private val ts: Set[DataType] = Set(TimestampNTZType, TimestampType)
  // events.ts only: Long nanos arrives via spark.sql.legacy.parquet.nanosAsLong
  private val eventTs: Set[DataType] = ts + LongType
  private val vec: Set[DataType] = Set(ArrayType(FloatType), ArrayType(FloatType, containsNull = true),
    ArrayType(FloatType, containsNull = false))

  /** Column → accepted physical (as-read) Spark types, per table. */
  val expected: Seq[(String, Seq[(String, Set[DataType])])] = Seq(
    "region" -> Seq("r_regionkey" -> i, "r_name" -> s),
    "nation" -> Seq("n_nationkey" -> i, "n_name" -> s, "n_regionkey" -> i),
    "customer" -> Seq("c_custkey" -> i, "c_name" -> s, "c_nationkey" -> i,
      "c_acctbal" -> d, "c_mktsegment" -> s),
    "supplier" -> Seq("s_suppkey" -> i, "s_name" -> s, "s_nationkey" -> i,
      "s_acctbal" -> d),
    "part" -> Seq("p_partkey" -> i, "p_name" -> s, "p_brand" -> s,
      "p_type" -> s, "p_size" -> i, "p_retailprice" -> d),
    "orders" -> Seq("o_orderkey" -> i, "o_custkey" -> i, "o_orderstatus" -> s,
      "o_totalprice" -> d, "o_orderdate" -> ts, "o_orderpriority" -> s),
    "lineitem" -> Seq("l_orderkey" -> i, "l_partkey" -> i, "l_suppkey" -> i,
      "l_linenumber" -> i, "l_quantity" -> d, "l_extendedprice" -> d,
      "l_discount" -> d, "l_tax" -> d, "l_returnflag" -> s,
      "l_linestatus" -> s, "l_shipdate" -> ts),
    "events" -> Seq("event_id" -> i, "ts" -> eventTs, "user_id" -> i,
      "event_type" -> s, "value" -> d, "props" -> s),
    "documents" -> Seq("doc_id" -> i, "text" -> s, "lang" -> s,
      "source" -> s, "n_chars" -> i),
    "embeddings" -> Seq("vec_id" -> i, "embedding" -> vec, "label" -> i)
  )

  /** Named drift errors for every table under `dir`; empty = contract holds.
    * Extra (undeclared) columns are ignored — additive regens are harmless.
    * Schema-only: parquet footer reads (Spark may run a tiny driver-local
    * inference job), no data scanned — effectively free at any scale. */
  def errors(spark: SparkSession, dir: String): Seq[String] =
    expected.flatMap { case (table, cols) =>
      val path = s"$dir/$table.parquet"
      val actual =
        try Right(spark.read.parquet(path).schema)
        catch { case NonFatal(e) =>
          Left(s"$table: unreadable at $path (${e.getClass.getSimpleName})") }
      actual match {
        case Left(err) => Seq(err)
        case Right(schema) =>
          val byName = schema.map(f => f.name -> f.dataType).toMap
          cols.flatMap { case (c, accepted) =>
            byName.get(c) match {
              case None => Some(s"$table.$c: column missing " +
                s"(present: ${schema.map(_.name).mkString(", ")})")
              case Some(t) if !accepted.contains(t) =>
                Some(s"$table.$c: physical type ${t.simpleString} not in " +
                  s"accepted {${accepted.map(_.simpleString).mkString(", ")}} " +
                  "— testdata schema drifted; update graft.sources.Tables " +
                  "normalization before trusting query results")
              case _ => None
            }
          }
      }
    }
}
