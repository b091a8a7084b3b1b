package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every public operator in `ext/`, `operators/`, `sources/` and
  * `streaming/` is reached by something the system runs. A source scan,
  * no Spark session:
  *  - a non-private, non-override member `def` is dead when its name
  *    appears nowhere in `src/main/scala` or `perfbench/scala` except at
  *    its own definition;
  *  - a top-level object is dead when no other main or perfbench file
  *    names it (this catches an object whose members share their names
  *    with live ones elsewhere).
  * A spec is not a caller: code only specs run is deleted, or listed in
  * [[ReachableSurfaceSpec.allowed]] with the reason it stays.
  */
class ReachableSurfaceSpec extends AnyFunSuite {
  import ReachableSurfaceSpec._

  test("every public operator is named by a main or perfbench file") {
    val sources = (scalaFiles("src/main/scala") ++ scalaFiles("perfbench/scala"))
      .map(p => p -> Files.readString(p)).toMap
    // a name is "named" where it stands as a whole identifier token
    val tokens = sources.map { case (p, src) =>
      p -> Token.findAllIn(src).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    }
    def uses(name: String) = tokens.values.map(_.getOrElse(name, 0)).sum
    val surface = sources.keys.toSeq.filter { p =>
      Packages.exists(pkg => p.startsWith(Paths.get("src/main/scala/graft", pkg)))
    }.sortBy(_.toString)

    val dead = surface.flatMap { p =>
      val src = sources(p)
      val owner = p.getFileName.toString.stripSuffix(".scala")
      def at(m: Regex.Match) =
        s"$p:${src.substring(0, m.start(2)).count(_ == '\n') + 1}"
      val visible = (re: Regex) => re.findAllMatchIn(src)
        .filterNot(m => Hidden.findFirstIn(m.group(1)).isDefined).toSeq
      val defs = visible(MemberDef).collect {
        case m if uses(m.group(2)) == 1 => (s"$owner.${m.group(2)}", at(m))
      }
      val objects = visible(TopObject).collect {
        case m if !tokens.exists { case (q, t) => q != p && t.contains(m.group(2)) } =>
          (m.group(2), at(m))
      }
      defs ++ objects
    }
    val unreached = dead.filterNot { case (name, _) => allowed.contains(name) }
    if (unreached.nonEmpty)
      fail(unreached.map { case (name, at) => s"$at $name" }.mkString(
        "public entries no main or perfbench file names:\n", "\n", ""))
    // an allowlist entry that is reached (or gone) no longer needs its reason
    val stale = allowed.keySet -- dead.map(_._1)
    assert(stale.isEmpty, s"allowlisted but reached or deleted: $stale")
  }

  test("array-sum aggregates extend the one shared base") {
    // an aggregate over a Long or Double array state is a LongArraySum or
    // DoubleArraySum, not a fresh copy of their serde, merge and types
    val own = scalaFiles("src/main/scala").filter { p =>
      p.getFileName.toString != "ArraySumAggregate.scala" &&
        ArrayStateAggregate.findFirstIn(Files.readString(p)).isDefined
    }
    assert(own.isEmpty, s"array-state aggregates outside the base: $own")
  }
}

object ReachableSurfaceSpec {

  private val Packages = Seq("ext", "operators", "sources", "streaming")

  /** The reference's own load step, which direction 3's `DailyLoad`
    * (ROADMAP) will run; until then only specs call these. */
  val allowed: Map[String, String] = {
    val dailyLoad = "run by direction 3's DailyLoad"
    Map(
      "RedshiftDdl" -> s"$dailyLoad: table creation",
      "RedshiftDdl.createTable" -> s"$dailyLoad: table creation",
      "RedshiftDdl.fromSchema" -> s"$dailyLoad: table creation",
      "JdbcUpsertSink.countWhere" ->
        s"$dailyLoad: the warehouse row counts a crash-retry spec compares",
      "Enrich" -> s"$dailyLoad: holds load_to_redshift.py steps P10/P11",
      "Enrich.fillMissing" -> s"$dailyLoad: load_to_redshift.py step P10",
      "Enrich.hourToTimestamp" -> s"$dailyLoad: load_to_redshift.py step P11",
      "Preview" ->
        s"$dailyLoad: the pre-load dtypes + head log (load_to_redshift.py:218-220)")
  }

  /** Modifiers (group 1) and name (group 2) of a member `def`. */
  private val MemberDef =
    """(?m)^[ \t]+((?:(?:final|implicit|lazy|inline|override|protected|private)(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)""".r

  /** Modifiers (group 1) and name (group 2) of a top-level object. */
  private val TopObject =
    """(?m)^((?:(?:final|case|private|protected)(?:\[\w+\])?\s+)*)object\s+([A-Za-z_]\w*)""".r

  private val Hidden = """\b(?:private|protected|override)\b""".r

  private val Token = """[A-Za-z0-9_]+""".r

  private val ArrayStateAggregate =
    """TypedImperativeAggregate\[\s*Array\[\s*(?:Long|Double)\s*\]\s*\]""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val stream = Files.walk(Paths.get(root))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
  }
}
