package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every public entry in `ext/`, `functions/`, `operators/`, `plans/`,
  * `registry/`, `sources/` and `streaming/` is reached by something the
  * system runs. A source scan, no Spark session, over the code with its
  * comments removed (string literals stay, since generated code and SQL
  * name members there):
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
      .map(p => p.toString -> Files.readString(p)).toMap
    val dead = unreached(sources, p =>
      Packages.exists(pkg => Paths.get(p).startsWith(Paths.get("src/main/scala/graft", pkg))))
    val unlisted = dead.filterNot { case (name, _) => allowed.contains(name) }
    if (unlisted.nonEmpty)
      fail(unlisted.map { case (name, at) => s"$at $name" }.mkString(
        "public entries no main or perfbench file names:\n", "\n", ""))
    // an allowlist entry that is reached (or gone) no longer needs its reason
    val stale = allowed.keySet -- dead.map(_._1)
    assert(stale.isEmpty, s"allowlisted but reached or deleted: $stale")
  }

  test("a name only in comments is dead; in a string, a use") {
    val lib = """object Lib {
      |  def inLine = 1
      |  def inNested = 2
      |  def inDoc = 3
      |  def inPlain = 4
      |  def inInterp = 5
      |  def inTriple = 6
      |  def afterSlashes = 7
      |}
      |""".stripMargin
    val main = """object Main {
      |  val lib = Lib // inLine
      |  /* outer /* inner */ inNested */
      |  /** Scaladoc: [[Lib.inDoc]]. */
      |  val a = "inPlain"
      |  val b = s"${Seq("x").mkString("/*")} inInterp"
      |  val c = '''inTriple'''
      |  val d = "//"; val e = Lib.afterSlashes
      |}
      |""".stripMargin.replace("'''", "\"\"\"")
    val dead = unreached(Map("lib/Lib.scala" -> lib, "Main.scala" -> main), _.startsWith("lib/"))
    assert(dead == Seq(
      "Lib.inLine" -> "lib/Lib.scala:2",
      "Lib.inNested" -> "lib/Lib.scala:3",
      "Lib.inDoc" -> "lib/Lib.scala:4"))
    // blanking keeps every offset, so line numbers still point at the source
    assert(stripComments(main).length == main.length)
    assert(stripComments(main).count(_ == '\n') == main.count(_ == '\n'))
  }

  test("no library code catches Throwable") {
    // a fatal error (OOM, interrupt, linkage) must unwind untouched:
    // cleanup that has to run on every throw goes in a `finally`
    val catching = scalaFiles("src/main/scala").filter(p =>
      CatchThrowable.findFirstIn(stripComments(Files.readString(p))).isDefined)
    assert(catching.isEmpty, s"catch Throwable in library code: $catching")
    assert(CatchThrowable.findFirstIn(
      "try f() catch { case e: Throwable => throw e }").isDefined)
    assert(CatchThrowable.findFirstIn(
      "catch {\n  case _: java.lang.Throwable => ()\n}").isDefined)
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

  private val Packages =
    Seq("ext", "functions", "operators", "plans", "registry", "sources", "streaming")

  /** Entries only specs call, each with the reason it stays: the
    * reference's own load step, which direction 3's `DailyLoad` (ROADMAP)
    * will run, or the reference twin a spec compares a live path with. */
  val allowed: Map[String, String] = {
    val dailyLoad = "run by direction 3's DailyLoad"
    def twin(live: String, spec: String) =
      s"reference twin of $live, compared in spec $spec"
    Map(
      "RedshiftDdl" -> s"$dailyLoad: table creation",
      "RedshiftDdl.createTable" -> s"$dailyLoad: table creation",
      "RedshiftDdl.fromSchema" -> s"$dailyLoad: table creation",
      "RedshiftDdl.toAnsi" -> s"$dailyLoad: table creation on Derby",
      "JdbcUpsertSink.countWhere" ->
        s"$dailyLoad: the warehouse row counts a crash-retry spec compares",
      "Enrich" -> s"$dailyLoad: holds load_to_redshift.py steps P10/P11",
      "Enrich.fillMissing" -> s"$dailyLoad: load_to_redshift.py step P10",
      "Enrich.hourToTimestamp" -> s"$dailyLoad: load_to_redshift.py step P11",
      "Preview" ->
        s"$dailyLoad: the pre-load dtypes + head log (load_to_redshift.py:218-220)",
      "Preview.preview" ->
        s"$dailyLoad: the pre-load dtypes + head log (load_to_redshift.py:218-220)",
      "ProductQuant.encode" -> twin("ProductQuant.encodePacked",
        "ProductQuantSpec \"packed codes round-trip the array codes bit-exactly\""),
      "Retrieval.hashedDenseTopK" -> twin("Retrieval.hybridRrfTopDocs' dense leg",
        "RetrievalSpec \"hybridRrfTopDocs (shared postings frame) equals the " +
          "two-tokenize composition row for row\""))
  }

  /** (name, `file:line`) of every public member `def` and top-level object
    * in a file of `sources` that `inSurface` selects and that no code in
    * `sources` names; comments are removed first. */
  def unreached(sources: Map[String, String], inSurface: String => Boolean)
      : Seq[(String, String)] = {
    val code = sources.map { case (p, src) => p -> stripComments(src) }
    // a name is "named" where it stands as a whole identifier token
    val tokens = code.map { case (p, src) =>
      p -> Token.findAllIn(src).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    }
    def uses(name: String) = tokens.values.map(_.getOrElse(name, 0)).sum
    code.keys.toSeq.filter(inSurface).sorted.flatMap { p =>
      val src = code(p)
      val owner = p.split('/').last.stripSuffix(".scala")
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
  }

  /** `src` with its comments blanked: `//` to the end of the line and
    * nested `/* */` (scaladoc too) become spaces and newlines stay, so
    * every offset and line number is unchanged. String and char literals,
    * `s"…"` and `"""…"""` with their `${…}` splices, are kept. */
  def stripComments(src: String): String = {
    val out = new StringBuilder(src)
    val n = src.length
    def blank(from: Int, until: Int): Unit =
      for (k <- from until until if src(k) != '\n') out(k) = ' '
    def isInterpolated(quote: Int) =
      quote > 0 && (src(quote - 1).isLetterOrDigit || src(quote - 1) == '_')
    // code from `i` to the first unmatched '}' (the end of a splice) or `n`
    def code(start: Int): Int = {
      var i = start
      var depth = 0
      while (i < n) {
        if (src.startsWith("//", i)) {
          val end = if (src.indexOf('\n', i) < 0) n else src.indexOf('\n', i)
          blank(i, end); i = end
        } else if (src.startsWith("/*", i)) {
          val end = comment(i); blank(i, end); i = end
        } else if (src.startsWith("\"\"\"", i)) i = string(i + 3, triple = true, isInterpolated(i))
        else if (src(i) == '"') i = string(i + 1, triple = false, isInterpolated(i))
        else if (src(i) == '\'') i = charLiteral(i)
        else if (src(i) == '{') { depth += 1; i += 1 }
        else if (src(i) == '}' && depth == 0) return i
        else { if (src(i) == '}') depth -= 1; i += 1 }
      }
      n
    }
    def comment(start: Int): Int = {
      var i = start + 2
      var depth = 1
      while (i < n && depth > 0) {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else i += 1
      }
      i
    }
    // the index just past the literal's closing quote(s)
    def string(start: Int, triple: Boolean, interpolated: Boolean): Int = {
      var i = start
      while (i < n) {
        if (triple && src.startsWith("\"\"\"", i)) {
          while (i + 3 < n && src(i + 3) == '"') i += 1
          return i + 3
        } else if (!triple && (src(i) == '"' || src(i) == '\n')) return i + 1
        else if (!triple && src(i) == '\\') i += 2
        else if (interpolated && src.startsWith("${", i)) i = code(i + 2) + 1
        else if (interpolated && src(i) == '$') i += 2
        else i += 1
      }
      n
    }
    def charLiteral(i: Int): Int =
      if (i + 2 < n && src(i + 1) != '\\' && src(i + 2) == '\'') i + 3
      else if (i + 1 < n && src(i + 1) == '\\') {
        val close = src.indexOf('\'', i + 3)
        if (close > 0 && close <= i + 7) close + 1 else i + 1
      } else i + 1
    var i = 0
    while (i < n) i = code(i) + 1
    out.toString
  }

  /** Modifiers (group 1) and name (group 2) of a member `def`. */
  private val MemberDef =
    """(?m)^[ \t]+((?:(?:final|implicit|lazy|inline|override|protected|private)(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)""".r

  /** Modifiers (group 1) and name (group 2) of a top-level object. */
  private val TopObject =
    """(?m)^((?:(?:final|case|private|protected)(?:\[\w+\])?\s+)*)object\s+([A-Za-z_]\w*)""".r

  private val Hidden = """\b(?:private|protected|override)\b""".r

  private val Token = """[A-Za-z0-9_]+""".r

  /** A `case` pattern typed `Throwable`, the form a catch-all takes. */
  private val CatchThrowable = """\bcase\s+\w+\s*:\s*(?:java\.lang\.)?Throwable\b""".r

  private val ArrayStateAggregate =
    """TypedImperativeAggregate\[\s*Array\[\s*(?:Long|Double)\s*\]\s*\]""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val stream = Files.walk(Paths.get(root))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
  }
}
