package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each derivation below has one home in the operator, streaming and
  * function sources; a copy spelled by hand anywhere else fails here.
  * Read without a Spark session: comments are blanked, strings kept,
  * and runs of whitespace fold to one space so a spelling split over
  * lines still matches. */
class SpellingSpec extends AnyFunSuite {

  private val dirs = Seq("src/main/scala/graft/operators",
    "src/main/scala/graft/streaming", "src/main/scala/graft/functions")

  /** (what, pattern, the times it is spelled in each home file). A
    * grid with a Column form and a scalar twin is spelled once for
    * each. */
  private val homes = Seq(
    ("the half-up cent grid (Behavior.cents)",
      """\* ?(?:lit\()?100\)? \+ (?:lit\()?0\.5\)?\) ?\.cast\("long"\)""",
      Map("Behavior.scala" -> 1)),
    ("the truncating micro grid (Behavior.microDown)",
      """floor\([^;]*?\* ?(?:lit\()?(?:1e6|1000000\.0)\)?\) ?\.cast\("long"\)""",
      Map("Behavior.scala" -> 1)),
    ("the truncating cent grid (Behavior.centsDown)",
      """floor\([^;]*?\* ?(?:lit\()?100\)?\) ?\.cast\("long"\)""",
      Map("Behavior.scala" -> 1)),
    ("the net line value (Warehouse.netC100)",
      """lit\(100L\) ?- ?(?:(?:Behavior\.)?cents\(|floor\()col\("l_discount"\)""",
      Map("Warehouse.scala" -> 1)),
    ("the exact-sum type (Behavior.Dec)", """(?i)decimal\(38, ?0\)""",
      Map("Behavior.scala" -> 1)),
    ("the item key (Behavior.itemOrNull)",
      """get_json_object\(col\("props"\), "\$\.k"\)""",
      Map("Behavior.scala" -> 1)),
    ("the session-start flag (EventAnalytics.sessionTagged)",
      """withColumn\("is_new"""", Map("EventAnalytics.scala" -> 1)),
    ("the funnel conversion (Behavior.convPct)",
      """\* 100 \* 100 \+ 0\.5\)""", Map("Behavior.scala" -> 1)),
    ("the half-up 1e-6 grids (Behavior.micro, TextF.round6HalfUp)",
      """\* ?(?:lit\()?1e6\)? \+ (?:lit\()?0\.5\b""",
      Map("Behavior.scala" -> 2, "TextF.scala" -> 2)),
    ("the half-up 1e-4 grids (TextF.grid4, TextF.round4HalfUp)",
      """\* ?(?:lit\()?1e4\)? \+ (?:lit\()?0\.5\b""",
      Map("TextF.scala" -> 2)),
    ("the micros to 4 dp rounding (TextF.microsTo4dp)",
      """/ ?(?:lit\()?100(?:\.0)?\)? \+ (?:lit\()?0\.5\)?\) ?/ ?(?:lit\()?1e4""",
      Map("TextF.scala" -> 2)),
    ("the day length (SequentialMonitor.DayMs)", """\b86400000(?:000)?L\b""",
      Map("SequentialMonitor.scala" -> 1)),
    ("the epoch-day read (SequentialMonitor.epochDay)", """floorDiv\(""",
      Map("SequentialMonitor.scala" -> 2)),
    ("the experiment arm salt (Behavior.arm2)", """"ab:""",
      Map("Behavior.scala" -> 1)),
    ("the event-stream lateness (EventStreamJob.Lateness)",
      """"2 hours"""", Map("EventStreamJob.scala" -> 1,
        "StreamingFunnel.scala" -> 1)))

  /** `src` with comments blanked and whitespace folded. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val e = src.indexOf("*/", i + 2)
        i = if (e < 0) src.length else e + 2
        out += ' '
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        val end = if (e < 0) src.length else e + 3
        out ++= src.substring(i, end)
        i = end
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val end = math.min(j + 1, src.length)
        out ++= src.substring(i, end)
        i = end
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3) // a char literal such as '"'
        i += 3
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString.replaceAll("""\s+""", " ")
  }

  private lazy val sources: Seq[(String, String)] = dirs.flatMap { d =>
    Files.list(Paths.get(d)).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.getFileName.toString -> code(Files.readString(p)))
  }

  test("the operator sources are where this spec looks") {
    assert(sources.map(_._1).toSet.contains("Behavior.scala"),
      s"no operator sources under ${dirs.mkString(", ")}")
  }

  homes.foreach { case (what, pattern, home) =>
    test(s"spelled once, in its home: $what") {
      val counts = sources.map { case (file, text) =>
        file -> pattern.r.findAllMatchIn(text).size
      }.filter(_._2 > 0).toMap
      assert(counts == home, s"$what: expected $home only, found $counts")
    }
  }
}
