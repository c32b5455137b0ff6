package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The duplicate-operator guard (round 7, VERDICT r6 item 8): every
  * PUBLIC top-level member of the operator surface must be named in
  * COVERAGE.md. Twice in round 6 an existing operator was re-implemented
  * because the coverage check was manual (trendSlopes, anonymityAudit —
  * a full write-test-revert cycle each); this spec makes the discipline
  * mechanical in both directions: search COVERAGE.md before writing,
  * list the operator after writing or the build goes red.
  *
  * Also guards that every session comes from [[Session.local]].
  *
  * Pure file parsing — no SparkSession; runs in milliseconds.
  */
class CoverageGuardSpec extends AnyFunSuite {

  // top-level members of an object/class body in this codebase are
  // indented exactly two spaces; nested local defs sit deeper and are
  // implementation detail, not API. The modifier chain is captured so
  // `final def` / `implicit def` / `lazy def` members can't slip past
  // the guard; excluded are private/protected visibility AND
  // `override` (an override implements an EXISTING interface — e.g.
  // Catalyst Expression's dataType/nullSafeEval — so it cannot be a
  // duplicated new operator, the failure mode this guard exists for).
  private val MemberDef =
    """(?m)^  ((?:(?:private|protected)(?:\[\w+\])?|final|implicit|override|lazy)\s+)*def\s+(\w+)""".r

  private def publicMembers(dir: String): Seq[(String, String)] = {
    val d = Paths.get(s"src/main/scala/graft/$dir")
    val listing = Files.list(d)
    val files =
      try listing.iterator().asScala.toSeq finally listing.close()
    files
      .filter(_.toString.endsWith(".scala"))
      .sortBy(_.toString)
      .flatMap { f =>
        val src = Files.readString(f)
        MemberDef.findAllMatchIn(src).collect {
          case m if !m.matched.contains("private") &&
              !m.matched.contains("protected") &&
              !m.matched.contains("override") =>
            (f.getFileName.toString, m.group(2))
        }
      }
  }

  test("every public operator member is documented in COVERAGE.md") {
    val cov = Files.readString(Paths.get("COVERAGE.md"))
    val surfaces = Seq("operators", "functions", "streaming", "sources")
    val missing = surfaces.flatMap(publicMembers).distinct.filterNot {
      case (_, name) => ("""\b""" + java.util.regex.Pattern.quote(name) +
        """\b""").r.findFirstIn(cov).isDefined
    }
    assert(missing.isEmpty,
      s"\npublic members not documented in COVERAGE.md (add a row or an " +
        s"appendix entry BEFORE shipping — or make the member private if " +
        s"it is an implementation detail):\n  " +
        missing.map { case (f, n) => s"$f: $n" }.mkString("\n  "))
  }

  test("graft.Session is the only place in src/ that builds a SparkSession") {
    // split so this file does not match its own search
    val builder = "SparkSession" + ".builder"
    val walk = Files.walk(Paths.get("src"))
    val builders =
      try walk.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala"))
        .filter(f => Files.readString(f).contains(builder))
        .map(_.toString)
      finally walk.close()
    assert(builders == Seq("src/main/scala/graft/Session.scala"),
      s"only graft.Session may call $builder; use Session.local instead")
  }

  test("the guard itself sees a realistic member count (not a regex rot)") {
    // if the indentation convention or regex drifts, the member scan
    // collapses toward zero and the main test passes vacuously — pin a
    // floor on what it extracts (222 operator members as of round 7)
    val n = publicMembers("operators").size
    assert(n >= 200, s"operator member scan found only $n defs — " +
      "the MemberDef regex or file layout convention has drifted")
  }
}
