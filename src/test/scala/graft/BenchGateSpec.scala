package graft

import java.nio.file.{Files, Path}
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate on synthetic history and allowlist files
  * (no Spark): the rule, which history lines set floors, the allowlist,
  * malformed history and the per-family selftest. */
class BenchGateSpec extends AnyFunSuite {
  import BenchGate._
  import SparkTestSession.withTempDir

  private val Sf = "/data/sf0.1"

  /** Each test's temp dirs live under one root, deleted after the test. */
  private var root: Path = _
  override def withFixture(test: NoArgTest): Outcome =
    withTempDir("benchgate") { r => root = r; super.withFixture(test) }

  private def write(name: String, lines: String*): Path = {
    val p = root.resolve(name)
    Files.writeString(p, lines.mkString("\n"))
    p
  }

  private def line(fields: String, queries: String): String = s"""{$fields,"queries":{$queries}}"""

  /** Stdout of `f`, and its result. */
  private def captured[A](f: => A): (A, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val a = Console.withOut(out)(f)
    (a, out.toString)
  }

  test("the rule needs both halves: over 1.5x AND more than 1 s over the floor") {
    assert(!regressed(1.9, 1.0))  // 1.9x, but only 0.9 s over
    assert(!regressed(4.2, 3.0))  // 1.2 s over, but only 1.4x
    assert(regressed(2.1, 1.0))   // 2.1x and 1.1 s over
    assert(!regressed(2.0, 1.0))  // exactly 1 s over is not more
    assert(!regressed(4.5, 3.0))  // exactly 1.5x is not more
    assert(Factor == 1.5 && Slack == 1.0)
  }

  test("floors: green lines at this sf only; retired, other-sf and the identical run skipped") {
    val cur = """"a":9.0,"b":9.0"""
    val h = write("bench_history.jsonl",
      line(s""""sf":"$Sf","gate":"green"""", """"a":2.0,"b":5.0"""),
      line(s""""sf":"$Sf","gate":"green"""", """"a":3.0,"b":4.0,"c":7.0"""),
      line(s""""sf":"$Sf","gate":"red"""", """"a":0.5"""),
      line(s""""sf":"$Sf","gate":"dev"""", """"b":0.5"""),
      line(s""""sf":"$Sf"""", """"c":0.5"""),                                 // pre-gate: no gate field
      line(s""""sf":"$Sf","gate":"green","retired":"older registry era"""", """"a":0.1"""),
      line(""""sf":"/data/sf0.001","gate":"green"""", """"b":0.1"""),
      "",
      line(s""""sf":"$Sf","gate":"green"""", cur))                           // the current run itself
    val exclude = Map("a" -> 9.0, "b" -> 9.0)
    assert(floors(h, Sf, exclude) == Map("a" -> 2.0, "b" -> 4.0, "c" -> 7.0))
    // without the exclusion the appended current run is just one more green line
    assert(floors(h, Sf, Map.empty) == Map("a" -> 2.0, "b" -> 4.0, "c" -> 7.0))
    assert(floors(h, "/data/sf0.001", Map.empty) == Map("b" -> 0.1))
    assert(floors(h.resolveSibling("absent.jsonl"), Sf, Map.empty).isEmpty)
  }

  test("a malformed history line throws naming the file and its line number") {
    val good = line(s""""sf":"$Sf","gate":"green"""", """"a":1.0""")
    for (bad <- Seq("""{"sf":"x","gate":"green","queries":{"a":1.0}""", "[1,2]",
                    s"""{"sf":"$Sf","gate":"green"}""", line(s""""sf":"$Sf","gate":"green"""", """"a":"fast""""))) {
      val h = write("bench_history.jsonl", good, "", bad, good)
      val e = intercept[IllegalArgumentException] { floors(h, Sf, Map.empty) }
      assert(e.getMessage.contains(s"$h:3"), e.getMessage)
    }
  }

  test("failures: regressed lines by name; an allowlisted one and a line with no floor pass") {
    val allowPath = write("bench_allowlist.json", """{"b": "deliberate persist, see plan note"}""")
    val allow = allowlist(allowPath)
    assert(allow == Map("b" -> "deliberate persist, see plan note"))
    assert(allowlist(allowPath.resolveSibling("absent.json")).isEmpty)
    val best = Map("a" -> 1.0, "b" -> 1.0, "c" -> 3.0, "z" -> 0.2)
    val cur = Map("z" -> 5.0, "a" -> 1.4, "b" -> 9.0, "c" -> 4.2, "new" -> 99.0)
    assert(failures(cur, best, allow) == Seq(Regression("z", 5.0, 0.2)))
    assert(failures(cur, best, Map.empty).map(_.line) == Seq("b", "z"))
  }

  test("selftest plants the highest-floor non-allowlisted line of each family and catches it") {
    val best = Map("q_small" -> 1.0, "q_big" -> 4.0, "q_allowed" -> 9.0,
      "pool:p" -> 2.0, "stream:s" -> 0.3, "q_red" -> 0.5)
    // the real run is already red (q_red), so any-failure would pass vacuously
    val cur = best.updated("q_red", 2.0)
    val allow = Map("q_allowed" -> "reason")
    assert(failures(cur, best, allow).map(_.line) == Seq("q_red"))
    val (ok, out) = captured(selftest(cur, best, allow))
    assert(ok, out)
    assert(out.contains("planting query victim q_big at 12.00s"))
    assert(out.contains("planting pool victim pool:p at 6.00s"))
    assert(out.contains("planting stream victim stream:s at 2.30s")) // floor + 2 s beats 3x
    assert(out.contains("REGRESSION stream:s: 2.30s vs historical best 0.30s"))
    assert(out.contains("selftest PASS"))
  }

  test("selftest fails when the gate misses its victim, even on a red real run") {
    val best = Map("q_big" -> 4.0, "q_red" -> 0.5)
    val cur = best.updated("q_red", 2.0)
    // a gate blind to lines over 10 s still flags q_red, but not the 12 s victim
    val blind: (Double, Double) => Boolean = (t, b) => regressed(t, b) && t < 10
    assert(failures(cur.updated("q_big", 12.0), best, Map.empty, blind).map(_.line) == Seq("q_red"))
    val (ok, out) = captured(selftest(cur, best, Map.empty, blind))
    assert(!ok)
    assert(out.contains("SELFTEST FAILED: planted query regression not detected"), out)
  }

  test("selftest skips families with no history, and everything when no line has one") {
    val (ok, out) = captured(selftest(Map("q" -> 3.0, "pool:p" -> 1.0), Map("q" -> 3.0), Map.empty))
    assert(ok && out.contains("no pool line with history yet") && out.contains("no stream line"))
    val (ok2, out2) = captured(selftest(Map("q" -> 3.0), Map.empty, Map.empty))
    assert(ok2 && out2.contains("SELFTEST SKIPPED"))
  }
}
