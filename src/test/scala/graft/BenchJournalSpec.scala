package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench journal's helpers: error messages escape into valid
  * journal lines, and the reference calibration that normalizes totals
  * is pinned by the first matching journal line. */
class BenchJournalSpec extends AnyFunSuite {

  private def journal(lines: String*): String = {
    val f = Files.createTempFile("bench_journal", ".jsonl")
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.toString
  }

  test("jsonEscape: quotes, backslashes, newlines and control bytes in " +
    "an exception message cannot corrupt the line-oriented journal") {
    assert(BenchJournal.jsonEscape("""say "hi"\ now""") ===
      """say \"hi\"\\ now""")
    assert(BenchJournal.jsonEscape("a\nb\rc\td" + 1.toChar + "e") ===
      "a\\nb\\rc\\td\\u0001e")
    assert(BenchJournal.jsonEscape("plain") === "plain")
  }

  test("referenceCalibration: the FIRST pinned line wins (the yardstick " +
    "never drifts with the box), keyed on the row count; absent or " +
    "unreadable journals pin nothing") {
    val p = journal(
      """{"detail":"calibration","when":"start","rows":10000000000,"secs":1.7,"load1m":0.5}""",
      """{"detail":"calibration_reference","rows":10000000000,"secs":1.62}""",
      """{"detail":"calibration_reference","rows":10000000000,"secs":9.99}""",
      """{"detail":"calibration_reference","rows":5,"secs":0.01}""")
    assert(BenchJournal.referenceCalibration(p, 10000000000L) === Some(1.62),
      "first pinned line at the matching row count must win")
    assert(BenchJournal.referenceCalibration(p, 5L) === Some(0.01))
    assert(BenchJournal.referenceCalibration(p, 123L) === None,
      "a probe at an uncomparable row count must not borrow a pin")
    assert(BenchJournal.referenceCalibration("", 10L) === None)
    assert(BenchJournal.referenceCalibration("/nonexistent/x.jsonl", 10L)
      === None)
  }

  test("normalization arithmetic: total × reference/run calibration — a " +
    "slower box (bigger run probe) deflates its inflated total back " +
    "into reference-box seconds") {
    val total = 200.0
    val refCal = 1.6
    val runCalSlow = 3.2 // box running at half speed
    assert(math.abs(total * refCal / runCalSlow - 100.0) < 1e-9)
    val runCalSame = 1.6
    assert(math.abs(total * refCal / runCalSame - total) < 1e-9)
  }
}
