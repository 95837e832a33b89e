package graft

import org.scalatest.funsuite.AnyFunSuite

/** Env overrides fail loudly on a bad value instead of falling back. */
class EnvKnobSpec extends AnyFunSuite {

  private def parse(raw: Option[String], max: Long = Long.MaxValue): Long =
    EnvKnob.parsePositive("SPARK_GRAFT_TEST_KNOB", raw, 42, max)

  test("an unset variable means the default") {
    assert(parse(None) === 42)
  }

  test("a positive value is taken, surrounding blanks trimmed") {
    assert(parse(Some(" 7 ")) === 7)
    assert(parse(Some("4294967296")) === (1L << 32))
  }

  test("an empty, unparseable, zero, negative or too-large value throws") {
    for (bad <- Seq("", "abc", "0", "-5", "1.5", "2147483648")) {
      val e = intercept[IllegalArgumentException](parse(Some(bad), Int.MaxValue))
      assert(e.getMessage.contains("SPARK_GRAFT_TEST_KNOB"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  private def parseSeconds(raw: Option[String]): Double =
    EnvKnob.parsePositiveDouble("SPARK_GRAFT_TIME_BUDGET_S", raw, 1020.0)

  test("a seconds budget takes the default, a positive number, or throws") {
    assert(parseSeconds(None) === 1020.0)
    assert(parseSeconds(Some(" 90 ")) === 90.0)
    assert(parseSeconds(Some("2.5")) === 2.5)
    for (bad <- Seq("", "abc", "0", "-5", "NaN", "Infinity")) {
      val e = intercept[IllegalArgumentException](parseSeconds(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_TIME_BUDGET_S"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
