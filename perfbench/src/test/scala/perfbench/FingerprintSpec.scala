package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  test("canonical values") {
    assert(Fingerprint.canon(null) == "\\N")
    assert(Fingerprint.canon(3L) == "3" && Fingerprint.canon(3) == "3")
    assert(Fingerprint.canon(1.5) == "3ff8000000000000")
    assert(Fingerprint.canon(-0.0) == Fingerprint.canon(0.0))
    assert(Fingerprint.canon(1.5f) == Fingerprint.canon(1.5))
    assert(Fingerprint.canon(new java.math.BigDecimal("12.500")) == "12.5")
    assert(Fingerprint.canon(Seq(1.0, "a")) == "[3ff0000000000000,a]")
  }

  test("row order does not matter, row multiplicity does") {
    val a = Fingerprint.of(Seq("x"), Seq(Row(1L), Row(2L)))
    assert(a == Fingerprint.of(Seq("x"), Seq(Row(2L), Row(1L))))
    assert(a != Fingerprint.of(Seq("x"), Seq(Row(1L), Row(1L))))
  }

  test("matches perfbench/fingerprint.py on the same rows") {
    // fingerprint(["b", "a"], [(1, "x"), (2.5, None)]) in fingerprint.py
    assert(Fingerprint.of(Seq("b", "a"), Seq(Row(1L, "x"), Row(2.5, null))) ==
      Fingerprint.Print(2, "4cd13b9de117b438"))
  }
}
