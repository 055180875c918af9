package graft.core

import org.scalatest.funsuite.AnyFunSuite

class EnvSpec extends AnyFunSuite {
  private val knob = "SPARK_GRAFT_CPUS"

  test("an unset knob reads as None") {
    assert(Env.positiveInt(knob, Map.empty).isEmpty)
  }

  test("a positive integer reads as itself") {
    assert(Env.positiveInt(knob, Map(knob -> "6")).contains(6))
  }

  Seq("0", "-1", "abc").foreach { raw =>
    test(s"'$raw' fails loudly, naming the variable and the value") {
      val e = intercept[IllegalArgumentException](Env.positiveInt(knob, Map(knob -> raw)))
      assert(e.getMessage.contains(knob) && e.getMessage.contains(s"'$raw'"), e.getMessage)
    }
  }
}
