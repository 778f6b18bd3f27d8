package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the parse of `SPARK_GRAFT_CPUS`, the one externally supplied
  * value every entry point's session is sized by. Pure: building a
  * second session here would rewrite the shared suite session's
  * runtime confs through `getOrCreate`. */
class LocalSessionSpec extends AnyFunSuite with Matchers {

  test("unset SPARK_GRAFT_CPUS falls back to the host's core count") {
    LocalSession.parseCpus(None) shouldBe
      Runtime.getRuntime.availableProcessors
  }

  test("a positive integer is taken as the core count") {
    LocalSession.parseCpus(Some("4")) shouldBe 4
  }

  test("zero, negative and malformed values are rejected by name") {
    Seq("0", "-2", "x").foreach { raw =>
      val e = the[IllegalArgumentException] thrownBy
        LocalSession.parseCpus(Some(raw))
      e.getMessage should include("SPARK_GRAFT_CPUS")
      e.getMessage should include(s"'$raw'")
    }
  }
}
