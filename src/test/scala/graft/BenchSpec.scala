package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("sizeToMb reads -Xmx-style sizes and refuses malformed ones") {
    val ok = Seq("32g" -> 32768L, "32G" -> 32768L, "2gb" -> 2048L, "512m" -> 512L,
      "512mb" -> 512L, "90112m" -> 90112L, "1024" -> 1024L, " 4g " -> 4096L,
      "1t" -> 1048576L, "2048k" -> 2L, "1k" -> 1L)
    ok.foreach { case (s, mb) => assert(Bench.sizeToMb(s) == mb, s"'$s'") }
    Seq("1.5g", "32 g", "g", "", "-4g", "4x", "4gib", "lots").foreach { s =>
      val e = intercept[IllegalArgumentException](Bench.sizeToMb(s))
      assert(e.getMessage.contains("malformed size"), s"'$s': ${e.getMessage}")
    }
  }

  test("a throwing headline query lands in failed, untimed") {
    val (timed, failed) = Bench.timeQueries(Seq("q_ok", "q_boom", "q_ok2")) { n =>
      if (n == "q_boom") throw new IllegalStateException("boom")
    }
    assert(timed.map(_._1) == Seq("q_ok", "q_ok2"))
    assert(timed.forall(_._2 >= 0.0))
    assert(failed == Seq("q_boom"))
  }
}
