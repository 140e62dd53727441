package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers._

/** Shared-session concurrency (round 12): all batch entries replayed
  * shuffled across 8 threads on ONE SparkSession must equal their
  * sequential baselines — the multi-tenant hazard class is
  * session-global mutable state (layout conf flags, function
  * registration, shared scratch artifacts). Subprocess so the probe
  * gets its own session sized for the purpose (~3.5 min). */
class ConcurrencySpec extends AnyFunSuite {

  test("261 batch entries, 8 threads, one session: rows identical to " +
       "sequential baselines") {
    val (exit, out) = ProbeEnv.fork("graft.ConcurrencyProbe",
      Seq("/root/testdata/sf0.001", "8"), heap = "6g")
    val json = out.linesIterator
      .find(_.startsWith("{\"concurrency_probe\""))
      .getOrElse(fail(s"no probe output; tail:\n${out.takeRight(2000)}"))
    withClue(json) {
      exit shouldBe 0
      json should include("\"baseline_errors\":[]")
      json should include("\"concurrent_errors\":[]")
      json should include("\"mismatches\":[]")
    }
  }
}
