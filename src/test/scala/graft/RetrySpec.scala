package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers._

/** Task-retry determinism (round-10 verdict ask #4): representative
  * entries must return IDENTICAL rows when a task fails transiently and
  * Spark retries it — the runtime complement to check_discipline.py's
  * retry_scala classification table. maxFailures is fixed at
  * SparkContext creation (the shared test session has 1), so the probe
  * runs in a fresh JVM with master local[4, 2] via [[RetryProbe]]; this
  * spec drives it and asserts its JSON verdict: the injected failure
  * FIRED (the retry path actually executed) and the retried rows are
  * EQUAL to the clean run's. */
class RetrySpec extends AnyFunSuite {

  test("injected transient task failure is retried and the entry's " +
       "rows are identical (local[4,2], fault in partition 0 of every " +
       "table scan)") {
    val (exit, out) = ProbeEnv.fork("graft.RetryProbe", Seq(
      "/root/testdata/sf0.001", "agg_multikey", "win_lag", "ext_exact_dedup"))
    val json = out.linesIterator
      .find(_.startsWith("{\"retry_probe\""))
      .getOrElse(fail(s"no probe output; tail:\n${out.takeRight(2000)}"))
    withClue(json) {
      exit shouldBe 0
      json should include("\"fired\":true")
      (json should not).include("\"fired\":false")
      (json should not).include("\"equal\":false")
    }
  }
}
