package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers._

/** Executor-loss / stage-replay determinism (round-11 verdict ask #2):
  * [[StageRetryProbe]] halts a whole executor JVM mid-reduce on a
  * local-cluster[2,1] master, losing that executor's shuffle-map
  * output; the resubmitted reduce task hits FetchFailed, the
  * DAGScheduler replays the map stage, and the recomputed result must
  * equal the clean run exactly. Runs in a subprocess because
  * local-cluster needs its own master + a SPARK_HOME whose work dir is
  * repo-local, and because the probe kills executor JVMs. */
class StageRetrySpec extends AnyFunSuite {

  test("executor halt mid-reduce loses shuffle output; FetchFailed + " +
       "map-stage replay recompute to identical rows") {
    val (exit, out) = ProbeEnv.fork("graft.StageRetryProbe",
      Seq("/root/testdata/sf0.001", "agg_multikey", "ext_exact_dedup"),
      ProbeEnv.clusterEnv())
    val json = out.linesIterator
      .find(_.startsWith("{\"stage_retry_probe\""))
      .getOrElse(fail(s"no probe output; tail:\n${out.takeRight(2000)}"))
    withClue(json) {
      exit shouldBe 0
      json should include("\"fetch_failed\":true")
      (json should not).include("\"fetch_failed\":false")
      (json should not).include("\"equal\":false")
      json should include("\"executors_removed\":")
      (json should not).include("\"executors_removed\":0,")
      (json should not).include("\"stage_replays\":0}")
    }
  }
}
