package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers._

/** Executor loss DURING a streaming drain (round 12, the streaming
  * sibling of [[StageRetrySpec]]): [[StreamLossProbe]] kills one of
  * two real executor JVMs (local-cluster[2,1], kill-and-replace) after
  * the first micro-batch commits; the drain must continue on the
  * replacement — state reloaded from the checkpoint, lost tasks
  * retried — and complete to exactly the clean run's rows. Subprocess
  * for the same reasons as StageRetrySpec (own master, repo-local
  * SPARK_HOME, executor kills). */
class StreamLossSpec extends AnyFunSuite {

  test("executor killed mid-drain: streaming query continues on the " +
       "replacement executor and completes to the clean-run rows") {
    val (exit, out) = ProbeEnv.fork("graft.StreamLossProbe",
      Seq("/root/testdata/sf0.001"), ProbeEnv.clusterEnv())
    val json = out.linesIterator
      .find(_.startsWith("{\"stream_loss_probe\""))
      .getOrElse(fail(s"no probe output; tail:\n${out.takeRight(2000)}"))
    withClue(json) {
      exit shouldBe 0
      json should include("\"removed_mid_run\":true")
      (json should not).include("\"equal\":false")
    }
  }
}
