package graft.streaming

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** [[LivePipeline.runWave]]'s failure contract: an error reaches the
  * caller only after every sibling write of the wave has finished, so
  * no write is still in flight when the step's caller sees the failure.
  */
class RunWaveSpec extends AnyFunSuite {

  test("a failing thunk is rethrown only after its in-flight siblings finish") {
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](LivePipeline.runWave(Seq(
      () => { started.await(); throw new IllegalStateException("boom") },
      () => { started.countDown(); Thread.sleep(500); finished.set(true) })))
    assert(e.getMessage === "boom")
    assert(finished.get(), "a sibling write was still running when runWave returned")
  }
}
