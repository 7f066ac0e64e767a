package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Par

/** Driver-thread overlap ([[Par]]): results come back in thunk order, an
  * empty call is empty, and a failure never returns while a sibling is
  * still running. */
class ParSpec extends AnyFunSuite {

  test("Par.all returns every result in thunk order, and nothing for no thunks") {
    assert(Par.all(() => 1, () => 2, () => 3) == Seq(1, 2, 3))
    assert(Par.all[Int]().isEmpty)
    assert(Par.join("a", 2) == ("a", 2))
  }

  /** A sibling that is known to be running when the caller-thread thunk
    * throws, and that sets `done` only after the caller has thrown. */
  private def slowSibling(started: CountDownLatch, done: AtomicBoolean): Int = {
    started.countDown()
    Thread.sleep(300)
    done.set(true)
    1
  }

  test("Par.all: a failing caller-thread thunk awaits its siblings and carries their failures") {
    val started = new CountDownLatch(1)
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.all[Int](
      () => { started.await(); throw new IllegalStateException("caller") },
      () => slowSibling(started, done),
      () => throw new IllegalArgumentException("sibling")))
    assert(e.getMessage == "caller")
    assert(done.get, "Par.all rethrew while a sibling was still running")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("sibling"))
  }

  test("Par.join: a failing caller-thread thunk awaits the other one") {
    val started = new CountDownLatch(1)
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.join(
      { started.await(); throw new IllegalStateException("caller") },
      slowSibling(started, done)))
    assert(e.getMessage == "caller")
    assert(done.get, "Par.join rethrew while its sibling was still running")
  }
}
