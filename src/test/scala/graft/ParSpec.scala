package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Par

class ParSpec extends AnyFunSuite {

  test("actions run concurrently: each waits on a latch only the other releases") {
    val (a, b) = (new CountDownLatch(1), new CountDownLatch(1))
    def meet(mine: CountDownLatch, theirs: CountDownLatch): () => Unit = () => {
      mine.countDown()
      if (!theirs.await(30, TimeUnit.SECONDS)) throw new IllegalStateException("ran alone")
    }
    Par.run(Seq(meet(a, b), meet(b, a)))
  }

  test("map returns results in input order while the thunks overlap") {
    // each thunk waits until all three have started, so a pool that ran
    // them one at a time would time out; the later ones finish first
    val started = new CountDownLatch(3)
    val thunks = (0 until 3).map { i => () =>
      started.countDown()
      if (!started.await(30, TimeUnit.SECONDS)) throw new IllegalStateException("ran alone")
      Thread.sleep(50L * (2 - i))
      i * 10
    }
    assert(Par.map(thunks) == Seq(0, 10, 20))
  }

  test("an action's exception propagates out of run") {
    val e = intercept[IllegalArgumentException] {
      Par.run(Seq(() => (), () => throw new IllegalArgumentException("boom")))
    }
    assert(e.getMessage == "boom")
  }
}
