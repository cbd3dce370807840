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

  test("an action's exception propagates out of run") {
    val e = intercept[IllegalArgumentException] {
      Par.run(Seq(() => (), () => throw new IllegalArgumentException("boom")))
    }
    assert(e.getMessage == "boom")
  }
}
