package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** `Par.awaitAll`'s failure semantics, without a Spark session: the
  * first failure in argument order surfaces only after every leg has
  * stopped, so a caller's `finally` (a lease release) never runs while
  * a sibling leg still writes.
  */
class ParSpec extends AnyFunSuite {

  test("awaitAll joins every leg before rethrowing the first failure") {
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val failing = Par.run[Unit] {
      started.countDown()
      throw new IllegalStateException("leg 1")
    }
    val slow = Par.run {
      started.await()
      Thread.sleep(300)
      finished.set(true)
    }
    val e = intercept[IllegalStateException](Par.awaitAll(failing, slow))
    assert(e.getMessage == "leg 1")
    assert(finished.get, "awaitAll threw while leg 2 was still running")
  }

  test("the first failure in argument order wins") {
    val late = Par.run[Unit] { Thread.sleep(100); throw new IllegalStateException("first") }
    val early = Par.run[Unit](throw new IllegalStateException("second"))
    val e = intercept[IllegalStateException](Par.awaitAll(late, early))
    assert(e.getMessage == "first")
  }
}
