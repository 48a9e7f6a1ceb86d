package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}

class DriverPoolSpec extends AnyFunSuite {

  test("calls overlap up to the width and results keep input order") {
    // each call waits for the other: run serially, the first call's
    // await times out instead of hanging the suite
    val both = new CountDownLatch(2)
    val out = DriverPool.map(Seq("b", "a"), width = 2) { s =>
      both.countDown()
      assert(both.await(30, TimeUnit.SECONDS), s"call $s never overlapped the other")
      s.toUpperCase
    }
    assert(out == List("B", "A"))
  }

  test("a failure surfaces as itself after every started call has finished") {
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      DriverPool.map(1 to 6, width = 3) { i =>
        if (i == 2) throw boom
        Thread.sleep(50)
        finished.incrementAndGet()
      }
    }
    assert(e eq boom)
    val atReturn = finished.get
    Thread.sleep(200)
    assert(finished.get == atReturn, "a call was still running after map threw")
  }
}
