package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class DriverPoolSpec extends AnyFunSuite {

  test("the first failure is rethrown only after every other task ended; no pool thread survives") {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val slowDone = new AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      DriverPool.map(2, Seq("fail", "slow")) { what =>
        threads.add(Thread.currentThread())
        if (what == "fail") throw new IllegalStateException("boom")
        Thread.sleep(500)
        slowDone.set(true)
      }
    }
    assert(ex.getMessage == "boom")
    assert(slowDone.get, "the helper returned while the slow task was still running")
    assert(threads.size == 2 && !threads.contains(Thread.currentThread()))
    threads.asScala.foreach(t => assert(!t.isAlive, s"${t.getName} outlived the pool"))
  }

  test("map keeps input order; width 1 and single items run on the caller's thread") {
    assert(DriverPool.map(3, 1 to 20)(i => { Thread.sleep(20 - i); i * i }) == (1 to 20).map(i => i * i))
    val caller = Thread.currentThread()
    assert(DriverPool.map(1, Seq(1, 2))(_ => Thread.currentThread()).forall(_ eq caller))
    assert(DriverPool.map(4, Seq(1))(_ => Thread.currentThread()).forall(_ eq caller))
  }

  test("tasks submitted by tasks are awaited; submitAll's continuation sees every outcome") {
    val log = new ConcurrentLinkedQueue[String]()
    var outcome = Option.empty[Boolean]
    val ex = intercept[RuntimeException] {
      DriverPool(2) { pool =>
        pool.submit {
          pool.submitAll(Seq(
            () => { Thread.sleep(200); log.add("a"); () },
            () => throw new RuntimeException("b failed"))) { ok =>
            outcome = Some(ok)
            pool.submit { Thread.sleep(100); log.add("after"); () }
          }
        }
      }
    }
    assert(ex.getMessage == "b failed")
    assert(outcome.contains(false))
    assert(log.asScala.toSeq == Seq("a", "after"))
  }
}
