package graft.core

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The build-once memo behind every session-shared artifact: one build
  * per key however many callers race, no key waiting on another's
  * build, no remembered failure, nested builds, and the probe.
  */
class MemoSpec extends AnyFunSuite {

  private def withPool[T](threads: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(threads)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow(): Unit
  }

  test("threads that first touch one key at once cause exactly one build") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger(0)
    val gate = new CountDownLatch(1)
    val got = withPool(8) { implicit ec =>
      val calls = (1 to 8).map(_ => Future {
        gate.await()
        memo("k") { Thread.sleep(50); builds.incrementAndGet() }
      })
      gate.countDown()
      Await.result(Future.sequence(calls), 30.seconds)
    }
    assert(builds.get == 1)
    assert(got.toSet == Set(1))
  }

  test("a build of one key parked on a latch does not hold up another key") {
    val memo = new Memo[String, String]
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withPool(2) { implicit ec =>
      val a = Future(memo("a") { started.countDown(); release.await(); "a" })
      try {
        assert(started.await(10, TimeUnit.SECONDS))
        // key b builds and returns while key a's build is still parked
        assert(Await.result(Future(memo("b")("b")), 10.seconds) == "b")
        assert(!memo.isBuilt("a"))
      } finally release.countDown()
      assert(Await.result(a, 10.seconds) == "a")
    }
  }

  test("a build that throws is not remembered; the next caller builds again") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger(0)
    intercept[IllegalStateException](memo("k") {
      builds.incrementAndGet(); throw new IllegalStateException("boom")
    })
    assert(!memo.isBuilt("k"))
    assert(memo("k")(builds.incrementAndGet()) == 2)
    assert(memo("k")(builds.incrementAndGet()) == 2)
  }

  test("a build that calls another key's build completes") {
    val memo = new Memo[String, String]
    val outer = memo("outer")(memo("inner")("in") + "+out")
    assert(outer == "in+out")
    assert(memo.isBuilt("inner") && memo.isBuilt("outer"))
  }

  test("a missing marker rebuilds; a present one is a hit") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger(0)
    val marker = new AtomicBoolean(true)
    def call() = memo("k", marker.get)(builds.incrementAndGet())
    assert(call() == 1 && call() == 1)
    marker.set(false)
    assert(call() == 2)
    marker.set(true)
    assert(call() == 2 && builds.get == 2)
  }
}
