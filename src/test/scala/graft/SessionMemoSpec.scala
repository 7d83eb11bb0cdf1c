package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.SessionMemo
import org.scalatest.funsuite.AnyFunSuite

/** [[SessionMemo]]'s build rules: once per (session, dir, tag), failures
  * not kept, nested builds allowed. Every test uses its own tags, so the
  * shared per-tag build counters start at 0. */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fresh(name: String) =
    s"spec-$name-${java.util.UUID.randomUUID()}"

  test("a build that throws is not memoized; the next call builds again") {
    val tag = fresh("throws")
    intercept[IllegalStateException] {
      SessionMemo[Int](spark, "d", tag)(throw new IllegalStateException("x"))
    }
    assert(SessionMemo.builds(tag) == 0)
    assert(SessionMemo(spark, "d", tag)(42) == 42)
    assert(SessionMemo(spark, "d", tag)(43) == 42)
    assert(SessionMemo.builds(tag) == 1)
  }

  test("a build may read another key of the same memo, 200 deep") {
    // like `anf-regs r` reading `anf-regs r-1`; deep enough that a map
    // updated from inside its own mapping function would meet one of its
    // pending bins, or resize under them, and throw
    val tag = fresh("nested")
    def level(r: Int): Int =
      SessionMemo(spark, "d", s"$tag-$r") {
        if (r == 0) 0 else level(r - 1) + 1
      }
    assert(level(200) == 200)
    assert(SessionMemo(spark, "d", s"$tag-100")(-1) == 100)
    assert((0 to 200).forall(r => SessionMemo.builds(s"$tag-$r") == 1))
  }

  test("8 threads asking for one key build it once") {
    val tag = fresh("threads")
    val ran = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(() => {
          go.await()
          SessionMemo(spark, "d", tag) {
            ran.incrementAndGet()
            Thread.sleep(200)
            i
          }
        })
      }
      go.countDown()
      val got = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(got.distinct.size == 1, s"callers saw different values: $got")
      assert(ran.get == 1 && SessionMemo.builds(tag) == 1)
    } finally pool.shutdownNow()
  }

  test("two sessions over the same dir build separately") {
    val tag = fresh("sessions")
    val other = spark.newSession()
    assert(SessionMemo(spark, "d", tag)(1) == 1)
    assert(SessionMemo(other, "d", tag)(2) == 2)
    assert(SessionMemo(spark, "d", tag)(3) == 1)
    assert(SessionMemo(other, "d", tag)(4) == 2)
    assert(SessionMemo.builds(tag) == 2)
  }

  test("a new stamp builds a new entry under the same tag") {
    val tag = fresh("stamp")
    assert(SessionMemo(spark, "d", tag, Seq("a"))("first") == "first")
    assert(SessionMemo(spark, "d", tag, Seq("a"))("again") == "first")
    assert(SessionMemo(spark, "d", tag, Seq("b"))("second") == "second")
    assert(SessionMemo.builds(tag) == 2)
  }
}
