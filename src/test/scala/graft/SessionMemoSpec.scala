package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** The per-session memo every shared intermediate result goes through:
  * one build per (session, key), builds of different keys in parallel,
  * nothing cached from a build that throws, invalidation per session. */
class SessionMemoSpec extends SparkSuite {

  // a thread per caller: a pool smaller than the callers would queue
  // them instead of making them wait on the memo
  private val threadPerCall = ExecutionContext.fromExecutor(r => new Thread(r).start())

  private def inThreads[T](n: Int)(body: Int => T): Seq[Future[T]] =
    (0 until n).map(i => Future(body(i))(threadPerCall))

  test("one build per key, however many callers wait for it") {
    val builds = new AtomicInteger()
    val release = new CountDownLatch(1)
    val memo = SessionMemo[String, Object]("spec_once") { (_, _) =>
      builds.incrementAndGet()
      release.await(10, TimeUnit.SECONDS)
      new Object
    }
    val callers = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val results = inThreads(8) { _ =>
      callers.add(Thread.currentThread())
      memo(spark, "k")
    }
    // hold the build until every other caller is parked behind it
    val deadline = System.nanoTime() + 10.seconds.toNanos
    def parked = callers.size == 8 &&
      callers.toArray(Array.empty[Thread]).count(_.getState == Thread.State.BLOCKED) == 7
    while (!parked && System.nanoTime() < deadline) Thread.sleep(5)
    assert(parked, "callers never waited on the build in flight")
    release.countDown()
    val values = results.map(Await.result(_, 10.seconds))
    assert(builds.get === 1)
    assert(values.forall(_ eq values.head))
  }

  test("different keys build at the same time") {
    val bothIn = new CountDownLatch(2)
    val memo = SessionMemo[String, Boolean]("spec_parallel") { (_, _) =>
      bothIn.countDown()
      bothIn.await(10, TimeUnit.SECONDS)
    }
    val overlapped = inThreads(2)(i => memo(spark, s"k$i")).map(Await.result(_, 20.seconds))
    assert(overlapped === Seq(true, true), "one build waited for the other to finish")
  }

  test("a build that throws caches nothing; the next call rebuilds") {
    val builds = new AtomicInteger()
    val memo = SessionMemo[String, Int]("spec_throw") { (_, _) =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    intercept[IllegalStateException](memo(spark, "k"))
    assert(memo.keys(spark).isEmpty)
    assert(memo(spark, "k") === 42)
    assert(memo(spark, "k") === 42)
    assert(builds.get === 2)
  }

  test("keys lists what was built; invalidate drops only its own session") {
    val builds = new AtomicInteger()
    val memo = SessionMemo[String, Int]("spec_sessions") { (_, k) =>
      builds.incrementAndGet(); k.length
    }
    val other: SparkSession = spark.newSession()
    memo(spark, "a"); memo(spark, "bb"); memo(other, "a")
    assert(memo.keys(spark).toSet === Set("a", "bb"))
    assert(memo.keys(other) === Seq("a"))
    memo.invalidate(spark)
    assert(memo.keys(spark).isEmpty)
    assert(memo(other, "a") === 1)
    assert(builds.get === 3)
    assert(memo(spark, "a") === 1)
    assert(builds.get === 4)
  }

  test("invalidateAll clears every registered memo") {
    val m1 = SessionMemo[String, Int]("spec_all_1")((_, _) => 1)
    val m2 = SessionMemo[Int, Int]("spec_all_2")((_, k) => k)
    m1(spark, "x"); m2(spark, 7)
    assert(SessionMemo.all.contains(m1) && SessionMemo.all.contains(m2))
    SessionMemo.invalidateAll(spark)
    assert(m1.keys(spark).isEmpty && m2.keys(spark).isEmpty)
  }

  test("a build that calls a second memo completes, also beside a direct caller") {
    val inner = SessionMemo[String, Int]("spec_inner") { (_, k) =>
      Thread.sleep(50); k.length
    }
    val outer = SessionMemo[String, Int]("spec_outer")((s, k) => inner(s, k) + 1)
    val both = inThreads(2)(i => if (i == 0) outer(spark, "abc") else inner(spark, "abc"))
    assert(both.map(Await.result(_, 10.seconds)) === Seq(4, 3))
  }
}
