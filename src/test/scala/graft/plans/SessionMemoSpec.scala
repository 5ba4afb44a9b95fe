package graft.plans

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.GraftSqlShims

import graft.SparkSpec

/** The session-scoped memo's contract: one build per (session, key),
  * builds outside any lock (nested, concurrent and failing builds), and
  * the pins that keep a held checkpoint alive through block sweeps. */
class SessionMemoSpec extends SparkSpec {

  private def key(name: String) = s"SessionMemoSpec.$name"

  private def onThreads[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow()
  }

  test("one session builds a key once") {
    val builds = new AtomicInteger()
    val a = SessionMemo(spark, key("once")) { builds.incrementAndGet(); new Object }
    val b = SessionMemo(spark, key("once")) { builds.incrementAndGet(); new Object }
    assert(a eq b)
    assert(builds.get == 1)
  }

  test("two sessions each build their own entry") {
    val other = spark.newSession()
    val builds = new AtomicInteger()
    def get(s: org.apache.spark.sql.SparkSession, v: String) =
      SessionMemo(s, key("isolated")) { builds.incrementAndGet(); v }
    assert(get(spark, "first") == "first")
    assert(get(other, "second") == "second")
    assert(get(spark, "again") == "first")
    assert(get(other, "again") == "second")
    assert(builds.get == 2)
  }

  test("a build that calls the memo for another key completes") {
    // enough inner keys that the memo's table resizes while the outer
    // build runs: a build run under a map lock fails with a recursive
    // update here
    val v = SessionMemo(spark, key("outer")) {
      (1 to 1000).map(i => SessionMemo(spark, key(s"inner.$i"))(i)).sum
    }
    assert(v == 500500)
    assert(SessionMemo(spark, key("inner.7"))(0) == 7)
  }

  test("a build that throws leaves no entry and the next call rebuilds") {
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      SessionMemo[Int](spark, key("throws")) {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(SessionMemo(spark, key("throws")) { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2)
  }

  test("four threads asking for one key build it once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val got = onThreads(4) { implicit ec =>
      val fs = (1 to 4).map { _ =>
        Future {
          start.await()
          SessionMemo(spark, key("threads")) {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        }
      }
      start.countDown()
      fs.map(Await.result(_, 30.seconds))
    }
    assert(got.forall(_ eq got.head))
    assert(builds.get == 1)
  }

  test("builds of different keys do not wait on each other") {
    // each build waits for the other to start: serialized builds would
    // time out
    val aStarted, bStarted = new CountDownLatch(1)
    val done = onThreads(2) { implicit ec =>
      val a = Future(SessionMemo(spark, key("parallel.a")) {
        aStarted.countDown(); bStarted.await(10, TimeUnit.SECONDS)
      })
      val b = Future(SessionMemo(spark, key("parallel.b")) {
        bStarted.countDown(); aStarted.await(10, TimeUnit.SECONDS)
      })
      Seq(a, b).map(Await.result(_, 30.seconds))
    }
    assert(done == Seq(true, true))
  }

  test("a memo-held checkpoint survives the sweep and release") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val held = SessionMemo.frame(spark, key("held"))(
      (1 to 100).toDF("x").repartition(4).where($"x" % 2 === 0))
    val loose = (1 to 10).toDF("y").localCheckpoint()
    val heldIds = GraftSqlShims.leafRddIds(held)
    assert(heldIds.nonEmpty && heldIds.forall(Supersteps.isPinned))
    Supersteps.sweep(spark, before)
    assert(!Supersteps.release(held), "release must skip held leaves")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(heldIds.forall(persisted.contains))
    assert(GraftSqlShims.leafRddIds(loose).forall(!persisted.contains(_)))
    assert(held.count() == 50)
    assert(held.where($"x" > 90).count() == 5)
  }
}
