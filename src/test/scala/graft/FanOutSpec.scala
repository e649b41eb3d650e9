package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{FanOut, JobTrace}

/** The bounded fan-out every concurrent Spark-action site goes through:
  * order, width, local-property hand-off, and wait-for-all failures. */
class FanOutSpec extends AnyFunSuite {
  import TestSession._

  test("results come back in task order at every width") {
    val tasks = (1 to 6).map(i => () =>
      spark.sparkContext.parallelize(1 to i, 2).count())
    for (w <- Seq(1, 2, 6))
      assert(FanOut.run(spark, w)(tasks) === (1L to 6L), s"width $w")
  }

  test("no more than `width` tasks run at once") {
    val running, peak = new AtomicInteger(0)
    val tasks = (1 to 8).map(_ => () => {
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      try spark.sparkContext.parallelize(1 to 4, 2).count()
      finally running.decrementAndGet(): Unit
    })
    FanOut.run(spark, 2)(tasks)
    assert(peak.get() >= 1 && peak.get() <= 2, peak.get())
  }

  test("each task sees the caller's local properties, and its own " +
      "changes stay inside it") {
    val sc = spark.sparkContext
    val group = s"fanout-spec-${System.nanoTime()}"
    sc.setLocalProperty("graft.spec.tag", "caller")
    sc.setJobGroup(group, "fan-out")
    try {
      for (w <- Seq(1, 3)) {
        val (seen, t) = JobTrace.of(spark, Some(group)) {
          FanOut.run(spark, w)((1 to 3).map(_ => () => {
            val tag = sc.getLocalProperty("graft.spec.tag")
            sc.setLocalProperty("graft.spec.tag", "task")
            sc.parallelize(1 to 4, 2).count()
            tag
          }))
        }
        assert(seen === Seq.fill(3)("caller"), s"width $w")
        // every task's job carried the caller's job group
        assert(t.jobs === 3, s"width $w")
        assert(sc.getLocalProperty("graft.spec.tag") === "caller")
      }
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.tag", null)
    }
  }

  test("a failure is rethrown only after every sibling has finished") {
    // the first task fails as soon as the second is running; the
    // second then still runs a Spark job. A fail-fast join would
    // return while that job is in flight.
    val siblingStarted = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    val tasks: Seq[() => Long] = Seq(
      () => {
        assert(siblingStarted.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("first task failed")
      },
      () => {
        siblingStarted.countDown()
        val n = spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
          .groupBy("k").count().count()
        siblingDone.set(true)
        n
      },
      () => throw new IllegalArgumentException("third task failed"))
    val e = intercept[IllegalStateException](FanOut.run(spark, 3)(tasks))
    assert(siblingDone.get(), "rethrown before a sibling finished")
    assert(e.getMessage === "first task failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq ===
      Seq("third task failed"))
  }
}
