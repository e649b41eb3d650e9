package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.JobTrace

/** The recorder reads exact counts right after its drain — no polling
  * — and keeps both plan views. */
class JobTraceSpec extends AnyFunSuite {
  import TestSession._

  test("one 4-partition count is 1 job, 1 stage, 4 tasks, read " +
      "straight after the drain, in every one of 100 windows") {
    // without the drain about one window in ten misses the last stage
    // or task events, which the bus delivers after count() returns
    val counts = (1 to 100).map { _ =>
      val (n, t) = JobTrace.of(spark)(
        spark.sparkContext.parallelize(1 to 8, 4).count())
      assert(n === 8L)
      (t.jobs, t.stages, t.tasks)
    }
    assert(counts.forall(_ == ((1, 1, 4))), counts.distinct)
  }

  test("two identical windows record identical counts") {
    def window() = JobTrace.of(spark) {
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
        .groupBy("k").count().collect()
    }._2
    val (a, b) = (window(), window())
    assert((a.jobs, a.stages, a.tasks) === ((b.jobs, b.stages, b.tasks)))
    assert(a.shuffleWriteBytes === b.shuffleWriteBytes)
    assert(a.jobs > 0 && a.shuffleWriteBytes > 0L)
  }

  test("a job group limits the counters to that group's jobs") {
    val sc = spark.sparkContext
    val group = s"trace-spec-${System.nanoTime()}"
    val (_, t) = JobTrace.of(spark, Some(group)) {
      sc.parallelize(1 to 4, 2).count()
      sc.setJobGroup(group, "counted")
      try sc.parallelize(1 to 4, 3).count() finally sc.clearJobGroup()
    }
    assert((t.jobs, t.stages, t.tasks) === ((1, 1, 3)))
  }

  test("a window holding a localCheckpoint and a collect captures " +
      "both plan descriptions") {
    val (_, t) = JobTrace.of(spark) {
      spark.range(0, 100, 1, 2).selectExpr("id * 2 AS v")
        .localCheckpoint().collect()
    }
    assert(t.planDescriptions.size === 2, t.planDescriptions)
    assert(t.executed.map(_._1).contains("collect"), t.executed)
  }

  test("no source file sleeps: listener reads drain, they never poll") {
    val needle = "Thread" + ".sleep"
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val all = Seq("src/main", "src/test")
      .flatMap(d => files(new java.io.File(d)))
    assert(all.size > 50, "source tree not found from the working dir")
    val hits = all.filter(f =>
      java.nio.file.Files.readString(f.toPath).contains(needle))
    assert(hits.isEmpty, s"$needle in: ${hits.mkString(", ")}")
  }
}
