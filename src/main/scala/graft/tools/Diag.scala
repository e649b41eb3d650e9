package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

import graft.{Bench, SparkEntry}
import graft.core.{Fs, GraftSession, JobTrace, Tables}

/** Diagnostics on the session [[graft.Bench]] times, with its
  * `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS`.
  * Usage: `sbt "runMain graft.tools.Diag <mode> [args]"`, mode one of
  *  - `decompose <query> [runs]`: per run (default 3), wall, jobs,
  *    stages, tasks, task time, GC, shuffle bytes and the scheduler gap
  *    (wall − summed job span) — task time up, GC up, or gap up with
  *    task time flat (the driver floor grew);
  *  - `floor`: the bare per-action driver floor and variants that add or
  *    remove one layer (Catalyst, planning, AQE, RDD path, task count);
  *  - `trigger`: streaming trigger-size amortization (SCALE.md) — 12
  *    time-scattered event files folded at 1, 4 and 12 files per batch;
  *    hashes must agree, walls show the per-batch floor amortizing;
  *  - `plans <query> [outFile]`: every executed plan, including the
  *    per-round plans of loops that the final frame's explain hides;
  *  - `explain [query…]`: formatted physical plans.
  */
object Diag {

  private val Runs = 3

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "decompose" :: name :: runs =>
        decompose(_, name, query(name), runs.headOption.fold(Runs)(_.toInt))
      case "floor" :: Nil => floor
      case "trigger" :: Nil => trigger
      case "plans" :: name :: out =>
        plans(_, name, query(name),
          out.headOption.getOrElse(tmpFile(s"plans_$name.txt")))
      case "explain" :: names =>
        val sel = if (names.nonEmpty) names
          else List("q1_agg", "q_join_broadcast", "q_enrich_transactions",
            "q_enrich_logs", "q_abi_decode_transfer", "q_knn_bruteforce")
        sel.foreach(query)
        explain(_, sel)
      case _ => sys.error("usage: Diag decompose <query> [runs] | floor " +
        "| trigger | plans <query> [outFile] | explain [query...]")
    }
    val spark = Bench.session()
    try run(spark) finally spark.stop()
  }

  private def tmpFile(name: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"), name).toString

  private def decompose(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, runs: Int): Unit =
    (1 to runs).foreach { i =>
      val (wallMs, t) = JobTrace.of(spark) {
        val t0 = System.nanoTime()
        fn(spark, Bench.sfDir).count()
        (System.nanoTime() - t0) / 1e6
      }
      println(f"diag $name run$i wall=${wallMs / 1000}%.3fs " +
        f"jobs=${t.jobs} stages=${t.stages} tasks=${t.tasks} " +
        f"taskTime=${t.taskMs / 1000.0}%.2fs " +
        f"gc=${t.gcMs / 1000.0}%.2fs " +
        f"jobSpan=${t.jobSpanMs / 1000.0}%.2fs " +
        f"gap=${(wallMs - t.jobSpanMs) / 1000.0}%.2fs " +
        f"shufR=${t.shuffleReadBytes / 1048576.0}%.1fMB " +
        f"shufW=${t.shuffleWriteBytes / 1048576.0}%.1fMB")
    }

  private def floor(spark: SparkSession): Unit = {
    def perAction(label: String, runs: Int = Runs, reps: Int = 100,
        warm: Int = 20)(action: => Any): Unit = (1 to runs).foreach { i =>
      val ms = Bench.perActionMs(reps, if (i == 1) warm else 0)(action)
      println(f"diag $label run$i perAction=$ms%.2fms")
    }
    // plan → submit → 1 task → collect: the number that multiplies into
    // every round-dominated query's wall time
    perAction("floor")(spark.range(1).count())
    // through a small SQL plan: adds Catalyst analysis + optimization
    val df = spark.range(1000).toDF("v")
    perAction("floorSql")(df.filter(col("v") % 7 === 1)
      .groupBy((col("v") % 3).as("g")).count().count())
    // bare RDD job — no Catalyst, no AQE: the raw DAGScheduler →
    // executor → result path
    val rdd = spark.sparkContext.parallelize(Seq(1), 1)
    perAction("floorRdd")(rdd.count())
    // planning only: analysis + optimization + physical planning, no job
    perAction("floorPlan")(
      spark.range(1).groupBy().count().queryExecution.executedPlan)
    // AQE off: the stage-materialization loop's contribution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    perAction("floorNoAqe")(spark.range(1).count())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // is the floor per JOB or per TASK?
    Seq(8, 32, 128).foreach { np =>
      val r = spark.sparkContext.parallelize(1 to np, np)
      perAction(s"floorRdd$np", runs = 1, reps = 50, warm = 10)(r.count())
    }
    // the floor's plan shape with 1-task stages
    val one = spark.range(0, 1, 1, 1)
    perAction("floorSql1p")(one.count())
  }

  private def trigger(spark: SparkSession): Unit = {
    GraftSession.tune(spark)
    val ev = Tables.df(spark, Bench.sfDir, "events")
    val staged = Files.createTempDirectory("graft_trig")
    val tmp = Files.createTempDirectory("graft_trig_w")
    try {
      val base = System.currentTimeMillis()
      (0 until 12).foreach { i =>
        val d = tmp.resolve(s"b$i")
        ev.filter(col("event_id") % 12 === i).coalesce(1)
          .write.parquet(d.toString)
        val part = Files.list(d).toArray
          .map(_.toString).filter(_.endsWith(".parquet")).head
        val dst = staged.resolve(s"b$i.parquet")
        Files.copy(Paths.get(part), dst)
        dst.toFile.setLastModified(base - (13 - i) * 60000L): Unit
      }
      def fold(files: Option[Int]) = graft.streaming.FunnelStream
        .runFunnelToBatchReordered(spark, staged.toString,
          Seq("view", "click", "purchase"), Some(604800L), 40L * 86400L,
          files)
      // one untimed warm run so stream-engine JIT doesn't land on the
      // first timed setting
      fold(Some(12)).count()
      Seq(Some(1), Some(4), None).foreach { files =>
        (1 to Runs).foreach { i =>
          val t0 = System.nanoTime()
          val res = fold(files).collect().map(_.toString).sorted.mkString("|")
          val w = (System.nanoTime() - t0) / 1e9
          println(f"diag trigger files=${files.getOrElse(12)}%2d " +
            f"run$i wall=$w%.3fs hash=${res.hashCode}")
        }
      }
    } finally {
      Fs.deleteRecursively(staged)
      Fs.deleteRecursively(tmp)
    }
  }

  private def plans(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, out: String): Unit = {
    val (_, t) = JobTrace.of(spark)(fn(spark, Bench.sfDir).count())
    write(out, t.executed.map { case (f, p) => s"action=$f" -> p.toString })
  }

  private def explain(spark: SparkSession, names: Seq[String]): Unit =
    write(tmpFile("explain.txt"), names.map(n => n -> query(n)(spark,
      Bench.sfDir).queryExecution.explainString(FormattedMode)))

  private def write(out: String, plans: Seq[(String, String)]): Unit = {
    Files.writeString(Paths.get(out), plans.map { case (head, plan) =>
      s"\n========== $head ==========\n$plan"
    }.mkString("\n"))
    println(s"[diag] wrote $out (${plans.size} plans)")
  }
}
