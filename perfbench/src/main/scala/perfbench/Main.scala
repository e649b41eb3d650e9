package perfbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** One workload: a closed loop of units (chain-days, corpus shards),
  * each started only after the previous one finished. The first unit
  * runs cold, in a fresh JVM, as each of these jobs runs when deployed:
  * one spark-submit per chain-day or corpus shard. */
trait Workload {
  def units: Int
  /** Runs unit `i` and returns what the output checks need to know
    * about it. */
  def run(i: Int): Map[String, Any]
}

/** Benchmark process: session set-up, the timed closed loop, a
  * job-floor probe, and a result file with every timing, span, job and
  * task total. The
  * outputs are checked afterwards by `run.py`, independently of the
  * engine.
  *
  * Usage: Main <workload> <inputDir> <outputDir> <seconds> <trace: 0|1>
  *   <resultFile>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, seconds, traced, resultFile) = args
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val s0 = Trace.now()
    val spark = GraftSession.local()
    val trace = new Trace(spark, traced == "1")
    val session = trace.record("core", "session", s0, Trace.now())
    val w: Workload = workload match {
      case "evm_daily_backfill" | "evm_bulk_day" =>
        new EvmWorkload(spark, trace, in, out)
      case "corpus_curation" => new CurationWorkload(spark, trace, in, out)
      case other => sys.error(s"unknown workload $other")
    }

    val units = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val bytes0 = Host.bytesUnder(out)
    val t0 = Trace.now()
    var i = 0
    // at least one unit; the per-layer counters cover exactly that one
    while (i < w.units && (i == 0 || Trace.now() - t0 < seconds.toLong * 1000)) {
      var span: Trace.Span = null
      val info = trace.span("unit", s"unit_$i") { u =>
        span = u
        try w.run(i) + ("ok" -> true)
        catch {
          case NonFatal(e) =>
            e.printStackTrace()
            Map("ok" -> false, "error" -> e.toString)
        }
      }
      units += info ++ Map("index" -> i, "start_ms" -> span.startMs,
        "end_ms" -> span.endMs)
      i += 1
    }
    // the outputs grow by what the units wrote: no unit rewrites a file
    val written = Host.bytesUnder(out) - bytes0
    // serial per-job floor, the driver cost every job pays
    val floorMs = trace.span("core", "job_floor") { _ =>
      (1 to 9).map { _ =>
        val t = System.nanoTime()
        spark.range(1).count()
        (System.nanoTime() - t) / 1e6
      }
    }
    trace.drain()

    val result = Map(
      "workload" -> workload,
      "host" -> Host.facts(spark),
      "setup" -> Map("jvm_start_ms" -> jvmStartMs,
        "session_ms" -> (session.endMs - session.startMs),
        "job_floor_ms" -> floorMs),
      "loop_start_ms" -> t0,
      "written_bytes" -> written,
      "units" -> units,
      "spans" -> trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "counts" -> s.counts)),
      "jobs" -> trace.jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
      "tasks" -> trace.taskTotals.map { case (span, t) =>
        span.toString -> Map("tasks" -> t.tasks, "run_ms" -> t.runMs,
          "gc_ms" -> t.gcMs, "shuffle_write_bytes" -> t.shuffleWriteBytes,
          "output_bytes" -> t.outputBytes)
      },
      "batches" -> trace.batches,
      "peak_rss_kb" -> Host.peakRssKb())
    Files.writeString(Paths.get(resultFile), Json(result))
    spark.stop()
  }
}

/** Facts that make two captures comparable: only compare like boxes. */
object Host {
  def facts(spark: SparkSession): Map[String, Any] = {
    val tmp = System.getProperty("java.io.tmpdir")
    Map(
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "ram_mb" -> memTotalKb() / 1024,
      "tmp_on_tmpfs" -> onTmpfs(tmp),
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "scheduler_mode" -> spark.sparkContext.getConf
        .get("spark.scheduler.mode", "FIFO"),
      "master" -> spark.sparkContext.master)
  }

  private def procLines(path: String): Seq[String] =
    try scala.io.Source.fromFile(path).getLines().toList
    catch { case NonFatal(_) => Nil }

  private def kbField(path: String, key: String): Long =
    procLines(path).find(_.startsWith(key))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def memTotalKb(): Long = kbField("/proc/meminfo", "MemTotal:")
  def peakRssKb(): Long = kbField("/proc/self/status", "VmHWM:")

  def bytesUnder(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val files = Files.walk(root)
      try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally files.close()
    }
  }

  /** Whether the longest mount point containing `dir` is a tmpfs. */
  def onTmpfs(dir: String): Boolean = {
    val real = Paths.get(dir).toRealPath().toString
    procLines("/proc/mounts").map(_.split(" "))
      .filter(f => f.length > 2 &&
        (real == f(1) || real.startsWith(f(1).stripSuffix("/") + "/")))
      .sortBy(-_(1).length).headOption.exists(_(2) == "tmpfs")
  }
}
