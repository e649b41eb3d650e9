package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into engine layers and, when
  * `traced`, one listener that bills every Spark job, stage and task to
  * the span whose call submitted it. Untraced, spans only time the calls.
  *
  * A traced span sets the local property [[Trace.Key]] on the calling
  * thread; threads the engine starts inside the call (the parse pool,
  * the stream execution thread) inherit it, so their jobs are billed to
  * the same span. Nothing here polls: [[drain]] waits on the listener
  * bus.
  */
final class Trace(spark: SparkSession, traced: Boolean)
    extends SparkListener {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private var nextId = 0
  private var current = 0 // 0 = no span
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val taskTotals = mutable.HashMap.empty[Int, Tasks] // by span id
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  if (traced) {
    sc.addSparkListener(this)
    spark.streams.addListener(batchListener)
  }

  private def batchListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Trace.this.synchronized {
        batches += Map(
          "batch" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "trigger_ms" -> ms("triggerExecution"),
          "add_batch_ms" -> ms("addBatch"),
          "query_planning_ms" -> ms("queryPlanning"),
          "wal_commit_ms" -> ms("walCommit"),
          "commit_offsets_ms" -> ms("commitOffsets"))
      }
    }
  }

  private def open(layer: String, name: String,
      startMs: Long): Span = synchronized {
    nextId += 1
    val s = Span(nextId, current, layer, name, startMs)
    spans += s
    s
  }

  /** Records a finished call that ran before the trace existed. */
  def record(layer: String, name: String, startMs: Long,
      endMs: Long): Span = {
    val s = open(layer, name, startMs)
    s.endMs = endMs
    s
  }

  /** Runs `body` as a span of `layer`, child of the current span. */
  def span[T](layer: String, name: String)(body: Span => T): T = {
    val s = open(layer, name, now())
    val parent = current
    current = s.id
    if (traced) sc.setLocalProperty(Key, s.id.toString)
    try body(s)
    finally {
      s.endMs = now()
      current = parent
      if (traced)
        sc.setLocalProperty(Key, if (parent == 0) null else parent.toString)
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = if (traced) PerfbenchBus.drain(sc)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, spanOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageSpan(e.stageInfo.stageId) = spanOf(e.properties) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = taskTotals.getOrElseUpdate(
        stageSpan.getOrElse(e.stageId, 0), new Tasks)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

object Trace {
  val Key = "perfbench.span"

  /** Epoch ms, the clock Spark stamps its job events with. */
  def now(): Long = System.currentTimeMillis()

  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startMs: Long) {
    var endMs: Long = startMs
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit =
      counts(k) = counts.getOrElse(k, 0.0) + v
  }

  final case class Job(id: Int, span: Int, startMs: Long) {
    var endMs: Long = startMs
  }

  final class Tasks {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var outputBytes = 0L
  }
}
