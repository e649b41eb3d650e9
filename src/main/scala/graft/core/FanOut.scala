package graft.core

import java.util.Properties
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.GraftBus
import org.apache.spark.sql.SparkSession

/** The one spelling of "submit N independent Spark actions from a
  * bounded pool of driver threads".
  *
  * Each task runs on a copy of the CALLER's local properties (job
  * group, scheduler pool, any caller tags), whether it runs on a pool
  * thread or, at width 1, on the calling thread; a task's own property
  * changes end with it.
  *
  * Every task runs to completion: a failure is rethrown only after all
  * tasks have finished, so nothing the caller tears down afterwards
  * (an unpersisted input, a deleted temp dir) is still in use by a
  * sibling. The rethrown error is the first failure in task order, with
  * later ones attached as suppressed. Results come back in task order,
  * whatever the completion order. */
object FanOut {

  def run[T](spark: SparkSession, width: Int)(
      tasks: Seq[() => T]): Seq[T] = {
    require(width >= 1, s"fan-out width must be >= 1, got $width")
    val sc = spark.sparkContext
    def copy(p: Properties) = p.clone().asInstanceOf[Properties]
    val caller = copy(GraftBus.localProperties(sc))
    def isolated(task: () => T): Either[Throwable, T] = {
      val saved = GraftBus.localProperties(sc)
      GraftBus.setLocalProperties(sc, copy(caller))
      try Right(task())
      catch { case e: Throwable => Left(e) }
      finally GraftBus.setLocalProperties(sc, saved)
    }
    val outcomes =
      if (width == 1 || tasks.size <= 1) tasks.map(isolated)
      else {
        val pool = Executors.newFixedThreadPool(math.min(width, tasks.size))
        try tasks
          .map(t => pool.submit(new Callable[Either[Throwable, T]] {
            def call(): Either[Throwable, T] = isolated(t)
          }))
          .map(_.get())
        finally pool.shutdown()
      }
    val failures = outcomes.collect { case Left(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    outcomes.collect { case Right(r) => r }
  }
}
