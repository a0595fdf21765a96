package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.util.Try

/** Aggregates observed on the job an action already runs
  * (`Dataset.observe`), read back on the driver once the action returns —
  * a driver-side scalar that costs no job of its own.
  *
  * Spark's own `Observation` is not used: it stores an
  * `ObservationManager` on the session that is not serializable, so once
  * a session has observed anything, every closure that captures the
  * session fails with "Task not serializable" (Spark ML's training
  * summaries capture it; t23's `LogisticRegression` broke that way). One
  * listener per session completes the pending observations instead,
  * with the same rule Spark uses: an execution that holds the observing
  * node completes it, with its row or with `None` when the executed plan
  * no longer reports it (adaptive execution replaces a stage that
  * produced no rows, and an observing node inside it). */
object Observed {

  private val pending = new ConcurrentHashMap[String, Promise[Option[Row]]]()
  private val listening = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private object Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      complete(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      complete(qe)
  }

  private def complete(qe: QueryExecution): Unit =
    qe.logical.foreach {
      case c: CollectMetrics =>
        Option(pending.remove(c.name)).foreach { p =>
          p.trySuccess(Try(qe.observedMetrics.get(c.name)).toOption.flatten)
        }
      case _ =>
    }

  /** Run `action` on `df` with `metrics` (aggregate columns) observed on
    * the action's own job. Returns the action's result and the observed
    * row, or `None` when the executed plan did not report it — callers
    * fall back to computing the value themselves. */
  def apply[A](df: DataFrame, metrics: Column*)(action: DataFrame => A): (A, Option[Row]) = {
    val spark = df.sparkSession
    listening.synchronized {
      if (listening.add(spark)) spark.listenerManager.register(Listener)
    }
    val name = s"graft-observed-${java.util.UUID.randomUUID()}"
    val result = Promise[Option[Row]]()
    pending.put(name, result)
    try {
      val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
      val out = action(df.observe(name, named.head, named.tail: _*))
      // the listener runs on the listener bus, shortly after the action
      (out, Try(Await.result(result.future, 2.minutes)).toOption.flatten)
    } finally pending.remove(name)
  }
}
