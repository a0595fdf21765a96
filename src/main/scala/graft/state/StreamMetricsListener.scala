package graft.state

import graft.model.PipelineStatus
import org.apache.spark.sql.streaming.StreamingQueryListener

/** K4: notification/metrics hook — streaming-query lifecycle and
  * per-micro-batch progress journaled into the [[StateLog]], the engine
  * analog of the reference's SNS notifications + CloudWatch metrics
  * (SDP.py:282, :511-576). Dashboards query the same journal the batch
  * pipeline writes (G2, `StateLog.stageMetrics`).
  *
  * Appends run on a dedicated single-thread executor: a `StateLog.append`
  * is a driver-side file write and rename (no Spark job, but still file
  * I/O), and doing that I/O on the listener-bus dispatch thread would
  * back up the bus and get events dropped under short triggers. */
final class StreamMetricsListener(stateLog: StateLog)
    extends StreamingQueryListener {

  private val executor = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-stream-metrics")
    t.setDaemon(true)
    t
  })

  /** id → query name: termination events carry no name, so without this
    * a named stream would terminate under "query-<id>" while its start/
    * progress rows sit under the name — never reaching a terminal state
    * in the journal's eyes. */
  private val names = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def async(body: => Unit): Unit =
    executor.submit(new Runnable { def run(): Unit = body })

  /** Block until previously-submitted appends have been journaled. */
  def flush(timeoutMs: Long = 30000): Unit =
    executor.submit(new Runnable { def run(): Unit = () })
      .get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Per-query termination latches: `awaitTerminated` callers block on a
    * latch the journaling task itself counts down, instead of polling
    * the parquet journal (each poll is a full Spark read) and guessing
    * at delivery timing. */
  private val terminations =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()

  private def terminationLatch(key: String): java.util.concurrent.CountDownLatch =
    terminations.computeIfAbsent(key, _ => new java.util.concurrent.CountDownLatch(1))

  /** Block until `name`'s termination row is IN the journal (the latch
    * counts down after the append executes, and the append executor is
    * single-threaded FIFO, so every earlier progress row is journaled
    * too). Returns false on timeout — callers decide how loud to be. */
  def awaitTerminated(name: String, timeoutMs: Long = 30000): Boolean =
    terminationLatch(name)
      .await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = {
    val (n, id, runId) = (event.name, event.id.toString, event.runId)
    Option(n).filter(_.nonEmpty).foreach(names.put(id, _))
    async(stateLog.append(name(n, id), "stream", PipelineStatus.Running, s"runId=$runId"))
  }

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val detail = s"batchId=${p.batchId} rows=${p.numInputRows} " +
      f"rowsPerSec=${Option(p.processedRowsPerSecond).getOrElse(0.0)}%.1f"
    val qname = name(p.name, p.id.toString)
    async(stateLog.append(qname, "stream_batch", PipelineStatus.Succeeded, detail))
  }

  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    val (id, err) = (event.id.toString, event.exception)
    val key = name(names.remove(id), id)
    async {
      stateLog.append(key, "stream",
        err.fold(PipelineStatus.Succeeded)(_ => PipelineStatus.Failed),
        err.getOrElse(""))
      terminationLatch(key).countDown()
    }
  }

  private def name(n: String, id: String): String =
    Option(n).filter(_.nonEmpty).getOrElse(s"query-$id")
}
