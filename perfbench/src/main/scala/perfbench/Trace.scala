package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Tracing for the per-layer run. With tracing off every method is a
  * pass-through and no listener is registered, so timing runs measure the
  * program alone.
  *
  * Spans are recorded by the benchmark around each call into a module's
  * public functions: name, start, end, the enclosing span and the op they
  * belong to. Spark jobs are attributed to modules from outside, by the
  * call stack Spark records for each job: the innermost frame in a
  * library package names the module (`graft.state.StateLog.writeRow`
  * belongs to `state`). Everything is kept in memory and written out once,
  * when the run ends. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs: mutable.LinkedHashMap[Int, Job] = mutable.LinkedHashMap.empty
  /** (wall-clock ms when reported, planning ms) per executed query. */
  val planning: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val batches: mutable.ArrayBuffer[Batch] = mutable.ArrayBuffer.empty

  /** Time `body` as span `name`; the span's op is inherited from the
    * enclosing span of this thread unless given. */
  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id,
        if (op >= 0) op else if (parent == null) -1L else parent.op, name, System.nanoTime())
      current.set(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        spans.synchronized(spans += s)
      }
    }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new JobListener)
    spark.listenerManager.register(new PlanningListener)
    spark.streams.addListener(new BatchListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext, 60000L)
  }

  private final class JobListener extends SparkListener {
    private val stageToJob = mutable.HashMap.empty[Int, Int]
    private val executionModule = mutable.HashMap.empty[Long, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        executionModule(x.executionId) = moduleOf(x.details).getOrElse("bench")
      }
      case _ => ()
    }

    /** A job's module: from the stack of the SQL execution that ran it
      * (query stages may run on pool threads whose own stack names no
      * module), else from the job's own call stack. */
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = prop("callSite.short").orElse(e.stageInfos.headOption.map(_.name)).getOrElse("")
      val module = prop("spark.sql.execution.id").flatMap(id => executionModule.get(id.toLong))
        .orElse(e.stageInfos.headOption.flatMap(st => moduleOf(st.details)))
        .getOrElse("bench")
      val j = Job(e.jobId, site, module, prop("sql.streaming.queryId").isDefined, e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      jobs.synchronized(jobs(e.jobId) = j)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      for (jobId <- stageToJob.get(e.stageId); j <- jobs.synchronized(jobs.get(jobId)) if m != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.deserMs += m.executorDeserializeTime
        j.gcMs += m.jvmGCTime
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private final class PlanningListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      planning.synchronized(planning += ((System.currentTimeMillis(), ms)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private final class BatchListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.synchronized(batches += Batch(p.batchId, start, d("triggerExecution"),
        d("addBatch"), d("getBatch"), d("queryPlanning"), d("walCommit"), p.numInputRows))
    }
  }

  def toJson: String = {
    val sb = new StringBuilder
    sb.append("{\"spans\":[")
    spans.synchronized(spans.sortBy(_.startNs)).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("],\"jobs\":[")
    jobs.synchronized(jobs.values.toSeq).zipWithIndex.foreach { case (j, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${j.id},"site":"${j.site.replace("\"", "'")}","module":"${j.module}","streaming":${j.streaming},"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},"run_ms":${j.runMs},"shuffle_write":${j.shuffleWrite},"spill":${j.spill}}""")
    }
    sb.append("]}")
    sb.toString
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long) {
    var endNs: Long = startNs
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Job(id: Int, site: String, module: String, streaming: Boolean, startMs: Long) {
    var endMs: Long = startMs
    var tasks, runMs, deserMs, gcMs, schedDelayMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    def ms: Long = endMs - startMs
  }

  final case class Batch(id: Long, startMs: Long, triggerMs: Long, addBatchMs: Long,
                         getBatchMs: Long, planningMs: Long, walCommitMs: Long, rows: Long)

  private val Frame = """(?m)^\s*(?:at\s+)?(graft\.[a-z]+|perfbench)\.""".r

  /** The module of the innermost frame of a call stack that belongs to
    * the library (its package under `graft`) or to the benchmark. */
  def moduleOf(stack: String): Option[String] =
    Option(stack).flatMap(Frame.findFirstMatchIn).map(_.group(1) match {
      case "perfbench" => "bench"
      case pkg => pkg.stripPrefix("graft.")
    })

  /** Total length of the union of [start, end) intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
