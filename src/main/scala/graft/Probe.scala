package graft

import graft.similarity.{Planted, Similarity}
import org.apache.spark.GraftAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The diagnostic main, on the engine [[Session]] builds. Modes:
  *
  *  - `time`: per query, one warm run, then two timed noop-sink runs; for
  *    the faster one, wall, process cpu, jobs/stages/tasks and each job
  *    (duration, stages, tasks, description). The mins are merged into
  *    `tmp/probe_<sf>.json`, the solo artifact that `scripts/sfsweep.py`
  *    reads through `--probe-lo/--probe-hi`.
  *  - `stream`: per st-replay query, one warm run, then one timed run with
  *    every micro-batch's `durationMs` phases and state-store commits.
  *  - `plan`: per query, the plan of every execution the query function
  *    triggers while it builds (a localCheckpoint or persist+count hides
  *    everything below the cut from the top-level plan), then the query's
  *    own final AQE plan.
  *  - `recall`: s04 PQ recall per (codes, refine) and IVF recall on the
  *    planted corpus as its mixing weight shrinks; names are ignored.
  *
  * Usage: runMain graft.Probe <time|stream|plan|recall> <sfDir> [q1,q2,...]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Probe <time|stream|plan|recall> <sfDir> [q1,q2,...]")
    val names = args.lift(2).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val spark = Session.local(Session.envCpus)
    try run(spark, args(0), args(1), names).foreach(println)
    finally spark.stop()
  }

  /** The report lines of one mode; leaves `spark` running. */
  def run(spark: SparkSession, mode: String, sfDir: String, names: Seq[String]): Seq[String] = {
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n")))
    mode match {
      case "time" => time(spark, sfDir, fns)
      case "stream" => stream(spark, sfDir, fns)
      case "plan" => plan(spark, sfDir, fns)
      case "recall" => recall(spark, sfDir)
      case other => sys.error(s"unknown probe mode $other: not time, stream, plan or recall")
    }
  }

  private type Query = (String, (SparkSession, String) => DataFrame)
  private def runToNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def warm(spark: SparkSession, sfDir: String, fn: Query): Unit =
    try runToNoop(fn._2(spark, sfDir)) catch { case _: Throwable => () }

  /** `body` with `l` listening to exactly its events: the bus is drained
    * before `l` is added and again before it is removed. */
  private def listening[A](spark: SparkSession, l: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    GraftAccess.drainListenerBus(sc)
    sc.addSparkListener(l)
    try body finally { GraftAccess.drainListenerBus(sc); sc.removeSparkListener(l) }
  }

  private final case class Job(id: Int, desc: String, start: Long, stages: Seq[Int],
                               var end: Long = 0, var tasks: Int = 0)

  /** Every job (with its task count) started while listening. The bus
    * delivers on one thread, and reads follow a drain. */
  private final class Jobs extends SparkListener {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
      jobs += Job(e.jobId, desc, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      jobs.find(_.stages.contains(e.stageId)).foreach(j => j.tasks += 1)
  }

  private def time(spark: SparkSession, sfDir: String, fns: Seq[Query]): Seq[String] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val lines = fns.flatMap { case q @ (n, fn) =>
      warm(spark, sfDir, q)
      val (wall, cpu, jobs) = (1 to 2).map { _ =>
        val log = new Jobs
        val (w, c) = listening(spark, log) {
          val c0 = os.getProcessCpuTime
          val t0 = System.nanoTime()
          runToNoop(fn(spark, sfDir))
          ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
        }
        (w, c, log.jobs.toSeq)
      }.minBy(_._1)
      mins(n) = wall
      val head = f"TIME $n wall=$wall%.3f cpu=$cpu%.2f jobs=${jobs.size} " +
        s"stages=${jobs.map(_.stages.size).sum} tasks=${jobs.map(_.tasks).sum}"
      head +: jobs.map(j => f"   job=${j.id}%-4d ${(j.end - j.start) / 1e3}%6.3fs " +
        s"stages=${j.stages.size} tasks=${j.tasks} ${j.desc.take(100)}")
    }
    lines :+ writeSoloArtifact(sfDir, mins.toMap)
  }

  /** Merges `mins` into `tmp/probe_<sf>.json`, so probes of different
    * query sets accumulate into one artifact per SF. */
  private def writeSoloArtifact(sfDir: String, mins: Map[String, Double]): String = {
    val sfName = new java.io.File(sfDir).getName
    val p = java.nio.file.Paths.get(s"tmp/probe_$sfName.json")
    java.nio.file.Files.createDirectories(p.getParent)
    val prev =
      if (!java.nio.file.Files.exists(p)) Map.empty[String, Double]
      else """"([^"]+)"\s*:\s*([0-9.]+)""".r
        .findAllMatchIn(java.nio.file.Files.readString(p))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val merged = prev ++ mins
    val body = merged.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.3f""" }
    java.nio.file.Files.writeString(p, s"""{"sf":"$sfName",${body.mkString(",")}}""")
    s"TIME wrote $p (${merged.size} queries)"
  }

  /** Micro-batch progress of every session: the st replays stream in
    * cloned sessions, whose events reach the shared listener bus. */
  private final class Batches extends SparkListener {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case pe: QueryProgressEvent =>
        val p = pe.progress
        val dur = p.durationMs.asScala.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }
        val state = p.stateOperators.map(so =>
          s"commit=${so.commitTimeMs}ms mem=${so.memoryUsedBytes}").mkString(" | ")
        lines += f"  batch=${p.batchId}%-3d rows=${p.numInputRows}%-6d ${dur.mkString(" ")}  [$state]"
      case _ =>
    }
  }

  private def stream(spark: SparkSession, sfDir: String, fns: Seq[Query]): Seq[String] =
    fns.flatMap { case q @ (n, fn) =>
      warm(spark, sfDir, q)
      val batches = new Batches
      val wall = listening(spark, batches) {
        val t0 = System.nanoTime()
        runToNoop(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      f"STREAM $n wall=$wall%.3f batches=${batches.lines.size}" +: batches.lines.toSeq
    }

  /** `qe`'s formatted plan, uncut: Spark shortens field lists past
    * `spark.sql.debug.maxToStringFields` ("... N more fields"). The
    * limit is lifted in a copy of the session conf, because intermediate
    * executions are explained on the listener thread, which does not see
    * the caller's session. */
  private def fullPlan(qe: QueryExecution): String = {
    val conf = qe.sparkSession.sessionState.conf.clone()
    conf.setConfString("spark.sql.debug.maxToStringFields", Int.MaxValue.toString)
    SQLConf.withExistingConf(conf)(qe.explainString(FormattedMode))
  }

  private def plan(spark: SparkSession, sfDir: String, fns: Seq[Query]): Seq[String] =
    fns.flatMap { case (n, fn) =>
      val subs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val l = new QueryExecutionListener {
        override def onSuccess(action: String, qe: QueryExecution, d: Long): Unit = subs.add(
          s"== $n INTERMEDIATE EXECUTION ${subs.size + 1} ($action) ==\n" + fullPlan(qe))
        override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      val df = try fn(spark, sfDir) finally {
        GraftAccess.drainListenerBus(spark.sparkContext); spark.listenerManager.unregister(l)
      }
      // collect() runs df's own QueryExecution (a noop write would plan a
      // new one), so the explain below shows AQE's final runtime choices.
      // Its completion event is drained here, before the next query's
      // listener registers, so it is never listed as that query's.
      df.collect()
      GraftAccess.drainListenerBus(spark.sparkContext)
      subs.asScala.toSeq :+ s"== $n FINAL PLAN ==\n${fullPlan(df.queryExecution)}"
    }

  private def recall(spark: SparkSession, sfDir: String): Seq[String] = {
    /** (worst, mean) recall@TopK of `approx` against `exact`. */
    def recallOf(exact: DataFrame, approx: DataFrame): (Double, Double) = {
      val r = exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id").withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / Similarity.TopK).as("recall"))
        .agg(min(col("recall")), avg(col("recall"))).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val exact = Similarity.s01BruteForceTopK(spark, sfDir).cache()
    exact.count()
    val pq = for ((codes, refine) <- Seq((16, 200), (16, 500), (32, 200), (32, 500))) yield {
      val t0 = System.nanoTime()
      val (worst, mean) = recallOf(exact, Similarity.s04PqTopK(spark, sfDir, codes, refine))
      f"RECALL codes=$codes%-3d refine=$refine%-4d worst=$worst%.2f mean=$mean%.2f " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.1fs"
    }
    exact.unpersist()
    // the hard regime: IVF on the planted corpus as alpha nears the
    // isotropic boundary — s22's floor comes from this degradation
    val hard = for (alpha <- Seq(0.35, 0.30, 0.25, 0.20, 0.15, 0.10)) yield {
      val hc = Planted.plantedCorpus(spark, sfDir, alpha).select("vec_id", "embedding")
      val ivf = Similarity.ivfTopKOn(hc, Similarity.fitCoarse(hc))
      val (worst, mean) = recallOf(Similarity.bruteTopKOn(hc), ivf)
      f"HARD-IVF alpha=$alpha%.2f worst=$worst%.2f mean=$mean%.2f"
    }
    pq ++ hard
  }
}
