package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Sizes of the generated inputs. `normal` is what the benchmark measures;
  * `tiny` only proves that every path runs and every answer checks out. */
final case class Scale(
    smallPool: Int,        // 100-record uploads generated for the closed loop
    backlogFiles: Int,     // 100-record files staged before the stream starts
    streamFilesPerS: Int,  // the open-loop generator's fixed rate
    corpusDocs: Int,
    corpusPairs: Int,      // planted near-duplicate pairs
    boilerplateDocs: Int,  // documents sharing the over-cap boilerplate head
    setupRounds: Int)      // set-ups per run; setup_s reports their median

object Scale {
  val normal: Scale = Scale(60, 100, 10, 1200, 40, 120, 2)
  val tiny: Scale = Scale(20, 20, 5, 400, 8, 80, 1)
}

/** Everything a workload needs: the session, its private temp root and
  * table-name tag, the seed, the run length and the tracer. */
final case class Ctx(spark: SparkSession, root: Path, tag: String, seed: Long,
                     seconds: Int, scale: Scale, trace: Trace) {
  def dir(name: String): String = root.resolve(name).toString
  def rng(stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + stream)
  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench +${up / 1000.0}%.1fs] $msg")
  }
}

/** What a workload hands back. `opMs` are the latencies of its timed unit
  * operation; `perSecond` its throughput; `named` the workload's own
  * end-to-end figures under the names the README uses; `layers` the
  * per-layer figures of a traced run; `errors` one line per wrong answer. */
final case class Outcome(
    setupS: Double,
    opMs: Seq[Double],
    perSecond: Double,
    attempted: Int,
    failed: Int,
    named: Seq[(String, Double, String)],
    layers: Map[String, Double],
    errors: Seq[String])

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(opts.getOrElse("root", sys.error("--root is required"))).toAbsolutePath
    val scale = if (opts.get("scale").contains("tiny")) Scale.tiny else Scale.normal
    val tag = opts.getOrElse("tag", "run")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val conf = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> root.resolve("warehouse").toString,
      "spark.local.dir" -> root.resolve("spark-local").toString)
    val builder = SparkSession.builder().master(s"local[$cpus]").appName(s"perfbench-$workload")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(traced)
    trace.install(spark)
    val ctx = Ctx(spark, root, tag, seed, seconds, scale, trace)
    val out = try {
      workload match {
        case "pipeline_small" => Workloads.pipelineSmall(ctx)
        case "stream_ingest"  => Workloads.streamIngest(ctx)
        case "corpus_dedup"   => Workloads.corpusDedup(ctx)
        case other            => sys.error(s"unknown workload $other")
      }
    } finally {
      trace.drain(spark)
    }
    if (traced) Files.writeString(root.resolve("trace.json"), trace.toJson)
    spark.stop()

    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val (tailMs, tailPct) = Stats.tail(out.opMs)
    val metrics = Seq(
      ("setup_s", sessionS + out.setupS, "s"),
      ("op_p50_ms", Stats.median(out.opMs), "ms"),
      ("op_tail_ms", tailMs, "ms"),
      ("throughput_per_s", out.perSecond, "1/s"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB"))
    val provenance = Seq(
      "cpus" -> cpus.toString, "master" -> s"local[$cpus]",
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "seed" -> seed.toString, "seconds" -> seconds.toString,
      "scale" -> opts.getOrElse("scale", "normal"),
      "spark_version" -> spark.version,
      "session_s" -> f"$sessionS%.4f") ++ conf.map { case (k, v) => s"conf:$k" -> v }
    val json = new StringBuilder
    json.append("{\"workload\":\"").append(workload).append("\",")
    json.append("\"attempted\":").append(out.attempted).append(",\"failed\":").append(out.failed)
    json.append(",\"metrics\":").append(Json.metrics(metrics))
    json.append(",\"named\":").append(Json.metrics(out.named ++
      Seq(("tail_percentile", tailPct, "%"), ("samples", out.opMs.size.toDouble, "count"),
        ("failed_share", out.failed.toDouble / math.max(1, out.attempted), "ratio"),
        ("jvm_gc_ms", gcs.map(_.getCollectionTime).sum.toDouble, "ms"),
        ("jvm_gc_count", gcs.map(_.getCollectionCount).sum.toDouble, "count"))))
    json.append(",\"layers\":").append(Json.obj(out.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    json.append(",\"provenance\":").append(Json.obj(provenance.map { case (k, v) => k -> Json.str(v) }))
    json.append(",\"op_ms\":[").append(out.opMs.map(v => f"$v%.1f").mkString(",")).append("]")
    json.append(",\"errors\":[").append(out.errors.take(20).map(Json.str).mkString(",")).append("]}")
    println("PERFBENCH_RESULT " + json)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and which
    * percentile that is. With fewer than eleven samples it is the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, 100.0)
    else if (n < 11) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (k, v, u) => k -> s"""{"value":${num(v)},"unit":${str(u)}}""" })
}

/** Summing helpers for the traced run's per-layer numbers. */
object Layers {
  def jobsOf(trace: Trace): Seq[Trace.Job] = trace.jobs.synchronized(trace.jobs.values.toSeq)

  /** Spark-wide figures over the jobs that ran inside `windows`
    * (wall-clock ms intervals), per op. */
  def spark(trace: Trace, windows: Seq[(Long, Long)], ops: Int): Map[String, Double] = {
    val inside = jobsOf(trace).filter(j => windows.exists { case (s, e) => j.startMs >= s && j.startMs <= e })
    val n = math.max(1, ops).toDouble
    val wall = windows.map { case (s, e) => e - s }.sum
    val busy = windows.map { case (s, e) =>
      Trace.unionMs(inside.flatMap(j => if (j.endMs < s || j.startMs > e) None
        else Some((math.max(j.startMs, s), math.min(j.endMs, e)))))
    }.sum
    Map(
      "spark.jobs" -> inside.size / n,
      "spark.tasks" -> inside.map(_.tasks).sum / n,
      "spark.planning_ms" -> trace.planning.synchronized(trace.planning.toSeq)
        .filter { case (t, _) => windows.exists { case (s, e) => t >= s && t <= e + 50 } }.map(_._2).sum / n,
      "spark.job_ms" -> inside.map(_.ms).sum / n,
      "spark.driver_gap_ms" -> (wall - busy) / n,
      "spark.task_run_ms" -> inside.map(_.runMs).sum / n,
      "spark.task_deser_ms" -> inside.map(_.deserMs).sum / n,
      "spark.sched_delay_ms" -> inside.map(_.schedDelayMs).sum / n,
      "spark.gc_ms" -> inside.map(_.gcMs).sum / n,
      "spark.async_job_ms" -> inside.filter(_.streaming).map(_.ms).sum / n,
      "spark.shuffle_write_bytes" -> inside.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> inside.map(_.shuffleRead).sum / n,
      "spark.spill_bytes" -> inside.map(_.spill).sum / n,
      "spark.input_bytes" -> inside.map(_.input).sum / n,
      "spark.output_bytes" -> inside.map(_.output).sum / n)
  }

  /** Jobs and job time per module, per op. */
  def modules(trace: Trace, windows: Seq[(Long, Long)], ops: Int): Map[String, Double] = {
    val inside = jobsOf(trace).filter(j => windows.exists { case (s, e) => j.startMs >= s && j.startMs <= e })
    val n = math.max(1, ops).toDouble
    inside.groupBy(_.module).toSeq.flatMap { case (m, js) =>
      Seq(s"$m.jobs" -> js.size / n, s"$m.job_ms" -> js.map(_.ms).sum / n)
    }.toMap
  }

  /** Files and bytes under a directory tree, data files only. */
  def tree(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      var files = 0L; var bytes = 0L
      val it = Files.walk(p).iterator()
      while (it.hasNext) {
        val f = it.next()
        val name = f.getFileName.toString
        if (Files.isRegularFile(f) && !name.startsWith(".") && !name.startsWith("_")) {
          files += 1; bytes += Files.size(f)
        }
      }
      (files, bytes)
    }
  }
}
