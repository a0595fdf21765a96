package graft
import org.apache.spark.sql.SparkSession

/** Contamination-sentinel logic, factored out of [[Bench]] so the
  * detection thresholds are spec-testable without a 15-minute bench run
  * (VERDICT r11 item 1: the committed BENCH_r11.json shipped 10×-inflated
  * cpu_sec while self-reporting clean — the official artifact must never
  * be able to do that again). */
object BenchSentinel {
  /** Clean-vs-clean calibration (two r11 solo artifacts, rows with
    * baseline cpu ≥ 1 s): ratio max 2.55×, zero rows over 3×. The r11
    * contaminated run read ~10× on its heavy rows. */
  val CpuInflateRatio = 3.0
  val CpuInflateFloor = 1.0
  val CpuInflateMinRows = 5
  /** A codegen-count burst above baseline is a legitimate cpu adder
    * (Janino recompile) — such rows are excused, not counted. */
  val CpuCodegenSlack = 10L
  /** In-run bars. Calibration (round 12, this box): the bench's OWN
    * local[32] sf0.1 run pushes 1-min loadavg to 11 during sustained
    * heavy stretches (d19/st01 phases) with PSI < 2 %, so an absolute
    * load bar must sit well above the bench's own thread count's
    * reach — 24 catches the historical incident profile (a concurrent
    * 8-32-thread verify/bench, +8..32 steady load) with ~2× margin over
    * the own-run max. PSI in this container is nearly blind (1.15 under
    * 16 spinners) and is kept only as a secondary. */
  val InRunLoadBar = 24.0
  val InRunPsiBar = 10.0

  /** Attribution gate on the load bar (round 14): 1-min loadavg counts
    * OUR OWN runnable threads, so at 10× data (tmp/sf1) the solo bench
    * itself sustains load1 ≈ 27 over its heavy dedup stretch — above
    * the 24 bar — while the same boundary's foreign-cpu share reads
    * 0.09 (nothing else on the box). A high load1 is only evidence of
    * CONTENTION when someone else contributes: the bar now trips only
    * when the boundary's foreign share also reads ≥ this threshold.
    * Calibration: solo max foreign 0.091 (sf1 run, 10× the load of the
    * sf0.1 calibration runs); every co-runner class the load bar exists
    * for contributes ≥ 8 threads ≈ 0.25 share (and ≥ 16-spinner reads
    * ~0.5 — the live spinner test's regime), so 0.15 separates with
    * ~1.6× margin both ways. IO-bound (D-state) co-runners that load
    * the box without burning cpu are the io-PSI bar's job. */
  val LoadAttributionForeign = 0.15

  /** The decisive in-run lever: FOREIGN cpu share — system-wide cpu load
    * minus this JVM's own — sampled at every query boundary. A solo
    * clean run reads ~0-0.1 (kernel + the sbt supervisor); any
    * same-namespace co-runner burning a quarter of the box trips it
    * (16 spinners on 32 cores read ~0.5) regardless of how short the
    * load-average window makes the spike look. Cross-namespace
    * neighbors stay invisible to every /proc signal — that case is what
    * the cpu-baseline lever exists for. */
  val ForeignCpuBar = 0.25

  /** Parse the committed baseline TSV: `name<TAB>cpu_sec<TAB>codegen`
    * with an optional 4th `wall_sec` column (round 14), '#' comments.
    * Returns name -> (cpu_sec, codegen). */
  def parseBaseline(lines: Seq[String]): Map[String, (Double, Long)] =
    lines.filterNot(l => l.startsWith("#") || l.isBlank).flatMap { l =>
      l.split("\t") match {
        case arr if arr.length >= 3 =>
          try Some(arr(0) -> (arr(1).toDouble, arr(2).toLong))
          catch { case _: Throwable => None }
        case _ => None
      }
    }.toMap

  /** The wall column of the baseline TSV (4th field; rows without one —
    * pre-round-14 TSVs or refreshes that recorded -1 — are absent, so
    * the wall lever is per-row disarmed rather than spuriously armed).
    * Returns name -> (wall_sec, codegen). */
  def parseWallBaseline(lines: Seq[String]): Map[String, (Double, Long)] =
    lines.filterNot(l => l.startsWith("#") || l.isBlank).flatMap { l =>
      l.split("\t") match {
        case arr if arr.length >= 4 =>
          try {
            val w = arr(3).toDouble
            if (w >= 0) Some(arr(0) -> (w, arr(2).toLong)) else None
          } catch { case _: Throwable => None }
        case _ => None
      }
    }.toMap

  /** Rows whose run cpu exceeds CpuInflateRatio× a ≥-floor baseline at a
    * codegen count not above baseline + slack. ≥ CpuInflateMinRows such
    * rows ⇒ the run is contaminated regardless of what load/PSI said. */
  def inflatedRows(baseline: Map[String, (Double, Long)],
                   run: Seq[(String, Double, Long)]): Seq[(String, Double, Double)] =
    run.flatMap { case (name, cpu, cg) =>
      baseline.get(name).collect {
        case (baseCpu, baseCg)
          if baseCpu >= CpuInflateFloor && cpu > CpuInflateRatio * baseCpu &&
            (cg < 0 || cg <= baseCg + CpuCodegenSlack) =>
          (name, baseCpu, cpu)
      }
    }

  def cpuInflated(rows: Seq[(String, Double, Double)]): Boolean =
    rows.size >= CpuInflateMinRows

  /** The wall-only-inflation lever (VERDICT r13 item 1): BENCH_r13
    * shipped g23 at 9.89 s against a 0.27–0.36 s clean-solo range under
    * `contaminated: false` — IO/scheduling pressure stretches WALL
    * without inflating our own JVM's cpu, crossing none of the other
    * levers. Clean-vs-clean calibration (four r13 solo artifacts vs
    * their min-merged walls): max ratio 1.99×, ZERO rows over 2× at run
    * wall ≥ 1 s, while the incident class reads 15–30× — so 3× at a 1 s
    * run-wall floor separates jitter from contamination with ≥ 1.5×
    * margin each way. The floor is on the RUN wall (not the baseline):
    * g23's baseline is 0.27 s and must still be guarded; a 0.2 s row
    * jittering to 0.7 s must not flag. */
  val WallInflateRatio = 3.0
  val WallRunFloor = 1.0

  /** Rows whose run WALL exceeds WallInflateRatio× the committed clean
    * wall, at ≥ WallRunFloor run wall and codegen not above baseline +
    * slack (a Janino recompile burst legitimately adds wall). Any such
    * row is retimed by heal wave 3; any still inflated after the heal
    * keeps the run contaminated — per-row, no minimum count: the
    * calibrated clean false-positive rate is zero. */
  def wallInflatedRows(baseline: Map[String, (Double, Long)],
                       run: Seq[(String, Double, Long)]): Seq[(String, Double, Double)] =
    run.flatMap { case (name, wall, cg) =>
      baseline.get(name).collect {
        case (baseWall, baseCg)
          if baseWall > 0 && wall >= WallRunFloor &&
            wall > WallInflateRatio * baseWall &&
            (cg < 0 || cg <= baseCg + CpuCodegenSlack) =>
          (name, baseWall, wall)
      }
    }
}

/** Self-healing retime state machine (VERDICT r12 item 1): when the
  * in-run sentinel trips at a query boundary, the run should not just
  * flag itself — it quarantines the queries timed while any bar was
  * crossed, waits (bounded) for the bars to clear, re-times them under
  * verified-clean bracketing samples, and ships clean numbers with
  * `retimed` provenance. A run where the bars never clear still ships
  * `contaminated: true`; a solo clean run never enters this path.
  * Factored pure so RoundThirteenOpsSpec drives the state machine
  * without a 15-minute bench run. */
object BenchRetimer {
  /** One boundary sample: 1-min loadavg, cpu PSI avg10, foreign-cpu
    * share, io PSI avg10 (round 14 — the g23 incident's contention class
    * stretches wall through IO/scheduling pressure the cpu-only samples
    * never see; `io` defaults to -1 = not sampled so pre-round-14 spec
    * scenarios stay valid). */
  final case class Sample(load1: Double, psi: Double, foreign: Double,
                          io: Double = -1.0)

  /** io PSI bar: the bench's own solo run does real parquet/CSV/ORC
    * writes (k07's 1300-file lake, the st replays), measured own-run
    * boundary max io-some avg10 ≈ 12 on this box; a disk-saturating
    * co-runner reads 60-90 within one avg10 window. 40 sits ~3× the
    * own-run max and well under the saturation class. */
  val InRunIoPsiBar = 40.0

  /** A boundary is dirty iff any in-run bar is crossed — the same levers
    * the sentinel flags on ([[BenchSentinel.InRunLoadBar]] /
    * [[BenchSentinel.InRunPsiBar]] / [[BenchSentinel.ForeignCpuBar]] /
    * [[InRunIoPsiBar]]). Round 14: the load bar carries an attribution
    * gate — loadavg counts our own threads, so it is only contention
    * evidence when the boundary's foreign share corroborates
    * ([[BenchSentinel.LoadAttributionForeign]]); an unsampled foreign
    * (< 0) keeps the bar armed, never disarms it. */
  def dirty(s: Sample): Boolean =
    (s.load1 > BenchSentinel.InRunLoadBar &&
      (s.foreign < 0 || s.foreign >= BenchSentinel.LoadAttributionForeign)) ||
      s.psi > BenchSentinel.InRunPsiBar ||
      s.foreign > BenchSentinel.ForeignCpuBar || s.io > InRunIoPsiBar

  /** Queries bracketed by a dirty boundary. `samples(0)` precedes the
    * first query and `samples(i + 1)` follows query `i`, so query `i` is
    * quarantined iff either of its bracketing samples is dirty —
    * contention observed at a query's start OR end taints its timing
    * (contention that both started and stopped strictly inside one
    * query's window is what the cpu-baseline lever exists for). */
  def quarantined(names: Seq[String], samples: Seq[Sample]): Seq[String] = {
    require(samples.length == names.length + 1,
      s"need ${names.length + 1} boundary samples, got ${samples.length}")
    names.zipWithIndex.collect {
      case (n, i) if dirty(samples(i)) || dirty(samples(i + 1)) => n
    }
  }

  /** Total healing budget: bounded so a permanently-contended box ships
    * `contaminated: true` after 5 min instead of hanging the driver. */
  val MaxWaitMs = 300000L
  /** Poll cadence while waiting for the bars to clear. */
  val PollMs = 5000L
  /** Consecutive clean polls required before retiming resumes — a single
    * clean sample mid-oscillation must not restart timing. */
  val CleanStreak = 3

  /** Retiming may proceed iff the trailing [[CleanStreak]] polls are all
    * clean. */
  def cleanToProceed(recent: Seq[Sample]): Boolean =
    recent.length >= CleanStreak &&
      recent.takeRight(CleanStreak).forall(s => !dirty(s))

  /** A retimed reading is accepted iff its own bracketing samples are
    * clean — otherwise the query goes back in quarantine. */
  def retimeAccepted(before: Sample, after: Sample): Boolean =
    !dirty(before) && !dirty(after)

  /** Per-row retime attempts for the baseline-keyed waves (2: cpu, 3:
    * wall) before the row is declared unhealed. Bars being quiet is NOT
    * acceptance for those waves (ADVICE r13): the retimed reading must
    * itself clear the row's baseline check, else cross-cgroup contention
    * the bars cannot see would launder a contaminated wall into the
    * official numbers. Two attempts absorb one episodic swing (the
    * min-of-two timing already damps a single GC burst) without letting
    * a genuinely-contended box spin to the deadline on one row. */
  val MaxRetimeAttempts = 2

  /** VERDICT r14 item 3: waves 1-3 share ONE MaxWaitMs budget opened at
    * the first trip, so contention that persisted through that window
    * shipped `contaminated: true` even when the box went quiet later in
    * the run (BENCH_r14: 5 unhealed rows, load1 back to 2 by env_end).
    * The final requeue opens a FRESH bounded budget at end-of-run for
    * the still-unhealed rows — the run converges to clean whenever the
    * foreign load ends before the bench does, and a permanently-noisy
    * box still terminates contaminated after this second window. */
  val FinalRequeueWaitMs = 300000L

  /** Acceptance for a final-requeue reading: the row must clear BOTH
    * committed-baseline levers (cpu wave-2 check at its codegen, wall
    * wave-3 check) — strictly stronger than any single wave's own
    * predicate, so a requeue acceptance can never launder a reading the
    * per-wave heals would have rejected. Absent baselines disarm their
    * lever here exactly as they do in the final verdict. */
  def requeueAccepted(cpuBaseline: Map[String, (Double, Long)],
                      wallBaseline: Map[String, (Double, Long)],
                      name: String, wall: Double, cpu: Double,
                      cg: Long): Boolean =
    BenchSentinel.inflatedRows(cpuBaseline, Seq((name, cpu, cg))).isEmpty &&
      BenchSentinel.wallInflatedRows(wallBaseline, Seq((name, wall, cg))).isEmpty
}

object Bench {
  /** Timed action: a noop-sink write executes the FULL plan (projection,
    * sort, every output column) — a bare `count()` lets ColumnPruning /
    * EliminateSorts strip the work being measured on projection-only
    * queries. */
  private def runToNoop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // --- contention provenance (VERDICT r6 item 3) -------------------------
  // Three straight rounds re-litigated environmentally inflated bench
  // readings (r4/r5/r6: driver runs 1.5-3× a clean solo run on unchanged
  // plans). Record enough host state in the artifact that a contaminated
  // run self-identifies: loadavg + PSI cpu pressure + process count at
  // start/end, plus per-query wall-vs-JVM-cpu — a solo run on local[N]
  // has wall ≈ cpu/threads-in-use; an oversubscribed container shows
  // wall ≫ that with high psi_avg10.
  private def loadAvg: Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }
  private def psiAvg10(resource: String): Double =
    try {
      val first = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"/proc/pressure/$resource")).get(0)
      first.split("\\s+").collectFirst {
        case f if f.startsWith("avg10=") => f.stripPrefix("avg10=").toDouble
      }.getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }
  private def cpuPsiAvg10: Double = psiAvg10("cpu")
  // io pressure (round 14): the g23 incident class — wall stretched by
  // IO/scheduling contention — is invisible to cpu PSI; the 'some'
  // avg10 of /proc/pressure/io is the direct signal for it
  private def ioPsiAvg10: Double = psiAvg10("io")
  private def procCount: Int =
    try new java.io.File("/proc").listFiles()
      .count(f => f.isDirectory && f.getName.forall(_.isDigit))
    catch { case _: Throwable => -1 }
  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private def jvmCpuSec: Double =
    osBean.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)
  // Per-query GC + codegen provenance (VERDICT r10 item 3): the d07-family
  // episodic swings (one family member 2-6 s slow per run, plan unchanged)
  // were unattributable from jobs/stages/tasks/cpu alone. GC time is the
  // JVM-wide collector total; codegen compiles counts Janino compilations
  // (a nonzero delta 170 queries into a session = generated-class cache
  // eviction, re-paying the 0.1-2 s compile inside a timed run).
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
  private def codegenCompiles: Long =
    try org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    catch { case _: Throwable => -1L }

  /** Per-query job/stage/task provenance (VERDICT r5 item 9): the bench's
    * open question is how much of each query is scheduling floor vs data
    * work, so count the scheduler events behind each timed run. A simple
    * 100k-row scan+agg should be a couple of jobs; a floor regression
    * shows up as a job-count jump even when wall time is noisy. */
  private final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    val jobs   = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks  = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); stages.addAndGet(e.stageInfos.size); ()
    }
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet(); ()
    }
    def snapshot: (Long, Long, Long) = (jobs.get, stages.get, tasks.get)
  }

  def main(args: Array[String]): Unit = {
    // FIRST line of main: the pre-warmup contention sample must predate
    // our own SparkSession spin-up — sampling after getOrCreate reads
    // back the bench's own startup (measured: 1-min loadavg ~3 from sbt
    // boot + session creation on an otherwise idle box) and
    // self-flags every run as contaminated.
    val envPre = (loadAvg, cpuPsiAvg10, procCount, System.currentTimeMillis())
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The committed clean-run cpu baseline for this SF (the 1b sentinel
    // lever's reference). Loaded up front so both the heal pass and the
    // final verdict read the same map — and so a DISARMED sentinel is
    // loud (ADVICE r12): an absent baseline file used to leave
    // cpuInflated silently false with only an empty JSON field as trace.
    val benchBaselinePath = {
      val sfName = new java.io.File(sfDir).getName
      java.nio.file.Paths.get(s"scripts/bench_cpu_baseline_$sfName.tsv")
    }
    val benchCpuBaseline: Map[String, (Double, Long)] =
      if (java.nio.file.Files.exists(benchBaselinePath))
        BenchSentinel.parseBaseline(
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(benchBaselinePath)).asScala.toSeq)
      else Map.empty
    if (benchCpuBaseline.isEmpty)
      System.err.println(
        s"WARNING: cpu-inflation sentinel DISARMED — baseline file " +
          s"$benchBaselinePath is missing or empty for this SF; the run " +
          "can NOT self-detect cache/bandwidth contamination (refresh it " +
          "from a clean solo run before trusting this artifact).")
    // The wall column of the same TSV (round 14): the reference for the
    // wall-only-inflation lever / heal wave 3 (the BENCH_r13 g23 class).
    val benchWallBaseline: Map[String, (Double, Long)] =
      if (java.nio.file.Files.exists(benchBaselinePath))
        BenchSentinel.parseWallBaseline(
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(benchBaselinePath)).asScala.toSeq)
      else Map.empty
    if (benchWallBaseline.isEmpty && benchCpuBaseline.nonEmpty)
      System.err.println(
        s"WARNING: wall-inflation sentinel DISARMED — $benchBaselinePath " +
          "has no wall column; refresh it (scripts/refresh_cpu_baseline.py) " +
          "from clean solo artifacts to arm the g23-class lever.")
    val spark = Session.local(Session.envCpus)
    // Warm-up: pay executor spin-up + whole-stage-codegen compilation +
    // JIT outside the timed runs by executing every query once at the
    // smallest SF (Janino compilation of the generated code is 2-5 s for
    // the wide-aggregate operators and is amortized across a real
    // deployment — the timed numbers measure data throughput, not
    // first-call compilation).
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val warmDir = "/root/testdata/sf0.001"
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
        SparkEntry.queries.foreach { case (_, fn) =>
          try runToNoop(fn(spark, warmDir)) catch { case _: Throwable => () }
        }
    } catch { case _: Throwable => () }
    // Two timed runs per query, report the min: steady-state throughput is
    // what scales, and the min filters out one-off GC pauses / page-cache
    // misses / range-sampling jitter that a single sample at toy SF is
    // dominated by (observed run-to-run swings of 2-5× on the heavies).
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    // Output-row provenance (round 11, the d16 adjudication): a scaling
    // exponent is only meaningful RELATIVE to output growth — a row whose
    // wall-α tracks its rows-α is output-driven, not a plan regression
    // (d16 at sf0.3: pairs 256→17.3k = α 3.8 BY CORPUS CONSTRUCTION,
    // wall α ~1.7). The noop write's root exec carries numOutputRows;
    // read it off the listener bus after each run.
    val lastRows = new java.util.concurrent.atomic.AtomicLong(-1L)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private def rowsOf(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] =
        p.metrics.get("numOutputRows").map(_.value).orElse {
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
            case other => other.children
          }
          kids.iterator.flatMap(rowsOf(_).iterator).nextOption()
        }
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = {
        try lastRows.set(rowsOf(qe.executedPlan).getOrElse(-1L))
        catch { case _: Throwable => lastRows.set(-1L) }
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    })
    val envStart =
      (loadAvg, cpuPsiAvg10, procCount, System.currentTimeMillis())
    // --- in-run contention sampling (VERDICT r11 item 1a) -----------------
    // The r11 incident: a run contended AFTER the first-line sample shipped
    // 10x-inflated cpu_sec while self-reporting clean. Sample load/PSI/
    // foreign-cpu at EVERY query boundary; bars are above anything the
    // bench's own local[32] bursts produce (measured round 12, this box:
    // the bench's OWN sf0.1 run pushes 1-min loadavg to ~11 during the
    // sustained heavy stretches — the InRunLoadBar=24 margin in
    // BenchSentinel is ~2x that own-run max; PSI avg10 stays < ~3 %) and
    // below a real co-runner (a 16-thread spinner adds +16 steady load
    // and tens of % PSI within one 10 s avg10 window).
    def foreignCpu: Double =
      osBean.map { b =>
        val sys = b.getCpuLoad
        val self = b.getProcessCpuLoad
        if (sys >= 0 && self >= 0) math.max(0.0, sys - self) else -1.0
      }.getOrElse(-1.0)
    foreignCpu // first call primes the MXBean's sampling window
    def sampleNow(): BenchRetimer.Sample =
      BenchRetimer.Sample(loadAvg.headOption.getOrElse(-1.0), cpuPsiAvg10,
        foreignCpu, ioPsiAvg10)
    val provenance = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long, Double, Long, Long, Long, Long)]
    // One measured (wall, provenance) reading for a query: two timed
    // noop-sink runs, min; shared verbatim by the main pass and the
    // retime pass so a retimed number is the same measurement.
    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      def once(): (Double, Double, Long) = {
        val c0 = jvmCpuSec
        val g0 = gcMillis
        val t0 = System.nanoTime()
        try { runToNoop(fn(spark, sfDir)) } catch { case _: Throwable => () }
        ((System.nanoTime() - t0) / 1e9, jvmCpuSec - c0, gcMillis - g0)
      }
      // listener-bus delivery is async: drain it (outside the timed
      // window) before reading a delta. A query may run MULTIPLE
      // executions (internal counts before the final noop write); after
      // the drain the last one seen is the noop write, whose root
      // numOutputRows is the query's output size.
      def drain(): Unit = org.apache.spark.GraftAccess.drainListenerBus(spark.sparkContext)
      val cg0 = codegenCompiles
      val first = once()
      drain()
      val (j0, s0, t0) = counter.snapshot
      val second = once()
      drain()
      val (j1, s1, t1) = counter.snapshot
      val cg1 = codegenCompiles
      val best = if (first._1 <= second._1) first else second
      val worse = if (first._1 <= second._1) second else first
      provenance(name) = (j1 - j0, s1 - s0, t1 - t0, best._2,
        best._3, worse._3, if (cg1 >= 0 && cg0 >= 0) cg1 - cg0 else -1L,
        lastRows.get())
      best._1
    }
    val order = SparkEntry.queries.toSeq.sortBy(_._1)
    val boundarySamples = scala.collection.mutable.ArrayBuffer(sampleNow())
    val resultsM = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    order.foreach { case (name, fn) =>
      resultsM(name) = timeQuery(name, fn)
      boundarySamples += sampleNow()
    }
    // in-run maxima provenance (boundary i=0 precedes query 1)
    val boundaryLabels = "<pre-first-query>" +: order.map(_._1)
    def maxAt(get: BenchRetimer.Sample => Double): (Double, String) =
      boundarySamples.zip(boundaryLabels).maxBy(p => get(p._1)) match {
        case (s, at) => (get(s), at)
      }
    val (inRunMaxLoad, inRunMaxLoadAt) = maxAt(_.load1)
    val (inRunMaxPsi, inRunMaxPsiAt) = maxAt(_.psi)
    val (inRunMaxForeign, inRunMaxForeignAt) = maxAt(_.foreign)
    val (inRunMaxIo, inRunMaxIoAt) = maxAt(_.io)
    // --- self-heal (VERDICT r12 item 1) -----------------------------------
    // Queries timed while any bar was crossed are quarantined and RE-TIMED
    // once the bars clear (bounded wait), so a transient co-runner costs
    // retimed provenance instead of a contaminated official artifact. A
    // solo clean run never enters this block; a box that never clears
    // ships `contaminated: true` with the unhealed rows listed.
    val names = order.map(_._1)
    val healDeadline = System.currentTimeMillis() + BenchRetimer.MaxWaitMs
    var retimedLog = List.empty[(String, Double, Double)]
    // One healing wave over `targets`: wait for CleanStreak clean polls,
    // retime, accept only under clean bracketing samples AND the wave's
    // per-row predicate on the NEW reading (ADVICE r13: for the
    // baseline-keyed waves, quiet bars alone must not launder a reading
    // that is still inflated vs the committed baseline). `accept` reads
    // the just-updated provenance for the row. Returns the queries still
    // unhealed at the deadline or after MaxRetimeAttempts predicate
    // failures under clean brackets.
    def heal(targets: Seq[String], deadline: Long,
             accept: (String, Double) => Boolean = (_, _) => true): Seq[String] = {
      def waitClean(): Boolean = {
        val recent = scala.collection.mutable.ArrayBuffer(sampleNow())
        while (!BenchRetimer.cleanToProceed(recent.toSeq)) {
          if (System.currentTimeMillis() >= deadline) return false
          Thread.sleep(BenchRetimer.PollMs)
          recent += sampleNow()
        }
        true
      }
      var pending = targets.toList
      var failed = List.empty[String]
      val attempts = scala.collection.mutable.Map.empty[String, Int]
      var live = true
      // the CleanStreak verdict costs (CleanStreak-1) polls, so it is
      // established ONCE and re-established only after a rejected retime
      // (contention returned) — each accepted retime's own bracketing
      // samples already prove its window was clean
      var cleared = false
      while (pending.nonEmpty && live && System.currentTimeMillis() < deadline) {
        if (!cleared) {
          cleared = waitClean()
          if (!cleared) live = false
        } else {
          val name = pending.head
          val prevProv = provenance.get(name)
          val prevWall = resultsM(name)
          val s0 = sampleNow()
          val wall = timeQuery(name, SparkEntry.queries(name))
          val s1 = sampleNow()
          if (!BenchRetimer.retimeAccepted(s0, s1)) {
            // contention returned mid-retime: restore the original
            // provenance and loop back to the wait state
            prevProv.foreach(provenance(name) = _)
            cleared = false
          } else if (!accept(name, wall)) {
            // clean brackets but the reading still fails the wave's
            // baseline check — retry up to MaxRetimeAttempts, then ship
            // the better (min) reading and list the row unhealed so the
            // final verdict stays contaminated
            attempts(name) = attempts.getOrElse(name, 0) + 1
            if (attempts(name) >= BenchRetimer.MaxRetimeAttempts) {
              if (wall < prevWall) resultsM(name) = wall
              else prevProv.foreach(provenance(name) = _)
              failed ::= name
              pending = pending.tail
            }
          } else {
            retimedLog ::= ((name, prevWall, wall))
            resultsM(name) = wall
            pending = pending.tail
          }
        }
      }
      pending ++ failed.reverse
    }
    val quarantine0 = BenchRetimer.quarantined(names, boundarySamples.toSeq)
    if (quarantine0.nonEmpty)
      System.err.println(
        s"WARNING: in-run contention bracketed ${quarantine0.size} queries " +
          s"(${quarantine0.take(5).mkString(", ")}${if (quarantine0.size > 5) ", ..." else ""}) " +
          "— waiting for the bars to clear and retiming them.")
    val unhealedWave1 =
      if (quarantine0.nonEmpty) heal(quarantine0, healDeadline) else Nil
    // Wave 2: rows whose cpu_sec still reads inflated vs the committed
    // clean baseline (cross-namespace contention the bars never see) get
    // one retime pass under the same budget — recomputed from the final
    // provenance afterwards, so a heal that didn't actually help still
    // flags.
    def provCpuRows: Seq[(String, Double, Long)] =
      provenance.toSeq.map { case (n, (_, _, _, cpu, _, _, cg, _)) => (n, cpu, cg) }
    def cgOf(n: String): Long = provenance.get(n).map(_._7).getOrElse(-1L)
    val baselineForHeal = benchCpuBaseline
    val inflatedAfterWave1 = BenchSentinel.inflatedRows(baselineForHeal, provCpuRows)
    val unhealedWave2 =
      if (BenchSentinel.cpuInflated(inflatedAfterWave1)) {
        System.err.println(
          s"WARNING: ${inflatedAfterWave1.size} rows still cpu-inflated vs " +
            "the clean baseline after the boundary heal — retiming them.")
        // per-row acceptance (ADVICE r13): the retime counts as healed
        // only if the NEW cpu reading itself clears the baseline check
        heal(inflatedAfterWave1.map(_._1).filterNot(unhealedWave1.contains),
          healDeadline,
          (name, _) => BenchSentinel.inflatedRows(baselineForHeal,
            provCpuRows.filter(_._1 == name)).isEmpty)
      } else Nil
    // Wave 3 (VERDICT r13 item 1): rows whose WALL still reads inflated
    // vs the committed clean wall at unchanged codegen — the g23 class:
    // IO/scheduling pressure that stretches wall without inflating our
    // own JVM's cpu and without crossing a boundary bar. Per-row trigger
    // (calibrated zero clean false positives), per-row acceptance.
    def wallRows: Seq[(String, Double, Long)] =
      resultsM.toSeq.map { case (n, w) => (n, w, cgOf(n)) }
    val wallInflatedAfterWave2 =
      BenchSentinel.wallInflatedRows(benchWallBaseline, wallRows)
    val unhealedWave3 =
      if (wallInflatedAfterWave2.nonEmpty) {
        System.err.println(
          s"WARNING: ${wallInflatedAfterWave2.size} rows wall-inflated " +
            s">${BenchSentinel.WallInflateRatio}x the clean baseline wall " +
            s"(e.g. ${wallInflatedAfterWave2.sortBy(-_._3).take(3).map {
              case (n, b, w) => f"$n $b%.2f->$w%.2f" }.mkString(", ")}) — " +
            "the wall-only contention class; retiming them.")
        heal(wallInflatedAfterWave2.map(_._1)
            .filterNot((unhealedWave1 ++ unhealedWave2).contains),
          healDeadline,
          (name, wall) => BenchSentinel.wallInflatedRows(benchWallBaseline,
            Seq((name, wall, cgOf(name)))).isEmpty)
      } else Nil
    val unhealedW123 = (unhealedWave1 ++ unhealedWave2 ++ unhealedWave3).distinct
    // Final requeue (VERDICT r14 item 3): waves 1-3 drained one shared
    // budget opened at the FIRST trip; contention that outlasted it left
    // rows unhealed even when the box went quiet before the run ended
    // (BENCH_r14 shipped 5 unhealed rows at load1_end 1.95). Give the
    // leftovers one fresh bounded window now, accepted only under clean
    // brackets AND both committed-baseline levers
    // ([[BenchRetimer.requeueAccepted]] — strictly stronger than any
    // single wave's own check), so the official artifact converges to
    // clean whenever the foreign load ends before the bench does.
    val unhealed =
      if (unhealedW123.isEmpty) unhealedW123
      else {
        System.err.println(
          s"NOTE: ${unhealedW123.size} rows unhealed after waves 1-3 " +
            s"(${unhealedW123.take(5).mkString(", ")}) — final requeue " +
            "under a fresh heal budget.")
        heal(unhealedW123,
          System.currentTimeMillis() + BenchRetimer.FinalRequeueWaitMs,
          (name, wall) => BenchRetimer.requeueAccepted(
            benchCpuBaseline, benchWallBaseline, name, wall,
            provenance.get(name).map(_._4).getOrElse(-1.0), cgOf(name)))
      }
    val inRunTripped = boundarySamples.exists(BenchRetimer.dirty)
    val results = resultsM.toMap
    val envEnd =
      (loadAvg, cpuPsiAvg10, procCount, System.currentTimeMillis())
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double): String = f"$v%.3f"
    // The driver captures only the trailing ~2000 chars of output and
    // parses the JSON line from that window: a full per-query map at 70+
    // queries overflows it and the round's bench silently records
    // `parsed: null` (observed round 4). Keep the line comfortably under
    // the window — slowest queries inline, the fast tail folded into an
    // aggregate — and dump the complete map to bench_full.json alongside.
    val full = results.toSeq.sortBy(-_._2)
    val fullJson = full.map { case (k, v) => s"\"$k\":${fmt(v)}" }
      .mkString("{", ",", "}")
    val provJson = full.map { case (k, _) =>
      val (j, st, ta, cpu, gcBest, gcWorse, cg, rows) =
        provenance.getOrElse(k, (0L, 0L, 0L, -1.0, -1L, -1L, -1L, -1L))
      s""""$k":{"jobs":$j,"stages":$st,"tasks":$ta,"cpu_sec":${fmt(cpu)},""" +
        s""""gc_ms":$gcBest,"gc_ms_worse":$gcWorse,"codegen":$cg,"rows":$rows}"""
    }.mkString("{", ",", "}")
    def envJson(e: (Seq[Double], Double, Int, Long)): String = {
      val la = e._1.map(fmt).mkString("[", ",", "]")
      s"""{"loadavg":$la,"psi_cpu_avg10":${fmt(e._2)},"nprocs":${e._3},"epoch_ms":${e._4}}"""
    }
    val tagsJson = SparkEntry.benchTags.toSeq.sorted
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val costJson = SparkEntry.oracleCost.toSeq.sorted
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    // Self-disqualification flag (VERDICT r9 item 5): a run that STARTED
    // on a busy box is machine-detectably contaminated — readers should
    // discard the timings, not adjudicate them. Calibration (SURVEY §6),
    // measured on an idle box across repeated launches: the sbt boot
    // that runs this main itself reads 1-min loadavg ~1.8-2.0 and cpu
    // PSI avg10 0.1-1.3 % at main start, so the advised (1.5, 1 %) bars
    // flag every clean sbt-launched run. Real contention (a concurrent
    // 32-thread verify/bench; the r4/r6/r9 incidents) reads load 3+ and
    // PSI at several-to-tens of %. Bars sit at 2x the worst observed
    // self-boot reading and well under any real-contention reading.
    val preContaminated =
      envPre._1.headOption.exists(_ > 3.0) || envPre._2 > 2.5
    // (1a) in-run trip: contention that STARTED mid-run (the r11 incident
    // window) crosses the in-run bars at some query boundary even though
    // the pre-warmup sample was clean. Since round 13 a trip is HEALED —
    // the bracketed queries were retimed under verified-clean samples —
    // unless the bars never cleared inside the heal budget, in which case
    // the unhealed rows keep the run contaminated.
    val inRunContaminated = unhealed.nonEmpty
    // (1b) provenance self-check (VERDICT r11 item 1b): compare per-query
    // cpu_sec against the committed clean-run baseline. Cache/bandwidth
    // interference from a co-runner in another cgroup inflates OUR
    // process's cpu cycles at identical plans while /proc/loadavg and PSI
    // in this namespace stay silent (BENCH_r11: d02 172 vs 16 cpu-s,
    // codegen identical, load1 2.5, PSI 0.0). Calibration over the two
    // r11 clean solo artifacts: among rows with baseline cpu >= 1.0 s the
    // clean-vs-clean ratio maxes at 2.55x with zero rows over 3x, so
    // >= CpuInflateMinRows rows over CpuInflateRatio x (at codegen count
    // not above baseline — a recompile burst is a legitimate cpu adder)
    // is machine-distinguishable contamination, not jitter. Evaluated on
    // the FINAL (post-heal) provenance: a wave-2 retime that didn't
    // actually help still flags.
    import BenchSentinel.{CpuInflateRatio, InRunLoadBar, InRunPsiBar, ForeignCpuBar}
    val cpuInflatedRows = BenchSentinel.inflatedRows(benchCpuBaseline, provCpuRows)
    val cpuInflated = BenchSentinel.cpuInflated(cpuInflatedRows)
    // (1c) wall lever, FINAL (post-heal) results: a wave-3 retime that was
    // accepted cleared this by construction; a failed/expired heal leaves
    // its row here, so the artifact can never again ship a g23-shaped
    // wall under contaminated:false.
    val wallInflatedFinal = BenchSentinel.wallInflatedRows(benchWallBaseline, wallRows)
    val wallInflated = wallInflatedFinal.nonEmpty
    val contaminated =
      preContaminated || inRunContaminated || cpuInflated || wallInflated
    if (preContaminated)
      System.err.println(
        s"WARNING: bench started on a contended host (pre-warmup " +
          s"loadavg1=${envPre._1.headOption.getOrElse(-1.0)}, " +
          s"psi_cpu_avg10=${envPre._2}) — timings are contaminated; " +
          "rerun on an idle box before quoting them.")
    if (inRunTripped)
      System.err.println(
        s"NOTE: in-run contention — max load1 $inRunMaxLoad at " +
          s"'$inRunMaxLoadAt', max psi_cpu_avg10 $inRunMaxPsi at " +
          s"'$inRunMaxPsiAt', max foreign-cpu $inRunMaxForeign at " +
          s"'$inRunMaxForeignAt', max psi_io_avg10 $inRunMaxIo at " +
          s"'$inRunMaxIoAt' crossed the ($InRunLoadBar, $InRunPsiBar, " +
          s"$ForeignCpuBar, ${BenchRetimer.InRunIoPsiBar}) bars mid-run; " +
          s"${retimedLog.size} queries " +
          s"retimed clean, ${unhealed.size} unhealed" +
          (if (unhealed.nonEmpty) " — timings are contaminated." else "."))
    if (cpuInflated)
      System.err.println(
        s"WARNING: per-query cpu_sec inflated >= ${CpuInflateRatio}x the " +
          s"committed clean baseline on ${cpuInflatedRows.size} rows at " +
          s"unchanged codegen (e.g. ${cpuInflatedRows.take(3).map { case (n, b, c) =>
            f"$n $b%.1f->$c%.1f" }.mkString(", ")}) — cache/bandwidth " +
          "contamination invisible to load/PSI; timings are contaminated.")
    if (wallInflated)
      System.err.println(
        s"WARNING: per-query WALL inflated > ${BenchSentinel.WallInflateRatio}x " +
          s"the committed clean wall on ${wallInflatedFinal.size} rows after " +
          s"the heal (e.g. ${wallInflatedFinal.sortBy(-_._3).take(3).map {
            case (n, b, w) => f"$n $b%.2f->$w%.2f" }.mkString(", ")}) — " +
          "IO/scheduling contention invisible to the cpu levers; timings " +
          "are contaminated.")
    val sentinelJson = {
      val rowsJson = cpuInflatedRows.sortBy(-_._3).take(20).map {
        case (n, b, c) => s"""{"query":"$n","cpu_base":${fmt(b)},"cpu_run":${fmt(c)}}"""
      }.mkString("[", ",", "]")
      val wallRowsJson = wallInflatedFinal.sortBy(-_._3).take(20).map {
        case (n, b, w) => s"""{"query":"$n","wall_base":${fmt(b)},"wall_run":${fmt(w)}}"""
      }.mkString("[", ",", "]")
      val retimedJson = retimedLog.reverse.map { case (n, before, after) =>
        s"""{"query":"$n","wall_before":${fmt(before)},"wall_after":${fmt(after)}}"""
      }.mkString("[", ",", "]")
      val unhealedJson = unhealed.map(n => s""""$n"""").mkString("[", ",", "]")
      s"""{"pre":$preContaminated,"in_run":$inRunContaminated,""" +
        s""""in_run_tripped":$inRunTripped,"quarantined_n":${quarantine0.size},""" +
        s""""final_requeue_n":${unhealedW123.size},""" +
        s""""retimed":$retimedJson,"unhealed":$unhealedJson,""" +
        s""""cpu_inflated":$cpuInflated,"cpu_inflated_n":${cpuInflatedRows.size},""" +
        s""""cpu_inflated_rows":$rowsJson,""" +
        s""""wall_inflated":$wallInflated,"wall_inflated_n":${wallInflatedFinal.size},""" +
        s""""wall_inflated_rows":$wallRowsJson,""" +
        s""""wall_baseline_rows":${benchWallBaseline.size},""" +
        s""""cpu_baseline":"${if (benchCpuBaseline.nonEmpty) benchBaselinePath.toString else ""}",""" +
        s""""inrun_max_load1":${fmt(inRunMaxLoad)},"inrun_max_load1_at":"$inRunMaxLoadAt",""" +
        s""""inrun_max_psi10":${fmt(inRunMaxPsi)},"inrun_max_psi10_at":"$inRunMaxPsiAt",""" +
        s""""inrun_max_psi_io10":${fmt(inRunMaxIo)},"inrun_max_psi_io10_at":"$inRunMaxIoAt",""" +
        s""""inrun_max_foreign_cpu":${fmt(inRunMaxForeign)},"inrun_max_foreign_cpu_at":"$inRunMaxForeignAt"}"""
    }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"),
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","contaminated":$contaminated,"sentinel":$sentinelJson,"queries":$fullJson,"provenance":$provJson,"env_pre_warmup":${envJson(envPre)},"env_start":${envJson(envStart)},"env_end":${envJson(envEnd)},"tags":$tagsJson,"oracle_cost":$costJson,"sf":"$sfDir"}"""
    ) catch { case _: Throwable => () }
    // Compact contention stamp on the one-line JSON the driver captures:
    // load1 at start/end + PSI so a >1.5× anomaly is self-explaining from
    // BENCH_r{N}.json alone (a solo clean run on this box shows load1 well
    // under the 32 cores and psi_avg10 near 0).
    val envLine =
      s""""contaminated":$contaminated,"env":{"load1_start":${fmt(envStart._1.headOption.getOrElse(-1.0))},"load1_end":${fmt(envEnd._1.headOption.getOrElse(-1.0))},"psi10_start":${fmt(envStart._2)},"psi10_end":${fmt(envEnd._2)},"load1_inrun_max":${fmt(inRunMaxLoad)},"psi10_inrun_max":${fmt(inRunMaxPsi)},"cpu_inflated_n":${cpuInflatedRows.size},"wall_inflated_n":${wallInflatedFinal.size},"retimed_n":${retimedLog.size},"unhealed_n":${unhealed.size},"nprocs_end":${envEnd._3}},"""
    val budget = 1500
    val header = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir",$envLine"queries":"""
    var used = header.length + 80
    val inline = full.takeWhile { case (k, v) =>
      val e = k.length + fmt(v).length + 4
      if (used + e <= budget) { used += e; true } else false
    }
    val restN = full.size - inline.size
    val restSum = full.drop(inline.size).map(_._2).sum
    val qs = (inline.map { case (k, v) => s"\"$k\":${fmt(v)}" } ++
      (if (restN > 0) Seq(s"\"other_${restN}_queries\":${fmt(restSum)}") else Nil))
      .mkString("{", ",", "}")
    println(header + qs + "}")
    spark.stop()
  }
}
