package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder: Bench, Verify, the spec fixture and
  * [[Probe]] all run the engine under exactly these settings, so the
  * configuration the oracle checks is the one the bench times.
  *
  * Every setting goes into the BUILDER so cloned sessions
  * (`newSession()`, which the st replays use) inherit it. A key this
  * object does not set can still be A/B'd without a code change:
  * SparkConf loads `spark.*` JVM system properties, so
  * `-Dspark.shuffle.sort.bypassMergeThreshold=0` reaches the session.
  */
object Session {

  /** AQE coalescing floor — a LOCAL-bench parallelism guard, not a scale
    * tunable (at production SF partitions dwarf any floor).
    * History: round 6 set 64k because Spark's default 1 MB floor
    * collapsed byte-tiny/CPU-dense shuffles to 1-2 tasks and serialized
    * the compute (5-query hot sample: 5.47 → 4.63 s). Round 14
    * re-measured with a JFR profile: each task of the many 32-partition
    * micro-shuffles carries a ~0.2 cpu-s constant (shuffle stream
    * setup/serialization, BypassMergeSortShuffleWriter per-reducer
    * files), so the 64k floor over-parallelised the SAME shuffle class it
    * was protecting. Full-surface A/B at sf0.1 (248 rows, clean solos):
    * 64k = 222.3 s / 740 cpu-s vs 256k = 194.3 s / 608 cpu-s — wins on
    * 2/3 of rows, CPU −18 %; the only sustained regressions were the
    * three write-parallelism-bound rows (st15/x01/x02), whose writes
    * round 15 made floor-insensitive (Sinks.writePartitioned's explicit
    * repartition), so no row pins its own floor. 1 MB-class floors
    * re-serialize d22's dense stage (1.87 → 4.22 s) — 256k is the
    * measured optimum between the two failure modes. See
    * OPTIMIZATION_r14.md.
    *
    * AQE otherwise stays at defaults DELIBERATELY — both directions were
    * measured at sf0.1 and rejected:
    *  - coalescePartitions.parallelismFirst=false (size-based coalescing)
    *    collapses the tiny shuffles to 1-6 partitions and serializes the
    *    partitioned write and the dedup self-joins (st01 7.5 s → 13.5 s,
    *    d02 1.3 s → 2.8 s);
    *  - adaptive.enabled=false removes the per-stage replan barriers but
    *    loses runtime coalescing and is net SLOWER (like-for-like
    *    32.5 s → 34.8 s);
    *  - shuffle.partitions=8 (vs cpus=32) trades tiny-shuffle scheduling
    *    overhead for parallelism and LOSES (18-query sample at sf0.1:
    *    20.5 s → 23.5 s, round 5) — the per-query floor is job
    *    scheduling, not shuffle-partition count. */
  val AqeMinPartitionSize = "256k"

  /** The global-window operators emit `No Partition Defined for Window`
    * on every plan; GlobalWindowBoundSpec proves each allow-listed one is
    * bounded, so the warning only buries real failures in the logs. */
  val WindowLogger = "org.apache.spark.sql.execution.window.WindowExec"

  /** Worker threads for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The engine settings, before `extra`. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // InferFiltersFromGenerate clones generator child expressions into
    // pushed filters; for the interpreted HOF shingle pipelines that
    // re-evaluates a full linear pass per scan for zero pruning value.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> AqeMinPartitionSize,
    "spark.ui.enabled" -> "false")

  private val announced = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A `local[cpus]` session with [[settings]] plus `extra` (which wins on
    * a shared key); prints the effective config to stderr once per JVM. */
  def local(cpus: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val conf = settings(cpus) ++ extra
    val spark = conf.foldLeft(SparkSession.builder().master(s"local[$cpus]").appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator
      .setLevel(WindowLogger, org.apache.logging.log4j.Level.ERROR)
    if (announced.compareAndSet(false, true)) {
      val effective = conf.map(_._1).distinct.map(k => s"$k=${spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("<unset>")}")
      System.err.println(s"[graft.Session] ${spark.sparkContext.master} " +
        s"spark ${spark.version}: ${effective.mkString(" ")}")
    }
    spark
  }

  /** A session on `s`'s SparkContext with its own SQLConf, temp views and
    * streams, for a query that pins `conf` without resizing queries
    * planned concurrently on `s`. `newSession()` inherits the builder
    * settings but not `s`'s runtime ones, so `s`'s time zone is copied. */
  def isolated(s: SparkSession, conf: (String, String)*): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.session.timeZone", s.conf.get("spark.sql.session.timeZone", "UTC"))
    conf.foreach { case (k, v) => s2.conf.set(k, v) }
    s2
  }
}
