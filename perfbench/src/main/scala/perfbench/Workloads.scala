package perfbench

import graft.catalog.CatalogSync
import graft.dedup.Dedup
import graft.model.{PipelineLayout, PipelineOutcome}
import graft.orchestrate.ReferencePipeline
import graft.quality.Quality.Check
import graft.service.PipelineService
import graft.sink.Sinks
import graft.state.StateLog
import graft.streaming.StreamingPipeline
import graft.text.TextAnalysis
import graft.transform.Transform
import graft.validate.SchemaValidator
import graft.validate.SchemaValidator.Rule
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

/** The reference pipeline as an operator configures it: the event schema,
  * validation rules, transform and quality check every upload runs. */
object Ref {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("amount", DoubleType),
    StructField("ts", TimestampType), StructField("device", StringType)))

  val rules: Seq[Rule] = Seq(
    Rule("user_present", col("user_id").isNotNull),
    Rule("amount_nonneg", col("amount") >= 0),
    Rule("known_type", trim(col("event_type")).isin(Gen.EventTypes.toSeq: _*)),
    Rule("ts_present", col("ts").isNotNull))

  val spec: ReferencePipeline.Spec = ReferencePipeline.Spec(
    rules = rules,
    transform = Transform.pipeline(
      _.drop(SchemaValidator.CorruptCol),
      Transform.cleanStrings("event_type"),
      _.withColumn("amount_cents", round(col("amount") * 100).cast("long")),
      Transform.derivePartitions("ts")),
    checks = Seq(Check("amount_within_limit", col("amount_cents") <= Gen.CentsLimit)))

  val Stages: Seq[String] =
    Seq("validate", "route", "archive", "transform", "stage_output", "quality_gate", "promote", "succeed")

  def epochHour(y: Int, m: Int, d: Int, h: Int): Long =
    java.time.LocalDateTime.of(y, m, d, h, 0).toEpochSecond(java.time.ZoneOffset.UTC) / 3600

  def ymdh(epochHour: Long): (Int, Int, Int, Int) = {
    val t = java.time.LocalDateTime.ofEpochSecond(epochHour * 3600, 0, java.time.ZoneOffset.UTC)
    (t.getYear, t.getMonthValue, t.getDayOfMonth, t.getHour)
  }
}

/** A lake written by the reference pipeline through the control-plane
  * service, with its oracle: which uploads passed the gate and which rows
  * each one should have landed or quarantined. */
final class Lake(ctx: Ctx, name: String) {
  import ctx.{spark, trace}
  val layout: PipelineLayout = PipelineLayout(ctx.dir(name))
  val stateLog = new StateLog(spark, layout.state)
  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, s"perfbench-$name"); t.setDaemon(true); t
  }
  val service = new PipelineService(spark, stateLog)(ExecutionContext.fromExecutorService(pool))
  val table = s"events_${ctx.tag}_$name"
  private var registered = false
  val uploads: mutable.LinkedHashMap[String, Gen.Upload] = mutable.LinkedHashMap.empty
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** One upload, as a client drives it: submit, wait, then refresh the
    * catalog and read the run's status. Returns false on a wrong answer. */
  def submit(u: Gen.Upload, path: String, op: Long): Boolean = trace.span("op", op) {
    val id = trace.span("service.start", op)(service.start { pid =>
      val raw = spark.read.textFile(path)
      val parsed = trace.span("validate.parseJson", op)(SchemaValidator.parseJson(raw, Ref.schema))
      trace.span("orchestrate.run", op)(
        ReferencePipeline.run(pid, parsed, Ref.spec, layout, stateLog))
    })
    val outcome = trace.span("service.await", op)(service.await(id, 170000))
    trace.span("catalog.sync", op) {
      if (registered) CatalogSync.sync(spark, table)
      else if (outcome.exists(_.isSuccess)) { CatalogSync.register(spark, table, layout.processed); registered = true }
    }
    val status = trace.span("service.status", op)(service.status(id))
    uploads(id) = u
    val ok = outcome match {
      case Some(PipelineOutcome.Succeeded(score)) => u.passes && math.abs(score - u.gateScore) < 1e-9
      case Some(PipelineOutcome.Failed(cause)) => !u.passes && cause.contains("quality")
      case None => false
    }
    val statusOk = status.exists(_.status == (if (u.passes) "SUCCEEDED" else "FAILED"))
    if (!ok) errors += s"${u.name}: outcome $outcome, expected gate score ${u.gateScore}"
    if (!statusOk) errors += s"${u.name}: status $status"
    ok && statusOk
  }

  /** Compares the lake and the quarantine with the oracle; returns the
    * names of the uploads whose rows are wrong. */
  def verify(): Set[String] = {
    val bad = mutable.Set.empty[String]
    val expected = mutable.HashMap.empty[(Long, String), (Long, Long)]
    uploads.values.filter(_.passes).foreach(_.valid.foreach { e =>
      val k = (e.epochHour, Gen.EventTypes(e.tpe))
      val (n, s) = expected.getOrElse(k, (0L, 0L))
      expected(k) = (n + 1, s + e.cents)
    })
    val landed = spark.read.parquet(layout.processed)
      .groupBy("year", "month", "day", "hour", "event_type")
      .agg(count(lit(1)), sum("amount_cents")).collect()
      .map(r => (Ref.epochHour(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)), r.getString(4)) ->
        (r.getLong(5), r.getLong(6))).toMap
    if (landed != expected.toMap) {
      val diff = (landed.keySet ++ expected.keySet).filter(k => landed.get(k) != expected.get(k))
      errors += s"lake rows differ from the oracle in ${diff.size} (hour, type) cells, e.g. ${diff.take(3)}"
      // charge each upload that touched a wrong cell
      uploads.values.filter(u => u.valid.exists(e => diff((e.epochHour, Gen.EventTypes(e.tpe))))).foreach(bad += _.name)
    }
    val quarantined = Sinks.readQuarantine(spark, layout.errors).groupBy("_error_batch").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    uploads.foreach { case (id, u) =>
      val got = quarantined.getOrElse(id, 0L)
      if (got != u.invalid + u.malformed) {
        errors += s"${u.name}: quarantined $got rows, expected ${u.invalid + u.malformed}"
        bad += u.name
      }
    }
    bad.toSet
  }

  def partitions(): Long = spark.sql(s"SHOW PARTITIONS $table").count()

  def close(): Unit = { pool.shutdown(); pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS) }

  /** Per-upload orchestration figures from the public journal: each
    * stage's time from its RUNNING row to its last row, retries, appends. */
  def journalLayers(ids: Set[String]): Map[String, Double] = {
    val rows = stateLog.journal().collect().filter(r => ids(r.getAs[String]("pipeline_id")))
    val n = math.max(1, ids.size).toDouble
    val byStage = rows.groupBy(r => (r.getAs[String]("pipeline_id"), r.getAs[String]("stage")))
    def ts(r: Row): Long = {
      val i = java.time.Instant.parse(r.getAs[String]("timestamp"))
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    val stageMs = Ref.Stages.map { st =>
      val total = byStage.collect { case ((_, s), rs) if s == st =>
        val t = rs.map(ts); (t.max - t.min) / 1000.0
      }.sum
      s"orchestrate.${st}_ms" -> total / n
    }.toMap
    val retries = rows.count(r => r.getAs[String]("status") == "FAILED" &&
      Option(r.getAs[String]("detail")).exists(_.startsWith("attempt=")))
    stageMs ++ Map("orchestrate.retries" -> retries / n, "state.appends" -> rows.length / n)
  }
}

object Workloads {

  private def writeUpload(dir: String, u: Gen.Upload): String = {
    val p = Paths.get(dir, s"${u.name}.json")
    Gen.writeLines(p, u.lines)
    p.toString
  }

  private def nowMs(): Long = System.currentTimeMillis()

  /** Runs `round` `n` times and returns the median wall time in seconds. */
  private def setupRounds(n: Int)(round: Int => Unit): Double =
    Stats.median((0 until n).map { i =>
      val t = System.nanoTime(); round(i); (System.nanoTime() - t) / 1e9
    })

  private def spanWindows(ctx: Ctx, name: String): Seq[(Long, Long)] = {
    val offset = System.currentTimeMillis() - System.nanoTime() / 1000000L
    ctx.trace.spans.synchronized(ctx.trace.spans.toSeq).filter(s => s.name == name && s.op >= 0)
      .map(s => (s.startNs / 1000000L + offset, s.endNs / 1000000L + offset))
  }

  private def spanMean(ctx: Ctx, name: String, ops: Int): Double =
    ctx.trace.spans.synchronized(ctx.trace.spans.toSeq).filter(s => s.name == name && s.op >= 0)
      .map(_.ms).sum / math.max(1, ops)

  /** Per-layer figures of the pipeline workload, per upload. */
  private def pipelineLayers(ctx: Ctx, lake: Lake, ids: Set[String], before: Seq[(Long, Long)]): Map[String, Double] = {
    val n = math.max(1, ids.size)
    val windows = spanWindows(ctx, "op")
    val written = lakeTree(lake).zip(before).map { case (a, b) => (a._1 - b._1, a._2 - b._2) }
    val quarantined = lake.uploads.filter { case (id, _) => ids(id) }.values.map(u => u.invalid + u.malformed).sum
    val mods = Layers.modules(ctx.trace, windows, n)
    val journal = lake.journalLayers(ids)
    val opWall = spanMean(ctx, "op", n)
    val accounted = Seq("service.start", "validate.parseJson", "orchestrate.run", "catalog.sync", "service.status")
      .map(spanMean(ctx, _, n)).sum
    val stageSum = Ref.Stages.map(s => journal(s"orchestrate.${s}_ms")).sum
    journal ++ Layers.spark(ctx.trace, windows, n) ++ Map(
      "op.wall_ms" -> opWall,
      "op.residual_ms" -> (opWall - accounted),
      "orchestrate.between_stages_ms" -> (spanMean(ctx, "orchestrate.run", n) - stageSum),
      "service.start_ms" -> spanMean(ctx, "service.start", n),
      "service.status_ms" -> spanMean(ctx, "service.status", n),
      "catalog.sync_ms" -> spanMean(ctx, "catalog.sync", n),
      "catalog.partitions" -> lake.partitions().toDouble,
      "validate.invalid_rows" -> quarantined.toDouble / n,
      "sink.files_written" -> written.map(_._1).sum.toDouble / n,
      "sink.bytes_written" -> written.map(_._2).sum.toDouble / n,
      "sink.quarantine_rows" -> quarantined.toDouble / n,
      "state.jobs" -> mods.getOrElse("state.jobs", 0.0),
      "state.job_ms" -> mods.getOrElse("state.job_ms", 0.0),
      "sink.jobs" -> mods.getOrElse("sink.jobs", 0.0),
      "sink.job_ms" -> mods.getOrElse("sink.job_ms", 0.0),
      "quality.job_ms" -> mods.getOrElse("quality.job_ms", 0.0))
  }

  /** (files, bytes) under the lake's processed, quarantine and archive trees. */
  private def lakeTree(lake: Lake): Seq[(Long, Long)] =
    Seq(lake.layout.processed, lake.layout.errors, lake.layout.archive).map(Layers.tree)

  // ------------------------------------------------------------ pipeline_small

  /** A query over the lake table with the answer the oracle expects,
    * one line per row, columns joined by '|'. */
  final case class Query(shape: String, sql: String, expected: Seq[String])

  private def queries(table: String, dim: String, events: Seq[Gen.Event], day: Long, hour: Long): Seq[Query] = {
    val (y, m, d, h) = Ref.ymdh(hour)
    val (dy, dm, dd, _) = Ref.ymdh(day)
    val dayHours = (day until day + 24).toSet
    val click = Gen.EventTypes.indexOf("click")
    val purchase = Gen.EventTypes.indexOf("purchase")
    val point = events.filter(e => e.epochHour == hour && e.tpe == click)
    val rollup = events.filter(e => dayHours(e.epochHour)).groupBy(_.epochHour).toSeq.sortBy(_._1)
      .map { case (eh, es) => s"${Ref.ymdh(eh)._4}|${es.size}|${es.map(_.cents).sum}" }
    val topk = events.groupBy(_.userId).toSeq.map { case (u, es) => (u, es.size) }
      .sortBy { case (u, c) => (-c, u) }.take(10).map { case (u, c) => s"$u|$c" }
    val bySegment = events.filter(_.tpe == purchase).groupBy(e => Gen.segmentOf(e.userId)).toSeq.sortBy(_._1)
      .map { case (s, es) => s"$s|${es.size}|${es.map(_.cents).sum}" }
    val distinct = events.filter(_.tpe == purchase).map(_.userId).distinct.size
    val top3 = events.filter(e => dayHours(e.epochHour)).groupBy(_.userId).values
      .flatMap(_.sortBy(e => (-e.cents, e.eventId)).take(3)).toSeq
    val dayPred = s"year = $dy AND month = $dm AND day = $dd"
    Seq(
      Query("point", s"SELECT count(*), sum(amount_cents) FROM $table WHERE year = $y AND month = $m " +
        s"AND day = $d AND hour = $h AND event_type = 'click'", Seq(s"${point.size}|${point.map(_.cents).sum}")),
      Query("day_rollup", s"SELECT hour, count(*), sum(amount_cents) FROM $table WHERE $dayPred " +
        "GROUP BY hour ORDER BY hour", rollup),
      Query("user_topk", s"SELECT user_id, count(*) AS c FROM $table GROUP BY user_id " +
        "ORDER BY c DESC, user_id LIMIT 10", topk),
      Query("dim_join", s"SELECT d.segment, count(*), sum(e.amount_cents) FROM $table e JOIN $dim d " +
        "ON e.user_id = d.user_id WHERE e.event_type = 'purchase' GROUP BY d.segment ORDER BY d.segment", bySegment),
      Query("distinct", s"SELECT count(DISTINCT user_id) FROM $table WHERE event_type = 'purchase'",
        Seq(distinct.toString)),
      Query("window_rank", "SELECT count(*), sum(event_id), sum(amount_cents) FROM (SELECT event_id, " +
        "amount_cents, row_number() OVER (PARTITION BY user_id ORDER BY amount_cents DESC, event_id) AS rn " +
        s"FROM $table WHERE $dayPred) WHERE rn <= 3",
        Seq(s"${top3.size}|${top3.map(_.eventId).sum}|${top3.map(_.cents).sum}")))
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    /** (files, bytes, partitions, rows) read by the file scans of a run query. */
    def of(df: DataFrame): (Long, Long, Long, Long) = {
      val scans = collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      def m(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
      (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum,
        scans.map(m(_, "numPartitions")).sum, scans.map(m(_, "numOutputRows")).sum)
    }
  }

  private def render(r: Row): String = r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")

  /** Closed loop, one client: 100-record uploads through the service,
    * each followed by a catalog sync. Every second upload is planted to
    * fail the quality gate, and the loop ends only after whole pass/fail
    * pairs, so the measured mix is the same whatever the speed. After the
    * loop, a fixed mix of six SQL queries reads the many small files the
    * uploads wrote. */
  def pipelineSmall(ctx: Ctx): Outcome = {
    import ctx.spark
    val r = ctx.rng(1)
    val inbox = ctx.dir("inbox")
    val users = 500
    val pool = (0 until ctx.scale.smallPool).map { k =>
      val u = Gen.upload(f"u$k%04d", r, 100, 1000000L + k * 1000L, Gen.BaseEpochHour + k, 2, users,
        if (k % 2 == 1) 0.3 else 0.02)
      (u, writeUpload(inbox, u))
    }
    val warm = (0 until ctx.scale.setupRounds).map { i =>
      val u = Gen.upload(s"warm$i", r, 100, 100L + i * 1000L, Gen.BaseEpochHour + 1, 2, users, 0.02)
      (u, writeUpload(inbox, u))
    }
    val dimPath = ctx.dir("dim/users")
    spark.createDataFrame((1 to users).map(u => (u.toLong, Gen.segmentOf(u.toLong))))
      .toDF("user_id", "segment").coalesce(1).write.parquet(dimPath)
    val dim = s"users_${ctx.tag}"
    def landed(lake: Lake): Seq[Gen.Event] = lake.uploads.values.filter(_.passes).flatMap(_.valid).toSeq
    val day = Gen.BaseEpochHour - Gen.BaseEpochHour % 24
    val hour = Gen.BaseEpochHour + 1

    var lake: Lake = null
    ctx.log("inputs generated")
    val setupS = setupRounds(ctx.scale.setupRounds) { i =>
      if (lake != null) lake.close()
      lake = new Lake(ctx, s"small$i")
      CatalogSync.register(spark, dim, dimPath, partitionCols = Seq.empty)
      lake.submit(warm(i)._1, warm(i)._2, -1)
    }
    val before = lakeTree(lake)
    val measuredFrom = lake.uploads.size

    val lat = mutable.ArrayBuffer.empty[Double]
    var wrong = 0
    ctx.log("set up")
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val t0 = System.nanoTime()
    var k = 0
    while ((k % 2 == 1 || System.nanoTime() < deadline) && k < pool.size) {
      val (u, path) = pool(k)
      val t = System.nanoTime()
      if (!lake.submit(u, path, k)) wrong += 1
      lat += (System.nanoTime() - t) / 1e6
      k += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9

    // the reads: a first round warms the query shapes, the second is timed;
    // both rounds' answers are checked
    val qs = queries(lake.table, dim, landed(lake), day, hour)
    val qLat = mutable.ArrayBuffer.empty[Double]
    val perShape = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    var scanned = (0L, 0L, 0L, 0L)
    var returned = 0L
    for (round <- 0 until 2; (q, i) <- qs.zipWithIndex) {
      val op = 10000L + round * qs.size + i
      val t = System.nanoTime()
      val df = CatalogSync.query(spark, q.sql)
      val rows = ctx.trace.span(s"queries.${q.shape}", op)(df.collect())
      val ms = (System.nanoTime() - t) / 1e6
      if (round == 1) {
        qLat += ms
        perShape.getOrElseUpdate(q.shape, mutable.ArrayBuffer.empty) += ms
      }
      val got = rows.toSeq.map(render)
      if (got != q.expected) {
        wrong += 1
        lake.errors += s"query ${q.shape}: got ${got.take(3)}, expected ${q.expected.take(3)}"
      }
      if (ctx.trace.enabled && round == 1) {
        val s = Scans.of(df)
        scanned = (scanned._1 + s._1, scanned._2 + s._2, scanned._3 + s._3, scanned._4 + s._4)
        returned += rows.length
      }
    }
    val measuredIds = lake.uploads.keys.drop(measuredFrom).toSet
    ctx.log("measured")
    val badRows = lake.verify().count(n => measuredIds.exists(id => lake.uploads(id).name == n))
    val (_, lakeBytes) = Layers.tree(lake.layout.processed)
    val inputBytes = lake.uploads.values.filter(_.passes).map(_.inputBytes).sum
    val layers = if (ctx.trace.enabled) {
      ctx.trace.drain(spark)
      val nq = math.max(1, qLat.size).toDouble
      pipelineLayers(ctx, lake, measuredIds, before) ++
        perShape.map { case (s, xs) => s"queries.${s}_ms" -> Stats.mean(xs) } ++ Map(
        "ops" -> k.toDouble,
        "queries.files_read" -> scanned._1 / nq,
        "queries.bytes_read" -> scanned._2 / nq,
        "queries.partitions_read" -> scanned._3 / nq,
        "queries.rows_scanned_per_row_returned" -> scanned._4.toDouble / math.max(1L, returned),
        "trace.op_p50_ms" -> Stats.median(lat.toSeq))
    } else Map.empty[String, Double]
    lake.close()
    val (tail, _) = Stats.tail(lat.toSeq)
    val (qTail, qPct) = Stats.tail(qLat.toSeq)
    val attempted = k + 2 * qs.size
    Outcome(setupS, lat.toSeq, k * 100 / wall, attempted, math.min(attempted, wrong + badRows),
      Seq(("small_run_p50_ms", Stats.median(lat.toSeq), "ms"), ("small_run_tail_ms", tail, "ms"),
        ("query_p50_ms", Stats.median(qLat.toSeq), "ms"), ("query_tail_ms", qTail, "ms"),
        ("query_tail_percentile", qPct, "%"),
        ("lake_bytes_per_input_byte", lakeBytes.toDouble / inputBytes, "ratio"),
        ("uploads_failing_gate", pool.take(k).count(!_._1.passes).toDouble, "count")),
      layers, lake.errors.toSeq)
  }

  // ------------------------------------------------------------- stream_ingest

  /** Batch ids and the files each one read, from the file source's log in
    * the checkpoint; and each batch's commit time, from the commit log. */
  private def checkpointLog(checkpoint: String): (Map[String, Long], Map[Long, Long]) = {
    val srcLog = Paths.get(checkpoint, "sources", "0")
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val BatchRe = "\"batchId\":(\\d+)".r
    val fileBatch = mutable.HashMap.empty[String, Long]
    if (Files.isDirectory(srcLog))
      Files.list(srcLog).iterator().asScala.filter(f => !f.getFileName.toString.startsWith(".")).foreach { f =>
        Files.readAllLines(f).asScala.foreach { line =>
          for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
            fileBatch(Paths.get(new java.net.URI(p.group(1))).getFileName.toString) = b.group(1).toLong
        }
      }
    val commitDir = Paths.get(checkpoint, "commits")
    val commits =
      if (!Files.isDirectory(commitDir)) Map.empty[Long, Long]
      else Files.list(commitDir).iterator().asScala
        .filter(_.getFileName.toString.forall(_.isDigit))
        .map(f => f.getFileName.toString.toLong -> Files.getLastModifiedTime(f).toMillis).toMap
    (fileBatch.toMap, commits)
  }

  private def startStream(ctx: Ctx, src: String, layout: PipelineLayout, availableNow: Boolean) = {
    val source = ctx.trace.span("streaming.jsonFileSource")(
      StreamingPipeline.jsonFileSource(ctx.spark, src, Ref.schema))
    val stream = ctx.trace.span("streaming.processingStream")(
      StreamingPipeline.processingStream(source, Ref.rules))
    ctx.trace.span("streaming.partitionedSink")(
      StreamingPipeline.partitionedSink(stream, layout, triggerInterval = "1 second",
        availableNow = availableNow).start())
  }

  /** The shortest live phase after the drain. A micro-batch takes about a
    * second here, so one slow batch moves the latency median of a short
    * phase; eight seconds gives the median and the tail about eight. */
  private val MinLiveS = 8

  /** A pre-staged backlog of 100-record files is drained first; then an
    * open-loop generator moves files into the source directory at a fixed
    * rate. Each file's latency runs from its due time to the commit of the
    * micro-batch that read it. */
  def streamIngest(ctx: Ctx): Outcome = {
    import ctx.spark
    val r = ctx.rng(3)
    val src = ctx.dir("stream/incoming")
    val hold = ctx.dir("stream/hold")
    val nLive = ctx.scale.streamFilesPerS * (math.max(ctx.seconds, MinLiveS) + 1)
    val files = (0 until ctx.scale.backlogFiles + nLive).map { i =>
      val u = Gen.upload(f"f$i%06d", r, 100, 1000000L + i * 1000L, Gen.BaseEpochHour + i / 50, 2, 500, 0.02)
      writeUpload(if (i < ctx.scale.backlogFiles) src else hold, u)
      u
    }
    ctx.log("inputs generated")
    val setupS = setupRounds(ctx.scale.setupRounds) { i =>
      val wsrc = ctx.dir(s"warm$i/incoming")
      (0 until 3).foreach { j =>
        writeUpload(wsrc, Gen.upload(s"w$j", r, 100, 100L + j * 1000L, Gen.BaseEpochHour - 100, 2, 500, 0.02))
      }
      val q = startStream(ctx, wsrc, PipelineLayout(ctx.dir(s"warm$i/lake")), availableNow = true)
      q.awaitTermination(120000)
    }

    ctx.log("set up")
    val layout = PipelineLayout(ctx.dir("stream/lake"))
    val backlogRows = ctx.scale.backlogFiles * 100L
    val t0Wall = nowMs()
    val q = startStream(ctx, src, layout, availableNow = false)
    try {
      while (q.isActive && q.recentProgress.map(_.numInputRows).sum < backlogRows) Thread.sleep(10)
      // the open-loop generator: file i is due at t1 + i / rate, whether or
      // not the stream has kept up
      val t1 = nowMs()
      val liveEnd = math.max(t1 + MinLiveS * 1000L, t0Wall + ctx.seconds * 1000L)
      val due = mutable.ArrayBuffer.empty[(String, Long, Long)]
      var i = 0
      var dueAt = t1
      while (i < nLive && dueAt <= liveEnd) {
        val wait = dueAt - nowMs()
        if (wait > 0) Thread.sleep(wait)
        val name = s"${files(ctx.scale.backlogFiles + i).name}.json"
        Files.move(Paths.get(hold, name), Paths.get(src, name), StandardCopyOption.ATOMIC_MOVE)
        due += ((name, dueAt, nowMs()))
        i += 1
        dueAt = t1 + (i * 1000L) / ctx.scale.streamFilesPerS
      }
      val windowEnd = nowMs()
      q.processAllAvailable()
      q.stop()

      ctx.log("measured")
      val (fileBatch, commits) = checkpointLog(s"${layout.checkpoints}/processed")
      val backlogNames = files.take(ctx.scale.backlogFiles).map(u => s"${u.name}.json")
      val drainEnd = backlogNames.flatMap(n => fileBatch.get(n).flatMap(commits.get)).maxOption.getOrElse(windowEnd)
      val drainS = (drainEnd - t0Wall) / 1000.0
      val lat = due.toSeq.flatMap { case (n, d, _) => fileBatch.get(n).flatMap(commits.get).map(c => (c - d).toDouble) }
      val late = due.map { case (_, d, w) => (w - d).toDouble }
      val committedByEnd = due.count { case (n, _, _) => fileBatch.get(n).flatMap(commits.get).exists(_ <= windowEnd) }

      // exactly-once: every streamed file's valid rows landed once, its
      // invalid rows were quarantined once
      val written = files.take(ctx.scale.backlogFiles + due.size)
      val attempted = written.size
      val landed = spark.read.parquet(layout.processed)
        .groupBy((col("event_id") / 1000).cast("long").as("f"))
        .agg(count(lit(1)), countDistinct("event_id"), sum(round(col("amount") * 100).cast("long"))).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val quarantined = Sinks.readQuarantine(spark, layout.errors).count()
      val errors = mutable.ArrayBuffer.empty[String]
      var bad = 0
      written.zipWithIndex.foreach { case (u, k) =>
        val want = (u.valid.length.toLong, u.valid.length.toLong, u.valid.map(_.cents).sum)
        val got = landed.getOrElse(1000L + k, (0L, 0L, 0L))
        if (got != want) { bad += 1; errors += s"${u.name}: landed (rows, distinct, cents) $got, expected $want" }
      }
      val wantQ = written.map(u => u.invalid + u.malformed).sum
      if (quarantined != wantQ) { bad += 1; errors += s"quarantined $quarantined rows, expected $wantQ" }
      if (lat.size != due.size) { bad += 1; errors += s"${due.size - lat.size} live files never committed" }

      val layers = if (ctx.trace.enabled) {
        ctx.trace.drain(spark)
        val bs = ctx.trace.batches.synchronized(ctx.trace.batches.toSeq).filter(b => b.rows > 0 && b.startMs >= t0Wall)
        val nb = math.max(1, bs.size)
        def per(f: Trace.Batch => Long) = bs.map(f).sum.toDouble / nb
        Layers.spark(ctx.trace, bs.map(b => (b.startMs, b.startMs + b.triggerMs)), nb) ++ Map(
          "ops" -> bs.size.toDouble,
          "streaming.batches" -> bs.size.toDouble,
          "streaming.trigger_ms" -> per(_.triggerMs),
          "streaming.add_batch_ms" -> per(_.addBatchMs),
          "streaming.get_batch_ms" -> per(_.getBatchMs),
          "streaming.planning_ms" -> per(_.planningMs),
          "streaming.wal_commit_ms" -> per(_.walCommitMs),
          "streaming.rows_per_batch" -> per(_.rows),
          "streaming.backlog_files_end" -> (due.size - committedByEnd).toDouble,
          "streaming.generator_late_ms" -> Stats.mean(late),
          "trace.op_p50_ms" -> Stats.median(lat))
      } else Map.empty[String, Double]
      val (tail, _) = Stats.tail(lat)
      Outcome(setupS, lat, backlogRows / drainS, attempted, math.min(attempted, bad),
        Seq(("stream_drain_records_per_s", backlogRows / drainS, "1/s"),
          ("stream_lat_p50_ms", Stats.median(lat), "ms"), ("stream_lat_tail_ms", tail, "ms"),
          ("stream_live_files", due.size.toDouble, "count"),
          ("stream_backlog_files_end", (due.size - committedByEnd).toDouble, "count"),
          ("stream_generator_late_ms", Stats.mean(late), "ms")),
        layers, errors.toSeq)
    } finally if (q.isActive) q.stop()
  }

  // -------------------------------------------------------------- corpus_dedup

  private def writeDocs(spark: SparkSession, path: String, docs: Seq[(Long, String)]): Unit =
    spark.createDataFrame(docs).toDF("doc_id", "text").coalesce(1).write.parquet(path)

  /** Union-find components of a pair list: doc -> smallest doc id of its component. */
  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Passes of the dedup family over a seeded corpus: n-gram Jaccard,
    * MinHash LSH, duplicate clusters and incremental exact dedup, each
    * answer checked against the planted truth. */
  def corpusDedup(ctx: Ctx): Outcome = {
    import ctx.spark
    val r = ctx.rng(4)
    val sc = ctx.scale
    val corpus = Gen.corpus(r, sc.corpusDocs, sc.corpusPairs, sc.boilerplateDocs)
    val texts = corpus.docs.toMap
    val sh = mutable.HashMap.empty[Long, Set[String]]
    def shingles(id: Long) = sh.getOrElseUpdate(id, Gen.shingles(texts(id)))

    /** One pass of the four calls over the corpus under `d`. */
    def pass(d: String, op: Long): (Seq[(Long, Long, Double)], Set[(Long, Long)], Seq[Row], Set[Long]) = {
      def t[A](name: String)(body: => A): A = ctx.trace.span(s"dedup.$name", op)(body)
      val d02 = t("d02")(Dedup.d02NgramJaccard(spark, d).collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val d03 = t("d03")(Dedup.d03MinHashLsh(spark, d).collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
      val pairs = spark.createDataFrame(d02.map(p => (p._1, p._2))).toDF("doc_a", "doc_b")
      val clusters = t("clusters")(Dedup.dupClusters(pairs).collect()).toSeq
      val history = spark.read.parquet(s"$d/documents.parquet")
        .select(md5(TextAnalysis.normText(col("text"))).as("fp"))
      val batch = spark.read.parquet(s"$d/batch.parquet")
      val survivors = t("incremental")(Dedup.incrementalExactDedup(batch, history).select("doc_id").collect())
        .map(_.getLong(0)).toSet
      (d02, d03, clusters, survivors)
    }

    ctx.log("inputs generated")
    // a set-up lands the corpus in a directory of its own and makes one pass
    // over it: plans and adaptive decisions depend on the corpus size, so a
    // smaller warm-up corpus would leave the first measured pass cold
    var dir = ""
    val setupS = setupRounds(sc.setupRounds) { i =>
      dir = ctx.dir(s"corpus$i")
      writeDocs(spark, s"$dir/documents.parquet", corpus.docs.toSeq)
      writeDocs(spark, s"$dir/batch.parquet", corpus.batch.toSeq)
      pass(dir, -1)
    }

    val lat = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var wrong = 0
    var passes = 0
    var passWall = 0.0
    var recall = 0.0
    var last = (0, 0, 0)
    val planted = corpus.planted.toSet
    ctx.log("set up")
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (passes < 1 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      val (d02, d03, clusters, survivors) = pass(dir, passes)
      lat += (System.nanoTime() - t0) / 1e6
      passWall += (System.nanoTime() - t0) / 1e9
      attempted += 4
      // d02: every planted pair found; a sample of its pairs recomputed
      val d02set = d02.map(p => (p._1, p._2)).toSet
      val missing = planted.diff(d02set)
      val sampleRng = new java.util.SplittableRandom(ctx.seed + passes)
      val wrongJ = (0 until math.min(40, d02.size)).map(_ => d02(sampleRng.nextInt(d02.size))).filter { case (a, b, j) =>
        val exact = Gen.jaccard(shingles(a), shingles(b))
        exact < 0.6 || math.abs(exact - j) > 1e-6
      }
      if (missing.nonEmpty || wrongJ.nonEmpty) {
        wrong += 1
        errors += s"d02: ${missing.size} planted pairs missing, ${wrongJ.size} sampled pairs wrong, e.g. ${wrongJ.take(2)}"
      }
      // d03: an exact-verified subset of d02's pairs; recall is reported
      recall = planted.count(d03).toDouble / planted.size
      if (!d03.subsetOf(d02set)) { wrong += 1; errors += s"d03: ${d03.diff(d02set).size} pairs d02 does not have" }
      // clusters: the connected components of d02's pair graph
      val want = components(d02.map(p => (p._1, p._2)))
      val got = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (got != want) { wrong += 1; errors += s"clusters: ${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} docs mislabelled" }
      // incremental exact dedup: exactly the batch documents never seen before
      if (survivors != corpus.batchSurvivors) {
        wrong += 1
        errors += s"incremental: ${survivors.diff(corpus.batchSurvivors).size} extra, ${corpus.batchSurvivors.diff(survivors).size} missing"
      }
      last = (d02.size, d03.size, want.values.toSet.size)
      passes += 1
    }
    val docsPerS = passes * sc.corpusDocs / passWall
    val layers = if (ctx.trace.enabled) {
      ctx.trace.drain(spark)
      val calls = Seq("d02", "d03", "clusters", "incremental")
      val windows = calls.flatMap(c => spanWindows(ctx, s"dedup.$c"))
      Layers.spark(ctx.trace, windows, attempted) ++
        calls.map(c => s"dedup.${c}_ms" -> spanMean(ctx, s"dedup.$c", passes)).toMap ++ Map(
        "ops" -> attempted.toDouble,
        "dedup.d02_pairs" -> last._1.toDouble,
        "dedup.d03_pairs" -> last._2.toDouble,
        "dedup.clusters" -> last._3.toDouble,
        "trace.op_p50_ms" -> Stats.median(lat.toSeq))
    } else Map.empty[String, Double]
    val (tail, _) = Stats.tail(lat.toSeq)
    Outcome(setupS, lat.toSeq, docsPerS, attempted, math.min(attempted, wrong),
      Seq(("dedup_docs_per_s", docsPerS, "1/s"), ("dedup_lsh_recall", recall, "ratio"),
        ("dedup_pass_p50_ms", Stats.median(lat.toSeq), "ms"), ("dedup_pass_tail_ms", tail, "ms"),
        ("dedup_passes", passes.toDouble, "count")),
      layers, errors.toSeq)
  }
}
