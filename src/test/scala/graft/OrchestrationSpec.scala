package graft

import graft.model._
import graft.orchestrate.{Flow, PipelineRunner, ReferencePipeline}
import graft.quality.Quality.Check
import graft.state.StateLog
import graft.transform.Transform
import graft.validate.SchemaValidator.Rule
import org.apache.spark.sql.functions._

import java.nio.file.Files

class OrchestrationSpec extends SparkSpec {
  import spark.implicits._

  private def freshLayout(): PipelineLayout =
    PipelineLayout(Files.createTempDirectory("graft-e2e").toString)

  private val fastConfig = PipelineConfig(retryBackoffMs = 1L)

  test("reference pipeline end-to-end: quarantine, archive, gate, promote, state rows") {
    val layout = freshLayout()
    val stateLog = new StateLog(spark, layout.state)
    val spec = ReferencePipeline.Spec(
      rules = Seq(Rule("value_le_300", col("value") <= 300.0)),
      transform = Transform.pipeline(
        Transform.derivePartitions("ts"),
        df => df.withColumn("value_bucket", (col("value") / 100).cast("int"))),
      checks = Seq(Check("value_nonneg", col("value") >= 0)))
    val input = Tables.events(spark, sf)
    val outcome = ReferencePipeline.run("run1", input, spec, layout, stateLog, fastConfig)

    assert(outcome.isInstanceOf[PipelineOutcome.Succeeded], outcome)
    // quarantined = rows failing the rule, tagged with stage + batch
    val quarantined = ReferencePipeline.quarantined(spark, layout, "run1")
    val nInvalid = input.filter(col("value") > 300.0).count()
    assert(nInvalid > 0 && quarantined.count() == nInvalid)
    assert(quarantined.select("_error_stage").distinct().as[String].head() == "validation")
    // processed table is Hive-partitioned by year/month/day/hour
    val processed = spark.read.parquet(layout.processed)
    assert(processed.count() == input.count() - nInvalid)
    assert(Seq("year", "month", "day", "hour").forall(processed.columns.contains))
    assert(new java.io.File(layout.processed).listFiles().exists(_.getName.startsWith("year=")))
    // archive holds the full valid pre-transform copy
    assert(graft.sink.Sinks.readArchive(spark, layout.archive).count() == input.count() - nInvalid)
    // state journal saw every stage, ending SUCCEEDED
    val stages = stateLog.journal().select("stage").distinct().as[String].collect().toSet
    assert(Set("pipeline", "validate", "transform", "quality_gate", "promote").subsetOf(stages))
    assert(stateLog.currentStatus("run1").get.status == PipelineStatus.Succeeded)
  }

  test("quality gate failure yields Failed outcome and no promoted output") {
    val layout = freshLayout()
    val stateLog = new StateLog(spark, layout.state)
    val spec = ReferencePipeline.Spec(
      rules = Seq.empty,
      transform = Transform.derivePartitions("ts"),
      checks = Seq(Check("impossible", col("value") > 1e9))) // score = 0
    val outcome = ReferencePipeline.run("run2", Tables.events(spark, sf), spec, layout, stateLog, fastConfig)
    assert(outcome == PipelineOutcome.Failed("Data quality score below threshold"))
    // staged output never promoted
    val live = new java.io.File(layout.processed).listFiles()
    assert(live == null || !live.exists(_.getName.startsWith("year=")))
    assert(stateLog.currentStatus("run2").get.status == PipelineStatus.Failed)
  }

  test("task retry: transient failures retried with backoff, then succeed") {
    val layout = freshLayout()
    val stateLog = new StateLog(spark, layout.state)
    val runner = new PipelineRunner(stateLog, fastConfig)
    var attempts = 0
    val flow = Flow.Task("flaky", { df =>
      attempts += 1
      if (attempts < 3) sys.error("transient")
      df
    }, Flow.Succeed())
    val out = runner.run("run3", flow, Seq(1).toDF("x"))
    assert(out.isSuccess && attempts == 3)
    // two failed attempts journaled for the flaky stage
    val failed = stateLog.journal()
      .filter(col("stage") === "flaky" && col("status") === PipelineStatus.Failed)
    assert(failed.count() == 2)
  }

  test("task exhausting retries fails the pipeline with the last error") {
    val stateLog = new StateLog(spark, freshLayout().state)
    val runner = new PipelineRunner(stateLog, fastConfig)
    val flow = Flow.Task("doomed", _ => sys.error("boom"), Flow.Succeed())
    val out = runner.run("run4", flow, Seq(1).toDF("x"))
    assert(out == PipelineOutcome.Failed("doomed: failed after 3 attempts: boom"))
  }

  test("staged write retry is idempotent - no duplicate rows after partial failure") {
    import graft.sink.Sinks
    val root = Files.createTempDirectory("graft-idem").toString
    val df = Tables.events(spark, sf).limit(100)
    val staging = s"$root/.staging/batch-0"
    // first attempt: stage the data but "crash" before promotion
    graft.transform.Transform.derivePartitions("ts")(df)
      .write.option("compression", "gzip")
      .partitionBy("year", "month", "day", "hour")
      .mode("overwrite").parquet(staging)
    // retry: full staged write (overwrites the orphaned attempt) + promote
    Sinks.writePartitionedStaged(df, s"$root/live", staging)
    assert(spark.read.parquet(s"$root/live").count() == 100)
    // replaying the same batch into a fresh staging dir is the crash-after-
    // promote case; the quality bar here is per-batch, not cross-replay
    assert(!new java.io.File(staging).exists())
  }

  test("expired deadline fails the pipeline before running stages") {
    val stateLog = new StateLog(spark, freshLayout().state)
    val runner = new PipelineRunner(stateLog, PipelineConfig(retryBackoffMs = 1L, deadlineMs = -1000L))
    var ran = false
    val flow = Flow.Task("never", { df => ran = true; df }, Flow.Succeed())
    val out = runner.run("run-deadline", flow, Seq(1).toDF("x"))
    assert(out == PipelineOutcome.Failed("Pipeline deadline exceeded") && !ran)
  }

  test("re-running a pipeline id after a gate failure does not duplicate rows") {
    val layout = freshLayout()
    val stateLog = new StateLog(spark, layout.state)
    val input = Tables.events(spark, sf).limit(200)
    val nInvalid = input.filter(col("value") > 300.0).count()
    val failing = ReferencePipeline.Spec(
      rules = Seq(Rule("value_le_300", col("value") <= 300.0)),
      transform = Transform.derivePartitions("ts"),
      checks = Seq(Check("impossible", col("value") > 1e9)))
    assert(!ReferencePipeline.run("again", input, failing, layout, stateLog, fastConfig).isSuccess)
    // same id re-run with passing checks: staged leftovers, quarantine,
    // and archive must be overwritten, not appended a second copy
    val passing = failing.copy(checks = Seq(Check("nonneg", col("value") >= 0)))
    assert(ReferencePipeline.run("again", input, passing, layout, stateLog, fastConfig).isSuccess)
    assert(spark.read.parquet(layout.processed).count() == 200 - nInvalid)
    assert(ReferencePipeline.quarantined(spark, layout, "again").count() == nInvalid)
    assert(graft.sink.Sinks.readArchive(spark, layout.archive).count() == 200 - nInvalid)
  }

  test("all-invalid input fails the gate instead of crashing the read-back") {
    // no rows reach the staged write: its observed score is 0.0, the gate
    // fails, and scoring an empty write does not block
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val checks = Seq(Check("nonneg", col("value") >= 0))
    val events = Tables.events(spark, sf).limit(50)
    val dir = Files.createTempDirectory("graft-gate").toString
    // no rows reach the write: filtered at run time, and statically empty
    val noRows = Seq(events.filter(col("value") > 1e9), events.limit(0))
    val scores = noRows.zipWithIndex.flatMap { case (df, i) =>
      Seq(checks, Nil).map(cs => Await.result(
        Future(ReferencePipeline.stageScored(df, s"$dir/s$i", "ts", cs)), 2.minutes))
    }
    assert(scores == Seq(0.0, 1.0, 0.0, 1.0)) // no checks: vacuously 1.0
    val layout = freshLayout()
    val stateLog = new StateLog(spark, layout.state)
    val spec = ReferencePipeline.Spec(
      rules = Seq(Rule("impossible", col("value") > 1e9)), // everything invalid
      transform = Transform.derivePartitions("ts"),
      checks = checks)
    val out = Await.result(Future(ReferencePipeline.run("allbad", events,
      spec, layout, stateLog, fastConfig)), 2.minutes)
    assert(out == PipelineOutcome.Failed("Data quality score below threshold"))
    val published = Option(new java.io.File(layout.processed).listFiles()).getOrElse(Array.empty)
    assert(!published.exists(_.getName.startsWith("year=")), published.mkString(","))
  }

  test("an observed metric reads back, and the session stays serializable") {
    // Spark ML's training summaries capture the session in task closures
    val (rows, n) = Observed(spark.range(10).toDF("x"), count(lit(1)), sum(col("x")))(_.collect())
    assert(rows.length == 10 && n.map(r => (r.getLong(0), r.getLong(1))).contains((10L, 45L)))
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()).writeObject(spark)
  }

  test("reference pipeline: one run launches only its three writes' jobs") {
    val layout = freshLayout()
    val stateLog = new StateLog(spark, layout.state)
    val input = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 5.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 400.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 09:00:00"), 7.0)).toDF("id", "ts", "value")
    val spec = ReferencePipeline.Spec(
      rules = Seq(Rule("value_le_300", col("value") <= 300.0)),
      transform = Transform.derivePartitions("ts"),
      checks = Seq(Check("value_nonneg", col("value") >= 0)))
    val (outcome, jobs) = jobsLaunchedBy(
      ReferencePipeline.run("jobs1", input, spec, layout, stateLog, fastConfig))
    assert(outcome == PipelineOutcome.Succeeded(1.0), outcome)
    // quarantine write, archive write, and the staged write (its
    // partition exchange's map stage + the write); the gate reads the
    // score the staged write observed
    assert(jobs == 4, s"$jobs jobs")
    assert(spark.read.parquet(layout.processed).count() == 2)
  }

  test("cancellation is not retried and final status stays CANCELLED") {
    val stateLog = new StateLog(spark, freshLayout().state)
    val runner = new PipelineRunner(stateLog, fastConfig)
    var attempts = 0
    val flow = Flow.Task("work", { _ =>
      attempts += 1
      throw new RuntimeException("Job 7 cancelled as part of cancellation of job group")
    }, Flow.Succeed())
    val out = runner.run("cancel-run", flow, Seq(1).toDF("x"))
    assert(attempts == 1, s"cancelled job was retried $attempts times")
    assert(!out.isSuccess)
    assert(stateLog.currentStatus("cancel-run").get.status == PipelineStatus.Cancelled)
  }

  test("choice routes and parallel unions branches") {
    val stateLog = new StateLog(spark, freshLayout().state)
    val runner = new PipelineRunner(stateLog, fastConfig)
    val flow = Flow.Choice("has_rows", _.count() > 0,
      Flow.Parallel("scatter", Seq(
        (df: org.apache.spark.sql.DataFrame) => df.withColumn("b", lit(1)),
        (df: org.apache.spark.sql.DataFrame) => df.withColumn("b", lit(2))),
        Flow.Succeed(df => df.count().toDouble)),
      Flow.Fail("empty"))
    val out = runner.run("run5", flow, Seq(1, 2, 3).toDF("x"))
    assert(out == PipelineOutcome.Succeeded(6.0)) // 3 rows × 2 branches
  }

  test("compactPartitioned merges small files; scoped compaction leaves cold partitions alone") {
    import graft.sink.Sinks
    val dir = Files.createTempDirectory("graft-compact-t").toString + "/table"
    // simulate many micro-batch appends: 6 slivers per partition
    val ev = Transform.derivePartitions("ts")(Tables.events(spark, sf)).cache()
    (1 to 6).foreach { _ =>
      ev.repartition(2).write.mode("append")
        .partitionBy("year", "month", "day", "hour").parquet(dir)
    }
    val rowsBefore = spark.read.parquet(dir).count()
    val days = spark.read.parquet(dir).select("day").distinct()
      .collect().map(_.getInt(0)).sorted
    val (hotDay, coldDay) = (days.head, days.last)
    def filesOfDay(day: Int): Long = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      walk(new java.io.File(dir))
        .count(f => f.getPath.contains(s"day=$day") && f.getName.endsWith(".parquet")).toLong
    }
    val coldFilesBefore = filesOfDay(coldDay)
    val (before, after) = Sinks.compactPartitioned(spark, dir,
      scope = Some(col("day") === hotDay))
    assert(before > after, s"before=$before after=$after")
    assert(filesOfDay(coldDay) == coldFilesBefore) // cold partitions untouched
    assert(spark.read.parquet(dir).count() == rowsBefore) // no rows lost
    // a row-level scope would silently drop partition-sliced rows — refused
    intercept[IllegalArgumentException] {
      Sinks.compactPartitioned(spark, dir, scope = Some(col("value") > 0))
    }
    // nondeterministic scope — refused; constant scope — allowed
    intercept[IllegalArgumentException] {
      Sinks.compactPartitioned(spark, dir, scope = Some(rand() < 0.5))
    }
    // idempotence: a second full compaction changes nothing it shouldn't
    val (_, afterFull) = Sinks.compactPartitioned(spark, dir, scope = Some(lit(true)))
    val (b2, a2) = Sinks.compactPartitioned(spark, dir)
    assert(b2 == afterFull && a2 == afterFull, s"b2=$b2 a2=$a2 afterFull=$afterFull")
    assert(spark.read.parquet(dir).count() == rowsBefore)
    ev.unpersist()
  }

  test("hash-sharded sink: deterministic assignment, one dir and one file per shard") {
    import graft.sink.Sinks
    import graft.functions.HashGate
    val root = Files.createTempDirectory("graft-shards").toString
    val docs = Tables.documents(spark, sf)
    Sinks.writeHashSharded(docs, s"$root/shards", "doc_id", numShards = 16)
    val dirs = new java.io.File(s"$root/shards").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(dirs.length == 16, dirs.map(_.getName).mkString(","))
    // shard count is a layout contract, not a task-count artifact: each
    // shard dir holds exactly one data file (rows were repartitioned ON
    // the shard key before the partitioned write)
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.length} files")
    }
    // roundtrip preserves rows and the assignment is recomputable from
    // row identity alone (content-addressed, engine-independent)
    val back = spark.read.parquet(s"$root/shards")
    assert(back.count() == docs.count())
    assert(back.filter(
      col("shard") =!= HashGate.shard(col("doc_id"), 16)).count() == 0)
    // idempotent re-run: dynamic overwrite replaces shards in place
    Sinks.writeHashSharded(docs, s"$root/shards", "doc_id", numShards = 16)
    assert(spark.read.parquet(s"$root/shards").count() == docs.count())
  }

  test("MapState: data-driven fan-out equals groupBy; guards fail loudly") {
    val stateLog = new StateLog(spark, freshLayout().state)
    val df = Seq(("a", 1L), ("b", 2L), ("a", 3L), ("c", 4L)).toDF("k", "v")
    var landed: Option[org.apache.spark.sql.DataFrame] = None
    val flow = Flow.MapState("per_key",
      items = d => d.select("k").distinct().collect().map(_.getString(0)).sorted.toSeq,
      perItem = (d, k) => d.filter(col("k") === k)
        .agg(sum(col("v")).as("sv")).withColumn("k", lit(k)),
      next = Flow.Task("land", { d => landed = Some(d); d }, Flow.Succeed()))
    val outcome = new PipelineRunner(stateLog, fastConfig).run("m1", flow, df)
    assert(outcome.isInstanceOf[PipelineOutcome.Succeeded], outcome)
    val got = landed.get.select("k", "sv").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 4L, "b" -> 2L, "c" -> 4L)) // ≡ groupBy k
    // item count over maxItems fails the pipeline, loudly, not silently
    val over = Flow.MapState("too_many",
      items = d => d.select("k").collect().map(_.getString(0)).toSeq,
      perItem = (d, _) => d, next = Flow.Succeed(), maxItems = 2)
    val failed = new PipelineRunner(stateLog, fastConfig).run("m2", over, df)
    assert(failed.isInstanceOf[PipelineOutcome.Failed])
    assert(failed.asInstanceOf[PipelineOutcome.Failed].cause.contains("maxItems"))
    // an empty item list is a wiring bug, not an empty result
    val empty = Flow.MapState("none",
      items = _ => Seq.empty, perItem = (d, _) => d, next = Flow.Succeed())
    val failed2 = new PipelineRunner(stateLog, fastConfig).run("m3", empty, df)
    assert(failed2.isInstanceOf[PipelineOutcome.Failed])
  }

  test("journal appends, and opening the journal, launch no Spark job") {
    val log = new StateLog(spark, freshLayout().state)
    val (journal, jobs) = jobsLaunchedBy {
      log.append("j1", "pipeline", PipelineStatus.Running)
      log.append("j1", "validate", PipelineStatus.Succeeded, null)
      assert(log.appendDetail("j1", "pipeline", "updated: x").isDefined)
      log.journal() // known schema: no inference job
    }
    assert(jobs == 0)
    assert(journal.count() == 3)
  }

  test("state log rolls back in-memory status when the journal write fails") {
    val root = Files.createTempDirectory("graft-rb").toString
    // make the journal parent a FILE so the parquet write must fail
    val log = new StateLog(spark, s"$root/blocker/state")
    Files.writeString(java.nio.file.Paths.get(s"$root/blocker"), "not a dir")
    intercept[Throwable] { log.append("p1", "stage", "RUNNING") }
    // the failed append must not be served as current status
    assert(log.currentStatus("p1").isEmpty)
  }
}
