package graft.streaming

import graft.{Materialize, Session, Tables}
import graft.model.PipelineLayout
import graft.sink.Sinks
import graft.validate.SchemaValidator.Rule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Driver-checkable batch replays of the streaming path (SURVEY §2.8):
  * the events table is staged as JSON files and run through the REAL
  * streaming machinery with an AvailableNow drain (drain everything,
  * then stop); the landed result is compared against a purely-batch
  * oracle. Streaming semantics that need wall-clock time (watermark
  * drops, ProcessingTime cadence) stay in StreamingSpec.
  *
  * Every row runs through one harness, [[replay]], which owns the
  * scaffold: the cloned session, the staged JSON feed and its source,
  * the drains and the memory sinks, all inside one
  * [[graft.Materialize.scoped]] scope.
  *
  * The clone (same SparkContext, isolated SQLConf) pins the stateful
  * shuffle to 8 partitions. A state store opens (and commits) one store
  * per shuffle partition per micro-batch; the replays' 15-150 keys (or
  * st03's ~720 windows × 5 types) do not need the session's full
  * parallelism, and a replay would pay 4 batches × 32 partition commits
  * of bookkeeping for near-empty stores. Pinning the width on the shared
  * session instead would silently resize any concurrently-planned query
  * that reads it at call time (d06 sizes its bucket count from this
  * conf). At production scale this knob is sized to key cardinality, and
  * the checkpoint records it per query. Rows whose cost is a partitioned
  * write keep the caller's width: st01, st05, st15 and st04's processing
  * leg. The clone also runs with AQE off: streaming disables AQE anyway,
  * and a stream started on a session with AQE on logs two warnings
  * saying so.
  *
  *  - st01 (T1/T6 + K1): file source → rule validation → partition
  *    derivation → checkpointed retry/quarantine partitioned sink →
  *    scoped small-file compaction, rolled up to per-hour counts.
  *  - st02 (T5): file source → `mapGroupsWithState` key tracker → final
  *    state per key, which must equal the batch groupBy aggregate — the
  *    reference's DynamoDB state-table semantics (SDP.py:325-339) as a
  *    hard row.
  *
  * Bench note: st01 costs ~6 s at sf0.1, dominated by the partitioned
  * WRITE, not the streaming machinery — the test corpus spans 720
  * hour-partition dirs at ~6 ms/dir (writer open/footer/commit-rename;
  * measured: 30 dirs → 0.6 s, 720 dirs → 4.5 s, codec- and
  * committer-version-independent). A test-scale artifact: real hourly
  * partitions are MB-to-GB-scale, where the per-dir constant vanishes
  * against data volume.
  */
object StreamReplay {

  type Q = (SparkSession, String) => DataFrame

  /** Micro-preserving JSON timestamp format for the staged feed: Spark's
    * default JSON format truncates to milliseconds, and the corpus
    * timestamps are micro-precise — the state tracker's `max(ts)` would
    * silently lose the sub-millisecond digits on the round-trip. */
  val JsonTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  private val JsonOptions = Map("timestampFormat" -> JsonTsFormat)

  /** What a replay body works with: `s`, the replay's cloned session, and
    * `tmp`, its scope's temp dir. Feeds are staged under `tmp` as JSON and
    * opened with the same [[JsonTsFormat]]; every drain checkpoints to
    * `tmp/ckpt`, so a second drain resumes where the first stopped. */
  private[graft] final class Replay private[streaming] (
      val s: SparkSession, m: Materialize.Scope, row: String) {
    val tmp: String = m.tmp

    /** `df` persisted until the replay ends. */
    def pin(df: DataFrame): DataFrame = m.pin(df)

    /** Stages `df` into `tmp/incoming` as is, one JSON file per partition. */
    def stage(df: DataFrame): Unit =
      df.write.mode("overwrite").options(JsonOptions).json(s"$tmp/incoming")

    /** `tmp/dir` as a JSON file source of `schema` on session `on`,
      * `perTrigger` files per micro-batch. */
    def source(schema: StructType, perTrigger: Int, dir: String = "incoming",
               on: SparkSession = s): DataFrame =
      StreamingPipeline.jsonFileSource(on, s"$tmp/$dir", schema,
        maxFilesPerTrigger = perTrigger, options = JsonOptions)

    /** Stages `df` into `tmp/dir` as the ordered feed
      * ([[stageOrderedJson]]) and opens it, `perTrigger` files per
      * micro-batch. */
    def orderedFeed(df: DataFrame, nFiles: Int, perTrigger: Int,
                    dir: String = "incoming", prefix: String = "a",
                    baseModTime: Long = 1000000L): DataFrame = {
      stageOrderedJson(df, nFiles, s"$tmp/$dir", prefix, baseModTime)
      source(df.schema, perTrigger, dir)
    }

    /** A query name unique to this run; the memory-sink view of that
      * name is dropped when the replay ends. */
    def queryName(): String = {
      val name = s"graft_${row}_" + java.util.UUID.randomUUID().toString.replace("-", "")
      m.onClose { s.catalog.dropTempView(name); () }
      name
    }

    /** Starts `w` with AvailableNow on the replay's checkpoint and waits
      * until it has drained every staged file. */
    def drain(w: DataStreamWriter[_]): Unit =
      w.option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()

    /** Drains `df` in append mode into the parquet table `tmp/out`; that table. */
    def drainToParquet(df: DataFrame): DataFrame = {
      drain(df.writeStream.format("parquet").option("path", s"$tmp/out").outputMode("append"))
      s.read.parquet(s"$tmp/out")
    }

    /** Drains `ds` in update mode into a memory sink; its table. */
    def drainToMemory(ds: Dataset[_]): DataFrame = {
      val name = queryName()
      drain(ds.writeStream.format("memory").queryName(name).outputMode("update"))
      s.table(name)
    }

    /** Drains `ds` in update mode into a noop sink; the surviving state
      * of `stateVar`, read from the checkpoint's state store. */
    def drainToState(ds: Dataset[_], stateVar: String): DataFrame = {
      drain(ds.writeStream.format("noop").outputMode("update"))
      s.read.format("statestore").option("stateVarName", stateVar).load(s"$tmp/ckpt")
    }

    /** Drains `source` through a VERSIONED table under `tmp/dir`: per
      * epoch `partial` summarizes just the batch, `merge` combines it
      * with the previous version, and the result is written as the next
      * version. Per-epoch cost is O(|summary| + |batch|), never
      * O(history). Returns the last version.
      *
      * The previous version is addressed by BATCH ID, not driver memory:
      * epoch b always merges v(b-1) + batch b and overwrites v(b), so a
      * retried or restart-replayed epoch reproduces exactly the same
      * version it wrote the first time (a mutable last-written pointer
      * would double-merge on a same-process retry and orphan history on
      * a restart-from-checkpoint). */
    def drainVersioned(source: DataFrame, dir: String)(
        partial: DataFrame => DataFrame,
        merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
      def version(b: Long) = s"$tmp/$dir/v$b"
      @volatile var maxBatch = -1L
      drain(source.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val part = partial(batch)
        val prev = new Path(version(batchId - 1))
        val merged =
          if (batchId > 0 && prev.getFileSystem(s.sparkContext.hadoopConfiguration).exists(prev))
            merge(s.read.parquet(prev.toString), part)
          else part
        merged.write.mode("overwrite").parquet(version(batchId))
        maxBatch = math.max(maxBatch, batchId)
        ()
      })
      if (maxBatch < 0) throw new IllegalStateException(s"$row: no micro-batch ran")
      s.read.parquet(version(maxBatch))
    }
  }

  /** Runs `body` on a fresh [[Replay]] in a [[graft.Materialize.scoped]]
    * scope, which also stops the clone's streams when it closes.
    * `narrow = false` keeps the caller's shuffle width; `rocksDb` puts
    * the state store off-heap. */
  private[graft] def replay(s: SparkSession, row: String, narrow: Boolean = true,
                            rocksDb: Boolean = false)(body: Replay => DataFrame): DataFrame = {
    val width = if (narrow) "8" else s.conf.get("spark.sql.shuffle.partitions")
    val clone = Session.isolated(s, Seq(
      "spark.sql.shuffle.partitions" -> width,
      "spark.sql.adaptive.enabled" -> "false") ++
      Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"): _*)
    Materialize.scoped(s, s"graft-$row-") { m =>
      m.onClose(clone.streams.active.foreach(_.stop()))
      body(new Replay(clone, m, row))
    }
  }

  /** Stage `df` into `dir` as range-ordered JSON files with explicit,
    * strictly ascending modification times. The file source orders files
    * by (modTime, path); staging in one Spark job gives every part file
    * the same wall-clock second, so batch order would hinge on path
    * tie-breaks — an implementation detail. Explicit modtimes make the
    * batch sequence part of the CONTRACT: file i drains before file i+1,
    * which is what lets an event-time watermark test state its expected
    * output deterministically. Files are range-partitioned on `ts`
    * (file i's max ts ≤ file i+1's min ts), so in-order rows are never
    * late by construction. */
  private def stageOrderedJson(df: DataFrame, nFiles: Int, dir: String,
                               prefix: String, baseModTime: Long): Unit = {
    val s = df.sparkSession
    val stage = s"$dir-stage-$prefix"
    df.repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite")
      .options(JsonOptions)
      .json(stage)
    val fs = new Path(stage).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir))
    val parts = fs.listStatus(new Path(stage))
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName) // part index = ascending ts range
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = new Path(dir, f"$prefix-$i%03d.json")
      if (!fs.rename(f.getPath, dst))
        throw new java.io.IOException(s"stageOrderedJson: rename ${f.getPath} -> $dst failed")
      fs.setTimes(dst, baseModTime + i * 1000L, -1L)
    }
    fs.delete(new Path(stage), true)
    ()
  }

  /** The processing stream with one always-true rule: the sink-path rows
    * check the sink's row accounting, so every row must land in
    * processed/ (p02-style routing is p01's job). */
  private def acceptAll(source: DataFrame): DataFrame =
    StreamingPipeline.processingStream(source, Seq(Rule("always_true", lit(true))))

  def st01StreamReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st01", narrow = false) { r =>
      val ev = Tables.events(s, d)
      // stage the table as the landing-zone JSON feed the reference ingests
      r.stage(ev)
      val layout = PipelineLayout(s"${r.tmp}/lake")
      StreamingPipeline.partitionedSink(
        acceptAll(r.source(ev.schema, perTrigger = 1000)), layout, availableNow = true)
        .start().awaitTermination()
      // Steady-state maintenance on the hard row: compact the partitions
      // the drained window wrote, scoped to the LAST day present (the
      // "touch what the last window wrote, leave cold partitions alone"
      // form — Sinks.compactPartitioned). The count rollup below runs on
      // the post-compaction table, so the oracle also proves compaction
      // neither lost nor duplicated a row.
      // derive the scope with Spark's year/month/day (session time zone)
      // — the partition columns were derived under the SAME functions, so
      // the scope always names a day that exists; Timestamp.toLocalDateTime
      // would use the JVM default zone and target the wrong day on a
      // non-UTC machine
      val last = ev.agg(max(col("ts")).as("m"))
        .select(year(col("m")), month(col("m")), dayofmonth(col("m"))).head()
      Sinks.compactPartitioned(s, layout.processed,
        scope = Some(col("year") === last.getInt(0) &&
          col("month") === last.getInt(1) &&
          col("day") === last.getInt(2)))
      s.read.parquet(layout.processed)
        .groupBy(col("year"), col("month"), col("day"), col("hour"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("year"), col("month"), col("day"), col("hour"))
    }

  /** st02: stateful-tracking replay (T5). The events feed drains through
    * [[StreamingPipeline.trackState]] in FOUR micro-batches
    * (`repartitionByRange(8)` staged files × `maxFilesPerTrigger = 2`),
    * so per-key state genuinely carries across epochs — a single-batch
    * drain would degenerate to a batch aggregate. The memory sink in
    * Update mode records every per-batch state emission; the final state
    * per key is the row with the largest running count (n and lastTs are
    * both monotone in the batch sequence), and must equal the batch
    * `groupBy(user).agg(count, max(ts))` oracle. */
  def st02StateReplay(s: SparkSession, d: String): DataFrame = replay(s, "st02") { r =>
    import r.s.implicits._
    val ev = Tables.events(r.s, d).select(col("user_id"), col("ts"))
    r.stage(ev.repartitionByRange(8, col("ts")))
    val typed = r.source(ev.schema, perTrigger = 2)
      .select(col("user_id").cast("string"), col("ts"))
      .as[(String, java.sql.Timestamp)]
    r.drainToMemory(StreamingPipeline.trackState(typed))
      .groupBy(col("key"))
      .agg(max(col("n")).as("n_events"), max(col("lastTs")).as("last_ts"))
      .select(col("key").cast("long").as("user_id"),
        col("n_events"), col("last_ts"))
      .orderBy(col("user_id"))
  }

  /** Hash gate shared by st03/st05: a deterministic ~6 % subset of events
    * ([[graft.functions.HashGate]]) — the staged feed's "late arrivals"
    * (st03) and "corrupted lines" (st05) are the same rows in both
    * engines. */
  private val GateHex = "10"
  private def hashGate(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.HashGate(idCol, GateHex)

  /** st03: tumbling-window + watermark replay (T2/T4). Two-phase drain
    * makes event-time late-drop semantics DETERMINISTIC — no wall clock
    * anywhere:
    *
    *  1. Phase 1 stages the in-order ~94 % of events (range-partitioned
    *     files, ascending modtimes) and drains with AvailableNow: windows
    *     close as the watermark (max event time − 90 min) advances; the
    *     final watermark persists in the checkpoint.
    *  2. Phase 2 adds the hash-gated "late" rows as one file and resumes
    *     from the same checkpoint: each late row is dropped iff its
    *     window already closed under the phase-1 watermark — the
    *     reference's retention-bound semantics (SDP.py:166) as a hard
    *     row, not a wall-clock race.
    *
    * The emitted output is therefore a pure function of the corpus:
    * windows with end ≤ final watermark, counting in-order rows plus the
    * late rows that beat the phase-1 watermark — exactly what the DuckDB
    * oracle states in SQL. The parquet sink (not memory) is what
    * survives the restart: its metadata log carries phase-1 emissions
    * into the final read. */
  def st03WindowedReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st03") { r =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .withColumn("late", hashGate(col("event_id")))
      def drain(feed: DataFrame): DataFrame = r.drainToParquet(
        StreamingPipeline.windowedAnalytics(
          feed, "ts", "event_type", "1 hour", lateness = "90 minutes"))
      drain(r.orderedFeed(ev.filter(!col("late")).drop("late", "event_id"),
        nFiles = 4, perTrigger = 2))
      drain(r.orderedFeed(ev.filter(col("late")).drop("late", "event_id"),
        nFiles = 1, perTrigger = 2, prefix = "b", baseModTime = 2000000L))
        .groupBy(col("window_start"), col("event_type"))
        .agg(sum(col("n")).as("n"), round(sum(col("sum_value")), 6).as("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }

  /** Feed bound for st04/st05: the corpus's first week / first three
    * days. The rows prove ROUTING semantics (fan-out exactly-once, DLQ
    * recovery), not partitioned-write throughput — st01 already carries
    * that and documents the 720-hour-partition-dir tax (~6 ms/dir, a
    * test-corpus-shape artifact). Bounding the feed keeps these rows
    * from paying that tax twice over; the oracles carry the same bound. */
  val FanoutFeedEnd  = "2024-01-08"
  val DlqFeedEnd     = "2024-01-04"

  /** st04: fan-out replay (T7) — ONE staged feed, TWO concurrently
    * draining sink queries (the reference's Firehose main stream + the
    * realtime fn's analytics stream, SDP.py:296): the partitioned
    * processed table and a windowed-counts memory sink, each with its own
    * checkpoint. The output joins both legs' rollups per event type; the
    * oracle says each leg must have seen every event exactly once —
    * fan-out duplicates or drops on either leg break the row. */
  def st04FanoutReplay(s: SparkSession, d: String): DataFrame = replay(s, "st04") { r =>
    val ev = Tables.events(s, d).filter(col("ts") < lit(FanoutFeedEnd).cast("timestamp"))
    r.stage(ev)
    val layout = PipelineLayout(s"${r.tmp}/lake")
    // the processing leg keeps the FULL session width — it's a
    // stateless partitioned write whose throughput scales with writer
    // tasks; only the stateful analytics leg wants the narrow width
    val processing = acceptAll(r.source(ev.schema, perTrigger = 1000, on = s))
    // Complete-mode windowed counts: the memory table holds the full
    // current result, so the final read needs no per-batch bookkeeping.
    val analytics = r.source(ev.schema, perTrigger = 1000)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val name = r.queryName()
    val (q1, q2) = StreamingPipeline.fanOut(
      processing, analytics, layout,
      analyticsQueryName = name,
      analyticsOutputMode = OutputMode.Complete(),
      availableNow = true)
    q1.awaitTermination()
    q2.awaitTermination()
    val processed = s.read.parquet(layout.processed)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_processed"))
    val windowed = r.s.table(name)
      .groupBy(col("event_type")).agg(sum(col("n")).as("n_windowed"))
    processed.join(windowed, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  /** st05: DLQ quarantine + replay (K2) as a hard row. A hash-gated ~6 %
    * of the staged feed's lines are corrupted before ingest; the
    * streaming sink quarantines them (raw payload intact, SDP.py:133-136)
    * while the rest land in processed/. The quarantine is then REPLAYED —
    * the stored raw line is repaired, re-parsed against the schema, and
    * appended through the same partitioned sink. The final rollup counts
    * the processed table per event type, plus how many of its rows came
    * through the quarantine path (recomputed from the gate — derivable,
    * not remembered); the oracle says the recovered table must equal the
    * ORIGINAL corpus exactly — quarantine that loses a row, or replay
    * that fails to restore one, breaks the row. */
  def st05DlqReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st05", narrow = false) { r =>
      val ev = Tables.events(s, d).filter(col("ts") < lit(DlqFeedEnd).cast("timestamp"))
      val line = to_json(struct(ev.columns.map(col).toIndexedSeq: _*), JsonOptions)
      // corrupt the gated rows' lines in a REVERSIBLE way (prefix), so
      // replay can repair them — the model for "fix the producer bug,
      // then re-ingest the DLQ backlog"
      ev.select(
        when(hashGate(col("event_id")), concat(lit(CorruptPrefix), line))
          .otherwise(line).as("value"))
        .write.mode("overwrite").text(s"${r.tmp}/incoming")
      val layout = PipelineLayout(s"${r.tmp}/lake")
      StreamingPipeline.partitionedSink(
        acceptAll(r.source(ev.schema, perTrigger = 1000)), layout, availableNow = true)
        .start().awaitTermination()
      // replay: read the quarantined raw payloads, repair, re-parse, land
      val repaired = Sinks.replayQuarantine(s, layout.errors)
        .select(regexp_replace(
          col(graft.validate.SchemaValidator.CorruptCol),
          "^" + java.util.regex.Pattern.quote(CorruptPrefix), "").as("raw"))
        .select(from_json(col("raw"), ev.schema, JsonOptions).as("r"))
        .select(col("r.*"))
      Sinks.writePartitioned(repaired, layout.processed)
      s.read.parquet(layout.processed)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(hashGate(col("event_id")), 1L).otherwise(0L)).as("n_recovered"))
        .orderBy(col("event_type"))
    }

  /** The reversible corruption marker for st05's staged feed. */
  val CorruptPrefix = "!corrupt!"

  /** st06: ingest-time streaming dedup — the stream-side twin of d06's
    * batch incremental dedup: the events feed drains in FOUR
    * micro-batches through `dropDuplicatesWithinWatermark` on
    * (user_id, event_type), so the dedup state genuinely carries across
    * epochs (a key seen in batch 1 suppresses its duplicates in batch
    * 4). The watermark delay spans the whole staged corpus, so no state
    * is evicted and the replay is EXACT; at production scale the same
    * delay knob bounds state to the late-arrival horizon — the honest
    * tradeoff streaming dedup makes (an unbounded-watermark
    * `dropDuplicates` would grow state forever).
    *
    * Which row of a duplicate set survives within a micro-batch is not
    * deterministic, so the landed table is rolled up to per-type KEY
    * counts — exactly-one-survivor-per-key is the dedup contract, and it
    * must equal the batch `count(DISTINCT user_id)` per type. */
  def st06DedupReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st06") { r =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      r.drainToParquet(r.orderedFeed(ev, nFiles = 4, perTrigger = 1)
          .select(col("user_id"), col("event_type"), col("ts"))
          .withWatermark("ts", "40 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"))
        .orderBy(col("event_type"))
    }

  /** Feed bound for st07 — same rationale as [[FanoutFeedEnd]]: the row
    * proves SESSION semantics, not write throughput. */
  val SessionFeedEnd = "2024-01-08"

  /** st07: session-window replay (T3) — the first week of events drained
    * through the real `session_window` streaming aggregate
    * ([[StreamingPipeline.sessionized]], 30-min gap per user, 10-min
    * watermark) in multiple AvailableNow micro-batches, so sessions
    * genuinely grow and merge across state-store epochs before the
    * watermark closes them. Append mode emits exactly the sessions whose
    * end (last event + gap) ≤ the final watermark (feed max − 10 min) —
    * a pure function of the corpus, which the oracle states as the q35
    * gaps-and-islands SQL plus that same watermark cutoff. Sessions
    * still open at drain end are unemitted in BOTH engines, making the
    * late/open boundary a checked contract rather than a race.
    *
    * Scale: session state is per-key and evicted at close; the staged
    * in-order feed means state holds only each user's open session, not
    * history — the same bound that holds on an unbounded stream. */
  def st07SessionReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st07") { r =>
      val ev = Tables.events(s, d)
        .filter(col("ts") < lit(SessionFeedEnd).cast("timestamp"))
        .select(col("user_id"), col("ts"))
      r.drainToParquet(StreamingPipeline.sessionized(
          r.orderedFeed(ev, nFiles = 4, perTrigger = 2),
          "ts", "user_id", gap = "30 minutes", lateness = "10 minutes"))
        .select(col("session_start"), col("session_end"), col("user_id"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }

  /** Feed bound for st08 — same rationale as [[FanoutFeedEnd]]. */
  val JoinFeedEnd = "2024-01-08"

  /** st08 join window: the corpus is sparse (~2 events/user/day), so the
    * attribution window is a day, not minutes — 30 minutes would make the
    * row vacuous (zero pairs below sf0.1). */
  val JoinWindow = "1 day"

  /** The purchase/click interval join of st08, st11 and st13: the first
    * week's purchases and clicks staged as two ordered feeds of `nFiles`
    * files each and drained one file per side per micro-batch, joined
    * per user on a click within [[JoinWindow]] before the purchase. */
  private def clickJoin(r: Replay, s: SparkSession, d: String, nFiles: Int,
                        lateness: String, joinType: String = "inner"): DataFrame = {
    val ev = Tables.events(s, d).filter(col("ts") < lit(JoinFeedEnd).cast("timestamp"))
    def side(eventType: String, dir: String, prefix: String, tsName: String) =
      r.orderedFeed(ev.filter(col("event_type") === eventType).select(col("user_id"), col("ts")),
          nFiles, perTrigger = 1, dir, prefix)
        // drop the source's corrupt-record slot: the staged feed is clean
        // by construction, and the join should carry (key, ts) only
        .select(col("user_id"), col("ts").as(tsName))
    StreamingPipeline.intervalJoin(
      side("purchase", "purchases", "a", "p_ts"), side("click", "clicks", "b", "c_ts"),
      key = "user_id", leftTs = "p_ts", rightTs = "c_ts",
      window_ = JoinWindow, lateness = lateness, joinType = joinType)
      // both sides carry `user_id`; positional rename disambiguates
      .toDF("p_user", "p_ts", "c_user", "c_ts")
  }

  /** st08: stream-stream interval-join replay (§2.3 J6's streaming form,
    * previously spec-only) — purchases and clicks staged as two ordered
    * feeds and drained through the real [[StreamingPipeline.intervalJoin]]
    * (click within [[JoinWindow]] before the purchase, per user) in
    * interleaved micro-batches, so each side's join state genuinely
    * carries across epochs: a click from batch 1 matches a purchase
    * arriving in batch 3. The watermark delay spans the staged corpus, so
    * no state is evicted and the streamed inner join is EXACT — it must
    * equal the batch theta-join; at production scale the same delay knob
    * bounds join state to the late-arrival horizon (the honest streaming
    * tradeoff, as in st06).
    *
    * Scale: join state is per-key and time-bounded; matched pairs roll up
    * to per-hour counts — raw pair rows never leave the replay. */
  def st08JoinReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st08") { r =>
      r.drainToParquet(clickJoin(r, s, d, nFiles = 2, lateness = "40 days"))
        .groupBy(date_trunc("hour", col("p_ts")).as("hour_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("p_user")).as("n_users"))
        .orderBy(col("hour_bucket"))
    }

  /** st09: metrics-listener replay (K4, previously spec-only) — a bounded
    * feed drained through a [[graft.state.StreamMetricsListener]]-metered
    * query; the listener journals lifecycle + per-batch progress into the
    * [[graft.state.StateLog]] (the reference's SNS/CloudWatch surface,
    * SDP.py:282, :511-576), and the row is the JOURNAL's rollup: the
    * per-batch `rows=` counts must sum to exactly the corpus size
    * (progress metering neither drops nor double-counts a batch) and the
    * stream must journal exactly one clean termination. The monitoring
    * path itself — listener bus → async append → parquet journal — is
    * what's under test, end to end.
    *
    * Scale: the journal receives one small row per micro-batch, not per
    * record; the rollup reads only the journal. */
  def st09MetricsReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st09") { r =>
      import graft.model.PipelineStatus
      import graft.state.{StateLog, StreamMetricsListener}
      val ev = Tables.events(s, d)
        .filter(col("ts") < lit(DlqFeedEnd).cast("timestamp"))
        .select(col("event_id"), col("ts"))
      val source = r.orderedFeed(ev, nFiles = 3, perTrigger = 1)
      val stateLog = new StateLog(r.s, s"${r.tmp}/state")
      val listener = new StreamMetricsListener(stateLog)
      r.s.streams.addListener(listener)
      val qname = r.queryName()
      try {
        r.drain(source.writeStream.format("noop").queryName(qname))
        // the TERMINATED event is delivered async on the listener bus —
        // block on the listener's own termination latch (counted down
        // AFTER the journal append runs, on the FIFO append thread, so
        // every batch-progress row is journaled too) and fail loudly on
        // timeout rather than rolling up a journal missing the stream row
        require(listener.awaitTerminated(qname, 30000),
          s"st09: stream $qname did not journal a termination row within 30 s")
        val j = stateLog.journal().filter(col("pipeline_id") === qname)
          .select(col("stage"), col("status"), {
            // lifecycle rows carry no rows= field; regexp_extract yields
            // "" there and an ANSI cast would throw — null them instead
            val m = regexp_extract(col("detail"), "rows=(\\d+)", 1)
            when(m =!= "", m.cast("long")).as("rows")
          })
        j.groupBy(col("stage"))
          .agg(
            sum(col("rows")).as("r"),
            sum(when(col("status") === PipelineStatus.Succeeded, 1L)
              .otherwise(0L)).as("s"))
          .select(col("stage"),
            when(col("stage") === "stream_batch", col("r"))
              .otherwise(col("s")).as("total"))
          .orderBy(col("stage"))
      } finally {
        r.s.streams.removeListener(listener)
      }
    }

  /** st10: stream-static enrichment replay — the core Structured
    * Streaming join shape st01-st09 leave uncovered: a STATELESS
    * stream-STATIC broadcast join (P3's enrichment running inside the
    * streaming query itself, the lookup-table pattern of every real
    * ingest). The dimension derives deterministically from the corpus
    * (distinct event_type → category + weight), the staged feed drains
    * through the real file source in 4 micro-batches, every event
    * enriches map-side against the broadcast dim and lands in the
    * parquet sink, and the rollup over the landed table must equal the
    * batch join the oracle states. The weighted sum rides micro-scaled
    * integers (the p16/p20 order-free idiom) so summation order cannot
    * flip the rounded value in either engine.
    *
    * Scale: stream-static joins keep NO state store — the dim ships
    * with the plan per micro-batch (which is also how dim refreshes
    * propagate on a real cluster) and the stream side never shuffles
    * before the sink. */
  def st10EnrichReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st10") { r =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      val source = r.orderedFeed(ev, nFiles = 4, perTrigger = 1)
      val dim = Tables.events(r.s, d).select(col("event_type")).distinct()
        .select(col("event_type"),
          upper(substring(col("event_type"), 1, 1)).as("category"),
          length(col("event_type")).cast("long").as("w"))
      r.drainToParquet(source.join(broadcast(dim), "event_type")
          .select(col("category"),
            round(col("value") * col("w") * 1000000).cast("long").as("scaled")))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("scaled")) * lit(1.0) / lit(1000000.0), 6)
            .as("weighted_value"))
        .orderBy(col("category"))
    }

  /** st11 horizon constants. The OUTER join's null emission is watermark-
    * driven, so unlike st08 the watermark must ADVANCE through the feed:
    * lateness (3 d) is chosen ≥ join window (1 d) + max inter-source skew
    * (feed span 7 d / 4 files ≈ 1.75 d/batch) so no match is ever lost to
    * state eviction, while still leaving the final watermark ≈ feedMax−3 d
    * deep enough inside the feed that unmatched purchases BEFORE
    * [[OuterNullCut]] are guaranteed past their emission horizon. The row
    * keeps null rows only below the cut: between the cut and the exact
    * emission boundary (a function of feedMax the oracle would otherwise
    * have to reproduce to the millisecond) emission is engine-internal,
    * so both engines discard that band and the kept set is exact. */
  val OuterLateness = "3 days"
  val OuterNullCut  = "2024-01-03"

  /** st11: stream-stream LEFT-OUTER interval-join replay — the
    * enrich-with-missing semantics st08's inner form cannot express:
    * purchases with no click in the trailing [[JoinWindow]] emit once
    * with null click columns when the watermark passes their horizon
    * (organic-conversion accounting, the first shape real attribution
    * pipelines hit). Same staged-feed machinery as st08 with 4
    * interleaved micro-batches per side; the oracle restates the batch
    * LEFT JOIN with the same null-cut band.
    *
    * Scale: identical state story to st08 — per-key, time-bounded by
    * (window + lateness); null emission costs nothing extra (eviction
    * already walks the expiring state). */
  def st11OuterJoinReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st11") { r =>
      // 4 files/side: max inter-source skew = feed span 7 d / 4 ≈ 1.75 d,
      // and lateness (3 d) ≥ window (1 d) + skew still holds with margin —
      // 8 micro-batches instead of 16 halves the replay's epoch overhead
      r.drainToParquet(
          clickJoin(r, s, d, nFiles = 4, lateness = OuterLateness, joinType = "left_outer")
            // matched rows always kept; null rows only below the cut (see
            // OuterNullCut — the emission-boundary band is discarded in both
            // engines so the kept set is an exact pure function of the feed)
            .filter(col("c_user").isNotNull ||
              col("p_ts") < lit(OuterNullCut).cast("timestamp")))
        .groupBy(date_trunc("hour", col("p_ts")).as("hour_bucket"))
        .agg(count(col("c_ts")).as("n_pairs"),
          (count(lit(1)) - count(col("c_ts"))).as("n_null"),
          countDistinct(col("p_user")).as("n_users"))
        .orderBy(col("hour_bucket"))
    }

  /** st12: incremental-summary replay — p27's partial-aggregate merge
    * driven through the REAL streaming machinery: the events feed drains
    * in FOUR micro-batches (4 staged files × `maxFilesPerTrigger = 1`),
    * and `foreachBatch` maintains a VERSIONED summary table — per epoch
    * it summarizes just the batch, merges with the previous version
    * (counts/sums by +, min/max by min/max), and writes the next version
    * under a batchId-keyed dir (idempotent on retry: a replayed epoch
    * overwrites its own version, never compounds). This is the streaming
    * materialized-view maintenance loop every ingest pipeline runs —
    * per-epoch cost is O(|summary| + |batch|), never O(history) — with
    * the chain genuinely four merges deep, state carried in the TABLE
    * rather than the state store.
    *
    * The final version must equal the one-pass rebuild over the whole
    * corpus (the p27 contract, now across real epochs). Sums ride
    * micro-scaled integers so the four-way reassociation is exact. */
  def st12SummaryReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st12") { r =>
      import graft.queries.PipelineQueries
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("value"))
      // the p27 summary/merge shapes, single-sourced (the two rows assert
      // the same maintenance contract)
      r.drainVersioned(r.orderedFeed(ev, nFiles = 4, perTrigger = 1), "summary")(
          batch => PipelineQueries.summarizeCents(
            batch.select(col("event_type"), to_date(col("ts")).as("day"),
              round(col("value") * 100).cast("long").as("cents"))),
          PipelineQueries.mergeSummaries)
        .orderBy(col("event_type"), col("day"))
    }

  /** st13: streaming AS-OF replay — a01's backward as-of with a04's
    * tolerance horizon (latest click at or before each purchase, within
    * [[JoinWindow]]) composed from streaming primitives. Append-mode
    * streaming cannot rank (no window/argmax over an unbounded stream),
    * so the composition a real pipeline runs is: (1) the CANDIDATE set
    * streams through the real [[StreamingPipeline.intervalJoin]] across
    * interleaved epochs (st08's machinery — state carries across
    * batches, a click from epoch 1 matches a purchase from epoch 3), and
    * (2) the per-purchase argmax(c_ts) runs as the downstream batch
    * compaction over the landed candidate table — one keyed max, the
    * same shape as the lakehouse "compact the sink" job. The composition
    * must equal the batch as-of operator; gaps ride exact micro
    * integers so the rollup is engine-stable. */
  def st13AsofReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st13") { r =>
      r.drainToParquet(clickJoin(r, s, d, nFiles = 2, lateness = "40 days"))
        // the as-of reduction: latest candidate click per purchase
        .groupBy(col("p_user"), col("p_ts"))
        .agg(max(col("c_ts")).as("c_ts"))
        .groupBy(date_trunc("hour", col("p_ts")).as("hour_bucket"))
        .agg(count(lit(1)).as("n_matched"),
          sum(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"),
          countDistinct(col("p_user")).as("n_users"))
        .orderBy(col("hour_bucket"))
    }

  /** st14: streaming data-quality gate replay — the g18 expectation
    * counters ([[graft.quality.Expectations]]) maintained INCREMENTALLY
    * across real micro-batches: the events feed drains in four epochs,
    * `foreachBatch` computes the batch's one-row counter frame and
    * merges it with the previous batchId-keyed version (st12's
    * idempotent versioned-table loop — a retried epoch overwrites its
    * own version, never double-counts), and the final version renders
    * as the per-expectation report. Only MERGEABLE checks ride this
    * path (plain-addition counters; `Unique` needs st06's dedup-state
    * machinery instead — enforced with a loud require). The report
    * must equal the one-pass batch suite over the whole corpus: the
    * quality gate a production ingest runs ON the stream, not after
    * it. Per-epoch cost is O(|batch|) + a 1-row merge. */
  def st14QualityReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st14") { r =>
      import graft.quality.Expectations
      val checks = Expectations.st14Suite
      require(checks.forall(_.mergeable),
        "st14 maintains counters by addition - every check must be mergeable")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"), col("props"))
      Expectations.report(
        r.drainVersioned(r.orderedFeed(ev, nFiles = 4, perTrigger = 1), "counters")(
          Expectations.counters(_, checks), Expectations.mergeCounters),
        checks)
    }

  /** Feed bound + byte budget for st15. One corpus day keeps the file
    * count a write-cost, not a write-catastrophe, at every SF; 1 KiB is
    * the 5 MB production default scaled to the test corpus's KB-sized
    * hour partitions (the ROLL ARITHMETIC is what the row verifies —
    * the budget constant is a config knob, SDP.py:201's `SizeInMBs`). */
  val SizeFlushFeedEnd = "2024-01-02"
  val SizeFlushBudget  = 1024L

  /** st15: the Firehose SIZE-flush half as a hard row (K1,
    * SDP.py:199-202 "60 s OR 5 MB"). The first-day events slice drains
    * through the REAL [[StreamingPipeline.sizeBudgetSink]] (checkpointed
    * foreachBatch, staged write, promote) in one AvailableNow epoch; the
    * landed lake is rolled up per hour as (n_rows, n_files), n_files
    * counted from the physical parquet files each hour directory holds.
    * The oracle recomputes the same wire-size running sum in SQL: the
    * per-hour file count is the number of distinct
    * floor(exclusive-prefix-bytes / budget) values — a pure function of
    * the feed — so the row pins BOTH the row accounting (the roll
    * machinery lost/duplicated nothing) and the file-cut arithmetic. */
  def st15SizeFlushReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st15", narrow = false) { r =>
      val ev = Tables.events(r.s, d)
        .filter(col("ts") < lit(SizeFlushFeedEnd).cast("timestamp"))
      // one staged file → exactly one AvailableNow epoch at ANY SF: rolls
      // are per-delivery-epoch (Firehose buffer semantics), so the oracle's
      // whole-feed roll arithmetic requires the drain not to split
      r.stage(ev.coalesce(1))
      val layout = PipelineLayout(s"${r.tmp}/lake")
      StreamingPipeline.sizeBudgetSink(acceptAll(r.source(ev.schema, perTrigger = 1000)), layout,
        sizeOf = Sinks.eventWireSize, orderCols = Seq("ts", "event_id"),
        byteBudget = SizeFlushBudget, availableNow = true).start().awaitTermination()
      s.read.parquet(layout.processed)
        // project the file name BEFORE the aggregate (non-deterministic
        // expressions can't sit inside an aggregate function's arguments)
        .withColumn("_file", input_file_name())
        .groupBy(col("year"), col("month"), col("day"), col("hour"))
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("_file")).as("n_files"))
        .orderBy(col("year"), col("month"), col("day"), col("hour"))
    }

  /** st16 shard count: the stream maintains one bounded reservoir per
    * shard; 8 matches the replay's stateful shuffle width. */
  val ReservoirShards = 8

  /** st16: streaming weighted reservoir — p33's A-ES sample maintained
    * INCREMENTALLY in stream state, the "sample from the firehose
    * without storing it" operator. Documents drain in micro-batches;
    * each [[ReservoirShards]] shard keeps its own top-k reservoir in
    * `flatMapGroupsWithState` (state bounded at k rows per shard —
    * O(shards·k) total regardless of stream length), and the drained
    * union merges with one batch top-k. Exactness is A-ES's mergeability
    * theorem made a hard row: a global-top-k row is in its shard's
    * top-k, so it is admitted on arrival and can never be evicted
    * (eviction needs k better same-shard rows, which would contradict
    * shard-top-k membership) — therefore stream-maintained ≡ batch p33,
    * and the oracle IS p33's SQL, verbatim and single-sourced. Emitted
    * rows are admission snapshots (a later-evicted candidate may linger
    * in the sink), so the final merge distincts then ranks.
    *
    * Scale: per-batch state work is O(batch + k log k) per shard; the
    * final merge ranks shards·k candidates — constants, not corpus. */
  def st16ReservoirReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st16") { r =>
      import r.s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      import graft.queries.PipelineQueries
      val docs = Tables.documents(r.s, d)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      r.stage(docs.repartitionByRange(4, col("doc_id")))
      val keyed = r.source(docs.schema, perTrigger = 1)
        .withColumn("u48",
          conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
            .cast("long"))
        .withColumn("lnkey", expr(PipelineQueries.ResKeySql))
        .withColumn("shard",
          pmod(col("doc_id"), lit(ReservoirShards.toLong)).cast("int"))
        .select(col("shard"), col("doc_id"), col("n_chars"), col("lnkey"))
        .as[(Int, Long, Long, Double)]
      val res = keyed.groupByKey(_._1)
        .flatMapGroupsWithState[List[(Double, Long, Long)], (Int, Double, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
          case (shard, rows, state) =>
            val cur = state.getOption.getOrElse(Nil)
            val merged = (cur ++ rows.map(x => (x._4, x._2, x._3)))
              .sortBy { case (k, id, _) => (-k, id) }
              .take(PipelineQueries.ReservoirK)
            state.update(merged)
            // emit only rows ADMITTED this batch (ADVICE r9): a
            // global-top-k row is admitted on arrival and never
            // evicted, so admissions alone carry the final sample —
            // sink growth is O(admissions), not O(batches·shards·k)
            val prev = cur.toSet
            merged.iterator.filter(x => !prev.contains(x))
              .map { case (k, id, w) => (shard, k, id, w) }
        }
        .toDF("shard", "lnkey", "doc_id", "n_chars")
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("lnkey").desc, col("doc_id"))
      r.drainToMemory(res)
        .select(col("doc_id"), col("n_chars"), col("lnkey"))
        .distinct()
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= PipelineQueries.ReservoirK)
        .select(col("rank"), col("doc_id"), col("n_chars"),
          expr("CAST(round(lnkey * 1000000000) AS BIGINT)").as("key_nanos"))
        .orderBy(col("rank"))
    }

  /** st17 retention horizon — the reference's 1-day realtime state
    * bound (vs the 7-day pipeline bound; same mechanism, tighter knob
    * so the replay actually evicts). */
  val TtlRetentionMs: Long = 24L * 3600 * 1000

  /** st17: stateful TTL/eviction — the retention bound as STATE
    * EVICTION, which st02's forever-keys tracker never exercises. The
    * feed drains through [[StreamingPipeline.ttlSessionTrack]]
    * (transformWithState, EVENT-TIME timers re-armed at last_ts +
    * retention; gap-reset session semantics enforced in-line on the
    * ordered feed); the result is the SURVIVING STATE read from the
    * checkpoint's state store after the drain — not sink emissions —
    * so eviction is observable: a key the watermark should have
    * expired would surface as an extra row and fail the oracle.
    *
    * Oracle (exact): per key, the FINAL session's (count, last event)
    * under the gap-reset rule, restricted to keys whose last event is
    * within the horizon of the stream's end — plain SQL over the same
    * events. StreamingSpec additionally pins the bounded-state
    * property (state rows ≤ keys live within the horizon) and that at
    * least one key was actually evicted at this SF.
    *
    * Scale: state is O(keys live within the horizon) — the property
    * this row exists to prove, and StreamingSpec's multi-horizon drain
    * pins it at EVERY checkpoint of a staged replay, not just the
    * final one; per-batch work is O(batch); the RocksDB provider keeps
    * the store off-heap, the production posture for billion-key state.
    *
    * RocksDB compaction note: `state.clear()` writes a DELETE to the
    * store, which RocksDB records as a tombstone — the ROW-COUNT bound
    * (what the statestore source reads and the spec asserts) holds at
    * every checkpoint, while on-disk bytes shrink lazily as background
    * compaction drops tombstoned entries; with changelog checkpointing
    * the delete also rides the per-batch changelog, so a restored store
    * replays the eviction rather than resurrecting the key. Sizing a
    * production store, budget for live keys + not-yet-compacted
    * tombstones, not live keys alone. */
  def st17TtlReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st17", rocksDb = true) { r =>
      import r.s.implicits._
      val ev = Tables.events(r.s, d).select(col("user_id"), col("ts"))
      val typed = r.orderedFeed(ev, nFiles = 6, perTrigger = 2)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
      r.drainToState(StreamingPipeline.ttlSessionTrack(typed, TtlRetentionMs), "retained")
        .select(col("key.value").as("user_id"),
          col("value.n").as("n_events"),
          col("value.lastTs").as("last_ts"))
        .orderBy(col("user_id"))
    }

  /** st18: in-stream near-dup ADMISSION replay — d12's ingest gate run
    * where it lives in production: inside the stream. The history side
    * (even ids) is a maintained LSH index (shingle sets + banded-MinHash
    * buckets, persisted ONCE — d12's "maintained bucketed table"
    * scaladoc made literal); the batch side (odd ids) drains through the
    * real JSON file source in 4 micro-batches, and every micro-batch
    * runs the SAME gate code path ([[graft.dedup.Dedup.minhashBuckets]] +
    * [[graft.dedup.Dedup.nearDupGate]] — byte-identical bucketing)
    * against the static index inside `foreachBatch`, appending its
    * flags to the sink. A doc's decision depends only on (doc, history),
    * so micro-batch boundaries cannot change any decision and the landed
    * union must equal d12's single-shot output EXACTLY — the oracle IS
    * d12's oracle, verbatim (st02's state≡batch discipline applied to an
    * approximate-similarity operator).
    *
    * Scale: the history index loads once and is reused per batch (on a
    * real cluster: a bucketed table refreshed out-of-band); per batch
    * the stream computes signatures for ITS rows only, and candidates
    * come from (band, bh) collisions only. State store: none — the
    * admission state lives in the index, not the stream. */
  def st18NearDupReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st18") { r =>
      import graft.dedup.Dedup
      def shingled(df: DataFrame): DataFrame = df
        .select(col("doc_id"),
          graft.functions.ShingleFunctions.shingles3(col("text")).as("sh"))
      val hist = r.pin(shingled(Tables.documents(r.s, d)
        .filter(col("doc_id") % 2 === 0)))
      val histBk = r.pin(Dedup.minhashBuckets(hist))
      hist.count(); histBk.count()
      val feed = Tables.documents(r.s, d).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"),
          timestamp_seconds(col("doc_id")).as("ts"))
      val source = r.orderedFeed(feed, nFiles = 4, perTrigger = 1)
      val out = s"${r.tmp}/out"
      // pre-create the sink with the gate's schema so an all-clean batch
      // series still leaves a readable (empty) table
      Dedup.nearDupGate(hist.limit(0), histBk.limit(0), hist, histBk)
        .write.mode("overwrite").parquet(out)
      r.drain(source.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val bSh = shingled(batch)
        Dedup.nearDupGate(bSh, Dedup.minhashBuckets(bSh), hist, histBk)
          .write.mode("append").parquet(out)
        ()
      })
      s.read.parquet(out).orderBy(col("doc_id"))
    }

  /** st19: running-DISTINCT replay — q47's per-user distinct-coverage
    * rollup maintained in stream state
    * ([[StreamingPipeline.trackDistinct]]): the feed drains through the
    * real JSON file source in 4 range-ordered micro-batches, each batch
    * folds into the per-key seen-set state sorted by (tus, event_id),
    * and the final state per user must equal the batch two-window
    * rollup EXACTLY — the oracle IS q47's oracle verbatim (st02's
    * state ≡ batch discipline). The final row per user is the one with
    * the largest running n (monotone across batches).
    *
    * Scale: state per key is the distinct-type SET (bounded by the
    * type domain, not the stream — see [[StreamingPipeline.DistinctState]]);
    * the memory sink sees one row per (key, batch), never per event. */
  def st19DistinctReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st19") { r =>
      import r.s.implicits._
      val ev = Tables.events(r.s, d)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      val typed = r.orderedFeed(ev, nFiles = 4, perTrigger = 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("tus"))
        .as[(Long, String, Long, Long)]
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_1")).orderBy(col("_2").desc)
      r.drainToMemory(StreamingPipeline.trackDistinct(typed))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("_1").as("user_id"), col("_2").as("n_events"),
          col("_3").as("n_types"), col("_4").as("cover_rn"),
          col("_5").as("cover_tus"), col("_3").as("max_d_sofar"))
        .orderBy(col("user_id"))
    }

  /** st20's skew construction: 3 of 4 USERS collapse onto one hot key,
    * the rest spread by user id — the Zipf head a real event stream's
    * per-key aggregation sees (one tenant/page dominating the traffic).
    * Keyed off user_id, NOT event_id: event ids are row-ordered, and an
    * id-parity hot key correlates with SaltedAggregate's row-index salt
    * (id%4≠0 rows can never land on salts ≡ 0,4 mod 8 — measured), which
    * would understate the spread the spec asserts. */
  val SaltHotMod = 4L
  val SaltColdKeys = 64L
  /** Salt fan-out: the hot key's rows split across 8 phase-1 reducers. */
  val SaltBuckets = 8

  /** The skewed key + exact-cents projection shared by the stream, the
    * batch oracle restatement, and the spec's spread probe. */
  private[graft] def saltKeyed(df: DataFrame): DataFrame =
    df.select(
      when(col("user_id") % SaltHotMod =!= 0, lit(0L))
        .otherwise(pmod(col("user_id"), lit(SaltColdKeys)) + 1L).as("zkey"),
      col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))

  /** st20/st21's feed: the events staged as 4 ordered files, drained one
    * file per micro-batch, with [[saltKeyed]]'s skewed key. */
  private def saltedFeed(r: Replay, d: String): DataFrame = saltKeyed(r.orderedFeed(
    Tables.events(r.s, d).select(col("event_id"), col("user_id"), col("value"), col("ts")),
    nFiles = 4, perTrigger = 1))

  /** st20: SKEWED stateful aggregation through two-phase salting inside
    * foreachBatch — the streaming-side answer to q45's batch skew join.
    * AQE (and so its skew mitigation) is DISABLED in stateful streaming,
    * which is exactly where a Zipf-keyed running aggregate melts one
    * reducer at 100 TB/day: every micro-batch funnels the hot key's rows
    * to a single task. Here each micro-batch aggregates through
    * [[graft.transform.SaltedAggregate]] — phase 1 groups on (key, salt)
    * so the hot key fans across [[SaltBuckets]] tasks, phase 2 merges
    * per key — and appends the per-batch partials to the state store
    * (a parquet journal, the K5 idiom); the final state is the partials'
    * algebraic merge. Batch boundaries, salt boundaries, and the final
    * merge all commute because every aggregate is algebraic
    * (count/sum/min/max), so the stream must land EXACTLY the batch
    * rollup the oracle computes — which is what makes the salting safe
    * to deploy, not just fast. Per-task spread under the salt is
    * asserted in RoundTwelveOpsSpec (no SQL form). */
  def st20SaltedReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st20") { r =>
      val partials = s"${r.tmp}/partials"
      r.drain(saltedFeed(r, d).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.transform.SaltedAggregate(batch, "zkey", SaltBuckets,
            partials = Seq(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
              min(col("event_id")).as("mn"), max(col("event_id")).as("mx")),
            merges = Seq(sum(col("n")).as("n"), sum(col("sc")).as("sc"),
              min(col("mn")).as("mn"), max(col("mx")).as("mx")))
            .write.mode("append").parquet(partials)
        })
      r.s.read.parquet(partials)
        .groupBy(col("zkey"))
        .agg(sum(col("n")).as("n_events"), sum(col("sc")).as("sum_cents"),
          min(col("mn")).as("min_event_id"), max(col("mx")).as("max_event_id"))
        .orderBy(col("zkey"))
    }

  /** st21: st20's stateful-API twin — the salt lives IN the state store
    * (VERDICT r12 item 6). st20 salts inside foreachBatch and journals
    * partials to parquet; the form a long-running 100 TB/day pipeline
    * deploys keeps the salted partials in the checkpoint's RocksDB state
    * store itself: keys are (zkey, salt) composites
    * ([[StreamingPipeline.SaltedPartialProcessor]]), so the hot key's
    * running aggregate updates through [[SaltBuckets]] parallel state
    * slots every micro-batch, and the merged answer is read from the
    * SURVIVING STATE after the drain (st17's statestore-source
    * discipline) and folded per zkey in batch.
    *
    * The salt is CONTENT-ADDRESSED — `xxhash64(event_id) mod buckets` —
    * not row-position (st20's phase-1 can use a positional salt because
    * its partials are per-batch-transient; state-store slots survive
    * retries, so a replayed micro-batch must land each row in the SAME
    * slot for exactly-once semantics). Algebraic partials make salt,
    * batch, and merge boundaries commute, so the stream must land
    * EXACTLY the batch rollup — st20's oracle, reused verbatim. Spread
    * across slots is asserted in RoundThirteenOpsSpec (no SQL form). */
  def st21SaltedStateReplay(s: SparkSession, d: String): DataFrame =
    replay(s, "st21", rocksDb = true) { r =>
      import r.s.implicits._
      val typed = saltedFeed(r, d)
        .select(col("zkey"),
          pmod(xxhash64(col("event_id")), lit(SaltBuckets.toLong)).as("salt"),
          col("event_id"), col("cents"))
        .as[(Long, Long, Long, Long)]
      r.drainToState(StreamingPipeline.saltedStateTrack(typed), "partial")
        .select(col("key._1").as("zkey"),
          col("value.n").as("n"), col("value.sc").as("sc"),
          col("value.mn").as("mn"), col("value.mx").as("mx"))
        .groupBy(col("zkey"))
        .agg(sum(col("n")).as("n_events"), sum(col("sc")).as("sum_cents"),
          min(col("mn")).as("min_event_id"), max(col("mx")).as("max_event_id"))
        .orderBy(col("zkey"))
    }

  val queries: Map[String, Q] = Map(
    "st21_salted_state_replay" -> st21SaltedStateReplay _,
    "st20_salted_replay" -> st20SaltedReplay _,
    "st19_distinct_replay" -> st19DistinctReplay _,
    "st17_ttl_replay" -> st17TtlReplay _,
    "st18_neardup_replay" -> st18NearDupReplay _,
    "st16_reservoir_replay" -> st16ReservoirReplay _,
    "st01_stream_replay"   -> st01StreamReplay _,
    "st15_sizeflush_replay" -> st15SizeFlushReplay _,
    "st02_state_replay"    -> st02StateReplay _,
    "st03_windowed_replay" -> st03WindowedReplay _,
    "st04_fanout_replay"   -> st04FanoutReplay _,
    "st05_dlq_replay"      -> st05DlqReplay _,
    "st06_dedup_replay"    -> st06DedupReplay _,
    "st07_session_replay"  -> st07SessionReplay _,
    "st08_join_replay"     -> st08JoinReplay _,
    "st09_metrics_replay"  -> st09MetricsReplay _,
    "st10_enrich_replay"   -> st10EnrichReplay _,
    "st11_outer_join_replay" -> st11OuterJoinReplay _,
    "st12_summary_replay"  -> st12SummaryReplay _,
    "st13_asof_replay"     -> st13AsofReplay _,
    "st14_quality_replay"  -> st14QualityReplay _,
  )

  /** The plain batch rollup both salted replays (st20 journal-side,
    * st21 state-store-side) must land exactly — one definition so the
    * twins' contracts cannot drift. */
  private val SaltedRollupOracleSql = s"""
      SELECT CASE WHEN user_id % $SaltHotMod <> 0 THEN 0
                  ELSE user_id % $SaltColdKeys + 1 END AS zkey,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             min(event_id) AS min_event_id,
             max(event_id) AS max_event_id
      FROM events
      GROUP BY 1 ORDER BY 1"""

  val oracleSql: Map[String, String] = Map(
    // st17: gap-reset final session per key, retained iff the key's
    // last event is within the retention horizon of the stream's end —
    // the batch restatement of event-time-timer eviction. Interval
    // arithmetic keeps full microsecond precision on both sides (the
    // processor compares gaps in microseconds for exactly this reason).
    // st18: the stream must land EXACTLY d12's single-shot gate output
    // (micro-batch boundaries cannot change any (doc, history) decision)
    // — the oracle is d12's, reused verbatim
    "st18_neardup_replay" ->
      graft.dedup.Dedup.oracleSql("d12_incremental_neardup"),
    // st19: the final stream state must equal q47's batch two-window
    // rollup exactly — the oracle is q47's, reused verbatim
    "st19_distinct_replay" ->
      graft.queries.RelationalQueries.oracleSql("q47_window_distinct"),
    // st20: salted two-phase streaming aggregation must land EXACTLY the
    // plain batch rollup — salt, micro-batch, and merge all commute for
    // algebraic aggregates, and this hash-check is what proves it
    "st20_salted_replay" -> SaltedRollupOracleSql,
    // st21: identical contract through the state-store salt — the same
    // batch rollup, verbatim (salt/batch/merge commute for algebraic
    // aggregates wherever the partials live)
    "st21_salted_state_replay" -> SaltedRollupOracleSql,
    "st17_ttl_replay" -> """
      WITH brk AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 1 DAY
                    THEN 1 ELSE 0 END AS b
        FROM events),
      sess AS (
        SELECT user_id, ts,
               sum(b) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        FROM brk),
      lastg AS (SELECT user_id, max(g) AS mg FROM sess GROUP BY user_id),
      fin AS (
        SELECT s.user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(s.ts) AS TIMESTAMP) AS last_ts
        FROM sess s JOIN lastg l ON s.user_id = l.user_id AND s.g = l.mg
        GROUP BY s.user_id)
      SELECT user_id, n_events, last_ts
      FROM fin
      WHERE last_ts >= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
      ORDER BY user_id""",
    // st16: the stream-maintained reservoir must equal the BATCH A-ES
    // sample — the oracle is p33's SQL verbatim (single-sourced), the
    // strongest stream≡batch contract form (st02/st13 precedent)
    "st16_reservoir_replay" ->
      graft.queries.PipelineQueries.oracleSql("p33_weighted_reservoir"),
    // st12: the four-epoch incremental merge must equal the one-pass
    // rebuild over the corpus — p27's contract across real micro-batches,
    // single-sourced from PipelineQueries so the two rows can never
    // silently assert different contracts
    "st12_summary_replay" ->
      graft.queries.PipelineQueries.MergeSummariesOracleSql,
    // st14: the four-epoch incremental counter merge must equal the
    // one-pass batch suite over the corpus (g18's oracle shape with
    // st14Suite's literal ids and predicates)
    "st14_quality_replay" -> """
      WITH agg AS (
        SELECT count(*) AS n_rows,
          count(*) FILTER (WHERE user_id IS NULL) AS v0,
          count(*) FILTER (WHERE value < 0.0 OR value > 300.0) AS v1,
          count(*) FILTER (WHERE event_type IS NOT NULL
            AND event_type NOT IN ('click','view','purchase','signup')) AS v2,
          count(*) FILTER (WHERE props IS NOT NULL
            AND NOT regexp_matches(props, '^\{')) AS v3
        FROM events)
      SELECT expectation, violations, n_rows, violations = 0 AS passed
      FROM (
        SELECT 'not_null(user_id)' AS expectation, CAST(v0 AS BIGINT) AS violations, n_rows FROM agg
        UNION ALL SELECT 'in_range(value,0.0,300.0)', CAST(v1 AS BIGINT), n_rows FROM agg
        UNION ALL SELECT 'one_of(event_type)', CAST(v2 AS BIGINT), n_rows FROM agg
        UNION ALL SELECT 'matches(props)', CAST(v3 AS BIGINT), n_rows FROM agg)
      ORDER BY expectation""",
    // st10: the streamed stream-static enrichment restated as the batch
    // join — same dim derivation, same micro-scaled integer sum
    "st10_enrich_replay" -> """
      WITH dim AS (
        SELECT event_type, upper(substr(event_type, 1, 1)) AS category,
               CAST(len(event_type) AS BIGINT) AS w
        FROM (SELECT DISTINCT event_type FROM events)),
      j AS (
        SELECT d.category,
               CAST(round(e.value * d.w * 1000000) AS BIGINT) AS scaled
        FROM events e JOIN dim d USING (event_type))
      SELECT category, count(*) AS n_events,
             round(sum(scaled) * 1.0 / 1000000.0, 6) AS weighted_value
      FROM j GROUP BY category ORDER BY category""",
    // The journal's per-batch rows= counts must sum to the corpus size;
    // exactly one clean stream termination is journaled.
    "st09_metrics_replay" -> s"""
      SELECT * FROM (
        SELECT 'stream' AS stage, CAST(1 AS BIGINT) AS total
        UNION ALL
        SELECT 'stream_batch', count(*) FROM events
        WHERE ts < TIMESTAMP '$DlqFeedEnd')
      ORDER BY stage""",
    // st11: the streamed LEFT-OUTER interval join restated as the batch
    // LEFT JOIN — matched pairs are exact (lateness covers window +
    // inter-source skew, so no state eviction can lose a match); null
    // rows are kept only below OuterNullCut, the band both engines
    // discard so the watermark emission boundary never has to be
    // reproduced to the millisecond.
    "st11_outer_join_replay" -> s"""
      WITH p AS (
        SELECT user_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '$JoinFeedEnd'),
      c AS (
        SELECT user_id, ts AS c_ts FROM events
        WHERE event_type = 'click' AND ts < TIMESTAMP '$JoinFeedEnd'),
      j AS (
        SELECT p.user_id AS p_user, p.p_ts, c.c_ts
        FROM p LEFT JOIN c ON p.user_id = c.user_id
                          AND c.c_ts >= p.p_ts - INTERVAL 1 DAY
                          AND c.c_ts <= p.p_ts),
      k AS (
        SELECT * FROM j
        WHERE c_ts IS NOT NULL OR p_ts < TIMESTAMP '$OuterNullCut')
      SELECT CAST(date_trunc('hour', p_ts) AS TIMESTAMP) AS hour_bucket,
             count(c_ts) AS n_pairs,
             count(*) - count(c_ts) AS n_null,
             count(DISTINCT p_user) AS n_users
      FROM k GROUP BY 1 ORDER BY hour_bucket""",
    // st13: the streamed candidates + batch argmax compaction must equal
    // the batch as-of (latest click within the window per purchase);
    // gap sums are exact microsecond integers
    "st13_asof_replay" -> s"""
      WITH p AS (
        SELECT user_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '$JoinFeedEnd'),
      c AS (
        SELECT user_id, ts AS c_ts FROM events
        WHERE event_type = 'click' AND ts < TIMESTAMP '$JoinFeedEnd'),
      m AS (
        SELECT p.user_id, p.p_ts, max(c.c_ts) AS c_ts
        FROM p JOIN c ON p.user_id = c.user_id
                     AND c.c_ts >= p.p_ts - INTERVAL 1 DAY
                     AND c.c_ts <= p.p_ts
        GROUP BY p.user_id, p.p_ts)
      SELECT CAST(date_trunc('hour', p_ts) AS TIMESTAMP) AS hour_bucket,
             count(*) AS n_matched,
             CAST(sum(epoch_us(p_ts) - epoch_us(c_ts)) AS BIGINT) AS gap_us,
             count(DISTINCT user_id) AS n_users
      FROM m GROUP BY 1 ORDER BY hour_bucket""",
    // The streamed interval join (no state eviction — watermark spans the
    // feed) must equal the batch theta-join over the bounded corpus.
    "st08_join_replay" -> s"""
      WITH p AS (
        SELECT user_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '$JoinFeedEnd'),
      c AS (
        SELECT user_id, ts AS c_ts FROM events
        WHERE event_type = 'click' AND ts < TIMESTAMP '$JoinFeedEnd')
      SELECT CAST(date_trunc('hour', p_ts) AS TIMESTAMP) AS hour_bucket,
             count(*) AS n_pairs,
             count(DISTINCT p.user_id) AS n_users
      FROM p JOIN c ON p.user_id = c.user_id
                   AND c.c_ts >= p.p_ts - INTERVAL 1 DAY
                   AND c.c_ts <= p.p_ts
      GROUP BY 1 ORDER BY hour_bucket""",
    // st15: per-hour file count = distinct floor(prefix-bytes/budget)
    // values over the SAME wire-size measure the sink rolls on — the
    // size-flush contract as pure SQL over the feed. Row counts prove
    // the roll machinery also landed every row exactly once.
    "st15_sizeflush_replay" -> s"""
      WITH e AS (
        SELECT * FROM events WHERE ts < TIMESTAMP '$SizeFlushFeedEnd'),
      rolled AS (
        SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
               hour(ts) AS hour,
               CAST(floor(coalesce(sum(length(CAST(event_id AS VARCHAR))
                     + length(event_type) + length(CAST(user_id AS VARCHAR))
                     + length(coalesce(props, '')) + 64)
                 OVER (PARTITION BY year(ts), month(ts), day(ts), hour(ts)
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 / $SizeFlushBudget.0) AS BIGINT) AS roll
        FROM e)
      SELECT year, month, day, hour, count(*) AS n_rows,
             CAST(count(DISTINCT roll) AS BIGINT) AS n_files
      FROM rolled GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""",
    // Same oracle as p05: the streamed (and then compacted) partition
    // layout must agree with the batch derivation row-for-row.
    "st01_stream_replay" -> """
      SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day, hour(ts) AS hour,
             count(*) AS n_rows
      FROM events GROUP BY 1, 2, 3, 4 ORDER BY year, month, day, hour""",
    // The tracker's final state per key IS the batch aggregate (count +
    // max ts). ts is cast to microsecond TIMESTAMP to match Spark's unit.
    "st02_state_replay" -> """
      SELECT user_id, count(*) AS n_events, CAST(max(ts) AS TIMESTAMP) AS last_ts
      FROM events GROUP BY user_id ORDER BY user_id""",
    // st03's emitted result as pure SQL over the corpus: `late` is the
    // same md5 gate the replay stages into phase 2; w1 = the watermark
    // the late batch is filtered against (phase-1 max − 90 min); w2 = the
    // final watermark (global max − 90 min; the late batch advances it
    // iff the corpus max is itself a gated row). A row counts iff it was
    // in-order or beat w1; a window emits iff its end ≤ w2.
    "st03_windowed_replay" -> s"""
      WITH e AS (
        SELECT ts, event_type, value,
               ${graft.functions.HashGate.sql("event_id", GateHex)} AS late
        FROM events),
      w1 AS (SELECT max(ts) - INTERVAL 90 MINUTE AS v FROM e WHERE NOT late),
      w2 AS (SELECT max(ts) - INTERVAL 90 MINUTE AS v FROM e),
      kept AS (
        SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type, value
        FROM e
        WHERE NOT late
           OR date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT v FROM w1))
      SELECT CAST(window_start AS TIMESTAMP) AS window_start, event_type,
             count(*) AS n, round(sum(value), 6) AS sum_value
      FROM kept
      WHERE window_end <= (SELECT v FROM w2)
      GROUP BY 1, 2 ORDER BY window_start, event_type""",
    // Both fan-out legs must have seen every event exactly once (feed
    // bounded to the first week — see FanoutFeedEnd).
    "st04_fanout_replay" -> s"""
      SELECT event_type, count(*) AS n_processed, count(*) AS n_windowed
      FROM events WHERE ts < TIMESTAMP '$FanoutFeedEnd'
      GROUP BY event_type ORDER BY event_type""",
    // The recovered processed table equals the original corpus; the
    // quarantine-path rows are exactly the gated subset (feed bounded to
    // the first three days — see DlqFeedEnd).
    "st05_dlq_replay" -> s"""
      SELECT event_type, count(*) AS n_rows,
             CAST(sum(CASE WHEN ${graft.functions.HashGate.sql("event_id", GateHex)}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered
      FROM events WHERE ts < TIMESTAMP '$DlqFeedEnd'
      GROUP BY event_type ORDER BY event_type""",
    // q35's gaps-and-islands sessionization over the bounded feed, plus
    // the append-mode emission rule: a session emits iff its end
    // (last event + 30-min gap) ≤ the final watermark (feed max − 10 min).
    // Sessions still open at drain end are unemitted in both engines.
    "st07_session_replay" -> s"""
      WITH e AS (
        SELECT user_id, ts FROM events WHERE ts < TIMESTAMP '$SessionFeedEnd'),
      wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS v FROM e),
      flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
             CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
             user_id, count(*) AS n_events
      FROM sess
      GROUP BY user_id, sid
      HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT v FROM wm)
      ORDER BY user_id, session_start""",
    // exactly one survivor per (user_id, event_type) key — the dedup
    // contract, independent of WHICH duplicate row won within a batch
    "st06_dedup_replay" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_keys
      FROM events GROUP BY event_type ORDER BY event_type""",
  )
}
