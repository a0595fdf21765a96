package graft.streaming

import graft.Observed
import graft.model.PipelineLayout
import graft.sink.Sinks
import graft.transform.Transform
import graft.validate.SchemaValidator
import graft.validate.SchemaValidator.Rule
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, ExpiredTimerInfo, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.StructType

/** The streaming ingestion path (SURVEY §2.8, §3.2) on Structured
  * Streaming.
  *
  * Reference semantics mapped:
  *  - Kinesis consumer, batch 100, start LATEST (SDP.py:648-655) → file
  *    source with `maxFilesPerTrigger` + `latestFirst`; micro-batch rate is
  *    a source option, not code.
  *  - Firehose buffering 60 s OR 5 MB (SDP.py:199-202) →
  *    `Trigger.ProcessingTime` bounds delivery latency (the time half);
  *    [[sizeBudgetSink]] bounds delivered file size via the per-partition
  *    byte-budget roll (the size half) — see
  *    [[graft.sink.Sinks.writePartitionedSizeBudget]].
  *  - At-least-once + 3 receives → DLQ (SDP.py:133-136) →
  *    checkpointed `foreachBatch` that retries the batch body and
  *    quarantines the batch's failed rows after exhaustion; the Parquet
  *    sink write is idempotent per (batchId, partition) because re-runs
  *    of a failed batch overwrite the same staged output.
  *  - Stream retention bound (7 d, SDP.py:166) → watermark: late rows
  *    beyond the bound are dropped from stateful aggregations.
  *  - Fan-out to a second analytics stream (SDP.py:296) → two
  *    `writeStream` queries over one source frame.
  */
object StreamingPipeline {

  /** S1/S3 streaming source: JSON files landing in a directory (the S3
    * `incoming/` event feed). `maxFilesPerTrigger` is the reference's
    * consumer batch size (100, SDP.py:652); `latestFirst` is the
    * `start at LATEST` analog (SDP.py:654) — newest files drain first
    * when the source falls behind.
    *
    * Reads PERMISSIVE with `_corrupt_record`: a malformed line survives
    * as a row carrying its raw payload instead of silently becoming
    * all-nulls (which downstream rules might pass) or killing the batch —
    * at corpus scale a bad line is a certainty, not an edge case.
    * [[processingStream]] routes such rows invalid; the partitioned sink
    * quarantines them with the raw payload intact for replay. */
  def jsonFileSource(spark: SparkSession, dir: String, schema: StructType,
                     maxFilesPerTrigger: Int = 100,
                     latestFirst: Boolean = false,
                     options: Map[String, String] = Map.empty): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains(SchemaValidator.CorruptCol)) schema
      else schema.add(SchemaValidator.CorruptCol, "string")
    spark.readStream
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", SchemaValidator.CorruptCol)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("latestFirst", latestFirst)
      .options(options) // extra source options (e.g. timestampFormat)
      .json(dir)
  }

  /** The validated, partition-derived processing stream: parse-level
    * corrupt-record routing + rule validation + partition derivation
    * composed onto the source — all narrow, stays in one stage per
    * micro-batch. */
  def processingStream(source: DataFrame, rules: Seq[Rule], tsCol: String = "ts"): DataFrame = {
    val ruled = SchemaValidator.applyRules(source, rules)
    // parse failure short-circuits rule errors: a malformed row's nulls
    // failing every rule is noise — the actionable error is the parse
    val parseChecked =
      if (source.columns.contains(SchemaValidator.CorruptCol))
        ruled
          .withColumn(SchemaValidator.ErrorsCol,
            when(col(SchemaValidator.CorruptCol).isNotNull,
              array(lit("malformed_json")))
              .otherwise(col(SchemaValidator.ErrorsCol)))
          .withColumn(SchemaValidator.IsValidCol,
            col(SchemaValidator.CorruptCol).isNull && col(SchemaValidator.IsValidCol))
      else ruled
    Transform.derivePartitions(tsCol)(parseChecked)
  }

  /** T1/T6: checkpointed micro-batch sink with retry-then-quarantine.
    * Valid rows land in the partitioned processed table via a
    * batchId-scoped staged write — a retry after a partial write
    * OVERWRITES its own staging dir before promotion, so in-epoch
    * re-runs are idempotent. A per-batch completion marker
    * (`_batches/batch-N`) makes CHECKPOINT REPLAY idempotent too: if the
    * driver dies after promotion but before the checkpoint commit, the
    * replayed batch sees its marker and skips — part-file names are
    * regenerated per attempt, so without the marker a replay would
    * promote a second copy. (The marker is written after promotion; a
    * crash exactly between the two still duplicates — closing that needs
    * a transactional table format, which is out of scope and documented.)
    * Failing batches are retried via the shared [[graft.orchestrate.Retry]]
    * policy, then quarantined whole (poison-batch DLQ) so the stream
    * keeps moving — the reference's visibility-timeout redelivery + DLQ
    * collapsed into the epoch. */
  def partitionedSink(stream: DataFrame, layout: PipelineLayout,
                      triggerInterval: String = "60 seconds",
                      maxRetries: Int = 3,
                      availableNow: Boolean = false,
                      stagedWrite: Option[(DataFrame, String) => Unit] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", s"${layout.checkpoints}/processed")
      // AvailableNow = drain-everything-then-stop: the batch-replay mode
      // (st01) and backfill runs; ProcessingTime = the steady-state
      // Firehose-buffer cadence.
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(triggerInterval))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.hadoop.fs.Path
        val spark = batch.sparkSession
        val marker = new Path(s"${layout.processed}/_batches/batch-$batchId")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) {
          val staging = s"${layout.processed}/.staging/batch-$batchId"
          def retried[A](body: => A) =
            graft.orchestrate.Retry.withBackoff(maxRetries, 100L)()(body)
          // The batch frame is backed by the source files: every action on
          // it (staged write, quarantine, poison path) would otherwise
          // re-read AND re-parse the source. One epoch-scoped persist makes
          // the parse happen once per batch.
          batch.persist()
          try {
          val invalid = SchemaValidator.route(batch)._2.drop(SchemaValidator.IsValidCol)
          // Three independently retried phases, each idempotent on its own retry:
          //  1. stage (OVERWRITE → replaces its own partial output); the
          //     write job also counts the batch's invalid rows (observed on
          //     the batch before the route, afresh on every attempt), so
          //     phase 2 needs no probe job of its own. A write of no valid
          //     rows can come back without the count; that batch probes
          //     its invalid rows instead.
          //  2. quarantine invalid (batch-scoped overwrite, see Sinks)
          //  3. promote (resumable: moved files leave staging, so a retry
          //     only moves the remainder — never a second copy)
          // Retrying phases separately is what makes a failure AFTER a
          // successful earlier phase safe — a whole-body retry would
          // re-stage with fresh part-file names and promote duplicates.
          val result = for {
            hasInvalid <- retried {
                   val (_, nInvalid) = Observed(batch,
                       count(when(!col(SchemaValidator.IsValidCol), 1))) { observed =>
                     val cleaned = SchemaValidator.route(observed)._1.drop(SchemaValidator.IsValidCol,
                       SchemaValidator.ErrorsCol, SchemaValidator.CorruptCol)
                     stagedWrite match {
                       case Some(write) => write(cleaned, staging)
                       case None => Sinks.writePartitioned(
                         cleaned, staging, mode = org.apache.spark.sql.SaveMode.Overwrite)
                     }
                   }
                   nInvalid.fold(!invalid.isEmpty)(_.getLong(0) > 0)
                 }
            _ <- retried {
                   if (hasInvalid)
                     Sinks.quarantine(invalid, layout.errors, "stream_validation", s"batch-$batchId")
                 }
            _ <- retried(Sinks.promoteStaged(spark, staging, layout.processed))
          } yield ()
          result match {
            case Right(_) => fs.create(marker, true).close()
            case Left(_) =>
              // Poison batch: quarantine the whole batch and keep the
              // stream alive. NOTE: rows promoted by a partially-successful
              // phase 3 may ALSO be quarantined — poison replay must
              // anti-join against the processed table (at-least-once, not
              // exactly-once, on the poison path). If even the poison
              // write fails, rethrow: losing the batch silently is worse
              // than stopping the stream (checkpoint replays it).
              Sinks.quarantine(batch.drop(SchemaValidator.IsValidCol),
                layout.errors, "stream_poison", s"batch-$batchId")
              fs.create(marker, true).close()
          }
          } finally batch.unpersist()
        }
      }

  /** K1 size flush: [[partitionedSink]] with the Firehose byte half —
    * each micro-batch's staged write rolls a new file whenever the
    * running serialized size inside an hour partition crosses
    * `byteBudget` ([[Sinks.writePartitionedSizeBudget]]). Together with
    * the trigger this completes the reference's "60 s OR 5 MB, whichever
    * first" delivery contract (SDP.py:199-202): the trigger bounds
    * delivery LATENCY, the budget bounds delivered FILE SIZE. */
  def sizeBudgetSink(stream: DataFrame, layout: PipelineLayout,
                     sizeOf: org.apache.spark.sql.Column,
                     orderCols: Seq[String],
                     byteBudget: Long = 5L * 1024 * 1024,
                     triggerInterval: String = "60 seconds",
                     maxRetries: Int = 3,
                     availableNow: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] =
    partitionedSink(stream, layout, triggerInterval, maxRetries, availableNow,
      stagedWrite = Some((df, staging) =>
        Sinks.writePartitionedSizeBudget(df, staging, sizeOf, orderCols,
          byteBudget, mode = org.apache.spark.sql.SaveMode.Overwrite)))

  /** T2/T4: tumbling-window rollup with a watermark — the realtime
    * analytics leg. Late rows beyond `lateness` are dropped (retention
    * analog); state for closed windows is evicted, so state size is
    * O(open windows × groups), independent of stream length. */
  def windowedAnalytics(stream: DataFrame, tsCol: String, groupCol: String,
                        window_ : String = "1 hour",
                        lateness: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_), col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col(groupCol),
        col("n"), col("sum_value"))

  /** T3: session windows — activity sessions per key closed by a gap. */
  def sessionized(stream: DataFrame, tsCol: String, keyCol: String,
                  gap: String = "30 minutes",
                  lateness: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol), col("n_events"))

  /** T5: arbitrary stateful tracking keyed by pipeline/user id — running
    * count + last-seen timestamp per key via mapGroupsWithState (the
    * DynamoDB per-pipeline state row, kept in the stream). */
  final case class KeyState(key: String, n: Long, lastTs: java.sql.Timestamp)

  def trackState(events: Dataset[(String, java.sql.Timestamp)]): Dataset[KeyState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[KeyState, KeyState](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, java.sql.Timestamp)], state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(key, 0L, new java.sql.Timestamp(0)))
          val batch = rows.toSeq
          val next = KeyState(key, prev.n + batch.size,
            batch.map(_._2).foldLeft(prev.lastTs)((a, b) => if (b.after(a)) b else a))
          state.update(next)
          next
      }
  }

  /** T5 on Spark 4's `transformWithState` (the successor API to
    * mapGroupsWithState): explicit named state cells, per-cell TTL, and
    * timer support — the shape long-running production state wants
    * (RocksDB-backed, so state size is bounded by disk, not heap).
    * Semantics identical to [[trackState]]; both are kept because the
    * legacy API still matters to users migrating. */
  class KeyTrackerProcessor
      extends StatefulProcessor[String, (String, java.sql.Timestamp), KeyState] {
    @transient private var state: ValueState[KeyState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyState]("keyState",
        org.apache.spark.sql.Encoders.product[KeyState], TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, java.sql.Timestamp)],
                                 timerValues: TimerValues): Iterator[KeyState] = {
      val prev = if (state.exists()) state.get()
                 else KeyState(key, 0L, new java.sql.Timestamp(0))
      val batch = rows.toSeq
      val next = KeyState(key, prev.n + batch.size,
        batch.map(_._2).foldLeft(prev.lastTs)((a, b) => if (b.after(a)) b else a))
      state.update(next)
      Iterator.single(next)
    }
  }

  /** [[trackState]] semantics on `transformWithState`. Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  /** Per-key running-distinct state for [[trackDistinct]]: the seen-type
    * SET rides in state (sorted for a stable encoding), plus the running
    * row count and the coverage point. State size is O(#distinct types
    * per key) — bounded by the type DOMAIN, not the stream length; for
    * an unbounded domain the production swap-in is a KMV/HLL sketch in
    * the same slot (g20's machinery), which this exact form is the
    * reference implementation for. */
  final case class DistinctState(seen: Seq[String], n: Long,
                                 coverRn: Long, coverTus: Long)

  /** Running DISTINCT tracker (q47's semantics run where they live in
    * production — inside the stream): per user, count events, track the
    * distinct event-type set, and record the row index / event time at
    * which the full set so far was last extended (the coverage point).
    * Rows are (user, type, event_id, tus); each micro-batch's rows sort
    * by (tus, event_id) before the fold — within-batch arrival order is
    * not guaranteed — and the staged feed is range-partitioned on ts,
    * so cross-batch order is the contract. The decision at each row
    * depends only on (row, state), so micro-batch boundaries cannot
    * change any output: the final state equals q47's batch rollup
    * EXACTLY (st02's state ≡ batch discipline). */
  def trackDistinct(events: Dataset[(Long, String, Long, Long)])
      : Dataset[(Long, Long, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[DistinctState, (Long, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[DistinctState]) =>
          val sorted = rows.toArray.sortBy(x => (x._4, x._3))
          val prev = state.getOption.getOrElse(DistinctState(Nil, 0L, 0L, 0L))
          var seen = prev.seen.toSet
          var n = prev.n; var coverRn = prev.coverRn; var coverTus = prev.coverTus
          sorted.foreach { x =>
            n += 1
            if (!seen.contains(x._2)) {
              seen += x._2; coverRn = n; coverTus = x._4
            }
          }
          state.update(DistinctState(seen.toSeq.sorted, n, coverRn, coverTus))
          (user, n, seen.size.toLong, coverRn, coverTus)
      }
  }

  def trackStateTws(events: Dataset[(String, java.sql.Timestamp)]): Dataset[KeyState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new KeyTrackerProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** T5 + retention (st17): per-key session state with a TTL horizon —
    * the reference's retention bounds (7-day pipeline state, 1-day
    * realtime state) as STATE EVICTION, which trackState/st02 never
    * exercise (their keys live forever).
    *
    * Semantics (deterministic, oracle-able): per key, a running
    * (n_events, last_ts) that RESETS when the key's event gap exceeds
    * `retentionMs` (a returning key starts fresh — exactly what a
    * production state TTL does to it), enforced IN-LINE on the ordered
    * feed so results never depend on timer scheduling. EVENT-TIME
    * timers are the state-SIZE mechanism: each key re-arms one timer at
    * last_ts + retention; when the watermark passes it the key's state
    * is cleared, so live state is bounded by keys active within the
    * horizon — the driver reads the surviving state from the
    * checkpoint's state store after the drain (the statestore data
    * source), which is also what makes eviction OBSERVABLE rather than
    * asserted: an unexpired key that lingered would surface as an extra
    * output row.
    *
    * Wall-clock TTL (`TTLConfig`) is deliberately NOT used: it expires
    * by processing time, which no replayed oracle can restate. Event-
    * time timers give the same bounded-state property deterministically. */
  final case class RetainedState(n: Long, lastTs: java.sql.Timestamp)

  class TtlSessionProcessor(retentionMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp), (Long, Long)] {
    @transient private var state: ValueState[RetainedState] = _
    /** Eviction horizon in ms, rounded UP to the next millisecond from
      * the microsecond-precision horizon: timers are ms-granular but the
      * gap logic and the st17 oracle compare at microseconds
      * (`last_ts >= max - retention`, inclusive), so a floor here could
      * evict a key whose true horizon falls inside the truncated
      * millisecond — the stream must never evict EARLIER than the
      * oracle's inclusive boundary. */
    private def evictAtMs(last: java.sql.Timestamp): Long = {
      val lastMicros = last.getTime / 1000L * 1000000L + last.getNanos / 1000L
      val horizon = lastMicros + retentionMs * 1000L
      (horizon + 999L) / 1000L
    }
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RetainedState]("retained",
        org.apache.spark.sql.Encoders.product[RetainedState], TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, java.sql.Timestamp)],
                                 timerValues: TimerValues): Iterator[(Long, Long)] = {
      // within-batch order is not guaranteed; sort the (bounded) batch
      // so the gap-reset fold sees event time ascending. Gap compare in
      // MICROSECONDS (getTime is ms-truncated): the oracle restates the
      // gap as a DuckDB interval comparison at full timestamp precision,
      // and a gap inside the truncated millisecond would split the
      // engines.
      def micros(t: java.sql.Timestamp): Long =
        t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      val sorted = rows.map(_._2).toArray.sortBy(micros)
      var st = if (state.exists()) state.get()
               else RetainedState(0L, new java.sql.Timestamp(0))
      sorted.foreach { ts =>
        if (st.n > 0L && micros(ts) - micros(st.lastTs) > retentionMs * 1000L)
          st = RetainedState(0L, st.lastTs)
        st = RetainedState(st.n + 1L, if (ts.after(st.lastTs)) ts else st.lastTs)
      }
      state.update(st)
      // one eviction timer per key: re-arm at the new horizon, dropping
      // the stale one (timers are per-key; listTimers sees this key's)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(evictAtMs(st.lastTs))
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      // fire only if no newer activity moved the horizon past this timer
      if (state.exists() &&
          evictAtMs(state.get().lastTs) <= expiredTimerInfo.getExpiryTimeInMs)
        state.clear()
      Iterator.empty
    }
  }

  /** The st17 stream: watermarked feed through [[TtlSessionProcessor]];
    * all output is read from the surviving STATE, not emissions. */
  def ttlSessionTrack(events: Dataset[(Long, java.sql.Timestamp)],
                      retentionMs: Long): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new TtlSessionProcessor(retentionMs),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** st21: the salted partial for ONE (key, salt) state slot — the
    * running algebraic aggregate (count / sum / min / max) a hot key's
    * rows fold into across micro-batches. */
  final case class SaltPartial(n: Long, sc: Long, mn: Long, mx: Long)

  /** st21's stateful processor: keys are (zkey, salt) COMPOSITES, so a
    * Zipf-hot zkey's running aggregate lives in [[graft.streaming.StreamReplay.SaltBuckets]]
    * independent state-store slots — each micro-batch updates the hot
    * key through SaltBuckets parallel tasks instead of funneling it to
    * one (the state-store form of st20's two-phase salt; AQE skew
    * handling does not exist in stateful streaming). Emits nothing: the
    * merged answer is read from the SURVIVING STATE (st17's statestore-
    * source discipline) and folded per zkey in batch — safe because
    * every partial is algebraic, so salt boundaries, micro-batch
    * boundaries, and the final merge all commute. */
  class SaltedPartialProcessor
      extends StatefulProcessor[(Long, Long), (Long, Long, Long, Long), SaltPartial] {
    @transient private var state: ValueState[SaltPartial] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SaltPartial]("partial",
        org.apache.spark.sql.Encoders.product[SaltPartial], TTLConfig.NONE)
    override def handleInputRows(key: (Long, Long),
                                 rows: Iterator[(Long, Long, Long, Long)],
                                 timerValues: TimerValues): Iterator[SaltPartial] = {
      var st = if (state.exists()) state.get()
               else SaltPartial(0L, 0L, Long.MaxValue, Long.MinValue)
      rows.foreach { case (_, _, eventId, cents) =>
        st = SaltPartial(st.n + 1L, st.sc + cents,
          math.min(st.mn, eventId), math.max(st.mx, eventId))
      }
      state.update(st)
      Iterator.empty
    }
  }

  /** The st21 stream: (zkey, salt, event_id, cents) rows folded into
    * per-(zkey, salt) [[SaltPartial]] state. */
  def saltedStateTrack(events: Dataset[(Long, Long, Long, Long)]): Dataset[SaltPartial] = {
    import events.sparkSession.implicits._
    events.groupByKey(r => (r._1, r._2))
      .transformWithState(new SaltedPartialProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Stream-stream interval join (§2.3 as-of/interval streaming enrich):
    * left rows match right rows of the same key within
    * [leftTs - window, leftTs]. Both sides carry watermarks so the join
    * state is bounded — Spark evicts right-side state older than the
    * watermark minus the interval; state is O(window × arrival rate).
    *
    * `joinType = "left_outer"` is the enrich-with-missing shape
    * (README:36 real-time analytics over incomplete data): a left row
    * with no in-window match emits once with null right columns — but
    * only when the watermark has passed its match horizon (the row can
    * no longer be matched), so null emission is watermark-DRIVEN, not
    * best-effort. Until the watermark advances that far the row sits in
    * state, and a query that stops earlier never emits it. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   window_ : String = "10 minutes",
                   lateness: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $window_") &&
        r(rightTs) <= l(leftTs),
      joinType)
  }

  /** T7: fan-out — one source frame, two independent sink queries
    * (processed Parquet + windowed analytics), each with its own
    * checkpoint, mirroring the realtime fn writing the analytics stream
    * while Firehose drains the main one. */
  def fanOut(processing: DataFrame, analytics: DataFrame, layout: PipelineLayout,
             analyticsSinkFormat: String = "memory",
             analyticsQueryName: String = "analytics",
             triggerInterval: String = "60 seconds",
             analyticsOutputMode: OutputMode = OutputMode.Update(),
             availableNow: Boolean = false): (StreamingQuery, StreamingQuery) = {
    val q1 = partitionedSink(processing, layout, triggerInterval,
      availableNow = availableNow).start()
    val q2 = analytics.writeStream
      .format(analyticsSinkFormat)
      .queryName(analyticsQueryName)
      .outputMode(analyticsOutputMode)
      .option("checkpointLocation", s"${layout.checkpoints}/analytics")
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(triggerInterval))
      .start()
    (q1, q2)
  }
}
