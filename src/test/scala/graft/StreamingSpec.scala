package graft

import graft.model.PipelineLayout
import graft.streaming.StreamingPipeline
import graft.validate.SchemaValidator.Rule
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  private def ts(s: String) = Timestamp.valueOf(s)

  test("file stream: validate, derive partitions, partitioned sink + quarantine") {
    val root = Files.createTempDirectory("graft-stream").toString
    val layout = PipelineLayout(root)
    val inDir = s"$root/raw/incoming"
    new java.io.File(inDir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$inDir/batch1.json"),
      """{"id": 1, "ts": "2024-01-01T10:00:00.000Z", "value": 5.0}
        |{"id": 2, "ts": "2024-01-01T11:00:00.000Z", "value": -3.0}
        |{"id": 3, "ts": "2024-01-02T09:30:00.000Z", "value": 7.0}
        |""".stripMargin)

    val source = StreamingPipeline.jsonFileSource(spark, inDir, schema, maxFilesPerTrigger = 10)
    val stream = StreamingPipeline.processingStream(source,
      Seq(Rule("value_positive", col("value") > 0)))
    val q = StreamingPipeline.partitionedSink(stream, layout)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val processed = spark.read.parquet(layout.processed)
    assert(processed.count() == 2)
    assert(processed.select("hour").as[Int].collect().toSet == Set(10, 9))
    assert(new java.io.File(layout.processed).listFiles().exists(_.getName.startsWith("year=")))
    val quarantined = graft.sink.Sinks.readQuarantine(spark, layout.errors)
    assert(quarantined.count() == 1)
    assert(quarantined.select("id").as[Long].head() == 2L)
    assert(quarantined.select("_error_stage").as[String].head() == "stream_validation")
  }

  test("stream sink: a batch with no invalid rows quarantines nothing; invalid rows land once each") {
    val root = Files.createTempDirectory("graft-stream-inv").toString
    val layout = PipelineLayout(root)
    val inDir = s"$root/raw/incoming"
    new java.io.File(inDir).mkdirs()
    // one file per micro-batch, oldest first: batch 0 is all valid,
    // batch 1 holds two invalid rows among three, batch 2 only invalid ones
    def put(name: String, body: String, mtime: Long): Unit = {
      val f = java.nio.file.Paths.get(s"$inDir/$name")
      Files.writeString(f, body)
      assert(f.toFile.setLastModified(mtime))
    }
    put("a.json",
      """{"id": 1, "ts": "2024-01-01T10:00:00.000Z", "value": 5.0}
        |{"id": 2, "ts": "2024-01-01T11:00:00.000Z", "value": 6.0}
        |""".stripMargin, 1000000000000L)
    put("b.json",
      """{"id": 3, "ts": "2024-01-01T10:00:00.000Z", "value": -1.0}
        |{"id": 4, "ts": "2024-01-01T10:30:00.000Z", "value": 7.0}
        |{"id": 5, "ts": "2024-01-01T11:00:00.000Z", "value": -2.0}
        |""".stripMargin, 1000000060000L)
    put("c.json",
      """{"id": 6, "ts": "2024-01-01T12:00:00.000Z", "value": -4.0}
        |""".stripMargin, 1000000120000L)
    val source = StreamingPipeline.jsonFileSource(spark, inDir, schema, maxFilesPerTrigger = 1)
    val stream = StreamingPipeline.processingStream(source,
      Seq(Rule("value_positive", col("value") > 0)))
    val q = StreamingPipeline.partitionedSink(stream, layout, availableNow = true).start()
    assert(q.awaitTermination(60000))
    assert(spark.read.parquet(layout.processed).select("id").as[Long].collect().sorted
      .sameElements(Seq(1L, 2L, 4L)))
    val quarantineDirs = new java.io.File(layout.errors).listFiles().map(_.getName).sorted
    assert(quarantineDirs.sameElements(
      Seq("b_stream_validation_batch-1", "b_stream_validation_batch-2")),
      quarantineDirs.mkString(","))
    val quarantined = graft.sink.Sinks.readQuarantine(spark, layout.errors)
    assert(quarantined.select("id").as[Long].collect().sorted.sameElements(Seq(3L, 5L, 6L)))
  }

  test("size-budget sink: files roll at the byte budget, layout stays plain K1") {
    // Firehose's "5 MB" half (SDP.py:199-202) at spec scale: five 40-byte
    // rows against a 100-byte budget roll at exclusive prefixes
    // 0,40,80,120,160 → rolls 0,0,0,1,1 → two files; the lone hour-11 row
    // is its own roll.
    val root = Files.createTempDirectory("graft-sizebudget").toString
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:01"), "a" * 40),
      (2L, ts("2024-01-01 10:00:02"), "b" * 40),
      (3L, ts("2024-01-01 10:00:03"), "c" * 40),
      (4L, ts("2024-01-01 10:00:04"), "d" * 40),
      (5L, ts("2024-01-01 10:00:05"), "e" * 40),
      (6L, ts("2024-01-01 11:00:00"), "f" * 40),
    ).toDF("id", "ts", "payload")
    graft.sink.Sinks.writePartitionedSizeBudget(
      rows, s"$root/lake", sizeOf = length(col("payload")).cast("long"),
      orderCols = Seq("ts", "id"), byteBudget = 100L)
    def hourDir(h: Int) =
      new java.io.File(s"$root/lake/year=2024/month=1/day=1/hour=$h")
    def parquets(h: Int) =
      hourDir(h).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquets(10).length == 2, "hour 10 must roll into two files")
    assert(parquets(11).length == 1)
    // the _roll level is hoisted away — plain K1 layout, roll-prefixed files
    assert(hourDir(10).listFiles().forall(!_.isDirectory))
    assert(parquets(10).forall(_.getName.startsWith("roll-")))
    val back = spark.read.parquet(s"$root/lake")
    assert(back.count() == 6)
    assert(!back.columns.contains("_roll"))
    // roll 0 holds exactly the rows that fit before the budget crossed
    val roll0 = parquets(10).find(_.getName.startsWith("roll-0-")).get
    assert(spark.read.parquet(roll0.getPath).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("malformed JSON lines quarantine with raw payload; valid rows land clean") {
    val root = Files.createTempDirectory("graft-corrupt").toString
    val layout = PipelineLayout(root)
    val inDir = s"$root/raw/incoming"
    new java.io.File(inDir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$inDir/batch1.json"),
      """{"id": 1, "ts": "2024-01-01T10:00:00.000Z", "value": 5.0}
        |{"id": 2, "ts": "2024-01-01T11:00:00.000Z", "value": BROKEN!!
        |{"id": 3, "ts": "2024-01-02T09:30:00.000Z", "value": 7.0}
        |""".stripMargin)

    val source = StreamingPipeline.jsonFileSource(spark, inDir, schema, maxFilesPerTrigger = 10)
    val stream = StreamingPipeline.processingStream(source,
      Seq(Rule("value_positive", col("value") > 0)))
    val q = StreamingPipeline.partitionedSink(stream, layout)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // the bad line didn't kill the batch, didn't slip through as nulls,
    // and kept its raw payload for replay
    val processed = spark.read.parquet(layout.processed)
    assert(processed.count() == 2)
    assert(!processed.columns.contains(graft.validate.SchemaValidator.CorruptCol))
    val quarantined = graft.sink.Sinks.readQuarantine(spark, layout.errors)
    assert(quarantined.count() == 1)
    val raw = quarantined
      .select(graft.validate.SchemaValidator.CorruptCol).as[String].head()
    assert(raw.contains("BROKEN"))
    assert(quarantined.select("errors").as[Seq[String]].head() == Seq("malformed_json"))
  }

  test("the pipeline is source-agnostic: same composition runs behind a rate source") {
    import graft.streaming.{RateEventSource, StreamSource}
    val root = Files.createTempDirectory("graft-rate").toString
    val layout = PipelineLayout(root)
    // the SAME composition st01 runs on the file transport, behind the
    // synthetic broker stand-in — nothing downstream knows the transport
    val src: StreamSource = RateEventSource(rowsPerSecond = 500, numPartitions = 2)
    val stream = StreamingPipeline.processingStream(src.read(spark),
      Seq(Rule("value_nonneg", col("value") >= 0)))
    val q = StreamingPipeline.partitionedSink(stream, layout,
      triggerInterval = "1 seconds").start()
    try {
      def processedCount(): Long =
        try spark.read.parquet(layout.processed).count()
        catch { case _: Exception => -1L }
      val end = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < end && processedCount() < 4) Thread.sleep(200)
      assert(processedCount() >= 4)
    } finally q.stop()
    val processed = spark.read.parquet(layout.processed)
    // routing and partition derivation both ran: only rule-passing rows
    // landed, and the event-time partition columns exist
    assert(processed.filter(col("value") < 0).isEmpty)
    assert(Seq("year", "month", "day", "hour").forall(processed.columns.contains))
    // the negative rows went to quarantine, not the floor
    val quarantined = graft.sink.Sinks.readQuarantine(spark, layout.errors)
    assert(quarantined.filter(col("value") < 0).count() > 0)
  }

  test("socket transport: reordered delivery corrected by the watermark, too-late rows drop") {
    import graft.streaming.{SocketJsonSource, StreamSource, StreamSources}
    // a push transport can deliver out of order (the property the file
    // feeds can't exercise — a real Kinesis consumer must survive it);
    // correctness must come from the event-time watermark
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var out: java.io.PrintWriter = null
    val accept = new Thread(() => {
      val sock = server.accept()
      out = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(sock.getOutputStream,
          java.nio.charset.StandardCharsets.UTF_8), true)
    })
    accept.setDaemon(true)
    accept.start()
    val src: StreamSource = SocketJsonSource("127.0.0.1", server.getLocalPort,
      StreamSources.EventSchema,
      options = Map("timestampFormat" -> "yyyy-MM-dd HH:mm:ss"))
    val agg = src.read(spark)
      .filter(col(StreamSources.CorruptCol).isNull)
      .withWatermark("ts", "20 minutes")
      .groupBy(window(col("ts"), "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sock_win")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (out == null && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(out != null, "socket source never connected")
      def line(id: Int, t: String) =
        s"""{"id": $id, "ts": "2024-01-01 $t", "value": 1.0}"""
      // chunk 1: 10:16 arrives BEFORE 10:03 (reorder inside the 20-min
      // bound — must be kept); a malformed line rides along (must not
      // kill the query); 10:46 advances the watermark to 10:26, closing
      // the [10:00, 10:15) window
      Seq(line(1, "10:01:00"), line(2, "10:16:00"), "THIS IS NOT JSON",
        line(3, "10:03:00"), line(4, "10:31:00"), line(5, "10:46:00"))
        .foreach(out.println)
      def rows(): Map[Timestamp, Long] =
        spark.table("sock_win").as[(Timestamp, Long)].collect().toMap
      while (!rows().contains(ts("2024-01-01 10:00:00")) &&
             System.currentTimeMillis() < deadline) Thread.sleep(200)
      // the watermark (10:26) is now committed: the reordered 10:03 made
      // it into the closed window
      assert(rows()(ts("2024-01-01 10:00:00")) == 2L)
      // chunk 2: 09:00 is an hour past the watermark → dropped; 11:30
      // closes every remaining sub-10:45 window
      Seq(line(6, "09:00:00"), line(7, "11:30:00")).foreach(out.println)
      q.processAllAvailable()
      val finalRows = rows()
      assert(finalRows(ts("2024-01-01 10:15:00")) == 1L)
      assert(finalRows(ts("2024-01-01 10:30:00")) == 1L)
      assert(finalRows(ts("2024-01-01 10:45:00")) == 1L)
      // the too-late 09:00 row emitted NO window and inflated none
      assert(!finalRows.contains(ts("2024-01-01 09:00:00")))
      assert(finalRows.values.sum == 5L)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("st11 outer-join replay: null rows emitted only past the watermark horizon") {
    val res = graft.streaming.StreamReplay.st11OuterJoinReplay(spark, sf)
    val nNull = res.agg(sum(col("n_null"))).as[Long].head()
    val nPairs = res.agg(sum(col("n_pairs"))).as[Long].head()
    // both legs must be non-vacuous: real matches AND real null emissions
    assert(nPairs > 0, "no matched pairs — the inner leg is vacuous")
    assert(nNull > 0, "no null rows — watermark-driven emission never fired")
    // matched pairs must equal the batch inner interval join (no state
    // eviction may lose a match under the chosen lateness)
    val ev = Tables.events(spark, sf)
      .filter(col("ts") < lit(graft.streaming.StreamReplay.JoinFeedEnd).cast("timestamp"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batchPairs = p.join(c, col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 DAY") &&
        col("c_ts") <= col("p_ts")).count()
    assert(nPairs == batchPairs)
  }

  test("st01 batch replay through the streaming sink equals batch derivation") {
    val streamed = graft.streaming.StreamReplay.st01StreamReplay(spark, sf)
      .collect().toSeq.map(_.toString)
    val batch = graft.queries.PipelineQueries.p05DerivePartitions(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("st03 windowed replay: late rows beyond the watermark are visibly dropped") {
    val res = graft.streaming.StreamReplay.st03WindowedReplay(spark, sf)
    val emitted = res.agg(sum(col("n"))).as[Long].head()
    val all = Tables.events(spark, sf).count()
    // fewer rows than the corpus: dropped lates + unemitted trailing windows
    assert(emitted > 0 && emitted < all)
    // per-window, the replay may only LOSE rows vs the batch aggregate
    // (dropped lates), never gain — and at least one window must have lost
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_all"))
    val joined = res.join(batch, Seq("window_start", "event_type"))
      .select(col("n"), col("n_all")).as[(Long, Long)].collect()
    assert(joined.exists { case (n, nAll) => n < nAll })
    assert(joined.forall { case (n, nAll) => n <= nAll })
  }

  test("windowed analytics with watermark drops late data beyond bound") {
    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    val stream = mem.toDF().toDF("ts", "k", "value")
    val agg = StreamingPipeline.windowedAnalytics(stream, "ts", "k",
      window_ = "1 hour", lateness = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win")
      .outputMode("append").start()
    // window 10:00 closes once watermark passes 11:10
    mem.addData((ts("2024-01-01 10:05:00"), "a", 1.0), (ts("2024-01-01 10:20:00"), "a", 2.0))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 11:30:00"), "a", 4.0)) // advances watermark to 11:20
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:40:00"), "a", 99.0)) // late beyond bound → dropped
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 13:00:00"), "a", 8.0)) // closes the 11:00 window too
    q.processAllAvailable()
    val rows = spark.table("win")
      .select(col("window_start").cast("string"), col("n"), col("sum_value"))
      .as[(String, Long, Double)].collect().map { case (k, n, s) => (k, (n, s)) }.toMap
    assert(rows("2024-01-01 10:00:00") == ((2L, 3.0))) // late row NOT included
    assert(rows("2024-01-01 11:00:00") == ((1L, 4.0)))
    q.stop()
  }

  test("session windows close on gap") {
    val mem = MemoryStream[(Timestamp, String, Double)](spark)
    val stream = mem.toDF().toDF("ts", "k", "value")
    val sess = StreamingPipeline.sessionized(stream, "ts", "k", gap = "30 minutes")
    val q = sess.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), "u1", 1.0),
      (ts("2024-01-01 10:10:00"), "u1", 1.0), // same session
      (ts("2024-01-01 12:00:00"), "u1", 1.0)) // new session
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 15:00:00"), "u1", 1.0)) // watermark closes earlier sessions
    q.processAllAvailable()
    val sessions = spark.table("sess").select("n_events").as[Long].collect().sorted.toSeq
    assert(sessions == Seq(1L, 2L))
    q.stop()
  }

  test("stateful tracking accumulates per-key counts across batches") {
    val mem = MemoryStream[(String, Timestamp)](spark)
    val tracked = StreamingPipeline.trackState(mem.toDS())
    val q = tracked.writeStream.format("memory").queryName("tracked")
      .outputMode("update").start()
    mem.addData(("p1", ts("2024-01-01 10:00:00")), ("p1", ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    mem.addData(("p1", ts("2024-01-01 10:10:00")), ("p2", ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    val last = spark.table("tracked").groupBy("key").agg(max("n").as("n"))
      .as[(String, Long)].collect().toMap
    assert(last == Map("p1" -> 3L, "p2" -> 1L))
    q.stop()
  }

  test("transformWithState tracker matches mapGroupsWithState semantics (RocksDB)") {
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Timestamp)](spark)
      val tracked = StreamingPipeline.trackStateTws(mem.toDS())
      val q = tracked.writeStream.format("memory").queryName("tracked_tws")
        .outputMode("update").start()
      mem.addData(("p1", ts("2024-01-01 10:00:00")), ("p1", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      mem.addData(("p1", ts("2024-01-01 10:10:00")), ("p2", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      val last = spark.table("tracked_tws").groupBy("key").agg(max("n").as("n"))
        .as[(String, Long)].collect().toMap
      assert(last == Map("p1" -> 3L, "p2" -> 1L))
      // last-seen timestamp carried across batches too
      val lastTs = spark.table("tracked_tws").filter($"key" === "p1")
        .agg(max("lastTs")).as[Timestamp].head()
      assert(lastTs == ts("2024-01-01 10:10:00"))
      q.stop()
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream interval join matches within the window only") {
    val lm = MemoryStream[(String, Timestamp, Long)](spark)
    val rm = MemoryStream[(String, Timestamp, Long)](spark)
    val joined = StreamingPipeline.intervalJoin(
      lm.toDF().toDF("k", "lts", "lid"),
      rm.toDF().toDF("k", "rts", "rid"),
      "k", "lts", "rts", window_ = "10 minutes")
    val q = joined.select("lid", "rid").writeStream
      .format("memory").queryName("ij").outputMode("append").start()
    rm.addData(("a", ts("2024-01-01 10:00:00"), 100L), // 5 min before left → match
               ("a", ts("2024-01-01 09:30:00"), 101L)) // 35 min before → no match
    lm.addData(("a", ts("2024-01-01 10:05:00"), 1L))
    q.processAllAvailable()
    val rows = spark.table("ij").as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 100L)))
    q.stop()
  }

  test("sliding windows assign rows to every overlapping window") {
    val mem = MemoryStream[(Timestamp, Double)](spark)
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("slide")
      .outputMode("complete").start()
    mem.addData((ts("2024-01-01 10:07:00"), 1.0))
    q.processAllAvailable()
    val rows = spark.table("slide").as[(String, Long)].collect().toMap
    // one event falls in both the 10:00 and 10:05 windows
    assert(rows == Map("2024-01-01 10:00:00" -> 1L, "2024-01-01 10:05:00" -> 1L))
    q.stop()
  }

  test("a batch whose completion marker exists is skipped on replay") {
    val root = Files.createTempDirectory("graft-marker").toString
    val layout = PipelineLayout(root)
    val inDir = s"$root/raw/incoming"
    new java.io.File(inDir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$inDir/b.json"),
      """{"id": 1, "ts": "2024-01-01T10:00:00.000Z", "value": 5.0}
        |""".stripMargin)
    // pre-create batch 0's completion marker = "already promoted, crash
    // happened before checkpoint commit"; the replay must skip it
    new java.io.File(s"${layout.processed}/_batches").mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"${layout.processed}/_batches/batch-0"), "")
    val source = StreamingPipeline.jsonFileSource(spark, inDir, schema)
    val q = StreamingPipeline.partitionedSink(
      StreamingPipeline.processingStream(source, Seq.empty), layout)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val live = new java.io.File(layout.processed).listFiles()
    assert(live != null && !live.exists(_.getName.startsWith("year=")), live.mkString(","))
  }

  test("stream metrics listener journals lifecycle and batch progress") {
    import graft.state.{StateLog, StreamMetricsListener}
    val stateLog = new StateLog(spark,
      Files.createTempDirectory("graft-metrics").toString + "/state")
    val listener = new StreamMetricsListener(stateLog)
    spark.streams.addListener(listener)
    try {
      val mem = MemoryStream[(Timestamp, Double)](spark)
      val q = mem.toDF().toDF("ts", "value").writeStream
        .format("memory").queryName("metered").outputMode("append").start()
      mem.addData((ts("2024-01-01 10:00:00"), 1.0), (ts("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      q.stop()
      q.awaitTermination(10000)
      // listener events are delivered async
      val end = System.currentTimeMillis() + 15000
      def stages() = stateLog.journal().select("stage").as[String].collect().toSet
      while (System.currentTimeMillis() < end && !stages().contains("stream_batch"))
        Thread.sleep(100)
      assert(Set("stream", "stream_batch").subsetOf(stages()), stages())
      val batchRow = stateLog.journal()
        .filter(col("stage") === "stream_batch" && col("detail").contains("rows=2"))
      assert(batchRow.count() >= 1)
    } finally spark.streams.removeListener(listener)
  }

  test("fan-out: one source feeds partitioned sink and analytics sink") {
    val root = Files.createTempDirectory("graft-fanout").toString
    val layout = PipelineLayout(root)
    val inDir = s"$root/raw/incoming"
    new java.io.File(inDir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$inDir/b.json"),
      """{"id": 1, "ts": "2024-01-01T10:00:00.000Z", "value": 5.0}
        |{"id": 2, "ts": "2024-01-01T10:30:00.000Z", "value": 2.0}
        |""".stripMargin)
    val source = StreamingPipeline.jsonFileSource(spark, inDir, schema)
    val processing = StreamingPipeline.processingStream(source, Seq.empty)
      .withColumn("k", lit("all"))
    val analytics = StreamingPipeline.windowedAnalytics(
      processing, "ts", "k", window_ = "1 hour", lateness = "0 seconds")
    val (q1, q2) = StreamingPipeline.fanOut(processing, analytics, layout,
      analyticsQueryName = "fan_analytics", triggerInterval = "1 seconds")
    try {
      def processedCount(): Long =
        try spark.read.parquet(layout.processed).count()
        catch { case _: Exception => -1L } // dir empty until first commit
      val end = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < end && processedCount() < 2) Thread.sleep(200)
      assert(processedCount() == 2)
      assert(q2.isActive) // analytics leg runs concurrently off the same source
    } finally { q1.stop(); q2.stop() }
  }

  test("KafkaJsonSource: reference option mapping + payload parse on an embedded fake") {
    import org.apache.spark.sql.functions._
    val src = graft.streaming.KafkaJsonSource(
      "broker-1:9092,broker-2:9092", "events",
      graft.streaming.StreamSources.EventSchema)
    // SDP.py:648-655 semantics, option for option
    val opts = src.readerOptions
    assert(opts("startingOffsets") == "latest")       // start at LATEST
    assert(opts("maxOffsetsPerTrigger") == "100")     // consumer batch 100
    assert(opts("failOnDataLoss") == "false")         // at-least-once posture
    assert(opts("subscribe") == "events")
    assert(opts("kafka.bootstrap.servers") == "broker-1:9092,broker-2:9092")
    // embedded fake: a batch frame with the connector's exact output
    // schema (binary value + wire metadata) through the shared parse
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(null, """{"id": 1, "ts": "2024-01-01T10:00:00.000Z", "value": 2.5}""".getBytes("UTF-8"), "events", 0, 0L),
        org.apache.spark.sql.Row(null, """{"id": 2, "ts"::: not json""".getBytes("UTF-8"), "events", 0, 1L))),
      new org.apache.spark.sql.types.StructType()
        .add("key", "binary").add("value", "binary")
        .add("topic", "string").add("partition", "int").add("offset", "long"))
    val parsed = graft.streaming.KafkaJsonSource
      .parse(wire, graft.streaming.StreamSources.EventSchema)
      .orderBy(col("id").asc_nulls_last)
      .collect()
    assert(parsed.length == 2)
    assert(parsed(0).getLong(0) == 1L && parsed(0).getDouble(2) == 2.5)
    assert(parsed(0).isNullAt(3)) // well-formed row: no corrupt payload
    // malformed payload survives as a corrupt-record row with the raw
    // bytes intact (quarantine contract shared with file/socket)
    assert(parsed(1).isNullAt(0))
    assert(parsed(1).getString(3).contains("not json"))
  }

  test("st17: TTL eviction bounds state at live keys and actually evicts") {
    import org.apache.spark.sql.functions._
    val retained = graft.streaming.StreamReplay.st17TtlReplay(spark, sf)
    val ev = Tables.events(spark, sf)
    val allKeys = ev.select(countDistinct("user_id")).head().getLong(0)
    val horizon = ev.agg(max("ts")).head().getTimestamp(0).getTime -
      graft.streaming.StreamReplay.TtlRetentionMs
    val liveKeys = ev
      .filter(col("ts").cast("double") * 1000 >= horizon)
      .select(countDistinct("user_id")).head().getLong(0)
    val stateRows = retained.count()
    // bounded-state: the surviving store holds exactly the keys active
    // within the horizon — never the full key universe
    assert(stateRows <= liveKeys, s"$stateRows state rows > $liveKeys live keys")
    // eviction actually exercised at this SF (not a vacuous bound)
    assert(stateRows < allKeys, s"no key evicted: $stateRows of $allKeys")
    // stream ≡ batch law (the oracle's Spark-side mirror): final-session
    // counts under the gap-reset rule for retained keys
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val sess = ev.select(col("user_id"), col("ts"))
      .withColumn("gapus",
        col("ts").cast("decimal(26,6)") * 1000000 -
          lag(col("ts"), 1).over(w).cast("decimal(26,6)") * 1000000)
      .withColumn("b", when(col("gapus") >
        lit(graft.streaming.StreamReplay.TtlRetentionMs) * 1000, 1).otherwise(0))
      .withColumn("g", sum("b").over(w.rowsBetween(Long.MinValue, 0)))
    val lastg = sess.groupBy("user_id").agg(max("g").as("mg"))
    val fin = sess.join(lastg, Seq("user_id"))
      .filter(col("g") === col("mg"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("ts").as("last_ts"))
      .filter(col("last_ts").cast("double") * 1000 >= horizon)
    val expect = fin.orderBy("user_id").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq
    val got = retained.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq
    assert(got == expect, s"stream state ${got.take(3)}... != batch ${expect.take(3)}...")
  }

  test("st17: multi-horizon drain — state rows never exceed the live-key bound at ANY checkpoint") {
    // VERDICT r10 item 6: the single-drain test proves the FINAL state is
    // bounded; this one replays the same feed in three staged drains
    // against one checkpoint and asserts the statestore row count at
    // every intermediate horizon — a state-size CEILING law, not an
    // end-state fact. Bound per checkpoint: keys whose last event so far
    // sits within (max ts so far − retention − 1 ms); the 1 ms slack is
    // the eviction timer's ceil-to-next-millisecond rounding, which by
    // design never evicts EARLIER than the oracle's inclusive boundary.
    val retention = graft.streaming.StreamReplay.TtlRetentionMs
    graft.streaming.StreamReplay.replay(spark, "st17-multi", rocksDb = true) { r =>
      import r.s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("user_id"))
      val ranked = Tables.events(r.s, sf).select(col("user_id"), col("ts"))
        .withColumn("rn", row_number().over(w))
        .localCheckpoint(eager = true)
      val n = ranked.count()
      val stages = 3
      var evictedSomewhere = false
      (1 to stages).foreach { k =>
        val hi = k * n / stages
        val lo = (k - 1) * n / stages
        val source = r.orderedFeed(
          ranked.filter(col("rn") > lo && col("rn") <= hi)
            .select(col("user_id"), col("ts")),
          nFiles = 4, perTrigger = 2, prefix = f"s$k",
          baseModTime = 1000000L + k * 100000L)
        val typed = source
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"))
          .as[(Long, Timestamp)]
        val stateRows = r.drainToState(
          StreamingPipeline.ttlSessionTrack(typed, retention), "retained").count()
        val pfx = ranked.filter(col("rn") <= hi)
        val maxUs = pfx
          .agg(max((col("ts").cast("decimal(26,6)") * 1000000).cast("long")))
          .head().getLong(0)
        val live = pfx.groupBy(col("user_id"))
          .agg(max((col("ts").cast("decimal(26,6)") * 1000000).cast("long"))
            .as("lastus"))
          .filter(col("lastus") >= maxUs - retention * 1000L - 1000L)
          .count()
        assert(stateRows <= live,
          s"stage $k: $stateRows state rows > $live live keys within horizon")
        val seenKeys = pfx.select(countDistinct(col("user_id"))).head().getLong(0)
        if (stateRows < seenKeys) evictedSomewhere = true
      }
      assert(evictedSomewhere, "bound never bit: no key evicted at any horizon")
      r.s.emptyDataFrame
    }
  }
}
