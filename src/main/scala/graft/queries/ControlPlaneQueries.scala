package graft.queries

import graft.{Materialize, Session, Tables}
import graft.catalog.CatalogSync
import graft.model.PipelineLayout
import graft.orchestrate.ReferencePipeline
import graft.quality.Quality.Check
import graft.sink.Sinks
import graft.state.StateLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver rows for the control-plane surfaces that were spec-only: the
  * orchestrated batch pipeline end to end (SURVEY §2.10 / §3.1) and the
  * catalog + SQL analytics path (§3.4). Each runs the REAL machinery —
  * Flow runner, state journal, staged-promote sink, catalog registration
  * — against a temp lake, then rolls the landed tables up into a frame
  * the DuckDB oracle can state from the raw corpus alone.
  */
object ControlPlaneQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Feed bound: these rows prove ORCHESTRATION and CATALOG semantics,
    * not partitioned-write throughput (st01 carries that) — three days
    * keeps the hour-partition count small. */
  val E2eFeedEnd = "2024-01-04"

  /** x01: the reference pipeline (§3.1) as a hard row — validate → route
    * (invalid rows quarantined) → archive → transform → staged partitioned
    * write → quality gate → atomic promote, with every stage journaled by
    * the Flow runner. The row reads back what LANDED: per event type, the
    * processed-table count and the quarantine count, which must exactly
    * complement each other against the corpus — a routing bug, a lost
    * stage, a gate mis-fire, or a promote that moved partial staging all
    * break it. The gate check passes by construction on the valid subset
    * (score 1.0 > 0.8), so a FAILED outcome — which this query turns into
    * an exception — means the gate scored the wrong frame. */
  def x01PipelineE2e(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-x01-") { m =>
      // Round 15: the round-14 narrow-floor session pin is gone — the
      // staged write's parallelism now comes from Sinks.writePartitioned's
      // explicit repartition (floor-insensitive by construction), so the
      // row no longer needs a per-query AQE config patch.
      val s2 = Session.isolated(s)
      val ev = Tables.events(s2, d)
        .filter(col("ts") < lit(E2eFeedEnd).cast("timestamp"))
      val layout = PipelineLayout(s"${m.tmp}/lake")
      val stateLog = new StateLog(s2, s"${m.tmp}/state")
      val spec = ReferencePipeline.Spec(
        rules = PipelineQueries.eventRules,
        transform = identity[DataFrame] _,
        checks = Seq(Check("value_le_300", col("value") <= 300.0)))
      val outcome = ReferencePipeline.run("x01", ev, spec, layout, stateLog)
      require(outcome.isSuccess, s"x01 reference pipeline failed: $outcome")
      val processed = s2.read.parquet(layout.processed)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_processed"))
      val quarantined = Sinks.readQuarantine(s2, layout.errors)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_quarantined"))
      processed.join(quarantined, Seq("event_type"), "full")
        .select(col("event_type"),
          coalesce(col("n_processed"), lit(0L)).as("n_processed"),
          coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"))
        .orderBy(col("event_type"))
    }

  /** x02: the analytics path (§3.4) as a hard row — partitioned landing,
    * catalog registration (external table + partition recovery, the
    * crawler pass), then ANSI SQL over the TABLE NAME with a partition
    * predicate. The rollup must equal the same SQL stated over the raw
    * corpus; a registration that missed partitions, a recovery that
    * skipped directories, or pruning that dropped the wrong hours all
    * break it. The `day <= 2` predicate prunes at the catalog level
    * (partition directories, not row filters — asserted in PlanSpec). */
  def x02CatalogSql(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-x02-") { m =>
      // Round 15: narrow-floor pin removed — see x01 (the write path's
      // explicit repartition made the floor irrelevant to this row).
      val s2 = Session.isolated(s)
      val ev = Tables.events(s2, d)
        .filter(col("ts") < lit(E2eFeedEnd).cast("timestamp"))
      Sinks.writePartitioned(ev, s"${m.tmp}/t")
      val table = "graft_x02_" + java.util.UUID.randomUUID().toString.replace("-", "")
      m.onClose { s2.sql(s"DROP TABLE IF EXISTS $table"); () }
      CatalogSync.register(s2, table, s"${m.tmp}/t")
      s2.sql(
        s"""SELECT year, month, day, hour, count(*) AS n_rows,
           |       round(sum(value), 6) AS sum_value
           |FROM $table WHERE day <= 2
           |GROUP BY year, month, day, hour
           |ORDER BY year, month, day, hour""".stripMargin)
    }

  /** x03: the Parallel scatter/gather operator (§2.10 X3, the reference's
    * fixed 3-way Parallel, SDP.py:372-390) as a hard row — run through
    * the REAL runner ([[graft.orchestrate.PipelineRunner]]: retries,
    * journaling, deadline), not a bare union. The corpus scatters over 3
    * branches by user_id mod 3, each branch tags its slice, the gather
    * rolls the union up per event type. The row must equal the same
    * rollup stated over the UNSCATTERED corpus: a branch that dropped or
    * double-took rows, a union that lost a branch, or a gather over a
    * partial scatter all break n_events/sum_value, and n_branches pins
    * every type having flowed through all 3 branches. */
  def x03ParallelScatter(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-x03-") { m =>
      import graft.orchestrate.{Flow, PipelineRunner}
      val ev = Tables.events(s, d)
        .filter(col("ts") < lit(E2eFeedEnd).cast("timestamp"))
      val stateLog = new StateLog(s, s"${m.tmp}/state")
      val branches = (0 until 3).map { k =>
        (df: DataFrame) =>
          df.filter(pmod(col("user_id"), lit(3)) === k)
            .withColumn("branch", lit(k))
      }
      val flow = Flow.Parallel("scatter3", branches,
        Flow.Task("gather_rollup", df =>
          // micro-scaled integer sum (the p16/p20 order-free idiom): a
          // plain double sum over thousands of rows carries ~1e-6-scale
          // accumulation error at this magnitude — the round(·,6)
          // granularity — so summation order could flip the value
          df.groupBy(col("event_type")).agg(
            count(lit(1)).as("n_events"),
            round(sum(round(col("value") * 1000000).cast("long")) * lit(1.0)
              / lit(1000000.0), 6).as("sum_value"),
            countDistinct(col("branch")).as("n_branches")),
          Flow.Task("land",
            { df => df.coalesce(1).write.mode("overwrite")
                      .parquet(s"${m.tmp}/out"); df },
            Flow.Succeed())))
      val outcome = new PipelineRunner(stateLog).run("x03", flow, ev)
      require(outcome.isSuccess, s"x03 parallel flow failed: $outcome")
      s.read.parquet(s"${m.tmp}/out")
        .orderBy(col("event_type"))
    }

  /** x04: Step Functions MAP state ([[graft.orchestrate.Flow.MapState]])
    * — DYNAMIC per-key fan-out, the reference construct x03's fixed
    * Parallel cannot express: the item list (the distinct event types)
    * is derived from the data AT RUNTIME (one bounded driver scalar
    * read), a per-item rollup runs per key, and the gathered union must
    * equal the plain groupBy restatement — the Map ≡ groupBy law that
    * makes the oracle exact. Sums ride the micro-scaled integer idiom
    * so the per-item/global reassociation cannot drift. At scale the
    * per-item filter is the partition key, so each branch
    * partition-prunes its scan. */
  def x04MapState(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-x04-") { m =>
      import graft.orchestrate.{Flow, PipelineRunner}
      val ev = Tables.events(s, d)
        .filter(col("ts") < lit(E2eFeedEnd).cast("timestamp"))
      val stateLog = new StateLog(s, s"${m.tmp}/state")
      val flow = Flow.MapState("map_event_types",
        items = df => df.select(col("event_type")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq,
        perItem = (df, t) => df.filter(col("event_type") === t)
          .agg(count(lit(1)).as("n_events"),
            round(sum(round(col("value") * 1000000).cast("long")) * lit(1.0)
              / lit(1000000.0), 6).as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
          .withColumn("event_type", lit(t)),
        next = Flow.Task("land",
          { df => df.coalesce(1).write.mode("overwrite")
                    .parquet(s"${m.tmp}/out"); df },
          Flow.Succeed()))
      val outcome = new PipelineRunner(stateLog).run("x04", flow, ev)
      require(outcome.isSuccess, s"x04 map flow failed: $outcome")
      s.read.parquet(s"${m.tmp}/out")
        .select(col("event_type"), col("n_events"),
          col("sum_value"), col("n_users"))
        .orderBy(col("event_type"))
    }

  /** x05: the PRIORITY LANE (§2.10 X7, the reference's priority queue,
    * SDP.py:140-144) as a hard row — previously spec-only. Two pipelines
    * start CONCURRENTLY through the real [[graft.service.PipelineService]]
    * in different priority lanes; each processes its deterministic corpus
    * slice (event_id parity). The row pins, per lane:
    *
    *  - `observed_pool`: the `spark.scheduler.pool` property Spark's
    *    scheduler actually SAW on that run's jobs (captured by a
    *    SparkListener keyed on the run's job group) — proving the
    *    priority→FAIR-pool routing reaches the scheduler, not just a
    *    journal string. Under a FIFO test session the property is inert
    *    but still set and observed; under `spark.scheduler.mode=FAIR` +
    *    a pool config the same property is the weighted lane.
    *  - journal accounting: exactly two state rows (submitted, succeeded)
    *    and a SUCCEEDED final status — the st09 shape.
    *  - data accounting: the slice rollup each lane landed, which must
    *    equal the corpus restatement (micro-scaled integer sum).
    *
    * Completion ORDER is wall-clock (FAIR weights under load), so it is
    * deliberately not oracled — lane accounting is. */
  def x05PriorityLanes(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-x05-") { m =>
      import graft.model.{PipelineOutcome, PipelineStatus}
      import graft.service.PipelineService
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val ev = Tables.events(s, d)
        .filter(col("ts") < lit(E2eFeedEnd).cast("timestamp"))
      val stateLog = new StateLog(s, s"${m.tmp}/state")
      val service = new PipelineService(s, stateLog)
      // job-group id → scheduler pool, as Spark's scheduler saw it
      val pools = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val props = js.properties
          for {
            g <- Option(props.getProperty("spark.jobGroup.id"))
            p <- Option(props.getProperty("spark.scheduler.pool"))
          } pools.put(g, p)
        }
      }
      s.sparkContext.addSparkListener(listener)
      m.onClose(s.sparkContext.removeSparkListener(listener))
      def lane(name: String, parity: Int): String =
        service.start({ id =>
          ev.filter(pmod(col("event_id"), lit(2)) === parity)
            .agg(count(lit(1)).as("n_rows"),
              round(sum(round(col("value") * 1000000).cast("long")) * lit(1.0)
                / lit(1000000.0), 6).as("sum_value"))
            .withColumn("priority", lit(name))
            .coalesce(1).write.mode("overwrite").parquet(s"${m.tmp}/out_$name")
          stateLog.append(id, "pipeline", PipelineStatus.Succeeded,
            s"lane=$name landed")
          PipelineOutcome.Succeeded(1.0)
        }, priority = name)
      // start both, then await both: the runs overlap
      val ids = Seq("high" -> lane("high", 0), "normal" -> lane("normal", 1))
      ids.foreach { case (n, id) =>
        val outcome = service.await(id)
        require(outcome.exists(_.isSuccess), s"x05 lane $n failed: $outcome")
      }
      // listener delivery is async — drain the bus so both job groups'
      // pool observations have arrived
      org.apache.spark.GraftAccess.drainListenerBus(s.sparkContext)
      val perLane = ids.map { case (name, id) =>
        // the full journal (list() serves only the latest row per id):
        // exactly two appends — submitted, succeeded
        val nJournal = stateLog.journal()
          .filter(col("pipeline_id") === id).count()
        val finalStatus = stateLog.currentStatus(id).map(_.status).getOrElse("?")
        val rollup = s.read.parquet(s"${m.tmp}/out_$name").head()
        (name, Option(pools.get(id)).getOrElse("?"),
          rollup.getAs[Long]("n_rows"), rollup.getAs[Double]("sum_value"),
          nJournal, finalStatus)
      }
      import s.implicits._
      perLane.toDF("priority", "observed_pool", "n_rows", "sum_value",
          "n_journal", "final_status")
        .orderBy(col("priority"))
    }

  /** x06: the crawler's STATISTICS half as a hard row (§2.10 X8 — Glue
    * crawlers record the table/column stats Athena's planner consumes;
    * here `ANALYZE TABLE` feeds Spark's cost-based optimizer). Two
    * corpus tables are registered, analyzed, and the row pins, per table:
    *
    *  - `n_rows`: the row count the OPTIMIZER actually sees
    *    ([[CatalogSync.plannerRowCount]] under `spark.sql.cbo.enabled`)
    *    — not a recount of the data. ANALYZE's table pass is exact, so
    *    this must equal the corpus count: the CBO contract that join
    *    reorder / broadcast selection at 100 TB plan on true
    *    cardinalities, checked end to end through the catalog.
    *  - key-column min/max and null count off the public
    *    `DESCRIBE EXTENDED` surface (exact by construction).
    *  - `ndv_ok`: the recorded distinct_count (HLL++, the g07 trade)
    *    within the q25-style 10 % band of the exact NDV.
    *
    * A guard also requires the PRE-analyze planner row count to be
    * absent — proving the number flows from the recorded stats, not from
    * some other estimator. */
  def x06CatalogStats(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-x06-") { m =>
      val s2 = Session.isolated(s, "spark.sql.cbo.enabled" -> "true")
      val specs = Seq(
        ("customer", Tables.customer(s2, d), "c_custkey"),
        ("orders", Tables.orders(s2, d), "o_custkey"))
      val perTable = specs.map { case (name, df, key) =>
        val table = "graft_x06_" + name + "_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        df.write.parquet(s"${m.tmp}/$name")
        m.onClose { s2.sql(s"DROP TABLE IF EXISTS $table"); () }
        CatalogSync.register(s2, table, s"${m.tmp}/$name", partitionCols = Seq.empty)
        require(CatalogSync.plannerRowCount(s2, table).isEmpty,
          s"x06: planner row count present before ANALYZE on $table")
        CatalogSync.analyze(s2, table, columns = Seq(key))
        val nRows = CatalogSync.plannerRowCount(s2, table)
          .getOrElse(sys.error(s"x06: no planner row count after ANALYZE on $table"))
          .toLong
        val stats = CatalogSync.columnStats(s2, table, key)
        val ndv = stats("distinct_count").toLong
        val exactNdv = df.select(countDistinct(col(key))).head().getLong(0)
        (name, nRows, stats("num_nulls").toLong,
          stats("min").toLong, stats("max").toLong,
          math.abs(ndv - exactNdv) <= exactNdv / 10)
      }
      import s2.implicits._
      perTable.toDF("table_name", "n_rows", "n_nulls",
          "min_key", "max_key", "ndv_ok")
        .orderBy(col("table_name"))
    }

  /** Micro-second-preserving timestamp format for the CSV leg (Spark's
    * CSV default truncates to millis, same trap as the JSON feeds). */
  private val CsvTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** k01: multi-format sink/source round-trip — the events slice written
    * to CSV (schema-on-read text, full quoting/escaping in play) and ORC
    * (the other columnar format Spark ships), read back through each
    * real source, and rolled up per format. Both rollups must equal the
    * parquet-derived oracle row exactly: a lossy round-trip (timestamp
    * truncation, double formatting, delimiter escaping) shows up as a
    * value mismatch in that format's row. Completes §2.1's format
    * conversion story beyond JSON→Parquet (P4).
    *
    * Scale: format choice changes the scan (CSV = no pushdown, no
    * column pruning; ORC/parquet = both) — which is why the lake lands
    * columnar and CSV only ever appears at the ingest edge. The value
    * sum rides micro-scaled integers (the order-free idiom). */
  def k01FormatRoundtrip(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-k01-") { m =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      ev.write.mode("overwrite")
        .option("header", "true").option("timestampFormat", CsvTsFormat)
        .csv(s"${m.tmp}/csv")
      ev.write.mode("overwrite").orc(s"${m.tmp}/orc")
      val csv = s.read.schema(ev.schema)
        .option("header", "true").option("timestampFormat", CsvTsFormat)
        .csv(s"${m.tmp}/csv")
      val orc = s.read.orc(s"${m.tmp}/orc")
      def rollup(df: DataFrame, format: String): DataFrame =
        df.select(lit(format).as("format"), col("event_type"),
            round(col("value") * 1000000).cast("long").as("scaled"),
            hour(col("ts")).as("h"))
          .groupBy(col("format"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("scaled")) * lit(1.0) / lit(1000000.0), 6)
              .as("sum_value"),
            countDistinct(col("h")).as("n_hours"))
      rollup(csv, "csv").unionByName(rollup(orc, "orc"))
        .orderBy(col("format"), col("event_type"))
    }

  /** k03: the JSON round-trip leg — the reference's NATIVE interchange
    * format (its whole pipeline is JSON→Parquet, SDP.py ingestion): the
    * events slice written as JSON lines through the real json writer
    * (timestamps micro-preserving, same format string as k01's CSV leg)
    * and read back schema-first, then the same rollup k01 states — any
    * serialization loss (ts precision, double text round-trip, string
    * escaping in props) breaks the hash against the parquet corpus.
    * Completes the format matrix: parquet (every row), CSV + ORC (k01),
    * JSON here. e2e-tagged like k01 (real write+read I/O vs a
    * parquet-only oracle). */
  def k03JsonRoundtrip(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-k03-") { m =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts"), col("props"))
      ev.write.mode("overwrite")
        .option("timestampFormat", CsvTsFormat)
        .json(s"${m.tmp}/json")
      val back = s.read.schema(ev.schema)
        .option("timestampFormat", CsvTsFormat)
        .json(s"${m.tmp}/json")
      back
        .select(col("event_type"),
          round(col("value") * 1000000).cast("long").as("scaled"),
          hour(col("ts")).as("h"),
          length(col("props")).as("plen"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("scaled")) * lit(1.0) / lit(1000000.0), 6).as("sum_value"),
          countDistinct(col("h")).as("n_hours"),
          sum(col("plen")).as("props_bytes"))
        .orderBy(col("event_type"))
    }

  /** The k04 schema cut: files written BEFORE it carry the v1 schema
    * (no value/event_type columns), files after it the widened v2. */
  val SchemaCut = "2024-01-15"

  /** k04: schema-evolution round-trip — the lake reality x02's crawler
    * handles at the catalog level, exercised at the FILE level: early
    * files carry the v1 schema (id, ts, user), later files the widened
    * v2 (+value, +event_type); one `mergeSchema` read reconciles them,
    * with v1 rows surfacing the new columns as nulls (never dropped,
    * never failing the scan). The rollup pins the evolution semantics:
    * n_total conserves every row across both generations, the null
    * masses equal the v1 population exactly, and the value sum equals
    * the v2 slice's — all restated by the oracle over the original
    * table with the same cut. At scale this is why a reader can span
    * years of layout history in one query (footer-level merge, no
    * rewrite of old files). */
  def k04SchemaEvolution(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-k04-") { m =>
      val ev = Tables.events(s, d)
      val cut = lit(SchemaCut).cast("timestamp")
      ev.filter(col("ts") < cut)
        .select(col("event_id"), col("ts"), col("user_id"))
        .write.mode("overwrite").parquet(s"${m.tmp}/lake/gen=v1")
      ev.filter(col("ts") >= cut)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("value"), col("event_type"))
        .write.mode("overwrite").parquet(s"${m.tmp}/lake/gen=v2")
      val back = s.read.option("mergeSchema", "true").parquet(s"${m.tmp}/lake")
      back.agg(
          count(lit(1)).as("n_total"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
          sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_null_type"),
          count(col("value")).as("n_v2"),
          coalesce(sum(round(col("value") * 100).cast("long")), lit(0L)).as("cents_v2"),
          countDistinct(col("event_type")).as("n_types"))
    }

  /** k02: the bucketed co-located join e2e as a driver row (upgrades the
    * ExtensionsSpec-only proof): orders and lineitem are written as
    * 8-bucket tables on the join key ([[Sinks.writeBucketed]]), then
    * joined WITH BROADCAST DISABLED — the bucketed layout must carry the
    * co-location, and the row makes that claim oracle-visible: the
    * executed join plan's Exchange count rides out as a column the
    * oracle pins to zero. This is THE 100 TB fact-to-fact join shape
    * (pay the shuffle once at write time, never again per query); the
    * revenue rollup itself is oracle-exact via cent-scaled integer sums.
    *
    * e2e-tagged: the Spark side writes and re-reads two real bucketed
    * tables; the oracle is a parquet-only join. */
  def k02BucketedJoin(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-k02-") { m =>
      val s2 = Session.isolated(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val (orders, lineitem) = (s"graft_k02_orders_$tag", s"graft_k02_lineitem_$tag")
      m.onClose { s2.sql(s"DROP TABLE IF EXISTS $orders"); () }
      m.onClose { s2.sql(s"DROP TABLE IF EXISTS $lineitem"); () }
      val o = Tables.orders(s2, d).select(col("o_orderkey"), col("o_orderpriority"))
      val l = Tables.lineitem(s2, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_extendedprice"), col("l_discount"))
      Sinks.writeBucketed(o, orders, "o_orderkey", 8, path = Some(s"${m.tmp}/o"))
      Sinks.writeBucketed(l, lineitem, "o_orderkey", 8, path = Some(s"${m.tmp}/l"))
      val joined = s2.table(orders).join(s2.table(lineitem), "o_orderkey")
      // co-location evidence from the plan that will actually run: any
      // Exchange before the join means the bucketing didn't carry
      val nExch = joined.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
      joined
        .select(col("o_orderpriority"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("cents"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("cents")) * lit(1.0) / lit(100.0), 2).as("revenue"))
        .withColumn("join_zero_exchange", lit(nExch == 0))
        .orderBy(col("o_orderpriority"))
    }

  /** k05: dynamic partition pruning as a hard row — the events slice is
    * landed as a DATE-PARTITIONED lake table (the p05/st01 layout), then
    * joined to a small derived dimension ("hot days": days whose error
    * count is above the corpus average, a scale-free predicate) with the
    * dim side broadcast. Catalyst's PlanDynamicPruningFilters must push a
    * `dynamicpruning` subquery into the fact scan's PartitionFilters —
    * the fact scan reads ONLY the joined days' directories, at runtime,
    * without the filter ever being written against the fact table. The
    * executed plan is interrogated for that filter and the fact rides
    * out as a column the oracle pins TRUE, the k02 zero-Exchange idiom.
    *
    * This is THE selective fact-dim join shape at 100 TB: a day-
    * partitioned petabyte fact joined to a filtered dimension must scan
    * the qualifying partitions only — without DPP the scan cost is the
    * whole table and no amount of join tuning recovers it. The rollup
    * itself is oracle-exact via micro-scaled integer sums.
    *
    * e2e-tagged: the Spark side writes and re-reads a real partitioned
    * lake copy; the oracle is a parquet-only join. */
  def k05DppPrune(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-k05-") { m =>
      val ev = Tables.events(s, d)
      ev.withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(s"${m.tmp}/fact")
      val fact = s.read.parquet(s"${m.tmp}/fact")
      val days = ev.groupBy(to_date(col("ts")).as("d_date"))
        .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
      // The above-average threshold lands as LITERALS (one bounded
      // driver read of two global longs — a scalar at any corpus size):
      // PartitionPruning's selective-predicate check accepts a
      // literal comparison on the dim side but not the equivalent
      // attribute-vs-attribute form via a cross-joined total, which
      // silently disables DPP. Same exact integer predicate as the
      // oracle (`n_errors × n_days > tot_errors`), no float division.
      val totRow = days.agg(count(lit(1)).as("n_days"),
        sum(col("n_errors")).as("tot_errors")).head()
      val (nDays, totErrors) = (totRow.getLong(0), totRow.getLong(1))
      val hot = days
        .filter(col("n_errors") * lit(nDays) > lit(totErrors))
        .select(col("d_date"))
      val joined = fact.join(broadcast(hot), fact("event_date") === hot("d_date"))
      // pruning evidence from the plan that will actually run: the fact
      // scan's PartitionFilters must carry the runtime subquery
      val pruned = joined.queryExecution.executedPlan.toString
        .contains("dynamicpruning")
      joined
        .select(col("event_date"),
          round(col("value") * 1000000).cast("long").as("micros"))
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("micros")).as("sum_value_micros"))
        .withColumn("scan_dpp_pruned", lit(pruned))
        .orderBy(col("event_date"))
    }

  /** k06's per-file row cap — sized so the ceil law bites at every test
    * SF (≥2 files per key from sf0.001 up). At production scale this is
    * the 128 MB-target row count; the LAW is what matters. */
  val LayoutMaxRecords = 150L

  /** k06: physical write-layout contract — the small-files/giant-files
    * control a 100 TB lake lives or dies by: a Hive-partitioned parquet
    * write with `maxRecordsPerFile` must land EXACTLY
    * ⌈rows_key / cap⌉ files per partition key, no more (runaway file
    * counts kill the namenode/listing) and no fewer (the cap is the
    * reader's parallelism floor). The precondition that makes the law
    * exact is the plan, not luck: `repartition(event_type)` puts each
    * key's rows in ONE task, so the writer's per-task file roll is the
    * only splitter (without it, task-fragmenting inflates the count
    * nondeterministically). The row writes the real files, re-reads
    * them, measures actual files per key via `input_file_name()`, and
    * emits measured-vs-law columns; the oracle restates the law from
    * the source table — a writer that ignored the cap, double-rolled,
    * or lost rows is a hash mismatch. */
  /** k07's deliberate fragmentation fan-out, lake extent, and compaction
    * scope. One WEEK of hour dirs (168) is the same per-directory law at
    * 1/4 the file churn of the full month — the laws are per-dir, so the
    * extent buys bench time, not contract strength. */
  val FragTasks = 8
  val FragDays = 7
  val CompactDay = 5

  /** k07: small-file compaction contract — k06's sibling for the OTHER
    * lifecycle moment. A streaming lake accretes one file per
    * (micro-batch × partition-dir); `Sinks.compactPartitioned` is the
    * steady-state maintenance pass, and this row contracts the three
    * facts that make it safe to run against 100 TB of live data:
    *  1. CONTENT: per-day row counts after the swap equal the source
    *     census (the oracle recomputes them from `events` — a compactor
    *     that lost or duplicated a row is a hash mismatch);
    *  2. LAYOUT: the scoped day lands exactly one file per hour dir
    *     (writePartitioned's REBALANCE puts each partition-col group in
    *     one task at this size; at real scale AQE may split a >64 MB
    *     hour and the law relaxes to files ≥ dirs — documented, and the
    *     contract pins the regime the test runs in);
    *  3. ISOLATION: out-of-scope days keep their EXACT file paths (the
    *     swap renames only staged leaves — set-equality on
    *     `input_file_name`, not just counts).
    * The before-census is eagerly checkpointed BEFORE the swap (a lazy
    * frame would silently re-scan the post-compact directory and the
    * isolation law would compare the lake to itself). */
  def k07CompactionLayout(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-k07-") { m =>
      val ev = Tables.events(s, d)
        .filter(dayofmonth(col("ts")) <= FragDays)
        .select(col("event_id"), col("ts"), col("value"))
      graft.transform.Transform.derivePartitions("ts")(ev)
        .repartition(FragTasks) // row-hash spray: every task hits most dirs
        .write.mode("overwrite")
        .partitionBy("year", "month", "day", "hour")
        .parquet(s"${m.tmp}/lake")
      def census(): DataFrame = s.read.parquet(s"${m.tmp}/lake")
        .select(col("year"), col("month"), col("day"), col("hour"),
          input_file_name().as("f"))
        .groupBy(col("year"), col("month"), col("day"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("hour")).as("n_hours"),
          countDistinct(col("f")).as("n_files"),
          sort_array(collect_set(col("f"))).as("paths"))
      val before = census()
        .select(col("year"), col("month"), col("day"),
          col("n_files").as("files_before"), col("paths").as("paths_before"))
        .localCheckpoint(eager = true)
      Sinks.compactPartitioned(s, s"${m.tmp}/lake",
        scope = Some(col("day") === CompactDay))
      census().join(before, Seq("year", "month", "day"))
        .withColumn("in_scope", col("day") === CompactDay)
        .withColumn("layout_ok",
          when(col("in_scope"), col("n_files") === col("n_hours"))
            .otherwise(lit(true)))
        .withColumn("untouched_ok",
          when(!col("in_scope"), col("paths") === col("paths_before"))
            .otherwise(lit(true)))
        .select(col("year"), col("month"), col("day"), col("n_rows"),
          col("n_hours"), col("in_scope"), col("layout_ok"),
          col("untouched_ok"))
        .orderBy(col("year"), col("month"), col("day"))
    }

  def k06FileLayout(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-k06-") { m =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      ev.repartition(col("event_type"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", LayoutMaxRecords)
        .partitionBy("event_type")
        .parquet(s"${m.tmp}/lake")
      // Pin the read-back schema: partition-column type INFERENCE would
      // round-trip a numeric- or date-looking event_type as INT/DATE
      // (and rewrite '01'-style values), diverging from the oracle's
      // VARCHAR grouping. The writer's schema is the contract.
      val back = s.read.schema(ev.schema).parquet(s"${m.tmp}/lake")
      back
        .select(col("event_type"),
          input_file_name().as("f"), col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("f")).as("n_files"))
        .withColumn("law_files",
          ceil(col("n_rows").cast("double") / LayoutMaxRecords).cast("long"))
        .withColumn("law_ok", col("n_files") === col("law_files"))
        .select(col("event_type"), col("n_rows"), col("n_files"),
          col("law_files"), col("law_ok"))
        .orderBy(col("event_type"))
    }

  val queries: Map[String, Q] = Map(
    "k06_file_layout"     -> k06FileLayout _,
    "k07_compaction"      -> k07CompactionLayout _,
    "x01_pipeline_e2e"    -> x01PipelineE2e _,
    "x02_catalog_sql"     -> x02CatalogSql _,
    "x03_parallel_scatter" -> x03ParallelScatter _,
    "x04_map_state"        -> x04MapState _,
    "x05_priority_lanes"   -> x05PriorityLanes _,
    "x06_catalog_stats"    -> x06CatalogStats _,
    "k04_schema_evolution" -> k04SchemaEvolution _,
    "k01_format_roundtrip" -> k01FormatRoundtrip _,
    "k02_bucketed_join"   -> k02BucketedJoin _,
    "k03_json_roundtrip"  -> k03JsonRoundtrip _,
    "k05_dpp_prune"       -> k05DppPrune _,
  )

  val oracleSql: Map[String, String] = Map(
    // k06: the layout law restated from the SOURCE table — n_files and
    // law_files must both equal ceil(rows/cap), and the writer must
    // have lost no rows; the oracle never sees the written files, so
    // any writer deviation lands as a hash mismatch
    "k06_file_layout" -> s"""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(ceil(count(*) / $LayoutMaxRecords.0) AS BIGINT) AS n_files,
             CAST(ceil(count(*) / $LayoutMaxRecords.0) AS BIGINT) AS law_files,
             TRUE AS law_ok
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    // k07: the content law restated from the SOURCE (per-day row and
    // hour counts — a compactor that lost/duplicated rows or invented
    // hours mismatches) plus the layout/isolation laws as pinned TRUEs
    // (physical facts the oracle cannot see; the Spark side measures
    // them from the real files and any violation lands as FALSE)
    "k07_compaction" -> s"""
      SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT hour(ts)) AS BIGINT) AS n_hours,
             day(ts) = $CompactDay AS in_scope,
             TRUE AS layout_ok,
             TRUE AS untouched_ok
      FROM events
      WHERE day(ts) <= $FragDays
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // k05: the same hot-day join straight off the parquet corpus; the
    // DPP fact is pinned TRUE — a plan that stopped pruning fails the row
    "k05_dpp_prune" -> """
      WITH days AS (
        SELECT CAST(ts AS DATE) AS d_date,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
        FROM events GROUP BY 1),
      hot AS (
        SELECT d_date FROM days
        WHERE n_errors * (SELECT count(*) FROM days)
                > (SELECT sum(n_errors) FROM days))
      SELECT CAST(e.ts AS DATE) AS event_date,
             count(*) AS n_events,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_value_micros,
             TRUE AS scan_dpp_pruned
      FROM events e JOIN hot h ON CAST(e.ts AS DATE) = h.d_date
      GROUP BY 1 ORDER BY event_date""",
    // k01: the same per-type rollup straight off the parquet corpus,
    // stated once per format — any round-trip loss breaks that format's
    // rows against this
    "k01_format_roundtrip" -> """
      WITH r AS (
        SELECT event_type, count(*) AS n_events,
               round(sum(CAST(round(value * 1000000) AS BIGINT)) * 1.0
                     / 1000000.0, 6) AS sum_value,
               count(DISTINCT hour(ts)) AS n_hours
        FROM events GROUP BY event_type)
      SELECT format, event_type, n_events, sum_value, n_hours
      FROM (SELECT 'csv' AS format, * FROM r
            UNION ALL
            SELECT 'orc' AS format, * FROM r)
      ORDER BY format, event_type""",
    // k03: the same rollup straight off parquet — any JSON
    // serialization loss breaks a column
    "k03_json_roundtrip" -> """
      SELECT event_type, count(*) AS n_events,
             round(sum(CAST(round(value * 1000000) AS BIGINT)) * 1.0
                   / 1000000.0, 6) AS sum_value,
             count(DISTINCT hour(ts)) AS n_hours,
             CAST(sum(length(props)) AS BIGINT) AS props_bytes
      FROM events GROUP BY event_type ORDER BY event_type""",
    // k02: the same join+rollup straight off parquet; the co-location
    // claim is pinned as a hard TRUE — a shuffle in the bucketed join
    // flips the column and fails the hash compare
    "k02_bucketed_join" -> """
      SELECT o.o_orderpriority,
             count(*) AS n_items,
             round(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
                            AS BIGINT)) * 1.0 / 100.0, 2) AS revenue,
             TRUE AS join_zero_exchange
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderpriority
      ORDER BY o.o_orderpriority""",
    // x05: per-lane accounting stated from the corpus alone. observed_pool
    // MUST equal the lane name (the scheduler saw the routed pool),
    // n_journal the exact submitted+succeeded pair, final_status the
    // journal's last word — any of service routing, journaling, or the
    // lane's data plane going wrong breaks a column.
    "x05_priority_lanes" -> s"""
      SELECT CASE WHEN event_id % 2 = 0 THEN 'high' ELSE 'normal' END AS priority,
             CASE WHEN event_id % 2 = 0 THEN 'high' ELSE 'normal' END AS observed_pool,
             count(*) AS n_rows,
             round(sum(CAST(round(value * 1000000) AS BIGINT)) * 1.0
                   / 1000000.0, 6) AS sum_value,
             CAST(2 AS BIGINT) AS n_journal,
             'SUCCEEDED' AS final_status
      FROM events WHERE ts < TIMESTAMP '$E2eFeedEnd'
      GROUP BY 1, 2 ORDER BY priority""",
    // x06: the ANALYZE stats restated from the corpus — n_rows is what the
    // OPTIMIZER saw (exact by ANALYZE's contract), min/max/nulls exact off
    // DESCRIBE EXTENDED, NDV a TRUE band (the g07/q25 shape)
    "x06_catalog_stats" -> """
      SELECT 'customer' AS table_name, count(*) AS n_rows,
             count(*) - count(c_custkey) AS n_nulls,
             CAST(min(c_custkey) AS BIGINT) AS min_key,
             CAST(max(c_custkey) AS BIGINT) AS max_key,
             TRUE AS ndv_ok
      FROM customer
      UNION ALL
      SELECT 'orders', count(*), count(*) - count(o_custkey),
             CAST(min(o_custkey) AS BIGINT), CAST(max(o_custkey) AS BIGINT), TRUE
      FROM orders
      ORDER BY table_name""",
    // processed = rows passing every rule; quarantined = the complement —
    // NULL rule results count as failures (SchemaValidator semantics)
    "x01_pipeline_e2e" -> s"""
      WITH v AS (
        SELECT event_type,
               ((value <= 300.0)
                AND (event_type IN ('click','view','purchase','signup'))
                AND (CAST(json_extract_string(props, '$$.k') AS BIGINT) < 80))
               IS TRUE AS ok
        FROM events WHERE ts < TIMESTAMP '$E2eFeedEnd')
      SELECT event_type,
             CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_processed,
             CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined
      FROM v GROUP BY event_type ORDER BY event_type""",
    "x02_catalog_sql" -> s"""
      SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
             hour(ts) AS hour, count(*) AS n_rows,
             round(sum(value), 6) AS sum_value
      FROM events
      WHERE ts < TIMESTAMP '$E2eFeedEnd' AND day(ts) <= 2
      GROUP BY 1, 2, 3, 4
      ORDER BY year, month, day, hour""",
    // the scatter/gather must be invisible: same rollup stated directly
    // over the corpus, with the branch count restated from user_id mod 3
    "x03_parallel_scatter" -> s"""
      SELECT event_type,
             count(*) AS n_events,
             round(sum(CAST(round(value * 1000000) AS BIGINT)) * 1.0
                   / 1000000.0, 6) AS sum_value,
             CAST(count(DISTINCT user_id % 3) AS BIGINT) AS n_branches
      FROM events
      WHERE ts < TIMESTAMP '$E2eFeedEnd'
      GROUP BY event_type
      ORDER BY event_type""",
    // k04: the evolution semantics restated over the original table —
    // null masses equal the v1 population, value mass equals the v2 slice
    "k04_schema_evolution" -> s"""
      SELECT count(*) AS n_total,
             count(*) FILTER (WHERE ts < TIMESTAMP '$SchemaCut') AS n_null_value,
             count(*) FILTER (WHERE ts < TIMESTAMP '$SchemaCut') AS n_null_type,
             count(*) FILTER (WHERE ts >= TIMESTAMP '$SchemaCut') AS n_v2,
             CAST(COALESCE(sum(CAST(round(value * 100) AS BIGINT))
               FILTER (WHERE ts >= TIMESTAMP '$SchemaCut'), 0) AS BIGINT) AS cents_v2,
             count(DISTINCT event_type)
               FILTER (WHERE ts >= TIMESTAMP '$SchemaCut') AS n_types
      FROM events""",
    // x04: the Map ≡ groupBy law — the dynamic per-item fan-out gathered
    // by union must equal the plain grouped rollup
    "x04_map_state" -> s"""
      SELECT event_type,
             count(*) AS n_events,
             round(sum(CAST(round(value * 1000000) AS BIGINT)) * 1.0
                   / 1000000.0, 6) AS sum_value,
             count(DISTINCT user_id) AS n_users
      FROM events
      WHERE ts < TIMESTAMP '$E2eFeedEnd'
      GROUP BY event_type
      ORDER BY event_type""",
  )
}
