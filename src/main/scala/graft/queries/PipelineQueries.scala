package graft.queries

import graft.{Materialize, Tables}
import graft.quality.Quality
import graft.quality.Quality.Check
import graft.transform.Transform
import graft.validate.SchemaValidator
import graft.validate.SchemaValidator.Rule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries exercising the pipeline operators (SURVEY §2.2
  * P1-P6, §2.4 G1-G2) over the `events`/`documents`/`customer` tables.
  *
  * Each query routes through the real module ([[SchemaValidator]],
  * [[Transform]], [[Quality]]) rather than inlining expressions, so the
  * driver's DuckDB compare validates the modules themselves. Rule/check
  * thresholds are chosen to split the synthetic data non-trivially
  * (events.value tops out ~490, props.k is 0..99, event_type has 5 values).
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The shared demo rule set over `events`. */
  private[queries] def eventRules = Seq(
    Rule("value_le_300", col("value") <= 300.0),
    Rule("known_type", col("event_type").isin("click", "view", "purchase", "signup")),
    Rule("k_lt_80", get_json_object(col("props"), "$.k").cast("long") < 80))

  private def eventChecks = eventRules.map(r => Check(r.name, r.predicate))

  /** p01: rule validation + routing counts (P1/P6) — per event type, how
    * many rows pass all rules, fail any, and fail each interesting rule.
    * `errors` carries the failed-rule names, as the orchestrator routes on. */
  def p01ValidateEvents(s: SparkSession, d: String): DataFrame =
    SchemaValidator.applyRules(Tables.events(s, d), eventRules)
      .groupBy(col("event_type"))
      .agg(
        sum(when(col(SchemaValidator.IsValidCol), 1L).otherwise(0L)).as("n_valid"),
        sum(when(!col(SchemaValidator.IsValidCol), 1L).otherwise(0L)).as("n_invalid"),
        sum(when(array_contains(col(SchemaValidator.ErrorsCol), "value_le_300"), 1L)
          .otherwise(0L)).as("n_value_err"),
        sum(when(array_contains(col(SchemaValidator.ErrorsCol), "k_lt_80"), 1L)
          .otherwise(0L)).as("n_k_err"))
      .orderBy(col("event_type"))

  /** p02: cleaning + exact dedup keep-first (P2) — canonicalize text,
    * fingerprint, keep the lowest doc_id per fingerprint. */
  def p02CleanDedup(s: SparkSession, d: String): DataFrame = {
    val step = Transform.pipeline(
      Transform.cleanStrings("text"),
      df => df.withColumn("fp", md5(lower(col("text")))),
      Transform.dedupByKey(Seq("fp"), "doc_id"))
    step(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("source"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** p03: broadcast enrichment (P3) — events enriched with the customer
    * dimension (user_id = c_custkey), rolled up by market segment. The
    * dimension broadcasts; the fact side never shuffles for the join. */
  def p03EnrichEvents(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    Transform.enrichOn(dim, "user_id")(Tables.events(s, d))
      .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("segment"))
  }

  /** p05: partition-column derivation (P5) — the reference's Firehose
    * `year=/month=/day=/hour=` projection (SDP.py:197), aggregated to the
    * hourly bucket counts the partitioned sink would produce. */
  def p05DerivePartitions(s: SparkSession, d: String): DataFrame =
    Transform.derivePartitions("ts")(Tables.events(s, d))
      .groupBy(col("year"), col("month"), col("day"), col("hour"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("year"), col("month"), col("day"), col("hour"))

  /** g01: quality scoring (G1) — per-check pass rates, composite score, and
    * the 0.8 gate verdict (SDP.py:413), per event type. One partial+final
    * aggregate regardless of scale. */
  def g01QualityScore(s: SparkSession, d: String): DataFrame = {
    val checks = eventChecks
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(Quality.perCheck(checks)(0), 6).as("value_ok_rate"),
        round(Quality.perCheck(checks)(1), 6).as("type_ok_rate"),
        round(Quality.perCheck(checks)(2), 6).as("k_ok_rate"),
        round(Quality.scoreAll(checks), 6).as("quality"),
        (round(Quality.scoreAll(checks), 6) > 0.8).as("gate_pass"))
      .orderBy(col("event_type"))
  }

  /** g02: pipeline-health metrics (G2) — hourly success/error rates, the
    * shape of the state-log rollup behind the reference's dashboards
    * (README:236-241); `error` events stand in for failed stages. */
  def g02HourlyMetrics(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
        round(sum(when(col("event_type") =!= "error", 1.0).otherwise(0.0)) / count(lit(1)), 6)
          .as("success_rate"))
      .orderBy(col("hour_bucket"))

  /** g03 drift threshold: a day whose event-type mix sits more than this
    * total-variation distance from the corpus-wide mix is flagged. */
  val DriftTvMax = 0.05

  /** g03: distribution-drift monitor — the dataset-health check a
    * training-data pipeline runs on every ingest slice: per day, the
    * total-variation distance between that day's event-type distribution
    * and the corpus-wide distribution, with a drift flag. Everything
    * derives from ONE (day, type) count aggregate that combines
    * map-side; the window functions that turn counts into the two
    * distributions run over that ~days×types-row aggregate, never the
    * corpus — at 100 TB the windowed stage touches thousands of rows
    * regardless of input volume. */
  def g03DriftMonitor(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val enriched = counts
      .withColumn("p_day",
        col("n").cast("double") / sum(col("n")).over(Window.partitionBy(col("day"))))
      .withColumn("p_glob",
        sum(col("n")).over(Window.partitionBy(col("event_type"))).cast("double") /
          sum(col("n")).over(Window.partitionBy()))
    enriched.groupBy(col("day"))
      .agg(
        round(sum(abs(col("p_day") - col("p_glob"))) / 2, 6).as("tv_distance"),
        sum(col("n")).as("n_events"))
      .withColumn("is_drifted", col("tv_distance") > DriftTvMax)
      .orderBy(col("day"))
  }

  /** Per-stratum sampling rates for p06, as 256ths encoded in the first
    * two hex digits of md5(event_id): a row is in the sample iff its hex
    * prefix sorts below the stratum's threshold. md5 of the decimal id
    * string is bit-identical across engines, so the SAMPLE ITSELF is
    * deterministic and exactly reproducible — no tolerance band needed —
    * while still being hash-uniform within each stratum. Rates upsample
    * the rare class (purchase keeps everything) and downsample the
    * noisy ones — the training-data mixture-sampling shape. */
  val SampleThresholds: Seq[(String, String)] = Seq(
    "click"    -> "40", // 64/256 = 25 %
    "view"     -> "20", // 32/256 = 12.5 %
    "purchase" -> "ff", // ~100 % (255/256; 'ff' prefix itself excluded)
    "signup"   -> "80", // 128/256 = 50 %
    "error"    -> "10") // 16/256 = 6.25 %

  /** p06: deterministic stratified sampling (the training-data mixture
    * pass): per event type, hash-gate each row at the stratum's rate.
    * One narrow projection + one aggregate — at 100 TB the sample
    * decision is a per-row expression on the scan, no shuffle beyond the
    * final rollup, and re-running it reproduces the same sample
    * (hash-gated sampling is idempotent, unlike `TABLESAMPLE`'s
    * partition-dependent Bernoulli draw). */
  def p06StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val threshold = SampleThresholds.foldLeft(lit("00")) { case (acc, (t, hex)) =>
      when(col("event_type") === t, lit(hex)).otherwise(acc)
    }
    Tables.events(s, d)
      .withColumn("in_sample", graft.functions.HashGate.lt(col("event_id"), threshold))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("event_type"))
  }

  /** p07: CDC upsert (latest-wins merge). A deterministic ~25 % of events
    * (md5 gate) plays the update batch: same event_id, value shifted
    * +1000, version (`ts`) advanced 1 hour — so for every gated key the
    * update strictly wins. [[Transform.upsert]] merges; the rollup proves
    * (a) the table did not grow (n_rows = base count per type), (b) every
    * gated row's value was replaced (sum reflects the +1000 shift), and
    * (c) exactly the gated rows were updated. The +1000 shift keeps
    * updated values disjoint from the corpus range (value ≲ 500), so
    * n_updated is derivable from the merged output alone. */
  /** p07's update-batch gate rate (~25 %). */
  val UpsertGateHex = "40"

  def p07Upsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
    val gate = graft.functions.HashGate(col("event_id"), UpsertGateHex)
    val updates = base.filter(gate)
      .withColumn("value", round(col("value") + 1000.0, 2))
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
    Transform.upsert(base, updates, Seq("event_id"), "ts")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("value")), 6).as("sum_value"),
        sum(when(col("value") >= 1000.0, 1L).otherwise(0L)).as("n_updated"))
      .orderBy(col("event_type"))
  }

  /** p08: SCD2 history — the per-(user, event_type) state timeline. The
    * corpus splits at Jan 21: days 1-20 build the initial history
    * ([[Transform.scd2]]), days 21-30 play the CDC batch applied
    * incrementally ([[Transform.scd2Apply]]). The output is the FULL
    * resulting history; the oracle is the GLOBAL rebuild over all events
    * — so the row proves incremental maintenance ≡ rebuild, interval by
    * interval. (Within-key ts ties would make `lead` pairing ambiguous
    * but produce the same row MULTISET either way; since the compare is
    * row-ordered, `valid_to` joins the sort on both sides to make the
    * order total.) */
  def p08Scd2(s: SparkSession, d: String): DataFrame = {
    val keys = Seq("user_id", "event_type")
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val split = lit("2024-01-21").cast("timestamp")
    val history = Transform.scd2(ev.filter(col("ts") < split), keys, "ts")
    Transform.scd2Apply(history, ev.filter(col("ts") >= split), keys, "ts")
      .select(col("user_id"), col("event_type"), col("valid_from"),
        // open-row convention (and no nulls through the value-hash
        // compare): current rows end at a far-future sentinel. 2100-01-01,
        // NOT 9999-12-31 — the driver reads the dumped parquet through a
        // nanosecond-resolution timestamp path, and 9999-12-31 exceeds the
        // int64-nanos range (overflows to year 1816), failing the hash
        // compare on values that are semantically identical.
        coalesce(col("valid_to"), lit("2100-01-01").cast("timestamp")).as("valid_to"),
        col("is_current"))
      .orderBy(col("user_id"), col("event_type"), col("valid_from"), col("valid_to"))
  }

  /** p09 shard count — 16 divides 256, so the two-hex-digit gate space
    * spreads exactly evenly across shards. */
  val NumShards = 16

  /** p09: training-shard manifest — the "global shuffle" step that ends a
    * training-data pipeline: every document gets a deterministic,
    * content-addressed shard (md5 of its id, [[graft.functions.HashGate
    * .shard]]), and the manifest reports per-shard doc counts, byte
    * volume, and id range. Hash sharding (vs range/round-robin) is what
    * survives scale: the assignment is a per-row expression on the scan
    * (no global sort, no coordination), any engine reproduces it, and
    * appending a new batch never reshuffles existing shards. The
    * manifest aggregate combines map-side into ≤ [[NumShards]] rows per
    * partition; [[graft.sink.Sinks.writeHashSharded]] is the sink that
    * materializes the layout this manifest describes. */
  def p09ShardManifest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("shard", graft.functions.HashGate.shard(col("doc_id"), NumShards))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("shard"))

  /** p10 re-ingestion gate: ~25 % of docs arrive a second time (the m03
    * deterministic re-ingestion model — overlapping crawls deliver the
    * same content twice), so the funnel's dedup stage measures a real
    * removal, not a vacuous pass-through. */
  val FunnelReingestHex = "40"

  /** p10 funnel bands, chosen to split the synthetic corpus non-trivially
    * at every stage (640 → 545 → 463 → 383 → 300 at sf0.01). */
  val FunnelLangs: Seq[String] = Seq("en", "es", "de", "fr")
  val FunnelMinChars = 100
  val FunnelMaxChars = 500
  val FunnelMinTokens = 30

  /** p10: corpus filter-funnel report — the per-stage survivor counts a
    * training-data pipeline publishes with every corpus release
    * (ingested → language filter → length band → token floor → exact
    * dedup). ONE scan, genuinely: the re-ingested copy is a multiplicity
    * WEIGHT on the row (gated docs count twice), not a union that would
    * read the corpus a second time — stage counts become weighted sums,
    * and the dedup stage is indifferent to multiplicity by definition
    * (count-distinct over the stage-3 survivors' fingerprints). Catalyst
    * plans the mixed distinct/non-distinct aggregate as a two-phase
    * Expand — partial aggregation map-side, only counts cross the
    * exchange; the corpus itself never shuffles. The single wide row
    * then unpivots to the (stage_idx, stage, n_docs) funnel via `stack`
    * — 5 rows, no second scan. */
  def p10Funnel(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextAnalysis.{normText, tokens}
    val c1 = col("lang").isin(FunnelLangs: _*)
    val c2 = c1 && col("n_chars").between(FunnelMinChars, FunnelMaxChars)
    val c3 = c2 && size(tokens(col("text"))) >= FunnelMinTokens
    val weight = when(
      graft.functions.HashGate(col("doc_id"), FunnelReingestHex), 2L).otherwise(1L)
    Tables.documents(s, d)
      .select(c1.as("c1"), c2.as("c2"), c3.as("c3"), weight.as("w"),
        md5(normText(col("text"))).as("fp"))
      .agg(
        sum(col("w")).as("s0"),
        sum(when(col("c1"), col("w")).otherwise(0L)).as("s1"),
        sum(when(col("c2"), col("w")).otherwise(0L)).as("s2"),
        sum(when(col("c3"), col("w")).otherwise(0L)).as("s3"),
        countDistinct(when(col("c3"), col("fp"))).as("s4"))
      .selectExpr(
        """stack(5,
             0, 'ingested',   s0,
             1, 'lang_kept',  s1,
             2, 'len_band',   s2,
             3, 'tok_floor',  s3,
             4, 'deduped',    s4) AS (stage_idx, stage, n_docs)""")
      .orderBy(col("stage_idx"))
  }

  /** p11 shuffle geometry: seed re-deals the permutation; 16 shards (the
    * p09 manifest count) so the two ops describe the same layout. */
  val ShuffleSeed = "42"
  val NumShuffleShards = 16

  /** p11: deterministic training-order shuffle — the global permutation a
    * training run consumes. Every doc gets a seeded content-addressed
    * sort key ([[graft.functions.HashGate.seededHex]]); its shard is the
    * key's hex prefix mod [[NumShuffleShards]], its position the
    * row_number within the shard ordered by (key, doc_id). Scale shape:
    * this is exactly the sharded-sink write pattern — ONE hash exchange
    * on shard then a per-shard local sort (each shard is corpus/16; a
    * real run writes shard files with this sortWithinPartitions order,
    * never a global sort), and re-running with the same seed reproduces
    * the permutation bit-identically on any engine, so a resumed or
    * re-provisioned training job reads the same order without any stored
    * shuffle state. */
  def p11ShardShuffle(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.HashGate.seededHex(col("doc_id"), ShuffleSeed).as("h"))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 2), 16, 10).cast("int")
          % NumShuffleShards).cast("int"))
    keyed
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** p12: deterministic train/val/test split — assignment is a pure
    * function of (doc_id), not of row order or partitioning: the first
    * two hex digits of md5(doc_id) land in [0,256) and fixed cut points
    * carve ~4 % test, ~4 % val, rest train ([[graft.functions.HashGate]]).
    * Scale: a stateless narrow map over the scan — no shuffle, no RNG
    * state, identical assignment on any engine / cluster size / rerun,
    * which is what makes held-out sets auditable at 100 TB. */
  /** The p12 split assignment as a reusable expression (md5-prefix cut
    * points ~4/4/92 %) — shared by p12 and the p16 curation funnel, with
    * [[splitCaseSql]] as its oracle twin. */
  def splitCol(id: Column): Column = {
    import graft.functions.HashGate
    when(HashGate.prefix(id) < "0a", "test")
      .when(HashGate.prefix(id) < "14", "val")
      .otherwise("train")
  }

  /** DuckDB form of [[splitCol]]. */
  def splitCaseSql(idCol: String): String =
    s"""CASE WHEN ${graft.functions.HashGate.sqlPrefix(idCol)} < '0a' THEN 'test'
             WHEN ${graft.functions.HashGate.sqlPrefix(idCol)} < '14' THEN 'val'
             ELSE 'train' END"""

  def p12TrainSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"))
      .orderBy(col("doc_id"))

  /** p13: source-balancing mixture — per-source keep rates DERIVED from
    * the data (rate = smallest source count / source count) so every
    * source contributes ~equally to the mix, then applied as a
    * deterministic per-row md5 gate. The two-phase shape is the 100 TB
    * pattern for data mixing: a tiny per-source aggregate (broadcast
    * back) decides rates; the gate itself is a narrow stateless map —
    * rows are never shuffled, and the integer threshold arithmetic
    * (`floor(rate·256)`) is bit-identical across engines. */
  def p13SourceMix(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HashGate
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    val rates = counts.withColumn("threshold",
      floor(min(col("n_total")).over() * 256.0 / col("n_total")).cast("int"))
    docs.join(broadcast(rates), "source")
      .groupBy(col("source"))
      .agg(
        first(col("n_total")).as("n_total"),
        sum(when(conv(HashGate.prefix(col("doc_id")), 16, 10).cast("int")
          < col("threshold"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** p14 snapshot model: keys ≡ [[DiffRemovedMod]] (mod 10) exist only in
    * the old snapshot, keys ≡ [[DiffAddedMod]] only in the new one, and
    * every fifth shared key carries a price bump — added / removed /
    * changed / unchanged all non-empty by construction. */
  val DiffRemovedMod = 3
  val DiffAddedMod = 7

  /** Row fingerprint for p14: the compared columns collapse to one md5 so
    * the diff join carries 16 bytes per side, not the row width. Doubles
    * enter via round(·,2) → DECIMAL(18,2) → string, a rendering both
    * engines produce identically ("123.40"); raw double-to-string is NOT
    * cross-engine stable. */
  private def diffFp(price: Column): Column =
    md5(concat_ws("|",
      col("o_orderstatus"), col("o_orderpriority"),
      round(price, 2).cast("decimal(18,2)").cast("string")))

  /** p14: snapshot diff — the added / removed / changed / unchanged
    * audit between two versions of a mutable table
    * ([[Transform.snapshotDiff]]; the companion to p07's upsert and
    * p08's SCD2: upsert writes the new version, diff explains it). Two
    * deterministic snapshots are derived from `orders` (see
    * [[DiffRemovedMod]]); the diff itself is ONE full-outer join on the
    * key comparing row fingerprints.
    *
    * Scale: each side reduces to (key, 16-byte fingerprint) on its scan —
    * the join never carries row bodies; at 100 TB both snapshots live as
    * key-bucketed tables ([[graft.sink.Sinks.writeBucketed]]) and the
    * full-outer join plans with zero Exchange, so a daily diff of a
    * billion-row dimension is a map-side merge per bucket. */
  def p14SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val oldSnap = orders
      .filter(col("o_orderkey") % 10 =!= DiffAddedMod)
      .withColumn("__price", col("o_totalprice"))
    val newSnap = orders
      .filter(col("o_orderkey") % 10 =!= DiffRemovedMod)
      .withColumn("__price",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    Transform.snapshotDiff(oldSnap, newSnap, "o_orderkey", diffFp(col("__price")))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy(col("category"))
  }

  /** p15: per-source document cap. */
  val SourceCapK = 30

  /** p15: per-source quality cap — keep the top [[SourceCapK]] documents
    * per source by (n_chars desc, doc_id), the "cap any one domain's
    * contribution" rule of web-corpus curation (the rate-based
    * counterpart is p13; the cap is rank-based and deterministic).
    *
    * Scale: `row_number` + `rank <= K` plans a WindowGroupLimit
    * (pinned in PlanSpec) — each map task keeps only its local top-K per
    * source before the exchange, so the shuffle carries O(sources·K) per
    * task, not the corpus; bodies never ride the window (doc_id, source,
    * n_chars only). */
  def p15SourceCap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= SourceCapK)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rank"))
  }

  /** p17: per-source token budget (bites at every test SF: sources carry
    * ~1.2k tokens at sf0.01 and ~12k at sf0.1, so the 800-token quota
    * always truncates; the kept PREFIX is SF-stable because ranking is
    * n_chars-desc). */
  val SourceTokenBudget = 800L

  /** p17: per-source TOKEN-budget fill — rank each source's documents by
    * (n_chars desc, doc_id) and keep the longest prefix whose cumulative
    * token count fits [[SourceTokenBudget]]. This is the token-quota form
    * of domain capping (training mixes are specified in tokens, not
    * document counts — a source's budget is "N billion tokens", and the
    * fill takes the best-ranked documents until the quota is spent);
    * p15 is the document-COUNT form, p13 the rate form.
    *
    * Scale: the window input is projected to (doc_id, source, n_chars,
    * n_tokens) before the exchange — bodies never ride the sort — and the
    * running sum is one pass per source partition. Unlike p15's rank≤K
    * there is no WindowGroupLimit analogue for a cumsum predicate (the
    * cutoff rank isn't known until the frame is summed), so each source's
    * (id, counts) tuples do reach one task; at 100 TB that is
    * O(docs-per-source × 24 bytes), and a source too large for that has
    * its quota split by shard first ([[graft.functions.HashGate.shard]]).
    * The oracle recomputes the same window in DuckDB row-for-row. */
  def p17TokenBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= SourceTokenBudget)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  /** p19: minimum surviving-token floor — a document gutted by line
    * dedup below this is not worth budgeting (the floor bites at test
    * SF: exact-dup docs come out of d11 with 0 kept tokens). */
  val MinKeptTokens = 20L

  /** p19: dedup-then-budget — the stage CHAINING real curation runs:
    * [[graft.dedup.Dedup.d11Rewritten]] first (corpus-wide line dedup
    * rewrites every document), then the p17 token-budget fill ranks and
    * spends on the POST-rewrite token counts. The ordering matters:
    * budgeting before dedup overcounts exactly the duplicated mass the
    * rewrite removes, so a source full of boilerplate would steal quota
    * it cannot fill. Docs gutted below [[MinKeptTokens]] drop before
    * ranking (an exact-dup doc keeps 0 tokens and must not occupy a
    * budget slot).
    *
    * Scale: d11's shape (hashes shuffle, text doesn't) feeding p17's
    * shape (the cumsum window rides (id, counts) tuples only); the
    * chained plan keeps both properties — the only new work is the
    * per-source window over the already-reduced (doc, count) frame. */
  def p19DedupBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.dedup.Dedup.d11Rewritten(s, d)
      .select(col("doc_id"), col("source"),
        size(col("kt")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= MinKeptTokens)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= SourceTokenBudget)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  /** p18: epoch-mix materialization — deterministic OVER-sampling to a
    * token-mass target (the "2.5 epochs of source X" training recipe;
    * the up-sampling counterpart of p13's down-sampling rates and p17's
    * truncation): every source's repeat factor equalizes its token mass
    * to the LARGEST source, each document emits floor(factor) copies,
    * and the fractional epoch is an md5-gated extra copy — so the
    * materialized list is a pure function of the corpus, reproducible
    * on any engine, with no RNG state (the p06/p11/p12 determinism
    * rule). The factor arithmetic stays in BIGINTs (whole = max div tok;
    * 256ths threshold = (max mod tok)·256 div tok, the p13 idiom) so no
    * float rounding can flip a copy count between engines.
    *
    * Scale shape: the factor table is one tiny aggregate broadcast back;
    * the copy explosion is map-side on the scan (`sequence` + explode,
    * fanout = per-source epochs, bounded by the mix recipe); the rollup
    * is one source-keyed aggregate with map-side partials. The exploded
    * list itself is what a real run writes to shards ([[graft.sink.Sinks
    * .writeHashSharded]]); the row reports the per-source accounting
    * (n_copies, tokens_after) that proves the generator ran. */
  def p18EpochMix(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HashGate
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
    val factors = docs.groupBy(col("source")).agg(sum(col("nt")).as("tok"))
      .withColumn("tok_max", max(col("tok")).over())
      .select(col("source"),
        expr("tok_max div tok").as("whole"),
        expr("((tok_max % tok) * 256) div tok").as("thr"))
    docs.join(broadcast(factors), "source")
      .select(col("doc_id"), col("source"), col("nt"),
        (col("whole") + when(conv(HashGate.prefix(col("doc_id")), 16, 10)
          .cast("long") < col("thr"), 1L).otherwise(0L)).as("copies"))
      .select(col("doc_id"), col("source"), col("nt"),
        explode(sequence(lit(1L), col("copies"))).as("copy_idx"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("copy_idx") === 1L, 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("copy_idx") === 1L, col("nt")).otherwise(0L))
          .as("tokens_before"),
        count(lit(1)).as("n_copies"),
        sum(col("nt")).as("tokens_after"))
      .orderBy(col("source"))
  }

  /** g08: inter-source duplication matrix — for every ordered source
    * pair (a, b), how many of a's distinct word-3-gram shingles also
    * appear in b, and what fraction of a that covers. The curation
    * diagnostic run BEFORE dropping or deprioritizing a source: a high
    * overlap_frac(a→b) with b's much larger shingle set says a is mostly
    * contained in b (a re-crawl, a mirror, a subset dump) and can go;
    * asymmetry says which side is the superset. Complements d08 (corpus
    * vs one benchmark) by comparing every source against every other.
    *
    * Scale shape: ONE corpus scan — shingles hash to 64 bits in the
    * generator, one (hash, source) shuffle with map-side partial
    * `collect_set` dedup, and each shingle's source set explodes into
    * ordered pairs, INCLUDING the diagonal: (a, a) counts once per
    * shingle containing a, so the same aggregate yields both the shared
    * counts and each source's distinct-shingle total — no second corpus
    * pass for the denominators. The pair fanout is bounded by
    * #sources² per shingle (sources are an enumerable domain, 20 here),
    * and everything after the first aggregate is O(#sources²) rows. The
    * ≤ #sources² matrix is localCheckpoint'd (t14's measured trade) so
    * the diagonal join doesn't re-run the scan. */
  def g08SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val sets = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.ShingleFunctions.shingles3(col("text"))).as("sg"))
      .select(col("source"), xxhash64(col("sg")).as("h"))
      .groupBy(col("h")).agg(collect_set(col("source")).as("ss"))
    val m = sets
      .select(col("ss"), explode(col("ss")).as("source_a"))
      .select(col("source_a"), explode(col("ss")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // ≤ #sources² rows; consumed twice
    val diag = m.filter(col("source_a") === col("source_b"))
      .select(col("source_a"), col("n").as("n_a"))
    m.filter(col("source_a") =!= col("source_b"))
      .join(broadcast(diag), Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("n").as("n_shared"),
        col("n_a"),
        round(col("n").cast("double") / col("n_a"), 6).as("overlap_frac"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** g05: histogram bin count. */
  val HistBins = 8

  /** g05: equi-width histograms for numeric columns (long form: one row
    * per column × bin) — the distribution companion to g04's scalar
    * profile. Two aggregates: a 3-row min/max bounds pass, broadcast back
    * into the binning scan, then the (col, bin) count.
    *
    * Scale: the unpivot (`stack`) is row-local on the scan; binning is
    * `floor((v − lo)·B / (hi − lo))` — one shared subexpression, the
    * SAME tree on both engines so double arithmetic is bit-identical —
    * and only (col, bin) pairs (≤ K·B distinct) reach the exchange via
    * map-side partials. The extra bounds scan is the honest price of
    * exact edges; at 100 TB bounds come from catalog stats (g04) or the
    * parquet footers, making this single-pass. */
  def g05Histogram(s: SparkSession, d: String): DataFrame = {
    val long = Tables.lineitem(s, d).selectExpr(
      s"""stack(3,
           'l_discount',      CAST(l_discount AS DOUBLE),
           'l_extendedprice', CAST(l_extendedprice AS DOUBLE),
           'l_quantity',      CAST(l_quantity AS DOUBLE)) AS (col_name, v)""")
    val bounds = long.groupBy(col("col_name"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val bin = when(col("hi") === col("lo"), lit(0L)).otherwise(
      least(floor((col("v") - col("lo")) * HistBins / (col("hi") - col("lo"))),
        lit((HistBins - 1).toLong))).cast("long")
    long.join(broadcast(bounds), "col_name")
      .withColumn("bin", bin)
      .groupBy(col("col_name"), col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 6).as("v_min"),
        round(max(col("v")), 6).as("v_max"))
      .orderBy(col("col_name"), col("bin"))
  }

  /** g06 anomaly gate: |z| beyond this flags the hour. */
  val AnomalyZMax = 3.0

  /** g06: hourly anomaly detection — each hour's event count z-scored
    * against its trailing 24-hour window (exclusive), the alerting rule
    * behind the reference's error/stream-rate alarms (SDP.py:513-576:
    * "N errors in M periods") run as a batch monitor over the same
    * journal G2 feeds.
    *
    * Scale: the window runs over the HOURLY AGGREGATE (one row per hour —
    * 8,760/year), never the corpus; a single-partition window over that
    * frame is deliberate and bounded. Hours with fewer than 2 trailing
    * observations (or zero variance) get a NULL z and never flag, stated
    * identically in both engines.
    *
    * The hourly series is DENSIFIED before the window (sequence over
    * [min, max] hour, left join, n = 0 fill): an hour with zero events
    * must appear as a row, both so the ROWS BETWEEN -24 AND -1 frame
    * really is the trailing 24 wall-clock hours (gaps would silently
    * stretch an observation-count frame) and because a silent feed is
    * exactly the condition an anomaly monitor exists to flag — a dead
    * hour scores a large NEGATIVE z against a healthy baseline. */
  def g06Anomaly(s: SparkSession, d: String): DataFrame =
    anomalyMonitor(Tables.events(s, d))

  /** [[g06Anomaly]]'s core over any event frame (spec entry point for
    * gap behavior, which the gap-free test corpus can't exhibit). */
  def anomalyMonitor(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("hour_bucket")).rowsBetween(-24, -1)
    val hourly = events
      .groupBy(date_trunc("hour", col(tsCol)).as("hour_bucket"))
      .agg(count(lit(1)).as("n"))
    val bounds = hourly.agg(min(col("hour_bucket")).as("lo"),
      max(col("hour_bucket")).as("hi"))
    val grid = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
        .as("hour_bucket"))
    val dense = grid.join(hourly, Seq("hour_bucket"), "left")
      .select(col("hour_bucket"), coalesce(col("n"), lit(0L)).as("n"))
    val cnt = count(col("n")).over(w)
    val mean = avg(col("n")).over(w)
    val std = stddev_samp(col("n")).over(w)
    val z = when(cnt >= 2 && std > 0,
      (col("n") - mean) / std).otherwise(lit(null).cast("double"))
    dense
      .select(col("hour_bucket"), col("n"),
        round(z, 6).as("z"),
        coalesce(abs(z) > AnomalyZMax, lit(false)).as("is_anomaly"))
      .orderBy(col("hour_bucket"))
  }

  /** Columns profiled by g04 with their kind; a case class rather than
    * tuples so the per-column struct construction reads as a schema. */
  private case class ProfiledCol(name: String, isNumeric: Boolean)

  /** g04: one-pass column profiler (crawler/data-quality surface,
    * SURVEY §2.10 X8 + G1) — per column: row count, null count, exact
    * distinct count, numeric min/max, string min/max, in LONG form (one
    * row per column) like a catalog stats table.
    *
    * Scale: a single aggregate over one scan; the multi-column exact
    * `count(DISTINCT ...)` plans as one Expand (×K rows) feeding ONE
    * shuffle with map-side partials — the standard profile plan. At
    * 100 TB the drop-in economization is `approx_count_distinct` per
    * column (no Expand, fixed-size HLL buffers); exact is kept here
    * because the cross-engine oracle can state it, and q25 already
    * carries the approx contract shape. The unpivot to long form is a
    * driver-free explode over a one-row aggregate.
    *
    * Measured trade-off (round 5, sf0.1): splitting into a non-distinct
    * agg + a distinct-only agg cross-joined runs 0.8 s vs 1.8 s mixed —
    * the mixed plan's Expand re-aggregates every non-distinct lane
    * through the exchange. Kept one-pass anyway: at production scale the
    * second SCAN costs more than the Expand constant, and partial
    * aggregation dedups each distinct lane before it ships.
    *
    * Crossover measured (round 8, local[32], 3-run min, page-cached):
    * at 100 k rows — Expand one-pass 1.42 s, per-column passes (1 base +
    * 5 single-distinct scans, no Expand) 0.80 s, HLL one-pass 0.40 s; at
    * 1 M rows — 3.01 s / 1.09 s / 0.49 s. So when the scan is FREE
    * (cached local parquet) the Expand's 6× row blowup costs ~3× wall
    * and per-column wins at every local scale; the regimes cross where a
    * scan pass stops being free — at 100 TB off object storage the
    * per-column plan pays 5 extra full-table reads (~6× IO) against the
    * Expand's in-memory constant, which is the regime this table is
    * designed for. The ranking HLL < per-column < Expand at local scale
    * and HLL < Expand < per-column at scan-bound scale is why
    * `exact = false` (HLL, Expand-free, one scan) is the documented
    * 100 TB default and the exact Expand plan is kept only as the
    * oracle-checkable reference path.
    *
    * `exact = false` is the 100 TB knob (VERDICT r5 item 3): per-column
    * `approx_count_distinct` (rsd 5%) — no Expand at all, one plain
    * hash-aggregate pass with fixed-size HLL buffers per lane, so the
    * exchange carries K sketches instead of K× the deduped lane rows.
    * The exact path stays the default because the cross-engine oracle
    * can state it; g07_profile_approx carries the approx contract
    * (q25-style band vs the exact counts) and PlanSpec asserts the
    * approx plan is Expand-free. */
  def g04Profile(s: SparkSession, d: String): DataFrame =
    g04Profile(s, d, exact = true)

  def g04Profile(s: SparkSession, d: String, exact: Boolean): DataFrame = {
    val cols = Seq(
      ProfiledCol("event_id", isNumeric = true),
      ProfiledCol("event_type", isNumeric = false),
      ProfiledCol("props", isNumeric = false),
      ProfiledCol("user_id", isNumeric = true),
      ProfiledCol("value", isNumeric = true))
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c.name)).as(s"${c.name}__nn"),
        (if (exact) countDistinct(col(c.name))
         else approx_count_distinct(col(c.name), 0.05)).as(s"${c.name}__nd")) ++
        (if (c.isNumeric) Seq(
          min(col(c.name)).cast("double").as(s"${c.name}__min"),
          max(col(c.name)).cast("double").as(s"${c.name}__max"))
        else Seq(
          min(col(c.name)).as(s"${c.name}__mins"),
          max(col(c.name)).as(s"${c.name}__maxs")))
    }
    val one = Tables.events(s, d)
      .agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = cols.map { c =>
      struct(
        lit(c.name).as("col_name"),
        col("__n").as("n"),
        (col("__n") - col(s"${c.name}__nn")).as("n_null"),
        col(s"${c.name}__nd").as("n_distinct"),
        (if (c.isNumeric) col(s"${c.name}__min")
         else lit(null).cast("double")).as("min_num"),
        (if (c.isNumeric) col(s"${c.name}__max")
         else lit(null).cast("double")).as("max_num"),
        (if (c.isNumeric) lit(null).cast("string")
         else col(s"${c.name}__mins")).as("min_s"),
        (if (c.isNumeric) lit(null).cast("string")
         else col(s"${c.name}__maxs")).as("max_s"))
    }
    one.select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** g07: the approx-profile contract row — the `exact = false` profiler
    * (the 100 TB path) checked q25-style against the exact counts: the
    * HLL estimate must land within 10 % per column (rsd 5% ⇒ ~2σ). Runs
    * BOTH paths at test SF so the band is stated from data; the approx
    * plan's Expand-freeness is asserted separately in PlanSpec. */
  def g07ProfileApprox(s: SparkSession, d: String): DataFrame = {
    val approx = g04Profile(s, d, exact = false)
      .select(col("col_name"), col("n"), col("n_null"),
        col("n_distinct").as("nd_approx"))
    val exact = g04Profile(s, d, exact = true)
      .select(col("col_name"), col("n_distinct").as("nd_exact"))
    approx.join(broadcast(exact), Seq("col_name"))
      .select(col("col_name"), col("n"), col("n_null"),
        (abs(col("nd_approx") - col("nd_exact")) <=
          col("nd_exact") * 0.1).as("approx_ok"))
      .orderBy(col("col_name"))
  }

  /** g09 Zipf fit depth: the OLS slope is fitted over the K most
    * frequent types per source. 100 keeps the fit in the head of the
    * distribution (where Zipf's law is stated) and makes the frame a
    * constant-size per-group top-k, independent of vocabulary size. */
  val ZipfTopK = 100

  /** g09: per-source token-distribution profile — the corpus-statistics
    * panel a curation run reads before choosing mixture weights: total
    * tokens, vocabulary size, type/token ratio, top-1 token share,
    * Shannon entropy of the unigram distribution (nats), and the Zipf
    * slope (OLS of ln(freq) on ln(rank) over the [[ZipfTopK]] head —
    * natural text sits near −1; templated/synthetic text drifts off it,
    * which is what makes the panel a drift alarm for incoming sources).
    *
    * Scale shape: ONE (source, term) shuffle with map-side partials;
    * everything downstream runs over the vocabulary-sized count table,
    * never the corpus. Entropy folds into the same aggregate via
    * H = ln(n) − (Σ c·ln c)/n, so no second pass and no re-join against
    * totals; the Zipf head is a per-source top-k (WindowGroupLimit — the
    * rank exchange carries (source, term, c) triples only) and the slope
    * is a single `regr_slope` over ≤ [[ZipfTopK]] rows per source.
    * Ties at the head boundary break on term so both engines fit the
    * same 100 rows; round(·,6) pins the float results (t15/t16
    * precedent). */
  def g09TokenProfile(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val stats = counts.groupBy(col("source")).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      max(col("c")).as("top_c"),
      sum(col("c").cast("double") * log(col("c").cast("double"))).as("clnc"))
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("term"))
    val zipf = counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ZipfTopK)
      .groupBy(col("source"))
      .agg(expr("regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))")
        .as("slope"))
    stats.join(zipf, "source")
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("top_c").cast("double") / col("n_tokens"), 6).as("top1_share"),
        round(log(col("n_tokens").cast("double")) -
          col("clnc") / col("n_tokens"), 6).as("entropy"),
        round(col("slope"), 6).as("zipf_slope"))
      .orderBy(col("source"))
  }

  /** p31: dataset DATACARD — the one-artifact corpus summary a curation
    * pipeline publishes alongside its shards (the "dataset card" the
    * open-data releases ship): corpus size, language and source
    * composition with shares, token accounting, quality quantiles, and
    * exact-duplication structure, in a tall (section, item, n, v)
    * schema so the artifact is stable, diffable, and oracle-exact (no
    * nested maps whose ordering could flip a hash). Every number
    * reuses an already-oracled definition — the t02 quality score, the
    * t04 fingerprint, the shared tokenizer — so the card can never
    * disagree with the operators it summarizes. Quantiles use
    * percentile_disc (element-picking: exact across engines). Cost: a
    * handful of metadata-width scans + one tokenizer pass; the card is
    * a few dozen rows regardless of corpus size. */
  def p31Datacard(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.documents(s, d)
    val nDocs = docs.count()
    def entry(sec: String, item: Column, n: Column, v: Column) =
      struct(lit(sec).as("section"), item.as("item"),
        n.cast("long").as("n"), v.cast("double").as("v"))
    def unpivot(df: DataFrame, entries: Seq[Column]): DataFrame =
      df.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
    val nullV = lit(null).cast("double")
    val nullN = lit(null).cast("long")
    def share(c: Column) = round(c.cast("double") / lit(nDocs.toDouble), 6)

    val corpus = unpivot(
      docs.agg(count(lit(1)).as("nd"), sum(col("n_chars")).as("nc")),
      Seq(entry("corpus", lit("docs"), col("nd"), nullV),
        entry("corpus", lit("chars"), col("nc"), nullV)))
    val lang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .select(lit("lang").as("section"), col("lang").as("item"),
        col("c").as("n"), share(col("c")).as("v"))
    val source = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .select(lit("source").as("section"), col("source").as("item"),
        col("c").as("n"), share(col("c")).as("v"))
    val toks = unpivot(
      docs.select(size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
        .agg(sum(col("nt")).as("t"), count(lit(1)).as("c")),
      Seq(entry("tokens", lit("total"), col("t"), nullV),
        entry("tokens", lit("mean"), nullN,
          round(col("t").cast("double") / col("c").cast("double"), 6))))
    TextAnalysis.t02Quality(s, d).createOrReplaceTempView("dc_quality")
    val quality = s.sql("""
      SELECT 'quality' AS section, item, CAST(NULL AS BIGINT) AS n, v FROM (
        SELECT 'p25' AS item,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY quality) AS v
        FROM dc_quality
        UNION ALL SELECT 'p50',
               percentile_disc(0.5) WITHIN GROUP (ORDER BY quality)
        FROM dc_quality
        UNION ALL SELECT 'p75',
               percentile_disc(0.75) WITHIN GROUP (ORDER BY quality)
        FROM dc_quality)""")
    val dedup = unpivot(
      docs.select(md5(graft.text.TextAnalysis.normText(col("text"))).as("fp"))
        .agg(countDistinct(col("fp")).as("u")),
      Seq(entry("dedup", lit("unique"), col("u"), nullV),
        entry("dedup", lit("dup_docs"), lit(nDocs) - col("u"), nullV)))
    corpus.unionByName(lang).unionByName(source).unionByName(toks)
      .unionByName(quality).unionByName(dedup)
      .orderBy(col("section"), col("item"))
  }

  /** g19: functional-dependency audit — the profiling pass that decides
    * whether `lhs → rhs` holds on the actual data (schema-inference /
    * normalization / key-discovery input, the Metanome-style FD check
    * as a panel): an FD holds iff every lhs value maps to exactly one
    * rhs value, i.e. countDistinct(lhs) == countDistinct(lhs, rhs);
    * violations = the surplus (lhs, rhs) combinations. Null convention,
    * explicit because the engines disagree by default: rows where
    * EITHER side is null are exempt from the check (Spark's multi-arg
    * countDistinct drops them; the oracle filters to the same rule) —
    * an FD over an absent value is undefined, not violated. One aggregation
    * per candidate over one scan each of two tables (distinct-pair
    * counting shuffles 16-byte hashes, never rows); the candidate list
    * deliberately mixes holding FDs (orders' key determines everything)
    * with failing ones (a user emits many event types). */
  def g19FdAudit(s: SparkSession, d: String): DataFrame = {
    def audit(df: DataFrame, table: String,
              cands: Seq[(String, String)]): DataFrame = {
      val aggs = cands.zipWithIndex.flatMap { case ((l, r), i) =>
        // BOTH counts over the same exempt-filtered row set (either
        // side null → row exempt), else an lhs seen only with null rhs
        // would make violations negative
        val bothSet = col(l).isNotNull && col(r).isNotNull
        Seq(countDistinct(when(bothSet, col(l))).as(s"_l$i"),
          countDistinct(col(l), col(r)).as(s"_p$i"))
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val entries = cands.zipWithIndex.map { case ((l, r), i) =>
        struct(lit(table).as("table_name"), lit(l).as("lhs"), lit(r).as("rhs"),
          col(s"_l$i").as("n_lhs"), col(s"_p$i").as("n_pairs"))
      }
      one.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
    }
    val orders = audit(Tables.orders(s, d), "orders", Seq(
      ("o_orderkey", "o_custkey"), ("o_orderkey", "o_orderstatus"),
      ("o_custkey", "o_orderstatus")))
    val events = audit(Tables.events(s, d), "events", Seq(
      ("event_id", "user_id"), ("user_id", "event_type")))
    orders.unionByName(events)
      .withColumn("violations", col("n_pairs") - col("n_lhs"))
      .withColumn("holds", col("n_pairs") === col("n_lhs"))
      .orderBy(col("table_name"), col("lhs"), col("rhs"))
  }

  /** p30 arrival cut — deliberately NOT hour-aligned, so exactly the
    * 07:00 hour on this day straddles the two scheduled runs and the
    * final read genuinely merges partials from different runs. */
  val BookmarkCut = "2024-01-10 07:30:00"

  /** p30: bookmark-driven incremental ingest ([[graft.state.Bookmark]])
    * — the scheduled-batch rerun contract: run 1 sees only pre-cut
    * arrivals, run 2 sees everything and processes ONLY past the
    * watermark, run 3 sees nothing new and must be a no-op (enforced
    * with a loud require — a bookmark that reprocesses is silent
    * double-count at scale). The accumulated partials re-aggregate to
    * the one-shot rollup over the whole corpus — the union-of-runs ≡
    * full-run law the oracle states — and n_runs pins the straddling
    * hour to 2 (the merge actually happened). Cents ride exact longs. */
  def p30BookmarkIngest(s: SparkSession, d: String): DataFrame =
    Materialize.scoped(s, "graft-p30-") { m =>
      import graft.state.Bookmark
      val ev = Tables.events(s, d)
      val partials = s"${m.tmp}/partials"
      val bm = s"${m.tmp}/bookmark"
      def rollup(df: DataFrame): DataFrame =
        df.groupBy(date_trunc("hour", col("ts")).as("hour_bucket"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
      val n1 = Bookmark.runIncremental(
        ev.filter(col("ts") < lit(BookmarkCut).cast("timestamp")),
        unix_micros(col("ts")), "r1", partials, bm)(rollup)
      val n2 = Bookmark.runIncremental(
        ev, unix_micros(col("ts")), "r2", partials, bm)(rollup)
      val n3 = Bookmark.runIncremental(
        ev, unix_micros(col("ts")), "r3", partials, bm)(rollup)
      require(n1 > 0 && n2 > 0,
        s"both scheduled runs must process rows (n1=$n1 n2=$n2)")
      require(n3 == 0, s"bookmark failed to stop an empty rerun (n3=$n3)")
      s.read.parquet(partials)
        .groupBy(col("hour_bucket"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"),
          countDistinct(col("run")).as("n_runs"))
        .orderBy(col("hour_bucket"))
    }

  /** g17: ordered conversion funnel (cohort analysis) — per user, the
    * FIRST view, the first click AT-OR-AFTER that view, and the first
    * purchase at-or-after that click (strict stage ordering: a click
    * before any view does not advance the funnel), rolled up by
    * first-view cohort day. ONE shuffle: the stage walk runs as array
    * folds (`filter` + `array_min`) over per-type sorted timestamp
    * lists collected in a single per-user groupBy — memory bounded by
    * one user's own event count (the q35 sessionize envelope; a
    * pathological single-user firehose would salt the collect the p23
    * way). The oracle restates the walk as three stage-wise
    * join-aggregates — a structurally DIFFERENT formulation, so
    * agreement checks the fold logic, not its restatement. Gap sums
    * ride exact integer microseconds. */
  def g17EventFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val perUser = ev
      .filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("v_ts"),
        sort_array(collect_list(
          when(col("event_type") === "click", unix_micros(col("ts"))))).as("clicks"),
        sort_array(collect_list(
          when(col("event_type") === "purchase", unix_micros(col("ts"))))).as("purchases"))
      .filter(col("v_ts").isNotNull)
      .withColumn("v_us", unix_micros(col("v_ts")))
      .withColumn("c_us", array_min(filter(col("clicks"), _ >= col("v_us"))))
      .withColumn("p_us", array_min(filter(col("purchases"), _ >= col("c_us"))))
    perUser
      .groupBy(to_date(col("v_ts")).as("cohort_day"))
      .agg(count(lit(1)).as("n_viewed"),
        count(col("c_us")).as("n_clicked"),
        count(col("p_us")).as("n_purchased"),
        coalesce(sum(col("c_us") - col("v_us")), lit(0L)).as("click_gap_us"),
        coalesce(sum(col("p_us") - col("c_us")), lit(0L)).as("purchase_gap_us"))
      .orderBy(col("cohort_day"))
  }

  /** p16 curation-funnel thresholds: quality floor and boilerplate
    * ceiling chosen to split the synthetic corpus non-trivially
    * (500 docs → ~428 kept at sf0.01: quality drops the short/low-alpha
    * tail, the boilerplate ceiling drops the near-verbatim clones t14
    * saturates on, exact dedup removes the byte-identical survivors). */
  val CurationMinQuality = 0.35
  val CurationMaxBoiler = 0.5

  /** p16: the corpus-curation funnel END-TO-END as one oracle row — the
    * full pass a training-data pipeline runs between raw crawl and
    * training shards, composed from the verified operators rather than
    * re-implemented: t02 quality gate ≥ [[CurationMinQuality]], t14
    * boilerplate ceiling ≤ [[CurationMaxBoiler]], exact dedup keep-first
    * on the t04 content fingerprint, p12's deterministic md5 train/val/
    * test assignment, rolled up per split (docs, tokens, mean quality).
    *
    * Scale shape: every stage keys on doc_id or the 128-bit fingerprint
    * — narrow rows, never bodies. The three per-doc score frames join on
    * doc_id (at scale these fuse into one scan pass per scoring family;
    * the composition here deliberately reuses the verified operator
    * outputs instead of inlining a fused copy), the dedup is one
    * fingerprint-keyed WindowGroupLimit like d06/p07, and the rollup is
    * a 3-group aggregate. */
  /** Shared p16/p20 funnel FRONT: quality ≥ floor and boilerplate ≤ cap
    * gates with the t04 fingerprint attached (pre-dedup), so both rows
    * run the identical gate stack and can only drift together. */
  private def curationGated(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextAnalysis
    val quality = TextAnalysis.t02Quality(s, d)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val boiler = TextAnalysis.t14Boilerplate(s, d)
      .select(col("doc_id"), col("boiler_frac"))
    val fp = TextAnalysis.t04Fingerprint(s, d).select(col("doc_id"), col("fp"))
    // LEFT join on t14: docs with < 3 tokens have no shingles, hence no
    // t14 row — they carry zero boilerplate by definition and must still
    // flow through the funnel (an inner join would silently drop them)
    quality
      .join(boiler, Seq("doc_id"), "left")
      .join(fp, "doc_id")
      .filter(col("quality") >= CurationMinQuality &&
        coalesce(col("boiler_frac"), lit(0.0)) <= CurationMaxBoiler)
  }

  /** Shared p16/p20 funnel TAIL: keep-first exact dedup on the content
    * fingerprint, then the per-split rollup. avg_quality sums
    * micro-scaled INTEGERS (round(q·1e6)) instead of doubles: a double
    * sum's low bits depend on aggregation order (parallel chunking in
    * either engine), and the regenerated sf0.01 corpus landed p20's
    * average exactly on a round-6 boundary — the integer sum is exact
    * and order-free, so the rounded average cannot flip between runs
    * or engines. */
  private def curationRollup(gated: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    gated.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("n_tokens"),
        round(col("quality") * 1000000).cast("long").as("q6"),
        splitCol(col("doc_id")).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        round(sum(col("q6")) * lit(1.0) / count(lit(1)) / lit(1000000.0), 6)
          .as("avg_quality"))
      .orderBy(col("split"))
  }

  def p16CurationE2e(s: SparkSession, d: String): DataFrame =
    curationRollup(curationGated(s, d))

  /** p20 gate: training docs whose shingle overlap with the benchmark cut
    * exceeds this fraction never reach a shard. Calibrated on the fixed
    * corpus (3-7 docs over the cap at sf0.01/0.001, including the full
    * copies at contam_frac = 1.0) — a high bar on purpose: the gate
    * exists for substantial benchmark overlap, while light incidental
    * overlap is the near-dedup family's job. Known synthetic-data
    * artifact: this corpus draws shingles from a FIXED pool (~27k types
    * at sf0.1 for 5k docs), so incidental train↔bench overlap grows with
    * SF and the cap over-drops at sf0.1 (~98% of gated train docs).
    * Real corpora have open shingle universes — benchmark overlap stays
    * rare as the corpus grows, which is why published decontamination
    * recipes (GPT-3 13-gram collisions, Llama 8-gram overlap) use fixed
    * caps. The operator inherits d08's scale shape either way. */
  val CurationMaxContam = 0.2

  /** p20: the DECONTAMINATED curation funnel — p16's pass with d08's
    * benchmark-overlap gate inserted before the split rollup, in the
    * stage order real pipelines run: benchmark rows never enter the
    * training cut, and training docs substantially overlapping the
    * benchmark (contam_frac > [[CurationMaxContam]]) are dropped before
    * sharding. Pure composition: the gate stack is [[curationGated]]
    * verbatim, the overlap scores are [[graft.dedup.Dedup.contamination]]
    * verbatim, and the join carries (doc_id, contam_frac) pairs only —
    * at scale it inherits d08's broadcast-probe shape (benchmark shingles
    * broadcast; the corpus is probed map-side, never shuffled on
    * content). Docs with no contamination row (< 3 tokens → no shingles)
    * coalesce to 0.0: no shingles means nothing can overlap. */
  def p20DecontamFunnel(s: SparkSession, d: String): DataFrame = {
    import graft.dedup.Dedup
    val docs = Tables.documents(s, d)
    val isBench = col("doc_id") % Dedup.ContaminationBenchMod === 0
    val contam = Dedup.contamination(docs.filter(!isBench), docs.filter(isBench))
      .select(col("doc_id"), col("contam_frac"))
    curationRollup(
      curationGated(s, d)
        .filter(col("doc_id") % Dedup.ContaminationBenchMod =!= 0)
        .join(contam, Seq("doc_id"), "left")
        .filter(coalesce(col("contam_frac"), lit(0.0)) <= CurationMaxContam)
        .drop("contam_frac"))
  }

  /** p21 training-sequence length in tokens. 128 keeps the row count
    * meaningful at the test SFs; a real run sets 2048/4096/8192. */
  val PackSeqLen = 128L

  /** p21: concat-and-cut sequence packing — the GPT-pretraining batch
    * layout: within each source, documents concatenate in doc_id order
    * into one token stream that is cut into fixed-[[PackSeqLen]]
    * sequences; a document crossing a cut boundary CONTRIBUTES TO BOTH
    * sequences (contrast t08, which bin-packs whole documents and never
    * splits one). Output per (source, seq_id): how many documents
    * contribute and how many token positions are filled — the layout
    * audit a packing job emits (every sequence but each source's last
    * must be exactly full).
    *
    * Scale shape: the running offset is ONE window cumsum over
    * (doc_id, n_tokens) pairs — bodies never ride the sort (p17's
    * argument); the boundary fan-out is a per-row `sequence` explode
    * bounded by ceil(len/L)+1 rows per doc; the rollup shuffles
    * (source, seq_id, span) triples only. The window partitions by
    * source; a source too big for one task splits by HashGate shard
    * first (p17's quota-split note) — offsets then restart per shard,
    * which a packer tolerates by construction (sequences don't cross
    * shard files). */
  def p21PackSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      .filter(col("nt") > 0L)
      .withColumn("off", coalesce(sum(col("nt")).over(w), lit(0L)))
      .select(col("source"), col("off"), (col("off") + col("nt")).as("fin"),
        explode(sequence(expr(s"off div $PackSeqLen"),
                         expr(s"(off + nt - 1) div $PackSeqLen"))).as("seq_id"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("fin"), (col("seq_id") + 1L) * PackSeqLen) -
            greatest(col("off"), col("seq_id") * PackSeqLen)).as("n_tokens"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** p22: snapshot patch-and-apply — the incremental-maintenance
    * round-trip p14's diff exists FOR: derive a patch (upserts = the
    * new version of every added/changed key, deletes = removed keys)
    * from the two snapshot versions, apply it to the OLD snapshot, and
    * audit that the result reconstructs the NEW snapshot exactly. This
    * is the nightly-sync contract of a mutable dimension mirrored into
    * the lake: ship the patch (small), not the snapshot (huge), and
    * prove apply(old, patch) ≡ new. Output is the one-row audit: patch
    * composition, applied size, and the match/mismatch counts (a
    * non-zero n_mismatch means the patch algebra is broken).
    *
    * Scale shape: every stage is keyed on (k, 16-byte fingerprint) —
    * p14's argument — so no row bodies ever join; the patch-key
    * anti-join and the re-diff are the same bucketed-merge shape as the
    * diff itself, and the patch side (churn, not table size) is the
    * broadcast candidate at a real SF. */
  def p22SnapshotApply(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val o = orders.filter(col("o_orderkey") % 10 =!= DiffAddedMod)
      .select(col("o_orderkey").as("k"), diffFp(col("o_totalprice")).as("fp"))
    val n = orders.filter(col("o_orderkey") % 10 =!= DiffRemovedMod)
      .select(col("o_orderkey").as("k"),
        diffFp(when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice"))).as("fp"))
    // Round 14 note: this fan-out (diff → upserts/deletes/apply → four
    // audit aggregates) was A/B-measured WITH eager localCheckpoints on
    // `diff` and `applied` and they LOSE (1.0 → 1.6 s wall, cpu up):
    // unlike d19/recallContract, the repeated subtrees here are
    // projection-identical, so ReusedExchange already deduplicates them
    // within the one execution and the checkpoints only added
    // materialization jobs. Left lazy deliberately.
    val diff = o.select(col("k"), col("fp").as("fp_old"))
      .join(n.select(col("k"), col("fp").as("fp_new")), Seq("k"), "full")
      .select(col("k"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged").as("category"))
    val upserts = diff.filter(col("category").isin("added", "changed")).select(col("k"))
    val deletes = diff.filter(col("category") === "removed").select(col("k"))
    val applied = o.join(upserts.unionAll(deletes), Seq("k"), "left_anti")
      .unionByName(n.join(upserts, Seq("k"), "left_semi"))
    val cmp = applied.select(col("k"), col("fp").as("fp_a"))
      .join(n.select(col("k"), col("fp").as("fp_n")), Seq("k"), "full")
      .select(when(col("fp_a").isNull or col("fp_n").isNull or
        (col("fp_a") =!= col("fp_n")), 1L).otherwise(0L).as("bad"))
    upserts.agg(count(lit(1)).as("n_upserts"))
      .crossJoin(deletes.agg(count(lit(1)).as("n_deletes")))
      .crossJoin(applied.agg(count(lit(1)).as("n_applied")))
      .crossJoin(cmp.agg(sum(lit(1L) - col("bad")).as("n_match"),
        sum(col("bad")).as("n_mismatch")))
  }

  /** p23: skew-salted aggregation as a hard driver row —
    * [[graft.transform.SaltedAggregate]]'s two-phase (key, salt) split
    * was spec-only; this row proves the salted plan computes EXACTLY the
    * plain one-phase aggregate the oracle states. The skew story:
    * `l_returnflag` has 3 values over the whole fact table — the
    * pathological hot-key distribution where a plain groupBy sends a
    * third of 100 TB through one reducer; the salt spreads each key over
    * 16 reducers and the merge phase touches only 3·16 partial rows.
    * Sums ride exact integers (quantities are integral; price scales to
    * cents) so two-phase vs one-phase reassociation cannot drift a
    * double. */
  def p23SaltedAgg(s: SparkSession, d: String): DataFrame = {
    import graft.transform.SaltedAggregate
    val df = Tables.lineitem(s, d).select(col("l_returnflag"),
      col("l_quantity").cast("long").as("qn"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
    SaltedAggregate(df, "l_returnflag", saltBuckets = 16,
      partials = Seq(count(lit(1)).as("n_rows"),
        sum(col("qn")).as("sum_qty"), sum(col("cents")).as("c")),
      merges = Seq(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty")).as("sum_qty"), sum(col("c")).as("c")))
      .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
        round(col("c") * lit(1.0) / lit(100.0), 2).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** p24: cross-split leakage audit — the integrity check run AFTER
    * p12's split assignment: the split gates on doc_id, but exact
    * duplicates share a CONTENT fingerprint, so a duplicated document
    * can land its copies in different splits — train/test leakage the
    * split function cannot see. Output: for each span count (how many
    * distinct splits a fingerprint's copies touch), how many
    * fingerprints and how many documents — the n_splits ≥ 2 rows ARE
    * the leakage, which is why real pipelines dedup BEFORE splitting
    * (p16's stage order).
    *
    * Scale shape: one (fp → splits) aggregate over (doc_id, fp, split)
    * triples — 16-byte keys, bodies never shuffle; the span rollup runs
    * over the fingerprint table. */
  def p24SplitLeakage(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(md5(graft.text.TextAnalysis.normText(col("text"))).as("fp"),
        splitCol(col("doc_id")).as("split"))
      .groupBy(col("fp"))
      .agg(countDistinct(col("split")).as("n_splits"),
        count(lit(1)).as("n_copies"))
      .groupBy(col("n_splits"))
      .agg(count(lit(1)).as("n_fps"), sum(col("n_copies")).as("n_docs"))
      .orderBy(col("n_splits"))

  /** p25: consistent keyed pseudonymization — the privacy-side release
    * step of a curation pipeline: every natural identity (here
    * source:doc_id, standing in for a user/session id) maps to a stable
    * opaque pseudonym via a peppered SHA-256, so downstream joins keep
    * working (same id → same pseudonym, always) while the natural key
    * never leaves the pipeline. The audit row proves the two properties
    * that make pseudonymization safe to ship: injectivity per source
    * (distinct pseudonyms == distinct ids — no silent collision merged
    * two users) and determinism (pid_first anchors actual hash VALUES
    * against the oracle's independent sha256, not just counts).
    *
    * Scale shape: the mapping is a pure per-row projection (codegen'd
    * sha2 on the scan, no shuffle); only the audit aggregates — one
    * grouped agg whose two count-distincts expand map-side. At 100 TB
    * the pepper comes from a secret store, not a literal; everything
    * else is unchanged. */
  def p25Pseudonymize(s: SparkSession, d: String): DataFrame = {
    val p = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        concat(col("source"), lit(":"), col("doc_id").cast("string")).as("uid"))
      .withColumn("pid",
        substring(sha2(concat(lit("graft-pepper-v1|"), col("uid")), 256), 1, 16))
    p.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("uid")).as("n_uids"),
        countDistinct(col("pid")).as("n_pids"),
        min_by(col("pid"), col("doc_id")).as("pid_first"))
      .withColumn("injective_ok", col("n_uids") === col("n_pids"))
      .orderBy(col("source"))
  }

  /** p26 Z-order geometry: 11 bits per dimension (user_id tops out at
    * ~1.5k, the hour range at ~720 — both fit), regions from the top
    * [[ZRegionBits]] interleaved bits. */
  val ZBits = 11
  val ZRegionBits = 6

  /** p26: Z-order clustering layout — the multi-dimensional data-skipping
    * organization (Delta `OPTIMIZE ZORDER BY` / Iceberg sort-order
    * analog) for tables queried on MORE THAN ONE dimension. A 1-D sort
    * serves exactly one predicate column; interleaving the bits of
    * (user_id, event-hour) into one Z-value makes rows that are close in
    * EITHER dimension land in the same region, so per-file min/max
    * footers prune for both query shapes at once.
    *
    * The region id is the top [[ZRegionBits]] bits of the Z-value —
    * a quadtree cell, NOT a rank: every row computes its region on the
    * scan with zero shuffles (a global ntile/range-sort would serialize
    * the corpus through one sort; the bit-prefix region is the shape
    * that scales, and it is what a lakehouse writer actually files rows
    * under). Output: each region's bounding box in both dimensions plus
    * its row count — the min/max metadata a skipping reader consults;
    * the spec drives the actual pruning law (a predicate on either
    * single dimension eliminates most regions; a 1-D layout can only
    * prune its own sort column).
    *
    * Scale shape: one codegen'd projection (bit ops on two normalized
    * ints) + one ≤ 2^[[ZRegionBits]]-row rollup; the dimension minima
    * are a 1-row broadcast (g05's bounds-broadcast precedent). */
  def p26ZorderLayout(s: SparkSession, d: String): DataFrame = {
    val grid = 1 << ZBits
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("hx0"))
    val bounds = ev.agg(
      min(col("user_id")).as("u0"), max(col("user_id")).as("u1"),
      min(col("hx0")).as("h0"), max(col("hx0")).as("h1"))
    val zval = (0 until ZBits).map { i =>
      shiftleft(shiftright(col("ux"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("hx"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    ev.crossJoin(broadcast(bounds))
      // min-max normalization onto the fixed [0, 2^ZBits) grid (what a
      // lakehouse writer derives from column stats) via exact integer
      // division, so both dimensions fill the full bit range at any SF
      .withColumn("ux",
        expr(s"((user_id - u0) * $grid) div (u1 - u0 + 1)"))
      .withColumn("hx",
        expr(s"((hx0 - h0) * $grid) div (h1 - h0 + 1)"))
      .withColumn("region", shiftright(zval, 2 * ZBits - ZRegionBits))
      .groupBy(col("region"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ux")).as("u_min"), max(col("ux")).as("u_max"),
        min(col("hx")).as("h_min"), max(col("hx")).as("h_max"))
      .withColumn("box_area",
        (col("u_max") - col("u_min") + 1) * (col("h_max") - col("h_min") + 1))
      .orderBy(col("region"))
  }

  /** p27: partial-aggregate merge — incremental materialized-view
    * maintenance for algebraic aggregates: yesterday's summary table
    * plus today's delta summary re-aggregate to the summary of the full
    * corpus (count/sum merge by +, min/max by min/max), WITHOUT
    * rescanning history. This is Spark's own partial/final two-phase
    * law lifted to the table level — the pattern every 100 TB rollup
    * pipeline runs, because rebuilding a corpus-wide summary per
    * ingest batch is O(history) while the merge is O(|summary|+|delta|).
    *
    * The row computes the merged summary from two disjoint partials
    * (event_id mod 10 < 8 standing in for the already-materialized
    * history, the rest for the new batch); the ORACLE computes the
    * one-pass rebuild over all events — their equality IS the
    * maintenance contract (p22's apply ≡ rebuild, for aggregates).
    * Sums ride micro-scaled integers so merge reassociation is exact. */
  /** One partial summary over (event_type, day, cents) rows — the
    * algebraic-aggregate shape p27 and st12 both maintain. */
  def summarizeCents(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))

  /** Merge two partial summaries (counts/sums by +, min/max by min/max)
    * — the table-level form of Spark's own partial/final aggregation. */
  def mergeSummaries(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"), max(col("max_cents")).as("max_cents"))

  def p27MergeSummaries(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val history = summarizeCents(ev.filter(pmod(col("event_id"), lit(10)) < 8))
    val delta = summarizeCents(ev.filter(pmod(col("event_id"), lit(10)) >= 8))
    mergeSummaries(history, delta)
      .orderBy(col("event_type"), col("day"))
  }

  /** The g15 equi-depth SQL, shared verbatim with the oracle (only the
    * table name differs): 7 exact `percentile_disc` cut points → 8
    * equal-count bins; the bin of a row is 1 + (number of edges strictly
    * below it), so ties land with their edge and both engines agree
    * bit-for-bit on integer cents. */
  private def g15Sql(table: String): String = s"""
      WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM $table),
      e AS (SELECT
        percentile_disc(0.125) WITHIN GROUP (ORDER BY cents) AS e1,
        percentile_disc(0.25)  WITHIN GROUP (ORDER BY cents) AS e2,
        percentile_disc(0.375) WITHIN GROUP (ORDER BY cents) AS e3,
        percentile_disc(0.5)   WITHIN GROUP (ORDER BY cents) AS e4,
        percentile_disc(0.625) WITHIN GROUP (ORDER BY cents) AS e5,
        percentile_disc(0.75)  WITHIN GROUP (ORDER BY cents) AS e6,
        percentile_disc(0.875) WITHIN GROUP (ORDER BY cents) AS e7
        FROM c)
      SELECT bin, count(*) AS n_rows, min(cents) AS lo, max(cents) AS hi
      FROM (SELECT cents,
              1 + (CASE WHEN cents > e1 THEN 1 ELSE 0 END)
                + (CASE WHEN cents > e2 THEN 1 ELSE 0 END)
                + (CASE WHEN cents > e3 THEN 1 ELSE 0 END)
                + (CASE WHEN cents > e4 THEN 1 ELSE 0 END)
                + (CASE WHEN cents > e5 THEN 1 ELSE 0 END)
                + (CASE WHEN cents > e6 THEN 1 ELSE 0 END)
                + (CASE WHEN cents > e7 THEN 1 ELSE 0 END) AS bin
            FROM c, e)
      GROUP BY bin ORDER BY bin"""

  /** g15: equi-DEPTH histogram — the ANALYZE-TABLE statistics shape (CBO
    * height-balanced histograms, Hive/ORC bloom-stats, Postgres
    * `pg_stats.histogram_bounds`): 8 bins holding ~equal row counts,
    * edges at exact `percentile_disc` eighths — the complement of g05's
    * equi-WIDTH bins, and the form selectivity estimation actually
    * wants (equal mass per bin ⇒ constant estimation error; equi-width
    * bins degenerate under skew, cf. the 8th bin's 5× range here).
    *
    * Scale shape: the edge row is ONE sort-based aggregate broadcast
    * back (g05's bounds-broadcast precedent, 7 scalars); the binning is
    * a scan-side CASE ladder with one ≤8-row rollup. Exact quantiles
    * at 100 TB would swap for `approx_percentile` sketch edges — the
    * g04 exact/approx knob argument — with the same downstream shape. */
  def g15EquidepthHist(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("ed_events")
    s.sql(g15Sql("ed_events"))
  }

  /** p28: retention-tier sweep — the reference's data-lifecycle policy as
    * an engine-level audit. The reference encodes retention in
    * infrastructure: raw bucket transitions at 30 d → IA and 90 d →
    * Glacier (SDP.py:73-94), the DLQ holds 14 d (SDP.py:125), the main
    * stream 7 d and the analytics stream 1 d (SDP.py:166, :173). This row
    * classifies each DAY-partition by age against the corpus watermark
    * (max ts — deterministic, no wall clock) into the narrowest retention
    * window that still covers it, and reports what each policy tier holds
    * — the "what would a lifecycle tick touch" read run before any
    * expiry/migration job.
    *
    * Scale shape: rows reduce to (day, count) FIRST (P5's partition
    * derivation), so the sweep is an aggregate over day-partitions — at a
    * real lake this is a metadata-only pass over partition values and
    * footer counts, never a per-row scan per policy tick; the watermark
    * is a 1-row broadcast. */
  def p28RetentionSweep(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_rows"))
    val wm = days.agg(max(col("day")).as("wm"))
    days.crossJoin(broadcast(wm))
      .withColumn("age_days", datediff(col("wm"), col("day")))
      .withColumn("tier",
        when(col("age_days") < 1, "analytics_stream_1d")
          .when(col("age_days") < 7, "stream_7d")
          .when(col("age_days") < 14, "dlq_14d")
          .when(col("age_days") < 30, "raw_standard_30d")
          // the full SDP.py:87-94 ladder: 30 d+ transitions to IA and
          // 90 d+ to Glacier (unpopulated on the 30-day test feeds, but
          // the sweep must name them for any corpus it actually audits)
          .when(col("age_days") < 90, "infrequent_access_90d")
          .otherwise("glacier"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_days"), sum(col("n_rows")).as("n_rows"),
        min(col("day")).as("oldest_day"), max(col("day")).as("newest_day"))
      .orderBy(col("tier"))
  }

  /** p29 erasure gate: ~12.5 % of user identities ([[graft.functions
    * .HashGate]] at '20'/256ths — the lowest repo-standard rate that
    * still erases ≥1 user at sf0.001's 15-user population, keeping the
    * row non-vacuous at every SF) — deterministic, so the erased set is
    * bit-identical in both engines. */
  val ForgetGateHex = "20"

  /** p29: right-to-be-forgotten sweep — the GDPR/CCPA erasure pass a
    * data-subject request triggers: given a set of identities, delete
    * EVERY row they own across the table and prove it. The deletion is
    * the deletion-vector shape every lakehouse uses (an anti-join of the
    * fact table against the broadcast-able erased-id set — at scale this
    * is a merge-on-read delete vector, not a rewrite), and the row is
    * the audit a DPO actually signs: per event_type, rows before /
    * removed / after with conservation built in, plus a residue count
    * over the POST-delete table that must be zero. The complement of
    * p25's pseudonymization (mask vs erase). */
  def p29ForgetSweep(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val erased = ev.select(col("user_id")).distinct()
      .filter(graft.functions.HashGate(col("user_id"), ForgetGateHex))
    val after = ev.join(broadcast(erased), Seq("user_id"), "left_anti")
    val residue = after
      .filter(graft.functions.HashGate(col("user_id"), ForgetGateHex))
      .agg(count(lit(1)).as("residue")) // 0 iff the delete was complete
    val before = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_before"))
    // LEFT join from `before`: an event_type whose rows ALL belonged to
    // erased users must still appear in the audit (n_after = 0) — the
    // full-erasure case is exactly what the audit exists to prove
    before
      .join(after.groupBy(col("event_type")).agg(count(lit(1)).as("n_after")),
        Seq("event_type"), "left")
      .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
      .crossJoin(broadcast(residue))
      .select(col("event_type"), col("n_before"),
        (col("n_before") - col("n_after")).as("n_removed"),
        col("n_after"), col("residue"))
      .orderBy(col("event_type"))
  }

  /** The p27/st12 one-pass rebuild oracle — single-sourced because both
    * rows assert the SAME incremental-maintenance contract (p27 over two
    * batch partials, st12 over four streaming epochs); two copies could
    * silently drift into asserting different contracts. */
  val MergeSummariesOracleSql: String = """
      SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
             max(CAST(round(value * 100) AS BIGINT)) AS max_cents
      FROM events
      GROUP BY event_type, day
      ORDER BY event_type, day"""

  /** g20: sketch-algebra distinct overlap (the capability HLL can't
    * give, SURVEY §2.4/§2.9) — per event type, a [[graft.functions
    * .Aggregators.KmvSketch]] of the distinct user hashes is built in ONE
    * grouped pass (map-side-merged K-minima, a few KB per type); every
    * pairwise "how many users do types A and B share" then reads off the
    * collected sketches via the theta intersection rule, and the union
    * cardinality off the merged sketch. At 100 TB this replaces an exact
    * pairwise distinct self-join (quadratic in the pair count, one
    * shuffle each) with one linear pass + driver arithmetic on
    * n_types × K longs.
    *
    * Contract row (the g07/q25 shape): the exact intersections ARE
    * computed here too (the join the sketch replaces — affordable at
    * test SF, and the truth the bands need), and the booleans pin both
    * estimators: intersection within max(15 %, 64) of exact (K = 1024 →
    * rse ≈ 3.1 %, so the band is ≈5σ), union within 10 %. The sketch
    * hashes with `xxhash64`, so every estimate is deterministic. */
  def g20SketchOverlap(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Aggregators
    val k = Aggregators.KmvSketch.DefaultK
    val kmv = udaf(new Aggregators.KmvSketch(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val ev = Tables.events(s, d)
    // bounded collect: n_event_types × K longs (the d13-codebook precedent)
    val sketches = ev
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .groupBy(col("event_type")).agg(kmv(col("h")).as("sk"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val du = ev.select(col("event_type"), col("user_id")).distinct()
    val perType = du.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairsExact = du.as("a").join(du.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_exact"))
      .collect()
    val rows = pairsExact.map { r =>
      val (ta, tb, nx) = (r.getString(0), r.getString(1), r.getLong(2))
      val est = Aggregators.KmvSketch.intersectEstimate(
        sketches(ta), sketches(tb), k)
      val exactUnion = perType(ta) + perType(tb) - nx
      val estU = Aggregators.KmvSketch.unionEstimate(
        sketches(ta), sketches(tb), k)
      (ta, tb, nx,
        math.abs(est - nx) <= math.max(0.15 * nx, 64.0),
        math.abs(estU - exactUnion) <= 0.1 * exactUnion)
    }
    import s.implicits._
    rows.toSeq.toDF("type_a", "type_b", "n_exact", "est_ok", "union_ok")
      .orderBy(col("type_a"), col("type_b"))
  }

  /** g21: frequent itemset mining — which event-type COMBINATIONS
    * co-occur in a (user, day) activity basket at ≥5 % support (the
    * co-occurrence analytics funnel panels are built from). Runs the
    * real distributed FP-Growth (Han et al. '00; MLlib's parallel PFP
    * variant): baskets shuffle ONCE on a hashed prefix, each partition
    * mines its conditional FP-trees locally, and only (itemset, count)
    * pairs aggregate — the algorithm that works when the item alphabet
    * is too large to enumerate the powerset. The support threshold is
    * applied as the integer rational `freq × 20 ≥ n_baskets` on BOTH
    * engines: a `ceil(0.05 × n)` double on the Spark side would round
    * differently than DuckDB's decimal arithmetic exactly at the
    * boundary (0.05 is not a binary fraction).
    *
    * The oracle CAN enumerate here (5-type alphabet → ≤31 subsets), so
    * the row is exact: FP-Growth's output must equal brute-force
    * powerset support counting — the classic algorithm-vs-specification
    * contract. */
  def g21FrequentSets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.fpm.FPGrowth
    val baskets = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sort_array(collect_set(col("event_type"))).as("items"))
    val nBaskets = baskets.count()
    // mine everything (minCount 1), threshold with exact integer math
    val model = new FPGrowth().setItemsCol("items")
      .setMinSupport(1e-12).fit(baskets)
    model.freqItemsets
      .filter(col("freq") * 20 >= nBaskets)
      .select(concat_ws(",", sort_array(col("items"))).as("itemset"),
        col("freq").as("n_baskets"))
      .orderBy(col("itemset"))
  }

  /** p32 sampling fraction denominator: target k = n div this. */
  val PpsDenom = 20L

  /** p32 prefix-sum bucket width (doc_id div this = the level-1 key). */
  val PpsBucket = 64L

  /** p32: systematic probability-proportional-to-size sampling — the
    * weighted corpus subsample (weight = `n_chars`, the token-mass
    * proxy) picked by the classic cumulative-weight systematic rule:
    * with k slots over total weight W, doc i is selected iff its
    * cumulative-weight interval (C_{i-1}, C_i] crosses a slot boundary,
    * i.e. `(C_i·k) div W > (C_{i-1}·k) div W` — ALL in BIGINT, no float
    * anywhere, so both engines pick the identical sample. Items heavier
    * than W/k are certainty items (always selected); expectation is
    * exactly ∝ weight for the rest. This is the "sample 5 % of the
    * corpus by token mass, not doc count" operator a mixing pipeline
    * runs after p13's per-source rates.
    *
    * Scale: a global ordered prefix sum is the naive trap — a single
    * ORDER BY window moves the corpus to ONE partition. It is computed
    * here as the standard two-level decomposition instead: (1) an
    * intra-bucket running sum windowed BY bucket (`doc_id div
    * [[PpsBucket]]` — distributed, linear), (2) per-bucket totals with
    * an exclusive running sum over the bucket FRAME (n/[[PpsBucket]]
    * rows — for corpora where even that frame is large, the same
    * decomposition nests recursively), (3) a broadcast join adding each
    * bucket's offset. The k/W scalars ride in from one tiny aggregate
    * via a broadcast cross join, never a driver literal. */
  def p32PpsSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        expr(s"doc_id div $PpsBucket").as("bkt"))
    val wIntra = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = docs.withColumn("c_in", sum(col("n_chars")).over(wIntra))
    val wBkt = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("bkt")).agg(sum(col("n_chars")).as("bsum"))
      .withColumn("off", coalesce(sum(col("bsum")).over(wBkt), lit(0L)))
      .select(col("bkt"), col("off"))
    val tot = docs.agg(sum(col("n_chars")).as("w_tot"),
      greatest(lit(1L), expr(s"count(1) div $PpsDenom")).as("k"))
    intra.join(broadcast(offsets), "bkt")
      .crossJoin(broadcast(tot))
      .withColumn("c", col("off") + col("c_in"))
      .filter(expr("(c * k) div w_tot > ((c - n_chars) * k) div w_tot"))
      .select(col("doc_id"), col("n_chars"), col("c").as("cum_weight"))
      .orderBy(col("doc_id"))
  }

  /** p33 sample size. */
  val ReservoirK = 25

  /** The A-ES key in log form, as ONE shared expression string over the
    * exact BIGINT inputs (u48 = 48-bit md5 prefix, n_chars = weight):
    * ln(u)/w with u = (2·u48 + 1)/2⁴⁹ — the +1/2⁴⁹ midpoint keeps u in
    * (0,1) exactly, and identical IEEE evaluation on identical integers
    * makes the key (and therefore the whole sample) bit-reproducible in
    * both engines. */
  private[graft] val ResKeySql: String =
    "ln(CAST(2 * u48 + 1 AS DOUBLE) / CAST(562949953421312 AS DOUBLE)) / " +
      "CAST(n_chars AS DOUBLE)"

  /** p33: deterministic weighted reservoir sampling — Efraimidis–
    * Spirakis A-ES: each doc draws u ∈ (0,1) and ranks by u^(1/w)
    * (equivalently ln(u)/w); the top-[[ReservoirK]] is a
    * without-replacement sample with inclusion probability ∝ weight.
    * The streaming-friendly counterpart of p32's systematic rule: p32
    * needs a global prefix sum (two passes at scale); A-ES is ONE pass
    * with a constant-size heap per partition — the shape you run inside
    * an ingest stream or a merge of shard-local samples (top-k of
    * top-ks is exact for A-ES, which is the whole point of the
    * algorithm). Randomness is the [[graft.functions.HashGate]] md5
    * family (48-bit prefix of md5(doc_id)), so the "random" draw is an
    * engine-portable pure function of the row and the sample is exactly
    * reproducible — the p11/p18 determinism discipline.
    *
    * Scale: the ranking plans as a rank-1..k window over the
    * (id, weight, key) projection — WindowGroupLimit keeps O(k) rows
    * per map task before the single-partition merge of k·#partitions
    * candidates; bodies never ride (PlanSpec). */
  def p33WeightedReservoir(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
          .cast("long").as("u48"))
      .withColumn("lnkey", expr(ResKeySql))
    val w = Window.orderBy(col("lnkey").desc, col("doc_id"))
    docs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ReservoirK)
      .select(col("rank"), col("doc_id"), col("n_chars"),
        expr("CAST(round(lnkey * 1000000000) AS BIGINT)").as("key_nanos"))
      .orderBy(col("rank"))
  }

  /** p34 sample size: the pruning set is the exact skyline of the
    * [[SkylineSampleN]] docs with the smallest md5(doc_id) — the d14
    * fixed-size rule, so the broadcast is O(1) in corpus size. */
  val SkylineSampleN = 200

  /** The p34 per-document metric frame: three maximize-all criteria a
    * curation board trades off — length (n_toks), lexical diversity
    * (distinct-token ratio), and substance (stopword-free ratio), the
    * ratios as exact integer micro-units (`1e6·a DIV b`, `//` ≡ `DIV`
    * on non-negatives). One scan, no shuffle. */
  private[graft] def p34Metrics(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        split(graft.text.TextAnalysis.normText(col("text")), " ").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_dis"),
        size(filter(col("toks"),
          t => t.isin(graft.text.TextAnalysis.Stopwords: _*)))
          .cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_toks"),
        expr("n_dis * 1000000 DIV n_toks").as("div_micros"),
        expr("(n_toks - n_stop) * 1000000 DIV n_toks").as("nsw_micros"))

  /** `y` strictly dominates `x`: ≥ on every criterion, > on at least
    * one. Ties and duplicate metric tuples dominate nothing, so equal
    * frontier points all survive — the standard skyline definition. */
  private def p34Dominates(y: String, x: String): Column = {
    val ge = col(s"$y.n_toks") >= col(s"$x.n_toks") &&
      col(s"$y.div_micros") >= col(s"$x.div_micros") &&
      col(s"$y.nsw_micros") >= col(s"$x.nsw_micros")
    val gt = col(s"$y.n_toks") > col(s"$x.n_toks") ||
      col(s"$y.div_micros") > col(s"$x.div_micros") ||
      col(s"$y.nsw_micros") > col(s"$x.nsw_micros")
    ge && gt
  }

  /** The corpus after the sample-skyline prune — exposed so the spec
    * can assert the prune BITES (survivors ≪ corpus) as well as stays
    * sound (equality law covers that). */
  private[graft] def p34Survivors(s: SparkSession, d: String): DataFrame = {
    val m = p34Metrics(s, d)
    val sample = m.orderBy(md5(col("doc_id").cast("string")))
      .limit(SkylineSampleN)
    val sampleSky = sample.as("x")
      .join(sample.as("y"), p34Dominates("y", "x"), "left_anti")
    m.as("x").join(broadcast(sampleSky).as("y"),
      p34Dominates("y", "x"), "left_anti")
  }

  /** p34: Pareto-frontier (skyline) curation — the documents no other
    * document beats on ALL of length, lexical diversity, and
    * stopword-free substance at once (Börzsönyi et al. ICDE'01): the
    * multi-criteria "best of corpus" cut a data board takes when no
    * single quality score is trusted to weigh the criteria.
    *
    * Dominance is a partial order with no equi-join key, so a naive
    * skyline is an all-pairs product. The distributed plan is
    * sample-prune-verify: (1) the exact skyline of a FIXED
    * [[SkylineSampleN]]-doc md5-gated sample (bounded 200² check)
    * broadcasts as the pruning set; (2) one anti-join drops every
    * corpus doc strictly dominated by a sample-skyline point — each
    * sample frontier point eliminates a whole dominated ORTHANT, the
    * classic sample-prune bound, and the prune is sound because
    * dominance is transitive; (3) the exact skyline of the survivors.
    * Stage 3 is all-pairs over survivors only — correct because every
    * dominator of a survivor is itself a survivor (z dom y dom x ⇒
    * z dom x would have pruned x), honest about the worst case (an
    * anti-correlated corpus keeps survivors large; this corpus prunes
    * ~97 % — the spec pins it). The oracle is the premise-free
    * NOT EXISTS dominance census over the whole corpus, so a prune
    * that ever dropped a frontier doc is a hash mismatch. */
  def p34Skyline(s: SparkSession, d: String): DataFrame = {
    val surv = p34Survivors(s, d).localCheckpoint(true)
    surv.as("x").join(surv.as("y"), p34Dominates("y", "x"), "left_anti")
      .select(col("doc_id"), col("n_toks"), col("div_micros"),
        col("nsw_micros"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "p34_skyline"           -> p34Skyline _,
    "p33_weighted_reservoir" -> p33WeightedReservoir _,
    "p32_pps_sample"        -> p32PpsSample _,
    "g20_sketch_overlap"    -> g20SketchOverlap _,
    "g21_frequent_sets"     -> g21FrequentSets _,
    "p01_validate_events"   -> p01ValidateEvents _,
    "p02_clean_dedup"       -> p02CleanDedup _,
    "p03_enrich_events"     -> p03EnrichEvents _,
    "p05_derive_partitions" -> p05DerivePartitions _,
    "p06_stratified_sample" -> p06StratifiedSample _,
    "p07_upsert"            -> p07Upsert _,
    "p08_scd2"              -> p08Scd2 _,
    "p09_shard_manifest"    -> p09ShardManifest _,
    "p10_funnel"            -> p10Funnel _,
    "p11_shard_shuffle"     -> p11ShardShuffle _,
    "p12_train_split"       -> p12TrainSplit _,
    "p13_source_mix"        -> p13SourceMix _,
    "p14_snapshot_diff"     -> p14SnapshotDiff _,
    "p15_source_cap"        -> p15SourceCap _,
    "p16_curation_e2e"      -> p16CurationE2e _,
    "p17_token_budget"      -> p17TokenBudget _,
    "p18_epoch_mix"         -> p18EpochMix _,
    "p19_dedup_budget"      -> p19DedupBudget _,
    "p20_decontam_funnel"   -> p20DecontamFunnel _,
    "p21_pack_sequences"    -> p21PackSequences _,
    "p22_snapshot_apply"    -> p22SnapshotApply _,
    "p23_salted_agg"        -> p23SaltedAgg _,
    "p24_split_leakage"     -> p24SplitLeakage _,
    "p25_pseudonymize"      -> p25Pseudonymize _,
    "p26_zorder_layout"     -> p26ZorderLayout _,
    "p27_merge_summaries"   -> p27MergeSummaries _,
    "g15_equidepth_hist"    -> g15EquidepthHist _,
    "p28_retention_sweep"   -> p28RetentionSweep _,
    "p29_forget_sweep"      -> p29ForgetSweep _,
    "g01_quality_score"     -> g01QualityScore _,
    "g08_source_overlap"    -> g08SourceOverlap _,
    "g05_histogram"         -> g05Histogram _,
    "g06_anomaly"           -> g06Anomaly _,
    "g02_hourly_metrics"    -> g02HourlyMetrics _,
    "g03_drift_monitor"     -> g03DriftMonitor _,
    "g04_profile"           -> (g04Profile(_, _)),
    "g07_profile_approx"    -> g07ProfileApprox _,
    "g09_token_profile"     -> g09TokenProfile _,
    "g17_event_funnel"      -> g17EventFunnel _,
    "p30_bookmark_ingest"   -> p30BookmarkIngest _,
    "g19_fd_audit"          -> g19FdAudit _,
    "p31_datacard"          -> p31Datacard _,
  )

  /** Shared p16/p20 oracle front (`t`..`gated`) — the funnel gate CTEs,
    * single-sourced so the two rows' gate stacks can only drift together
    * (the LineDedupCte precedent). */
  private val CurationGateCtes: String = s"""
      t AS (
        SELECT doc_id, ${graft.text.TextAnalysis.ToksSql} AS toks,
               ${graft.text.TextAnalysis.NormSql} AS norm
        FROM documents),
      q AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               ${graft.text.TextAnalysis.QualityExprSql} AS quality
        FROM t),
      sh AS (SELECT doc_id,
               unnest(${graft.text.TextAnalysis.shinglesSql("toks")}) AS s
             FROM t),
      freq AS (SELECT s FROM sh GROUP BY s
               HAVING count(*) >= ${graft.text.TextAnalysis.BoilerFloorSql}),
      sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
      hits AS (
        SELECT sh.doc_id, count(*) AS n_frequent
        FROM sh JOIN freq USING (s) GROUP BY sh.doc_id),
      b AS (
        SELECT s.doc_id,
               round(coalesce(h.n_frequent, 0) * 1.0 / s.n_shingles, 6) AS boiler_frac
        FROM sizes s LEFT JOIN hits h USING (doc_id)),
      fp AS (SELECT doc_id, ${graft.text.TextAnalysis.FpSql} AS fp FROM documents),
      gated AS (
        SELECT q.doc_id, q.n_tokens, q.quality, fp.fp
        FROM q LEFT JOIN b USING (doc_id) JOIN fp USING (doc_id)
        WHERE q.quality >= $CurationMinQuality
          AND coalesce(b.boiler_frac, 0.0) <= $CurationMaxBoiler)"""

  /** Shared p16/p20 oracle tail — the per-split rollup over `kept`.
    * avg_quality via the same order-free integer-micro sum as
    * [[curationRollup]]. */
  private val CurationRollupSql: String = s"""
      SELECT ${splitCaseSql("doc_id")} AS split,
             count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             round(sum(CAST(round(quality * 1000000) AS BIGINT)) * 1.0
                   / count(*) / 1000000.0, 6) AS avg_quality
      FROM kept GROUP BY 1 ORDER BY 1"""

  val oracleSql: Map[String, String] = Map(
    // p34: the premise-free dominance census — NOT EXISTS over the full
    // corpus, no sample and no prune, so the Spark plan's pruning logic
    // is judged by an oracle that never heard of it (quadratic oracle
    // by construction; see SparkEntry.oracleCost)
    "p34_skyline" -> s"""
      WITH t AS (
        SELECT doc_id, ${graft.text.TextAnalysis.ToksSql} AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_toks,
               CAST(len(list_distinct(toks)) * 1000000 // len(toks)
                 AS BIGINT) AS div_micros,
               CAST((len(toks) - len(list_filter(toks, x ->
                 list_contains(['the','a','of','to','in','and','is'], x))))
                 * 1000000 // len(toks) AS BIGINT) AS nsw_micros
        FROM t WHERE len(toks) > 0)
      SELECT doc_id, n_toks, div_micros, nsw_micros
      FROM m x
      WHERE NOT EXISTS (
        SELECT 1 FROM m y
        WHERE y.n_toks >= x.n_toks AND y.div_micros >= x.div_micros
          AND y.nsw_micros >= x.nsw_micros
          AND (y.n_toks > x.n_toks OR y.div_micros > x.div_micros
               OR y.nsw_micros > x.nsw_micros))
      ORDER BY doc_id""",
    // p32: the same integer slot rule over a plain single-pass cumsum
    // (the oracle engine may single-partition; the Spark side must not)
    // p33: the identical A-ES key on the identical 48-bit md5 integers
    // through the one shared [[ResKeySql]] expression — the full ranking
    // reproduces, not just the sample membership
    "p33_weighted_reservoir" -> s"""
      WITH docs AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                    AS BIGINT) AS u48
        FROM documents WHERE n_chars > 0),
      keyed AS (
        SELECT doc_id, n_chars, $ResKeySql AS lnkey FROM docs),
      r AS (
        SELECT row_number() OVER (ORDER BY lnkey DESC, doc_id) AS rank,
               doc_id, n_chars, lnkey
        FROM keyed)
      SELECT rank, doc_id, n_chars,
             CAST(round(lnkey * 1000000000) AS BIGINT) AS key_nanos
      FROM r WHERE rank <= $ReservoirK ORDER BY rank""",
    "p32_pps_sample" -> s"""
      WITH t AS (
        SELECT CAST(sum(n_chars) AS BIGINT) AS w_tot,
               greatest(1, count(*) // $PpsDenom) AS k
        FROM documents),
      c AS (
        SELECT doc_id, n_chars,
               sum(n_chars) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS c
        FROM documents)
      SELECT c.doc_id, c.n_chars, CAST(c.c AS BIGINT) AS cum_weight
      FROM c, t
      WHERE (c.c * t.k) // t.w_tot > ((c.c - c.n_chars) * t.k) // t.w_tot
      ORDER BY c.doc_id""",
    // g20: exact pairwise distinct-user intersections + TRUE bands — the
    // estimator contract is Spark-side (sketches aren't oracle-statable),
    // the truth it's banded against is
    "g20_sketch_overlap" -> """
      WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_exact, TRUE AS est_ok, TRUE AS union_ok
      FROM du a JOIN du b ON a.user_id = b.user_id
                         AND a.event_type < b.event_type
      GROUP BY 1, 2 ORDER BY type_a, type_b""",
    // g21: the specification FP-Growth must match — brute-force powerset
    // enumeration (≤31 subsets of the 5-type alphabet) with the same
    // integer-rational support threshold
    "g21_frequent_sets" -> """
      WITH RECURSIVE s(items, last) AS (
        SELECT [it], it FROM (SELECT DISTINCT event_type AS it FROM events)
        UNION ALL
        SELECT list_append(s.items, t.it), t.it
        FROM s, (SELECT DISTINCT event_type AS it FROM events) t
        WHERE t.it > s.last),
      b AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               list_sort(list(DISTINCT event_type)) AS items
        FROM events GROUP BY 1, 2),
      tot AS (SELECT count(*) AS n FROM b),
      sup AS (
        SELECT array_to_string(s.items, ',') AS itemset,
               count(*) AS n_baskets
        FROM s JOIN b ON list_has_all(b.items, s.items)
        GROUP BY 1)
      SELECT itemset, n_baskets
      FROM sup, tot WHERE n_baskets * 20 >= tot.n
      ORDER BY itemset""",
    // same fingerprint construction both sides: round(·,2) →
    // DECIMAL(18,2) → VARCHAR renders "123.40" in both engines
    "p14_snapshot_diff" -> s"""
      WITH o AS (
        SELECT o_orderkey AS k,
               md5(concat_ws('|', o_orderstatus, o_orderpriority,
                 CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS VARCHAR))) AS fp_old
        FROM orders WHERE o_orderkey % 10 <> $DiffAddedMod),
      n AS (
        SELECT o_orderkey AS k,
               md5(concat_ws('|', o_orderstatus, o_orderpriority,
                 CAST(CAST(round(CASE WHEN o_orderkey % 5 = 0
                                      THEN o_totalprice + 1.0
                                      ELSE o_totalprice END, 2)
                      AS DECIMAL(18,2)) AS VARCHAR))) AS fp_new
        FROM orders WHERE o_orderkey % 10 <> $DiffRemovedMod),
      j AS (
        SELECT coalesce(o.k, n.k) AS k,
               CASE WHEN o.fp_old IS NULL THEN 'added'
                    WHEN n.fp_new IS NULL THEN 'removed'
                    WHEN o.fp_old <> n.fp_new THEN 'changed'
                    ELSE 'unchanged' END AS category
        FROM o FULL JOIN n ON o.k = n.k)
      SELECT category, count(*) AS n_rows,
             min(k) AS min_key, max(k) AS max_key
      FROM j GROUP BY category ORDER BY category""",
    // p14's snapshots + the same patch algebra: apply(old, patch) must
    // reconstruct new exactly — n_mismatch is 0 by construction on BOTH
    // engines or the algebra is broken
    "p22_snapshot_apply" -> s"""
      WITH o AS (
        SELECT o_orderkey AS k,
               md5(concat_ws('|', o_orderstatus, o_orderpriority,
                 CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS VARCHAR))) AS fp
        FROM orders WHERE o_orderkey % 10 <> $DiffAddedMod),
      n AS (
        SELECT o_orderkey AS k,
               md5(concat_ws('|', o_orderstatus, o_orderpriority,
                 CAST(CAST(round(CASE WHEN o_orderkey % 5 = 0
                                      THEN o_totalprice + 1.0
                                      ELSE o_totalprice END, 2)
                      AS DECIMAL(18,2)) AS VARCHAR))) AS fp
        FROM orders WHERE o_orderkey % 10 <> $DiffRemovedMod),
      j AS (
        SELECT coalesce(o.k, n.k) AS k,
               CASE WHEN o.fp IS NULL THEN 'added'
                    WHEN n.fp IS NULL THEN 'removed'
                    WHEN o.fp <> n.fp THEN 'changed'
                    ELSE 'unchanged' END AS category
        FROM o FULL JOIN n ON o.k = n.k),
      up AS (SELECT k FROM j WHERE category IN ('added', 'changed')),
      del AS (SELECT k FROM j WHERE category = 'removed'),
      applied AS (
        SELECT k, fp FROM o
        WHERE k NOT IN (SELECT k FROM up) AND k NOT IN (SELECT k FROM del)
        UNION ALL
        SELECT k, fp FROM n WHERE k IN (SELECT k FROM up)),
      cmp AS (
        SELECT CASE WHEN a.fp IS NULL OR n.fp IS NULL OR a.fp <> n.fp
                    THEN 1 ELSE 0 END AS bad
        FROM applied a FULL JOIN n ON a.k = n.k)
      SELECT (SELECT count(*) FROM up) AS n_upserts,
             (SELECT count(*) FROM del) AS n_deletes,
             (SELECT count(*) FROM applied) AS n_applied,
             (SELECT CAST(sum(1 - bad) AS BIGINT) FROM cmp) AS n_match,
             (SELECT CAST(sum(bad) AS BIGINT) FROM cmp) AS n_mismatch""",
    // same fp (FpSql) + same split gate; the n_splits >= 2 rows are the
    // cross-split leakage the audit exists to surface
    "p24_split_leakage" -> s"""
      WITH f AS (
        SELECT ${graft.text.TextAnalysis.FpSql} AS fp,
               ${splitCaseSql("doc_id")} AS split
        FROM documents),
      per_fp AS (
        SELECT fp, count(DISTINCT split) AS n_splits, count(*) AS n_copies
        FROM f GROUP BY fp)
      SELECT n_splits, count(*) AS n_fps,
             CAST(sum(n_copies) AS BIGINT) AS n_docs
      FROM per_fp GROUP BY n_splits ORDER BY n_splits""",
    // p25: the same peppered sha256 re-derived independently; pid_first
    // anchors hash VALUES, not just counts
    "p25_pseudonymize" -> """
      WITH p AS (
        SELECT doc_id, source,
               source || ':' || CAST(doc_id AS VARCHAR) AS uid,
               substr(sha256('graft-pepper-v1|' || source || ':' ||
                 CAST(doc_id AS VARCHAR)), 1, 16) AS pid
        FROM documents)
      SELECT source, count(*) AS n_docs,
             count(DISTINCT uid) AS n_uids,
             count(DISTINCT pid) AS n_pids,
             arg_min(pid, doc_id) AS pid_first,
             (count(DISTINCT uid) = count(DISTINCT pid)) AS injective_ok
      FROM p GROUP BY source ORDER BY source""",
    // p26: the same 11-bit interleave + top-bits region restated; the
    // dimension minima come from scalar subqueries (bounds-broadcast)
    "p26_zorder_layout" -> s"""
      WITH ev AS (
        SELECT event_id, user_id,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hx0
        FROM events),
      b AS (SELECT min(user_id) AS u0, max(user_id) AS u1,
                   min(hx0) AS h0, max(hx0) AS h1 FROM ev),
      n AS (
        SELECT ((user_id - u0) * ${1 << ZBits}) // (u1 - u0 + 1) AS ux,
               ((hx0 - h0) * ${1 << ZBits}) // (h1 - h0 + 1) AS hx
        FROM ev, b),
      z AS (
        SELECT ux, hx,
               CAST(list_sum(list_transform(range(0, $ZBits), i ->
                 ((ux >> i) & 1) * (1::BIGINT << (2 * i)) +
                 ((hx >> i) & 1) * (1::BIGINT << (2 * i + 1))))
                 AS BIGINT) AS zval
        FROM n)
      SELECT zval >> ${2 * ZBits - ZRegionBits} AS region,
             count(*) AS n_rows,
             min(ux) AS u_min, max(ux) AS u_max,
             min(hx) AS h_min, max(hx) AS h_max,
             (max(ux) - min(ux) + 1) * (max(hx) - min(hx) + 1) AS box_area
      FROM z
      GROUP BY region
      ORDER BY region""",
    // g15: the IDENTICAL SQL text over the oracle's events view — the
    // edges, tie rule, and rollup are single-sourced from g15Sql
    "g15_equidepth_hist" -> g15Sql("events"),
    // p29: the same md5-gated erased set and anti-join accounting; the
    // residue scalar re-applies the gate to the post-delete table
    "p29_forget_sweep" -> s"""
      WITH erased AS (
        SELECT DISTINCT user_id FROM events
        WHERE ${graft.functions.HashGate.sql("user_id", ForgetGateHex)}),
      after AS (
        SELECT * FROM events
        WHERE user_id NOT IN (SELECT user_id FROM erased)),
      res AS (
        SELECT count(*) AS residue FROM after
        WHERE ${graft.functions.HashGate.sql("user_id", ForgetGateHex)}),
      b AS (SELECT event_type, count(*) AS n_before FROM events GROUP BY 1),
      a AS (SELECT event_type, count(*) AS n_after FROM after GROUP BY 1)
      SELECT b.event_type, b.n_before,
             b.n_before - coalesce(a.n_after, 0) AS n_removed,
             coalesce(a.n_after, 0) AS n_after,
             res.residue
      FROM b LEFT JOIN a USING (event_type), res
      ORDER BY event_type""",
    // p28: same day-partition reduction, watermark, and tier ladder;
    // DuckDB's datediff takes (part, start, end)
    "p28_retention_sweep" -> """
      WITH days AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows
        FROM events GROUP BY 1),
      w AS (SELECT max(day) AS wm FROM days),
      t AS (
        SELECT day, n_rows, datediff('day', day, wm) AS age_days
        FROM days, w)
      SELECT CASE WHEN age_days < 1 THEN 'analytics_stream_1d'
                  WHEN age_days < 7 THEN 'stream_7d'
                  WHEN age_days < 14 THEN 'dlq_14d'
                  WHEN age_days < 30 THEN 'raw_standard_30d'
                  WHEN age_days < 90 THEN 'infrequent_access_90d'
                  ELSE 'glacier' END AS tier,
             count(*) AS n_days,
             CAST(sum(n_rows) AS BIGINT) AS n_rows,
             min(day) AS oldest_day, max(day) AS newest_day
      FROM t
      GROUP BY tier
      ORDER BY tier""",
    // p27: the ORACLE is the one-pass rebuild over all events — equality
    // with Spark's history+delta partial merge IS the incremental-
    // maintenance contract (st12 asserts the SAME contract across real
    // micro-batches, so both rows reference this single-sourced text)
    "p27_merge_summaries" -> MergeSummariesOracleSql,
    // the plain one-phase aggregate the salted two-phase plan must equal;
    // exact-integer sums make the reassociation drift-free
    "p23_salted_agg" -> """
      SELECT l_returnflag, count(*) AS n_rows,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 1.0
                   / 100.0, 2) AS revenue
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // CAST the window sum: DuckDB's sum(BIGINT) yields HUGEINT, whose
    // pandas dtype kind differs from Spark's int64 even at equal values
    "p17_token_budget" -> s"""
      WITH t AS (
        SELECT doc_id, source, n_chars,
               CAST(len(${graft.text.TextAnalysis.ToksSql}) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT source, doc_id, n_tokens, cum_tokens
      FROM c WHERE cum_tokens <= $SourceTokenBudget
      ORDER BY source, cum_tokens""",
    // d11's shared first-occurrence CTE feeds the same window as p17 —
    // the budget spends the POST-rewrite token counts
    "p19_dedup_budget" -> s"""
      WITH ${graft.dedup.Dedup.LineDedupCte},
      rw AS (
        SELECT doc_id, source,
               CAST(sum(CASE WHEN rn = 1 THEN nl ELSE 0 END) AS BIGINT) AS n_tokens
        FROM k GROUP BY doc_id, source),
      f AS (SELECT * FROM rw WHERE n_tokens >= $MinKeptTokens),
      c AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY n_tokens DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM f)
      SELECT source, doc_id, n_tokens, cum_tokens
      FROM c WHERE cum_tokens <= $SourceTokenBudget
      ORDER BY source, cum_tokens""",
    // the same exclusive cumsum + integer-division cut; seq spans fan
    // out through range(), span arithmetic is BIGINT-only on both sides
    "p21_pack_sequences" -> s"""
      WITH t AS (
        SELECT doc_id, source,
               CAST(len(${graft.text.TextAnalysis.ToksSql}) AS BIGINT) AS nt
        FROM documents),
      c AS (
        SELECT doc_id, source, nt,
               CAST(coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ofs
        FROM t WHERE nt > 0),
      x AS (
        SELECT source, ofs, ofs + nt AS fin,
               unnest(range(ofs // $PackSeqLen, (ofs + nt - 1) // $PackSeqLen + 1)) AS seq_id
        FROM c)
      SELECT source, seq_id, count(*) AS n_docs,
             CAST(sum(least(fin, (seq_id + 1) * $PackSeqLen) -
                      greatest(ofs, seq_id * $PackSeqLen)) AS BIGINT) AS n_tokens
      FROM x GROUP BY source, seq_id
      ORDER BY source, seq_id""",
    // integer division (//) keeps the factor arithmetic exact; the md5
    // gate is HashGate's shared fragment, so copy counts agree per doc
    "p18_epoch_mix" -> s"""
      WITH d0 AS (
        SELECT doc_id, source,
               CAST(len(${graft.text.TextAnalysis.ToksSql}) AS BIGINT) AS nt
        FROM documents),
      tot AS (SELECT source, CAST(sum(nt) AS BIGINT) AS tok FROM d0 GROUP BY source),
      mx AS (SELECT max(tok) AS tok_max FROM tot),
      f AS (
        SELECT source, tok_max // tok AS whole,
               ((tok_max % tok) * 256) // tok AS thr
        FROM tot, mx),
      c AS (
        SELECT d0.doc_id, d0.source, d0.nt,
               f.whole + (CASE WHEN CAST('0x' ||
                 ${graft.functions.HashGate.sqlPrefix("d0.doc_id")} AS BIGINT)
                 < f.thr THEN 1 ELSE 0 END) AS copies
        FROM d0 JOIN f USING (source)),
      x AS (
        SELECT doc_id, source, nt, unnest(range(1, copies + 1)) AS copy_idx
        FROM c)
      SELECT source,
             CAST(sum(CASE WHEN copy_idx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN copy_idx = 1 THEN nt ELSE 0 END) AS BIGINT) AS tokens_before,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(sum(nt) AS BIGINT) AS tokens_after
      FROM x GROUP BY source ORDER BY source""",
    // exact shingle STRINGS (hash-independent, the d02/t14 precedent);
    // the self-join on sg reproduces the source-set pair explosion, and
    // the diagonal row (a = a) is a's distinct-shingle total
    "g08_source_overlap" -> s"""
      WITH toks AS (
        SELECT source, ${graft.text.TextAnalysis.ToksSql} AS t FROM documents),
      sh AS (
        SELECT DISTINCT source,
               unnest(${graft.text.TextAnalysis.shinglesSql("t")}) AS sg
        FROM toks),
      m AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n
        FROM sh a JOIN sh b USING (sg) GROUP BY 1, 2)
      SELECT m.source_a, m.source_b, m.n AS n_shared, d.n AS n_a,
             round(m.n * 1.0 / d.n, 6) AS overlap_frac
      FROM m JOIN (SELECT source_a, n FROM m WHERE source_a = source_b) d
        USING (source_a)
      WHERE m.source_a <> m.source_b
      ORDER BY m.source_a, m.source_b""",
    "p15_source_cap" -> s"""
      WITH r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rank
        FROM documents)
      SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
      FROM r WHERE rank <= $SourceCapK
      ORDER BY source, rank""",
    // the t02 quality, t14 shingle, t04 fingerprint, and p12 split
    // fragments composed from their SHARED definitions (QualityExprSql /
    // shinglesSql / FpSql / splitCaseSql) — the CAST on the sum keeps
    // DuckDB's HUGEINT from drifting the column dtype; the LEFT JOIN on
    // the boilerplate side keeps sub-3-token (shingle-less) docs in the
    // funnel with zero boilerplate, mirroring the Spark side
    "p16_curation_e2e" -> s"""
      WITH $CurationGateCtes,
      kept AS (
        SELECT doc_id, n_tokens, quality FROM (
          SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM gated)
        WHERE rn = 1)
      $CurationRollupSql""",
    // p20: the same gate CTEs with d08's contamination restated over the
    // shared `sh` shingle stream (bench cut's distinct shingles probed by
    // the train cut), gating the train docs before the identical
    // dedup+rollup tail. Both sides compare the same round(·,6) fraction.
    "p20_decontam_funnel" -> s"""
      WITH $CurationGateCtes,
      chits AS (
        SELECT t.doc_id, count(*) AS n_shared
        FROM sh t JOIN (SELECT DISTINCT s FROM sh
                        WHERE doc_id % ${graft.dedup.Dedup.ContaminationBenchMod} = 0) cb
          ON t.s = cb.s
        WHERE t.doc_id % ${graft.dedup.Dedup.ContaminationBenchMod} <> 0
        GROUP BY t.doc_id),
      contam AS (
        SELECT s.doc_id,
               round(coalesce(h.n_shared, 0) * 1.0 / s.n_shingles, 6) AS contam_frac
        FROM sizes s LEFT JOIN chits h USING (doc_id)),
      kept AS (
        SELECT doc_id, n_tokens, quality FROM (
          SELECT g.*, row_number() OVER (PARTITION BY g.fp ORDER BY g.doc_id) AS rn
          FROM gated g LEFT JOIN contam c USING (doc_id)
          WHERE g.doc_id % ${graft.dedup.Dedup.ContaminationBenchMod} <> 0
            AND coalesce(c.contam_frac, 0.0) <= $CurationMaxContam)
        WHERE rn = 1)
      $CurationRollupSql""",
    // trailing-24h z-score with the same <2-observations / zero-variance
    // guard; stddev_samp over ≤24 values agrees to well past the 6th
    // decimal, which round(·,6) pins. Both engines densify the hourly
    // series (generate_series / sequence) so the frame is wall-clock.
    "g06_anomaly" -> s"""
      WITH o AS (
        SELECT date_trunc('hour', ts) AS hour_bucket, count(*) AS n
        FROM events GROUP BY 1),
      g AS (
        SELECT unnest(generate_series(min(hour_bucket), max(hour_bucket),
                 INTERVAL 1 HOUR)) AS hour_bucket
        FROM o),
      h AS (
        SELECT g.hour_bucket, coalesce(o.n, 0) AS n
        FROM g LEFT JOIN o ON g.hour_bucket = o.hour_bucket),
      w AS (
        SELECT hour_bucket, n,
               count(n) OVER tw AS cnt,
               avg(n) OVER tw AS mean,
               stddev_samp(n) OVER tw AS std
        FROM h
        WINDOW tw AS (ORDER BY hour_bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      z AS (
        SELECT hour_bucket, n,
               CASE WHEN cnt >= 2 AND std > 0 THEN (n - mean) / std END AS z
        FROM w)
      SELECT hour_bucket, n, round(z, 6) AS z,
             coalesce(abs(z) > $AnomalyZMax, false) AS is_anomaly
      FROM z ORDER BY hour_bucket""",
    // binning expression textually identical to the Spark side —
    // (v - lo) * B / (hi - lo) — so IEEE double results agree bitwise
    "g05_histogram" -> s"""
      WITH v AS (
        SELECT 'l_discount' AS col_name, CAST(l_discount AS DOUBLE) AS v FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_quantity', CAST(l_quantity AS DOUBLE) FROM lineitem),
      b AS (SELECT col_name, min(v) AS lo, max(v) AS hi FROM v GROUP BY col_name),
      j AS (
        SELECT v.col_name, v.v,
               CAST(CASE WHEN b.hi = b.lo THEN 0
                    ELSE least(floor((v.v - b.lo) * $HistBins / (b.hi - b.lo)),
                               ${HistBins - 1}) END AS BIGINT) AS bin
        FROM v JOIN b USING (col_name))
      SELECT col_name, bin, count(*) AS n,
             round(min(v), 6) AS v_min, round(max(v), 6) AS v_max
      FROM j GROUP BY col_name, bin ORDER BY col_name, bin""",
    "p12_train_split" -> s"""
      SELECT doc_id, ${splitCaseSql("doc_id")} AS split
      FROM documents
      ORDER BY doc_id""",
    "p13_source_mix" -> s"""
      WITH c AS (
        SELECT source, count(*) AS n_total FROM documents GROUP BY source),
      r AS (
        SELECT source, n_total,
               CAST(floor(min(n_total) OVER () * 256.0 / n_total) AS INT) AS threshold
        FROM c)
      SELECT d.source,
             CAST(min(r.n_total) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN CAST('0x' || ${graft.functions.HashGate.sqlPrefix("d.doc_id")} AS INT)
                           < r.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents d JOIN r USING (source)
      GROUP BY d.source
      ORDER BY d.source""",
    // p31: every card number restated from the SAME shared definitions
    // (tokenizer, t02 quality, t04 fingerprint) in the tall schema
    "p31_datacard" -> s"""
      WITH t AS (
        SELECT doc_id, lang, source, n_chars,
               ${graft.text.TextAnalysis.ToksSql} AS toks,
               ${graft.text.TextAnalysis.NormSql} AS norm
        FROM documents),
      q AS (SELECT ${graft.text.TextAnalysis.QualityExprSql} AS quality FROM t),
      tot AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      card AS (
        SELECT 'corpus' AS section, 'docs' AS item,
               CAST(count(*) AS BIGINT) AS n, NULL::DOUBLE AS v FROM documents
        UNION ALL
        SELECT 'corpus', 'chars', CAST(sum(n_chars) AS BIGINT), NULL FROM documents
        UNION ALL
        SELECT 'lang', lang, count(*),
               round(CAST(count(*) AS DOUBLE) / (SELECT nd FROM tot), 6)
        FROM documents GROUP BY lang
        UNION ALL
        SELECT 'source', source, count(*),
               round(CAST(count(*) AS DOUBLE) / (SELECT nd FROM tot), 6)
        FROM documents GROUP BY source
        UNION ALL
        SELECT 'tokens', 'total', CAST(sum(len(toks)) AS BIGINT), NULL FROM t
        UNION ALL
        SELECT 'tokens', 'mean', NULL,
               round(CAST(sum(len(toks)) AS DOUBLE) / count(*), 6) FROM t
        UNION ALL
        SELECT 'quality', 'p25', NULL,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY quality) FROM q
        UNION ALL
        SELECT 'quality', 'p50', NULL,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY quality) FROM q
        UNION ALL
        SELECT 'quality', 'p75', NULL,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY quality) FROM q
        UNION ALL
        SELECT 'dedup', 'unique',
               CAST(count(DISTINCT ${graft.text.TextAnalysis.FpSql}) AS BIGINT),
               NULL FROM documents
        UNION ALL
        SELECT 'dedup', 'dup_docs',
               CAST(count(*) - count(DISTINCT ${graft.text.TextAnalysis.FpSql})
                 AS BIGINT), NULL FROM documents)
      SELECT section, item, n, v FROM card
      ORDER BY section, item""",
    // g19: each FD candidate restated as two distinct counts; literal
    // (table, lhs, rhs) ids so the engines can only agree by meaning
    "g19_fd_audit" -> """
      WITH c AS (
        SELECT 'orders' AS table_name, 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
               count(DISTINCT o_orderkey)
                 FILTER (WHERE o_custkey IS NOT NULL) AS n_lhs,
               count(DISTINCT (o_orderkey, o_custkey))
                 FILTER (WHERE o_orderkey IS NOT NULL
                         AND o_custkey IS NOT NULL) AS n_pairs FROM orders
        UNION ALL
        SELECT 'orders', 'o_orderkey', 'o_orderstatus',
               count(DISTINCT o_orderkey)
                 FILTER (WHERE o_orderstatus IS NOT NULL),
               count(DISTINCT (o_orderkey, o_orderstatus))
                 FILTER (WHERE o_orderkey IS NOT NULL
                         AND o_orderstatus IS NOT NULL) FROM orders
        UNION ALL
        SELECT 'orders', 'o_custkey', 'o_orderstatus',
               count(DISTINCT o_custkey)
                 FILTER (WHERE o_orderstatus IS NOT NULL),
               count(DISTINCT (o_custkey, o_orderstatus))
                 FILTER (WHERE o_custkey IS NOT NULL
                         AND o_orderstatus IS NOT NULL) FROM orders
        UNION ALL
        SELECT 'events', 'event_id', 'user_id',
               count(DISTINCT event_id)
                 FILTER (WHERE user_id IS NOT NULL),
               count(DISTINCT (event_id, user_id))
                 FILTER (WHERE event_id IS NOT NULL
                         AND user_id IS NOT NULL) FROM events
        UNION ALL
        SELECT 'events', 'user_id', 'event_type',
               count(DISTINCT user_id)
                 FILTER (WHERE event_type IS NOT NULL),
               count(DISTINCT (user_id, event_type))
                 FILTER (WHERE user_id IS NOT NULL
                         AND event_type IS NOT NULL) FROM events)
      SELECT table_name, lhs, rhs, n_lhs, n_pairs,
             n_pairs - n_lhs AS violations,
             n_pairs = n_lhs AS holds
      FROM c ORDER BY table_name, lhs, rhs""",
    // p30: the union-of-incremental-runs ≡ one-shot-run law; run
    // membership restated as the arrival-cut CASE, n_runs pins the
    // straddling hour
    "p30_bookmark_ingest" -> s"""
      WITH h AS (
        SELECT date_trunc('hour', ts) AS hour_bucket,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN ts < TIMESTAMP '$BookmarkCut'
                    THEN 'r1' ELSE 'r2' END AS run
        FROM events)
      SELECT CAST(hour_bucket AS TIMESTAMP) AS hour_bucket,
             count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS cents,
             count(DISTINCT run) AS n_runs
      FROM h GROUP BY 1 ORDER BY hour_bucket""",
    // g17: the funnel walk restated as stage-wise join-aggregates — a
    // structurally different formulation from the Spark array folds
    "g17_event_funnel" -> """
      WITH v AS (
        SELECT user_id, min(ts) AS v_ts
        FROM events WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.ts) AS c_ts
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.ts) AS p_ts
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1)
      SELECT CAST(v.v_ts AS DATE) AS cohort_day,
             count(*) AS n_viewed,
             count(c.c_ts) AS n_clicked,
             count(p.p_ts) AS n_purchased,
             CAST(COALESCE(sum(epoch_us(c.c_ts) - epoch_us(v.v_ts)), 0) AS BIGINT)
               AS click_gap_us,
             CAST(COALESCE(sum(epoch_us(p.p_ts) - epoch_us(c.c_ts)), 0) AS BIGINT)
               AS purchase_gap_us
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      GROUP BY 1 ORDER BY cohort_day""",
    // approx contract row: exact n/n_null plus the band boolean — the
    // sketch VALUES differ across engines, the bound is the contract
    // same tokenizer, same H = ln(n) − Σc·ln(c)/n identity, same
    // (c desc, term) head ordering; regr_slope exists in both engines
    "g09_token_profile" -> s"""
      WITH tok AS (
        SELECT source, unnest(${graft.text.TextAnalysis.ToksSql}) AS term
        FROM documents),
      counts AS (
        SELECT source, term, count(*) AS c FROM tok
        WHERE term <> '' GROUP BY source, term),
      stats AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_types, max(c) AS top_c,
               sum(c * ln(c)) AS clnc
        FROM counts GROUP BY source),
      head AS (
        SELECT source, c,
               row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rank
        FROM counts),
      zipf AS (
        SELECT source, regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))) AS slope
        FROM head WHERE rank <= $ZipfTopK GROUP BY source)
      SELECT s.source, s.n_tokens, s.n_types,
             round(s.n_types * 1.0 / s.n_tokens, 6) AS ttr,
             round(s.top_c * 1.0 / s.n_tokens, 6) AS top1_share,
             round(ln(s.n_tokens) - s.clnc / s.n_tokens, 6) AS entropy,
             round(z.slope, 6) AS zipf_slope
      FROM stats s JOIN zipf z USING (source)
      ORDER BY s.source""",
    "g07_profile_approx" -> """
      WITH s AS (SELECT * FROM events)
      SELECT * FROM (
        SELECT 'event_id' AS col_name, count(*) AS n,
               count(*) - count(event_id) AS n_null, TRUE AS approx_ok
        FROM s
        UNION ALL
        SELECT 'event_type', count(*), count(*) - count(event_type), TRUE FROM s
        UNION ALL
        SELECT 'props', count(*), count(*) - count(props), TRUE FROM s
        UNION ALL
        SELECT 'user_id', count(*), count(*) - count(user_id), TRUE FROM s
        UNION ALL
        SELECT 'value', count(*), count(*) - count(value), TRUE FROM s)
      ORDER BY col_name""",
    "g04_profile" -> """
      WITH s AS (SELECT * FROM events)
      SELECT * FROM (
        SELECT 'event_id' AS col_name, count(*) AS n,
               count(*) - count(event_id) AS n_null,
               count(DISTINCT event_id) AS n_distinct,
               CAST(min(event_id) AS DOUBLE) AS min_num,
               CAST(max(event_id) AS DOUBLE) AS max_num,
               NULL AS min_s, NULL AS max_s
        FROM s
        UNION ALL
        SELECT 'event_type', count(*), count(*) - count(event_type),
               count(DISTINCT event_type), NULL, NULL,
               min(event_type), max(event_type)
        FROM s
        UNION ALL
        SELECT 'props', count(*), count(*) - count(props),
               count(DISTINCT props), NULL, NULL, min(props), max(props)
        FROM s
        UNION ALL
        SELECT 'user_id', count(*), count(*) - count(user_id),
               count(DISTINCT user_id), CAST(min(user_id) AS DOUBLE),
               CAST(max(user_id) AS DOUBLE), NULL, NULL
        FROM s
        UNION ALL
        SELECT 'value', count(*), count(*) - count(value),
               count(DISTINCT value), CAST(min(value) AS DOUBLE),
               CAST(max(value) AS DOUBLE), NULL, NULL
        FROM s)
      ORDER BY col_name""",
    "g03_drift_monitor" -> s"""
      WITH c AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      e AS (
        SELECT day, event_type, n,
               n * 1.0 / sum(n) OVER (PARTITION BY day) AS p_day,
               (sum(n) OVER (PARTITION BY event_type)) * 1.0 /
                 (sum(n) OVER ()) AS p_glob
        FROM c)
      SELECT day,
             round(sum(abs(p_day - p_glob)) / 2, 6) AS tv_distance,
             CAST(sum(n) AS BIGINT) AS n_events,
             round(sum(abs(p_day - p_glob)) / 2, 6) > $DriftTvMax AS is_drifted
      FROM e GROUP BY day ORDER BY day""",
    "p10_funnel" -> s"""
      WITH corpus AS (
        SELECT * FROM documents
        UNION ALL
        SELECT * FROM documents
        WHERE ${graft.functions.HashGate.sql("doc_id", FunnelReingestHex)}),
      m AS (
        SELECT lang, n_chars,
               len(${graft.text.TextAnalysis.ToksSql}) AS n_tok,
               md5(${graft.text.TextAnalysis.NormSql}) AS fp,
               lang IN ('${FunnelLangs.mkString("','")}') AS c1
        FROM corpus),
      c AS (
        SELECT count(*) AS s0,
               count(*) FILTER (c1) AS s1,
               count(*) FILTER (c1 AND n_chars BETWEEN $FunnelMinChars AND $FunnelMaxChars) AS s2,
               count(*) FILTER (c1 AND n_chars BETWEEN $FunnelMinChars AND $FunnelMaxChars
                                AND n_tok >= $FunnelMinTokens) AS s3,
               count(DISTINCT fp) FILTER (c1 AND n_chars BETWEEN $FunnelMinChars AND $FunnelMaxChars
                                          AND n_tok >= $FunnelMinTokens) AS s4
        FROM m)
      SELECT * FROM (
        SELECT 0 AS stage_idx, 'ingested' AS stage, s0 AS n_docs FROM c
        UNION ALL SELECT 1, 'lang_kept', s1 FROM c
        UNION ALL SELECT 2, 'len_band',  s2 FROM c
        UNION ALL SELECT 3, 'tok_floor', s3 FROM c
        UNION ALL SELECT 4, 'deduped',   s4 FROM c)
      ORDER BY stage_idx""",
    "p11_shard_shuffle" -> s"""
      WITH keyed AS (
        SELECT doc_id,
               ${graft.functions.HashGate.sqlSeededHex("doc_id", ShuffleSeed)} AS h
        FROM documents),
      sharded AS (
        SELECT doc_id, h,
               CAST(CAST('0x' || substr(h, 1, 2) AS INT) % $NumShuffleShards AS INT) AS shard
        FROM keyed)
      SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
      FROM sharded
      ORDER BY shard, pos""",
    "p09_shard_manifest" -> s"""
      SELECT ${graft.functions.HashGate.sqlShard("doc_id", NumShards)} AS shard,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             min(doc_id) AS min_doc_id,
             max(doc_id) AS max_doc_id
      FROM documents
      GROUP BY 1
      ORDER BY shard""",
    // the upsert's fixpoint stated directly: gated rows carry the updated
    // value, ungated rows the original — one row per event_id either way
    "p07_upsert" -> s"""
      SELECT event_type, count(*) AS n_rows,
             round(sum(CASE WHEN ${graft.functions.HashGate.sql("event_id", UpsertGateHex)}
                            THEN round(value + 1000.0, 2) ELSE value END), 6) AS sum_value,
             CAST(sum(CASE WHEN ${graft.functions.HashGate.sql("event_id", UpsertGateHex)}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    // the GLOBAL SCD2 rebuild — the incremental apply must reproduce it
    "p08_scd2" -> """
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS valid_from,
             coalesce(
               CAST(lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts)
                    AS TIMESTAMP),
               TIMESTAMP '2100-01-01') AS valid_to,
             lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts) IS NULL AS is_current
      FROM events
      ORDER BY user_id, event_type, valid_from, valid_to""",
    // same md5-prefix gate, rate thresholds inlined (see SampleThresholds)
    "p06_stratified_sample" -> s"""
      SELECT event_type,
             count(*) AS n_total,
             sum(CASE WHEN ${graft.functions.HashGate.sqlPrefix("event_id")} <
                   CASE event_type
                     WHEN 'click'    THEN '40'
                     WHEN 'view'     THEN '20'
                     WHEN 'purchase' THEN 'ff'
                     WHEN 'signup'   THEN '80'
                     WHEN 'error'    THEN '10'
                     ELSE '00' END
                 THEN 1 ELSE 0 END)::BIGINT AS n_sampled
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    "p01_validate_events" -> """
      WITH v AS (
        SELECT event_type,
               (value <= 300.0) AS r1,
               (event_type IN ('click','view','purchase','signup')) AS r2,
               (CAST(json_extract_string(props, '$.k') AS BIGINT) < 80) AS r3
        FROM events)
      SELECT event_type,
             -- CAST: DuckDB types sum(int) as HUGEINT; Spark emits BIGINT
             CAST(sum(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
             -- IS NOT TRUE, not NOT(...): SchemaValidator coalesces NULL
             -- predicates to failures, so a NULL rule result must count
             CAST(sum(CASE WHEN (r1 AND r2 AND r3) IS NOT TRUE THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
             CAST(sum(CASE WHEN r1 IS NOT TRUE THEN 1 ELSE 0 END) AS BIGINT) AS n_value_err,
             CAST(sum(CASE WHEN r3 IS NOT TRUE THEN 1 ELSE 0 END) AS BIGINT) AS n_k_err
      FROM v GROUP BY event_type ORDER BY event_type""",
    "p02_clean_dedup" -> """
      WITH c AS (
        SELECT doc_id, lang, source,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents),
      r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM c)
      SELECT doc_id, lang, source, fp FROM r WHERE rn = 1 ORDER BY doc_id""",
    "p03_enrich_events" -> """
      SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
             count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events LEFT JOIN customer ON user_id = c_custkey
      GROUP BY 1 ORDER BY segment""",
    "p05_derive_partitions" -> """
      SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day, hour(ts) AS hour,
             count(*) AS n_rows
      FROM events GROUP BY 1, 2, 3, 4 ORDER BY year, month, day, hour""",
    "g01_quality_score" -> """
      WITH v AS (
        SELECT event_type,
               CASE WHEN value <= 300.0 THEN 1.0 ELSE 0.0 END AS r1,
               CASE WHEN event_type IN ('click','view','purchase','signup')
                    THEN 1.0 ELSE 0.0 END AS r2,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 80
                    THEN 1.0 ELSE 0.0 END AS r3
        FROM events)
      SELECT event_type,
             round(avg(r1), 6) AS value_ok_rate,
             round(avg(r2), 6) AS type_ok_rate,
             round(avg(r3), 6) AS k_ok_rate,
             round(avg(r1 * r2 * r3), 6) AS quality,
             (round(avg(r1 * r2 * r3), 6) > 0.8) AS gate_pass
      FROM v GROUP BY event_type ORDER BY event_type""",
    "g02_hourly_metrics" -> """
      SELECT date_trunc('hour', ts) AS hour_bucket,
             count(*) AS n_events,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
             round(sum(CASE WHEN event_type <> 'error' THEN 1.0 ELSE 0.0 END) / count(*), 6)
               AS success_rate
      FROM events GROUP BY 1 ORDER BY hour_bucket""",
  )
}
