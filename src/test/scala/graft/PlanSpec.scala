package graft

import graft.queries.{PipelineQueries, RelationalQueries}
import graft.similarity.Similarity

/** Physical-plan contracts for the scale-critical queries (SURVEY §4):
  * these assertions pin the plan shapes that make the 100 TB story true —
  * pushdown reaching the scan, small sides broadcast, top-k avoiding a
  * global sort, and no accidental cartesian products. A refactor that
  * regresses any of these fails the build, not a production run. */
class PlanSpec extends SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // let AQE finalize the plan it would really run
    // keep only the final adaptive plan — the "Initial Plan" section
    // repeats every operator and breaks occurrence counting
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** The UNtruncated executed-plan string. `executed` cuts at the first
    * "== Initial Plan ==", which for plans with CACHED subtrees (nested
    * AdaptiveSparkPlan inside InMemoryRelation, e.g. g31's persisted
    * edge/degree frames) swallows everything after the first cached
    * section — including the joins a pin needs to see. Safe for
    * POSITIVE containment checks (an operator in an initial section that
    * AQE later replaced can only add text, and CartesianProduct /
    * conditioned-BNLJ never appear in an initial plan unless real);
    * unusable for occurrence COUNTING. */
  private def executedFull(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q02: all three predicates are pushed into the parquet scan") {
    val plan = executed(RelationalQueries.q02FilterAgg(spark, sf))
    assert(plan.contains("PushedFilters:"), plan)
    val pushed = plan.linesIterator.find(_.contains("PushedFilters:")).get
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), pushed)
  }

  test("q02: scan reads only the four referenced columns") {
    val plan = executed(RelationalQueries.q02FilterAgg(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).get
    Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice").foreach(c =>
      assert(readSchema.contains(c), readSchema))
    Seq("l_orderkey", "l_partkey", "l_comment", "l_returnflag").foreach(c =>
      assert(!readSchema.contains(c), readSchema))
  }

  test("q03: dimension joins broadcast; no shuffle of nation/region") {
    val plan = executed(RelationalQueries.q03JoinRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q16: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = executed(RelationalQueries.q16TopK(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q23: explicit broadcast hint survives to the physical plan") {
    val plan = executed(RelationalQueries.q23BroadcastEnrich(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("p01: validation is a single scan with partial aggregation") {
    val plan = executed(PipelineQueries.p01ValidateEvents(spark, sf))
    // one scan of events, no join, partial+final hash aggregate
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("s01: ANN scoring broadcasts the query side, corpus side stays partitioned") {
    val plan = executed(Similarity.s01BruteForceTopK(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("d05: blocked pair join — no BNLJ, no cartesian (the 100×-scale contract)") {
    val plan = executed(graft.dedup.Dedup.d05EmbeddingNearDup(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q17: single-pass set ops — one scan of orders, not six") {
    val plan = executed(RelationalQueries.q17SetOps(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
  }

  test("d03: the doc_id exchange is built once and reused by the verify joins") {
    val plan = executed(graft.dedup.Dedup.d03MinHashLsh(spark, sf))
    assert(plan.contains("ReusedExchange"), plan)
  }

  test("d03: the signature is the band kernel — no min(...) signature aggregate in the plan") {
    val plan = executed(graft.dedup.Dedup.d03MinHashLsh(spark, sf))
    assert(plan.contains("minhashbands("), plan)
    assert(!plan.contains("min("), plan)
  }

  test("d02: the over-cap split is a semi/anti join on the one over-cap hash set — no Window") {
    import graft.dedup.Dedup
    val plan = executedFull(Dedup.d02Over(Dedup.hostileDocs(spark, sf)))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("m01: media meta accounting is one scan + one aggregation exchange") {
    val plan = executed(graft.multimodal.MultimodalQueries.m01MediaMeta(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("d06: keep-first runs as WindowGroupLimit (top-1 per fp, partial+final), no extra exchange") {
    val plan = executed(graft.dedup.Dedup.d06IncrementalDedup(spark, sf))
    // Spark's rank-filter pushdown must keep applying: without it every
    // batch row flows into the window sort instead of top-1-per-group
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("d06: bucketed history side joins with zero Exchange (the batch window's is the only hash shuffle)") {
    val plan = executed(graft.dedup.Dedup.d06IncrementalDedup(spark, sf))
    // the anti-join must stay sort-merge (broadcast can't hold 100 TB of
    // accumulated fingerprints) and read history bucket-aligned: exactly
    // ONE hash exchange in the whole plan — the batch side's window
    // shuffle, which the join then reuses. The history scan feeds the
    // join with no Exchange above it (bucket count == session shuffle
    // parallelism by construction).
    assert(plan.contains("SortMergeJoin"), plan)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("p07: upsert's rank-1 runs as WindowGroupLimit on one keyed exchange") {
    val plan = executed(PipelineQueries.p07Upsert(spark, sf))
    // latest-wins must plan as per-group top-1 (map-side group limit),
    // not a full per-key sort of base ∪ updates
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("t02/t07: the tokenizer is structurally single-evaluation (one split per plan)") {
    val p2 = executed(graft.text.TextAnalysis.t02Quality(spark, sf))
    assert("split\\(".r.findAllIn(p2).size == 1, p2)
    // the normalizer feeds both the standalone norm column and the split
    assert("regexp_replace\\(lower\\(trim\\(".r.findAllIn(p2).size == 1, p2)
    val p7 = executed(graft.text.TextAnalysis.t07Sentiment(spark, sf))
    assert("split\\(".r.findAllIn(p7).size == 1, p7)
  }

  test("d08: benchmark side broadcasts; the corpus is probed map-side, no corpus-key shuffle") {
    val plan = executed(graft.dedup.Dedup.d08Contamination(spark, sf))
    // the probe must be a broadcast hash join (benchmark shingles are
    // small by nature); a sort-merge join here would shuffle the entire
    // exploded training corpus on the shingle hash
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the training corpus itself never hash-shuffles on a content key:
    // the only doc-side exchange is the per-doc rollup keyed on doc_id;
    // the one other hash exchange is the BENCHMARK side's distinct —
    // bounded by the benchmark's size, not the corpus's
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(doc_id")) == 1, plan)
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) == 2, plan)
  }

  test("p09: shard manifest is one scan with map-side partial aggregation") {
    val plan = executed(PipelineQueries.p09ShardManifest(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    // partial_count before the exchange = the shard rollup combines
    // map-side; the shuffle carries ≤ NumShards rows per input partition
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("g03: drift windows run over the (day, type) aggregate, not the corpus") {
    val plan = executed(PipelineQueries.g03DriftMonitor(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    // the corpus-side aggregate must combine map-side BEFORE any Window
    // touches the data — Window over the raw scan would single-task 100 TB
    val lines = plan.linesIterator.toVector
    val firstWindow = lines.indexWhere(_.contains("Window"))
    val partialAgg = lines.indexWhere(_.contains("partial_count"))
    assert(firstWindow >= 0 && partialAgg >= 0, plan)
    // formatted plans print operators top-down (result first), so the
    // partial aggregate must appear BELOW the window operators
    assert(partialAgg > firstWindow, plan)
  }

  test("t10: repetition metrics touch the corpus twice at most (array pass + token mode)") {
    val plan = executed(graft.text.TextAnalysis.t10Repetition(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) <= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("p10: funnel is ONE corpus scan (multiplicity weight, not a re-ingestion union)") {
    val plan = executed(PipelineQueries.p10Funnel(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(!plan.contains("Union"), plan)
    // the mixed distinct/sum aggregate still combines map-side
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("p11: shuffle's window runs on the shard hash exchange; no extra exchange before it") {
    val plan = executed(PipelineQueries.p11ShardShuffle(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    // exactly one hash exchange (on shard) feeds the row_number window;
    // the trailing rangepartitioning belongs to the oracle-determinism
    // orderBy, which a real sharded write replaces with per-shard files
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) == 1, plan)
    assert(plan.contains("Window"), plan)
  }

  test("t11: bigram top-k aggregates before the window and prunes with WindowGroupLimit") {
    val plan = executed(graft.text.TextAnalysis.t11NgramTopK(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    val lines = plan.linesIterator.toVector
    val firstWindow = lines.indexWhere(_.contains("Window"))
    val partialAgg = lines.indexWhere(_.contains("partial_count"))
    assert(firstWindow >= 0 && partialAgg >= 0, plan)
    // partial (lang, bigram) counts must form BELOW the window: the
    // window sees vocabulary-bounded aggregate rows, never raw bigrams
    assert(partialAgg > firstWindow, plan)
  }

  test("a02: range join is a binned equi-join — no nested-loop, no cartesian") {
    val plan = executed(graft.queries.ExtendedQueries.a02RangeJoin(spark, sf))
    // the whole point of the bin construction: a pure theta-join would
    // plan BNLJ and do O(N·M) comparisons at scale
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("a05: nearest as-of runs both walks off ONE key shuffle (two Windows, one data Exchange)") {
    val plan = executed(graft.queries.ExtendedQueries.a05AsOfNearest(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // exchanges: one hash partitioning on the key for both window walks +
    // the final global-sort range exchange — a second key shuffle would
    // mean the walks stopped sharing the partitioning
    val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, plan)
    assert("Window".r.findAllIn(plan).length >= 2, plan)
  }

  test("s11: knn graph joins on (label, salt) pinned lanes; vectors cross one exchange") {
    val plan = executed(graft.similarity.Similarity.s11KnnGraph(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("REPARTITION_BY_NUM"), plan)
    // embeddings are projected away before the per-vector top-k window:
    // the vec_id exchange feeding the window must not carry vectors
    assert(plan.contains("Window"), plan)
    plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(vec_id"))
      .foreach(l => assert(!l.contains("embedding") && !l.contains("nb_em"), l))
  }

  test("g04: profiler is one scan; multi-distinct plans as a single Expand pipeline") {
    val plan = executed(PipelineQueries.g04Profile(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(plan.contains("Expand"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("g04 approx knob: HLL profiler is one scan with NO Expand (the 100 TB path)") {
    val plan = executed(PipelineQueries.g04Profile(spark, sf, exact = false))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    // the knob's whole value: K approx-distinct lanes aggregate as
    // fixed-size HLL buffers in ONE pass — no Expand row multiplication
    assert(!plan.contains("Expand"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("p12: split assignment is shuffle-free (the only exchange is the oracle orderBy)") {
    val plan = executed(PipelineQueries.p12TrainSplit(spark, sf))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("p15: the per-source cap plans as WindowGroupLimit (map-side top-K per source)") {
    val plan = executed(PipelineQueries.p15SourceCap(spark, sf))
    // rank <= K must prune per-task BEFORE the exchange: each map task
    // keeps O(sources·K) rows, the shuffle never carries the corpus
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("p14: the diff join carries fingerprints only — no row bodies cross the exchange") {
    val plan = executed(PipelineQueries.p14SnapshotDiff(spark, sf))
    assert(plan.contains("FullOuter"), plan)
    // each snapshot side reduces to (key, md5) on its scan; the compared
    // columns must not appear in any exchange's output
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(l => !l.contains("o_totalprice") &&
      !l.contains("o_orderstatus")), exLines.mkString("\n"))
  }

  test("g05: histogram bounds broadcast back; binning scan never shuffles rows") {
    val plan = executed(PipelineQueries.g05Histogram(spark, sf))
    // the 3-row bounds frame must broadcast — a sort-merge join here
    // would shuffle the full unpivoted corpus on col_name (3 keys!)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hash exchanges are the two tiny aggregates' (bounds +
    // final (col,bin) rollup) — never keyed on the unpivoted row stream
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("t14: the frequent-shingle set broadcasts; the probe never shuffles on content") {
    val plan = executed(graft.text.TextAnalysis.t14Boilerplate(spark, sf))
    // same contract as d08, with a SELF-derived probe set: the df-count
    // aggregate shuffles 8-byte hashes, the heavy-hitter result
    // broadcasts, and the scoring pass probes map-side on the scan — a
    // sort-merge join here would shuffle the whole exploded corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the only doc-keyed exchange is the final per-doc rollup
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(doc_id")) == 1, plan)
  }

  test("t15: LM scoring joins broadcast at test SF; no window, no cartesian on data") {
    val plan = executed(graft.text.TextAnalysis.t15UnigramLm(spark, sf))
    // the LM side (term → logp) is small at test SF and must broadcast;
    // at 100 TB AQE picks the skew-aware shuffle join instead — either
    // way there is never a WindowExec or a data-sized cartesian here
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("WindowExec"), plan)
  }

  test("d09: representative selection aggregates map-side, no window/rank pipeline") {
    val plan = executed(graft.dedup.Dedup.d09CanonicalSelect(spark, sf))
    // the arg-max rides max(struct(quality, -id)) inside the cluster
    // rollup; struct max is not hash-aggregable so the shape is a
    // SortAggregate — the load-bearing property is the MAP-SIDE partial
    // (one candidate per cluster per partition crosses the exchange),
    // and no WindowExec/rank-filter pipeline
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_max(struct"), plan)
  }

  test("t16: the bucket-ratio side broadcasts; scoring never windows or cartesians data") {
    val plan = executed(graft.text.TextAnalysis.t16DsirWeights(spark, sf))
    // the feature table is fixed-width (<= DsirBuckets rows) at ANY
    // corpus size, so the log-ratio join is always a broadcast; the only
    // crossJoins are single-row scalar broadcasts (totals, corpus mean)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("WindowExec"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(l => !l.contains("text#") && !l.contains("term#")),
      exLines.mkString("\n"))
  }

  test("p17: budget fill is one window over a counts-only exchange; bodies never ride") {
    val plan = executed(graft.queries.PipelineQueries.p17TokenBudget(spark, sf))
    // the cumsum window runs on the (id, source, counts) projection —
    // exactly one source-keyed exchange feeds it, and no exchange or
    // sort carries the text column
    assert(plan.contains("Window"), plan)
    val moved = plan.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Sort")).toVector
    assert(moved.forall(!_.contains("text#")), moved.mkString("\n"))
  }

  test("p18: the factor table broadcasts; the copy explosion is map-side on the scan") {
    val plan = executed(graft.queries.PipelineQueries.p18EpochMix(spark, sf))
    // docs join the tiny per-source factor frame by broadcast, the
    // sequence-explode generator runs before any exchange, and the only
    // shuffle is the final source rollup
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(!_.contains("text#")), exLines.mkString("\n"))
  }

  test("d12: candidate generation is the band-bucket equi-join — never all-pairs") {
    val plan = executed(graft.dedup.Dedup.d12IncrementalNearDup(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d11: no cartesian/BNLJ; no exchange carries text or token arrays") {
    val plan = executed(graft.dedup.Dedup.d11LineDedup(spark, sf))
    // lines hash in the generator projection; the dup-winner probe and
    // the removal decision shuffle only fixed-width (id, pos, hash) rows
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(l => !l.contains("text#") && !l.contains("t#")),
      exLines.mkString("\n"))
  }

  test("d10: no cartesian/BNLJ; no exchange carries the text column") {
    val plan = executed(graft.dedup.Dedup.d10VerbatimSpans(spark, sf))
    // grams hash to 64 bits inside the generator, so everything shuffled
    // downstream is (id, n, hash) fixed-width rows
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(!_.contains("text#")), exLines.mkString("\n"))
  }

  test("p16: curation dedup prunes as WindowGroupLimit; no body column crosses an exchange") {
    val plan = executed(PipelineQueries.p16CurationE2e(spark, sf))
    // keep-first on the content fingerprint must prune map-side like
    // d06/p07 (top-1 per fp before the exchange), and every exchange
    // carries only ids/scores/fingerprints — never text
    assert(plan.contains("WindowGroupLimit"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(!_.contains("text#")), exLines.mkString("\n"))
  }

  test("s05: cluster profile is one corpus pass; vectors never shuffle") {
    val plan = executed(Similarity.s05ClusterProfile(spark, sf))
    // one corpus scan for the assignment pass (the bounded KMeans sample
    // reads happen at build time, before this plan exists)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("HashAggregate"), plan)
    // nothing wider than the scalar scatter terms crosses an exchange:
    // no embedding column in any exchange's output schema
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(!_.contains("embedding")), exLines.mkString("\n"))
  }

  test("t17: the rule battery is one scan-side projection — no join, no data shuffle") {
    val plan = executed(graft.text.TextAnalysis.t17GopherRules(spark, sf))
    assert(!plan.contains("Join"), plan)
    // the only exchange is the final ORDER BY's — and at this input size
    // SmallGlobalSort plans it as a single-partition exchange (folded
    // SinglePartition), so not even the range sampler's shadow execution
    // of the rule projection survives
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(l =>
      l.contains("SinglePartition") || l.contains("rangepartitioning")),
      exLines.mkString("\n"))
  }

  test("small global sorts plan as a single-partition exchange — no sampling pass; big sorts keep the range exchange") {
    import org.apache.spark.sql.functions._
    // small input → SmallGlobalSort rewrites: one SinglePartition
    // exchange, no rangepartitioning (the sampler's double execution of
    // the child pipeline is gone)
    val small = executed(Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).as("n"))
      .orderBy(col("n"), col("doc_id")))
    assert(small.contains("SinglePartition"), small)
    assert(!small.contains("rangepartitioning"), small)
    // past the threshold the parallel range sort is the only plan that
    // scales — a frame estimated at 80 MB (10M × 8-byte rows) must keep
    // rangepartitioning
    val big = executed(spark.range(0, 10000000L).toDF("id").orderBy(col("id").desc))
    assert(big.contains("rangepartitioning"), big)
    // and a Sort+Limit root still becomes TakeOrderedAndProject
    val topk = executed(Tables.orders(spark, sf)
      .orderBy(col("o_totalprice").desc).limit(5))
    assert(topk.contains("TakeOrderedAndProject"), topk)
  }

  test("d13: the pair join keys on (cluster, salt) with pinned width — never all-pairs") {
    val plan = executed(graft.dedup.Dedup.d13SemDedup(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    // the y-side salt replication is a map-side explode (Generate), not a
    // join against a salt table
    assert(plan.contains("Generate"), plan)
    // the explicit numbered repartition must survive into the executed
    // plan — AQE's size-based coalescing would otherwise collapse the
    // CPU-dense, byte-tiny cosine lanes (the d05 lesson)
    assert(plan.contains("REPARTITION_BY_NUM"), plan)
  }

  test("g09: the Zipf head prunes as WindowGroupLimit; stats run over the count table") {
    val plan = executed(graft.queries.PipelineQueries.g09TokenProfile(spark, sf))
    // rank<=K over (c desc, term) must plan as a per-group top-k — the
    // rank exchange carries (source, term, c) triples, never documents
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(!_.contains("text#")), exLines.mkString("\n"))
  }

  test("t18: the weight table broadcasts; scoring is one doc-keyed aggregate") {
    val plan = executed(graft.text.TextAnalysis.t18Classifier(spark, sf))
    // the weight side is fixed-width (<= DsirBuckets rows) at ANY corpus
    // size — the scoring join must be a broadcast, and nothing windows
    // or cartesians the token stream
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(!_.contains("text#")), exLines.mkString("\n"))
  }

  test("s06: postings prune to the query vocabulary before any exchange; df/q broadcast") {
    val plan = executed(Similarity.s06Bm25TopK(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the vocabulary filter must sit scan-side: the exploded token stream
    // is pruned BEFORE the (doc_id, dl, term) tf exchange, so the only
    // data shuffle scales with query-vocab hits, not the corpus tokens
    val firstEx = plan.linesIterator.indexWhere(_.contains("Exchange hashpartitioning(doc_id"))
    val filterIdx = plan.linesIterator.indexWhere(l =>
      l.contains("Filter") && l.contains("term"))
    assert(firstEx >= 0 && filterIdx > firstEx,
      s"vocab filter not below the tf exchange (ex=$firstEx filter=$filterIdx)\n$plan")
  }

  test("q38: EXISTS/NOT EXISTS decorrelate into semi/anti joins") {
    val df = RelationalQueries.q38ExistsSubquery(spark, sf)
    // RewritePredicateSubquery is a LOGICAL rewrite — assert it there: the
    // physical plan may legitimately lose the anti join at runtime (AQE
    // propagates the empty anti build side at this SF and replaces the
    // join with its left child — exactly what you want at scale too)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftSemi"), logical)
    assert(logical.contains("LeftAnti"), logical)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("q39: the lateral aggregate decorrelates — no nested-loop re-execution") {
    val plan = executed(RelationalQueries.q39LateralJoin(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("p21: the packing window rides (id, count) tuples; text never crosses an exchange") {
    val plan = executed(PipelineQueries.p21PackSequences(spark, sf))
    // the boundary fan-out is a map-side generator over already-reduced rows
    assert(plan.contains("Generate"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(!_.contains("text#")), exLines.mkString("\n"))
  }

  test("p23: the salted aggregate shuffles on (key, salt) first, key-only to merge") {
    val plan = executed(PipelineQueries.p23SaltedAgg(spark, sf))
    val exch = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toVector
    assert(exch.exists(_.contains("__salt")), plan)
    assert(exch.exists(l => l.contains("l_returnflag") && !l.contains("__salt")),
      plan)
  }

  test("runtime bloom filter: a selective dim predicate prunes the fact scan at SMJ scale") {
    // At 100 TB the dim side of a selective join often exceeds the
    // broadcast threshold; Spark's runtime bloom filter (InjectRuntimeFilter)
    // then semi-join-prunes the fact scan. Local data is far below every
    // size threshold, so force the SMJ regime to prove the capability is
    // live in this build and our plans don't structurally block it.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      val df = Tables.lineitem(spark, sf)
        .join(Tables.part(spark, sf).filter(col("p_size") < 10),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n_items"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("might_contain"),
        plan)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("p26: bounds broadcast back; region rollup is the only hash exchange") {
    val plan = executed(PipelineQueries.p26ZorderLayout(spark, sf))
    // the 1-row bounds frame re-enters as a broadcast, never a shuffle
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the Z-value/region projection is scan-side; the only hash
    // partitioning is the ≤ 2^6-row region aggregate
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, plan)
  }

  test("t22: PII scan is a single scan with no join; masking is scan-side projection") {
    val plan = executed(graft.text.TextAnalysis.t22PiiScan(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("p27: summary merge is two partial scans + aggregates — no join anywhere") {
    val plan = executed(PipelineQueries.p27MergeSummaries(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 2, plan)
  }

  test("s12: filtered IVF probes via broadcast hash join — no BNLJ, no cartesian") {
    val plan = executed(Similarity.s12FilteredIvfTopK(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("s13: the vote join rides salt lanes — no BNLJ/cartesian; no vectors in the window exchange") {
    val plan = executed(Similarity.s13KnnClassify(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the ranking window's exchange carries (ids, labels, cos) only
    val winEx = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(qid")).toVector
    assert(winEx.nonEmpty, plan)
    assert(winEx.forall(l => !l.contains("qe#") && !l.contains("nb_em#")),
      winEx.mkString("\n"))
  }

  test("s08: stats and candidates broadcast; full vectors never cross an exchange") {
    val plan = executed(Similarity.s08SqTopK(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    val exLines = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exLines.forall(l => !l.contains("embedding#") && !l.contains("xhat#")),
      exLines.mkString("\n"))
  }

  test("a07: the bracket runs both walks off ONE key shuffle (two Windows, one data Exchange)") {
    val plan = executed(graft.queries.ExtendedQueries.a07AsOfInterpolate(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // one hashpartitioning exchange on user_id feeds both window sorts;
    // any further exchange is the final orderBy's range partitioning
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning(user_id")).toVector
    assert(hashEx.size == 1, plan)
    assert(plan.linesIterator.count(_.contains("Window [last(__payload")) == 2, plan)
  }

  test("g17: the funnel stage walk is ONE keyed exchange over the events scan") {
    val plan = executed(PipelineQueries.g17EventFunnel(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    val userEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning(user_id")).toVector
    assert(userEx.size == 1, plan) // arrays collected once; folds are map-side
  }

  test("d16: the edit refine is scale-safe — partitioned text joins, nothing text-bearing broadcasts") {
    val plan = executed(graft.dedup.Dedup.d16EditRefine(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // round 10 broadcast the pair list into the text fetches (and then
    // re-broadcast it WITH its na text payload for the second join) —
    // the measured alpha=2.12 scale-killer on dup-dense corpora. The
    // text fetches must be PARTITIONED id-keyed joins: pairs and texts
    // co-partitioned, per-partition hash table on the text side
    val shj = plan.linesIterator.filter(_.contains("ShuffledHashJoin")).toVector
    assert(shj.exists(_.contains("doc_a#")) && shj.exists(_.contains("doc_b#")),
      plan)
    // na/nb exist ONLY at those two joins, so pinning them as shuffled
    // hash joins also proves no text payload ever rides a broadcast
    // (candidate-only broadcasts inside the verify stage are fine: AQE
    // sizes those at runtime, never forced)
  }

  test("d20: prefix self-join reuses one exchange; verify joins are id-partitioned, never a pair broadcast") {
    val plan = executed(graft.dedup.Dedup.d20PrefixJoin(spark, sf))
    // the prefix frame funnels through one repartition(h) that both
    // self-join sides consume (d02's ReusedExchange pattern)
    assert(plan.contains("ReusedExchange"), plan)
    // the exact-Jaccard verify must fetch texts with PARTITIONED joins
    // (d16's rule: a pair list grows with dup structure and must never
    // be a broadcast build side carrying shingle payloads)
    assert(plan.linesIterator.count(l =>
      l.contains("ShuffledHashJoin [doc_a") || l.contains("ShuffledHashJoin [doc_b")) == 2,
      plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q47: both distinct-count windows share one user exchange (two sorts, no second shuffle)") {
    val plan = executed(RelationalQueries.q47WindowDistinct(spark, sf))
    // the (type,time) lag window and the (time) running-sum window need
    // different in-partition ORDERS but the same user_id DISTRIBUTION —
    // the plan must pay one Exchange and re-sort in place, and the
    // rollup must reuse the partitioning
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) == 1,
      plan)
    assert(plan.linesIterator.count(_.trim.startsWith("+- Window [")) == 2, plan)
  }

  test("q46: both trailing RANGE frames fuse into one window over one user exchange") {
    val plan = executed(RelationalQueries.q46TrailingWindow(spark, sf))
    // same (partition, order) → Catalyst folds the 1 h and 10 m frames
    // into ONE Window node over ONE sort over ONE exchange; the rollup
    // reuses the partitioning (no second user_id exchange)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) == 1,
      plan)
    assert(plan.linesIterator.count(_.trim.startsWith("+- Window [")) == 1, plan)
    assert(plan.contains("RangeFrame, -3600000000") &&
      plan.contains("RangeFrame, -600000000"), plan)
  }

  test("s23: both rank cuts are group-limited; the corpus never rides a broadcast") {
    val plan = executed(graft.similarity.Similarity.s23HybridRerank(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop join allowed is the scalar corpus-stats
    // attach (a 1-row broadcast crossJoin — s06's shape)
    assert(plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      plan)
    // the lexical top-C cut and both rerank windows must prune map-side
    // (rank<=k over a window plans as WindowGroupLimit) — without the
    // partial, every BM25-scored doc rides the query_id exchange
    assert(plan.linesIterator.count(_.contains("WindowGroupLimit")) >= 3, plan)
    // candidate/PRF frames are Q·C-bounded and broadcast; the embeddings
    // side stays a partitioned scan probe (no shuffle of the corpus, no
    // sort-merge — every join in this pipeline is a broadcast probe)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("d17: bloom gate keeps one anti-join leg; the definitely-new leg is join-free") {
    val plan = executed(graft.dedup.Dedup.d17BloomDedup(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // exactly one anti-join in the whole union — the probable-hit leg
    assert(plan.linesIterator.count(_.contains("LeftAnti")) == 1, plan)
    assert(plan.contains("might_contain") || plan.contains("BloomFilterMightContain"), plan)
  }

  test("g18: the expectation suite is ONE scan of orders (N checks, one aggregation pass)") {
    val plan = executed(graft.quality.Expectations.g18Expectations(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(!plan.contains("Union"), plan) // the report unpivot is explode
  }

  test("g19: the FD panel scans each table once (all candidates share one aggregation)") {
    val plan = executed(PipelineQueries.g19FdAudit(spark, sf))
    // one orders scan + one events scan — candidates never re-scan
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("a08: the temporal join is the as-of walk — no range-join BNLJ, no cartesian") {
    val plan = executed(graft.queries.ExtendedQueries.a08TemporalJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // one hash exchange on the key feeds the dimension window AND the
    // stacked as-of walk's windows
    assert(plan.linesIterator.exists(_.contains("Exchange hashpartitioning(user_id")), plan)
  }

  test("p32: the per-doc prefix sum runs bucket-partitioned, never corpus-on-one-partition") {
    val plan = executed(PipelineQueries.p32PpsSample(spark, sf))
    // level 1 (per-doc running sum) is distributed by bucket
    assert(plan.linesIterator.exists(_.contains("Exchange hashpartitioning(bkt")), plan)
    // the per-doc running sum (c_in) is partitioned by bkt, never a
    // global-order window
    val cin = plan.linesIterator.find(_.contains("AS c_in")).get
    assert(cin.contains("windowspecdefinition(bkt"), cin)
    // the only single-partition frames: the bucket-offset window, the
    // scalar total, and the SmallGlobalSort output sort (k rows) — all
    // bounded by the bucket/sample count, not the corpus
    assert(plan.linesIterator.count(_.contains("Exchange SinglePartition")) <= 3, plan)
  }

  test("g22: the rank iteration is all hash joins — no BNLJ, no cartesian") {
    val plan = executed(graft.queries.BehaviorQueries.g22PageRank(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("t24: the hashed featurizer is one scan, no join, fixed-width aggregate") {
    val plan = executed(graft.text.TextAnalysis.t24FeatureHash(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("g29: the funnel chain is all user-keyed hash joins — no cartesian, no BNLJ") {
    val plan = executed(graft.queries.BehaviorQueries.g29EventFunnel(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("g30: the rank prefix sum runs bucket-partitioned, never values-on-one-partition") {
    val plan = executed(graft.queries.BehaviorQueries.g30RankSum(spark, sf))
    // the intra-bucket running sum is the only data-bearing window and it
    // partitions by bkt (the coalesce wrapper moves the alias to a
    // downstream Project, so the spec text is asserted plan-wide)
    assert(plan.contains("windowspecdefinition(bkt"), plan)
    // single-partition frames: the bucket-offset window and the final
    // scalar aggregate — bounded by the bucket count, not the value table
    assert(plan.linesIterator.count(_.contains("Exchange SinglePartition")) <= 3, plan)
  }

  test("g31: wedge and closure joins are hash joins; the only nested loops are scalar crossjoins") {
    // the persisted edge/degree frames nest cached adaptive plans, so
    // the truncating helper would cut the string before the wedge joins
    // — this pin reads the full plan (positive checks only; see
    // executedFull)
    val plan = executedFull(graft.queries.BehaviorQueries.g31Triangles(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan)
    // BNLJ appears only for the single-row stats crossjoins, never with
    // a join condition (a conditioned BNLJ would be the O(n·m) closure)
    assert(plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(l => l.contains("Cross") && !l.contains("condition")), plan)
  }

  test("t25: the ladder expands over aggregated frames — term and doc aggregates, broadcast rungs") {
    val plan = executed(graft.text.TextAnalysis.t25VocabGrowth(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // the rung table rides in as a broadcast; the corpus-side scans feed
    // aggregates BEFORE any join with the ladder
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("a09: the hourly close prunes as WindowGroupLimit; the carry-forward windows by user") {
    val plan = executed(graft.queries.ExtendedQueries.a09LocfResample(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan)
    val fill = plan.linesIterator.find(_.contains("AS fill")).get
    assert(fill.contains("windowspecdefinition(user_id"), fill)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("g32: the CDF prefix sums run bucket-partitioned, never values-on-one-partition") {
    val plan = executed(graft.queries.BehaviorQueries.g32KsTest(spark, sf))
    val ia = plan.linesIterator.find(_.contains("AS ia")).get
    assert(ia.contains("windowspecdefinition(bkt"), ia)
    // single-partition frames only for the bucket-offset window, the
    // totals broadcast, and the final scalar max — all bucket/constant
    // bounded, never the distinct-value table
    assert(plan.linesIterator.count(_.contains("Exchange SinglePartition")) <= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("g33: the predecessor window partitions by source over the (source,len) aggregate") {
    val plan = executed(graft.queries.BehaviorQueries.g33GiniConcentration(spark, sf))
    // the coalesce wrapper moves the cpred alias to a downstream Project
    // (g30 precedent), so the source-partitioned spec is asserted plan-wide
    assert(plan.contains("windowspecdefinition(source"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
  }

  test("g34: one corpus scan, no join, no window — the N^2 statistic is pure aggregation") {
    val plan = executed(graft.similarity.Similarity.g34PairMoments(spark, sf))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    // the posexplode fan-out partial-aggregates before its exchange
    assert(plan.contains("HashAggregate"), plan)
  }

  test("t26: the pair explosion runs over the vocabulary aggregate, not the corpus scan") {
    val plan = executed(graft.text.TextAnalysis.t26BpePairs(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    // two Generates: the corpus-side tokenizer explode feeding the vocab
    // aggregate, and the pair-position explode ABOVE it; the plan order
    // (vocab HashAggregate between them) is what bounds the second fan-out
    assert(plan.linesIterator.count(_.contains("Generate")) == 2, plan)
  }

  test("t27: the corpus explode feeds a checkpointed vocab frame; only the vocabulary is ranked") {
    // the count frame is an eager localCheckpoint (no CacheManager
    // entry), so the ladder plan reads an ExistingRDD scan, not parquet
    val plan = executedFull(graft.text.TextAnalysis.t27OovLadder(spark, sf))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the single row_number ranks the vocabulary frame, never the corpus:
    // its window input is the checkpointed count table, not a Generate
    assert(plan.contains("windowspecdefinition("), plan)
    // ADVICE r9: pin that the rank-≤-maxV cut prunes map-side — as an
    // explicit TakeOrderedAndProject(limit=maxV) heap per task, because
    // maxV=4096 exceeds windowGroupLimitThreshold and the implicit
    // filter-above-window form would NOT rewrite (measured: the full
    // vocabulary crossed a single-partition exchange). The window above
    // then ranks a ≤ maxV-row frame, never the vocabulary.
    assert(plan.contains(
      s"TakeOrderedAndProject(limit=${graft.text.TextAnalysis.OovVocabSizes.max}"), plan)
  }

  test("t26: the pair-census rank cut prunes map-side as a bounded top-k") {
    // ADVICE r9: the top-pairs filter must reach the optimizer's
    // rank-limit rewrite, bounding each map task at O(BpeTopPairs)
    // before the single-partition window merge (it plans as
    // TakeOrderedAndProject below the Window — verified by probe)
    val plan = executedFull(graft.text.TextAnalysis.t26BpePairs(spark, sf))
    assert(plan.contains(
      s"TakeOrderedAndProject(limit=${graft.text.TextAnalysis.BpeTopPairs}"), plan)
  }

  test("g35: single corpus scan into the checkpointed bounded frame; rollups join broadcast") {
    val plan = executedFull(graft.queries.BehaviorQueries.g35Theil(spark, sf))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan) // all joins are tiny broadcasts
  }

  test("g36: the CUSUM windows run over the checkpointed hourly frame, never the corpus") {
    val plan = executedFull(graft.queries.BehaviorQueries.g36Cusum(spark, sf))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(plan.contains("windowspecdefinition("), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q45: AQE splits the skewed fact partition at runtime (skew=true join)") {
    // the Zipf-hot key must reach the executed plan as a skew-split
    // sort-merge join — the runtime answer to the 100x straggler. The
    // three measured preconditions are documented in the query:
    // multiple mappers, incompressible hot bytes, and no required
    // distribution riding the join's partitioning.
    val plan = executed(RelationalQueries.q45SkewJoin(spark, sf))
    assert(plan.contains("SortMergeJoin(skew=true)"), plan)
    assert(plan.contains("skewed"), plan) // the AQEShuffleRead marker
  }

  test("p33: the reservoir top-k prunes map-side (TakeOrderedAndProject), bodies never ride") {
    val plan = executed(graft.queries.PipelineQueries.p33WeightedReservoir(spark, sf))
    // the global rank-<=k collapses to TakeOrderedAndProject — each map
    // task keeps a k-heap and only k·#partitions candidates merge: the
    // literal merge-of-shard-local-reservoirs A-ES is designed around
    assert(plan.contains("TakeOrderedAndProject(limit=25"), plan)
    assert(!plan.contains("Join"), plan)
    // only ids/weights/keys cross the single-partition merge — the text
    // column is never read at all
    val rs = plan.linesIterator.find(_.contains("ReadSchema:")).get
    assert(!rs.contains("text"), rs)
  }
}
