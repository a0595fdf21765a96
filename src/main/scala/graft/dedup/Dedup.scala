package graft.dedup

import graft.Tables
import graft.sink.Sinks
import graft.text.TextAnalysis.{normText, tokens}
import graft.functions.{MinHashBands, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY build plan §7.2 item 6; north-star [N]):
  * exact/keyed dedup, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup — the dedup pass of a training-data pipeline.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup groups by a 128-bit fingerprint, never by document body —
  *    the shuffle carries 16 bytes + ids per row.
  *  - Near-dup NEVER does an all-pairs join at scale: MinHash signatures are
  *    banded (LSH) so the only shuffle key is (band, band_hash) and
  *    candidate pairs are generated within buckets; exact Jaccard then
  *    verifies candidates only. d02 keeps the direct shingle-inverted-index
  *    form (shuffle on shingle) as the exactness baseline the LSH variant is
  *    verified against.
  *  - SimHash reduces each document to 64 bits; banding the bits into four
  *    16-bit chunks (pigeonhole on Hamming distance ≤ 3) gives bucketed
  *    candidate generation with the same no-all-pairs property.
  *  - Embedding near-dup at test SF is a broadcast self-join; at corpus
  *    scale the same verify kernel runs behind the LSH bucketer in
  *    [[graft.similarity.Similarity]].
  *
  * Everything is built from codegen'd builtins (`xxhash64`, `transform`,
  * `array_min`, `explode`) — no UDFs, no driver-side loops.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** Word 3-gram shingle set (distinct) of a tokens column.
    *
    * Built with `zip_with` over shifted slices so every lambda touches
    * ONLY its lambda variables. Higher-order functions evaluate
    * interpreted, and any outer expression embedded in a lambda body is
    * re-evaluated '''per array element'''; an earlier
    * `element_at(toks, i+k)` formulation re-tokenized the whole document
    * per token once Catalyst rules (CollapseProject /
    * InferFiltersFromGenerate) inlined the tokenizer into the lambda —
    * a quadratic blowup (70 s → ~2 s for d02 at sf0.1). With
    * lambda-local-only bodies, rule inlining costs one linear pass per
    * row, nothing more. */
  def shingles(toks: Column): Column = {
    val t2 = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val t3 = slice(toks, lit(3), greatest(size(toks) - 2, lit(0)))
    // zip_with null-pads the shorter side; the final when() drops the
    // 1- and 2-token tails.
    val grams = zip_with(
      zip_with(toks, t2, (a, b) => when(b.isNotNull, concat_ws(" ", a, b))),
      t3,
      (ab, c) => when(c.isNotNull && ab.isNotNull, concat_ws(" ", ab, c)))
    array_distinct(filter(grams, s => s.isNotNull))
  }

  /** d01: exact keyed dedup over `events` — hash-groupBy on the dedup key,
    * keep-first (min event_id) semantics. 10k events → ~750 survivors. */
  def d01ExactDedup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"),
           count(lit(1)).as("n_dups"))
      .orderBy(col("user_id"), col("event_type"))

  /** NOT cached deliberately: Spark's columnar in-memory cache is
    * pathologically slow materializing array<string> columns (~50× the
    * cost of recomputing the shingles from the scan — measured 15 s vs
    * <1 s at sf0.1), so consumers just recompute the narrow projection.
    * Round 14: the shingle pass is the native single-scan
    * [[graft.functions.WordShingles]] expression (byte-identical to the
    * interpreted `shingles(tokens(text))` pipeline — ShingleExpressionSpec
    * pins the equivalence; guide §4: the HOF chain evaluated interpreted
    * and was the family's dominant CPU). */
  private def docShinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.ShingleFunctions.shingles3(col("text")).as("sh"))

  private def docShingles(s: SparkSession, d: String): DataFrame =
    docShinglesOf(Tables.documents(s, d))

  /** d02: n-gram Jaccard near-dup — exact Jaccard ≥ 0.6 through the
    * df-capped candidate discipline d22 proved on the hostile corpus
    * (VERDICT r13 item 4: d02 was the last corpus-shaped unbounded plan
    * on the surface). Candidates come from the df ≤ [[DfCap]] postings
    * only, so the index self-join's worst case is ≤ cap·|postings|
    * (linear in the corpus) instead of Σ df² (quadratic in a
    * boilerplate-heavy head — the measured 660 M-meet melt at 15 k
    * hostile docs); on THIS natural corpus the df head ends at 32 < 64,
    * so the cap drops nothing — and when the over-cap hash set is empty
    * the plan falls back to the uncapped shape entirely, because the r14
    * bench measured the always-on split-count machinery at ~3× the
    * uncapped cpu on d02/d07/d09/g10 for zero benefit when no posting
    * crosses the cap.
    *
    * EXACTNESS (the split-count form — algebraically d22's full-set
    * verify, cheaper when the over-cap side is empty): the true common
    * count decomposes as c = c_subcap + c_overcap. c_subcap falls out of
    * the candidate self-join itself (the old d02 counting form,
    * restricted to sub-cap postings); c_overcap adds the over-cap
    * postings back per candidate pair through d20's id-keyed
    * shuffle-hash joins — never a pair-list or index broadcast, and a
    * no-op frame on corpora with no over-cap shingle. The output equals
    * the cap-free census whenever every true pair shares ≥ 1 sub-cap
    * shingle — proven per run by the cap-FREE DuckDB oracle's hash
    * check (unchanged from the uncapped era) and pinned on this corpus
    * by RoundFourteenOpsSpec against [[d02UncappedCensus]], the old
    * plan kept as the spec's measurement foil.
    *
    * Plan shape: shingles are hashed to 64-bit keys immediately (the
    * inverted index never shuffles strings) and eagerly materialized
    * ONCE (the d20 localCheckpoint discipline) — the df aggregate, the
    * size aggregate and both split-count sides all read the 16-byte
    * (doc_id, h) frame. Each index is built once per call: the over-cap
    * hash set (one `groupBy(h)` count, checkpointed) is both the probe
    * and the split, whose sides are a `left_anti` and a `left_semi`
    * join against it (no df window recomputed per consumer), and the
    * sub-cap pair counts are checkpointed for their two consumers. The
    * shuffle_hash hint keeps AQE from flipping the self-join to
    * broadcast, which would clone the build side. */
  def d02NgramJaccard(s: SparkSession, d: String): DataFrame =
    d02Over(Tables.documents(s, d))

  /** d02's discipline over an arbitrary documents frame — factored so
    * the spec drives the SAME code on the hostile corpus (exercising the
    * split-count branch d22 measured) while the natural corpus takes the
    * fast path. */
  private[graft] def d02Over(docs: DataFrame): DataFrame = {
    val inv = docShinglesOf(docs)
      .select(col("doc_id"), explode(col("sh")).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("h"))
      .localCheckpoint(true)
    // The over-cap split, computed ONCE: the hashes whose df exceeds the
    // cap, from one map-side-combinable aggregate over the 16-byte frame,
    // eagerly materialized. Its emptiness is the probe (a bounded 0/1
    // driver scalar): on a natural corpus (df head 32 < 64) nothing
    // crosses the cap and the split-count joins would be pure overhead
    // (the r14 bench measured them at ~3x the uncapped cpu on
    // d02/d07/d09/g10), so the plan falls back to the uncapped shape off
    // the SAME checkpointed index, which the cap provably equals then.
    val overH = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > DfCap).select(col("h"))
      .localCheckpoint(true)
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common =
      if (overH.isEmpty) {
        val sub = inv.repartition(col("h"))
        // shuffled-hash, not sort-merge (round 15, guide §3.1): same
        // buffered-copy elimination as d20's candidate join; the hint
        // still pins the build side against an AQE broadcast flip
        sub.as("a").join(sub.as("b").hint("shuffle_hash"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("c"))
      } else {
        // the split-count form — algebraically d22's full-set verify:
        // c = c_subcap (from the capped candidate self-join itself)
        //   + c_overcap (over-cap postings added back per pair through
        //     d20's id-keyed shuffle-hash joins — never a pair-list or
        //     index broadcast). Both sides of the split are semi/anti
        //     joins against the one over-cap hash set, and the sub-cap
        //     pair counts are materialized once for their two consumers.
        val sub = inv.join(overH, Seq("h"), "left_anti").repartition(col("h"))
        val over = inv.join(overH, Seq("h"), "left_semi")
        val subCommon = sub.as("a").join(sub.as("b").hint("shuffle_hash"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("c_sub"))
          .localCheckpoint(true)
        val overCommon = subCommon.select(col("doc_a"), col("doc_b"))
          .join(over.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"),
            "doc_a")
          .join(over.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"),
            Seq("doc_b", "h"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("c_over"))
        subCommon
          .join(overCommon, Seq("doc_a", "doc_b"), "left")
          .withColumn("c", col("c_sub") + coalesce(col("c_over"), lit(0L)))
          .select(col("doc_a"), col("doc_b"), col("c"))
      }
    common
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")).cast("double"))
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The pre-round-14 uncapped d02 plan — the full inverted-index
    * self-join paying Σ df² meets. Kept ONLY as the measurement foil:
    * RoundFourteenOpsSpec pins d02 ≡ this census on the natural corpus
    * and measures the meet accounting the cap bounds. Not in `queries`. */
  private[graft] def d02UncappedCensus(s: SparkSession, d: String): DataFrame =
    d02UncappedCensusOver(docShingles(s, d))

  private[graft] def d02UncappedCensusOver(shingled: DataFrame): DataFrame = {
    val inv = shingled
      .select(col("doc_id"), explode(col("sh")).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("h"))
      .repartition(col("h"))
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = inv.as("a").join(inv.as("b").hint("merge"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")).cast("double"))
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d20's Jaccard threshold. 0.5 (vs d02's 0.6) so the row has its own
    * census; exactly representable in binary, so the `ceil(τ·n)` prefix
    * arithmetic cannot sit on an FP boundary in either engine. */
  val PrefixTau = 0.5

  /** d20: prefix-filtered set-similarity self-join (the SSJoin/PPJoin
    * candidate discipline — Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08): exact Jaccard ≥ [[PrefixTau]] pairs, with candidates
    * generated from token PREFIXES instead of the full inverted index.
    *
    * Every shingle gets a global rarity order (document frequency asc,
    * hash asc); each document keeps only its first `n − ⌈τ·n⌉ + 1`
    * shingles in that order as its prefix. Two sets with J ≥ τ overlap
    * in ≥ ⌈τ·max(|x|,|y|)⌉ elements (union ≥ |x| forces o ≥ τ·|x|), and
    * sets sharing ≥ o elements must collide inside their
    * `len − o + 1`-prefixes (the SSJoin lemma), so prefix collisions
    * lose NO true pair — the spec proves the census equals the
    * all-shingles census, and the oracle recomputes it without any
    * prefix at all.
    *
    * Why this beats d02's full inverted index at scale: the index join
    * costs Σ_shingle df² — dominated by the boilerplate HEAD (stopword
    * shingles with df in the thousands). Rarity ordering puts exactly
    * those last, so they fall OUTSIDE every prefix and never enter the
    * join; candidate work concentrates on rare shingles where df ≈ 1.
    * The size gate `min ≥ ⌈τ·max⌉` (J ≤ min/max) prunes cross-length
    * collisions before the verify. Verification joins the (bounded)
    * candidate list back to the shingle sets BY ID — partitioned
    * shuffle-hash joins, never a pair-list broadcast (d16's rule).
    *
    * Plan: one exchange on `h` builds the rarity-ranked index (df join),
    * one on doc_id ranks prefixes, the prefix frame funnels through one
    * `repartition(h)` both self-join sides reuse (d02's ReusedExchange
    * pattern), and the verify is id-keyed. */
  def d20PrefixJoin(s: SparkSession, d: String): DataFrame =
    prefixJoinOver(docShingles(s, d))

  /** The d20 pipeline over an arbitrary (doc_id, sh) shingle frame —
    * factored out so d21 can run the identical plan on its hostile-df
    * corpus (same prefixes, same hints, same verify). */
  private[graft] def prefixJoinOver(ds: DataFrame): DataFrame = {
    // ONE shingle pass total, eagerly materialized (the round-9
    // localCheckpoint discipline): the interpreted-HOF shingle pipeline
    // is the row's dominant CPU, and every later stage — df window,
    // prefix ranking, candidate self-join, and the verify counting
    // joins — reads the 16-byte-per-row (doc_id, n, h) frame, never the
    // text or the shingle arrays. The join-based df census could never
    // share the explode (column pruning makes its exchange
    // non-canonical → no ReusedExchange; measured 63 cpu-s vs d02's 14).
    val inv = ds
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("sg"))
      .select(col("doc_id"), col("n"), xxhash64(col("sg")).as("h"))
      .localCheckpoint(true)
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefix = inv
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= col("n") - ceil(col("n") * PrefixTau) + 1)
      .select(col("doc_id"), col("h"), col("n"))
      .repartition(col("h"))
    // Round 15 (guide §3.1): the candidate self-join is a shuffled-HASH
    // join, not sort-merge — r14's JFR profile put SMJ's buffered-side
    // UnsafeRow.copy at leaf #1 of the row's 37 cpu-s (every key group
    // is copied into the ExternalAppendOnlyUnsafeRowArray before the
    // within-key cross product). SHJ builds one hash map per partition
    // and streams the probe side with zero per-group copies; both sides
    // still funnel through the ONE repartition(h) exchange below
    // (ReusedExchange, PlanSpec-pinned), and the explicit hint keeps AQE
    // from flipping to broadcast (which would clone the build side) the
    // same way the old merge hint did. NOT scale-safe as it stands: the
    // repartition(h) exchange is REPARTITION_BY_COL, which AQE neither
    // size-bounds nor skew-splits (skew-join splitting applies only to
    // ENSURE_REQUIREMENTS shuffles), and the SHJ build side is an
    // in-memory hash map that does not spill, so one hot hash partition
    // that SMJ would have spilled can exhaust executor memory. The
    // bounded replacement is ROADMAP item 3's candidate-pair operator.
    val cand = prefix.as("a").join(prefix.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >=
            ceil(greatest(col("a.n"), col("b.n")) * PrefixTau))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    // exact verify WITHOUT materializing shingle sets: count common
    // hashes per candidate pair (d02's counting form restricted to
    // candidates) — two partitioned joins on ids/hashes, so neither the
    // pair list (grows with dup structure) nor the index (grows with
    // the corpus) is ever a broadcast build side
    cand
      .join(inv.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"), "doc_a")
      .join(inv.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"))
      .filter(col("jaccard") >= PrefixTau)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d20's candidate pair list before verification — exposed for the
    * spec's completeness/efficiency laws (output census ⊆ candidates;
    * candidates strictly fewer than the full inverted-index meets). */
  private[graft] def d20Candidates(s: SparkSession, d: String): DataFrame =
    candidatesOver(docShingles(s, d))

  private[graft] def candidatesOver(ds: DataFrame): DataFrame = {
    val inv = ds
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("sg"))
      .select(col("doc_id"), col("n"), xxhash64(col("sg")).as("h"))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefix = inv
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= col("n") - ceil(col("n") * PrefixTau) + 1)
      .select(col("doc_id"), col("h"), col("n"))
    prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >=
            ceil(greatest(col("a.n"), col("b.n")) * PrefixTau))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  // --- d21: the adversarial document-frequency regime -------------------

  /** d21's planted boilerplate block (20 lowercase words → 18 distinct
    * high-df internal shingles after the 3-gram shingler): the SSJoin
    * papers' worst case is a corpus where (nearly) every document shares
    * a block, making Σ df² over the inverted index quadratic in N while
    * the true ≥ τ census stays small. */
  val HostileBoilerplate: String =
    "all rights reserved this document is provided as is without " +
      "warranty of any kind subscribe to our newsletter for updates"

  /** 9 of 10 docs get the block — the papers' "90 % df head". */
  val HostileMod = 10L

  /** Docs shorter than ~2× the block keep their original text: a prefix
    * of length n − ⌈τn⌉ + 1 ≈ n/2 can only exclude the 18-shingle block
    * when the doc has comfortably more ORIGINAL shingles than that — for
    * a doc whose identity mostly IS the boilerplate, no ordering can
    * exile it (measured at sf0.001: including sub-block docs leaks a
    * 3.4k-pair short-doc candidate clique, quadratic in the short-doc
    * count — that population belongs to t14 boilerplate-strip / d11
    * line-level dedup, not a set-similarity prefix filter). 44 tokens →
    * ≥ 42 original shingles ≥ 2·18 + 6. */
  val HostileMinToks = 44L

  /** Fixed slice size: the REGIME is what's under test (like s22's
    * planted boundary), and the row's DuckDB oracle is the prefix-free
    * census, whose cost is Σ df² ≈ 18·(0.9·slice)²/2 — a fixed slice
    * keeps the oracle exact and bounded at EVERY SF while the hostile
    * df structure (and the prefix filter's job) is unchanged. */
  val HostileSliceN = 2000L

  /** The hostile corpus: the first [[HostileSliceN]] documents, 9 of 10
    * with [[HostileBoilerplate]] appended. */
  private[graft] def hostileDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < HostileSliceN)
      .select(col("doc_id"),
        when(col("doc_id") % HostileMod =!= 0 &&
            size(tokens(col("text"))) >= HostileMinToks,
          concat(col("text"), lit(" " + HostileBoilerplate)))
          .otherwise(col("text")).as("text"))

  /** d21: d20's prefix-filtered set-similarity join under the
    * adversarial df regime — 90 % of documents share a boilerplate
    * block, so a full inverted-index join would pay ≈ 18·(0.9N)²/2
    * meets on the boilerplate shingles ALONE, while d20's global
    * rarity order ranks exactly those shingles last: any document with
    * more original than boilerplate shingles exiles the whole block
    * from its `n − ⌈τn⌉ + 1`-prefix, so the block never generates a
    * candidate for it. The row's output is the exact J ≥ [[PrefixTau]]
    * census of the hostile corpus (completeness hash-checked by the
    * prefix-FREE oracle — boilerplate raises many short-doc pairs
    * ABOVE τ, so the census itself moves and a prefix filter that
    * dropped a boilerplate-carried true pair would mismatch);
    * the efficiency half — candidates stay output-sized, ≥ 100× under
    * the inverted-index meet count — is asserted in RoundTwelveOpsSpec
    * (it has no SQL form). */
  def d21PrefixHostile(s: SparkSession, d: String): DataFrame =
    prefixJoinOver(docShinglesOf(hostileDocs(s, d)))

  private[graft] def d21Candidates(s: SparkSession, d: String): DataFrame =
    candidatesOver(docShinglesOf(hostileDocs(s, d)))

  // --- d22: posting-list df-cap for the exact inverted index ------------

  /** d22's document-frequency cap: postings with df > cap are dropped
    * from the CANDIDATE-GENERATION index (never from the verify sets).
    * Measured on the hostile slice at sf0.01: the natural df head ends
    * at 32 (15 shingles in df 9–32, zero in 33–256) while the planted
    * boilerplate shingles sit at df ≥ 279, so 64 separates the two
    * regimes with ≥ 2× margin each way; Σ df·(df−1)/2 falls 713 k →
    * 15.3 k (47×), and every true J ≥ 0.6 pair still shares ≥ 9 sub-cap
    * shingles (min over the census) — the exactness premise holds with
    * an order-of-magnitude margin, and RoundThirteenOpsSpec asserts it
    * per run so corpus drift fails loudly. */
  val DfCap = 64L

  /** d22: the standard df-cap mitigation for d02's EXACT inverted-index
    * join, proven on d21's hostile corpus (VERDICT r12 item 2). d02's
    * self-join pays Σ_shingle df² — on a 90 %-boilerplate corpus that is
    * quadratic in N on the head shingles alone. Measured trajectory
    * (hostile regime, growing slices): 2 k docs → 713 k meets, 5 k →
    * 70.6 M, 15 k → 660 M (≈ N²), while the capped index pays 15.3 k /
    * 1.27 M / 12.1 M (≤ cap·|postings| — linear). Wall on 15 k docs at
    * local[16]: the full-index pipeline ≈ 190-210 s, this pipeline ≈
    * 87-111 s, and the gap is the quadratic term — at the row's FIXED
    * 2000-doc slice the cap actually LOSES (~4 s vs ~2 s: the df window
    * is an extra pass and 713 k meets are trivial), which is exactly the
    * point: the cap buys an asymptotic bound, not a toy-SF win, and the
    * fixed slice exists to bound the ORACLE. The fix that keeps
    * EXACTNESS:
    * candidates come from the df ≤ [[DfCap]] postings only, then every
    * candidate is verified against the FULL shingle sets (d20's
    * id-keyed counting joins), so the output equals the cap-free
    * J ≥ 0.6 census whenever every true pair shares at least one
    * sub-cap shingle — which the hash-checking cap-FREE oracle proves
    * per run, not assumes (a boilerplate-only true pair would mismatch).
    *
    * Scale: one shingle pass (localCheckpoint, d20's discipline) feeds
    * the df filter, the sizes aggregate, and both verify sides; the df
    * window and self-join shuffle on `h`; the verify joins are id-keyed
    * shuffle-hash — no pair-list or index broadcast. The cap turns the
    * index join's worst case from Σ df² (unbounded, corpus-shaped) into
    * ≤ cap·|postings| (linear in the corpus), the same bound the
    * SSJoin prefix gives d20 by ordering instead of dropping. */
  def d22DfCapIndex(s: SparkSession, d: String): DataFrame = {
    val inv = docShinglesOf(hostileDocs(s, d))
      .select(col("doc_id"), explode(col("sh")).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("h"))
      .localCheckpoint(true)
    val cand = d22CandidatesOver(inv)
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // exact verify on FULL sets — d20's counting form: candidates join
    // back to the uncapped index BY ID, so dropped head postings still
    // count toward c and the Jaccard is the true one
    cand
      .join(inv.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"),
        "doc_a")
      .join(inv.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")).cast("double"))
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d22's candidate pairs from the df-capped index — factored for the
    * spec's efficiency/premise laws. */
  private[graft] def d22CandidatesOver(inv: DataFrame): DataFrame = {
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val capped = inv
      .withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= DfCap)
      .select(col("doc_id"), col("h"))
      .repartition(col("h"))
    // shuffled-hash (round 15, guide §3.1) — see d20's candidate join
    capped.as("a").join(capped.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private[graft] def d22Candidates(s: SparkSession, d: String): DataFrame =
    d22CandidatesOver(
      docShinglesOf(hostileDocs(s, d))
        .select(col("doc_id"), explode(col("sh")).as("sg"))
        .select(col("doc_id"), xxhash64(col("sg")).as("h")))

  // --- d23: LSH under the adversarial regime (mega-bucket cap) ----------

  /** d23's bucket-size cap: band buckets with more members are SKIPPED
    * during candidate generation. On the hostile corpus the boilerplate
    * block leaks into MinHash signatures (each permutation picks a
    * block shingle as the min with p ≈ 18/|sh|), so unrelated
    * block-carriers collide whenever BOTH rows of a band land on block
    * shingles — collisions that concentrate in MEGA buckets
    * (block-dominated band hashes shared by tens of docs) and grow
    * QUADRATICALLY in the block-carrier count, where a true J ≥ 0.6
    * pair's buckets are content-driven and tiny (2-3 members).
    * Measured at the 500-doc sf0.001 slice: 3327 uncapped band pairs
    * (≈ 120× the 28-pair census) vs 543 capped — and the uncapped side
    * is the N² term while capped work is bounded by cap·|buckets|. A
    * true pair collides in ≥ 32·J² ≈ 11 bands in expectation, so
    * banning mega buckets leaves its tiny ones intact; 16 sits an
    * order of magnitude above the true-pair bucket size and well under
    * the block buckets. */
  val LshBucketCap = 16L

  /** d23: d03's MinHash-LSH run on d21/d22's hostile corpus with the
    * standard production mitigation — drop over-full buckets before the
    * band self-join (the bucket-size cap every large-scale LSH dedup
    * ships; the d22 df-cap's analogue one level up, on band hashes
    * instead of postings). Candidates come only from buckets with
    * ≤ [[LshBucketCap]] members; every candidate is exact-verified on
    * the full shingle sets, so the output equals the cap-free J ≥ 0.6
    * census whenever every true pair shares ≥ 1 under-cap bucket —
    * which the hash-checking cap-FREE oracle (the same hostile census
    * d22 answers to) proves per run. The bucket census is one
    * (band, bh)-keyed window over the bucket frame — never a collect;
    * the cap turns the band join's worst case from Σ bucket² (quadratic
    * in the block carriers) into ≤ cap·|buckets| (linear). */
  def d23LshHostile(s: SparkSession, d: String): DataFrame = {
    val ds = docShinglesOf(hostileDocs(s, d)).repartition(col("doc_id"))
    jaccardVerify(d23CandidatesOver(ds), ds)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d23's capped candidate pairs — factored for the spec's laws. */
  private[graft] def d23CandidatesOver(ds: DataFrame): DataFrame = {
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh"))
    val capped = minhashBuckets(ds)
      .withColumn("members", count(lit(1)).over(wBucket))
      .filter(col("members") <= LshBucketCap)
      .drop("members")
    bucketPairs(capped)
  }

  /** The UNCAPPED band pairs on the same frame — the blowup the cap
    * avoids, exposed for the spec's measurement. */
  private[graft] def d23UncappedCandidatesOver(ds: DataFrame): DataFrame =
    minhashCandidates(ds)

  private[graft] def hostileShingles(s: SparkSession, d: String): DataFrame =
    docShinglesOf(hostileDocs(s, d))

  /** MinHash parameters: 64 hashes = 32 bands × 2 rows.
    *
    * Geometry chosen for detection certainty AT the decision threshold,
    * not just at the planted similarity: a pair at exactly J = 0.6 matches
    * a 2-row band with p = 0.36, so the all-bands miss probability is
    * (1-0.36)³² ≈ 6e-7 (the previous 32×4 geometry missed J=0.6 pairs
    * with p ≈ 1.2% — enough to silently desync from the exact-Jaccard
    * oracle on a borderline pair). At the planted J ≥ 0.9 the miss is
    * (1-0.81)³² ≈ 1e-23. Wider bands admit more low-J candidates, but the
    * corpus has essentially no mid-J pairs (random text shares ~no
    * shingles) and every candidate is exact-verified anyway.
    *
    * The signature itself is built by the native
    * [[graft.functions.MinHashBands]] kernel, which owns these constants. */
  val NumHashes: Int = MinHashBands.NumHashes
  val BandRows: Int = MinHashBands.BandRows
  val NumBands: Int = MinHashBands.NumBands

  /** Choose an LSH banding geometry from the DECISION requirements
    * instead of by hand: given the Jaccard threshold J* the pipeline
    * filters at, the largest acceptable probability of MISSING a pair
    * at exactly J*, and the signature budget H, return the (bands,
    * rowsPerBand) with the fewest false candidates (largest feasible
    * rows-per-band — candidate selectivity grows with r) that still
    * satisfies `(1 − J*^r)^(H/r) ≤ maxMiss`. This is the [[NumHashes]]
    * scaladoc's derivation as executable code: `lshGeometry(0.6, 1e-6,
    * 64)` returns the (32, 2) the d03 row uses (and the spec pins that
    * agreement). Throws loudly when no divisor of the budget meets the
    * miss bound — a silent fallback geometry would silently desync an
    * LSH row from its exact oracle. */
  def lshGeometry(jThreshold: Double, maxMiss: Double,
                  hashBudget: Int = NumHashes): (Int, Int) = {
    require(jThreshold > 0 && jThreshold < 1, s"jThreshold $jThreshold")
    require(maxMiss > 0 && maxMiss < 1, s"maxMiss $maxMiss")
    val feasible = (1 to hashBudget)
      .filter(hashBudget % _ == 0)
      .map { r =>
        val b = hashBudget / r
        (r, b, math.pow(1.0 - math.pow(jThreshold, r), b))
      }
      .filter(_._3 <= maxMiss)
    require(feasible.nonEmpty,
      s"no geometry within $hashBudget hashes meets miss <= $maxMiss at J = $jThreshold")
    val (r, b, _) = feasible.maxBy(_._1)
    (b, r)
  }

  /** d03: MinHash + LSH near-dup. The i-th permutation is
    * xxhash64(shingle_hash, i); each document's [[NumHashes]]-hash
    * signature and its [[NumBands]] band hashes come from ONE native
    * [[graft.functions.MinHashBands]] call over its shingle array
    * ([[minhashBuckets]]) — no shingle explode, no signature aggregate,
    * no doc_id-keyed shuffle. Bucket-join on (band, band_hash), then
    * verify candidates with exact Jaccard ≥ 0.6 (array_intersect /
    * array_union on the shingle sets). */
  def d03MinHashLsh(s: SparkSession, d: String): DataFrame = {
    // One repartition exchange: the band kernel reads it and the two
    // verify joins reuse it instead of recomputing the shingle sets.
    val ds = docShingles(s, d).repartition(col("doc_id"))
    jaccardVerify(minhashCandidates(ds), ds)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The MinHash band-bucket frame over a (doc_id, sh) shingle frame:
    * one (doc_id, band, bh) row per signature band, from ONE native
    * [[graft.functions.MinHashBands]] call per document — a narrow
    * projection of `ds` (no shingle explode, no signature aggregate, no
    * doc_id shuffle), so a broadcast band join that evaluates both sides
    * pays one kernel pass per side, not a wide aggregate per side. The
    * one bucketing path of d03, d12, d16, d23 and st18: the
    * (band, bh) values are shared across rows and across the stream's
    * micro-batches, so they must never drift between them. */
  private[graft] def minhashBuckets(ds: DataFrame): DataFrame =
    ds.select(col("doc_id"), explode(MinHashBands.of(col("sh"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))

  /** Distinct (doc_a < doc_b) pairs sharing any bucket of `buckets`. */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** The d03 MinHash-LSH candidate generator over a (doc_id, sh) shingle
    * frame — shared by d03 and d16 so the banding geometry (and its
    * [[NumHashes]] miss-probability argument) can never drift between
    * the rows that rely on it for exactness. Returns distinct
    * (doc_a, doc_b) with doc_a < doc_b. */
  private def minhashCandidates(ds: DataFrame): DataFrame =
    bucketPairs(minhashBuckets(ds))

  /** Exact-Jaccard verification of a candidate pair list against the
    * shingle frame the candidates came from (shared d03/d16): joins the
    * cached sets back by id — shingle arrays travel only for candidate
    * rows, never per-band — and keeps pairs at J ≥ 0.6 with the raw
    * `jaccard` column attached. */
  private def jaccardVerify(candidates: DataFrame, ds: DataFrame): DataFrame =
    candidates
      .join(ds.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(ds.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
        size(array_union(col("sha"), col("shb"))).cast("double"))
      .filter(col("jaccard") >= 0.6)

  /** d04: SimHash near-dup. 64-bit signature from per-token hash bit votes
    * (term frequency weighted — duplicates vote repeatedly); candidates from
    * four 16-bit chunk buckets (pigeonhole: Hamming ≤ 3 ⇒ some chunk equal);
    * verified with bit_count(a XOR b) ≤ 3. Hash-defined, so no SQL oracle —
    * DedupSimilaritySpec checks the Hamming bound and substantial overlap
    * with the exact-Jaccard pairs (SimHash is a *different* similarity:
    * a few-token edit on a short doc can flip >3 bits even at J≈0.95). */
  def d04SimHash(s: SparkSession, d: String): DataFrame = {
    val th = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$k")
    }
    val sig = (0 until 64).map { k =>
      shiftleft(when(col(s"v$k") > 0, 1L).otherwise(0L), k)
    }.reduce(_.bitwiseOR(_))
    val simhash = th.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("sim"))
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("sim"), c * 16).bitwiseAND(0xFFFFL).as("ck"))
    }
    // one repartition exchange on the bucket key, reused by BOTH sides of
    // the self-join (d02's pattern): without it the whole signature
    // aggregate runs twice; the shuffle_hash hint (round 15 — SMJ's
    // buffered-group copies were the family's top cpu leaf) keeps AQE
    // from flipping to broadcast and cloning the build side
    val buckets = simhash.select(col("doc_id"), col("sim"),
      explode(array(chunks: _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.chunk").as("chunk"), col("bk.ck").as("ck"))
      .repartition(col("chunk"), col("ck"))
    buckets.as("a").join(buckets.as("b").hint("shuffle_hash"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Block count for the d05 triangle-blocked pair join: B(B+1)/2 = 36
    * independent cells. At cluster scale B grows with √(2·cores) so every
    * core gets a cell and a cell's two blocks fit in one task's memory. */
  val NearDupBlocks = 8

  /** d05: embedding-cosine near-dup — ALL pairs with cos ≥ 0.4 (the
    * synthetic embeddings are near-orthogonal; max observed ≈ 0.51).
    *
    * An EXACT threshold join this close to orthogonal (θ ≈ 66°) has no
    * sub-quadratic candidate generator: the s02 random-hyperplane bucketer
    * would retain a θ=66° pair in a 6-plane table with p ≈ 0.63⁶ ≈ 0.06,
    * i.e. recall ≈ 0.65 over 16 tables — fine for ANN top-k, silently
    * wrong for an exhaustive pair list. So the O(N²) compute is kept but
    * DISTRIBUTED: vectors hash into [[NearDupBlocks]] blocks, the
    * B(B+1)/2 unordered block pairs form the shuffle key of a plain
    * equijoin, and each task scans one (N/B)×(N/B) cell. No corpus-wide
    * broadcast, no BroadcastNestedLoopJoin, per-task work and memory
    * bounded by B — the knob that scales this to a 1000-executor cluster.
    * (A corpus with real near-dup structure — planted pairs at cos ≥ 0.9
    * — should instead generate candidates with the s02 LSH bucketer,
    * where per-pair recall is ~1 at 25°; at this corpus's threshold that
    * would break exactness.)
    *
    * The cell join's width is pinned with an explicit numbered
    * repartition: the shuffled BYTES per cell are small (vector blocks)
    * but the per-cell CPU is the (N/B)² cosine scan, so AQE's size-based
    * partition coalescing — which only sees bytes — collapses the 36
    * cells onto a few tasks and serializes the compute (measured at
    * sf0.1/local[32]: 2.44 s coalesced vs 0.89 s pinned). A numbered
    * repartition carries REPARTITION_BY_NUM, which AQE leaves alone, and
    * the join inherits the partitioning so no further exchange is
    * added. */
  def d05EmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = NearDupBlocks
    val width = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // the B(B+1)/2 unordered block pairs (i ≤ j): tiny, broadcast
    val cells = (for { i <- 0 until b; j <- i until b } yield (i, j)).toDF("bi", "bj")
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val left = e.select(col("vec_id").as("id_l"), col("embedding").as("em_l"),
        pmod(col("vec_id"), lit(b)).as("bi"))
      .join(broadcast(cells), "bi")
      .repartition(width, col("bi"), col("bj"))
    val right = e.select(col("vec_id").as("id_r"), col("embedding").as("em_r"),
        pmod(col("vec_id"), lit(b)).as("bj"))
      .join(broadcast(cells), "bj")
      .repartition(width, col("bi"), col("bj"))
    left.join(right, Seq("bi", "bj")) // equijoin on the cell key
      // cross-block cells see each unordered pair exactly once (i < j by
      // construction); the diagonal needs the id tie-break
      .filter(col("bi") =!= col("bj") || col("id_l") < col("id_r"))
      .withColumn("cos", VectorFunctions.cosine(col("em_l"), col("em_r")))
      .filter(round(col("cos"), 4) >= 0.4)
      .select(least(col("id_l"), col("id_r")).as("vec_a"),
        greatest(col("id_l"), col("id_r")).as("vec_b"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Fraction of planted (J ≥ 0.95) pairs SimHash must recover for the
    * driver contract — SimHash measures a different similarity than
    * Jaccard, so recovery is substantial, not total (see [[d04SimHash]]).
    * Measured recovery on the fixed corpus: 0.84 at sf0.001, 0.625 at
    * sf0.01; the floor sits below both with margin. */
  val SimHashOverlapFloor = 0.5

  /** Chunk width (tokens) for the contract's planted-pair generator. */
  val PlantedChunkTokens = 8

  /** Planted-pair witness set: all J ≥ 0.95 document pairs, derived
    * WITHOUT the d02 shingle-inverted-index self-join (an earlier contract
    * re-ran the full d02 pipeline here, which dominated d04's bench cost).
    *
    * Two stages, both cheap:
    *  1. CANDIDATES by position-anchored chunk fingerprints: each doc
    *     emits one 64-bit hash per full [[PlantedChunkTokens]]-token
    *     chunk; docs sharing any (chunk_idx, hash) pair up. A J ≥ 0.95
    *     pair's edit region spans ≤ 5 % of tokens, so for docs ≥ 2 chunks
    *     some chunk is untouched — and this corpus's planted edits are
    *     tail-appends, which never shift earlier chunk anchors (verified
    *     exhaustively: the generator covers every J ≥ 0.95 pair at
    *     sf0.001/0.01/0.1). Explode volume is n/8 hashes per doc vs every
    *     shingle occurrence in d02, and random 8-token chunk collisions
    *     are ~nonexistent, so the pair join is tiny.
    *  2. EXACT verification: a broadcast semi-join restricts the corpus to
    *     candidate docs BEFORE the shingle projection, so the interpreted
    *     shingle pipeline runs over O(candidates) docs only; exact
    *     array-Jaccard ≥ 0.95 over those shingle sets survives. The
    *     witness set is
    *     therefore SOUND by construction (every emitted pair really is
    *     J ≥ 0.95); completeness rests on the anchor argument above and
    *     is what a middle-of-document edit would erode (the pair would
    *     drop out of the witness set, weakening — not falsifying — the
    *     recall contract). */
  private def plantedPairs(s: SparkSession, d: String): DataFrame = {
    val toksDf = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val nFull = floor(size(col("toks")) / PlantedChunkTokens).cast("int")
    // sequence(0, -1) would generate a DESCENDING range, so guard n < 1
    val idxs = when(nFull >= 1, sequence(lit(0), nFull - 1))
      .otherwise(array().cast("array<int>"))
    val chunkFps = toksDf
      .select(col("doc_id"),
        posexplode(transform(idxs, i =>
          xxhash64(concat_ws(" ",
            slice(col("toks"), i * PlantedChunkTokens + 1, lit(PlantedChunkTokens)))))))
      .toDF("doc_id", "ci", "cfp")
      // shared exchange for the self-join's two sides (tokenize once)
      .repartition(col("ci"), col("cfp"))
    val cand = chunkFps.as("a").join(chunkFps.as("b").hint("shuffle_hash"),
        col("a.ci") === col("b.ci") && col("a.cfp") === col("b.cfp") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(eager = true) // tiny; consumed three times below
    // shingle ONLY the candidate docs: the semi-join runs against the raw
    // scan BEFORE the shingle projection, so the interpreted HOF shingle
    // pipeline touches O(candidates) rows, not the whole corpus (the
    // whole-corpus pass belongs to d02/d03, not to this contract)
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val candSh = Tables.documents(s, d)
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.shingles3(col("text")).as("sh"))
      .localCheckpoint(eager = true) // consumed by both sides of the verify
    cand
      .join(candSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(candSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .filter(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
        size(array_union(col("sha"), col("shb"))).cast("double") >= 0.95)
      .select(col("doc_a"), col("doc_b"))
  }

  /** d04 registered form: SimHash is hash-defined, so its pair list can't
    * be reproduced in an independent SQL engine — but facts about it can:
    * the output is non-empty, every pair honors the Hamming ≤ 3 bound,
    * and it recovers ≥ [[SimHashOverlapFloor]] of the planted
    * high-Jaccard pairs ([[plantedPairs]]). One boolean row the DuckDB
    * oracle states as constants; any contract violation flips a column
    * and fails the hash compare. */
  def d04SimHashContract(s: SparkSession, d: String): DataFrame = {
    // planted is consumed twice (the broadcast marker join + its own
    // count) and is tiny — materialize it once. The SimHash pipeline
    // itself runs exactly ONCE: pair count, Hamming max, and the
    // planted-recovery count all come out of a single pass with a
    // broadcast left join against the planted markers.
    val planted = plantedPairs(s, d).localCheckpoint(eager = true)
    val stats = d04SimHash(s, d)
      .join(broadcast(planted.withColumn("p", lit(1))), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_pairs"),
        max(col("hamming")).as("max_hamming"),
        count(col("p")).as("n_recovered"))
    val nPlanted = planted.agg(count(lit(1)).as("n_planted"))
    stats.crossJoin(nPlanted)
      .select(
        (col("n_pairs") > 0).as("nonempty"),
        (col("max_hamming") <= 3).as("within_hamming_bound"),
        (col("n_recovered") >= col("n_planted") * SimHashOverlapFloor).as("overlap_ok"))
  }

  /** Incremental exact dedup — the steady-state ingest form: a new batch
    * arrives while the corpus already holds the fingerprints of everything
    * ingested before it. Batch rows are keep-first deduped within the
    * batch (window on the fingerprint), then anti-joined against the
    * history fingerprints. Both steps shuffle on the SAME 128-bit key, so
    * the window's exchange satisfies the join's distribution — one
    * shuffle of (fingerprint, id), never of bodies. At corpus scale the
    * history side is a fingerprint-only table bucketed on `fp`
    * ([[graft.sink.Sinks.writeBucketed]]) so the anti-join reads it
    * join-ready with zero shuffle. */
  def incrementalExactDedup(newDocs: DataFrame, historyFp: DataFrame,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = newDocs.withColumn("fp", md5(normText(col(textCol))))
    val firstPerFp = fp
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col(idCol))))
      .filter(col("_rn") === 1).drop("_rn")
    firstPerFp.join(historyFp.select(col("fp")), Seq("fp"), "left_anti")
  }

  /** d06 registered form: even doc_ids play the already-ingested corpus,
    * odd doc_ids the arriving batch — survivors are odd docs whose text
    * isn't in the even half and that are first among their in-batch
    * duplicates.
    *
    * The history side goes THROUGH the bucketed-table layout the
    * steady-state ingest maintains ([[graft.sink.Sinks.writeBucketed]]):
    * fingerprints are written bucketed+sorted on `fp` with bucket count =
    * the session's shuffle parallelism, so the anti-join reads history
    * join-ready — the batch side's window exchange on `fp` is the ONLY
    * hash exchange in the plan (asserted in PlanSpec). The merge hint
    * keeps the join sort-merge: a broadcast of the history side would be
    * cheaper at toy SF but is exactly what cannot work at 100 TB of
    * accumulated fingerprints. */
  /** Dirs created for d06 history tables this JVM, deleted at exit. The
    * table name AND path are per-INVOCATION (UUID suffix): a fixed name
    * races two concurrent calls in one session on drop/recreate, and a
    * fixed path races two calls in one JVM on overwrite, corrupting a
    * table mid-scan. The returned DataFrame scans the table lazily, so
    * cleanup cannot happen at call exit — each invocation leaks one small
    * fingerprint dir, reaped by the shutdown hook. */
  private val d06Dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      d06Dirs.forEach { dir =>
        try {
          def rm(f: java.io.File): Unit = {
            val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
            f.delete(); ()
          }
          rm(dir)
        } catch { case _: Throwable => () }
      }))
  }

  def d06IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val history = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val historyFp = history.select(md5(normText(col("text"))).as("fp"))
    val buckets = s.conf.get("spark.sql.shuffle.partitions").toInt
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val table = s"graft_d06_history_fp_$tag"
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-d06-history-fp-$tag"
    d06Dirs.add(new java.io.File(path))
    Sinks.writeBucketed(historyFp, table, "fp",
      numBuckets = buckets,
      path = Some(path))
    incrementalExactDedup(batch, s.table(table).hint("merge"))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** d17 bloom sizing: estimated-items is a deliberate OVER-estimate (the
    * catalog rowcount a real ingest would pass), numBits = 2²⁰ keeps the
    * driver-held sketch at 128 KiB regardless of history size — the whole
    * point: the gate's memory is constant while the history it summarizes
    * grows unbounded. */
  val BloomEstItems: Long = 100000L
  val BloomNumBits: Long = 1L << 20

  /** Bloom-prefiltered incremental dedup — [[incrementalExactDedup]]'s
    * semantics with the production-scale gate in front: a Bloom filter
    * built over the history fingerprints (Spark's own codegen'd
    * `BloomFilterAggregate`, the expression its runtime row-level
    * filtering injects — no UDF) screens the arriving batch MAP-SIDE, so
    * rows the filter rejects are provably new (Bloom filters have no
    * false negatives) and skip the anti-join entirely; only probable
    * hits — true dups plus the ~fpp false-positive sliver — pay the
    * shuffle against history. At 100 TB of accumulated fingerprints
    * that is the difference between shuffling the whole batch and
    * shuffling its duplicate fraction. The sketch itself is a bounded
    * driver scalar ([[BloomNumBits]]/8 bytes), the one collect shape
    * this library allows. Result is EXACTLY [[incrementalExactDedup]]'s
    * (the spec asserts the law): the bloom changes the plan, never the
    * answer. */
  def bloomDedup(newDocs: DataFrame, historyFp: DataFrame,
                 textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.expressions.Window
    val fp = newDocs.withColumn("fp", md5(normText(col(textCol))))
    val firstPerFp = fp
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col(idCol))))
      .filter(col("_rn") === 1).drop("_rn")
    val bloom = historyFp.select(GraftColumnBridge.column(
        new BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(col("fp"))),
          Literal(BloomEstItems), Literal(BloomNumBits))
          .toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0)
    if (bloom == null) firstPerFp // empty history: every first-in-batch row is new
    else {
      val maybe = GraftColumnBridge.column(new BloomFilterMightContain(
        Literal.create(bloom, BinaryType),
        GraftColumnBridge.expression(xxhash64(col("fp")))))
      val gated = firstPerFp.withColumn("_maybe", maybe)
      val definitelyNew = gated.filter(!col("_maybe")).drop("_maybe")
      val confirmedNew = gated.filter(col("_maybe")).drop("_maybe")
        .join(historyFp.select(col("fp")), Seq("fp"), "left_anti")
      definitelyNew.unionByName(confirmedNew)
    }
  }

  /** d17 registered form: d06's even/odd corpus split run through
    * [[bloomDedup]] — same survivors as d06 by construction (and by the
    * shared oracle), arrived at through the constant-memory gate. */
  def d17BloomDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val history = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(normText(col("text"))).as("fp"))
    val batch = docs.filter(col("doc_id") % 2 === 1)
    bloomDedup(batch, history)
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Iteration cap for [[dupClusters]] — min-label propagation converges
    * in O(component diameter) rounds, and near-dup clusters are small by
    * construction (a dup "cluster" is one document and its edits), so the
    * cap is a loud-failure backstop, not a tuning knob. A graph with
    * genuinely deep components (social graphs, web links) should use the
    * large-star/small-star algorithm (O(log n) rounds) instead. */
  val MaxClusterIters = 20

  /** Connected components over a near-dup pair list — the step AFTER pair
    * generation in a dedup pipeline: pairs only say "a ~ b"; keeping one
    * representative per GROUP needs the transitive closure (a~b, b~c ⇒
    * {a,b,c} are one cluster, keep exactly one — pairwise keep-first
    * would keep both a and c).
    *
    * Distributed min-label propagation (the Pregel shape): every doc
    * starts labeled with its own id; each round every doc takes the min
    * of its label and its neighbors' labels; fixpoint = every doc carries
    * its component's min id. Each round is one join + one aggregate,
    * shuffling (id, label) pairs only — never document bodies — and the
    * edge list is materialized once and reused across rounds. The driver
    * loop iterates ROUNDS (bounded by component diameter), not rows; per
    * round the work is fully distributed, and `localCheckpoint` truncates
    * the lineage so round N's plan does not embed rounds 1..N-1.
    *
    * Returns (doc_id, cluster_id, is_rep): every doc that appears in a
    * pair, its component's min doc_id, and whether it IS that minimum
    * (the kept representative). */
  def dupClusters(pairs: DataFrame, maxIter: Int = MaxClusterIters): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(eager = true) // reused every round
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("lab", col("v"))
      .localCheckpoint(eager = true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("v").as("dst"), col("lab")), "dst")
        .groupBy(col("src").as("v")).agg(min(col("lab")).as("nlab"))
      // the convergence flag rides the round's own frame: one checkpoint
      // materializes both the new labels and whether any changed, so each
      // round costs exactly one distributed pass + one cheap local count
      // (a separate old-vs-new comparison join would double the per-round
      // job count)
      val next = labels
        .join(neighborMin, Seq("v"), "left")
        .select(col("v"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab"),
          (coalesce(col("nlab"), col("lab")) < col("lab")).as("changed"))
        .localCheckpoint(eager = true)
      converged = next.filter(col("changed")).isEmpty
      labels = next.drop("changed")
      iter += 1
    }
    // a non-converged propagation means the component diameter exceeds
    // the near-dup assumption (real corpora have chain-shaped dup graphs
    // — boilerplate edit chains); escalate to the O(log n)-round
    // large-star/small-star algorithm instead of failing or silently
    // mislabeling
    if (!converged) starClusters(pairs)
    else labels.select(col("v").as("doc_id"), col("lab").as("cluster_id"),
      (col("v") === col("lab")).as("is_rep"))
  }

  /** Round cap for [[starClusters]]: rounds needed is O(log n) in the
    * node count regardless of diameter (each large-star at least halves
    * the height of every tall tree), so 60 covers any graph that fits on
    * hardware; hitting it still fails loudly. */
  val MaxStarRounds = 60

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC'14) — the deep-graph path [[dupClusters]] escalates to when
    * min-label propagation hasn't converged in `MaxClusterIters` rounds.
    * Propagation needs diameter-many rounds; star contraction needs
    * O(log n) rounds on ANY shape, at the cost of two join+agg passes
    * per round instead of one.
    *
    *  - large-star: every node v > u in u's closed neighborhood re-links
    *    to that neighborhood's minimum — tall trees halve in height;
    *  - small-star: edges orient (larger → smaller); each center and its
    *    ≤-neighbors link to their minimum — local stars contract.
    *
    * Everything shuffled is an (id, id) edge — no bodies, no
    * fingerprints; `localCheckpoint` truncates per-round lineage exactly
    * like the propagation loop. Convergence = the edge set stops
    * changing, detected by a one-row (count, xxhash64-XOR) signature agg
    * per round rather than a set-difference join (XOR is commutative and
    * overflow-free under ANSI mode; the edge set is distinct, so set
    * equality is signature equality up to a 64-bit collision). At
    * fixpoint the edges are component stars (node → component min);
    * nodes with no outgoing edge are the roots. */
  def starClusters(pairs: DataFrame, maxRounds: Int = MaxStarRounds): DataFrame = {
    val nodes = pairs.select(col("doc_a").as("v"))
      .union(pairs.select(col("doc_b").as("v")))
      .distinct()
      .localCheckpoint(eager = true)
    var e = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(eager = true)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = (-1L, 0L)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      // large-star over the symmetric neighbor list; least(min(v), u)
      // is the closed-neighborhood minimum without a union with self
      val nbr = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lmin = nbr.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = nbr.join(lmin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star on the (larger → smaller)-oriented edges
      val dir = large.select(
        greatest(col("u"), col("v")).as("a"), least(col("u"), col("v")).as("b"))
      val smin = dir.groupBy(col("a")).agg(min(col("b")).as("m"))
      val small = dir.join(smin, "a")
        .select(col("b").as("u"), col("m").as("v"))
        .union(smin.select(col("a").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(eager = true)
      val s = signature(small)
      done = s == sig
      sig = s
      e = small
      rounds += 1
    }
    require(done, s"starClusters: no fixpoint after $maxRounds rounds — " +
      "this exceeds the O(log n) bound and indicates a bug, not a deep graph")
    // star edges label every non-root; roots label themselves. min() is a
    // safety net for the (converged-in-theory-impossible) multi-center
    // case rather than trusting one row per node.
    nodes.join(e.select(col("u").as("v"), col("v").as("lab")), Seq("v"), "left")
      .groupBy(col("v"))
      .agg(min(coalesce(col("lab"), col("v"))).as("cluster_id"))
      .select(col("v").as("doc_id"), col("cluster_id"),
        (col("v") === col("cluster_id")).as("is_rep"))
  }

  /** d07 registered form: components over the exact J ≥ 0.6 pair list
    * (d02's relation — composition, not duplicated work: the pair list IS
    * this operator's input). */
  def d07DupClusters(s: SparkSession, d: String): DataFrame =
    dupClusters(d02NgramJaccard(s, d).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))

  /** d08 benchmark-role modulus: doc_id ≡ 0 (mod 20) (~5 % of the corpus)
    * plays the held-out eval benchmark; every other doc is training data. */
  val ContaminationBenchMod = 20

  /** d08: benchmark decontamination — the pre-training hygiene pass that
    * flags training documents sharing word 3-grams with an eval
    * benchmark (n-gram-overlap decontamination, the standard published
    * recipe). Output per training doc: its shingle count, how many of
    * its distinct shingles appear anywhere in the benchmark, and the
    * contamination fraction.
    *
    * Scale shape: the BENCHMARK side is small by nature (eval suites are
    * MBs against a 100 TB corpus), so its distinct shingle hashes
    * broadcast and the corpus-side probe is a map-side hash join on the
    * scan — the training corpus is never shuffled, never re-read, and
    * only (doc_id, n_shingles, hit) rows reach the per-doc aggregate,
    * which combines map-side to one row per doc (explode output is
    * doc-contiguous within a partition). Shingles hash to 64 bits
    * immediately (`xxhash64`) so the broadcast and probe never carry
    * strings — same trick as d02's inverted index. */
  /** Reusable decontamination core: flag `train` documents sharing word
    * 3-grams with `bench` documents. Returns one row per non-empty
    * training doc: (doc_id, n_shingles, n_shared, contam_frac). See
    * [[d08Contamination]] for the scale argument. */
  def contamination(train: DataFrame, bench: DataFrame,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    def sh(df: DataFrame): DataFrame = df
      .select(col(idCol).as("doc_id"),
        graft.functions.ShingleFunctions.shingles3(col(textCol)).as("sh"))
    val benchSh = sh(bench)
      .select(explode(col("sh")).as("sg"))
      .select(xxhash64(col("sg")).as("h"))
      .distinct()
      .withColumn("hit", lit(1L))
    // one pass over the training side: explode_outer keeps zero-shingle
    // docs alive so n_shingles rides the same scan as the probe
    val probed = sh(train)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode_outer(col("sh")).as("sg"))
      // xxhash64 of an all-null input returns the SEED, not null — an
      // explode_outer'd empty doc would otherwise probe with h=seed
      .select(col("doc_id"), col("n_shingles"),
        when(col("sg").isNotNull, xxhash64(col("sg"))).as("h"))
      .join(broadcast(benchSh), Seq("h"), "left")
    probed.groupBy(col("doc_id"))
      .agg(max(col("n_shingles")).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .filter(col("n_shingles") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6)
          .as("contam_frac"))
      .orderBy(col("doc_id"))
  }

  def d08Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBench = col("doc_id") % ContaminationBenchMod === 0
    contamination(docs.filter(!isBench), docs.filter(isBench))
  }

  /** d14 semantic-contamination threshold — d05's near-dup cosine cut,
    * applied at 4 dp exactly like d05 so the two operators agree on what
    * "near" means. */
  val SemContamTau = 0.4

  /** d14 bench-suite size — FIXED, not a corpus fraction. Round 10's
    * fixture drew the bench as `vec_id % 20` (5 % OF THE CORPUS), which
    * violated the operator's own scale premise ("eval suites are MBs
    * against a 100 TB corpus") — the collected broadcast array grew
    * linearly with SF and the row measured α = 1.39. A real held-out
    * suite has a size of its own; 100 vectors is O(1) in the corpus by
    * construction, so the broadcast is provably constant and the scan
    * is the only thing that scales. */
  val SemContamBenchN = 100

  /** d14: SEMANTIC decontamination — d08's benchmark-hygiene pass in
    * embedding space: flag every training vector whose cosine to ANY
    * benchmark vector clears [[SemContamTau]] (the paraphrase leak
    * n-gram overlap structurally misses — a reworded eval question
    * shares no 3-grams but sits next to the original in embedding
    * space). Same bench-role convention as d08 (id ≡ 0 mod
    * [[ContaminationBenchMod]] plays the held-out suite).
    *
    * Scale shape mirrors d08 exactly: the BENCH side is small BY
    * CONSTRUCTION — a fixed [[SemContamBenchN]]-vector suite (the
    * smallest md5(vec_id) values: deterministic, pseudo-random, and a
    * bounded TakeOrderedAndProject in the plan), so it rides as ONE
    * broadcast row holding the collected (id, vector) array that is
    * O(1) in corpus size, and the corpus side is a single scan pass — a
    * higher-order fold scores each training vector against the array,
    * so the corpus is never shuffled, never re-read, and no all-pairs
    * frame ever materializes (the pair space exists only inside the
    * fold). At a bench too large for one row, the same probe becomes a
    * broadcast join + per-vector aggregate; the corpus-side story is
    * unchanged. */
  def d14SemanticDecontam(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val bench = e.orderBy(md5(col("vec_id").cast("string")))
      .limit(SemContamBenchN)
    val benchArr = bench
      .agg(sort_array(collect_list(struct(
        col("vec_id").as("b_id"), col("embedding").as("b_em")))).as("bench"))
    val scored = aggregate(
      col("bench"),
      struct(lit(0L).as("hits"), lit(-1.0).as("best")),
      (acc, b) => {
        val c = round(VectorFunctions.cosine(col("embedding"),
          b.getField("b_em")), 6)
        struct(
          (acc.getField("hits") +
            when(round(c, 4) >= SemContamTau, 1L).otherwise(0L)).as("hits"),
          greatest(acc.getField("best"), c).as("best"))
      })
    e.join(broadcast(bench.select(col("vec_id"))), Seq("vec_id"), "left_anti")
      .crossJoin(broadcast(benchArr))
      .select(col("vec_id"), scored.as("r"))
      .select(col("vec_id"),
        col("r.hits").as("n_bench_hits"),
        col("r.best").as("best_cos"),
        (col("r.hits") > 0).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** d09: canonical representative selection — the keep-decision step a
    * dedup pipeline runs AFTER clustering (d07): among each dup-cluster's
    * members, keep the highest-QUALITY document (t02's composite score),
    * not the arbitrary lowest-id one. Published dedup recipes keep the
    * longest / highest-scoring member for exactly this reason: the min-id
    * representative is whichever crawl happened to be fetched first, and
    * may be the truncated or boilerplate-wrapped copy of the pair.
    *
    * Output per cluster: (cluster_id, n_members, rep_doc_id,
    * rep_quality), rep = arg-max quality with min-doc_id tie-break.
    *
    * Scale shape: composition over d07's clusters and t02's per-row
    * scores — the join shuffles (doc_id, cluster_id, quality) triples
    * only (never bodies), and the selection is ONE aggregate whose
    * arg-max rides `max(struct(quality, -doc_id))` (highest quality,
    * then lowest id). Struct max is not hash-aggregable, so Spark plans
    * a SortAggregate — still partial map-side (PlanSpec pins
    * `partial_max` before the exchange), so the cluster-keyed shuffle
    * carries ONE candidate row per cluster per map partition, and there
    * is no WindowExec/rank-filter pipeline. */
  def d09CanonicalSelect(s: SparkSession, d: String): DataFrame = {
    // composition, not a re-inlined copy: if d07's pair source or
    // clustering ever changes, d09 follows (its orderBy is eliminated
    // under the aggregate by EliminateSorts)
    val clusters = d07DupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"))
    val quality = graft.text.TextAnalysis.t02Quality(s, d)
      .select(col("doc_id"), col("quality"))
    clusters.join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.nid")).as("rep_doc_id"),
        col("best.q").as("rep_quality"))
      .orderBy(col("cluster_id"))
  }

  /** d15 containment geometry: a doc needs at least this many shingles
    * to be judged (1-2-shingle docs are trivially "contained"
    * everywhere), and at least this fraction of them must appear in the
    * host. */
  val ContainMinShingles = 5L
  val ContainThreshold = 0.9

  /** d15: containment dedup — ONE-SIDED shingle overlap
    * |A∩B| / |A| ≥ [[ContainThreshold]] flags document A as contained in
    * host B. The asymmetric case symmetric Jaccard structurally misses:
    * a snippet quoted inside a much larger document scores
    * J = |A|/|B| ≈ 0 however completely A is copied (the jaccard column
    * is emitted so the d02-invisible pairs are legible). The standard
    * complement in published dedup recipes (containment / superset
    * detection) to d02's near-dup pass.
    *
    * Scale shape: d02's inverted-index machinery verbatim — shingles
    * hash in the generator, the only data shuffle keys on the 64-bit
    * shingle hash, pair candidates come from the index join (bounded by
    * shared-shingle mass, never all-pairs), and the two threshold
    * comparisons happen BEFORE rounding with the same expression text
    * in both engines. */
  def d15Containment(s: SparkSession, d: String): DataFrame = {
    val inv = docShingles(s, d)
      .select(col("doc_id"), explode(col("sh")).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("h"))
      .repartition(col("h"))
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // shuffled-hash (round 15, guide §3.1) — see d20's candidate join
    val common = inv.as("a").join(inv.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("host_id"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.withColumnRenamed("n", "na"), "doc_id")
      .join(sizes.select(col("doc_id").as("host_id"), col("n").as("nb")), "host_id")
      .select(col("doc_id"), col("host_id"),
        col("na").as("n_shingles"),
        (col("c") * lit(1.0) / col("na")).as("containment_raw"),
        (col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
          .as("jaccard_raw"))
      .filter(col("n_shingles") >= ContainMinShingles &&
        col("containment_raw") >= ContainThreshold)
      .select(col("doc_id"), col("host_id"), col("n_shingles"),
        round(col("containment_raw"), 6).as("containment"),
        round(col("jaccard_raw"), 6).as("jaccard"))
      .orderBy(col("doc_id"), col("host_id"))
  }

  /** d16 edit budget — ABSOLUTE, not relative: a fuzzy dup is "this doc
    * with at most a few edits" (typo fixes, a changed number), and that
    * budget does not grow with document length the way a ratio
    * threshold does. 6 keeps the corpus's planted 4-edit pairs and drops
    * the 8+-edit rewrites at every SF. The distance is BYTE-level
    * Levenshtein over the UTF-8 encoding (d10's byte-span precedent):
    * DuckDB's levenshtein is byte-based while Spark's is
    * codepoint-based, so the engine reinterprets the UTF-8 bytes as
    * Latin-1 (a bijection byte ⇄ codepoint) before the distance —
    * identical on ASCII, and proven identical cross-engine on the
    * multi-script langmix corpus (round 13; codepoint-vs-byte was the
    * one real divergence the non-ASCII sweep found). */
  val MaxEditBudget = 6

  /** Per-doc witness bound for the d16 Levenshtein refine: each doc_a
    * carries at most this many J-best partners into the edit-distance
    * stage. A dedup decision needs a bounded number of near-dup
    * WITNESSES per document, not the full quadratic pair census a
    * template-heavy crawl produces (a k-doc boilerplate cluster is
    * k(k−1)/2 pairs — the measured α = 2.12 scale-killer of round 10);
    * with the cap the refine workload is ≤ N·[[MaxRefinePartnersPerDoc]]
    * pairs by construction. 16 is far above any per-doc dup count the
    * planted corpora (or a deduplicated crawl slice) reach, so the cap
    * only bites in the adversarial dup-dense regime it exists for. */
  val MaxRefinePartnersPerDoc = 16

  /** d16: edit-distance fuzzy dedup — the d03 LSH candidates refined
    * with an exact Levenshtein budget: keep pairs with shingle-Jaccard
    * ≥ 0.6 AND normalized-text edit distance ≤ [[MaxEditBudget]]. The
    * two filters are genuinely different similarities: Jaccard is
    * bag-of-shingles, so a REORDERED document (paragraphs swapped)
    * stays J-high while its edit distance explodes — the lev filter
    * kills exactly those (the corpus's J=0.97/lev=12 pair), while a
    * handful of in-place edits passes both.
    *
    * Scale shape (rebuilt in round 11 after the α = 2.12 finding):
    * candidates come from the bounded inverted index (never all-pairs);
    * per-doc fan-out into the expensive stage is CAPPED at
    * [[MaxRefinePartnersPerDoc]] J-best partners (rank on the rounded
    * jaccard, doc_b tie-break — deterministic in both engines), so the
    * Levenshtein workload is O(N·cap) even on a dup-dense corpus; and
    * the text fetches are PARTITIONED id-keyed shuffle joins — the pair
    * list grows with the dup structure, so it must never be a broadcast
    * build side (round 10 broadcast the pairs, then re-broadcast them
    * WITH their na text payloads for the second join — quadratic driver
    * bytes on exactly the corpora this row targets). The Levenshtein
    * itself runs bounded: Spark's threshold variant costs
    * O(budget·len) per pair, not O(len²). The composed output is exact
    * under the cap (LSH misses at J ≥ 0.6 are p ≈ 6e-7 — see
    * [[NumHashes]]), so the oracle restates it as the exact-Jaccard
    * pair list, the same per-doc_a rank cap, and a plain
    * `levenshtein()` filter. */
  def d16EditRefine(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ds = docShingles(s, d).repartition(col("doc_id"))
    val ranked = jaccardVerify(minhashCandidates(ds), ds)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_a"))
          .orderBy(col("jaccard").desc, col("doc_b"))))
      .filter(col("rk") <= MaxRefinePartnersPerDoc)
      .drop("rk")
    val norm = Tables.documents(s, d)
      .select(col("doc_id"), normText(col("text")).as("norm"))
    // shuffle_hash on the TEXT side: both joins co-partition pairs and
    // texts on the id and build the per-partition hash table over the
    // text partition (bounded by maxPartitionBytes); the hint also stops
    // AQE from flipping to broadcast at toy SF, which would put the
    // growing pair list (or the whole corpus text) on the driver
    ranked
      .join(norm.select(col("doc_id").as("doc_a"), col("norm").as("na"))
        .hint("shuffle_hash"), "doc_a")
      .join(norm.select(col("doc_id").as("doc_b"), col("norm").as("nb"))
        .hint("shuffle_hash"), "doc_b")
      // byte-level distance (see MaxEditBudget): UTF-8 bytes re-read as
      // Latin-1 make Spark's codepoint lev count BYTES, like DuckDB's
      .withColumn("lev", levenshtein(
        decode(encode(col("na"), "UTF-8"), "ISO-8859-1"),
        decode(encode(col("nb"), "UTF-8"), "ISO-8859-1"), MaxEditBudget))
      .filter(col("lev") >= 0) // threshold variant returns -1 past the budget
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("lev"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** g10: duplication-structure panel — the cluster-SIZE distribution of
    * d07's dup graph plus the singleton mass, the diagnostic read before
    * choosing a dedup policy (a corpus of many 2-clusters wants pairwise
    * keep-one; a few giant clusters want d09's canonical selection and a
    * look at WHY — template pages, mirrors). Output per cluster_size:
    * (n_clusters, n_docs); the cluster_size = 1 row is the complement
    * (docs in no J ≥ 0.6 pair).
    *
    * Scale shape: composition over d07 — two keyed aggregates over
    * (doc_id, cluster_id) pairs, then a distribution over the (much
    * smaller) cluster-size table; the singleton row is two scalar
    * counts cross-joined (broadcast, no driver collect). Bodies never
    * shuffle anywhere downstream of d07's own pair machinery. */
  def g10ClusterSizes(s: SparkSession, d: String): DataFrame = {
    val clusters = d07DupClusters(s, d).select(col("doc_id"), col("cluster_id"))
    val dist = clusters
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val singles = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
      .crossJoin(clusters.agg(count(lit(1)).as("n_clustered")))
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"))
    dist.unionAll(singles).orderBy(col("cluster_size"))
  }

  /** d18: dedup-informed SOFT reweighting — keep every copy, weight each
    * document by 1/|its dup cluster| so each unique content contributes
    * unit mass to the training mix (the soft alternative to hard
    * removal from the data-constrained-scaling literature, Muennighoff
    * et al. '23: when data is the binding constraint, discarding text
    * wastes tokens — uniform per-cluster mass removes the duplication
    * bias while keeping every copy available for sampling). Clusters
    * are d07's connected components over the exact J ≥ 0.6 near-dup
    * graph; docs outside any pair are singletons at weight 1. Scale:
    * the output is a (doc_id, cluster_id, size, weight) table — a few
    * bytes per row, joined back to the corpus map-side by any
    * downstream sampler; the cluster computation is d07's (id, label)
    * propagation, bodies never shuffle. */
  def d18SoftDedup(s: SparkSession, d: String): DataFrame = {
    val clustered = d07DupClusters(s, d).select(col("doc_id"), col("cluster_id"))
    val sized = clustered.join(
      clustered.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size")),
      "cluster_id")
    val singles = Tables.documents(s, d).select(col("doc_id"))
      .join(clustered.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("cluster_size"))
    sized.select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .unionByName(singles)
      .withColumn("weight", round(lit(1.0) / col("cluster_size"), 6))
      .orderBy(col("doc_id"))
  }

  /** d10 span geometry: 40-character grams at stride 1 — any verbatim
    * copy of ≥ 40 characters is guaranteed to produce at least one
    * shared gram in both copies. */
  val SpanLen = 40

  /** d10: verbatim-span detection — per document, the fraction of
    * character positions whose [[SpanLen]]-char gram occurs ≥ 2 times in
    * the corpus. The character-level counterpart of word-shingle dedup
    * (the substring-dedup recipe of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22): word 3-grams miss
    * verbatim spans that cross token-normalization boundaries, and
    * span-level fractions localize HOW MUCH of a document is copied
    * rather than whether two documents look alike overall.
    *
    * Scale shape: grams hash to 64 bits inside the per-row generator
    * (the raw text never leaves the scan — PlanSpec pins that no
    * exchange carries the text column). The occurrence count and the
    * probe each re-run the generator rather than materializing it: the
    * codegen'd byte-slice pipeline costs ~0.2 s/pass at sf0.1 while
    * checkpointing its 1.3M rows costs more than the second pass
    * (1.54 s recompute vs 1.77 s checkpointed, measured warm — the
    * OPPOSITE trade from t14, whose tokenizer pass is ~3× the
    * fixed-width materialize). Unlike t14's heavy-hitter set, the
    * dup-gram set scales with the corpus's duplicated MASS, so the probe
    * is a plain hash-partitioned join on the 8-byte gram hash — AQE
    * broadcasts it at test SF, shuffles it at corpus scale — never a
    * driver-side collect. */
  def d10VerbatimSpans(s: SparkSession, d: String): DataFrame = {
    // Two deliberate generator choices, both measured at sf0.1:
    //  - explode + flat projection, NOT a transform() lambda: HOFs
    //    evaluate interpreted, and the explode pipeline stays inside one
    //    whole-stage-codegen span;
    //  - grams are sliced from the BYTES (cast to binary), not the
    //    string: UTF8String.substringSQL scans from offset 0 for
    //    codepoint boundaries, making per-position slicing O(len²) per
    //    document (1.55 s for the gram pass at sf0.1); binary substring
    //    is an O(1) offset slice (0.18 s, ~8×). The spans are therefore
    //    BYTE grams — sound byte-equality spans on any corpus — and the
    //    oracle restates exactly that through hex() (byte i = hex chars
    //    2i-1..2i), so the contract holds on multi-byte scripts too
    //    (proven on tmp/langmix, round 13; the earlier char-based oracle
    //    was ASCII-only and diverged there).
    val grams = Tables.documents(s, d)
      // xxhash64(null) returns the seed, so null-text docs would all
      // share gram h=seed and mark each other verbatim duplicates; the
      // oracle's unnest produces no rows for them — drop them up front
      // (same trap t14/d08 guard against)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text").cast("binary").as("tb"))
      .select(col("doc_id"), col("tb"),
        greatest(length(col("tb")) - (SpanLen - 1), lit(1)).cast("long")
          .as("n_positions"))
      .select(col("doc_id"), col("tb"), col("n_positions"),
        explode(sequence(lit(1), col("n_positions"))).as("i"))
      .select(col("doc_id"), col("n_positions"),
        xxhash64(expr(s"substring(tb, i, $SpanLen)")).as("h"))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h"), lit(1L).as("hit"))
    grams.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_positions")).as("n_positions"),
        sum(coalesce(col("hit"), lit(0L))).as("n_dup_positions"))
      .select(col("doc_id"), col("n_positions"), col("n_dup_positions"),
        round(col("n_dup_positions").cast("double") / col("n_positions"), 6)
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** d12's decision stage over explicit frames — candidates ONLY from
    * (band, bh) bucket collisions, exact-Jaccard verify at
    * [[NearDupJ]], per-doc match census with the rounded-jaccard
    * arg-max. Shared with st18 so the stream's per-micro-batch decision
    * is the same code path as the batch gate. */
  private[graft] def nearDupGate(batchSh: DataFrame, batchBk: DataFrame,
      histSh: DataFrame, histBk: DataFrame): DataFrame = {
    val candidates = batchBk.as("a")
      .join(histBk.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("hist_id"))
      .distinct()
    candidates
      .join(batchSh.select(col("doc_id"), col("sh").as("sha")), "doc_id")
      .join(histSh.select(col("doc_id").as("hist_id"), col("sh").as("shb")),
        "hist_id")
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
        size(array_union(col("sha"), col("shb"))).cast("double"))
      .filter(col("jaccard") >= NearDupJ)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(round(col("jaccard"), 6).as("j"), (-col("hist_id")).as("nid")))
          .as("best"))
      .select(col("doc_id"), col("n_matches"),
        (-col("best.nid")).as("best_match_id"), col("best.j").as("best_jaccard"))
  }

  /** d12's exact-Jaccard admission floor. */
  val NearDupJ = 0.6

  /** d12: ingest-time NEAR-dup admission control — the near-duplicate
    * counterpart of d06's exact-fingerprint gate: flag every BATCH
    * document (odd ids, d06's split convention) whose shingle Jaccard
    * with ANY HISTORY document (even ids) reaches 0.6, reporting the
    * match count and the best-matching history doc. This is the check a
    * real ingest runs so paraphrased or lightly-edited re-submissions
    * don't re-enter a deduplicated corpus — exact fingerprints (d06)
    * can't see them, and batch-internal near-dup (d02/d03) doesn't look
    * at history.
    *
    * Scale shape: d03's banded-MinHash machinery across two frames —
    * band hashes are one [[minhashBuckets]] kernel call per document
    * (no signature shuffle), candidates come from the
    * (band, band_hash) bucket join only (at J = 0.6 the 32×2-band miss
    * probability is ~6e-7, d03's math), and the exact-Jaccard verify
    * joins candidate ids back to the one repartition exchange both
    * verify joins reuse. Nothing is ever all-pairs. At a real ingest the
    * history side (signatures + shingle sets) is a maintained bucketed
    * table (the d06 precedent) so only the small batch side computes per
    * run; here both sides derive in-query so the oracle can restate the
    * whole decision exactly. The best-match tie-break rides the ROUNDED
    * jaccard (d09's engine-stable arg-max idiom). */
  def d12IncrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val ds = docShingles(s, d).repartition(col("doc_id"))
    val buckets = minhashBuckets(ds)
    nearDupGate(ds, buckets.filter(col("doc_id") % 2 === 1),
        ds, buckets.filter(col("doc_id") % 2 === 0))
      .orderBy(col("doc_id"))
  }

  /** d11 line geometry: 10-token non-overlapping windows ("lines" — the
    * corpus has no literal line breaks, so the line unit is positional,
    * like t13's chunks but stride = size). Tail lines shorter than
    * [[LineLen]] participate like any other line. */
  val LineLen = 10

  /** d11: corpus-level line deduplication with document rewrite — the
    * C4 recipe (Raffel et al. JMLR'20 §2.2 discard "any three-sentence
    * span" seen before; Lee et al. ACL'22 measure the line-level form):
    * every line that already occurred earlier in the corpus — in
    * (doc_id, position) order, the deterministic stand-in for crawl
    * order — is REMOVED from its document, and the output reports each
    * document's surviving shape (kept-line count, kept-token count, and
    * the fingerprint of the rewritten text). Differs from d01/d05
    * (whole-doc decisions) and d10 (detection only): this is the
    * operator that EDITS documents, which is why exact-dup docs come out
    * with n_kept = 0 — their every line lost to the original — while
    * partially-copied docs shrink instead of dying.
    *
    * Scale shape: lines hash to 64 bits in a flat codegen'd projection
    * (explode + `slice`, not a HOF lambda — d10's measured choice), so
    * the first-occurrence shuffle carries (doc_id, pos, hash) fixed-width
    * rows only. The decision is carried by the REMOVAL set, not the keep
    * set: a line occurring once is trivially its own winner, so only
    * DUPLICATED lines (count ≥ 2, winner = min(struct(doc_id, pos)))
    * enter the decision join — that set scales with the corpus's
    * duplicated mass (d10's probe-set argument), never with corpus size,
    * unlike the naive all-lines winner table which is one row per
    * distinct line and could never broadcast at 100 TB. Removed
    * positions come back as one small int-array row per affected doc
    * (most docs have none); the rewrite keeps the complement via per-row
    * array algebra on the original token column — document text never
    * crosses any exchange (PlanSpec-pinned; at corpus scale the removal
    * join keys on doc_id, so a doc_id-bucketed corpus table
    * ([[graft.sink.Sinks.writeBucketed]], the d06 history precedent)
    * keeps the text side zero-Exchange). */
  /** The rewrite frame behind [[d11LineDedup]], with `source` carried so
    * downstream curation stages (p19) can budget the POST-rewrite corpus:
    * (doc_id, source, n_lines, n_kept, kt = kept-token array). */
  def d11Rewritten(s: SparkSession, d: String): DataFrame = {
    val L = LineLen
    val base = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      // tokens() never yields an empty array (split of "" is [""]), so
      // every document owns >= 1 line and survives to the output
      .select(col("doc_id"), col("source"), col("t"),
        floor((size(col("t")) + lit(L - 1)) / lit(L)).cast("int").as("n_lines"))
    val lines = base
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("n_lines") - 1)).as("pos"))
      .select(col("doc_id"), col("pos"),
        xxhash64(concat_ws(" ", slice(col("t"), col("pos") * L + 1, lit(L))))
          .as("lh"))
    val dupWinners = lines.groupBy(col("lh"))
      .agg(count(lit(1)).as("c"), min(struct(col("doc_id"), col("pos"))).as("w"))
      .filter(col("c") >= 2)
      .select(col("lh"), col("w"))
    val removed = lines.join(dupWinners, Seq("lh"))
      .filter(col("doc_id") =!= col("w.doc_id") || col("pos") =!= col("w.pos"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("rm"))
    base.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        col("n_lines").cast("long").as("n_lines"),
        coalesce(col("rm"), array()).as("rm"), col("t"))
      // HOF rewrite is interpreted-eval but runs once per DOC (not per
      // line/token) on the final 1-row-per-doc frame — negligible next
      // to the hashed-line passes
      .select(col("doc_id"), col("source"), col("n_lines"), col("t"),
        filter(sequence(lit(0), col("n_lines").cast("int") - 1),
          i => !array_contains(col("rm"), i)).as("keep"))
      .select(col("doc_id"), col("source"), col("n_lines"),
        size(col("keep")).cast("long").as("n_kept"),
        flatten(transform(col("keep"),
          p => slice(col("t"), p * L + 1, lit(L)))).as("kt"))
  }

  def d11LineDedup(s: SparkSession, d: String): DataFrame =
    d11Rewritten(s, d)
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        size(col("kt")).cast("long").as("n_tokens_kept"),
        when(col("n_kept") > 0, md5(concat_ws(" ", col("kt"))))
          .as("kept_fp"))
      .orderBy(col("doc_id"))

  /** d13 geometry: the pair threshold (rounded cosine, d05's idiom) and
    * the salt factor that widens the per-cluster self-join beyond the
    * cluster count. */
  val SemDupTau = 0.4
  val SemDupSalt = 4

  /** d13: SemDeDup — cluster-partitioned semantic deduplication (Abbas et
    * al. 2023): assign every embedding to its nearest codebook centroid by
    * cosine, generate near-duplicate candidates ONLY within a cluster, and
    * keep per duplicate-neighborhood the vector FARTHEST from its centroid
    * (the paper's keep-the-atypical rule — centroid-near members are the
    * redundant mass). A vector is dropped iff some same-cluster vector
    * that PRECEDES it in (centroid-cos asc, vec_id asc) order sits within
    * cosine ≥ [[SemDupTau]] — the ranked-screening form of the published
    * algorithm, which needs no connected-components pass (contrast d07).
    * Complements d05: d05 is the global threshold join over ALL pairs;
    * SemDeDup trades exhaustiveness for cluster-bounded cost, which is
    * what makes embedding dedup feasible when N² is off the table.
    *
    * Codebook: element-wise means of the corpus's label partitions,
    * rounded to 9 dp so both engines seed from bit-identical doubles. The
    * operator is codebook-agnostic — at production scale s05's k-means
    * centers drop in unchanged; the label-mean codebook keeps the oracle
    * EXACT where a Lloyd's run is seed-dependent. Collecting it is a
    * bounded scalar fetch (10 labels × 64 dims, s04's codebook precedent).
    *
    * Scale shape: the pair space is cluster-partitioned — per-cluster
    * (N/K)² instead of d05's N², and K grows with corpus size in the
    * published recipe so cluster cost stays bounded. The self-join keys on
    * (cluster, salt): the y-side replicates [[SemDupSalt]]× via a map-side
    * explode (no BNLJ), widening parallelism to K×salt lanes — the d05
    * lesson that these joins are CPU-dense in cosine evals while tiny in
    * bytes, so AQE's size-based coalescing must not collapse them (the
    * explicit numbered repartition carries REPARTITION_BY_NUM, which AQE
    * leaves alone). Precedence compares ROUNDED centroid-cos (6 dp) so the
    * keep decision is engine-stable (d09's idiom); the cheap rank filter
    * runs before the cosine eval. */
  /** The deterministic label-mean codebook shared by d13 and g13:
    * round(avg, 9) per (label, dim), fetched as a bounded scalar table
    * (#labels × #dims rows — s04's codebook precedent). */
  def labelCodebook(s: SparkSession, d: String): Seq[(Int, Array[Double])] = {
    val centRows = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(round(avg(col("x").cast("double")), 9).as("v"))
      .collect()
    centRows
      .groupBy(_.getAs[Int]("label"))
      .map { case (lab, rs) =>
        lab -> rs.sortBy(_.getAs[Int]("i")).map(_.getAs[Double]("v")).toArray
      }
      .toSeq.sortBy(_._1)
  }

  def d13SemDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    semDedup(s, e, labelCodebook(s, d))
  }

  /** g13: label-purity audit — every vector is re-assigned to its
    * nearest LABEL-MEAN centroid (nearest-class-mean classification on
    * the labels' own geometry) and the label × assignment confusion
    * matrix is rolled up. The read before trusting labels for
    * SemDeDup-style partitioning or stratified sampling: a label whose
    * mass assigns elsewhere has no angular identity of its own (g12's
    * centroid-norm panel says how coherent each class is; this says
    * WHERE the incoherent mass actually sits). Deterministic — the
    * codebook is [[labelCodebook]]'s rounded means, every cosine is
    * rounded before the argmax — so the full matrix is an exact oracle
    * row, unlike seed-dependent k-means diagnostics.
    *
    * Scale shape: codebook broadcast with the plan (#labels × #dims
    * literals), assignment is one codegen'd scan pass, the rollup
    * shuffles (label, assigned) pairs — ≤ #labels² rows after the
    * map-side partials. Vectors never shuffle. */
  /** Lexicographic argmax over (rounded cos, label) structs. `greatest`
    * requires ≥2 arguments, so a single-centroid codebook (one label in
    * the corpus) returns its struct directly instead of throwing an
    * AnalysisException at plan time. */
  private def nearestCentroid(cents: Seq[(Int, Array[Double])], v: Column): Column = {
    require(cents.nonEmpty, "nearestCentroid: empty codebook")
    val structs = cents.map { case (lab, c) =>
      struct(round(VectorFunctions.cosine(v, lit(c)), 6).as("ccos"),
        lit(lab).as("cluster"))
    }
    if (structs.size == 1) structs.head else greatest(structs: _*)
  }

  def g13LabelPurity(s: SparkSession, d: String): DataFrame = {
    val cents = labelCodebook(s, d)
    val v = col("embedding")
    val best = nearestCentroid(cents, v)
    Tables.embeddings(s, d)
      .select(col("label"), best.getField("cluster").as("assigned"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("label"), col("assigned"))
  }

  /** The SemDeDup core behind an explicit codebook: `vectors` must carry
    * (vec_id, embedding); `codebook` is any (clusterId, centroid) set —
    * s05's k-means `clusterCenters` at production scale, the label-mean
    * codebook in the d13 oracle row. Kept public so the clustering choice
    * and the dedup decision compose independently. */
  def semDedup(s: SparkSession, vectors: DataFrame,
               codebook: Seq[(Int, Array[Double])]): DataFrame = {
    val e = vectors
    val cents = codebook
    val v = col("embedding")
    // argmax over (rounded cos, label) structs — lexicographic greatest =
    // max cos with ties to the larger label, restated in the oracle as
    // row_number() ORDER BY ccos DESC, label DESC (s05's least() mirrored)
    val best = nearestCentroid(cents, v)
    val width = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val assigned = e
      .select(col("vec_id"), col("embedding"), best.as("b"))
      .select(col("vec_id"), col("embedding"),
        col("b.cluster").as("cluster"), col("b.ccos").as("ccos"))
    val xs = assigned
      .withColumn("sx", pmod(col("vec_id"), lit(SemDupSalt)).cast("int"))
      .repartition(width, col("cluster"), col("sx"))
    val ys = assigned
      .select(col("vec_id").as("y_id"), col("embedding").as("y_em"),
        col("cluster"), col("ccos").as("y_ccos"))
      .withColumn("sx", explode(lit((0 until SemDupSalt).toArray)))
      .repartition(width, col("cluster"), col("sx"))
    val dominated = xs.join(ys, Seq("cluster", "sx"))
      .filter(col("y_ccos") < col("ccos") ||
        (col("y_ccos") === col("ccos") && col("y_id") < col("vec_id")))
      .filter(round(VectorFunctions.cosine(col("embedding"), col("y_em")), 4)
        >= SemDupTau)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dup_above"))
    assigned.join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("ccos"),
        coalesce(col("n_dup_above"), lit(0L)).as("n_dup_above"),
        col("n_dup_above").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** p35's prune fraction: within every cluster, the ⌈25 %⌉ most
    * prototypical vectors (highest cosine to their centroid) drop. */
  val PrototypePruneFrac = 0.25

  /** p35: prototype-based data pruning (the SSL-prototypes rule of
    * Sorscher et al. '22 / Abbas et al.'s D4 stage after SemDeDup):
    * where d13 removes vectors too close to EACH OTHER, this removes
    * the ⌈[[PrototypePruneFrac]]·n⌉ vectors closest to their cluster
    * CENTROID — the most prototypical examples carry the least
    * marginal training signal, so the kept set is the "hard" remainder.
    * Assignment reuses d13's exact rounded-cosine codebook
    * ([[labelCodebook]]: #labels × #dims bounded literals — the coarse
    * quantizer discipline), so the whole row is an exact oracle fact;
    * at production scale s05's k-means centers drop in unchanged.
    *
    * Scale: one scan to assign (codebook rides the plan), ONE shuffle
    * on cluster for the rank/size windows, no pairwise work at all —
    * the contrast with d13's within-cluster pair screen is the point:
    * prototype pruning is the O(N) member of the family. */
  def p35PrototypePrune(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val assigned = e
      .select(col("vec_id"),
        nearestCentroid(labelCodebook(s, d), col("embedding")).as("b"))
      .select(col("vec_id"), col("b.cluster").as("cluster"),
        col("b.ccos").as("ccos"))
    val byProto = Window.partitionBy(col("cluster"))
      .orderBy(col("ccos").desc, col("vec_id"))
    val bySize = Window.partitionBy(col("cluster"))
    assigned
      .withColumn("rank", row_number().over(byProto).cast("long"))
      .withColumn("n_cluster", count(lit(1)).over(bySize))
      .withColumn("kept",
        col("rank") > ceil(col("n_cluster") * PrototypePruneFrac))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, Q] = Map(
    "d01_exact_dedup"       -> d01ExactDedup _,
    "d02_ngram_jaccard"     -> d02NgramJaccard _,
    "d20_prefix_join"       -> d20PrefixJoin _,
    "d21_prefix_hostile"    -> d21PrefixHostile _,
    "d22_dfcap_index"       -> d22DfCapIndex _,
    "d23_lsh_hostile"       -> d23LshHostile _,
    "p35_prototype_prune"   -> p35PrototypePrune _,
    "d03_minhash_lsh"       -> d03MinHashLsh _,
    "d04_simhash"           -> d04SimHashContract _,
    "d05_embedding_neardup" -> d05EmbeddingNearDup _,
    "d06_incremental_dedup" -> d06IncrementalDedup _,
    "d07_dup_clusters"      -> d07DupClusters _,
    "d08_contamination"     -> d08Contamination _,
    "d09_canonical_select"  -> d09CanonicalSelect _,
    "d10_verbatim_spans"    -> d10VerbatimSpans _,
    "d11_line_dedup"        -> d11LineDedup _,
    "d12_incremental_neardup" -> d12IncrementalNearDup _,
    "d13_semdedup"            -> d13SemDedup _,
    "d14_semantic_decontam"   -> d14SemanticDecontam _,
    "d15_containment"         -> d15Containment _,
    "d16_edit_refine"         -> d16EditRefine _,
    "d17_bloom_dedup"         -> d17BloomDedup _,
    "d18_soft_dedup"          -> d18SoftDedup _,
    "g10_cluster_sizes"       -> g10ClusterSizes _,
    "g13_label_purity"        -> g13LabelPurity _,
  )

  /** Shared d11 line-dedup CTE (`b`/`l`/`k`): `k.rn = 1` marks each
    * line's corpus-wide first occurrence in (doc_id, pos) order;
    * `source` rides through so curation stages that budget the
    * POST-rewrite corpus (p19) reuse the identical decision. */
  val LineDedupCte = s"""
      b AS (
        SELECT doc_id, source, ${graft.text.TextAnalysis.ToksSql} AS t,
               len(${graft.text.TextAnalysis.ToksSql}) AS n
        FROM documents),
      l AS (
        SELECT doc_id, source, CAST(pos AS INT) AS pos,
               array_to_string(t[(pos*$LineLen+1):(pos*$LineLen+$LineLen)], ' ') AS line,
               least($LineLen, n - pos*$LineLen) AS nl
        FROM (SELECT doc_id, source, t, n,
                     unnest(range(0, CAST(ceil(n / ($LineLen * 1.0)) AS BIGINT))) AS pos
              FROM b)),
      k AS (
        SELECT doc_id, source, pos, line, nl,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        FROM l)"""

  /** Jaccard-pair CTE body shared by the d02/d03 oracles, d07's
    * recursive component oracle, and d20 (at its own threshold):
    * `jpairs` is the exact J ≥ `tau` pair list. */
  private def jaccardPairsCte(tau: Double, from: String = "documents") = s"""
    toks AS (
      SELECT doc_id, ${graft.text.TextAnalysis.ToksSql} AS t
      FROM $from),
    sh AS (
      SELECT doc_id, unnest(${graft.text.TextAnalysis.shinglesSql("t")}) AS s
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jpairs AS (
      SELECT doc_a, doc_b,
             round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE c * 1.0 / (sa.n + sb.n - c) >= $tau)"""

  private val JaccardPairsCte = jaccardPairsCte(0.6)

  /** The label-mean codebook assignment as DuckDB CTEs (`cm`/`c`/`ac`/
    * `a`) — shared by the d13 and p35 oracles so the assignment rule
    * (rounded cosine, ccos DESC / label DESC argmax) cannot drift
    * between the rows that consume it. */
  private val CentroidAssignCteSql = s"""
      cm AS (
        SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 9) AS v
        FROM (SELECT label, embedding,
                     unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)
        GROUP BY label, i),
      c AS (SELECT label, list(v ORDER BY i) AS cen FROM cm GROUP BY label),
      ac AS (
        SELECT e.vec_id, e.embedding, c.label,
               round(
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * c.cen[i]))
                 / (sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.cen, x -> x * x)))),
                 6) AS ccos
        FROM embeddings e CROSS JOIN c),
      a AS (
        SELECT vec_id, embedding, label AS cluster, ccos
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY ccos DESC, label DESC) AS rn FROM ac)
        WHERE rn = 1)"""

  /** The d21/d22 hostile corpus as one shared DuckDB CTE (`hostile`) —
    * one definition so the two adversarial-regime oracles cannot drift
    * from each other or from [[hostileDocs]]. */
  private val HostileCteSql = s"""hostile AS (
        SELECT doc_id,
               CASE WHEN doc_id % $HostileMod <> 0
                     AND len(${graft.text.TextAnalysis.ToksSql}) >= $HostileMinToks
                    THEN text || ' $HostileBoilerplate'
                    ELSE text END AS text
        FROM documents WHERE doc_id < $HostileSliceN)"""

  /** Jaccard-pair SQL shared by d02 and d03 (LSH verified output = exact
    * output; see [[NumHashes]]). d04 is hash-defined → its oracle states
    * the [[d04SimHashContract]] facts as constants. */
  private val JaccardPairsSql = s"""
    WITH $JaccardPairsCte
    SELECT doc_a, doc_b, jaccard FROM jpairs
    ORDER BY doc_a, doc_b"""

  val oracleSql: Map[String, String] = Map(
    "d04_simhash" -> """
      SELECT TRUE AS nonempty, TRUE AS within_hamming_bound, TRUE AS overlap_ok""",
    // transitive closure via recursive CTE: reach(v, r) enumerates every
    // node r reachable from v over the symmetric J >= 0.6 edge list; the
    // component id is the minimum reachable id — the same fixpoint the
    // Spark side's min-label propagation computes.
    "d07_dup_clusters" -> s"""
      WITH RECURSIVE $JaccardPairsCte,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jpairs),
      nodes AS (SELECT DISTINCT src AS v FROM edges),
      reach(v, r) AS (
        SELECT v, v AS r FROM nodes
        UNION
        SELECT e.src AS v, reach.r AS r
        FROM edges e JOIN reach ON reach.v = e.dst)
      SELECT v AS doc_id, min(r) AS cluster_id,
             (v = min(r)) AS is_rep
      FROM reach GROUP BY v ORDER BY doc_id""",
    // d15: exact shingle STRINGS vs 64-bit hashes (the d02 collision
    // argument); thresholds compared before rounding with the same text
    // d14: the same per-train-vector probe over the bench set, restated
    // as a cross join + rollup; hit decision and best-cos use the exact
    // Spark rounding (4 dp threshold, 6 dp value)
    "d14_semantic_decontam" -> s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      b AS (SELECT vec_id AS b_id, embedding AS b_em
            FROM e ORDER BY md5(CAST(vec_id AS VARCHAR))
            LIMIT $SemContamBenchN),
      t AS (SELECT vec_id, embedding
            FROM e WHERE vec_id NOT IN (SELECT b_id FROM b)),
      p AS (
        SELECT t.vec_id,
               round(list_sum(list_transform(range(1, len(t.embedding) + 1),
                 i -> CAST(t.embedding[i] AS DOUBLE) * CAST(b.b_em[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(t.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.b_em,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
        FROM t CROSS JOIN b)
      SELECT vec_id,
             count(*) FILTER (WHERE round(cos, 4) >= $SemContamTau)
               AS n_bench_hits,
             max(cos) AS best_cos,
             count(*) FILTER (WHERE round(cos, 4) >= $SemContamTau) > 0
               AS contaminated
      FROM p GROUP BY vec_id ORDER BY vec_id""",
    "d15_containment" -> s"""
      WITH toks AS (
        SELECT doc_id, ${graft.text.TextAnalysis.ToksSql} AS t
        FROM documents),
      sh AS (
        SELECT doc_id, unnest(${graft.text.TextAnalysis.shinglesSql("t")}) AS s
        FROM toks),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS host_id, count(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT common.doc_id AS doc_id, host_id, sa.n AS n_shingles,
             round(c * 1.0 / sa.n, 6) AS containment,
             round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
      FROM common
      JOIN sizes sa ON common.doc_id = sa.doc_id
      JOIN sizes sb ON host_id = sb.doc_id
      WHERE sa.n >= $ContainMinShingles
        AND c * 1.0 / sa.n >= $ContainThreshold
      ORDER BY doc_id, host_id""",
    // d16: the exact J >= 0.6 pair list (the LSH-exactness argument at
    // [[NumHashes]]) refined with DuckDB's own unbounded levenshtein —
    // same values as Spark's bounded threshold variant inside the budget
    "d16_edit_refine" -> s"""
      WITH $JaccardPairsCte,
      nrm AS (
        SELECT doc_id, ${graft.text.TextAnalysis.NormSql} AS norm
        FROM documents),
      -- the same per-doc_a witness cap the engine applies: rank on the
      -- ROUNDED jaccard (identical doubles in both engines) with doc_b
      -- tie-break, keep the J-best MaxRefinePartnersPerDoc partners
      ranked AS (
        SELECT doc_a, doc_b, jaccard,
               row_number() OVER (PARTITION BY doc_a
                                  ORDER BY jaccard DESC, doc_b) AS rk
        FROM jpairs),
      scored AS (
        -- levenshtein computed ONCE per pair (no cross-clause CSE
        -- guarantee; the O(len^2) distance dominates this oracle).
        -- DuckDB's levenshtein is BYTE-based — exactly the contract
        -- (see MaxEditBudget); the ENGINE converts to byte semantics
        -- via the Latin-1 reinterpretation, this side is native
        SELECT r.doc_a, r.doc_b, r.jaccard,
               CAST(levenshtein(ta.norm, tb.norm) AS INT) AS lev
        FROM ranked r
        JOIN nrm ta ON r.doc_a = ta.doc_id
        JOIN nrm tb ON r.doc_b = tb.doc_id
        WHERE r.rk <= $MaxRefinePartnersPerDoc)
      SELECT doc_a, doc_b, jaccard, lev
      FROM scored
      WHERE lev <= $MaxEditBudget
      ORDER BY doc_a, doc_b""",
    // d18: d07's recursive component oracle, per-doc with the 1/size
    // weight; singletons are the corpus complement at weight 1
    "d18_soft_dedup" -> s"""
      WITH RECURSIVE $JaccardPairsCte,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jpairs),
      nodes AS (SELECT DISTINCT src AS v FROM edges),
      reach(v, r) AS (
        SELECT v, v AS r FROM nodes
        UNION
        SELECT e.src AS v, reach.r AS r
        FROM edges e JOIN reach ON reach.v = e.dst),
      comp AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
      csize AS (SELECT cluster_id, count(*) AS n FROM comp GROUP BY cluster_id),
      allrows AS (
        SELECT comp.v AS doc_id, comp.cluster_id,
               CAST(csize.n AS BIGINT) AS cluster_size
        FROM comp JOIN csize USING (cluster_id)
        UNION ALL
        SELECT d.doc_id, d.doc_id, CAST(1 AS BIGINT)
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT v FROM comp))
      SELECT doc_id, cluster_id, cluster_size,
             round(CAST(1 AS DOUBLE) / cluster_size, 6) AS weight
      FROM allrows ORDER BY doc_id""",
    // d07's recursive component oracle, rolled up to the size
    // distribution; the singleton row is the corpus complement
    "g10_cluster_sizes" -> s"""
      WITH RECURSIVE $JaccardPairsCte,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jpairs),
      nodes AS (SELECT DISTINCT src AS v FROM edges),
      reach(v, r) AS (
        SELECT v, v AS r FROM nodes
        UNION
        SELECT e.src AS v, reach.r AS r
        FROM edges e JOIN reach ON reach.v = e.dst),
      comp AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
      sized AS (SELECT cluster_id, count(*) AS cluster_size
                FROM comp GROUP BY cluster_id),
      dist AS (SELECT cluster_size, count(*) AS n_clusters,
                      cluster_size * count(*) AS n_docs
               FROM sized GROUP BY cluster_size)
      SELECT cluster_size, n_clusters, n_docs FROM dist
      UNION ALL
      SELECT CAST(1 AS BIGINT) AS cluster_size,
             (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n_clusters,
             (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n_docs
      ORDER BY cluster_size""",
    // exact strings on the oracle side vs 64-bit gram hashes on the
    // Spark side — occurrence counts agree because collisions over ~1e6
    // grams are ~5e-8-probable (same argument as d02/d08)
    // the exact cross-parity cut of the shared Jaccard pair list: jpairs'
    // jaccard is already rounded 6, so the best-match window orders by
    // the same engine-stable key as Spark's struct arg-max
    "d12_incremental_neardup" -> s"""
      WITH $JaccardPairsCte,
      m AS (
        SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS doc_id,
               CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS hist_id,
               jaccard
        FROM jpairs WHERE (doc_a % 2) <> (doc_b % 2)),
      r AS (
        SELECT doc_id, hist_id, jaccard,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY jaccard DESC, hist_id) AS rn,
               count(*) OVER (PARTITION BY doc_id) AS n_matches
        FROM m)
      SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches,
             hist_id AS best_match_id, jaccard AS best_jaccard
      FROM r WHERE rn = 1 ORDER BY doc_id""",
    // the oracle keys the first-occurrence decision on the LINE STRING
    // itself (Spark keys on its 64-bit hash; equal lines produce equal
    // keys in each engine, so the winner sets agree unless xxhash64
    // collides — ~1e-11 at sf0.1); string_agg(... ORDER BY pos) over the
    // kept lines reproduces the flattened-slice rewrite verbatim
    "d11_line_dedup" -> s"""
      WITH $LineDedupCte
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN rn = 1 THEN nl ELSE 0 END) AS BIGINT) AS n_tokens_kept,
             md5(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY pos)) AS kept_fp
      FROM k GROUP BY doc_id ORDER BY doc_id""",
    // d10's spans are BYTE grams (the Spark side slices the binary cast
    // — an O(1) offset slice vs O(len²) codepoint scanning). DuckDB
    // cannot slice BLOBs, so byte semantics are restated through hex():
    // byte i of the UTF-8 encoding is hex chars 2i-1..2i, hex strings
    // are ASCII so substr IS a byte slice, and hex is injective so gram
    // equality over hex ⟺ byte equality. On ASCII corpora this equals
    // the old char-gram oracle; on multi-byte scripts (tmp/langmix —
    // where the char-based oracle diverged, 291 vs 139 positions on a
    // Cyrillic doc) it now matches the engine exactly.
    "d10_verbatim_spans" -> s"""
      WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               octet_length(encode(text)) AS nb
        FROM documents WHERE text IS NOT NULL),
      g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(nb - ${SpanLen - 1}, 1) + 1),
                 i -> substr(h, 2 * i - 1, ${2 * SpanLen}))) AS gram
        FROM hx),
      cnt AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      sizes AS (SELECT doc_id, count(*) AS n_positions FROM g GROUP BY doc_id),
      dups AS (
        SELECT g.doc_id, count(*) AS n_dup_positions
        FROM g JOIN cnt USING (gram) GROUP BY g.doc_id)
      SELECT s.doc_id, s.n_positions,
             coalesce(d.n_dup_positions, 0) AS n_dup_positions,
             round(coalesce(d.n_dup_positions, 0) * 1.0 / s.n_positions, 6) AS dup_frac
      FROM sizes s LEFT JOIN dups d USING (doc_id)
      ORDER BY doc_id""",
    // d07's recursive-component oracle + t02's quality formula (same
    // expression tree, so the rounded doubles agree bitwise), then
    // arg-max per cluster via the rank-1 window
    "d09_canonical_select" -> s"""
      WITH RECURSIVE $JaccardPairsCte,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jpairs),
      nodes AS (SELECT DISTINCT src AS v FROM edges),
      reach(v, r) AS (
        SELECT v, v AS r FROM nodes
        UNION
        SELECT e.src AS v, reach.r AS r
        FROM edges e JOIN reach ON reach.v = e.dst),
      comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
      q AS (
        SELECT doc_id, ${graft.text.TextAnalysis.QualityExprSql} AS quality
        FROM (SELECT doc_id, ${graft.text.TextAnalysis.ToksSql} AS toks,
                     ${graft.text.TextAnalysis.NormSql} AS norm
              FROM documents))
      SELECT cluster_id, n_members, doc_id AS rep_doc_id, quality AS rep_quality
      FROM (
        SELECT c.cluster_id, c.doc_id, q.quality,
               count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.quality DESC, c.doc_id) AS rn
        FROM comp c JOIN q USING (doc_id))
      WHERE rn = 1 ORDER BY cluster_id""",
    "d06_incremental_dedup" -> s"""
      WITH fp AS (
        SELECT doc_id, ${graft.text.TextAnalysis.FpSql} AS fp
        FROM documents),
      hist AS (SELECT fp FROM fp WHERE doc_id % 2 = 0),
      batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 2 = 1),
      first_per_fp AS (
        SELECT doc_id, fp FROM (
          SELECT doc_id, fp,
                 row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM batch) WHERE rn = 1)
      SELECT doc_id, fp FROM first_per_fp
      WHERE fp NOT IN (SELECT fp FROM hist)
      ORDER BY doc_id""",
    // d17: same survivors as d06 — the bloom gate changes the plan,
    // never the answer, so the oracle is the plain incremental form
    "d17_bloom_dedup" -> s"""
      WITH fp AS (
        SELECT doc_id, ${graft.text.TextAnalysis.FpSql} AS fp
        FROM documents),
      hist AS (SELECT fp FROM fp WHERE doc_id % 2 = 0),
      batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 2 = 1),
      first_per_fp AS (
        SELECT doc_id, fp FROM (
          SELECT doc_id, fp,
                 row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM batch) WHERE rn = 1)
      SELECT doc_id, fp FROM first_per_fp
      WHERE fp NOT IN (SELECT fp FROM hist)
      ORDER BY doc_id""",
    "d01_exact_dedup" -> """
      SELECT user_id, event_type, min(event_id) AS first_event_id,
             count(*) AS n_dups
      FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",
    "d02_ngram_jaccard" -> JaccardPairsSql,
    // p35: the identical assignment CTE; rank/size windows restated,
    // the prune boundary as the same ceil comparison
    "p35_prototype_prune" -> s"""
      WITH $CentroidAssignCteSql,
      r AS (
        SELECT vec_id, cluster, ccos,
               CAST(row_number() OVER (PARTITION BY cluster
                 ORDER BY ccos DESC, vec_id) AS BIGINT) AS rank,
               CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
                 AS n_cluster
        FROM a)
      SELECT vec_id, cluster, ccos, rank, n_cluster,
             rank > CAST(ceil(n_cluster * $PrototypePruneFrac) AS BIGINT)
               AS kept
      FROM r ORDER BY vec_id""",
    // d20: the SAME exact census at τ = 0.5 with NO prefix filter at
    // all — oracle-side completeness is structural, so a missing pair
    // in the Spark output (a broken prefix) is a hash mismatch
    "d20_prefix_join" -> s"""
      WITH ${jaccardPairsCte(PrefixTau)}
      SELECT doc_a, doc_b, jaccard FROM jpairs
      ORDER BY doc_a, doc_b""",
    // d21: the hostile corpus restated, then the PREFIX-FREE census —
    // the oracle pays the full Σ df² the prefix filter exists to avoid
    // (bounded by the fixed slice), so filter completeness under the
    // boilerplate regime is hash-checked, not assumed
    "d21_prefix_hostile" -> s"""
      WITH $HostileCteSql,
      ${jaccardPairsCte(PrefixTau, "hostile")}
      SELECT doc_a, doc_b, jaccard FROM jpairs
      ORDER BY doc_a, doc_b""",
    // d22: same hostile corpus, CAP-FREE census at d02's τ = 0.6 — the
    // oracle pays the full boilerplate Σ df², so a df-capped candidate
    // pass that LOST a true pair (one whose every shared shingle is
    // above the cap) is a hash mismatch, not an assumption
    "d22_dfcap_index" -> s"""
      WITH $HostileCteSql,
      ${jaccardPairsCte(0.6, "hostile")}
      SELECT doc_a, doc_b, jaccard FROM jpairs
      ORDER BY doc_a, doc_b""",
    // d23: the SAME cap-free hostile census — LSH-with-bucket-cap and
    // df-capped-index are two candidate disciplines for one answer, and
    // sharing the oracle pins them to each other as well as to the truth
    "d23_lsh_hostile" -> s"""
      WITH $HostileCteSql,
      ${jaccardPairsCte(0.6, "hostile")}
      SELECT doc_a, doc_b, jaccard FROM jpairs
      ORDER BY doc_a, doc_b""",
    "d03_minhash_lsh"   -> JaccardPairsSql,
    "d08_contamination" -> s"""
      WITH toks AS (
        SELECT doc_id, ${graft.text.TextAnalysis.ToksSql} AS t
        FROM documents),
      sh AS (
        SELECT doc_id, unnest(${graft.text.TextAnalysis.shinglesSql("t")}) AS s
        FROM toks),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % $ContaminationBenchMod = 0),
      train AS (SELECT doc_id, s FROM sh WHERE doc_id % $ContaminationBenchMod <> 0),
      sizes AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
      hits AS (
        SELECT t.doc_id, count(*) AS n_shared
        FROM train t JOIN bench b ON t.s = b.s
        GROUP BY t.doc_id)
      SELECT s.doc_id, s.n_shingles,
             coalesce(h.n_shared, 0) AS n_shared,
             round(coalesce(h.n_shared, 0) * 1.0 / s.n_shingles, 6) AS contam_frac
      FROM sizes s LEFT JOIN hits h USING (doc_id)
      ORDER BY doc_id""",
    "d05_embedding_neardup" -> """
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, round(cos, 6) AS cos
      FROM p WHERE round(cos, 4) >= 0.4
      ORDER BY vec_a, vec_b""",
    // d13: the codebook (label-partition means rounded to 9 dp) and both
    // cosine forms are restated verbatim; the keep decision compares the
    // same round(·,6)/round(·,4) doubles as the Spark side, so the ranked
    // screening is engine-stable. coalesce keeps n_dup_above BIGINT
    // (a bare LEFT-JOIN NULL would float-ify the pandas column).
    // g13: the same codebook + rounded-cos argmax, rolled up as the
    // label × assignment confusion matrix
    "g13_label_purity" -> s"""
      WITH cm AS (
        SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 9) AS v
        FROM (SELECT label, embedding,
                     unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)
        GROUP BY label, i),
      c AS (SELECT label, list(v ORDER BY i) AS cen FROM cm GROUP BY label),
      ac AS (
        SELECT e.vec_id, e.label AS true_label, c.label AS cand,
               round(
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * c.cen[i]))
                 / (sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.cen, x -> x * x)))),
                 6) AS ccos
        FROM embeddings e CROSS JOIN c),
      a AS (
        SELECT vec_id, true_label, cand AS assigned
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY ccos DESC, cand DESC) AS rn FROM ac)
        WHERE rn = 1)
      SELECT true_label AS label, assigned, count(*) AS n_vecs
      FROM a GROUP BY true_label, assigned
      ORDER BY label, assigned""",
    "d13_semdedup" -> s"""
      WITH $CentroidAssignCteSql,
      p AS (
        SELECT x.vec_id, CAST(count(*) AS BIGINT) AS n_dup_above
        FROM a x JOIN a y
          ON x.cluster = y.cluster
         AND (y.ccos < x.ccos OR (y.ccos = x.ccos AND y.vec_id < x.vec_id))
         AND round(
               list_sum(list_transform(range(1, len(x.embedding) + 1),
                 i -> CAST(x.embedding[i] AS DOUBLE)
                    * CAST(y.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(x.embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                * sqrt(list_sum(list_transform(y.embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
               4) >= $SemDupTau
        GROUP BY x.vec_id)
      SELECT a.vec_id, a.cluster, a.ccos,
             coalesce(p.n_dup_above, 0) AS n_dup_above,
             p.vec_id IS NULL AS kept
      FROM a LEFT JOIN p ON a.vec_id = p.vec_id
      ORDER BY a.vec_id""",
  )
}
