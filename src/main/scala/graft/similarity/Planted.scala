package graft.similarity

import graft.Tables
import graft.functions.VectorFunctions.{cosine, dot}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Planted-structure recall contracts (VERDICT r9 item 1).
  *
  * The driver's embeddings corpus is ISOTROPIC (global max pair cosine
  * ≈ 0.51, unit-ish norms — SURVEY §8c), which is the regime bucketed
  * ANN *cannot* work well in: the s02/s03/s04/s16 floors are honest but
  * weak (0.2–0.5-class). These rows grade the same index machinery in
  * the clustered regime it is designed for, by DERIVING a
  * planted-structure corpus from the driver's own tables inside the
  * query — deterministic, SF-independent, no side-channel fixture files
  * — and pinning recall floors at the 0.9 class.
  *
  * Construction: p = normalize(α·m̂_L + (1−α)·v̂) where m̂_L is the
  * unit-normalized per-label mean of the real corpus and v̂ the
  * unit-normalized vector. With α = [[Alpha]], within-label pair
  * cosines MEASURE at 0.955–0.986 and cross-label at ≤ 0.39
  * (sf0.01 AND sf0.1; PlantedSpec re-measures the band edges): ten
  * tight, well-separated angular clusters whose true top-k are
  * same-label — exactly the geometry LSH hyperplanes, IVF cells, PQ
  * codebooks, and JL projections exploit. (The within-label band is
  * far tighter than the naive α² ≈ 0.72 estimate because the mixed
  * vector's norm is ≈ √(α²+(1−α)²) ≈ 0.86, and the normalization
  * divides the α² mean-alignment term by its square.)
  *
  * Scale: the planted corpus is a map-only projection over the scan
  * (two materialized norms guard the HOF-lambda re-evaluation trap —
  * the s04 lesson); per-label means are a bounded (#labels × dim)
  * aggregate collected once per (session, corpus) and entering plans
  * as literals (the coarse-quantizer discipline). At 100 TB the same
  * construction writes the planted table once; here it stays inline so
  * the contract rows run on any driver-provided SF dir.
  */
object Planted {

  type Q = (SparkSession, String) => DataFrame

  /** Cluster mixing weight — see the header note for the measured
    * within/cross-label cosine bands it produces. */
  val Alpha = 0.85

  /** The tight floor every planted-regime contract pins (vs 0.2–0.5 on
    * the isotropic corpus): measured per-query recall at sf0.01 and
    * sf0.1 is 1.0 for all four index families (PlantedSpec re-measures
    * the worst query), so 0.9 trips on any bucketer/quantizer break
    * while tolerating only a single lost neighbor of ten. */
  val PlantedFloor = 0.9

  /** Exact-refine FLOOR for the planted PQ/JL rows; the effective depth
    * is max(this, corpus/#labels) — i.e. ONE CLUSTER's worth of
    * candidates. Cluster-size-adaptive refine is load-bearing, measured,
    * not a tuning nicety: the planted clusters are so tight (pair cos
    * 0.955–0.986) that ranking WITHIN a cluster is below PQ-ADC/JL-32
    * resolution — a fixed refine of 50 passed sf0.01 (cluster size 50)
    * and failed every query at sf0.1 (cluster size 200), because
    * which-50-of-the-cluster the coarse ranking returns is effectively
    * arbitrary. Refine = cluster size turns the contract into what
    * coarse codes CAN promise at any SF — identify the right cluster,
    * exact-rerank inside it — which is also the honest production
    * sizing rule: refine depth must cover the posting-list/cluster the
    * answer lives in. */
  val PlantedRefine = 50

  // --- planted corpus -------------------------------------------------

  /** Per-label unit mean directions of the REAL corpus — a bounded
    * (#labels × dim) aggregate, collected once per (session, dir) and
    * memoized (index-artifact discipline; the quantMemo precedent). */
  private val meanMemo =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]]()

  private def labelMeans(s: SparkSession, d: String): Array[Array[Double]] = {
    val m = meanMemo.synchronized {
      var c = meanMemo.get(s)
      if (c == null) {
        c = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
        meanMemo.put(s, c)
      }
      c
    }
    m.computeIfAbsent(d, { _ =>
      val rows = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byLabel = rows.groupBy(_.getInt(0))
      val labels = byLabel.keySet
      require(labels == (0 until labels.size).toSet,
        s"planted corpus assumes contiguous labels 0..n-1, got $labels")
      Array.tabulate(labels.size) { l =>
        val cells = byLabel(l).sortBy(_.getInt(1))
          .map(r => r.getDouble(2) / r.getLong(3))
        val nrm = math.sqrt(cells.map(x => x * x).sum)
        if (nrm == 0) cells else cells.map(_ / nrm)
      }
    })
  }

  /** The planted clustered corpus: (vec_id, embedding, label) with
    * embedding = normalize(α·m̂_label + (1−α)·v̂), cast back to
    * array<float> so every downstream index pipeline runs byte-identical
    * to the real-corpus rows. `alpha` defaults to the tight-regime
    * [[Alpha]]; [[HardAlpha]] reuses the same construction for the
    * deliberately-hard boundary contract (s22). */
  def plantedCorpus(s: SparkSession, d: String,
                    alpha: Double = Alpha): DataFrame = {
    val means = labelMeans(s, d)
    val marr = array(means.toIndexedSeq.map(m => lit(m)): _*)
    Tables.embeddings(s, d)
      // norms materialize as columns BEFORE the lambdas reference them
      // (HOF lambda bodies re-evaluate embedded non-attribute
      // expressions per element — the s04 quadratic trap)
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("mhat", element_at(marr, col("label") + 1))
      .withColumn("praw", zip_with(col("mhat"), col("embedding"),
        (m, x) => m * lit(alpha) + (x / col("nrm")) * lit(1 - alpha)))
      .withColumn("pn", sqrt(dot(col("praw"), col("praw"))))
      .select(col("vec_id"),
        transform(col("praw"), x => x / col("pn")).cast("array<float>")
          .as("embedding"),
        col("label"))
  }

  /** Round 14 (guide §7.2): the zip_with/transform corpus construction
    * fed every consumer lazily — the brute-force baseline AND the index
    * pipeline each re-derived it per subtree (4-5 evaluations per
    * contract row). One eager materialization (corpus × 64 floats,
    * ~0.5 MB at sf0.1) runs it once; output unchanged.
    *
    * Round 15 (VERDICT r14 item 4, guide §5): the materialization is
    * `persist(MEMORY_AND_DISK)`, NOT `localCheckpoint` — this frame
    * GROWS WITH THE CORPUS, and a local checkpoint stores unreplicated
    * executor-local partitions with the lineage severed: at 100 TB one
    * lost executor kills the whole query. Persist keeps the lineage, so
    * a lost block recomputes.
    *
    * `pinning` runs a row body that may `pin` (persist) corpus-scale
    * frames, eagerly materializes the body's (tiny, contract-sized)
    * result with `localCheckpoint` — the KB-scale frames are exactly
    * where localCheckpoint is right — and unpersists every pinned frame
    * on the way out, on success AND on failure: each persist happens
    * inside the guarded region, so a body that throws after pinning
    * (a failing centroid fit, a join set-up error) cannot leave a
    * CacheManager entry behind in a long driver session. Frames are
    * persisted lazily: the first consumer materializes each partition
    * under the block manager's get-or-compute lock and later consumers
    * read the cache. */
  private[graft] def pinning(body: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      held += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try body(pin).localCheckpoint(true)
    finally held.foreach { f => f.unpersist(false); () }
  }

  private def plantedVectors(s: SparkSession, d: String): DataFrame =
    plantedCorpus(s, d).select(col("vec_id"), col("embedding"))

  // --- tight recall contracts over the planted corpus -----------------

  /** s17: LSH recall in the clustered regime — same 16×6 hyperplane
    * geometry as s02, judged against the brute-force top-k over the
    * SAME planted corpus at the [[PlantedFloor]] (vs 0.2 isotropic).
    * Within-label θ ≈ 30–40° ⇒ per-plane collision ≈ 0.8, any-of-16-
    * tables ≳ 0.97 per true neighbor — the regime the s02 scaladoc
    * promises "supports sharper filtering". */
  def s17PlantedLsh(s: SparkSession, d: String): DataFrame = pinning { pin =>
    val pc = pin(plantedVectors(s, d))
    Similarity.recallContractOn(Similarity.bruteTopKOn(pc),
      Similarity.lshTopKOn(pc), PlantedFloor)
  }

  /** s18: IVF recall in the clustered regime — coarse quantizer trained
    * on the planted corpus (memoized under its own key; the KMeans
    * cells recover the label clusters), probe width unchanged from s03. */
  def s18PlantedIvf(s: SparkSession, d: String): DataFrame = pinning { pin =>
    val pc = pin(plantedVectors(s, d))
    val centroids = Similarity.memoizedCentroids(s, s"$d#planted") {
      Similarity.fitCoarse(pc)
    }
    Similarity.recallContractOn(Similarity.bruteTopKOn(pc),
      Similarity.ivfTopKOn(pc, centroids), PlantedFloor)
  }

  /** Cluster-size-adaptive refine depth (see [[PlantedRefine]]): one
    * count job, exact, so the rows stay deterministic. */
  private def clusterRefine(s: SparkSession, d: String, pc: DataFrame): Int =
    math.max(PlantedRefine.toLong,
      pc.count() / labelMeans(s, d).length).toInt

  /** s19: PQ(8×32)+ADC recall in the clustered regime, refine depth =
    * one cluster (non-vacuous at every SF: 10 % of the corpus, where
    * the isotropic row's 500-row refine IS the corpus at sf0.01). */
  def s19PlantedPq(s: SparkSession, d: String): DataFrame = pinning { pin =>
    val pc = pin(plantedVectors(s, d))
    Similarity.recallContractOn(Similarity.bruteTopKOn(pc),
      Similarity.pqTopKOn(pc, Similarity.PqCodes, clusterRefine(s, d, pc)),
      PlantedFloor)
  }

  /** s20: JL-projected (64→32) recall in the clustered regime, same
    * cluster-sized refine as s19. */
  def s20PlantedJl(s: SparkSession, d: String): DataFrame = pinning { pin =>
    val pc = pin(plantedVectors(s, d))
    Similarity.recallContractOn(Similarity.bruteTopKOn(pc),
      Similarity.jlTopKOn(pc, clusterRefine(s, d, pc)), PlantedFloor)
  }

  // --- s22: the deliberately-hard boundary contract --------------------

  /** s22 mixing weight — deliberately pushed DOWN until the within/cross
    * label bands nearly touch (the r9 lesson: a contract that never
    * bites is weak evidence). Swept with RecallProbe's HARD-IVF mode:
    * α 0.35+ still measures worst-query recall 0.9–1.0 everywhere;
    * α = 0.20 is the first stable degradation point — worst-query
    * recall 0.80 / 0.80 / 0.70 at sf0.01 / sf0.1 / sf0.3 (mean
    * 0.88–0.92); below it the curve turns noisy across corpora
    * (α = 0.10 measures 0.50–0.80 worst depending on SF). */
  val HardAlpha = 0.20

  /** s22 floor, set FROM the measured degradation (within 0.1 of every
    * measured worst-query recall, equal to sf0.3's exact 0.70 — the
    * pipelines are fully deterministic per corpus: seeded KMeans, fixed
    * probe order, so the boundary value is a corpus fact, not noise).
    * The floor provably separates working from broken: PlantedSpec runs
    * the same contract with a garbage quantizer (random centroids) and
    * asserts it FAILS this floor — the harness distinguishes a working
    * index from a broken one near the boundary, which the 1.0-recall
    * tight-regime rows (s17-s20) cannot demonstrate. */
  val HardFloor = 0.7

  /** s22: IVF recall at the clustered/isotropic BOUNDARY — same
    * machinery as s18 (trained coarse quantizer, [[Similarity.NProbe]]
    * probes), judged on the α = [[HardAlpha]] corpus where the index is
    * EXPECTED to degrade, at the measured-degradation floor
    * [[HardFloor]]. s17-s20 prove the indexes work where they should
    * work; this row proves the harness would notice if they stopped. */
  def s22PlantedHardIvf(s: SparkSession, d: String): DataFrame = pinning { pin =>
    // same §7.2 reuse as plantedVectors, same round-15 persist rationale
    val hc = pin(plantedCorpus(s, d, HardAlpha)
      .select(col("vec_id"), col("embedding")))
    val centroids = Similarity.memoizedCentroids(s, s"$d#planted-hard") {
      Similarity.fitCoarse(hc)
    }
    Similarity.recallContractOn(Similarity.bruteTopKOn(hc),
      Similarity.ivfTopKOn(hc, centroids), HardFloor)
  }

  // --- d19: planted near-duplicates recovered via LSH candidates ------

  /** Every [[CopyMod]]-th ORIGINAL vector gets a true near-duplicate
    * copy (one norm-scaled component nudged by [[CopyDelta]]:
    * cos(orig, copy) ≥ 0.9987 by construction, exactly the "planted
    * pairs at cos ≥ 0.9" regime d05's scaladoc defers to LSH for). */
  val CopyMod = 4L
  val CopyIdOffset = 1000000000L
  val CopyDelta = 0.05

  /** Exact-cosine admission threshold: planted pairs sit ≥ 0.9987; the
    * tightest background pair on this corpus is ≈ 0.51 (SURVEY §8c) —
    * τ splits the bands with ≈ 0.05 margin above and ≈ 0.44 below. */
  val NearDupTau = 0.95

  /** d19 LSH geometry: MORE planes than s02's 6 — near-dup mining wants
    * precision (candidate volume ∝ Σ bucket²), and the target pairs are
    * far tighter than ANN neighbors: at cos ≥ 0.9987 (θ ≈ 2.9°) a
    * 12-plane signature collides per-table with p ≈ 0.99¹² ≈ 0.82, so
    * 16 tables miss a planted pair with p ≈ 0.18¹⁶ ≈ 10⁻¹², while a
    * near-orthogonal background pair collides in ≈ 0.5¹² ≈ 0.02 % of
    * tables — the candidate set is the planted pairs plus a sliver,
    * never the N² product (and never d05's exact block-join, whose own
    * scaladoc reserves it for thresholds below LSH's recall range). */
  val DupTables = 16
  val DupPlanes = 12

  private def dupPlanes(t: Int): Array[Array[Double]] = {
    val rnd = new Random(1042L + t)
    Array.fill(DupPlanes, Similarity.Dim)(rnd.nextGaussian())
  }

  private def dupSignature(t: Int, vecCol: Column): Column =
    (0 until DupPlanes).map { p =>
      val proj = dot(vecCol, lit(dupPlanes(t)(p)))
      shiftleft(when(proj >= 0, 1L).otherwise(0L), p)
    }.reduce(_.bitwiseOR(_))

  /** d19: near-duplicate mining with LSH candidate generation — the
    * d05 variant d05's own scaladoc defers to for corpora "with real
    * near-dup structure (planted pairs at cos ≥ 0.9)": plant
    * |corpus|/[[CopyMod]] true near-duplicate pairs onto the ORIGINAL
    * isotropic corpus (the background stays at ≤ 0.51 pair cosine, so
    * the bands are maximally separable), generate candidate pairs ONLY
    * from LSH bucket collisions (never d05's exact block product),
    * exact-rerank candidates at [[NearDupTau]], and contract that the
    * result IS the corpus's true ≥ τ pair census: every planted pair
    * recovered, and the non-planted admissions equal to the
    * brute-force background count the oracle computes exactly — zero
    * on the driver's isotropic corpora; the engineered cross-copy
    * pairs on the r8 sf0.3 stress corpus (a detector that reports
    * those is WORKING, so the contract is premise-free rather than
    * assuming a clean background).
    *
    * Scale: bucket entries carry (vec_id, t, sig) only — vectors
    * re-enter by id join (the s02 discipline); candidate volume is
    * Σ_buckets n_b², bounded by the 12-plane selectivity instead of
    * the N² pair space. The oracle rebuilds the copies and the full
    * pair census in SQL (d05's list-lambda idiom); at cos 0.9987+ vs
    * 0.52 the bands are separable and the per-pair LSH miss
    * probability is ~10⁻¹², so any count drift means the bucketer
    * broke, not noise. */
  def d19PlantedNearDup(s: SparkSession, d: String): DataFrame = pinning { pin =>
    val pc = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val copies = pc.filter(col("vec_id") % CopyMod === 0)
      // deterministic per-copy nudge dimension spreads across positions;
      // the nudge scales with the vector's own norm so the planted
      // cosine band holds whatever the corpus normalization (cosine is
      // scale-invariant, so the copy needs no renormalizing)
      .withColumn("k", pmod(col("vec_id") / CopyMod, lit(Similarity.Dim.toLong)).cast("int"))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .select((col("vec_id") + CopyIdOffset).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + when(i === col("k"), col("nrm") * lit(CopyDelta))
            .otherwise(lit(0.0))).cast("array<float>")
          .as("embedding"))
    val corpus = pc.unionByName(copies)
    val sigs = (0 until DupTables).map(t =>
      struct(lit(t).as("t"), dupSignature(t, col("embedding")).as("sig")))
    // Round 14 (guide §7.2, duplicated subtrees): the 16×12-plane
    // signature pipeline fed BOTH sides of the bucket self-join (renamed
    // projections → no ReusedExchange) and, through `found`, THREE final
    // aggregates — the 192-dot-product pass executed ~4×/run. Eagerly
    // materializing the (vec_id, t, sig) frame (≤ 24 bytes/row ×
    // corpus × 16) runs it exactly once; `found` below gets the same
    // treatment for the three aggregates reading it. Output unchanged.
    // Round 15 (VERDICT r14 item 4): both frames are corpus-/pair-scale,
    // so the materialization is persist (lineage kept, lost blocks
    // recompute at 100 TB) instead of an unreplicated localCheckpoint;
    // the one-row result below is eagerly materialized and both frames
    // explicitly unpersisted before return.
    val buckets = pin(
      corpus.select(col("vec_id"), explode(array(sigs: _*)).as("bk"))
        .select(col("vec_id"), col("bk.t").as("t"), col("bk.sig").as("sig")))
    val cand = buckets.join(
        buckets.select(col("vec_id").as("b"), col("t"), col("sig")),
        Seq("t", "sig"))
      .filter(col("vec_id") < col("b"))
      .select(col("vec_id").as("a"), col("b"))
      .dropDuplicates("a", "b")
    val ea = corpus.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val eb = corpus.select(col("vec_id").as("b"), col("embedding").as("eb"))
    // d05's round(·,4) threshold convention keeps the admission boundary
    // engine-identical (nothing sits near τ on any test corpus — planted
    // ≥ 0.9987, background ≤ 0.52 — but the convention costs nothing)
    val found = pin(cand.join(ea, "a").join(eb, "b")
      .filter(round(cosine(col("ea"), col("eb")), 4) >= NearDupTau)
      .select(col("a"), col("b")))
    val planted = pc.filter(col("vec_id") % CopyMod === 0)
      .select(col("vec_id").as("a"), (col("vec_id") + CopyIdOffset).as("b"))
    val nPlanted = planted.agg(count(lit(1)).as("n_planted"))
    val nRecovered = planted.join(found, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_recovered"))
    // non-planted admissions are NOT presumed false: the oracle counts
    // the corpus's true ≥ τ background pairs exactly (the r8 sf0.3
    // stress corpus really contains cross-copy near-dups, and a
    // detector that reports them is working, not hallucinating) — the
    // contract is found ≡ truth, premise-free at any SF
    val nBackground = found.join(planted, Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("n_background"))
    nPlanted.crossJoin(nRecovered).crossJoin(nBackground)
      .select(col("n_planted"), col("n_recovered"),
        (col("n_recovered") === col("n_planted")).as("all_recovered"),
        col("n_background"))
  }

  val queries: Map[String, Q] = Map(
    "s17_planted_lsh" -> s17PlantedLsh _,
    "s18_planted_ivf" -> s18PlantedIvf _,
    "s19_planted_pq"  -> s19PlantedPq _,
    "s20_planted_jl"  -> s20PlantedJl _,
    "s22_planted_hard" -> s22PlantedHardIvf _,
    "d19_planted_neardup" -> d19PlantedNearDup _,
  )

  val oracleSql: Map[String, String] = Map(
    "s17_planted_lsh" -> Similarity.contractOracle,
    "s18_planted_ivf" -> Similarity.contractOracle,
    "s19_planted_pq"  -> Similarity.contractOracle,
    "s20_planted_jl"  -> Similarity.contractOracle,
    "s22_planted_hard" -> Similarity.contractOracle,
    // d19: the oracle rebuilds the planted corpus (originals ∪ nudged
    // copies, d05's list-lambda arithmetic) and counts the TRUE ≥ τ
    // pair census exactly — the planted pairs plus any genuine
    // background near-dups the corpus carries (zero on the driver's
    // isotropic corpora; the engineered cross-copy pairs on the r8
    // sf0.3 stress corpus). The engine must deliver exactly that
    // census through LSH candidates: all planted recovered, and
    // n_background equal to the brute-force truth — premise-free,
    // so the row stays green on ANY corpus
    "d19_planted_neardup" -> s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      nrm AS (
        SELECT vec_id,
               sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
        FROM e),
      cp AS (
        SELECT e.vec_id + $CopyIdOffset AS vec_id,
               list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) +
                      CASE WHEN i = CAST((e.vec_id // $CopyMod) % ${Similarity.Dim} AS BIGINT) + 1
                           THEN $CopyDelta * nrm.nv ELSE 0.0 END) AS embedding
        FROM e JOIN nrm ON e.vec_id = nrm.vec_id
        WHERE e.vec_id % $CopyMod = 0),
      u AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
        FROM e
        UNION ALL SELECT vec_id, embedding FROM cp),
      p AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> a.embedding[i] * b.embedding[i]))
               / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
                * sqrt(list_sum(list_transform(b.embedding, x -> x * x)))) AS cos
        FROM u a JOIN u b ON a.vec_id < b.vec_id),
      t AS (SELECT va, vb FROM p WHERE round(cos, 4) >= $NearDupTau),
      planted AS (
        SELECT vec_id AS va, vec_id + $CopyIdOffset AS vb
        FROM e WHERE vec_id % $CopyMod = 0)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM planted) AS n_planted,
             (SELECT CAST(count(*) AS BIGINT) FROM planted) AS n_recovered,
             TRUE AS all_recovered,
             (SELECT CAST(count(*) AS BIGINT)
              FROM t LEFT JOIN planted
                ON t.va = planted.va AND t.vb = planted.vb
              WHERE planted.va IS NULL) AS n_background""",
  )
}
