package graft.similarity

import graft.Tables
import graft.functions.VectorFunctions.cosine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (north-star [N]): brute-force cosine top-k as the exactness baseline,
  * and a random-hyperplane LSH variant as the scale path.
  *
  * Scale design: brute force is O(Q·N) — fine when the query set is small
  * enough to broadcast (it is here, and usually is: queries ≪ corpus).
  * The scan side stays partitioned; each partition computes its local
  * candidates and the per-query top-k window reduces them. At 100 TB the
  * LSH variant replaces the full scan with bucket-equijoins: corpus rows
  * shuffle once on (table, bucket_signature) and only same-bucket pairs are
  * scored — candidate generation with no all-pairs product, then exact
  * re-ranking of candidates only.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** Queries = the first [[NumQueries]] vectors; neighbors exclude self. */
  val NumQueries = 5
  val TopK = 10

  /** s01: brute-force cosine top-k — the exact baseline, oracle-checked.
    * The tiny query side is broadcast; ranking is a per-query window. */
  def s01BruteForceTopK(s: SparkSession, d: String): DataFrame =
    bruteTopKOn(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))

  /** The s01 pipeline over an arbitrary (vec_id, embedding) corpus —
    * the exact baseline/denominator every recall contract is judged
    * against, shared by the real-corpus rows and the planted-corpus
    * rows ([[Planted]]). */
  private[graft] def bruteTopKOn(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s10: metadata-FILTERED retrieval — s01's exact top-k restricted to
    * candidates sharing the query's own label (attribute-matched search:
    * "nearest within my class"). The production vector-store shape where
    * a structured predicate composes with the similarity search; here the
    * predicate rides in the JOIN CONDITION, so non-matching candidates
    * are discarded at the broadcast-probe before any cosine is computed
    * — filter-then-score, never score-then-filter. At 100 TB the same
    * predicate composes with the index rows instead (IVF cells partition
    * by label just as well as by centroid); the exact filtered scan is
    * both the correctness baseline and the recall denominator for a
    * filtered-ANN variant. */
  def s10FilteredTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") === col("qlabel"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label"), round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s11 graph degree and salt width. */
  val KnnK = 3
  val KnnSalt = 4

  /** s11: exact k-NN GRAPH within label blocks — every vector's top-
    * [[KnnK]] nearest same-label neighbors (not just a query set's): the
    * substrate graph-based curation builds on (SemDeDup screening, d07-
    * style graph dedup over similarity edges, HNSW bottom-layer
    * construction). Label blocking bounds the pair space at Σ n_label²
    * instead of N² — the d13 argument — and at open-world scale the
    * label column swaps for s05's k-means cell with no other change.
    *
    * Scale shape (d13's lane geometry): the y-side replicates
    * [[KnnSalt]]× map-side so the self-join keys on (label, salt) —
    * #labels × salt lanes instead of #labels hot partitions, pinned
    * with REPARTITION_BY_NUM so AQE's size-based coalescing cannot
    * collapse the byte-tiny/CPU-dense cosine lanes. Embeddings are
    * dropped BEFORE the per-vector top-k window, so the second exchange
    * carries (ids, cos) only — vectors cross exactly one partitioning.
    * Ranking orders by (round(·,6) DESC, nb_id) — engine-stable. */
  /** The s11 graph without the output sort, reused by g11's rollup. */
  private def knnGraphEdges(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val width = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val xs = e.withColumn("sx", pmod(col("vec_id"), lit(KnnSalt)).cast("int"))
      .repartition(width, col("label"), col("sx"))
    val ys = e.select(col("vec_id").as("nb_id"),
        col("embedding").as("nb_em"), col("label"))
      .withColumn("sx", explode(lit((0 until KnnSalt).toArray)))
      .repartition(width, col("label"), col("sx"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nb_id"))
    xs.join(ys, Seq("label", "sx"))
      .filter(col("vec_id") =!= col("nb_id"))
      .withColumn("cos", round(cosine(col("embedding"), col("nb_em")), 6))
      .select(col("vec_id"), col("label"), col("nb_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
  }

  def s11KnnGraph(s: SparkSession, d: String): DataFrame =
    knnGraphEdges(s, d).orderBy(col("vec_id"), col("rank"))

  /** g11: intra-class tightness panel — per label, the distribution of
    * each vector's NEAREST same-label neighbor cosine (s11's rank-1
    * edges rolled up): the edge-level companion to g12's centroid-norm
    * coherence. A tight class (high min/mean c1) is where SemDeDup-style
    * screening bites; a loose one (mean c1 near the ambient cos) has no
    * redundancy to harvest — the read before spending a dedup pass per
    * class. The mean sums micro-scaled integers (round(c1·1e6), exact
    * and order-free) before one division, so both engines agree bitwise.
    * Cost: the s11 graph minus its output sort, plus a #labels-row
    * aggregate. */
  def g11ClassTightness(s: SparkSession, d: String): DataFrame =
    knnGraphEdges(s, d)
      .filter(col("rank") === 1)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("cos")).as("min_c1"),
        max(col("cos")).as("max_c1"),
        round(sum(round(col("cos") * 1000000).cast("long")) * lit(1.0) /
          (lit(1000000.0) * count(lit(1))), 6).as("mean_c1"))
      .orderBy(col("label"))

  /** LSH geometry: [[NumTables]] independent tables of [[NumPlanes]]
    * hyperplanes each. Seeded-deterministic plane coefficients (seed 42)
    * are generated on the driver and enter the plan as literals — a few KB,
    * broadcast with the plan itself.
    *
    * Tuned to the corpus: these embeddings are near-orthogonal (true
    * neighbors at cos ≈ 0.5, i.e. θ ≈ 60°, per-plane collision p ≈ 0.67),
    * so selectivity must come from table count, not plane count:
    * recall ≈ 1-(1-p^6)^16 ≈ 0.78 while a cos-0 pair collides in ≈ 22 % of
    * tables — a ~5× candidate reduction. Corpora with real cluster
    * structure (higher neighbor cos) support more planes and sharper
    * filtering; with no angular gap at all, the honest scale path is IVF
    * over a trained coarse quantizer instead. */
  val NumTables = 16
  val NumPlanes = 6
  val Dim = 64

  private def planes(table: Int): Array[Array[Double]] = {
    val rnd = new Random(42L + table)
    Array.fill(NumPlanes, Dim)(rnd.nextGaussian())
  }

  /** Bucket signature of `vecCol` in LSH table `t`: one bit per hyperplane
    * (sign of the projection), packed into a long. Projections use the
    * native [[graft.functions.DotProduct]] expression against the literal
    * plane — a generated primitive loop per row, not an interpreted HOF. */
  private def signature(t: Int, vecCol: org.apache.spark.sql.Column) = {
    (0 until NumPlanes).map { p =>
      val proj = graft.functions.VectorFunctions.dot(vecCol, lit(planes(t)(p)))
      shiftleft(when(proj >= 0, 1L).otherwise(0L), p)
    }.reduce(_.bitwiseOR(_))
  }

  /** s02: LSH-bucketed ANN — candidates from any-table bucket collisions,
    * exact cosine re-rank, top-k per query. Approximate by construction
    * (hash-defined) → rows-only driver check; SimilaritySpec measures
    * recall against s01. */
  def s02LshTopK(s: SparkSession, d: String): DataFrame =
    lshTopKOn(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))

  /** The s02 pipeline over an arbitrary (vec_id, embedding) corpus
    * (shared with [[Planted]]). */
  private[graft] def lshTopKOn(e: DataFrame): DataFrame = {
    val sigs = (0 until NumTables).map(t =>
      struct(lit(t).as("t"), signature(t, col("embedding")).as("sig")))
    // Bucket entries carry ONLY (vec_id, table, signature): the 16-way
    // explode must never duplicate the embedding array — at corpus scale
    // that is 16× the vector volume through every downstream exchange.
    // Vectors re-enter by joining the candidate ids back to the table,
    // which shuffles |candidates| ids, not 16×|corpus| arrays.
    val buckets = e.select(col("vec_id"),
        explode(array(sigs: _*)).as("bk"))
      .select(col("vec_id"), col("bk.t").as("t"), col("bk.sig").as("sig"))
    val qb = buckets.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("t"), col("sig"))
    val cand = buckets.join(broadcast(qb), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(e, "vec_id")                  // fetch candidate vectors
      .join(broadcast(q), "query_id")     // fetch query vectors
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF geometry: √N-ish coarse centroids, probe the closest
    * [[NProbe]] cells per query. On a corpus with real cluster structure
    * nprobe/nlist trades recall for a ~nlist/nprobe scan reduction; this
    * corpus is near-orthogonal so the honest setting probes a third of
    * the cells (the spec measures the recall actually achieved). */
  val NumCells = 24
  val NProbe = 8

  /** s03: IVF-bucketed ANN. A KMeans coarse quantizer is trained on a
    * driver-side sample (training is O(sample·k·iters), never touches the
    * full corpus; centroids ship as plan literals). Corpus rows are
    * assigned to their nearest cell (one narrow pass — at scale this
    * assignment is written once as a bucketed column, not recomputed);
    * each query probes its [[NProbe]] closest cells and exact-reranks
    * only those cells' rows. Approximate by construction → rows-only
    * driver check; the spec measures recall against s01. */
  /** Squared-distance-to-centroid structs over centroid literals — the
    * native dot keeps this one codegen'd pass per row (‖v‖² omitted:
    * constant per row, so the argmin/ordering is unaffected). Shared by
    * s03 and s09. */
  private def centroidDists(centroids: Array[Array[Double]],
                            vec: org.apache.spark.sql.Column) =
    centroids.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(c.map(x => x * x).sum) -
          graft.functions.VectorFunctions.dot(vec, lit(c)) * 2).as("d2c"),
        lit(i).as("cell"))
    }

  /** Nearest-cell id for corpus assignment. */
  private def cellOf(centroids: Array[Array[Double]],
                     vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(centroidDists(centroids, vec).toIndexedSeq: _*).getField("cell")

  /** Per-query probe list: the [[NProbe]] nearest cells. */
  private def probeCells(centroids: Array[Array[Double]],
                         vec: org.apache.spark.sql.Column,
                         n: Int = NProbe): org.apache.spark.sql.Column =
    slice(array_sort(array(centroidDists(centroids, vec).toIndexedSeq: _*)), 1, n)
      .getField("cell")

  /** The KMeans coarse quantizer shared by s03/s09: trained on a bounded
    * driver-side sample (O(sample·k·iters), never the corpus), centroids
    * returned as plain arrays that enter plans as literals.
    *
    * Trained ONCE per (session, corpus) and memoized (the Tables
    * plan-memo precedent; VERDICT r6 item 6): in production the coarse
    * quantizer is an index artifact built once and reused by every
    * query, so re-training it per query was charging index construction
    * to query latency — s03 and s09 now share one trained model, and
    * the training jobs (sample + count + 10 Lloyd iterations) disappear
    * from every run after the first. Deterministic (fixed seed, fixed
    * sample), so memoization cannot change any result. */
  private val quantMemo =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]]()
  private def coarseCentroids(s: SparkSession, d: String): Array[Array[Double]] = {
    val m = quantMemo.synchronized {
      var c = quantMemo.get(s)
      if (c == null) {
        c = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
        quantMemo.put(s, c)
      }
      c
    }
    m.computeIfAbsent(d, { _ =>
      fitCoarse(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    })
  }

  /** Memoized quantizer training under an arbitrary cache key — the
    * coarseCentroids/frozenCentroids pattern opened to [[Planted]]
    * (index artifacts are built once per (session, corpus), never per
    * query). */
  private[graft] def memoizedCentroids(s: SparkSession, key: String)(
      train: => Array[Array[Double]]): Array[Array[Double]] = {
    val m = quantMemo.synchronized {
      var c = quantMemo.get(s)
      if (c == null) {
        c = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
        quantMemo.put(s, c)
      }
      c
    }
    m.computeIfAbsent(key, _ => train)
  }

  private[graft] def fitCoarse(e: org.apache.spark.sql.DataFrame): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val trainFrac = math.min(1.0, 4000.0 / math.max(1L, e.count()).toDouble)
    val train = e.sample(withReplacement = false, trainFrac, seed = 42L)
      .select(array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(NumCells).setSeed(42L).setMaxIter(10).fit(train)
    model.clusterCenters.map(_.toArray)
  }

  /** s15's FROZEN quantizer: trained on the OLD segment only (the new
    * arrivals are unseen at training time — the real add-without-retrain
    * scenario), memoized under a distinct key so it never collides with
    * the s03/s09 whole-corpus quantizer. */
  private[graft] def frozenCentroids(s: SparkSession, d: String): Array[Array[Double]] = {
    val m = quantMemo.synchronized {
      var c = quantMemo.get(s)
      if (c == null) {
        c = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
        quantMemo.put(s, c)
      }
      c
    }
    m.computeIfAbsent(s"$d#old", { _ =>
      fitCoarse(Tables.embeddings(s, d)
        .filter(col("vec_id") % AppendMod =!= 0)
        .select(col("vec_id"), col("embedding")))
    })
  }

  /** Every [[AppendMod]]-th vector plays the late-arriving segment in
    * s15 (20 % of the corpus unseen by the frozen quantizer). */
  val AppendMod = 5

  /** s15 probes WIDER than s03 (12 of 24 cells vs 8) — the measured
    * production trade of frozen-index operation: a quantizer that never
    * saw 20 % of the corpus draws slightly-off cell boundaries, so at
    * sf0.1 one query's true neighbors fell outside the 8-cell probe set
    * (recall 0.3 < the 0.4 floor). Recovering recall by probing wider —
    * paying scan, never rebuild — is exactly what an operator without a
    * retrain window does. */
  val S15Probe = 12

  /** s15: incremental IVF maintenance — FAISS `add()` semantics: the
    * coarse quantizer is FROZEN at initial build (trained on the old
    * segment only; the appended 20 % of the corpus was unseen), new
    * vectors are assigned to their nearest frozen centroid with no
    * retrain and no reassignment of old rows, and queries probe the
    * union of segments. This is the production question for a growing
    * corpus: does recall survive indexing data the quantizer never saw?
    * The driver row is the recall contract vs the exact brute force
    * over the WHOLE corpus (floor = [[IvfRecallFloor]], the same bar
    * s03's fully-retrained index must clear); the spec pins the append
    * laws (assignment = nearest frozen centroid; union search ≡
    * one-shot assignment of the whole corpus to the frozen quantizer).
    * Scale: append touches ONLY the new segment (assignment is one
    * map-side pass against broadcast-literal centroids); the old
    * segment's cells are untouched — no O(corpus) work per ingest. */
  /** The appended index's (vec_id, embedding, cell) table — old segment
    * and late arrivals, both against the frozen quantizer (exposed for
    * the assignment-law spec). Deliberately a UNION of two filtered
    * scans, not one pass: in production the segments are distinct
    * index files written at different times, and the union is the
    * actual merged-read shape (collapsing it to one scan here would
    * optimize away the thing the operator demonstrates; the toy-SF
    * cost is one extra filtered scan on a contract row). */
  private[graft] def s15Assignments(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val centroids = frozenCentroids(s, d)
    val oldSeg = e.filter(col("vec_id") % AppendMod =!= 0)
      .withColumn("cell", cellOf(centroids, col("embedding")))
    val newSeg = e.filter(col("vec_id") % AppendMod === 0)
      .withColumn("cell", cellOf(centroids, col("embedding")))
    oldSeg.unionByName(newSeg)
  }

  def s15IvfAppendTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val centroids = frozenCentroids(s, d)
    val assigned = s15Assignments(s, d)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probeCells(centroids, col("embedding"), S15Probe)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --- s16: Johnson–Lindenstrauss dimension reduction --------------------

  /** Projected dimensionality: 64 → [[JlDim]] (2× here; the ratio is the
    * knob — production embedding dims of 1–4k reduce 32–128×). */
  val JlDim = 32

  /** Refine-depth floor: at least this many candidates re-rank exactly. */
  val JlRefineMin = 500

  /** Refine depth as a percentage of corpus size. JL's ranking noise is
    * crowding-limited — projected-cosine error is ~N(0, O(1/k)) per
    * distractor, so the number of distractors that leapfrog a true
    * neighbor grows LINEARLY with corpus size at fixed [[JlDim]] — which
    * is why the refine budget is a corpus fraction, not a constant (a
    * constant 500 cracked the sf0.3 sweep: worst-query recall 0.30).
    *
    * The fraction is LARGE here, and honestly so: 64 → 32 is only a 2×
    * reduction, and this corpus is near-orthogonal (true neighbors at
    * cos ≈ 0.5 over a bulk at ≈ 0.35), so the projection's ±1/√32
    * cosine noise is the same order as the gap it must resolve — the
    * WORST geometry for JL. Measured worst-query recall@10 on the
    * near-dup-saturated sf0.3 sweep corpus (6 000 vectors): refine 25 %
    * → 0.70, 50 % → 1.00; at sf0.1 (2 000): 25 % → 0.90; at sf0.01
    * (500): the floor is the whole corpus → 1.00. At the production
    * geometry this operator exists for (1–4k dims → 64–256, 16–64×
    * reduction, clustered corpora) the same noise argument gives
    * single-digit fractions; the knob is the corpus-geometry dial. */
  val JlRefinePct = 25

  /** Recall floor for the s16 contract. Measured at sf0.01 / sf0.1 and
    * the harder sf0.3 sweep distribution before being pinned (the s15
    * lesson: verify approximate rows beyond the driver SF); worst-query
    * recall with the adaptive refine ≥ 0.7 at all three, floored at 0.5
    * with margin for unseen distributions. */
  val JlRecallFloor = 0.5

  /** The ±1 Rademacher projection matrix ([[JlDim]] × [[Dim]]), seeded-
    * deterministic like the LSH [[planes]]: a few KB generated on the
    * driver, entering the plan as literals. Rademacher rather than
    * Gaussian because the JL guarantee holds for subgaussian signs
    * (Achlioptas 2001) and sign matrices cost no RNG state to recreate
    * exactly anywhere. */
  private def jlMatrix: Array[Array[Double]] = {
    val rnd = new Random(271828L)
    Array.fill(JlDim, Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** s16: ANN via Johnson–Lindenstrauss projection — every vector is
    * projected once to [[JlDim]] dims (map-only, native [[graft.functions.DotProduct]]
    * per output dim), the top-refine candidates per query are found
    * by projected-space cosine, and only those re-rank by exact cosine on
    * the original vectors. Completes the compression matrix the s-family
    * spans: SQ8 shrinks PRECISION (s08), PQ shrinks both (s04), IVF
    * partitions the SCAN (s03) — JL shrinks DIMENSION, the axis that
    * dominates cost when embeddings are 1–4k floats wide.
    *
    * Scale: the projection halves (here; 32–128× at production dims)
    * every byte the candidate scan touches and shuffles, and composes
    * with IVF exactly as s09 composes SQ8 — project, then cell-probe the
    * projected table. The refine join ships ≤ refine original
    * vectors per query, never the corpus. */
  def s16JlTopK(s: SparkSession, d: String, refine: Int = -1): DataFrame =
    jlTopKOn(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      refine)

  /** The s16 pipeline over an arbitrary corpus (shared with [[Planted]]). */
  private[similarity] def jlTopKOn(e: DataFrame, refine: Int = -1): DataFrame = {
    // adaptive refine: [[JlRefinePct]] % of the corpus, floored at
    // [[JlRefineMin]] (one metadata-only count job; exact, so the row
    // stays deterministic)
    val ref = if (refine > 0) refine
      else math.max(JlRefineMin.toLong, e.count() * JlRefinePct / 100).toInt
    val m = jlMatrix
    val proj = e.select(col("vec_id"),
      array((0 until JlDim).map(j =>
        graft.functions.VectorFunctions.dot(col("embedding"), lit(m(j)))): _*)
        .as("proj"))
    val qp = proj.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("proj").as("qproj"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("vec_id"))
    val cand = proj.join(broadcast(qp), col("vec_id") =!= col("query_id"))
      .withColumn("pcos", cosine(col("qproj"), col("proj")))
      .withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= ref)
      .select(col("query_id"), col("vec_id"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(e, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s16 registered form: JL-projected retrieval recall contract. */
  def s16JlRecall(s: SparkSession, d: String): DataFrame =
    recallContract(s, d, s16JlTopK(s, d), JlRecallFloor)

  def s03IvfTopK(s: SparkSession, d: String): DataFrame =
    ivfTopKOn(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      coarseCentroids(s, d))

  /** The s03 pipeline over an arbitrary corpus and coarse quantizer
    * (shared with [[Planted]]). `probe` is the nprobe serving knob —
    * cells probed per query (recall rises, scan cost ∝ probe/nlist);
    * PlantedSpec's s22 boundary test drives it to 1 to prove the
    * hard-regime floor distinguishes a well-configured index from a
    * starved one. */
  private[graft] def ivfTopKOn(e: DataFrame,
                               centroids: Array[Array[Double]],
                               probe: Int = NProbe): DataFrame = {
    val assigned = e.withColumn("cell", cellOf(centroids, col("embedding")))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probeCells(centroids, col("embedding"), probe)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s12: FILTERED ANN — s03's IVF cells composed with s10's metadata
    * predicate, the composition s10's scaladoc promises ("at 100 TB the
    * same predicate composes with the index rows instead"). The corpus is
    * assigned to coarse cells exactly as s03; each query probes its
    * [[NProbe]] nearest cells AND carries its own label, and both the
    * cell-equality and the label-equality ride in the broadcast-join
    * CONDITION — a candidate is discarded before any cosine unless it
    * sits in a probed cell and matches the filter (filter-then-score
    * inside the index scan, the FAISS `IDSelector`/vector-store
    * pre-filter shape). Scan volume is the s03 probe set; the label
    * predicate only shrinks it further.
    *
    * Failure mode this measures: filtered ANN recall degrades when the
    * filter is selective relative to the probe set (class mates outside
    * probed cells are unreachable) — exactly why the contract is judged
    * against [[s10FilteredTopK]], the exact filtered baseline and recall
    * denominator. */
  def s12FilteredIvfTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val centroids = coarseCentroids(s, d)
    val assigned = e.withColumn("cell", cellOf(centroids, col("embedding")))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlabel"),
        explode(probeCells(centroids, col("embedding"))).as("qcell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(q),
        col("cell") === col("qcell") && col("label") === col("qlabel") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label"), round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s12 recall floor vs the EXACT FILTERED baseline (s10). Probing 8 of
    * 24 cells reaches ~1/3 of each class uniformly at random on this
    * near-orthogonal corpus, but true near neighbors concentrate in the
    * query's own probed cells, so measured recall sits well above 1/3
    * (s12 spec measures it; sf0.01 worst query ≥ 0.5 observed). Floor
    * set with margin — a trip means the cell composition broke. */
  val FilteredIvfRecallFloor = 0.3

  /** s12 registered form: per query, the exact-filtered result size
    * (an oracle-computable fact: min(k, class mates)) and whether
    * recall against s10's exact filtered ranking clears the floor. */
  def s12FilteredIvfRecall(s: SparkSession, d: String): DataFrame = {
    val a = s12FilteredIvfTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val exact = s10FilteredTopK(s, d).select(col("query_id"), col("neighbor_id"))
    exact
      .join(a.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)))
          .as("recall"))
      .select(col("query_id"), col("n_exact"),
        (col("recall") >= FilteredIvfRecallFloor).as("recall_ok"))
      .orderBy(col("query_id"))
  }

  /** s13 vote geometry: 3-neighbor majority over an 80/20 labeled/holdout
    * split; salt lanes keep the exact pair join wide (s11's argument). */
  val KnnVoteK = 3
  val KnnVoteSalt = 8

  /** s13: k-NN classification — pseudo-labeling by majority vote of the
    * [[KnnVoteK]] nearest LABELED neighbors, the instance-based
    * counterpart of g13's nearest-class-mean audit (weak supervision /
    * auto-labeling: predict labels for the unlabeled 20 % from the
    * labeled 80 %, then read the confusion matrix against the held-out
    * truth before trusting the labeler). Unlike s11, the holdout side
    * cannot label-block (its label is exactly what's unknown), so the
    * exact pass is the all-pairs holdout×labeled join — kept wide and
    * BNLJ-free by keying on [[KnnVoteSalt]] salt lanes (the labeled side
    * replicates map-side; embeddings drop before the ranking window so
    * vectors cross exactly one partitioning). At 100 TB the labeled side
    * sits in s03's IVF cells instead (s12's composition) and the vote
    * runs over probed candidates — same downstream shape, recall knob
    * exposed.
    *
    * Every decision is engine-stable: ranking by (round(cos,6) DESC,
    * nb_id), vote argmax by (count DESC, label ASC). */
  def s13KnnClassify(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val width = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val hold = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("true_label"))
      .withColumn("sx", pmod(col("qid"), lit(KnnVoteSalt)).cast("int"))
      .repartition(width, col("sx"))
    val lab = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      .select(col("vec_id").as("nb_id"), col("embedding").as("nb_em"),
        col("label").as("nb_label"))
      .withColumn("sx", explode(lit((0 until KnnVoteSalt).toArray)))
      .repartition(width, col("sx"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nb_id"))
    val votes = hold.join(lab, Seq("sx"))
      .withColumn("cos", round(cosine(col("qe"), col("nb_em")), 6))
      .select(col("qid"), col("true_label"), col("nb_id"),
        col("nb_label"), col("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KnnVoteK)
      .groupBy(col("qid"), col("true_label"), col("nb_label"))
      .agg(count(lit(1)).as("c"))
    votes
      .groupBy(col("qid"), col("true_label"))
      .agg(max(struct(col("c"), (-col("nb_label")).as("nl"))).as("best"))
      .select(col("true_label"), (-col("best.nl")).as("pred_label"))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  /** s21 query-panel size — FIXED, not a corpus fraction (the d14
    * round-11 rule): a pseudo-labeling ACCURACY AUDIT runs on a bounded
    * eval panel, not the whole holdout, so the exact-vote side is
    * O(panel·N) — one corpus scan against a broadcast panel — and the
    * IVF side is O(panel·nprobe·cellsize). Both scale linearly in the
    * corpus; the full-holdout labeling pass itself is s13 (exact,
    * honestly all-pairs) or this row's IVF side sans panel filter. */
  val KnnPanelN = 200

  /** s21 agreement floor: fraction of panel queries where the IVF vote
    * equals the exact vote, judged over the WHOLE panel (per-label
    * slices of ~15-25 queries swing 0.43-0.91 run-to-SF on this
    * near-isotropic corpus — no honest per-label floor exists).
    * Measured overall at sf0.01 / sf0.1 / sf0.3: 0.83 / 0.68 / 0.77.
    * Floor at 0.5 keeps real margin under the worst measured value and
    * still bites hard: a broken cell assignment feeds the vote
    * near-random candidates, and two independent near-random votes over
    * 10 labels agree at ~0.1-0.2. */
  val IvfVoteAgreeFloor = 0.5

  /** s21: kNN-vote with the labeled side in s03's IVF cells — the
    * composition [[s13KnnClassify]]'s scaladoc promises ("at 100 TB the
    * labeled side sits in s03's IVF cells and the vote runs over probed
    * candidates"), now a first-class row. A fixed [[KnnPanelN]]-query
    * panel (smallest md5(vec_id) among the holdout — deterministic in
    * any engine) is voted twice: EXACTLY (all labeled vectors — one
    * corpus scan against the broadcast panel, the all-pairs space never
    * materializes wider than the map-side WindowGroupLimit top-k) and
    * via IVF (labeled vectors in the panel's [[NProbe]] probed cells
    * only — the production serving path). Output per true_label: panel
    * count and exact-vote accuracy (both SQL-restatable facts) plus the
    * agreement contract judged over the WHOLE panel
    * ([[IvfVoteAgreeFloor]] — the same boolean on every row).
    *
    * Every decision is engine-stable (s13's rules): ranking by
    * (round(cos,6) DESC, nb_id), vote argmax by (count DESC, label
    * ASC); a panel query with NO labeled vector in any probed cell
    * counts as a disagreement (pred_ivf null ≠ pred_exact). */
  def s21IvfKnnVote(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val centroids = coarseCentroids(s, d)
    val panel = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      .orderBy(md5(col("vec_id").cast("string")))
      .limit(KnnPanelN)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("true_label"))
    val lab = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      .select(col("vec_id").as("nb_id"), col("embedding").as("nb_em"),
        col("label").as("nb_label"))
    // shared vote pipeline over a (qid, true_label, qe, nb_id, nb_em,
    // nb_label) candidate frame; the rn<=k filter right above the
    // window plans as a Partial WindowGroupLimit, so each map partition
    // ships at most k rows per query into the qid exchange
    def voteOf(cands: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nb_id"))
      cands
        .withColumn("cos", round(cosine(col("qe"), col("nb_em")), 6))
        .select(col("qid"), col("true_label"), col("nb_id"),
          col("nb_label"), col("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= KnnVoteK)
        .groupBy(col("qid"), col("true_label"), col("nb_label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("qid"), col("true_label"))
        .agg(max(struct(col("c"), (-col("nb_label")).as("nl"))).as("best"))
        .select(col("qid"), col("true_label"), (-col("best.nl")).as("pred"))
    }
    val exact = voteOf(lab.crossJoin(broadcast(panel)))
      .withColumnRenamed("pred", "pred_exact")
    val assigned = lab.withColumn("cell", cellOf(centroids, col("nb_em")))
    val probes = panel.select(col("qid"), col("qe"), col("true_label"),
      explode(probeCells(centroids, col("qe"))).as("cell"))
    val ivf = voteOf(assigned.join(broadcast(probes), Seq("cell")))
      .select(col("qid"), col("pred").as("pred_ivf"))
    val votes = exact.join(ivf, Seq("qid"), "left")
    val overall = votes.agg(
      (sum(when(col("pred_ivf") === col("pred_exact"), 1).otherwise(0))
        .cast("double") / count(lit(1))).as("agree"))
    votes.groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred_exact") === col("true_label"), 1L).otherwise(0L))
          .as("n_exact_correct"))
      .crossJoin(broadcast(overall))
      .select(col("true_label"), col("n_queries"), col("n_exact_correct"),
        (col("agree") >= IvfVoteAgreeFloor).as("agree_ok"))
      .orderBy(col("true_label"))
  }

  /** s05 geometry: 16 corpus-organization clusters; separation contract
    * slack calibrated against the measured SSW/SST ≈ 0.89 on this corpus
    * (near-orthogonal vectors — clustering helps, but no toy-tight
    * ratio; 0.97 is a regression tripwire with real margin, not a
    * quality claim). */
  val NumClusters = 16
  val SepRatioMax = 0.97

  /** s05: embedding corpus clustering — the k-means pass a training
    * pipeline runs to organize a corpus into topic/quality buckets
    * (curriculum mixes, per-cluster sampling rates, IVF cell layouts).
    * Same scale shape as [[s03IvfTopK]]: the quantizer trains on a
    * driver-side bounded sample (O(sample·k·iters), never the corpus),
    * centroids ship as plan literals, and the full corpus is touched by
    * exactly ONE codegen'd pass — nearest-centroid assignment plus the
    * within/total scatter terms ride the same scan, combine map-side,
    * and only counts and scalar sums cross the exchange (the mixed
    * distinct/sum aggregate Expands ×2 on narrow columns; vectors never
    * shuffle). The output is the summary contract: corpus fully
    * assigned, cluster count in bounds, and k-means beating the
    * one-cluster baseline (SSW < [[SepRatioMax]]·SST̂, with SST̂ against
    * the sample mean — at scale the exact global mean is a luxury the
    * baseline model doesn't get either). */
  def s05ClusterProfile(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.stat.Summarizer
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val trainFrac = math.min(1.0, 4000.0 / math.max(1L, e.count()).toDouble)
    val train = e.sample(withReplacement = false, trainFrac, seed = 42L)
      .select(array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(NumClusters).setSeed(42L).setMaxIter(10).fit(train)
    val centroids = model.clusterCenters.map(_.toArray)
    val mu = train.select(Summarizer.mean(col("features")).as("mu"))
      .head().getAs[org.apache.spark.ml.linalg.Vector]("mu").toArray

    val dot = graft.functions.VectorFunctions.dot _
    // per-centroid (d² − ‖v‖²) structs: the row-constant ‖v‖² is added
    // back once after the argmin instead of inside all k branches
    def cDists(vec: org.apache.spark.sql.Column) =
      centroids.zipWithIndex.map { case (c, i) =>
        struct(
          (lit(c.map(x => x * x).sum) - dot(vec, lit(c)) * 2).as("m"),
          lit(i).as("cluster"))
      }
    val v = col("embedding")
    val assigned = e.select(
      least(cDists(v).toIndexedSeq: _*).as("best"),
      dot(v, v).as("vn2"),
      dot(v, lit(mu)).as("vmu"))
    assigned
      .agg(
        count(lit(1)).as("n_vectors"),
        countDistinct(col("best.cluster")).as("n_used"),
        sum(col("vn2") + col("best.m")).as("ssw"),
        sum(col("vn2") - col("vmu") * 2 + lit(mu.map(x => x * x).sum)).as("sst"))
      .select(
        col("n_vectors"),
        col("n_used").between(2, NumClusters).as("clusters_ok"),
        (col("ssw") < lit(SepRatioMax) * col("sst")).as("sep_ok"))
  }

  /** Recall floors asserted by the driver-checked contract queries —
    * regression tripwires, not quality claims. Calibrated against the
    * measured per-query recall on the fixed test corpus (worst query:
    * LSH 0.30 at sf0.01, IVF 0.60) with margin below; chance recall is
    * k/N ≈ 0.01, so a tripped floor means the bucketer broke, not noise. */
  val LshRecallFloor = 0.2
  val IvfRecallFloor = 0.4

  /** Driver-checkable contract for an approximate top-k: per query, the
    * result count (must be exactly [[TopK]] — the bucketer always yields
    * enough candidates on this corpus) and whether recall@k against the
    * exact s01 ranking clears `floor`. Hash-defined outputs can't be
    * reproduced in an independent SQL engine, but these *facts about*
    * them can — this is what turns the ANN operators from spec-only
    * coverage into a hard oracle row. */
  private def recallContract(s: SparkSession, d: String,
                             approx: DataFrame, floor: Double): DataFrame =
    recallContractOn(
      s01BruteForceTopK(s, d).select(col("query_id"), col("neighbor_id")),
      approx, floor)

  /** The contract over an arbitrary exact baseline (shared with
    * [[Planted]], whose baseline is the brute-force top-k over the
    * planted corpus). */
  private[similarity] def recallContractOn(exact: DataFrame,
                                           approx: DataFrame,
                                           floor: Double): DataFrame = {
    // Round 14 (guide §7.2, duplicated subtrees): `a` feeds BOTH the
    // recall join and the n_results aggregate — without materialization
    // the ENTIRE approx index pipeline (LSH/IVF/PQ/JL build + rerank)
    // executed twice per contract row. The frame is NumQueries×TopK ids
    // (~50 rows); one eager materialization halves every s-contract
    // row's index work. Output unchanged.
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val recall = exact
      .join(a.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / TopK).as("recall"))
    val nres = a.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
    recall.join(nres, Seq("query_id"))
      .select(col("query_id"), col("n_results"),
        (col("recall") >= floor).as("recall_ok"))
      .orderBy(col("query_id"))
  }

  /** s02 registered form: LSH top-k recall contract (runs the full s02
    * pipeline plus the s01 baseline it is judged against). */
  def s02LshRecall(s: SparkSession, d: String): DataFrame =
    recallContract(s, d, s02LshTopK(s, d), LshRecallFloor)

  /** s03 registered form: IVF top-k recall contract. */
  def s03IvfRecall(s: SparkSession, d: String): DataFrame =
    recallContract(s, d, s03IvfTopK(s, d), IvfRecallFloor)

  /** s15 registered form: appended-index recall contract — judged
    * against the exact top-k over the WHOLE corpus at s03's floor. */
  def s15IvfAppendRecall(s: SparkSession, d: String): DataFrame =
    recallContract(s, d, s15IvfAppendTopK(s, d), IvfRecallFloor)

  /** PQ geometry: [[PqSubspaces]] subvectors × [[PqCodes]] centroids each
    * (a 5-bit code per subspace). A 64-float vector (256 B) encodes to
    * 8 5-bit codes (5 B) — ~51× compression; the ADC scan touches the
    * compact code table, never the vectors. 32 codes (vs the original
    * 16) measured at sf0.1: worst-query recall 0.5 → 0.7 at refine=200
    * for the same scan shape — the finer codebook pays for itself long
    * before the refine knob does. */
  val PqSubspaces = 8
  val PqCodes = 32
  val PqSubDim: Int = Dim / PqSubspaces
  /** Exact-refine depth: ADC ranks the corpus by approximate inner
    * product, the top [[PqRefine]] candidates re-rank exactly. Sized so
    * the refine join stays trivial (≤ 500 ids/query) while covering the
    * ADC ranking noise on this near-orthogonal corpus. Measured recall
    * grid at sf0.1 (worst query / mean over 5 queries, `graft.Probe recall`):
    * 16×200 0.50/0.74, 16×500 0.80/0.86, 32×200 0.70/0.84,
    * 32×500 0.90/0.96 — shipped config is 32×500; sf0.01 is 1.00/1.00. */
  val PqRefine = 500

  /** Driver-side Lloyd's iterations for one PQ subspace codebook —
    * deterministic (seeded farthest-first-ish init: first k distinct
    * sample points), bounded by the sample size, pure Scala so the 8
    * subspace fits cost zero Spark jobs. Training a quantizer on a
    * bounded sample is the standard split at any scale: the model is
    * O(k·dim), the corpus pass that USES it is the distributed part. */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = points.head.length
    // dedup by CONTENT — Array.distinct compares references, which would
    // let duplicated sample vectors seed identical centroids and leave a
    // permanently empty cell
    val seeds = points.map(_.toSeq).distinct.take(k).map(_.toArray)
    // degenerate sample (fewer than k distinct points, plausible on tiny
    // or constant corpora): pad with copies of the last distinct centroid
    // instead of failing the run. Ties on distance resolve to the lowest
    // code (struct ordering in codeOf), so padded cells are never chosen
    // over their originals, and the ADC LUT keeps its fixed k width.
    var centroids =
      if (seeds.length == k) seeds
      else seeds ++ Array.fill(k - seeds.length)(seeds.last.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          var dist = 0.0; var i = 0
          while (i < dim) { val t = p(i) - centroids(j)(i); dist += t * t; i += 1 }
          if (dist < bestD) { bestD = dist; best = j }
          j += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k)(j =>
        if (counts(j) == 0) centroids(j) // keep an empty cell's centroid
        else sums(j).map(_ / counts(j)))
    }
    centroids
  }

  /** s04: product-quantization ANN (PQ + exact refine). Vectors are
    * L2-normalized (so inner product = cosine), split into
    * [[PqSubspaces]] subvectors, and each subvector quantized to its
    * nearest of [[PqCodes]] per-subspace centroids — codebooks trained
    * driver-side on a bounded sample ([[lloyd]]) and shipped as plan
    * literals.
    *
    * Scoring is asymmetric (ADC): each query precomputes a
    * subspace×code lookup table of exact query-to-centroid inner
    * products; a candidate's approximate cosine is the sum of 8 table
    * lookups on its codes — no vector arithmetic in the scan. The top
    * [[PqRefine]] ADC candidates then re-rank exactly against the true
    * vectors (the standard PQ + refine shape).
    *
    * At 100 TB this is the memory story LSH/IVF don't give: the scanned
    * index is 64× smaller than the vector table, and composes with
    * s03's IVF cells (scan only probed cells' code lists). Unrolled
    * element_at sums keep the ADC expression codegen'd — no HOF lambda
    * re-evaluation. */
  def s04PqTopK(s: SparkSession, d: String): DataFrame =
    s04PqTopK(s, d, PqCodes, PqRefine)

  def s04PqTopK(s: SparkSession, d: String, codes: Int, refine: Int): DataFrame =
    pqTopKOn(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      codes, refine)

  /** The s04 pipeline over an arbitrary corpus (shared with [[Planted]]). */
  private[similarity] def pqTopKOn(e: DataFrame, codes: Int, refine: Int): DataFrame = {
    // bounded driver-side sample → per-subspace codebooks
    val n = math.max(1L, e.count())
    val sample = e.sample(withReplacement = false,
        math.min(1.0, 4000.0 / n.toDouble), seed = 42L)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val sampleNormed = sample.map { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      if (nrm == 0) v else v.map(_ / nrm)
    }
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(PqSubspaces) { m =>
      lloyd(sampleNormed.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)), codes, 10)
    }

    import graft.functions.VectorFunctions.dot
    // the norm must be a materialized column BEFORE the transform lambda:
    // a lambda body re-evaluates embedded non-attribute expressions per
    // element (64 × a 64-dim dot = quadratic per row)
    val norm = sqrt(dot(col("embedding"), col("embedding")))
    def normalized(df: DataFrame): DataFrame =
      df.withColumn("nrm", norm)
        .withColumn("nemb", transform(col("embedding"), x => x / col("nrm")))
    // nearest-code id of subspace m (‖c‖² − 2·v·c ordering, ‖v‖² constant);
    // the subvector slice rides the normalized vector via dot over a
    // zero-padded literal so each term stays one codegen'd primitive loop
    def codeOf(m: Int): org.apache.spark.sql.Column = {
      val sub = slice(col("nemb"), m * PqSubDim + 1, PqSubDim)
      least(codebooks(m).zipWithIndex.map { case (c, j) =>
        struct((lit(c.map(x => x * x).sum) - dot(sub, lit(c)) * 2).as("d2c"),
          lit(j).as("code"))
      }.toIndexedSeq: _*).getField("code")
    }
    val coded = normalized(e)
      .select(col("vec_id"),
        array((0 until PqSubspaces).map(codeOf): _*).as("codes"))

    // per-query ADC lookup table: exact IP from the query's normalized
    // subvector to every subspace centroid, flattened [m*codes + j]
    val lut = array((for (m <- 0 until PqSubspaces; j <- 0 until codes) yield
      dot(slice(col("nemb"), m * PqSubDim + 1, PqSubDim),
        lit(codebooks(m)(j)))): _*)
    val q = normalized(e.filter(col("vec_id") < NumQueries))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), lut.as("lut"))

    // ADC scan over the code table: 8 lookups per candidate, unrolled
    val adc = (0 until PqSubspaces).map(m =>
      element_at(col("lut"),
        lit(m * codes + 1) + element_at(col("codes"), m + 1))).reduce(_ + _)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = coded.join(broadcast(q.select(col("query_id"), col("lut"))),
        col("vec_id") =!= col("query_id"))
      .withColumn("adc", adc)
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= refine)
      .select(col("query_id"), col("vec_id"))
    // exact refine of the ADC short-list
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(e, "vec_id")
      .join(broadcast(q.select(col("query_id"), col("qe"))), "query_id")
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s04 recall floor — calibrated like [[LshRecallFloor]]: the measured
    * worst-query recall (0.90 at sf0.1 with 32 codes × refine 500) clears
    * this by 2×, so a tripped floor means the quantizer or ADC broke, not
    * codebook-seed noise; chance is k/N ≈ 0.01. */
  val PqRecallFloor = 0.45

  /** s04 registered form: PQ top-k recall contract. */
  def s04PqRecall(s: SparkSession, d: String): DataFrame =
    recallContract(s, d, s04PqTopK(s, d), PqRecallFloor)

  /** s06 query workload: fixed two-term conjunctions over the corpus
    * vocabulary. Exactly two terms per query is load-bearing for the
    * oracle: the per-document score is a SUM of per-term contributions,
    * and two-operand double addition is commutative bit-for-bit, so
    * aggregation order can never drift the result between engines (3+
    * terms would need per-contribution rounding to stay stable). */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("table", "scan"), 2 -> Seq("query", "join"),
    3 -> Seq("stream", "window"), 4 -> Seq("fast", "merge"),
    5 -> Seq("slow", "filter"))

  /** s06: Okapi BM25 top-k full-text retrieval (Robertson et al.; the
    * Lucene ln(1+x) idf form) — the lexical-retrieval counterpart of the
    * dense ANN family: score(q,d) = Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b +
    * b·dl/avgdl)), k1=1.2, b=0.75, ranked per query with a deterministic
    * (rounded score desc, doc_id) tie-break.
    *
    * Scale shape: the posting lists are pruned MAP-SIDE to the query
    * vocabulary before the only data shuffle — the (doc_id, term) tf
    * aggregate scales with vocabulary hits, never the corpus token
    * stream. Document-frequency and corpus stats are scalar-sized
    * broadcasts; the query table broadcasts; the final top-k is a
    * per-query window over candidates only. Every arithmetic literal
    * (2.2, 1.2, 0.75, 0.25, 0.5) is written identically in both engines
    * so the doubles agree bitwise (constant-folding 1+k1 in Scala could
    * land one ulp off the SQL literal). */
  def s06Bm25TopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    bm25Scored(s, d, Tables.documents(s, d))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The s06 BM25 scorer up to (query_id, doc_id, score) — shared with
    * s23's candidate-generation stage so the lexical leg can never
    * drift between the two rows. `docs` is the retrieval universe
    * (s06: the whole corpus; s23: the embedded slice) — corpus stats
    * (n_docs, avgdl, df) are computed over the SAME universe the
    * candidates come from. */
  private def bm25Scored(s: SparkSession, d: String,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    val vocab = Bm25Queries.flatMap(_._2).distinct
    val toks = docs
      .select(col("doc_id"), graft.text.TextAnalysis.tokens(col("text")).as("toks"))
    val stats = toks
      .select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val q = Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val contrib = log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
      (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfreq), "term")
      .join(broadcast(q), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(contrib), 6).as("score"))
  }

  /** s23 stage-1 lexical pool depth (candidates handed to the dense
    * rerank) and the Rocchio pseudo-relevance depth. */
  val HybridCands = 20
  val HybridPrf = 3

  /** s23 reciprocal-rank-fusion constant (Cormack, Clarke & Büttcher,
    * SIGIR '09 — the k=60 the paper found robust and search engines
    * shipped). */
  val RrfK = 60

  /** s23: hybrid retrieval — the two-stage lexical→dense pipeline RAG
    * stacks run in production: (1) s06's BM25 scorer (shared code, the
    * leg can't drift) generates the top-[[HybridCands]] lexical
    * candidates per query; (2) the dense query vector is built by
    * Rocchio pseudo-relevance feedback — the element-wise mean of the
    * top-[[HybridPrf]] candidates' embeddings; the queries are term
    * pairs with no embedding of their own, which is exactly what PRF
    * was invented for; (3) candidates re-rank by cosine to the PRF
    * centroid; (4) the lexical and dense rankings fuse by reciprocal
    * rank fusion 1/(K+r_lex) + 1/(K+r_dense), K=[[RrfK]] — rank-space
    * fusion is scale-free, so BM25 and cosine need no score
    * normalization against each other.
    *
    * Scale shape: stage 1 scales with query-vocabulary posting hits
    * (s06's map-side prune), never the corpus token stream; the
    * rank_lex cut plans as a window group limit, so partitions ship ≤
    * [[HybridCands]] rows per query into the rank exchange; everything
    * downstream touches Q·C rows — candidate embeddings come from ONE
    * pass over the embeddings table against the broadcast candidate
    * list, and the PRF/fusion windows run over the bounded pool.
    * Determinism: PRF summation in rank order 1→2→3 with the same
    * left-assoc literals in both engines, centroid rounded to 6 dp
    * before the cosine, cosine rounded to 6 dp before ranking, ranks
    * integer, every tie-break (·desc, doc_id). The embedded slice
    * guarantees the pool fills (every query term's df is ~75 % of the
    * slice at every SF); a corpus with < [[HybridPrf]] hits for some
    * query would null its centroid, which the spec guards against. */
  def s23HybridRerank(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // Retrieval universe = the EMBEDDED slice of the corpus: a dense
    // rerank is only defined where a vector exists (at sf0.1 only 2 of
    // 5 corpus docs carry one — the partially-embedded-corpus reality),
    // and BM25's corpus stats must describe the same universe the
    // candidates come from or idf/avgdl silently describe documents the
    // second stage can never return.
    val docs = Tables.documents(s, d)
      .join(emb.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val cands = bm25Scored(s, d, docs)
      .withColumn("rank_lex", row_number().over(wLex))
      .filter(col("rank_lex") <= HybridCands)
    val ce = emb.join(broadcast(cands), "doc_id")
    val prf = ce.filter(col("rank_lex") <= HybridPrf)
      .groupBy(col("query_id"))
      .agg(
        max(when(col("rank_lex") === 1, col("embedding"))).as("v1"),
        max(when(col("rank_lex") === 2, col("embedding"))).as("v2"),
        max(when(col("rank_lex") === 3, col("embedding"))).as("v3"))
      .select(col("query_id"), expr(
        s"transform(v1, (x, i) -> round((CAST(x AS DOUBLE) " +
          s"+ CAST(v2[i] AS DOUBLE) + CAST(v3[i] AS DOUBLE)) " +
          s"/ $HybridPrf.0D, 6))").as("centroid"))
    val wDense = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_prf").desc, col("doc_id"))
    val fused = ce.join(broadcast(prf), "query_id")
      .withColumn("cos_prf", round(cosine(col("centroid"), col("embedding")), 6))
      .withColumn("rank_dense", row_number().over(wDense))
      .withColumn("rrf", round(
        lit(1.0) / (lit(RrfK) + col("rank_lex")) +
          lit(1.0) / (lit(RrfK) + col("rank_dense")), 9))
    val wFuse = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused
      .withColumn("rank", row_number().over(wFuse))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rank_lex"), col("rank_dense"), col("score").as("bm25"),
        col("cos_prf"), col("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s07 candidate-pool depth: MMR re-ranks the exact top-[[MmrCands]]
    * retrieval, so the diversity trade happens among genuinely relevant
    * vectors. */
  val MmrCands = 25

  /** s07: maximal-marginal-relevance diversified retrieval (Carbonell &
    * Goldstein '98) — greedy re-rank of the exact top-[[MmrCands]]: pick
    * argmax qcos first, then repeatedly argmax 0.7·qcos − 0.3·max_{s∈S}
    * cos(c, s) over the unpicked pool. The dedup-adjacent retrieval
    * recipe: a near-dup of an already-returned result scores its
    * redundancy penalty and drops down the list (eval-set construction,
    * RAG context packing).
    *
    * MMR is inherently sequential in k, but the per-query pool is a
    * FIXED-SIZE frame (Q·[[MmrCands]] rows), so the whole greedy runs as
    * one higher-order `aggregate` fold over each query's collected pool
    * — state = (remaining candidates with running penalty, selected so
    * far), one pick + penalty update per fold step. One distributed pass
    * (scan → broadcast retrieve → top-[[MmrCands]] window → per-query
    * fold) replaces the former [[TopK]] localCheckpoint'd DataFrame
    * rounds that cost ~80 scheduler jobs for bounded work; the expensive
    * part (retrieval) still happens exactly once and stays partitioned.
    * Every ranking decision orders by (round(·,6), vec_id) — the pool is
    * array_sort'ed by vec_id and the fold's argmax is strictly-greater,
    * so ties keep the smallest vec_id — and scores combine ROUNDED
    * inputs with identical literals (0.7/0.3) in both engines, so the
    * greedy path — and therefore the whole output — is engine-stable;
    * the oracle restates the recursion as a recursive CTE. */
  def s07MmrTopK(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("vec_id"))
    val cands = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("qcos", round(cosine(col("qe"), col("embedding")), 6))
      .withColumn("rn", row_number().over(wC))
      .filter(col("rn") <= MmrCands)
      .select(col("query_id"), col("vec_id"), col("qcos"), col("embedding"))
    // One pool row per query, candidates sorted by vec_id for a
    // deterministic fold order (collect_list order is not guaranteed).
    val pool = cands.groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(
        col("vec_id"), col("qcos"), col("embedding")))).as("pool"))
    val initRem = transform(col("pool"), c => struct(
      c.getField("vec_id").as("vec_id"),
      c.getField("qcos").as("qcos"),
      c.getField("embedding").as("embedding"),
      // cosine's lower bound, NOT 0.0: the running greatest() must
      // preserve an all-negative max-sim penalty (greatest(0, pcos)
      // would clamp it and flip later argmaxes)
      lit(-1.0).as("penalty")))
    // Empty selection with the right element type: transform over an
    // empty slice types the array without a cast-from-DDL string.
    val initSel = transform(slice(col("pool"), 1, 0), c => struct(
      lit(1).as("rank"), c.getField("vec_id").as("neighbor_id"),
      lit(0.0).as("score")))
    val mmr = aggregate(
      sequence(lit(1), lit(TopK)),
      struct(initRem.as("rem"), initSel.as("sel")),
      (st, _) => {
        val rem = st.getField("rem")
        val sel = st.getField("sel")
        // score each remaining candidate: step 1 is pure relevance,
        // later steps trade relevance against the running max-sim
        // penalty to the already-selected set
        val scored = transform(rem, c => struct(
          c.getField("vec_id").as("vec_id"),
          c.getField("qcos").as("qcos"),
          c.getField("embedding").as("embedding"),
          c.getField("penalty").as("penalty"),
          when(size(sel) === 0, c.getField("qcos"))
            .otherwise(lit(0.7) * c.getField("qcos") -
              lit(0.3) * c.getField("penalty")).as("score")))
        // strict-greater argmax over a vec_id-sorted array = score DESC,
        // vec_id ASC — the oracle's row_number() ordering exactly
        val best = aggregate(scored, element_at(scored, 1),
          (b, c) => when(c.getField("score") > b.getField("score"), c)
            .otherwise(b))
        val newSel = concat(sel, array(struct(
          (size(sel) + 1).as("rank"),
          best.getField("vec_id").as("neighbor_id"),
          round(best.getField("score"), 6).as("score"))))
        val newRem = transform(
          filter(scored, c => c.getField("vec_id") =!= best.getField("vec_id")),
          c => struct(
            c.getField("vec_id").as("vec_id"),
            c.getField("qcos").as("qcos"),
            c.getField("embedding").as("embedding"),
            greatest(c.getField("penalty"),
              round(cosine(c.getField("embedding"),
                best.getField("embedding")), 6)).as("penalty")))
        when(size(rem) === 0, st)
          .otherwise(struct(newRem.as("rem"), newSel.as("sel")))
      }).getField("sel")
    pool.select(col("query_id"), explode(mmr).as("r"))
      .select(col("query_id"), col("r.rank").as("rank"),
        col("r.neighbor_id").as("neighbor_id"), col("r.score").as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s08 refine depth: exact re-rank of the SQ8 short-list (5× TopK —
    * SQ8's per-dim error is tiny, so a shallow refine recovers the exact
    * ranking; contrast s04's 500, which pays for 51× compression). */
  val SqRefine = 50

  /** s08: scalar-quantization (SQ8) ANN — each dimension linear-mapped to
    * an 8-bit code against per-dimension corpus min/max, approximate
    * cosine scored on the DEQUANTIZED codes, exact refine of the top
    * [[SqRefine]]. The simplest compressed-index family (FAISS's
    * ScalarQuantizer, Lucene/HNSW int8): 4× smaller than float32 with
    * no codebook training at all — the baseline to justify s04's PQ
    * (51×, needs training) against.
    *
    * Unlike s02-s04 (hash/seed-defined → recall-contract oracles), SQ8
    * is a pure FUNCTION of the corpus: min/max are exact aggregates and
    * the encode arithmetic is deterministic, so the full pipeline —
    * codes, ADC ranking, refine — is restated verbatim in DuckDB and
    * checked row-for-row (d13's exact-oracle approach). Every ranking
    * decision orders by (round(·,6), vec_id) so no float ulp can flip
    * an order between engines.
    *
    * Scale shape: the stats pass is ONE 64-key aggregate (posexplode
    * fans out map-side; partial min/max reduces each partition to #dims
    * rows before the exchange) broadcast back as two arrays; encode and
    * ADC are per-row array algebra on the scan (no shuffle); the only
    * data exchanges are the per-query top-[[SqRefine]] window over
    * (query_id, vec_id, adc) triples and the id-keyed refine join —
    * vectors themselves never shuffle. */
  /** Per-dimension corpus min/max for SQ8, folded into two aligned
    * arrays on ONE row (broadcast candidate). Shared by s08/s09. */
  private def sqStats(e: DataFrame): DataFrame =
    e.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("mn"),
           max(col("x").cast("double")).as("mx"))
      .agg(sort_array(collect_list(struct(col("i"), col("mn")))).as("amn"),
           sort_array(collect_list(struct(col("i"), col("mx")))).as("amx"))
      .select(transform(col("amn"), p => p.getField("mn")).as("mn"),
              transform(col("amx"), p => p.getField("mx")).as("mx"))

  /** SQ8 encode + dequantize over a frame carrying (embedding, mn, mx):
    * c_i = round((x_i - mn_i) * 255 / span_i); degenerate dims (span 0)
    * code to 0; x̂_i = mn_i + c_i/255·span_i. The association order of
    * every operation matches the oracle SQL text so the doubles agree
    * bitwise. Shared by s08/s09. */
  private def sqDequant(df: DataFrame): DataFrame = df
    .withColumn("span", zip_with(col("mx"), col("mn"), (a, b) => a - b))
    .withColumn("shift", zip_with(transform(col("embedding"), x => x.cast("double")),
      col("mn"), (x, m) => x - m))
    .withColumn("codes", zip_with(col("shift"), col("span"),
      (y, sp) => when(sp === 0d, 0L).otherwise(round(y * 255 / sp).cast("long"))))
    .withColumn("part", zip_with(col("codes"), col("span"),
      (c, sp) => c.cast("double") / 255.0 * sp))
    .withColumn("xhat", zip_with(col("mn"), col("part"), (m, p) => m + p))

  def s08SqTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val stats = sqStats(e)
    import graft.functions.VectorFunctions.cosine
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        transform(col("embedding"), x => x.cast("double")).as("qd"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = sqDequant(e.crossJoin(broadcast(stats)))
      .join(broadcast(q.select(col("query_id"), col("qd"))),
        col("vec_id") =!= col("query_id"))
      .withColumn("adc", round(cosine(col("qd"), col("xhat")), 6))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= SqRefine)
      .select(col("query_id"), col("vec_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    // refine joins broadcast the TINY candidate list (Q·SqRefine ids)
    // into the vector scan — full embeddings never cross an exchange
    e.join(broadcast(cand), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("qe"))), "query_id")
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s09 recall floor — IVF probe loss dominates (s03's geometry); SQ8
    * quantization error is recovered by the exact refine, so the floor
    * matches s03's. The spec measures the recall actually achieved. */
  val IvfSqRecallFloor = 0.4

  /** s09: IVF + SQ8 composed index — the production FAISS shape
    * (IndexIVFScalarQuantizer): the coarse quantizer prunes WHICH rows
    * are scanned (s03's cells, nprobe/nlist of the corpus) and SQ8
    * shrinks WHAT is scanned (s08's codes, 4× vs float32), composing the
    * two orthogonal scale levers; ADC-ranked candidates get the exact
    * refine. At 100 TB: the scan touches nprobe/nlist of a 4×-compressed
    * code table — ~24× less I/O than brute force here, with the
    * cell-assignment written once as a bucketed column.
    *
    * Seed-defined via the KMeans quantizer → recall-contract row like
    * s02-s04 (the SQ8 half alone is exactly-oracled by s08). */
  def s09IvfSqTopK(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val centroids = coarseCentroids(s, d)
    val coded = sqDequant(e.crossJoin(broadcast(sqStats(e))))
      .withColumn("cell", cellOf(centroids, col("embedding")))
      .select(col("vec_id"), col("cell"), col("xhat"))
    val qBase = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        transform(col("embedding"), x => x.cast("double")).as("qd"))
    val probes = qBase.select(col("query_id"), col("qd"),
      explode(probeCells(centroids, col("qe"))).as("cell"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = coded.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", round(cosine(col("qd"), col("xhat")), 6))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= SqRefine)
      .select(col("query_id"), col("vec_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(cand), "vec_id")
      .join(broadcast(qBase.select(col("query_id"), col("qe"))), "query_id")
      .withColumn("cos", cosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s09 registered form: IVF-SQ8 top-k recall contract. */
  def s09IvfSqRecall(s: SparkSession, d: String): DataFrame =
    recallContract(s, d, s09IvfSqTopK(s, d), IvfSqRecallFloor)

  /** g12: per-label embedding centroid panel — the class-geometry
    * diagnostic read before trusting labels for SemDeDup-style
    * partitioning or stratified sampling: per label, the vector count,
    * the NORM OF THE MEAN vector (≈0 ⇔ the label has no angular
    * coherence; near the mean norm ⇔ tightly clustered) and the MEAN OF
    * THE NORMS (the scale baseline that ratio is read against).
    *
    * Scale shape: the centroid sums reduce to (label, dim) cells —
    * #labels·64 rows regardless of corpus size, map-side partials ahead
    * of the one narrow exchange; the norm side is a per-row codegen'd
    * dot on the scan feeding a per-label average. Full vectors never
    * shuffle. */
  def g12LabelCentroids(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val e = Tables.embeddings(s, d).select(col("label"), col("embedding"))
    val cells = e.select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("x").cast("double")).as("sx"))
    val per = e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(sqrt(dot(col("embedding"), col("embedding")))), 6)
          .as("mean_norm"))
    cells.join(per, "label")
      .groupBy(col("label"), col("n_vecs"), col("mean_norm"))
      .agg(round(sqrt(sum((col("sx") / col("n_vecs")) * (col("sx") / col("n_vecs")))), 6)
        .as("centroid_norm"))
      .select(col("label"), col("n_vecs"), col("centroid_norm"), col("mean_norm"))
      .orderBy(col("label"))
  }

  /** g37 shift-decision threshold on the BIAS-CORRECTED statistic, in
    * the integer micro² units the row computes in: 0.05 ⇔ 5×10¹⁰. */
  val MmdShiftMinU12 = 50000000000L

  /** g37: embedding-space source drift — the linear-kernel MMD² between
    * every pair of sources: MMD²_lin(a,b) = ‖μ_a − μ_b‖², the two-sample
    * distance over mean embeddings (the linear member of Gretton et
    * al.'s MMD family). g03 watches drift over CATEGORICAL event
    * distributions; this is its semantic-space counterpart over the
    * documents-with-vectors slice — the check a data board runs before
    * trusting p13's mixture weights. The raw plug-in statistic is
    * BIASED upward by tr(Σ_a)/n_a + tr(Σ_b)/n_b (E‖x̄−ȳ‖² under H₀ —
    * measured here: 187/190 pairs cross a 0.05 floor at sf0.001's 25
    * vectors per source, 0/190 at sf0.1, same iid corpus), so the row
    * reports BOTH the raw mmd2 and the bias-corrected mmd2_adj with
    * tr(Σ_s)/n_s = (mean‖x‖² − ‖μ_s‖²)/n_s, and the decision rides the
    * corrected statistic — which correctly never fires on this iid
    * corpus at ANY sample size. All cross-dimension arithmetic is
    * integer (g34's discipline on the μ cells and the mean-squared-norm:
    * the only FP steps are two per-source means and their one rounding
    * each; envelope 64·(4×10⁶)² ≈ 10¹⁵ ≪ 2⁶³). Scale shape: one
    * (source, dim) cell aggregate over the embedded slice (shuffle key
    * cardinality |S|·d, partial map-side) plus one per-source norm
    * aggregate; everything downstream runs on the |S|·d cell frame and
    * the |S|²/2-row pair rollup. */
  def g37SourceMmd(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val src = Tables.documents(s, d)
      .select(col("doc_id").as("vec_id"), col("source"))
    val withSrc = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .join(src, "vec_id")
    val cells = withSrc
      .select(col("source"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("source"), col("i"))
      .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .select(col("source"), col("i"),
        round(col("sx") / col("n") * 1000000L).cast("long").as("mu_u"))
    // per-source: n, mean‖x‖² in micro (q2_u), ‖μ‖² in micro² — the
    // tr(Σ)/n correction is then exact integer division on positives
    // (mean‖x‖² ≥ ‖μ‖² by Jensen; quantization slack ≪ the gap here)
    val musq = cells.groupBy(col("source"))
      .agg(sum(col("mu_u") * col("mu_u")).as("musq_u12"))
    val stats = withSrc.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        round(avg(dot(col("embedding"), col("embedding"))) * 1000000L)
          .cast("long").as("q2_u"))
      .join(musq, "source")
      .select(col("source"), col("n"),
        expr("(q2_u * 1000000 - musq_u12) div n").as("corr_u12"))
    val pairs = cells.select(col("source").as("src_a"), col("i"),
        col("mu_u").as("mu_a"))
      .join(cells.select(col("source").as("src_b"), col("i"),
        col("mu_u").as("mu_b")), Seq("i"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum((col("mu_a") - col("mu_b")) * (col("mu_a") - col("mu_b")))
        .as("mmd2_u12"))
    pairs
      .join(broadcast(stats.select(col("source").as("src_a"),
        col("n").as("n_a"), col("corr_u12").as("corr_a"))), "src_a")
      .join(broadcast(stats.select(col("source").as("src_b"),
        col("n").as("n_b"), col("corr_u12").as("corr_b"))), "src_b")
      .withColumn("adj_u12",
        col("mmd2_u12") - col("corr_a") - col("corr_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("mmd2_u12"),
        round(col("mmd2_u12") / 1e12, 6).as("mmd2"),
        col("adj_u12"),
        round(col("adj_u12") / 1e12, 6).as("mmd2_adj"),
        (col("adj_u12") > MmdShiftMinU12).as("is_shifted"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** g34 quantization scale: embedding components land as
    * round(x·10³) BIGINTs, so every downstream sum is exact integer
    * arithmetic in both engines. 10³ (not 10⁶) because the second-moment
    * path squares per-position totals: |T_a| ≤ n·10³, and Σ_a T_a² must
    * stay inside BIGINT — at 10³ that holds to n ≈ 3×10⁵ vectors per
    * label; past that, shard the position sums by vec_id bucket (p32's
    * decomposition) before squaring, or widen to the decimal
    * accumulator. */
  val PairQuant = 1000L

  /** g34 validity bound, ENFORCED (ADVICE r9): past ~3×10⁵ vectors per
    * label (or components past 2× unit scale) the squared position
    * totals leave BIGINT — where Spark's non-ANSI sum wraps silently
    * while the DuckDB oracle CASTs down from HUGEINT, surfacing as a
    * confusing hash mismatch. The in-query assert turns that into a
    * loud failure on the Spark side instead. */
  val GramMaxVecsPerLabel = 300000L

  /** g34: ALL-PAIRS cosine moments per label WITHOUT the N² self-join —
    * the Gram identity Σ_{i≠j}⟨xᵢ,xⱼ⟩ = ‖Σᵢxᵢ‖² − Σᵢ‖xᵢ‖² turns the
    * quadratic pair statistic into one linear scan: per (label,
    * position) totals T_a and per-label Σ‖q‖², then
    * num = Σ_a T_a² − Σ‖q‖² over exactly n(n−1) ordered pairs. The
    * class-coherence read BEFORE spending a SemDeDup/dedup pass per
    * class (g11's nearest-neighbor panel says the local structure; this
    * says the GLOBAL mean affinity — on this corpus' isotropic geometry
    * mean pair cos ≈ intra-label signal vs ~0 ambient), and the honest
    * alternative to a pairwise sample: exact, deterministic, O(N·d).
    *
    * Exactness: components quantize to [[PairQuant]] BIGINTs first, so
    * T_a, Σ‖q‖², and the numerator are exact integers in both engines
    * (the statistic is DEFINED over the quantized vectors — stated;
    * at 10³ the quantized mean tracks the true mean cosine within
    * ~10⁻⁴, ample for a coherence audit). The numerator can be
    * negative, so it ships as an exact (num, n_pairs) pair — the a07
    * numerator/denominator idiom, never integer-divided (Spark `div`
    * truncates where DuckDB `//` floors on negatives) — and the
    * readable micro-scaled mean evaluates through one shared
    * double expression on identical BIGINTs.
    *
    * Scale: posexplode fans each vector into d rows that partial-
    * aggregate map-side to #labels×d keys (t24's fixed-key argument) —
    * ONE scan, one bounded shuffle; everything downstream is
    * label-bounded. The N² pair space is never materialized. */
  def g34PairMoments(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("label"),
      expr(s"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $PairQuant) AS BIGINT))")
        .as("q"))
    e.select(col("label"), posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("t"), sum(col("x") * col("x")).as("s2"),
        count(lit(1)).as("c"), max(abs(col("x"))).as("mx"))
      .groupBy(col("label"))
      .agg(sum(col("t") * col("t")).as("sum_t2"), sum(col("s2")).as("ss"),
        max(col("c")).as("n_vecs"), max(col("mx")).as("mx"),
        max(abs(col("t"))).as("mt"), count(lit(1)).as("dim"))
      // the documented bound fails loudly instead of wrapping: a filter
      // (not a dropped column) so the optimizer cannot prune the assert;
      // it evaluates on the #labels-bounded frame, costing nothing.
      // Two layers: the n_vecs/mx pair keeps each position total t
      // itself inside BIGINT (|t| <= n*mx ~ 6e11), and the DIRECT bound
      // dim * max|t|^2 <= ~0.98 * Long.Max keeps sum(t*t) from wrapping
      // (the n_vecs/mx pair alone under-constrains it: 64 positions at
      // the individually-passing extremes reach 2.3e19 > 9.2e18). max|t|
      // can square past BIGINT, so the comparison runs in double with a
      // 2% headroom for the 53-bit mantissa.
      .filter(assert_true(
        col("n_vecs") <= lit(GramMaxVecsPerLabel) &&
          col("mx") <= lit(2L * PairQuant) &&
          col("mt").cast("double") <=
            sqrt(lit(Long.MaxValue.toDouble * 0.98) / col("dim").cast("double")),
        lit(s"g34: per-label count > $GramMaxVecsPerLabel, |component| > " +
          "2x unit scale, or dim * max|position total|^2 leaves BIGINT - " +
          "shard the position sums by vec_id bucket (p32) before squaring"))
        .isNull)
      .selectExpr("label", "n_vecs",
        "sum_t2 - ss AS pair_dot_num",
        "n_vecs * (n_vecs - 1) AS n_pairs",
        s"CASE WHEN n_vecs < 2 THEN CAST(0 AS BIGINT) ELSE " +
          s"CAST(round(CAST(sum_t2 - ss AS DOUBLE) / " +
          s"(CAST(n_vecs * (n_vecs - 1) AS DOUBLE) * " +
          s"CAST(${PairQuant * PairQuant} AS DOUBLE)) * " +
          s"CAST(1000000 AS DOUBLE)) AS BIGINT) END AS mean_cos_micros")
      .orderBy(col("label"))
  }

  val queries: Map[String, Q] = Map(
    "s01_topk_bruteforce" -> s01BruteForceTopK _,
    "s02_topk_lsh"        -> s02LshRecall _,
    "s03_topk_ivf"        -> s03IvfRecall _,
    "s04_topk_pq"         -> s04PqRecall _,
    "s05_cluster_profile" -> s05ClusterProfile _,
    "s06_bm25_topk"       -> s06Bm25TopK _,
    "s07_mmr_topk"        -> s07MmrTopK _,
    "s08_sq_topk"         -> s08SqTopK _,
    "s09_topk_ivfsq"      -> s09IvfSqRecall _,
    "s10_filtered_topk"   -> s10FilteredTopK _,
    "s11_knn_graph"       -> s11KnnGraph _,
    "s12_filtered_ivf"    -> s12FilteredIvfRecall _,
    "s13_knn_classify"    -> s13KnnClassify _,
    "s15_ivf_append"      -> s15IvfAppendRecall _,
    "s16_jl_project"      -> s16JlRecall _,
    "s21_ivf_vote"        -> s21IvfKnnVote _,
    "s23_hybrid_rerank"   -> s23HybridRerank _,
    "g11_class_tightness" -> g11ClassTightness _,
    "g12_label_centroids" -> g12LabelCentroids _,
    "g34_pair_moments"    -> g34PairMoments _,
    "g37_source_mmd"      -> g37SourceMmd _,
  )

  /** The recall-contract oracle: every query id must come back with a full
    * top-k and a cleared recall floor — facts DuckDB can state from the
    * embeddings table alone. */
  private[similarity] def contractOracle: String = s"""
      SELECT vec_id AS query_id, CAST($TopK AS BIGINT) AS n_results,
             TRUE AS recall_ok
      FROM embeddings WHERE vec_id < $NumQueries
      ORDER BY query_id"""

  val oracleSql: Map[String, String] = Map(
    // s21: the panel census and the EXACT vote's per-label accuracy are
    // plain SQL over the embeddings table (fixed md5-gated panel, so the
    // oracle is O(panel x corpus), linear in SF); the IVF-vote agreement
    // is the engine-side contract boolean
    "s21_ivf_vote" -> s"""
      WITH pool AS (SELECT vec_id, embedding, label FROM embeddings),
      panel AS (
        SELECT vec_id AS qid, embedding AS qe, label AS true_label
        FROM pool WHERE vec_id % 5 = 0
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $KnnPanelN),
      l AS (SELECT vec_id AS nb_id, embedding AS nb_em, label AS nb_label
            FROM pool WHERE vec_id % 5 <> 0),
      p AS (
        SELECT panel.qid, panel.true_label, l.nb_id, l.nb_label,
               round(list_sum(list_transform(range(1, len(panel.qe) + 1),
                 i -> CAST(panel.qe[i] AS DOUBLE) * CAST(l.nb_em[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(panel.qe,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(l.nb_em,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
        FROM panel CROSS JOIN l),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, nb_id) AS rn
        FROM p),
      v AS (
        SELECT qid, true_label, nb_label, count(*) AS c
        FROM r WHERE rn <= $KnnVoteK
        GROUP BY qid, true_label, nb_label),
      pr AS (
        SELECT qid, true_label, nb_label AS pred,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY c DESC, nb_label) AS vr
        FROM v)
      SELECT true_label, count(*) AS n_queries,
             CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_exact_correct,
             TRUE AS agree_ok
      FROM pr WHERE vr = 1
      GROUP BY true_label
      ORDER BY true_label""",
    "s02_topk_lsh" -> contractOracle,
    "s03_topk_ivf" -> contractOracle,
    "s04_topk_pq"  -> contractOracle,
    "s09_topk_ivfsq" -> contractOracle,
    "s15_ivf_append" -> contractOracle,
    "s16_jl_project" -> contractOracle,
    // s12: the exact-filtered result size per query IS oracle-computable
    // (min(k, same-label mates)); recall_ok is the engine-side contract
    "s12_filtered_ivf" -> s"""
      WITH q AS (SELECT vec_id AS query_id, label FROM embeddings
                 WHERE vec_id < $NumQueries)
      SELECT q.query_id,
             LEAST(CAST($TopK AS BIGINT), count(*)) AS n_exact,
             TRUE AS recall_ok
      FROM embeddings e JOIN q ON e.label = q.label AND e.vec_id <> q.query_id
      GROUP BY q.query_id
      ORDER BY q.query_id""",
    // summary-contract form: DuckDB states the corpus size; the cluster
    // bound and SSW/SST separation are facts only the engine can compute,
    // asserted as booleans it must deliver TRUE
    "s05_cluster_profile" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_vectors,
             TRUE AS clusters_ok, TRUE AS sep_ok
      FROM embeddings""",
    "s01_topk_bruteforce" -> s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < $NumQueries),
      scored AS (
        SELECT q.query_id, e.vec_id,
               list_sum(list_transform(range(1, len(q.qe) + 1),
                 i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qe,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rank, cos
        FROM scored)
      SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= $TopK
      ORDER BY query_id, rank""",
    // s10: s01 with the label-equality predicate in the join — the
    // filter applies before any cosine on both engines
    "s10_filtered_topk" -> s"""
      WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
            FROM e WHERE vec_id < $NumQueries),
      scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               list_sum(list_transform(range(1, len(q.qe) + 1),
                 i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qe,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM e JOIN q ON e.vec_id <> q.query_id AND e.label = q.qlabel),
      ranked AS (
        SELECT query_id, vec_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rank, cos
        FROM scored)
      SELECT query_id, vec_id AS neighbor_id, label, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= $TopK
      ORDER BY query_id, rank""",
    // s13: the all-pairs holdout×labeled vote restated; rounded-cos
    // ranking and (count DESC, label ASC) argmax key every decision in
    // both engines
    "s13_knn_classify" -> s"""
      WITH h AS (
        SELECT vec_id AS qid, embedding AS qe, label AS true_label
        FROM embeddings WHERE vec_id % 5 = 0),
      l AS (
        SELECT vec_id AS nb_id, embedding AS nb_em, label AS nb_label
        FROM embeddings WHERE vec_id % 5 <> 0),
      p AS (
        SELECT h.qid, h.true_label, l.nb_id, l.nb_label,
               round(list_sum(list_transform(range(1, len(h.qe) + 1),
                 i -> CAST(h.qe[i] AS DOUBLE) * CAST(l.nb_em[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(h.qe,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(l.nb_em,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
        FROM h CROSS JOIN l),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, nb_id) AS rn
        FROM p),
      v AS (
        SELECT qid, true_label, nb_label, count(*) AS c
        FROM r WHERE rn <= $KnnVoteK
        GROUP BY qid, true_label, nb_label),
      pr AS (
        SELECT qid, true_label, nb_label AS pred_label,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY c DESC, nb_label) AS vr
        FROM v)
      SELECT true_label, pred_label, count(*) AS n_vecs
      FROM pr WHERE vr = 1
      GROUP BY true_label, pred_label
      ORDER BY true_label, pred_label""",
    // s11: the label-blocked self-join + per-vector top-k restated; the
    // same rounded-cos ranking keys every decision
    "s11_knn_graph" -> s"""
      WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      p AS (
        SELECT a.vec_id, a.label, b.vec_id AS nb_id,
               round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, nb_id) AS rank
        FROM p)
      SELECT vec_id, label, nb_id, cos, rank
      FROM r WHERE rank <= $KnnK
      ORDER BY vec_id, rank""",
    // g11: s11's rank-1 edges rolled up per label; the mean sums
    // micro-scaled integers so both engines agree bitwise
    "g11_class_tightness" -> s"""
      WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      p AS (
        SELECT a.vec_id, a.label, b.vec_id AS nb_id,
               round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, nb_id) AS rank
        FROM p)
      SELECT label, count(*) AS n_vecs,
             min(cos) AS min_c1, max(cos) AS max_c1,
             round(sum(CAST(round(cos * 1000000) AS BIGINT)) * 1.0 /
                   (1000000.0 * count(*)), 6) AS mean_c1
      FROM r WHERE rank = 1
      GROUP BY label ORDER BY label""",
    // s06: the BM25 arithmetic restated with the SAME literals and the
    // SAME association order (left-assoc * /) — two-term queries make the
    // contribution sum order-independent, so round(·,6) agrees bitwise.
    "s06_bm25_topk" -> s"""
      WITH t AS (
        SELECT doc_id, ${graft.text.TextAnalysis.ToksSql} AS toks
        FROM documents),
      d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
      s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        WHERE term IN (${Bm25Queries.flatMap(_._2).distinct
          .map(t => s"'$t'").mkString(", ")})
        GROUP BY doc_id, dl, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      q(query_id, term) AS (VALUES ${Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")}),
      c AS (
        SELECT q.query_id, tf.doc_id,
               ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS contrib
        FROM tf JOIN df USING (term) JOIN q ON q.term = tf.term
        CROSS JOIN s),
      sc AS (
        SELECT query_id, doc_id, round(sum(contrib), 6) AS score
        FROM c GROUP BY query_id, doc_id),
      r AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM sc)
      SELECT query_id, rank, doc_id, score
      FROM r WHERE rank <= $TopK
      ORDER BY query_id, rank""",
    // s23: the full two-stage pipeline restated — s06's BM25 CTEs (same
    // literals/association), the rank-1/2/3 PRF centroid summed in rank
    // order and rounded 6 dp, the s01-form cosine rounded 6 dp before
    // the dense rank, and the RRF sum over integer ranks (two-operand
    // double addition — bitwise stable) rounded 9 dp before the fused
    // rank; every window tie-breaks on doc_id.
    "s23_hybrid_rerank" -> s"""
      WITH t AS (
        SELECT doc_id, ${graft.text.TextAnalysis.ToksSql} AS toks
        FROM documents
        WHERE doc_id IN (SELECT vec_id FROM embeddings)),
      d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
      s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        WHERE term IN (${Bm25Queries.flatMap(_._2).distinct
          .map(t => s"'$t'").mkString(", ")})
        GROUP BY doc_id, dl, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      q(query_id, term) AS (VALUES ${Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")}),
      c AS (
        SELECT q.query_id, tf.doc_id,
               ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS contrib
        FROM tf JOIN df USING (term) JOIN q ON q.term = tf.term
        CROSS JOIN s),
      sc AS (
        SELECT query_id, doc_id, round(sum(contrib), 6) AS score
        FROM c GROUP BY query_id, doc_id),
      cand AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank_lex
        FROM sc QUALIFY rank_lex <= $HybridCands),
      ce AS (
        SELECT cand.query_id, cand.doc_id, cand.score, cand.rank_lex,
               e.embedding
        FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id),
      p1 AS (SELECT query_id, embedding AS v FROM ce WHERE rank_lex = 1),
      p2 AS (SELECT query_id, embedding AS v FROM ce WHERE rank_lex = 2),
      p3 AS (SELECT query_id, embedding AS v FROM ce WHERE rank_lex = 3),
      prf AS (
        SELECT p1.query_id,
               list_transform(range(1, len(p1.v) + 1), i -> round(
                 (CAST(p1.v[i] AS DOUBLE) + CAST(p2.v[i] AS DOUBLE)
                  + CAST(p3.v[i] AS DOUBLE)) / $HybridPrf.0, 6)) AS centroid
        FROM p1 JOIN p2 USING (query_id) JOIN p3 USING (query_id)),
      dn AS (
        SELECT ce.query_id, ce.doc_id, ce.score, ce.rank_lex,
               round(
                 list_sum(list_transform(range(1, len(prf.centroid) + 1),
                   i -> prf.centroid[i] * CAST(ce.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(prf.centroid,
                      x -> x * x)))
                  * sqrt(list_sum(list_transform(ce.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                 6) AS cos_prf
        FROM ce JOIN prf USING (query_id)),
      dr AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_prf DESC, doc_id)
                  AS rank_dense
        FROM dn),
      f AS (
        SELECT query_id, doc_id, rank_lex, rank_dense, score, cos_prf,
               round(1.0 / ($RrfK + rank_lex)
                     + 1.0 / ($RrfK + rank_dense), 9) AS rrf
        FROM dr),
      fr AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, doc_id) AS rank
        FROM f)
      SELECT query_id, rank, doc_id, rank_lex, rank_dense,
             score AS bm25, cos_prf, rrf
      FROM fr WHERE rank <= $TopK
      ORDER BY query_id, rank""",
    // g37: the same (source, dim) cell means and mean-squared-norms
    // quantized to integer micro-units with identical association
    // (mean*1e6, one round each), then EXACT BIGINT pair + correction
    // arithmetic — DuckDB's sum over BIGINT promotes to HUGEINT, so
    // every total CASTs back (the r08 lesson); // and Spark's div agree
    // on the positive correction numerator
    "g37_source_mmd" -> s"""
      WITH es AS (
        SELECT d.source, e.embedding
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
      cells AS (
        SELECT source, i,
               CAST(round(sum(CAST(x AS DOUBLE)) / count(*) * 1000000)
                 AS BIGINT) AS mu_u
        FROM (SELECT source, unnest(embedding) AS x,
                     unnest(range(1, len(embedding) + 1)) AS i FROM es)
        GROUP BY source, i),
      musq AS (
        SELECT source, CAST(sum(mu_u * mu_u) AS BIGINT) AS musq_u12
        FROM cells GROUP BY source),
      stats AS (
        SELECT es.source, count(*) AS n,
               CAST(round(avg(list_sum(list_transform(embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * 1000000)
                 AS BIGINT) AS q2_u
        FROM es GROUP BY es.source),
      corr AS (
        SELECT s.source, s.n,
               CAST((s.q2_u * 1000000 - m.musq_u12) // s.n AS BIGINT)
                 AS corr_u12
        FROM stats s JOIN musq m ON m.source = s.source),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(sum((a.mu_u - b.mu_u) * (a.mu_u - b.mu_u)) AS BIGINT)
                 AS mmd2_u12
        FROM cells a JOIN cells b ON a.i = b.i AND a.source < b.source
        GROUP BY 1, 2)
      SELECT p.src_a, p.src_b, ca.n AS n_a, cb.n AS n_b,
             p.mmd2_u12,
             round(p.mmd2_u12 / 1e12, 6) AS mmd2,
             CAST(p.mmd2_u12 - ca.corr_u12 - cb.corr_u12 AS BIGINT)
               AS adj_u12,
             round((p.mmd2_u12 - ca.corr_u12 - cb.corr_u12) / 1e12, 6)
               AS mmd2_adj,
             (p.mmd2_u12 - ca.corr_u12 - cb.corr_u12) > $MmdShiftMinU12
               AS is_shifted
      FROM pairs p JOIN corr ca ON ca.source = p.src_a
                   JOIN corr cb ON cb.source = p.src_b
      ORDER BY src_a, src_b""",
    // g12: the same (label, dim) cell sums and norm averages in long
    // form; division/multiplication association written identically
    "g12_label_centroids" -> """
      WITH ex AS (
        SELECT label, unnest(embedding) AS x,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings),
      cells AS (
        SELECT label, i, sum(CAST(x AS DOUBLE)) AS sx
        FROM ex GROUP BY label, i),
      per AS (
        SELECT label, count(*) AS n_vecs,
               round(avg(sqrt(list_sum(list_transform(embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS mean_norm
        FROM embeddings GROUP BY label)
      SELECT c.label, p.n_vecs,
             round(sqrt(sum((c.sx / p.n_vecs) * (c.sx / p.n_vecs))), 6)
               AS centroid_norm,
             p.mean_norm
      FROM cells c JOIN per p USING (label)
      GROUP BY c.label, p.n_vecs, p.mean_norm
      ORDER BY c.label""",
    // g34: the identical Gram-identity pipeline over the same quantized
    // BIGINTs (every sum CAST back against HUGEINT promotion); the
    // readable mean through the same double expression text
    "g34_pair_moments" -> s"""
      WITH q AS (
        SELECT label,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * $PairQuant) AS BIGINT))
                 AS qv
        FROM embeddings),
      ex AS (
        SELECT label, qv, unnest(range(1, len(qv) + 1)) AS pos FROM q),
      px AS (
        SELECT label, pos, qv[CAST(pos AS INT)] AS x FROM ex),
      st1 AS (
        SELECT label, pos, CAST(sum(x) AS BIGINT) AS t,
               CAST(sum(x * x) AS BIGINT) AS s2,
               CAST(count(*) AS BIGINT) AS c
        FROM px GROUP BY 1, 2),
      st2 AS (
        SELECT label, CAST(sum(t * t) AS BIGINT) AS sum_t2,
               CAST(sum(s2) AS BIGINT) AS ss,
               CAST(max(c) AS BIGINT) AS n_vecs
        FROM st1 GROUP BY 1)
      SELECT label, n_vecs,
             sum_t2 - ss AS pair_dot_num,
             n_vecs * (n_vecs - 1) AS n_pairs,
             CASE WHEN n_vecs < 2 THEN CAST(0 AS BIGINT) ELSE
               CAST(round(CAST(sum_t2 - ss AS DOUBLE) /
                 (CAST(n_vecs * (n_vecs - 1) AS DOUBLE) *
                  CAST(${PairQuant * PairQuant} AS DOUBLE)) *
                 CAST(1000000 AS DOUBLE)) AS BIGINT) END AS mean_cos_micros
      FROM st2 ORDER BY label""",
    // s07: the greedy MMR recursion restated as a recursive CTE — the
    // picked set accumulates as a list, each step's argmax uses the
    // SAME rounded inputs and literals, QUALIFY picks one row per query
    "s07_mmr_topk" -> s"""
      WITH RECURSIVE
      e AS (SELECT vec_id, embedding FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < $NumQueries),
      scored AS (
        SELECT q.query_id, e.vec_id,
               round(list_sum(list_transform(range(1, len(q.qe) + 1),
                 i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qe,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS qcos
        FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      cands AS (
        SELECT query_id, vec_id, qcos FROM (
          SELECT query_id, vec_id, qcos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qcos DESC, vec_id) AS rn
          FROM scored)
        WHERE rn <= $MmrCands),
      ce AS (SELECT c.query_id, c.vec_id, e.embedding
             FROM cands c JOIN e USING (vec_id)),
      pairs AS (
        SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
               round(list_sum(list_transform(range(1, len(x.embedding) + 1),
                 i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(x.embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                * sqrt(list_sum(list_transform(y.embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS pcos
        FROM ce x JOIN ce y
          ON x.query_id = y.query_id AND x.vec_id <> y.vec_id),
      sel(query_id, step, pick, score, picked) AS (
        (SELECT query_id, 1, vec_id, qcos, [vec_id] FROM cands
         QUALIFY row_number() OVER (PARTITION BY query_id
                                    ORDER BY qcos DESC, vec_id) = 1)
        UNION ALL
        (SELECT s.query_id, s.step + 1, c.vec_id,
                0.7 * c.qcos - 0.3 * (SELECT max(p.pcos) FROM pairs p
                  WHERE p.query_id = s.query_id AND p.a = c.vec_id
                    AND list_contains(s.picked, p.b)),
                list_append(s.picked, c.vec_id)
         FROM sel s JOIN cands c ON c.query_id = s.query_id
           AND NOT list_contains(s.picked, c.vec_id)
         WHERE s.step < $TopK
         QUALIFY row_number() OVER (PARTITION BY s.query_id ORDER BY
           0.7 * c.qcos - 0.3 * (SELECT max(p.pcos) FROM pairs p
             WHERE p.query_id = s.query_id AND p.a = c.vec_id
               AND list_contains(s.picked, p.b)) DESC, c.vec_id) = 1))
      SELECT query_id, step AS rank, pick AS neighbor_id,
             round(score, 6) AS score
      FROM sel ORDER BY query_id, rank""",
    // s08: the WHOLE SQ8 pipeline restated — per-dim min/max, the same
    // encode/dequantize arithmetic in the same association order, ADC
    // ranked by (round(·,6) DESC, vec_id), then the s01 exact-cosine
    // refine of the identical candidate set.
    "s08_sq_topk" -> s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      st AS (
        SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
        FROM (SELECT unnest(embedding) AS x,
                     unnest(range(1, len(embedding) + 1)) AS i
              FROM e)
        GROUP BY i),
      sl AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx FROM st),
      enc AS (
        SELECT vec_id,
               list_transform(range(1, len(embedding) + 1), i ->
                 CASE WHEN sl.mx[i] - sl.mn[i] = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(round((CAST(embedding[i] AS DOUBLE) - sl.mn[i]) * 255
                                      / (sl.mx[i] - sl.mn[i])) AS BIGINT) END) AS c
        FROM e, sl),
      deq AS (
        SELECT vec_id,
               list_transform(range(1, len(c) + 1), i ->
                 sl.mn[i] + c[i] / 255.0 * (sl.mx[i] - sl.mn[i])) AS xhat
        FROM enc, sl),
      q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < $NumQueries),
      adc AS (
        SELECT q.query_id, deq.vec_id,
               round(list_sum(list_transform(range(1, len(q.qe) + 1),
                       i -> CAST(q.qe[i] AS DOUBLE) * deq.xhat[i]))
               / (sqrt(list_sum(list_transform(q.qe,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(deq.xhat, x -> x * x)))), 6) AS a
        FROM deq CROSS JOIN q WHERE deq.vec_id <> q.query_id),
      cand AS (
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY a DESC, vec_id) AS arank
          FROM adc)
        WHERE arank <= $SqRefine),
      scored AS (
        SELECT c.query_id, c.vec_id,
               list_sum(list_transform(range(1, len(q.qe) + 1),
                 i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.qe,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM cand c JOIN e ON c.vec_id = e.vec_id JOIN q ON c.query_id = q.query_id),
      ranked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rank, cos
        FROM scored)
      SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= $TopK
      ORDER BY query_id, rank""",
  )
}
