package graft

import graft.dedup.Dedup
import graft.similarity.Similarity

/** Cross-operator consistency: the approximate operators (MinHash-LSH,
  * SimHash, LSH-ANN) are validated against their exact counterparts
  * (inverted-index Jaccard, brute-force top-k) on sf0.001. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

  test("MinHash-LSH finds exactly the exact-Jaccard pairs (recall 1 at J>=0.9)") {
    val exact = Dedup.d02NgramJaccard(spark, sf)
    val lsh = Dedup.d03MinHashLsh(spark, sf)
    assert(pairs(exact).nonEmpty)
    assert(pairs(lsh) == pairs(exact))
    // verified Jaccard values agree too (same kernel on both paths)
    val ej = exact.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val lj = lsh.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(ej == lj)
  }

  test("SimHash recovers most high-Jaccard pairs within Hamming 3") {
    import org.apache.spark.sql.functions.col
    // SimHash measures a different similarity than Jaccard: a few-token
    // edit on a short doc can flip >3 signature bits even at J≈0.95, so
    // exact set equality is not the contract — substantial overlap is.
    val planted = Dedup.d02NgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.95)
    val plantedPairs = pairs(planted)
    val sim = Dedup.d04SimHash(spark, sf)
    val simPairs = pairs(sim)
    assert(plantedPairs.nonEmpty && simPairs.nonEmpty)
    val overlap = (plantedPairs & simPairs).size.toDouble / plantedPairs.size
    assert(overlap >= 0.6, f"overlap $overlap%.2f")
    // and every reported pair honors the Hamming bound
    assert(sim.select("hamming").as[Int].collect().forall(_ <= 3))
  }

  test("LSH ANN recall vs brute force is usable on a near-orthogonal corpus") {
    val exact = Similarity.s01BruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.s02LshTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // the corpus is near-orthogonal (design recall ≈ 0.78, Similarity.scala);
    // assert a floor well above chance: random 10-of-500 ≈ 0.02
    assert(recall >= 0.5, f"recall $recall%.2f")
  }

  test("PQ ANN recall vs brute force clears the contract floor; codes compress") {
    val exact = Similarity.s01BruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.s04PqTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    // measured: worst-query 0.9 at sf0.001/0.01, 0.5 at sf0.1 (4-bit codes
    // on a near-orthogonal corpus, refine 200); chance ≈ 0.02
    assert(recall >= Similarity.PqRecallFloor, f"recall $recall%.2f")
  }

  test("IVF ANN recall vs brute force is usable and self-matches are excluded") {
    val exact = Similarity.s01BruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.s03IvfTopK(spark, sf)
    val ivfPairs = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivfPairs).size.toDouble / exact.size
    assert(recall >= 0.2, f"recall $recall%.2f") // nprobe/ncells = 1/3 of cells probed
    assert(ivfPairs.forall { case (q, n) => q != n })
  }

  test("driver contract rows hold (s02/s03 recall floors, d04 facts)") {
    import org.apache.spark.sql.functions.col
    val s02 = Similarity.s02LshRecall(spark, sf)
    assert(s02.filter(!col("recall_ok") || col("n_results") =!= Similarity.TopK).isEmpty,
      s02.collect().mkString(" "))
    val s03 = Similarity.s03IvfRecall(spark, sf)
    assert(s03.filter(!col("recall_ok") || col("n_results") =!= Similarity.TopK).isEmpty,
      s03.collect().mkString(" "))
    val d04 = Dedup.d04SimHashContract(spark, sf).collect()
    assert(d04.length == 1 && (0 until 3).forall(d04.head.getBoolean), d04.mkString)
  }

  test("embedding near-dup agrees with brute-force cosine at the threshold") {
    val nd = Dedup.d05EmbeddingNearDup(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // recompute via the s01 kernel: any pair with cos >= 0.4 (rounded)
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", graft.functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")))
      .filter(round(col("cos"), 4) >= 0.4)
      .select(col("a.vec_id"), col("b.vec_id")).as[(Long, Long)].collect().toSet
    assert(nd == brute && nd.nonEmpty)
  }

  test("dup clusters: transitive closure of the pair relation, min-id representative") {
    import org.apache.spark.sql.functions.col
    val pairList = Dedup.d02NgramJaccard(spark, sf).select(col("doc_a"), col("doc_b"))
    val clusters = Dedup.dupClusters(pairList)
    val lab = clusters.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val edges = pairList.as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    // every pair's endpoints share a label (closure over one hop => the
    // fixpoint closed the whole component)
    edges.foreach { case (a, b) => assert(lab(a) == lab(b), s"$a~$b split") }
    // the representative IS the component minimum, exactly one per cluster
    val byCluster = lab.groupBy(_._2).view.mapValues(_.keys.min).toMap
    byCluster.foreach { case (cid, minId) => assert(cid == minId) }
    val reps = clusters.filter(col("is_rep")).select("cluster_id").as[Long].collect()
    assert(reps.toSet == byCluster.keySet && reps.length == byCluster.size)
    // a transitivity case is actually present in the corpus (a cluster
    // with more members than any single pair could produce)
    assert(lab.groupBy(_._2).values.exists(_.size >= 3))
  }

  test("dup clusters: a path graph deeper than MaxClusterIters converges via star fallback") {
    import org.apache.spark.sql.functions.col
    // a 61-node chain (diameter 60, 3× MaxClusterIters) — propagation
    // alone cannot close it; dupClusters must escalate to
    // large-star/small-star and still label the whole chain with node 0
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(chain)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    assert(out.length == 61)
    assert(out.forall(_._2 == 0L), out.filter(_._2 != 0L).take(5).mkString(","))
  }

  test("dup clusters: one call runs two jobs per propagation round, one more for the first, and the collect") {
    // components {1,2,3} (diameter 2) and {10,11}: the first labels close
    // one hop, round 1 lowers node 3's label, round 2 changes nothing.
    // Jobs: one map stage per exchange (the first labels' and each
    // round's), one checkpoint per round, and the collect.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val (out, jobs) = jobsLaunchedBy(Dedup.dupClusters(pairs)
      .select("doc_id", "cluster_id", "is_rep").as[(Long, Long, Boolean)].collect())
    assert(out.toSet == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
    assert(jobs == 1 + 2 * 2 + 1, s"$jobs jobs")
  }

  test("dup clusters and d02: an empty input has no clusters and no pairs") {
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dupClusters(none).collect().isEmpty)
    assert(Dedup.d02Over(Seq.empty[(Long, String)].toDF("doc_id", "text")).collect().isEmpty)
  }

  test("starClusters matches propagation on the real near-dup pair graph") {
    import org.apache.spark.sql.functions.col
    val pairList = Dedup.d02NgramJaccard(spark, sf).select(col("doc_a"), col("doc_b"))
    val viaStars = Dedup.starClusters(pairList)
      .select("doc_id", "cluster_id", "is_rep").as[(Long, Long, Boolean)].collect().toSet
    val viaProp = Dedup.dupClusters(pairList)
      .select("doc_id", "cluster_id", "is_rep").as[(Long, Long, Boolean)].collect().toSet
    assert(viaStars == viaProp && viaStars.nonEmpty)
  }

  test("d16: edit refine keeps exactly the within-budget d03 pairs, lev values exact") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = Dedup.d16EditRefine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("lev")).toMap
    // plain-Scala Levenshtein over the d03 pair list (norm = the t12 rule)
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(b.length)
    }
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val d03Rows = Dedup.d03MinHashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the engine's per-doc_a witness cap, restated in plain Scala (it
    // does not bind on this corpus — every doc has far fewer than
    // MaxRefinePartnersPerDoc partners — but the contract includes it)
    val d03Pairs = d03Rows.groupBy(_._1).values.toSeq.flatMap(
      _.sortBy(t => (-t._3, t._2)).take(Dedup.MaxRefinePartnersPerDoc))
      .map(t => (t._1, t._2))
    val expect = d03Pairs
      .map(p => p -> lev(norm(texts(p._1)), norm(texts(p._2))))
      .filter(_._2 <= Dedup.MaxEditBudget).toMap
    assert(got == expect, s"got ${got.size} expect ${expect.size}")
    assert(d03Pairs.size == d03Rows.length,
      "cap must not bind on this corpus — every kept pair is a true pair")
    assert(expect.size < d03Pairs.size, "budget must actually drop a pair")
    assert(got.nonEmpty)
  }

  test("lshGeometry derives d03's hand-chosen banding and respects the miss bound") {
    // the documented derivation, now executable: J=0.6, miss 1e-6, 64 hashes
    assert(Dedup.lshGeometry(0.6, 1e-6, 64) == ((Dedup.NumBands, Dedup.BandRows)))
    // the returned geometry always satisfies its own bound
    for (j <- Seq(0.5, 0.6, 0.8, 0.9); m <- Seq(1e-3, 1e-6); h <- Seq(64, 128)) {
      val (b, r) = Dedup.lshGeometry(j, m, h)
      assert(b * r == h)
      assert(math.pow(1.0 - math.pow(j, r), b) <= m, s"(j=$j m=$m h=$h)")
    }
    // a higher threshold affords more rows per band (more selective)
    val (_, rLo) = Dedup.lshGeometry(0.5, 1e-6, 64)
    val (_, rHi) = Dedup.lshGeometry(0.9, 1e-6, 64)
    assert(rHi >= rLo)
    // an unsatisfiable bound fails loudly, never silently degrades
    intercept[IllegalArgumentException] {
      Dedup.lshGeometry(0.05, 1e-12, 8)
    }
  }

  test("s15: append assigns every vector to its nearest FROZEN centroid, covering the corpus once") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val cents = Similarity.frozenCentroids(spark, sf)
    val assigned = Similarity.s15Assignments(spark, sf)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getInt(2)))
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(assigned.length == nVecs, "every vector indexed exactly once")
    // assignment law: cell = argmin squared distance to the frozen
    // centroids — for OLD and APPENDED rows alike (no retrain happened)
    def nearest(v: Array[Float]): Int =
      cents.indices.minBy { c =>
        val cc = cents(c)
        var i = 0; var acc = 0.0
        while (i < cc.length) { val dd = v(i) - cc(i); acc += dd * dd; i += 1 }
        acc
      }
    assigned.foreach { case (id, v, cell) =>
      assert(cell == nearest(v), s"vec $id assigned to $cell, nearest is ${nearest(v)}")
    }
    // the appended segment is non-empty and lands in existing cells only
    val newCells = assigned.filter(_._1 % Similarity.AppendMod == 0).map(_._3)
    assert(newCells.nonEmpty && newCells.forall(c => c >= 0 && c < cents.length))
  }

  test("d18: soft weights conserve unit mass per cluster and cover every doc exactly once") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.d18SoftDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "every doc weighted exactly once")
    // per-cluster mass: size × (1/size) ≈ 1 (rounding at 6 dp)
    rows.groupBy(_._2).foreach { case (cid, rs) =>
      val size = rs.head._3
      assert(rs.forall(_._3 == size), s"cluster $cid size disagreement")
      assert(math.abs(rs.map(_._4).sum - 1.0) < 1e-4, s"cluster $cid mass")
    }
    // total mass = effective unique count = #clusters
    val nClusters = rows.map(_._2).distinct.length
    assert(math.abs(rows.map(_._4).sum - nClusters) < 1e-3)
    // duplication actually exists at this SF (non-vacuous weights < 1)
    assert(rows.exists(_._4 < 1.0))
  }

  test("d17: bloomDedup equals incrementalExactDedup (the gate never changes the answer)") {
    import org.apache.spark.sql.functions.{col, md5}
    import graft.text.TextAnalysis.normText
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val history = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(normText(col("text"))).as("fp"))
    val batch = docs.filter(col("doc_id") % 2 === 1)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "fp").as[(Long, String)].collect().toSet
    val viaBloom = asSet(Dedup.bloomDedup(batch, history))
    val viaPlain = asSet(Dedup.incrementalExactDedup(batch, history))
    assert(viaBloom == viaPlain && viaBloom.nonEmpty)
    // no false negatives: nothing surviving may carry a history fingerprint
    val histFps = history.as[String].collect().toSet
    assert(viaBloom.forall(r => !histFps.contains(r._2)))
    // empty history: every first-in-batch row passes, no probe leg at all
    val none = history.filter(col("fp") === "impossible")
    assert(asSet(Dedup.bloomDedup(batch, none)) ==
      asSet(Dedup.incrementalExactDedup(batch, none)))
  }

  test("contamination: verbatim copy is fully contaminated, disjoint vocab is clean") {
    import org.apache.spark.sql.functions.col
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim benchmark copy
      (2L, "one two three four five six"),         // disjoint vocabulary
      (3L, "alpha beta gamma unrelated tail here") // one shared shingle
    ).toDF("doc_id", "text")
    val out = Dedup.contamination(train, bench)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._3 == 1.0, s"verbatim copy not fully contaminated: ${out(1L)}")
    assert(out(2L)._2 == 0L && out(2L)._3 == 0.0, s"clean doc flagged: ${out(2L)}")
    assert(out(3L)._2 == 1L, s"expected exactly one shared shingle: ${out(3L)}")
  }

  test("the candidate self-join and the shingle index are each built in one place") {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/dedup/Dedup.scala")).asScala.toIndexedSeq
    // a def's body: its line through the line before the first blank line
    // or the closing brace of a braced body
    def body(name: String): Range = {
      val at = lines.indexWhere(_.contains(s"def $name("))
      val end = lines.indexWhere(l => l.trim.isEmpty || l == "  }", at)
      assert(at >= 0 && end > at, (name, at, end))
      at to end
    }
    def sites(p: String => Boolean): Seq[Int] = lines.indices.filter(i => p(lines(i)))
    val selfJoins = sites(_.contains(""".as("b").hint("shuffle_hash")"""))
    assert(selfJoins.nonEmpty && selfJoins.forall(body("selfPairs").contains),
      s"candidate self-join outside selfPairs at lines ${selfJoins.map(_ + 1)}")
    val index = sites(l => l.contains("""xxhash64(col("sg")).as("h")""") && l.contains("""col("doc_id")"""))
    val allowed = body("shingleIndex") ++ body("d02UncappedCensusOver")
    assert(index.nonEmpty && index.forall(allowed.contains),
      s"(doc_id, h) index built outside shingleIndex at lines ${index.map(_ + 1)}")
  }
}
