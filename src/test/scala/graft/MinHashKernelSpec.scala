package graft

import graft.dedup.Dedup
import graft.functions.{MinHashBands, ShingleFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native [[graft.functions.MinHashBands]] kernel behind
  * `Dedup.minhashBuckets` is bit-identical to the Spark SQL signature
  * pipeline it replaced: explode the shingles, `xxhash64` each one, a
  * [[Dedup.NumHashes]]-column `min(xxhash64(h, i))` aggregate per
  * document, then one `xxhash64` per band. That pipeline stays here, and
  * only here, as the reference implementation. Covered: the real corpus,
  * the hostile corpus, edge texts (empty, under three tokens, repeated
  * grams, non-ASCII) and raw arrays holding null elements. */
class MinHashKernelSpec extends SparkSpec {

  private def referenceBuckets(ds: DataFrame): DataFrame = {
    val exploded = ds.select(col("doc_id"), explode(col("sh")).as("sg"))
      .withColumn("h", xxhash64(col("sg")))
    val mins = (0 until Dedup.NumHashes)
      .map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    val sig = exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bands = (0 until Dedup.NumBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until Dedup.BandRows)
          .map(r => col(s"m${b * Dedup.BandRows + r}")): _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

  /** Asserts kernel ≡ reference on `ds` and returns the row count. */
  private def assertSame(ds: DataFrame): Int = {
    val want = rows(referenceBuckets(ds))
    val got = rows(Dedup.minhashBuckets(ds))
    assert(got.size == want.size, s"${got.size} kernel rows vs ${want.size} reference rows")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"kernel $g != reference $w") }
    got.size
  }

  private def shingled(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), ShingleFunctions.shingles3(col("text")).as("sh"))
  }

  test("kernel bands ≡ the explode + min-aggregate signature on the documents corpus") {
    val ds = Tables.documents(spark, sf)
      .select(col("doc_id"), ShingleFunctions.shingles3(col("text")).as("sh"))
    val n = assertSame(ds)
    assert(n > 0 && n % Dedup.NumBands == 0, s"$n rows")
  }

  test("kernel bands ≡ the reference on the hostile corpus") {
    assert(assertSame(Dedup.hostileShingles(spark, sf)) > 0)
  }

  test("kernel bands ≡ the reference on edge texts; no bands for a doc without shingles") {
    val texts = Seq(
      "",                           // no shingles
      "a", "a b",                   // under three tokens: no shingles
      "a b c",                      // one shingle
      "a a a a a a",                // one repeated gram
      "one two three two three four one two three",
      "ÄÖÜ ß Straße İstanbul",
      "日本 語 テキスト です",
      "а б в г д")
    val ds = shingled(texts)
    assert(assertSame(ds) == 6 * Dedup.NumBands)
    val banded = Dedup.minhashBuckets(ds).select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(banded == Set(3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("kernel bands ≡ the reference on arrays holding null elements, empty and null arrays") {
    val ds = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array('a b c', CAST(NULL AS STRING), 'x y z')),
        |  (2L, array(CAST(NULL AS STRING))),
        |  (3L, array(CAST(NULL AS STRING), 'a b c')),
        |  (4L, CAST(array() AS array<string>)),
        |  (5L, CAST(NULL AS array<string>))
        |  AS t(doc_id, sh)""".stripMargin)
    assert(assertSame(ds) == 3 * Dedup.NumBands)
  }

  test("interpreted eval agrees with the generated code over a parquet scan") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val ds = Tables.documents(spark, sf).filter(col("doc_id") < 40)
      .select(col("doc_id"), ShingleFunctions.shingles3(col("text")).as("sh"))
    val interpreted = ds.collect().toSeq.flatMap { r =>
      val sh = r.getSeq[String](1)
      val arr = Literal.create(
        new GenericArrayData(sh.map(UTF8String.fromString).toArray[Any]),
        ArrayType(StringType))
      MinHashBands(arr).eval().asInstanceOf[GenericArrayData].array.map { b =>
        val row = b.asInstanceOf[InternalRow]
        (r.getLong(0), row.getInt(0), row.getLong(1))
      }
    }.sorted
    assert(interpreted.nonEmpty)
    assert(rows(Dedup.minhashBuckets(ds)) == interpreted)
  }
}
