package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The banded MinHash signature of one document's shingle set, as one
  * native expression: `array<struct<band:int, bh:bigint>>`, one entry per
  * band, computed in a single pass over the shingles.
  *
  * Semantics contract — bit-identical to the Spark SQL pipeline it
  * replaces (`explode(sh)` → `xxhash64(sg)` → a [[NumHashes]]-column
  * `min(xxhash64(h, i))` aggregate grouped by document → one
  * `xxhash64(m_{2b}, m_{2b+1})` per band):
  *
  *  - `h = xxhash64(sg)` with Spark's seed 42; a null element hashes to
  *    the seed, exactly as `xxhash64(null)` does;
  *  - `m_i = min over shingles of XXH64.hashInt(i, XXH64.hashLong(h, 42))`
  *    (`xxhash64(h, i)` folds its columns left to right from the seed);
  *  - `bh_b = hashLong(m_{rb+r-1}, … hashLong(m_{rb}, 42))` for
  *    `r = `[[BandRows]];
  *  - an empty array yields no bands (the old explode produced no row to
  *    aggregate) and a null array yields null, which `explode` drops.
  *
  * Replaces a per-shingle explode, a wide `HashAggregate` and its
  * doc_id-keyed shuffle with one codegen'd call per document, so the
  * band frame is a narrow projection of the shingle frame: no exchange,
  * and nothing for a broadcast join to build twice. MinHashKernelSpec
  * pins the equivalence against the old aggregate, kept there as the
  * reference implementation. */
case class MinHashBands(child: Expression) extends UnaryExpression {
  override def dataType: DataType = MinHashBands.BandsType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands needs an array<string> input, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashBands.bands(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashBands.bands($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {
  /** Signature geometry: 64 hashes = 32 bands × 2 rows (the derivation is
    * on [[graft.dedup.Dedup.NumHashes]]). */
  val NumHashes = 64
  val BandRows = 2
  val NumBands: Int = NumHashes / BandRows

  /** Spark's `xxhash64` seed. */
  private val Seed = 42L

  private val BandsType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bh", LongType, nullable = false))), containsNull = false)

  private val NoBands = new GenericArrayData(new Array[Any](0))

  /** Static helper called from generated code. */
  def bands(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return NoBands
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var k = 0
    while (k < n) {
      val h = if (sh.isNullAt(k)) Seed else XXH64.hashUTF8String(sh.getUTF8String(k), Seed)
      val hs = XXH64.hashLong(h, Seed)
      var i = 0
      while (i < NumHashes) {
        val m = XXH64.hashInt(i, hs)
        if (m < mins(i)) mins(i) = m
        i += 1
      }
      k += 1
    }
    val out = new Array[Any](NumBands)
    var b = 0
    while (b < NumBands) {
      var bh = Seed
      var r = 0
      while (r < BandRows) { bh = XXH64.hashLong(mins(b * BandRows + r), bh); r += 1 }
      out(b) = InternalRow(b, bh)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Column-facing wrapper: the bands of an `array<string>` shingle column. */
  def of(sh: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(MinHashBands(GraftColumnBridge.expression(sh)))
  }
}
