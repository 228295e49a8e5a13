package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions

/** Generator emitting one combined k-gram shingle hash per token window —
  * the custom-operator path (SURVEY preference (b/c)) for the dedup
  * pipelines' hottest stage.
  *
  * The composable formulation (posexplode → per-token hash → window
  * `lead` ×(k-1) → fold) needs an Exchange + Sort per evaluation just to
  * see adjacent tokens; this generator sees the whole token array in one
  * row, so shingling becomes a pure map-side Generate with zero shuffles.
  * Values come from [[ShingleHashGenerator.hashes]], the arithmetic the
  * DuckDB oracle replays ([[TextFunctions.shingleHashesSql]]).
  *
  * CodegenFallback is fine here: generators run one eval per input ROW
  * (not per output element), and the surrounding Generate node still
  * pipelines into the parent codegen stage.
  */
case class ShingleHashGenerator(child: Expression, k: Int,
                                portable: Boolean = true)
    extends UnaryExpression with Generator with CodegenFallback
    with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def elementSchema: StructType =
    StructType(Seq(StructField("sh", LongType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    ShingleHashGenerator.hashes(child.eval(input).asInstanceOf[ArrayData], k, portable)
      .iterator.map(InternalRow(_))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashGenerator {
  private val M = TextFunctions.ShingleM

  /** The k-shingle hashes of one token array, in token order, with
    * multiplicity; empty when the array is null or shorter than `k`.
    * Per-token `md5Prefix60 % M` (portable, oracle-replayable) or
    * sign-cleared `xxhash64 % M` (the fast path: one mix per token, no
    * digest allocation), then the `acc*8191 + h (mod M)` fold — the one
    * copy of the shingle arithmetic, shared with [[MinHashSketch]]. */
  def hashes(toks: ArrayData, k: Int, portable: Boolean): Array[Long] = {
    if (toks == null || toks.numElements() < k) return Array.emptyLongArray
    val hs = Array.tabulate(toks.numElements()) { i =>
      val t = toks.getUTF8String(i)
      if (portable) HashUtil.md5Prefix60(t) % M else (HashUtil.xx64(t) & Long.MaxValue) % M
    }
    Array.tabulate(hs.length - k + 1) { j =>
      var acc = hs(j)
      for (l <- 1 until k) acc = (acc * 8191 + hs(j + l)) % M
      acc
    }
  }
}
