package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Nearest-centroid assignment over a `array<double>` column against a
  * driver-side codebook — the IVF/SemDeDup cell rule as ONE codegen'd
  * expression.
  *
  * Why an Expression and not a Column tree: the previous form inlined the
  * codebook as k literal `struct(distance, cell)` expressions and took
  * `array_min` — at production codebook sizes (256 cells × 64 dims) the
  * generated method exceeds Janino's 64 KB limit, whole-stage codegen
  * bails, and the stage runs INTERPRETED: measured 8.8 s at 1M vectors →
  * 255.5 s at 10M (29× for 10×; round-16 StressAnn). Here the codebook
  * travels as a REFERENCE OBJECT (`ctx.addReferenceObj`) — a flat
  * `double[]` field on the generated class — so the emitted code is a
  * constant-size call into [[CentroidArgMinImpl]] regardless of k and d,
  * and the stage stays inside WholeStageCodegen at any codebook size.
  *
  * Scoring is bit-identical to the literal form it replaces (the q47/q95/
  * q113/q221 oracle contract):
  *   d(cell) = ‖c‖² − 2·⟨v,c⟩
  * with ‖c‖² pre-folded driver-side left-to-right (the same
  * `c.map(x*x).sum` the literal form embedded) and the dot product a
  * strict left-to-right fold (the [[DotProduct]] order) — so each cell's
  * score is the same IEEE expression tree as before, and the argmin picks
  * the same cell. Ties break to the LOWER cell index (the
  * `array_min(struct(d, cell))` lexicographic rule). NaN scores order
  * GREATEST (Spark's double ordering, which `array_min` used): a NaN-score
  * cell loses to any non-NaN cell; all-NaN picks cell 0.
  *
  * NULL input, a null element, or a dimension mismatch against the
  * codebook → NULL (the [[DotProduct]] totality rule; the literal form
  * instead let struct ordering pick an arbitrary cell for a poisoned
  * score — this expression refuses to fabricate an assignment).
  */
case class CentroidArgMin(child: Expression, codebook: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  require(codebook.nonEmpty && codebook.forall(_.length == codebook.head.length),
    "codebook must be non-empty and rectangular")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_argmin"

  private val k: Int = codebook.length
  private val dim: Int = codebook.head.length

  // default Expression.toString prints every case-class field — a 256×64
  // codebook would dump 16k doubles into every plan string and the UI.
  override def toString: String = s"centroid_argmin($child, k=$k, d=$dim)"

  /** Row-major flat codebook — one JVM object shared by every task via
    * the generated class's references array (never inlined as source). */
  @transient private lazy val flat: Array[Double] = codebook.flatten.toArray

  /** ‖c‖² per cell, folded left-to-right exactly as the literal form's
    * driver-side `c.map(x => x * x).sum`. */
  @transient private lazy val norms: Array[Double] =
    codebook.map(c => c.map(x => x * x).sum).toArray

  override def nullSafeEval(a: Any): Any = {
    val v = CentroidArgMinImpl.vector(a.asInstanceOf[ArrayData], dim)
    if (v == null) null else CentroidArgMinImpl.argmin(v, flat, norms, 0, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("cbFlat", flat, "double[]")
    val normRef = ctx.addReferenceObj("cbNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v")
      s"""
        double[] $v = graft.functions.expressions.CentroidArgMinImpl.vector($a, $dim);
        if ($v == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = graft.functions.expressions.CentroidArgMinImpl.argmin(
            $v, $flatRef, $normRef, 0, $k);
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The nearest-centroid rule of [[CentroidArgMin]] and [[TwoLevelArgMin]],
  * shared by their interpreted and generated paths. */
object CentroidArgMinImpl {
  /** `x` as a primitive array, or null when its length is not `dim` or an
    * element is null (the [[DotProduct]] totality rule). */
  def vector(x: ArrayData, dim: Int): Array[Double] = {
    if (x.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (x.isNullAt(i)) return null; i += 1 }
    x.toDoubleArray()
  }

  /** Index, relative to `from`, of the cell among `cnt` cells of the
    * row-major book `flat` (first cell `from`) with the least
    * ‖c‖² − 2·⟨v,c⟩: the dot product folds left to right, ties go to the
    * lower index and a NaN score orders greatest, so an all-NaN book
    * picks its first cell. */
  def argmin(v: Array[Double], flat: Array[Double], norms: Array[Double],
             from: Int, cnt: Int): Int = {
    val dim = v.length
    var best = 0
    var bestD = Double.NaN
    var c = 0
    while (c < cnt) {
      var dot = 0.0
      val off = (from + c) * dim
      var i = 0
      while (i < dim) { dot += v(i) * flat(off + i); i += 1 }
      val dist = norms(from + c) - 2.0 * dot
      if (c == 0 || dist < bestD || (bestD.isNaN && !dist.isNaN)) {
        bestD = dist; best = c
      }
      c += 1
    }
    best
  }
}
