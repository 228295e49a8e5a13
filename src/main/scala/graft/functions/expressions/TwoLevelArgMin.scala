package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Two-level (IMI-style) nearest-centroid assignment: argmin over the
  * COARSE codebook, then argmin over that cell's FINE sub-codebook —
  * composite cell id = coarse·fineStride + fineIdx.
  *
  * Why it exists: SemDeDup-style pair work is Σ|cell|², so LINEAR total
  * pair cost needs constant cell SIZE — a codebook that grows with the
  * corpus (k ∝ N). Flat argmin ([[CentroidArgMin]]) pays k·d multiplies
  * per row, which at k = N/c makes ASSIGNMENT quadratic-ish in N — the
  * next scale killer after round 16's codegen bail. Two levels pay
  * (k₀ + k₁)·d per row for k₀·k₁ effective cells: 256×156 ≈ 40k cells at
  * 412·d instead of 40 000·d — the standard inverted-multi-index trade.
  *
  * Distance and tie rules are [[CentroidArgMin]]'s exactly (score
  * ‖c‖² − 2·⟨v,c⟩ with driver-side left-to-right norm folds, ties to the
  * lower index, NaN orders greatest) at BOTH levels, so an oracle replays
  * the composite assignment as two chained argmin windows: two calls into
  * [[CentroidArgMinImpl]], the coarse book and then the chosen cell's
  * slice of the fine book. Codebooks ride as reference objects —
  * generated code is constant-size in k₀, k₁, d.
  *
  * NULL input / null element / dimension mismatch → NULL (the
  * [[DotProduct]] totality rule). `fineStride` must be ≥ every
  * sub-codebook's size and is part of the cell-id contract: decode with
  * coarse = cell / fineStride, fine = cell % fineStride.
  */
case class TwoLevelArgMin(child: Expression, coarse: Seq[Seq[Double]],
                          fine: Seq[Seq[Seq[Double]]], fineStride: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(coarse.nonEmpty && coarse.forall(_.length == coarse.head.length),
    "coarse codebook must be non-empty and rectangular")
  require(fine.length == coarse.length,
    s"need one fine sub-codebook per coarse cell (${fine.length} vs ${coarse.length})")
  require(fine.forall(f => f.nonEmpty && f.forall(_.length == coarse.head.length)),
    "every fine sub-codebook must be non-empty with coarse's dimensionality")
  require(fineStride >= fine.map(_.length).max,
    s"fineStride $fineStride < largest sub-codebook ${fine.map(_.length).max}")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "two_level_argmin"

  private val k0: Int = coarse.length
  private val dim: Int = coarse.head.length

  // keep codebooks out of plan strings (see CentroidArgMin.toString)
  override def toString: String =
    s"two_level_argmin($child, k0=$k0, kf<=${fine.map(_.length).max}, d=$dim)"

  @transient private lazy val coarseFlat: Array[Double] =
    coarse.flatten.toArray
  @transient private lazy val coarseNorms: Array[Double] =
    coarse.map(c => c.map(x => x * x).sum).toArray
  // all sub-codebooks concatenated; fineOff(c) = first vector index of
  // cell c's book, fineCnt(c) = its size
  @transient private lazy val fineFlat: Array[Double] =
    fine.flatten.flatten.toArray
  @transient private lazy val fineNorms: Array[Double] =
    fine.flatten.map(c => c.map(x => x * x).sum).toArray
  @transient private lazy val fineOff: Array[Int] =
    fine.map(_.length).scanLeft(0)(_ + _).init.toArray
  @transient private lazy val fineCnt: Array[Int] =
    fine.map(_.length).toArray

  override def nullSafeEval(a: Any): Any = {
    val v = CentroidArgMinImpl.vector(a.asInstanceOf[ArrayData], dim)
    if (v == null) null
    else {
      val bc = CentroidArgMinImpl.argmin(v, coarseFlat, coarseNorms, 0, k0)
      bc * fineStride +
        CentroidArgMinImpl.argmin(v, fineFlat, fineNorms, fineOff(bc), fineCnt(bc))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cF = ctx.addReferenceObj("coarseFlat", coarseFlat, "double[]")
    val cN = ctx.addReferenceObj("coarseNorms", coarseNorms, "double[]")
    val fF = ctx.addReferenceObj("fineFlat", fineFlat, "double[]")
    val fN = ctx.addReferenceObj("fineNorms", fineNorms, "double[]")
    val fO = ctx.addReferenceObj("fineOff", fineOff, "int[]")
    val fC = ctx.addReferenceObj("fineCnt", fineCnt, "int[]")
    val impl = "graft.functions.expressions.CentroidArgMinImpl"
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v")
      val bc = ctx.freshName("bc")
      s"""
        double[] $v = $impl.vector($a, $dim);
        if ($v == null) {
          ${ev.isNull} = true;
        } else {
          int $bc = $impl.argmin($v, $cF, $cN, 0, $k0);
          ${ev.value} = $bc * $fineStride +
            $impl.argmin($v, $fF, $fN, $fO[$bc], $fC[$bc]);
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
