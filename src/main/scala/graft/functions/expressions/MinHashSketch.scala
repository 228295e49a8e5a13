package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions

/** Per-document MinHash sketch of a token array: one struct per row with
  *  - `sig`: for each (a, b) of `perms`, the minimum of
  *    `(a·(s % P) + b) % P` over the document's k-shingle hashes `s`;
  *  - `shs`: the sorted, distinct shingle hashes (the exact-Jaccard
  *    verify input);
  *
  * or null when the array is null or shorter than `k` tokens (no
  * shingles, so no signature). Every shingle of a document sits in its
  * row, so the sketch needs no shuffle: the signature minima and the
  * shingle set come out of one pass over [[ShingleHashGenerator.hashes]].
  *
  * CodegenFallback: the work is a per-row loop over the document, and the
  * surrounding projection still compiles into its codegen stage.
  */
case class MinHashSketch(child: Expression, k: Int, perms: Seq[(Long, Long)],
                         portable: Boolean)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("shs", ArrayType(LongType, containsNull = false), nullable = false)))

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sketch"

  // the permutation list prints as its size: 64 (a, b) literals per plan
  // node would bury the plan text
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, k, s"${perms.size} perms", portable)

  @transient private lazy val as = perms.map(_._1).toArray
  @transient private lazy val bs = perms.map(_._2).toArray

  override def eval(input: InternalRow): Any = {
    val sh = ShingleHashGenerator.hashes(child.eval(input).asInstanceOf[ArrayData], k, portable)
    if (sh.isEmpty) return null
    java.util.Arrays.sort(sh)
    val P = TextFunctions.MinHashP
    val sig = Array.fill(as.length)(Long.MaxValue)
    var n = 0 // sh(0 until n): the distinct shingles, compacted in place
    for (s <- sh if n == 0 || s != sh(n - 1)) {
      sh(n) = s
      n += 1
      var p = 0
      while (p < sig.length) { sig(p) = math.min(sig(p), (as(p) * (s % P) + bs(p)) % P); p += 1 }
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(sig),
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(sh, n)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
