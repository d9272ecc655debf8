// The expression lives under org.apache.spark.sql.* because the pieces a
// native codegen expression needs (`AbstractDataType` for ExpectsInputTypes,
// `ExpressionUtils.column` to wrap an Expression into a public Column) are
// private[sql]. This is the established pattern for external Spark
// expression libraries; no Spark internals are modified.
//
// Every expression here keeps its row loop once, as a method on its
// companion object: `nullSafeEval` calls it directly and `doGenCode`
// generates one static call to it, so both eval paths run the same kernel.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native dot product over two `array<double>` columns.
  *
  * Why not `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: higher-order
  * functions evaluate interpreted (one closure call + boxed lambda variable
  * per element) and allocate an intermediate array per row. Inside an
  * all-pairs similarity join the dot product runs |A|·|B| times, and the
  * interpreted form was the bench bottleneck (~40 s for 2M pairs × 64 dims
  * at sf0.1). This expression is one tight primitive loop called from
  * whole-stage codegen: same left-to-right IEEE summation order as the HOF
  * form AND DuckDB's `list_reduce`, so oracle results stay bit-identical.
  *
  * Null contract: null input array → null (BinaryExpression default); null
  * ELEMENTS contribute 0.0 (embedding vectors are non-null by schema).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.DotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Σ x(i)·y(i) over the shorter prefix, left to right; a null element
    * on either side contributes 0.0. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  /** Σ x(i)·p(i) over the shorter prefix, left to right, against a
    * driver-held row of a plane or centroid matrix. */
  def dot(x: ArrayData, p: Array[Double]): Double = {
    val n = math.min(x.numElements(), p.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * p(i); i += 1 }
    s
  }
}

/** All random-hyperplane LSH table buckets for one vector, in one pass.
  *
  * The declarative form — `tables × bits` separate `when(dot(v, plane) > 0)`
  * expressions, each with a `bits·dim`-literal array — builds a ~5000-leaf
  * expression tree whose generated method overflows codegen limits and
  * re-materializes every plane per row. This expression holds the plane
  * matrix once as a reference object and emits `array<long>` of one
  * sign-bucket per table via a tight FMA loop.
  *
  * Bucket bit j of table t = [v · planes(t·bits + j) > 0] — identical
  * semantics (and values) to the composed form. A bucket is one long, so
  * `bitsPerTable` must lie in 1..64.
  */
case class LshTableBuckets(
    child: Expression,
    planes: IndexedSeq[IndexedSeq[Double]],
    bitsPerTable: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bitsPerTable >= 1 && bitsPerTable <= 64, "bitsPerTable must be in 1..64")
  require(planes.nonEmpty && planes.length % bitsPerTable == 0,
    "planes must split evenly into tables of bitsPerTable")
  @transient private lazy val planeMatrix: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  override def nullSafeEval(v: Any): Any =
    LshTableBuckets.buckets(v.asInstanceOf[ArrayData], planeMatrix, bitsPerTable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planeMatrix, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"org.apache.spark.sql.graft.LshTableBuckets.buckets($v, $planesRef, $bitsPerTable)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshTableBuckets {
  def buckets(x: ArrayData, planes: Array[Array[Double]], bitsPerTable: Int): ArrayData = {
    val out = new Array[Long](planes.length / bitsPerTable)
    var t = 0
    while (t < out.length) {
      var bucket = 0L
      var b = 0
      while (b < bitsPerTable) {
        if (DotProduct.dot(x, planes(t * bitsPerTable + b)) > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** The `nprobe` nearest centroids (by squared L2 distance, centroid-id
  * tie-break ascending) for one vector, as `array<int>` of centroid ids
  * ordered nearest-first.
  *
  * Replaces the crossJoin(broadcast(centroids)) + row_number() window
  * argmin that materialized rows × nlist through a shuffle just to take a
  * per-row minimum: the centroid matrix (nlist ≤ a few thousand rows —
  * driver-bounded by construction, never data-scale) rides along as a
  * codegen reference object and each row pays one tight FMA loop, zero
  * shuffle, zero row blow-up. With nprobe=1 this is plain argmin (the IVF
  * list assignment); probes use nprobe>1 and explode the result.
  *
  * Score per centroid c: |c|² − 2·v·c (the row's own |v|² is constant
  * across centroids, so dropped — same ordering as full L2 distance).
  */
case class NearestCentroids(
    child: Expression,
    centers: IndexedSeq[IndexedSeq[Double]],
    nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(centers.nonEmpty && nprobe >= 1,
    "need at least one centroid and nprobe >= 1")
  private val take = math.min(nprobe, centers.length)
  @transient private lazy val centerMatrix: Array[Array[Double]] =
    centers.map(_.toArray).toArray
  @transient private lazy val cnorm2: Array[Double] =
    centerMatrix.map(c => c.map(x => x * x).sum)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  override def nullSafeEval(v: Any): Any =
    NearestCentroids.nearest(v.asInstanceOf[ArrayData], centerMatrix, cnorm2, take)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centersRef = ctx.addReferenceObj("centers", centerMatrix, "double[][]")
    val cnorm2Ref = ctx.addReferenceObj("cnorm2", cnorm2, "double[]")
    defineCodeGen(ctx, ev, v => "org.apache.spark.sql.graft.NearestCentroids" +
      s".nearest($v, $centersRef, $cnorm2Ref, $take)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroids {
  def nearest(x: ArrayData, centers: Array[Array[Double]], cnorm2: Array[Double],
              take: Int): ArrayData = {
    val bestScore = new Array[Double](take)
    val bestId = new Array[Int](take)
    var filled = 0
    var c = 0
    while (c < centers.length) {
      val s = cnorm2(c) - 2.0 * DotProduct.dot(x, centers(c))
      // Insertion keeps (score asc, cid asc): strictly-less shifts, so an
      // equal score never displaces an earlier (smaller) centroid id.
      if (filled < take || s < bestScore(filled - 1)) {
        var j = math.min(filled, take - 1)
        while (j > 0 && s < bestScore(j - 1)) {
          bestScore(j) = bestScore(j - 1); bestId(j) = bestId(j - 1); j -= 1
        }
        bestScore(j) = s; bestId(j) = c
        if (filled < take) filled += 1
      }
      c += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(bestId, filled))
  }
}

/** Public wrappers (importable without touching Spark-internal packages). */
object VectorFunctions {

  /** Native dot product; see [[DotProduct]]. */
  def dotNative(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** All LSH table sign-buckets for a vector; see [[LshTableBuckets]]. */
  def lshTableBuckets(v: Column, planes: Seq[Seq[Double]], bitsPerTable: Int): Column =
    ExpressionUtils.column(LshTableBuckets(
      ExpressionUtils.expression(v),
      planes.map(_.toIndexedSeq).toIndexedSeq, bitsPerTable))

  /** The nprobe nearest centroid ids, nearest-first; see [[NearestCentroids]]. */
  def nearestCentroids(v: Column, centers: Seq[Seq[Double]], nprobe: Int): Column =
    ExpressionUtils.column(NearestCentroids(
      ExpressionUtils.expression(v),
      centers.map(_.toIndexedSeq).toIndexedSeq, nprobe))
}
