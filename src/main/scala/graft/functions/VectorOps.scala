package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Left-to-right double-precision dot product of two float arrays.
  *
  * The composable formulation — `aggregate(zip_with(a, b, _*_), ...)` —
  * is interpreted (higher-order functions sit outside whole-stage
  * codegen) and allocates a zipped intermediate array per row; on the
  * similarity-verification hot path that made exact-cosine scoring the
  * bottleneck. This expression is one fused loop per row, codegen'd via
  * a static call, with identical arithmetic (elements widened to double,
  * accumulated left to right from 0.0) so results are bit-equal to the
  * previous formulation and to the DuckDB oracle's
  * `list_sum(list_transform(...))`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DotProduct.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

object DotProduct {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Static kernel (called from generated code). Inputs are float
    * arrays; accumulation is double, left to right. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** The same kernel over driver-side float arrays: the driver twins
    * of the graph loops and the stream router score with it, so their
    * sums are bit-equal to the codegen'd expression's. */
  def compute(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a(i).toDouble * b(i).toDouble
      i += 1
    }
    acc
  }
}

/** All `tables` random-hyperplane LSH buckets of an embedding in ONE
  * pass: bucket(t) has bit j set iff sum_i x_i * sign(t,j,i) > 0.
  *
  * The declarative formulation (posexplode each element, join a
  * broadcast (t,j,i,sign) plane table, aggregate twice) shuffles
  * rows x tables x planes intermediate rows through two hash
  * aggregates — at 100 TB that dwarfs the scan. Here the plane signs
  * are a deterministic pseudo-random table derived exactly as the
  * declarative version derived them (sign = +1 iff
  * xxhash64(planeId, seed=42) is even, planeId = (t*planes+j)*dim+i),
  * memoised per (dim, planes, tables), and each row is a single fused
  * loop — map-only, no shuffle, no join.
  */
case class HyperplaneBuckets(child: Expression, dim: Int, planes: Int, tables: Int)
    extends UnaryExpression {
  require(dim >= 1 && planes >= 1 && planes <= 62 && tables >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HyperplaneBuckets.compute(input.asInstanceOf[ArrayData], dim, planes, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneBuckets.compute($c, $dim, $planes, $tables);")

  override protected def withNewChildInternal(c: Expression): HyperplaneBuckets = copy(child = c)
}

object HyperplaneBuckets {
  def apply(embedding: Column, dim: Int, planes: Int, tables: Int): Column =
    GraftBridge.column(HyperplaneBuckets(
      GraftBridge.expression(embedding), dim, planes, tables))

  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  /** sign(t,j,i) = +1 iff xxhash64((t*planes+j)*dim+i, seed 42) is even
    * — identical to `pmod(xxhash64(id), 2) = 0` over a plane-id range,
    * so buckets are stable across runs, partitionings and releases. */
  private def signs(dim: Int, planes: Int, tables: Int): Array[Double] =
    signCache.computeIfAbsent((dim, planes, tables), { key =>
      val (d, p, t) = key
      val out = new Array[Double](t * p * d)
      var id = 0
      while (id < out.length) {
        val h = XXH64.hashLong(id.toLong, 42L)
        out(id) = if (((h % 2) + 2) % 2 == 0) 1.0 else -1.0
        id += 1
      }
      out
    })

  /** Static kernel (called from generated code). */
  def compute(emb: ArrayData, dim: Int, planes: Int, tables: Int): ArrayData = {
    val sg = signs(dim, planes, tables)
    val n = math.min(emb.numElements(), dim)
    val buckets = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < planes) {
        val base = (t * planes + j) * dim
        var s = 0.0
        var i = 0
        while (i < n) {
          s += emb.getFloat(i).toDouble * sg(base + i)
          i += 1
        }
        if (s > 0) bucket |= (1L << j)
        j += 1
      }
      buckets(t) = bucket
      t += 1
    }
    new GenericArrayData(buckets)
  }
}

/** ADC lookup-table sum — the IVF-PQ candidate scan's inner loop:
  * Σ_m tab[m][codes[m]] over a candidate's m codebook codes and the
  * query's per-subspace lookup table. The composable formulation
  * (`aggregate(zip_with(codes, tab, (cd, t) => element_at(t, cd+1)))`)
  * is interpreted and allocates a zipped array per CANDIDATE row — on
  * the one path PQ exists to make cheap. One fused loop per row,
  * codegen'd via a static call; accumulation is double left-to-right
  * from 0.0, so results are bit-equal to the previous formulation. */
case class AdcSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(codes: Any, tab: Any): Any =
    AdcSum.compute(codes.asInstanceOf[ArrayData], tab.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) =>
      s"${ev.value} = graft.functions.AdcSum.compute($c, $t);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcSum =
    copy(left = l, right = r)
}

object AdcSum {
  def apply(codes: Column, tab: Column): Column =
    GraftBridge.column(AdcSum(GraftBridge.expression(codes), GraftBridge.expression(tab)))

  /** Static kernel (called from generated code): codes int[m],
    * tab double[m][ksub]. */
  def compute(codes: ArrayData, tab: ArrayData): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var i = 0
    while (i < m) {
      acc += tab.getArray(i).getDouble(codes.getInt(i))
      i += 1
    }
    acc
  }
}
