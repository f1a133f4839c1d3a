package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Native quantization kernels for the ANN index paths (SURVEY §4.3
  * tier-b custom expressions). The composed-builtin forms they replace
  * were correct but pathological at plan scale:
  *
  *  - cell ranking was `reverse(array_sort(array(k × struct(SeqDot,
  *    lit))))` — k=200+ struct expressions per row, an O(k log k)
  *    struct-array sort per CORPUS row during index assignment, and a
  *    generated-code body that grows with k;
  *  - PQ encoding was m × nCodes `aggregate(zip_with(...))` trees
  *    (m·nCodes·dsub lambda nodes) and the query distance table another
  *    m × nCodes — at m=8, nCodes=256 that is ~4k expression subtrees,
  *    16 MiB task binaries, and multi-second Janino compiles per plan.
  *
  * Each expression here is ONE generated static call; the codebook rides
  * the codegen references array (`ctx.addReferenceObj`, the StopHits
  * pattern). Floating-point semantics are preserved bit-for-bit — every
  * accumulation below is the same strict left-to-right double fold the
  * builtin chains performed (and the DuckDB oracles replicate):
  * dot = Σ a(i)·c(i), l2² = Σ (a(i)−c(i))², ascending i.
  *
  * Contract (all three): child must be array<double> (callers cast;
  * float→double is exact) with no null elements; a vector whose length
  * differs from the codebook dimension IN EITHER DIRECTION yields null
  * (the composed chains degraded to null through zip_with padding on any
  * length mismatch — computing over a silent d-length prefix of a longer
  * vector would make malformed input look plausible). Double ordering is
  * java.lang.Double.compare throughout, the same total order array_sort
  * uses: NaN sorts greatest deterministically, and the sortWith
  * comparator stays transitive (a NaN under `>`/`==` is not, and TimSort
  * may throw on a non-transitive comparator).
  *
  * Codebooks are held as value-equal IndexedSeqs so Catalyst plan
  * canonicalization / cache dedup see equal expressions for equal
  * indexes (an Array field would compare by identity).
  */
object QuantEval {

  /** Cell ids ordered by (dot desc, cell desc), truncated to `take` —
    * exactly `slice(reverse(array_sort(struct(dot, cell))), 1, take)`.
    */
  def topCells(nvec: ArrayData, cents: Array[Array[Double]],
               take: Int): ArrayData = {
    val k = cents.length
    val d = cents(0).length
    if (nvec.numElements() != d) return null
    val dots = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      var acc = 0.0
      var i = 0
      while (i < d) {
        acc += nvec.getDouble(i) * cent(i)
        i += 1
      }
      dots(c) = acc
      c += 1
    }
    val n = math.min(take, k)
    if (n == 1) {
      // argmax scan, ties to the LARGER cell id (reverse-sort order);
      // Double.compare so a NaN dot wins like array_sort's NaN-greatest
      var best = 0
      var j = 1
      while (j < k) {
        val cmp = java.lang.Double.compare(dots(j), dots(best))
        if (cmp > 0 || (cmp == 0 && j > best)) best = j
        j += 1
      }
      new GenericArrayData(Array[Any](best))
    } else {
      val idx = Array.range(0, k)
      // sort by (dot desc, cell desc) under Double.compare's total order
      val boxed = idx.sortWith { (a, b) =>
        val cmp = java.lang.Double.compare(dots(a), dots(b))
        cmp > 0 || (cmp == 0 && a > b)
      }
      new GenericArrayData(boxed.take(n).map(x => x: Any))
    }
  }

  /** codes(j) = argmin_c Σ_i (vec(j·dsub+i) − cent(c)(i))², ties to the
    * SMALLER code — exactly `array_sort(struct(d, code)).getItem(0)`.
    */
  def pqCodes(vec: ArrayData,
              cents: Array[Array[Array[Double]]]): ArrayData = {
    val m = cents.length
    val dsub = cents(0)(0).length
    if (vec.numElements() != m * dsub) return null
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val book = cents(j)
      val base = j * dsub
      var bestD = Double.PositiveInfinity
      var best = 0
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val diff = vec.getDouble(base + i) - cent(i)
          acc += diff * diff
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = c } // strict: ties keep
        c += 1                                     // the smaller code
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Flat ADC table: entry j·nCodes+c = Σ_i (vec(j·dsub+i) − cent(c)(i))². */
  def pqDistTable(vec: ArrayData,
                  cents: Array[Array[Array[Double]]]): ArrayData = {
    val m = cents.length
    val nCodes = cents(0).length
    val dsub = cents(0)(0).length
    if (vec.numElements() != m * dsub) return null
    val out = new Array[Any](m * nCodes)
    var j = 0
    while (j < m) {
      val book = cents(j)
      val base = j * dsub
      var c = 0
      while (c < nCodes) {
        val cent = book(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val diff = vec.getDouble(base + i) - cent(i)
          acc += diff * diff
          i += 1
        }
        out(j * nCodes + c) = acc
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Σ (vec(i) − cent(i))² over i = 0..d−1: the ONE strict ascending-i
    * left-to-right double fold every centroid argmin below shares —
    * the bit-for-bit mirror of the oracle's `list_reduce` and of the
    * composed `aggregate(zip_with(...))` form. Factored so the three
    * kernels ([[nearestCentroid]], [[nearestCentroidVar]],
    * [[nearestCentroids]]) cannot drift apart: a one-sided edit to the
    * fold would silently break the bit-parity contract the oracles and
    * ExtensionsSpec pins depend on.
    */
  private def l2sq(vec: ArrayData, cent: Array[Double], d: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < d) {
      val diff = vec.getDouble(i) - cent(i)
      acc += diff * diff
      i += 1
    }
    acc
  }

  /** [[l2sq]] with the centroid coming from DATA (an ArrayData column
    * element) — same fold, same order, bit for bit. */
  private def l2sq(vec: ArrayData, cv: ArrayData, d: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < d) {
      val diff = vec.getDouble(i) - cv.getDouble(i)
      acc += diff * diff
      i += 1
    }
    acc
  }

  /** (argmin cluster id, its squared L2) over the centroid matrix —
    * exactly `array_min(array(k × struct(l2², id)))` with ids sorted
    * ascending: Double.compare keeps NaN greatest, and a distance tie
    * keeps the smaller POSITION = smaller id. The running best SEEDS
    * from row 0 (not +∞) so an all-NaN vector returns (ids(0), NaN),
    * the exact value the composed struct-min form yields — seeding
    * from +∞ would report +∞ there and break the pinned bit parity.
    */
  def nearestCentroid(vec: ArrayData, ids: Array[Int],
                      cents: Array[Array[Double]]): InternalRow = {
    val d = cents(0).length
    if (vec.numElements() != d) return null
    var best = 0
    var bestD = l2sq(vec, cents(0), d)
    var c = 1
    while (c < cents.length) {
      val acc = l2sq(vec, cents(c), d)
      if (java.lang.Double.compare(acc, bestD) < 0) { bestD = acc; best = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](ids(best), bestD))
  }

  /** [[nearestCentroid]] with the centroid table coming from DATA
    * instead of the plan: `marr` is an array of (cluster int,
    * cv array&lt;double&gt;) structs sorted by cluster id — the
    * frame-resident assignment's per-super member array. Same
    * semantics bit for bit: distances are the same strict ascending-i
    * fold, the argmin seeds from member 0 and ties keep the earlier
    * (= smaller cluster id) position under Double.compare. Null for
    * an empty array or a vector whose length differs from member 0's
    * dimension (members share a dimension by construction).
    */
  def nearestCentroidVar(vec: ArrayData, marr: ArrayData): InternalRow = {
    val k = marr.numElements()
    if (k == 0) return null
    val first = marr.getStruct(0, 2)
    val d = first.getArray(1).numElements()
    if (vec.numElements() != d) return null
    var best = first
    var bestD = l2sq(vec, first.getArray(1), d)
    var c = 1
    while (c < k) {
      val m = marr.getStruct(c, 2)
      val cv = m.getArray(1)
      // the member table comes from DATA (unlike the literal kernels'
      // constructor-validated codebooks): a ragged member row would
      // read past its buffer — fail loudly instead
      if (cv.numElements() != d)
        throw new IllegalArgumentException(
          "nearest_centroid_in: ragged member centroid (dimension " +
          "mismatch inside the member table)")
      val acc = l2sq(vec, cv, d)
      if (java.lang.Double.compare(acc, bestD) < 0) { bestD = acc; best = m }
      c += 1
    }
    new GenericInternalRow(Array[Any](best.getInt(0), bestD))
  }

  /** Top-`take` centroid ids by (squared-L2 asc, POSITION asc) — the
    * multi-probe mirror of [[nearestCentroid]] (the shared [[l2sq]]
    * fold, same Double.compare total order, same tie rule; `take = 1`
    * returns exactly `[nearestCentroid(...).cluster]`). Precondition
    * (the companion apply requires it): `ids` sorted ascending, so the
    * position tie IS the id tie — ties break by array position here,
    * which equals "id asc" only under that sorted-table contract.
    * Returns min(take, k) ids. L2-metric — [[topCells]] is the
    * dot-metric IVF cousin and orders the OPPOSITE way.
    */
  def nearestCentroids(vec: ArrayData, ids: Array[Int],
                       cents: Array[Array[Double]], take: Int): ArrayData = {
    val k = cents.length
    val d = cents(0).length
    if (vec.numElements() != d) return null
    val dists = new Array[Double](k)
    var c = 0
    while (c < k) {
      dists(c) = l2sq(vec, cents(c), d)
      c += 1
    }
    val n = math.min(take, k)
    new GenericArrayData(selectTop(dists, ids, n).map(x => x: Any))
  }

  /** The shared top-n selection under (distance asc, POSITION asc) —
    * insertion-select over n slots, O(n·k), n is 2-4 in practice.
    * Factored so [[nearestCentroids]] and [[nearestCentroidsVar]]
    * cannot drift apart (the l2sq stance). */
  private def selectTop(dists: Array[Double], ids: Array[Int],
                        n: Int): Array[Int] = {
    val k = dists.length
    val slots = new Array[Int](n)
    val taken = new Array[Boolean](k)
    var s = 0
    while (s < n) {
      var best = -1
      var j = 0
      while (j < k) {
        if (!taken(j) && (best < 0 ||
            java.lang.Double.compare(dists(j), dists(best)) < 0)) best = j
        j += 1
      }
      taken(best) = true
      slots(s) = ids(best)
      s += 1
    }
    slots
  }

  /** [[nearestCentroids]] with the centroid table coming from DATA —
    * the three-level multi-probe MID routing (Kmeans.Assigner.Routed3):
    * `marr` is an array of (id int, cv array&lt;double&gt;)
    * structs sorted by id (position tie = id tie, the
    * [[nearestCentroidVar]] contract). Same shared [[l2sq]] fold, same
    * Double.compare total order, same position-tie rule; `take = 1`
    * returns exactly `[nearestCentroidVar(...).cluster]`. Null for an
    * empty table or a vector-dimension mismatch; a ragged member row
    * fails loudly (it comes from data, not a validated constructor).
    * Returns min(take, table size) ids.
    */
  def nearestCentroidsVar(vec: ArrayData, marr: ArrayData,
                          take: Int): ArrayData = {
    val k = marr.numElements()
    if (k == 0) return null
    val first = marr.getStruct(0, 2)
    val d = first.getArray(1).numElements()
    if (vec.numElements() != d) return null
    val dists = new Array[Double](k)
    val ids = new Array[Int](k)
    var c = 0
    while (c < k) {
      val m = marr.getStruct(c, 2)
      val cv = m.getArray(1)
      if (cv.numElements() != d)
        throw new IllegalArgumentException(
          "nearest_centroids_in: ragged member centroid (dimension " +
          "mismatch inside the member table)")
      ids(c) = m.getInt(0)
      dists(c) = l2sq(vec, cv, d)
      c += 1
    }
    val n = math.min(take, k)
    new GenericArrayData(selectTop(dists, ids, n).map(x => x: Any))
  }
}

/** Top-`take` coarse-quantizer cells by (dot desc, cell desc). */
case class TopCells(child: Expression,
                    centroids: IndexedSeq[IndexedSeq[Double]], take: Int)
    extends UnaryExpression {
  require(take >= 1, "take must be >= 1")

  override def dataType: DataType = ArrayType(IntegerType, false)
  override def nullIntolerant: Boolean = true
  // null for a vector shorter than the centroid dimension
  override def nullable: Boolean = true
  override def prettyName: String = "top_cells"

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    QuantEval.topCells(v.asInstanceOf[ArrayData], cents, take)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCentroids", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.QuantEval.topCells($c, $ref, $take);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): TopCells =
    copy(child = c)
}

object TopCells {
  def apply(nvec: Column, centroids: Array[Array[Double]],
            take: Int): Column =
    GraftBridge.column(TopCells(
      Cast(GraftBridge.expression(nvec), ArrayType(DoubleType)),
      centroids.map(_.toIndexedSeq).toIndexedSeq, take))
}

/** PQ encode: per-subspace argmin codes. */
case class PqCodes(child: Expression,
                   centroids: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "pq_codes"

  @transient private lazy val cents: Array[Array[Array[Double]]] =
    centroids.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(v: Any): Any =
    QuantEval.pqCodes(v.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCentroids", cents, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.QuantEval.pqCodes($c, $ref);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): PqCodes =
    copy(child = c)
}

object PqCodes {
  def apply(vec: Column,
            centroids: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqCodes(
      Cast(GraftBridge.expression(vec), ArrayType(DoubleType)),
      centroids.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))
}

/** Query-side flat ADC distance table (m·nCodes doubles). */
case class PqDistTable(child: Expression,
                       centroids: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "pq_dist_table"

  @transient private lazy val cents: Array[Array[Array[Double]]] =
    centroids.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(v: Any): Any =
    QuantEval.pqDistTable(v.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCentroids", cents, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.QuantEval.pqDistTable($c, $ref);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): PqDistTable =
    copy(child = c)
}

object PqDistTable {
  def apply(vec: Column,
            centroids: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqDistTable(
      Cast(GraftBridge.expression(vec), ArrayType(DoubleType)),
      centroids.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))
}

/** Nearest centroid by squared L2 — struct(cluster, d) with the argmin
  * tie to the smaller cluster id. The k-means hot kernel
  * (Kmeans.lloyd / assign / nearDupPairs): ONE generated static call
  * regardless of k, replacing the composed
  * `array_min(array(k × struct(aggregate(zip_with(...)), lit(id))))`
  * form whose generated code grew with k — fine at the demo k=8, fatal
  * at the thousands-of-cells SemDeDup needs (the TopCells lesson,
  * see the module doc). Bit parity with the composed form: the same
  * ascending-i strict left-to-right double fold per centroid, and the
  * same (d, cluster) total order under java.lang.Double.compare
  * (NaN-greatest; an all-NaN row keeps the smallest id). `ids` must be
  * sorted ascending so position ties ARE id ties — Kmeans builds its
  * centroid tables sorted, and the companion apply requires it.
  */
case class NearestCentroid(child: Expression,
                           ids: IndexedSeq[Int],
                           centroids: IndexedSeq[IndexedSeq[Double]])
    extends UnaryExpression {
  require(ids.nonEmpty && ids.length == centroids.length,
    "ids and centroids must be parallel and non-empty")

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("d", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  // null for a vector whose length differs from the centroid dimension
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val idArr: Array[Int] = ids.toArray
  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    QuantEval.nearestCentroid(v.asInstanceOf[ArrayData], idArr, cents)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val refIds = ctx.addReferenceObj("kmeansIds", idArr, "int[]")
    val refC = ctx.addReferenceObj("kmeansCentroids", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.QuantEval.nearestCentroid($c, $refIds, $refC);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

object NearestCentroid {
  def apply(vec: Column, cents: Array[(Int, Array[Double])]): Column = {
    require(cents.map(_._1).sameElements(cents.map(_._1).sorted),
      "centroid rows must be sorted by cluster id (position tie = id tie)")
    GraftBridge.column(NearestCentroid(
      Cast(GraftBridge.expression(vec), ArrayType(DoubleType)),
      cents.map(_._1).toIndexedSeq,
      cents.map(_._2.toIndexedSeq).toIndexedSeq))
  }
}

/** [[NearestCentroid]] with the centroid table from a COLUMN — the
  * frame-resident assignment kernel (Kmeans.Assigner.Routed): the member
  * table arrives via a 1:1 join as an array of (cluster, cv) structs,
  * and the argmin is ONE generated static call per row. The composed
  * `aggregate(slice(...), ...)` HOF form was semantically identical
  * but interpreted — per row it allocated a zip_with intermediate per
  * member and evaluated the lambda tree ~2× per step, an
  * order-of-magnitude wall regression at k/√k = 100 members
  * (SCALECURVE §12b caught it). Bit parity with [[NearestCentroid]]:
  * same fold, same seed-from-member-0, same (d, position) tie order.
  */
case class NearestCentroidIn(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("d", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  // null for an empty member array or a dimension mismatch
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_in"

  override def nullSafeEval(v: Any, marr: Any): Any =
    QuantEval.nearestCentroidVar(v.asInstanceOf[ArrayData],
      marr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => s"""
      |${ev.value} = graft.functions.QuantEval.nearestCentroidVar($v, $m);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): NearestCentroidIn =
    copy(left = l, right = r)
}

object NearestCentroidIn {
  /** `marr` must be array&lt;struct&lt;cluster:int, cv:array&lt;double&gt;&gt;&gt;
    * sorted by cluster id (position tie = id tie — the same contract
    * as the literal kernel's sorted table). */
  def apply(vec: Column, marr: Column): Column =
    GraftBridge.column(NearestCentroidIn(
      Cast(GraftBridge.expression(vec), ArrayType(DoubleType)),
      GraftBridge.expression(marr)))
}

/** Top-`take` centroid ids by (squared L2 asc, id asc) — the multi-probe
  * routing kernel (Kmeans.Assigner.Routed / Routed3): the IVF nProbe
  * idea applied to the L2 metric with [[NearestCentroid]]'s exact
  * distance fold and tie order, so `take = 1` is bit-equal to
  * `array(nearest_centroid(v).cluster)`. Returns min(take, k) ids.
  */
case class NearestCentroids(child: Expression,
                            ids: IndexedSeq[Int],
                            centroids: IndexedSeq[IndexedSeq[Double]],
                            take: Int)
    extends UnaryExpression {
  require(take >= 1, "take must be >= 1")
  require(ids.nonEmpty && ids.length == centroids.length,
    "ids and centroids must be parallel and non-empty")

  override def dataType: DataType = ArrayType(IntegerType, false)
  override def nullIntolerant: Boolean = true
  // null for a vector whose length differs from the centroid dimension
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroids"

  @transient private lazy val idArr: Array[Int] = ids.toArray
  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    QuantEval.nearestCentroids(v.asInstanceOf[ArrayData], idArr, cents, take)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val refIds = ctx.addReferenceObj("kmeansIds", idArr, "int[]")
    val refC = ctx.addReferenceObj("kmeansCentroids", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.QuantEval.nearestCentroids($c, $refIds, $refC, $take);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroids =
    copy(child = c)
}

object NearestCentroids {
  def apply(vec: Column, cents: Array[(Int, Array[Double])],
            take: Int): Column = {
    require(cents.map(_._1).sameElements(cents.map(_._1).sorted),
      "centroid rows must be sorted by cluster id (position tie = id tie)")
    GraftBridge.column(NearestCentroids(
      Cast(GraftBridge.expression(vec), ArrayType(DoubleType)),
      cents.map(_._1).toIndexedSeq,
      cents.map(_._2.toIndexedSeq).toIndexedSeq, take))
  }
}

/** [[NearestCentroids]] with the centroid table from a COLUMN — the
  * frame-resident multi-probe kernel (Kmeans.Assigner.Routed3 probes
  * each routed super's MID table, which arrives via
  * a 1:1 join as an array of (mid, mcv) structs). Bit parity triangle:
  * `take = 1` equals `[NearestCentroidIn(...).cluster]`, and against
  * [[NearestCentroids]] it is the same shared fold/order/tie semantics
  * with the table read from data instead of the plan.
  */
case class NearestCentroidsIn(left: Expression, right: Expression,
                              take: Int)
    extends BinaryExpression {
  require(take >= 1, "take must be >= 1")

  override def dataType: DataType = ArrayType(IntegerType, false)
  override def nullIntolerant: Boolean = true
  // null for an empty member table or a dimension mismatch
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroids_in"

  override def nullSafeEval(v: Any, marr: Any): Any =
    QuantEval.nearestCentroidsVar(v.asInstanceOf[ArrayData],
      marr.asInstanceOf[ArrayData], take)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => s"""
      |${ev.value} = graft.functions.QuantEval.nearestCentroidsVar($v, $m, $take);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): NearestCentroidsIn =
    copy(left = l, right = r)
}

object NearestCentroidsIn {
  /** `marr` must be array&lt;struct&lt;id:int, cv:array&lt;double&gt;&gt;&gt;
    * sorted by id (position tie = id tie — the [[NearestCentroidIn]]
    * contract). */
  def apply(vec: Column, marr: Column, take: Int): Column =
    GraftBridge.column(NearestCentroidsIn(
      Cast(GraftBridge.expression(vec), ArrayType(DoubleType)),
      GraftBridge.expression(marr), take))
}
