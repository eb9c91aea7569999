package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Codegen'd vector kernels for the similarity/dedup/clustering hot
  * loops. The declarative forms (`aggregate(zip_with(...))`) are
  * evaluated INTERPRETED per row — on an n² pair join that lambda
  * interpreter is the entire profile. These expressions splice a tight
  * primitive loop into whole-stage codegen instead.
  *
  * Float parity: both kernels accumulate LEFT-TO-RIGHT from 0.0 —
  * exactly the fold order of the `aggregate(zip_with(..))` forms they
  * replace and of the DuckDB oracle's `list_reduce(list_prepend(0.0,
  * ...))` — so results are bit-identical and oracle hash checks are
  * unaffected.
  *
  * Element nulls are NOT supported: these are primitive kernels
  * (NULL input arrays → NULL result via the null-safe wrapper, but a
  * NULL *element* is undefined, as for any primitive vector math).
  * Callers materialize dense vectors (the engine's embedding columns
  * are non-null floats). Mismatched LENGTHS return NULL — the same
  * ragged-vector behavior as the zip_with forms (which pad with NULL
  * and propagate), so a malformed embedding yields NULL, never a
  * silently-truncated prefix product. */
abstract class VectorFold extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${prettyName} requires two array<double> arguments, got ($l, $r)")
    }

  /** Java source for one accumulation term given element vars `x`/`y`. */
  protected def termJava(x: String, y: String): String
  protected def termEval(x: Double, y: Double): Double

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val u = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[ArrayData]
    val n = u.numElements()
    if (n != v.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        s += termEval(u.getDouble(i), v.getDouble(i))
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $s += ${termJava(x, y)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
}

/** Left-fold dot product Σ aᵢ·bᵢ of two array<double>. */
case class DotF64(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "dot_f64"
  override protected def termJava(x: String, y: String): String = s"$x * $y"
  override protected def termEval(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF64 =
    copy(left = l, right = r)
}

/** Left-fold squared L2 distance Σ (aᵢ−bᵢ)² of two array<double>. */
case class SqDistF64(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "sqdist_f64"
  override protected def termJava(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def termEval(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistF64 =
    copy(left = l, right = r)
}

/** EXACT integer squared L2 distance Σ (aᵢ−bᵢ)² of two array<bigint> —
  * the fixed-point kernel behind the oracle-exact q_kmeans: integer
  * adds are reassociation-proof, so the DuckDB oracle's unordered sums
  * match bit-for-bit with no fold-order contract at all. Overflow-safe
  * while Σ(aᵢ−bᵢ)² < 2⁶³ (micro-unit embeddings: terms ≈ 4e12, 64 dims
  * ≈ 3e14 — five orders of headroom). Same null/ragged semantics as
  * the double kernels. */
case class SqDistI64(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "sqdist_i64"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val u = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[ArrayData]
    val n = u.numElements()
    if (n != v.numElements()) null
    else {
      var s = 0L
      var i = 0
      while (i < n) {
        val d = u.getLong(i) - v.getLong(i)
        s += d * d
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistI64 =
    copy(left = l, right = r)
}

/** All LSH table signatures of one vector in ONE compiled loop:
  * result[t] = Σ_{i < nPlanes} (⟨plane_{t·stride+i}, e⟩ > 0 ? 1<<i : 0)
  * for t < nTables. The declarative form — an `array(...)` of
  * nTables·nPlanes `when(dot(..) > 0, ..)` branches — grows with the
  * table count and blows the 64 KB Janino method limit at 12 tables ×
  * 8 bits (96 unrolled dot kernels), dropping the whole projection to
  * interpreted mode; here the generated code is a FIXED-SIZE triple
  * loop over a referenced plane pool, so bytecode is constant no
  * matter how many tables the corpus size demands.
  *
  * Bit parity: the inner dot accumulates left-to-right from 0.0 —
  * exactly [[DotF64]]'s fold and the DuckDB oracle's
  * `list_reduce(list_prepend(0.0, ...))` — so signs, buckets, and
  * oracle hashes are unchanged. `planesFlat` is the pool flattened
  * row-major (plane-major, `dims` doubles per plane); a vector whose
  * length ≠ `dims` yields NULL (the VectorFold ragged convention). */
case class LshSignatures(child: Expression, planesFlat: Array[Double],
    dims: Int, stride: Int, nTables: Int, nPlanes: Int)
    extends UnaryExpression {
  override def prettyName: String = "lsh_signatures"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<double> argument, got $t")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    if (e.numElements() != dims) null
    else {
      val out = new Array[Int](nTables)
      var t = 0
      while (t < nTables) {
        var bucket = 0
        var i = 0
        while (i < nPlanes) {
          val base = (t * stride + i) * dims
          var s = 0.0
          var j = 0
          while (j < dims) { s += planesFlat(base + j) * e.getDouble(j); j += 1 }
          if (s > 0) bucket |= 1 << i
          i += 1
        }
        out(t) = bucket
        t += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("lshPlanes", planesFlat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val t = ctx.freshName("t"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val s = ctx.freshName("s")
      val base = ctx.freshName("base"); val bucket = ctx.freshName("bucket")
      val out = ctx.freshName("out")
      s"""
         |if ($a.numElements() != $dims) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $out = new int[$nTables];
         |  for (int $t = 0; $t < $nTables; $t++) {
         |    int $bucket = 0;
         |    for (int $i = 0; $i < $nPlanes; $i++) {
         |      int $base = ($t * $stride + $i) * $dims;
         |      double $s = 0.0;
         |      for (int $j = 0; $j < $dims; $j++) {
         |        $s += $pl[$base + $j] * $a.getDouble($j);
         |      }
         |      if ($s > 0) $bucket |= 1 << $i;
         |    }
         |    $out[$t] = $bucket;
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): LshSignatures =
    copy(child = c)
}

/** The nProbe nearest centroids of one micro-unit vector as
  * array<struct<d2: bigint, cid: int>> ordered by (d2, cid) — the
  * compiled replacement for `array_sort(array(<K dist structs>))`.
  *
  * The declarative form materializes K struct expressions each
  * carrying its own [[SqDistI64]] kernel and a 64-element centroid
  * literal; past ~100 centroids the projection overflows Janino's
  * 64 KB method limit and the WHOLE K·dims assignment drops to
  * interpreted mode — at sf1 (K = √20000 ≈ 141) that made every
  * IVF/IVFPQ build and the blocked kNN join fit-dominated (~95-110 s).
  * Here the K·dims loop is compiled Scala behind one eval call
  * (CodegenFallback: the surrounding stage stays in whole-stage
  * codegen; one boxed call per row is noise against the K·dims·
  * multiply loop this expression exists to run).
  *
  * Parity contract (the DuckDB oracles replay assignment/probe
  * ranking): distances are the exact BIGINT Σ(aᵢ−bᵢ)² of SqDistI64 —
  * integer, reassociation-proof — and the (d2 asc, cid asc) order is
  * exactly `array_sort`'s lexicographic struct order. Ranking sorts
  * (d2 << 12 | cid) packed longs — order-preserving because
  * nCents ≤ 4096 = 2^12 and micro-unit d2 (≲ 7e13 for 64-dim ±2e6
  * inputs) stays far under 2^51; a d2 beyond the packable bound falls
  * back to an equivalent comparator sort, so the order contract holds
  * for ANY input. NULL child → NULL; length ≠ dims → NULL (the
  * VectorFold ragged convention). */
case class NearestLists(child: Expression, centsFlat: Array[Long],
    dims: Int, nCents: Int, nProbe: Int)
    extends UnaryExpression with CodegenFallback {
  require(nCents >= 1 && nCents <= 4096, s"nCents $nCents outside [1, 4096]")
  require(nProbe >= 1, s"nProbe $nProbe must be positive")

  override def prettyName: String = "nearest_lists"
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("d2", LongType, nullable = false),
      StructField("cid", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<bigint> argument, got $t")
    }

  private val m = math.min(nProbe, nCents)
  /** d2 values above this can't share the long with a 12-bit cid. */
  private val PackBound = Long.MaxValue >> 12

  override protected def nullSafeEval(a: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    if (e.numElements() != dims) null
    else {
      val d2s = new Array[Long](nCents)
      var packable = true
      var c = 0
      while (c < nCents) {
        var s = 0L
        var j = 0
        val base = c * dims
        while (j < dims) {
          val d = e.getLong(j) - centsFlat(base + j)
          s += d * d
          j += 1
        }
        if (s > PackBound) packable = false
        d2s(c) = s
        c += 1
      }
      val out = new Array[Any](m)
      if (packable) {
        val packed = new Array[Long](nCents)
        var i = 0
        while (i < nCents) { packed(i) = (d2s(i) << 12) | i; i += 1 }
        java.util.Arrays.sort(packed)
        i = 0
        while (i < m) {
          out(i) = org.apache.spark.sql.catalyst.InternalRow(
            packed(i) >>> 12, (packed(i) & 0xFFF).toInt)
          i += 1
        }
      } else {
        // rare path (inputs beyond micro-unit range): same (d2, cid)
        // order via an index comparator — d2 ≥ 0, no overflow tricks
        val idx = Array.range(0, nCents).sortWith { (x, y) =>
          d2s(x) < d2s(y) || (d2s(x) == d2s(y) && x < y)
        }
        var i = 0
        while (i < m) {
          out(i) = org.apache.spark.sql.catalyst.InternalRow(d2s(idx(i)), idx(i))
          i += 1
        }
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): NearestLists =
    copy(child = c)
}

/** All PQ subspace codes of one micro-unit vector in ONE compiled
  * pass — the encode kernel of the PQ/IVFPQ family (guide: eliminate
  * per-row expression-tree interpretation in the hot path). The
  * declarative form it replaces materializes, per row, M ·
  * K `struct(sqdist(slice(e, …), lit(codeword)), code)` expressions
  * plus M `array_min`s — at M = 8, K = 16 that is 128 struct
  * allocations and 128 array slices per vector just to pick 8 argmins.
  * Here the whole M·K·D loop runs as compiled Scala behind one eval
  * call (the [[NearestLists]] CodegenFallback rationale: the
  * surrounding projection stays in whole-stage codegen, one boxed call
  * per row is noise against the K·D multiply loop).
  *
  * Parity contract (the DuckDB oracles replay the encode): distances
  * are the exact BIGINT Σ(aᵢ−bᵢ)² of [[SqDistI64]] and ties go to the
  * LOWER code — exactly `array_min`'s lexicographic (d2, code) struct
  * order (the strict `<` keeps the first/lowest code on equal d2).
  * `booksFlat` is the (possibly ragged — tiny corpora fit fewer than K
  * codewords) codebook family flattened codeword-major; `ks(s)` is
  * subspace s's codeword count. NULL child → NULL; length ≠
  * subspaces·dims → NULL (the VectorFold ragged convention). */
case class PqEncodeCodes(child: Expression, booksFlat: Array[Long],
    dims: Int, subspaces: Int, ks: Array[Int])
    extends UnaryExpression with CodegenFallback {
  require(ks.length == subspaces && ks.forall(_ >= 1),
    s"need >= 1 codeword in each of $subspaces subspaces")

  override def prettyName: String = "pq_encode_codes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<bigint> argument, got $t")
    }

  /** Codeword offset of each subspace within [[booksFlat]]. */
  private val offs = ks.scanLeft(0)(_ + _)

  override protected def nullSafeEval(a: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    if (e.numElements() != dims * subspaces) null
    else {
      val out = new Array[Int](subspaces)
      var s = 0
      while (s < subspaces) {
        var bestD = Long.MaxValue
        var bestC = 0
        var c = 0
        while (c < ks(s)) {
          val base = (offs(s) + c) * dims
          var d2 = 0L
          var j = 0
          while (j < dims) {
            val d = e.getLong(s * dims + j) - booksFlat(base + j)
            d2 += d * d
            j += 1
          }
          if (d2 < bestD) { bestD = d2; bestC = c }
          c += 1
        }
        out(s) = bestC
        s += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): PqEncodeCodes =
    copy(child = c)
}

/** Quantile-boundary slice key for the grouped-rank machinery:
  * slc = 2·|{b ∈ bounds : b < x}| + [x ∈ bounds] over a SORTED
  * DISTINCT boundary array — one binary search per row. The
  * declarative form (a when-chain of 2·|bounds| comparisons) overflows
  * Janino's 64 KB method limit near 64 boundaries and drops the whole
  * projection to interpreted mode (the LshSignatures lesson — measured
  * 4-10× on the rank consumers). Supports BIGINT and DOUBLE x via the
  * matching boundary array (exactness: no cross-type casts). DOUBLE
  * x is searched as x + 0.0, folding -0.0 into 0.0 as Spark's value
  * order does; `binarySearch` already places NaN after every number. */
case class QuantileSliceKey(child: Expression, boundsL: Array[Long],
    boundsD: Array[Double]) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "quantile_slice_key"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType if boundsL != null => TypeCheckResult.TypeCheckSuccess
      case DoubleType if boundsD != null => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: no boundary array for input type $t")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val i = child.dataType match {
      case LongType => java.util.Arrays.binarySearch(boundsL, a.asInstanceOf[Long])
      case _ => java.util.Arrays.binarySearch(boundsD, a.asInstanceOf[Double] + 0.0)
    }
    if (i >= 0) 2L * i + 1L else 2L * (-(i + 1))
  }

  override protected def withNewChildInternal(c: Expression): QuantileSliceKey =
    copy(child = c)
}

/** Heavy-duplicate sub-key: when x equals one of the (sorted, distinct)
  * `heavies`, the count of that value's id-boundaries below `id` (its
  * id-range bucket); 0 otherwise. One binary search on x + one on id.
  * `idBoundsFlat`/`offs` hold each heavy's sorted id boundaries
  * back-to-back (offs(h) .. offs(h+1)). Same Janino rationale as
  * [[QuantileSliceKey]]. */
case class HeavySubKey(left: Expression, right: Expression,
    heaviesL: Array[Long], heaviesD: Array[Double],
    idBoundsFlat: Array[Long], offs: Array[Int])
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "heavy_sub_key"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) if heaviesL != null =>
        TypeCheckResult.TypeCheckSuccess
      case (DoubleType, LongType) if heaviesD != null =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: unsupported input types ($l, $r)")
    }

  override protected def nullSafeEval(x: Any, id: Any): Any = {
    val h = left.dataType match {
      case LongType => java.util.Arrays.binarySearch(heaviesL, x.asInstanceOf[Long])
      case _ => java.util.Arrays.binarySearch(heaviesD, x.asInstanceOf[Double] + 0.0)
    }
    if (h < 0) 0L
    else {
      val lo = offs(h)
      val hi = offs(h + 1)
      val i = java.util.Arrays.binarySearch(idBoundsFlat, lo, hi,
        id.asInstanceOf[Long])
      // bucket = #bounds < id; ties (id == bound) go to the LOWER
      // bucket so every bound splits deterministically
      val below = if (i >= 0) i - lo else -(i + 1) - lo
      below.toLong
    }
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): HeavySubKey = copy(left = l, right = r)
}

object VectorExprs {
  /** Column form: dot product. */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(DotF64(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column form: squared L2 distance. */
  def sqDist(a: Column, b: Column): Column =
    ColumnShim.column(SqDistF64(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column form: exact integer squared L2 distance. */
  def sqDistLong(a: Column, b: Column): Column =
    ColumnShim.column(SqDistI64(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column form: all LSH table signatures in one compiled loop. */
  def lshSignatures(e: Column, planes: Array[Array[Double]], dims: Int,
                    stride: Int, nTables: Int, nPlanes: Int): Column =
    ColumnShim.column(LshSignatures(ColumnShim.expression(e),
      planes.flatten, dims, stride, nTables, nPlanes))

  /** Column form: the nProbe nearest centroids as ordered
    * (d2, cid) structs. `cents` is the centroid matrix (row = cid). */
  def nearestLists(e: Column, cents: Array[Array[Long]], nProbe: Int): Column =
    ColumnShim.column(NearestLists(ColumnShim.expression(e),
      cents.flatten, cents.head.length, cents.length, nProbe))

  /** Column form: all PQ subspace codes in one compiled pass.
    * `books` is the [subspace][code][dim] codebook family. */
  def pqEncodeCodes(e: Column, books: Array[Array[Array[Long]]]): Column =
    ColumnShim.column(PqEncodeCodes(ColumnShim.expression(e),
      books.flatten.flatten, books.head.head.length, books.length,
      books.map(_.length)))

  /** Column form: quantile-boundary slice key (BIGINT x). */
  def sliceKeyLong(x: Column, bounds: Array[Long]): Column =
    ColumnShim.column(QuantileSliceKey(ColumnShim.expression(x), bounds, null))

  /** Column form: quantile-boundary slice key (DOUBLE x). */
  def sliceKeyDouble(x: Column, bounds: Array[Double]): Column =
    ColumnShim.column(QuantileSliceKey(ColumnShim.expression(x), null, bounds))

  /** Column form: heavy-duplicate id sub-key (BIGINT x). */
  def heavySubLong(x: Column, id: Column, heavies: Array[Long],
      idBoundsFlat: Array[Long], offs: Array[Int]): Column =
    ColumnShim.column(HeavySubKey(ColumnShim.expression(x),
      ColumnShim.expression(id), heavies, null, idBoundsFlat, offs))

  /** Column form: heavy-duplicate id sub-key (DOUBLE x). */
  def heavySubDouble(x: Column, id: Column, heavies: Array[Double],
      idBoundsFlat: Array[Long], offs: Array[Int]): Column =
    ColumnShim.column(HeavySubKey(ColumnShim.expression(x),
      ColumnShim.expression(id), null, heavies, idBoundsFlat, offs))
}
