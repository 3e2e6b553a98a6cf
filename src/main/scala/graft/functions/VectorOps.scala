package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, sqrt => ssqrt}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native Catalyst expressions for dense-vector math over array<double>
  * columns.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) express a dot
  * product declaratively but are evaluated INTERPRETED — per-element lambda
  * dispatch, boxed accumulators, and no whole-stage codegen. For ANN /
  * similarity scans the dot product is the hot loop, so these expressions
  * generate a tight primitive `double` loop instead (doGenCode), keeping the
  * surrounding scan inside WholeStageCodegen. Summation order is identical
  * to the HOF fold (left-to-right), so results are bit-equal to the
  * `aggregate(zip_with(...))` formulation and to the DuckDB oracle's
  * list_sum(list_transform(...)) replay.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  // Length mismatch yields NULL — zip_with pads the shorter array with nulls,
  // so the HOF fold this expression replaces returns NULL there; the rewrite
  // rule stays value-preserving.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 norm with the same loop shape (codegen'd). */
case class SquaredNorm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val v = x.getDouble(i)
      acc += v * v
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $x.getDouble($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Random-hyperplane LSH band keys for an array<double> vector.
  *
  * bands*bitsPerBand deterministic Rademacher hyperplanes (entry for
  * hyperplane p, dimension d is ±1 from the parity of XXH64(d, seed=p) — no
  * runtime RNG); the output is array<long> of length `bands` where element b
  * packs the sign bits of hyperplanes [b*bitsPerBand, (b+1)*bitsPerBand).
  * Two vectors at angle θ agree on each bit with probability 1 − θ/π, so
  * near-duplicates (cosine→1) collide in some band with overwhelming
  * probability while random pairs scatter across 2^bitsPerBand buckets.
  *
  * One eval per row with a tight primitive loop (the [[NativeUnary]]
  * shape); the ±1 plane matrix is materialized once per task and reused
  * across rows.
  */
case class SignRandomProjection(child: Expression, bands: Int, bitsPerBand: Int)
    extends NativeUnary(ArrayType(DoubleType)) {
  require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 64,
    "bands >= 1 and 1 <= bitsPerBand <= 64 required")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // per-task cache of the ±1 plane matrix (flattened planes x dim); rebuilt
  // only if the vector dimensionality changes. A benign race on rebuild is
  // possible and idempotent, so no synchronization is needed.
  @transient private var cachedSigns: Array[Double] = _
  @transient private var cachedDim: Int = -1

  private def signsFor(dim: Int): Array[Double] = {
    if (cachedDim != dim) {
      val planes = bands * bitsPerBand
      val arr = new Array[Double](planes * dim)
      var p = 0
      while (p < planes) {
        var d = 0
        while (d < dim) {
          arr(p * dim + d) =
            if ((XXH64.hashLong(d.toLong, p) & 1L) == 0L) 1.0
            else -1.0
          d += 1
        }
        p += 1
      }
      cachedSigns = arr
      cachedDim = dim
    }
    cachedSigns
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  def compute(v: ArrayData): ArrayData = {
    val dim = v.numElements()
    val signs = signsFor(dim)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < bitsPerBand) {
        val base = (b * bitsPerBand + j) * dim
        var acc = 0.0
        var d = 0
        while (d < dim) {
          acc += signs(base + d) * v.getDouble(d)
          d += 1
        }
        if (acc >= 0.0) key |= (1L << j)
        j += 1
      }
      out(b) = key
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Packed adaptive-SRP bucket bits for one vector against a FIXED ±1 sign
  * matrix (the md5-derived `rp|j|i` hyperplanes of
  * graft.ops.Similarity.srpSigns, shipped as a constructor literal).
  *
  * Replaces the former per-bit `aggregate(zip_with(v, signs_j, _*_))`
  * column stack: bit j is set iff the left-to-right fold of v(i)·sg_j(i)
  * is STRICTLY positive (`> 0`, matching the `when(p_j > 0, …)` column it
  * replaces — note SignRandomProjection above uses `>= 0` over different
  * hyperplanes), and the packed value is masked to the adaptive width.
  * Identical fold order ⇒ identical projections ⇒ identical bits, so the
  * DuckDB CTEs that re-derive the buckets replay unchanged. The HOF stack
  * was 16 interpreted lambda folds per row and ~10³ expression-tree nodes
  * re-planned per query execution — a row-count-INDEPENDENT constant on
  * every operator that references the bucketed frame more than once
  * (the approx_count_distinct planning lesson).
  *
  * One eval per row with a tight primitive loop; a vector whose length
  * differs from the sign rows yields null (the zip_with null-pad would
  * have zeroed the bits — such rows don't exist, and null is the louder
  * outcome), so the generated code checks the length before its call.
  */
case class SrpPackedBits(child: Expression, signs: Array[Array[Double]],
    mask: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(signs.nonEmpty && signs.forall(_.length == signs(0).length),
    "rectangular sign matrix required")

  override def dataType: DataType = IntegerType
  // null on a length mismatch, even for a non-null input (doGenCode sets isNull)
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    if (v.numElements() != signs(0).length) return null
    computeBits(v)
  }

  /** The per-row fold loop (dim already validated — see doGenCode). */
  def computeBits(v: ArrayData): Int = {
    val dim = signs(0).length
    var bits = 0
    var j = 0
    while (j < signs.length) {
      val sg = signs(j)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += v.getDouble(i) * sg(i); i += 1 }
      if (acc > 0.0) bits |= (1 << j)
      j += 1
    }
    bits & mask
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, x =>
      s"""
         |if ($x.numElements() != ${signs(0).length}) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $self.computeBits($x);
         |}
       """.stripMargin)
  }

  // keep explain output readable: the sign matrix would print as JVM
  // array identity hashes otherwise
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"signs[${signs.length}x${signs(0).length}]", mask)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** struct(sim, nb, bucket) argmax of one vector over a FIXED centroid
  * table (the driver-small k-means table every IVF consumer ships as a
  * plan literal).
  *
  * Replaces `array_max(transform(typedLit(cents), c => struct(cosine(v,
  * c), −bucket, bucket)))` — the interpreted per-centroid lambda plus a
  * ~10³-node literal tree — with one primitive loop. Semantics are
  * replicated exactly: cosine is the left-fold dot / (√ssq_a·√ssq_b) with
  * the den==0→null guard; candidates replace the running max only when
  * STRICTLY greater under Spark's struct ordering (sim first with nulls
  * smallest and SQLOrderingUtil double compare — `== first` so
  * −0.0 == 0.0, NaN greatest — then nb = −bucket, so ties go to the
  * lowest bucket). Output field names match the former struct, so
  * `.getField("bucket")` / `best.sim` consumers are untouched, and the
  * DuckDB arg-max CTEs replay unchanged.
  */
case class ArgmaxCosine(child: Expression, buckets: Array[Long],
    cents: Array[Array[Double]])
    extends NativeUnary(ArrayType(DoubleType)) {
  require(buckets.length == cents.length && buckets.nonEmpty,
    "one bucket id per centroid required")

  override def dataType: DataType = StructType(Seq(
    StructField("sim", DoubleType, nullable = true),
    StructField("nb", LongType, nullable = false),
    StructField("bucket", LongType, nullable = false)))

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  def compute(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var vs = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); vs += x * x; i += 1 }
    val vNorm = math.sqrt(vs)
    var bestHas = false
    var bestNull = true
    var bestSim = 0.0
    var bestNb = 0L
    var bestB = 0L
    var ci = 0
    while (ci < cents.length) {
      val cv = cents(ci)
      // cosine with VectorOps.cosine's exact op order and null guard;
      // length mismatch ⇒ null sim (the DotProduct null contract)
      var simNull = true
      var sim = 0.0
      if (cv.length == n) {
        var cs = 0.0
        var d = 0
        while (d < n) { val x = cv(d); cs += x * x; d += 1 }
        val den = vNorm * math.sqrt(cs)
        if (den != 0.0) {
          var acc = 0.0
          d = 0
          while (d < n) { acc += v.getDouble(d) * cv(d); d += 1 }
          sim = acc / den
          simNull = false
        }
      }
      val nb = -buckets(ci)
      val greater = !bestHas || {
        // struct ordering: sim (nulls smallest, == first, then
        // Double.compare so NaN is greatest), then nb
        val c1 =
          if (simNull && bestNull) 0
          else if (simNull) -1
          else if (bestNull) 1
          else if (sim == bestSim) 0
          else java.lang.Double.compare(sim, bestSim)
        c1 > 0 || (c1 == 0 && nb > bestNb)
      }
      if (greater) {
        bestHas = true; bestNull = simNull; bestSim = sim
        bestNb = nb; bestB = buckets(ci)
      }
      ci += 1
    }
    InternalRow(if (bestNull) null else java.lang.Double.valueOf(bestSim),
      bestNb, bestB)
  }

  override def stringArgs: Iterator[Any] =
    Iterator(child,
      s"cents[${cents.length}x${if (cents.isEmpty) 0 else cents(0).length}]")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorOps {
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  def squaredNorm(a: Column): Column =
    Bridge.column(SquaredNorm(Bridge.expression(a)))
  /** LSH band keys: array<long> of length `bands` (see SignRandomProjection). */
  def signProjectionBands(v: Column, bands: Int, bitsPerBand: Int): Column =
    Bridge.column(SignRandomProjection(Bridge.expression(v), bands, bitsPerBand))
  /** Packed adaptive-SRP bits against a fixed sign matrix (see SrpPackedBits). */
  def srpPackedBits(v: Column, signs: IndexedSeq[Seq[Double]], mask: Int): Column =
    Bridge.column(SrpPackedBits(Bridge.expression(v),
      signs.map(_.toArray).toArray, mask))
  /** struct(sim, nb, bucket) cosine argmax over a fixed centroid table
    * (see ArgmaxCosine). */
  def argmaxCosine(v: Column, cents: Seq[(Long, Seq[Double])]): Column =
    Bridge.column(ArgmaxCosine(Bridge.expression(v),
      cents.map(_._1).toArray, cents.map(_._2.toArray).toArray))
  def cosine(a: Column, b: Column): Column = {
    val den = ssqrt(squaredNorm(a)) * ssqrt(squaredNorm(b))
    // zero-norm vectors: cosine is undefined -> null (ANSI mode would
    // otherwise raise DIVIDE_BY_ZERO and kill the whole scan)
    org.apache.spark.sql.functions.when(den === lit(0.0), lit(null))
      .otherwise(dot(a, b) / den)
  }
}
