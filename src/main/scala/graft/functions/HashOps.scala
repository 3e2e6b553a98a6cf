package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Sketch expressions over pre-hashed token/shingle arrays (array<long>).
  *
  * The naive formulation — k separate `array_min(transform(...))` columns, or
  * 64 `size(filter(...))` bit votes — pays interpreted-lambda dispatch per
  * ELEMENT per permutation/bit (~38M boxed calls on a 5k-doc corpus). These
  * expressions make one eval call per ROW and run tight JVM loops inside:
  * the per-element work is primitive long arithmetic.
  */

/** The one shape of graft's row-wise native expressions: one input of a
  * fixed type (checked by `ExpectsInputTypes`, never implicitly cast) and
  * one generated call into the concrete class's typed `compute`.
  *
  * The generated code is what keeps a projection inside WholeStageCodegen:
  * a CodegenFallback marker anywhere in a Project's expressions drops the
  * WHOLE stage to interpreted eval, so the fused single-scan queries that
  * mix these with dozens of built-in expressions would silently run
  * interpreted projections. The per-row work is one already-compiled JVM
  * method either way. `compute` stays a typed method on each subclass, not
  * a generic one here: the generated Java calls it through the concrete
  * class, so a `long` result stays primitive instead of boxing per row.
  * (Serializable because it holds `input`: Java deserialization of a task's
  * plan needs a no-argument constructor on the first class that is not.)
  */
abstract class NativeUnary(input: DataType)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def inputTypes: Seq[DataType] = Seq(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $self.compute($x);")
  }
}

/** k-permutation MinHash signature: sig[p] = min over h in child of
  * XXH64(h, seed=p). Input array<long> (pre-hashed shingles), output
  * array<long> of length k.
  */
case class MinHashSig(child: Expression, k: Int)
    extends NativeUnary(ArrayType(LongType)) {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  def compute(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = xs.getLong(i)
      var p = 0
      while (p < k) {
        val m = XXH64.hashLong(h, p)
        if (m < sig(p)) sig(p) = m
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over pre-hashed tokens: per-bit majority vote. Input
  * array<long>, output long.
  */
case class SimHash(child: Expression)
    extends NativeUnary(ArrayType(LongType)) {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  def compute(xs: ArrayData): Long = {
    val n = xs.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = xs.getLong(i)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-token MD5 low-64 ([[HashOps.md5Low64Bytes]] of each token's UTF-8
  * bytes) — the exact bits DuckDB's `md5_number_lower(tok)` returns, which
  * is what makes a simhash built on it CROSS-ENGINE REPLAYABLE (xxhash64
  * has no DuckDB equivalent). Input array<string>, output array<long>; one
  * eval per row.
  */
case class Md5TokensLow64(child: Expression)
    extends NativeUnary(ArrayType(StringType)) {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  def compute(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = HashOps.md5Low64Bytes(xs.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Scalar MD5 low-64 of a string column (same bits as DuckDB's
  * md5_number_lower): the cross-engine-replayable hash used for
  * DETERMINISTIC bucketing — train/val/test splits, stratified sampling,
  * A/B assignment — where Spark's rand()/sample() would be
  * run-order-dependent and xxhash64 has no oracle-side equivalent.
  */
case class Md5Low64(child: Expression)
    extends NativeUnary(StringType) {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  def compute(s: UTF8String): Long = HashOps.md5Low64Bytes(s.getBytes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Tokenize -> n-gram -> distinct in one native pass (array<string> out).
  * Equivalent to array_distinct(transform(sequence(...), slice/concat_ws))
  * over split(trim(lower(text))), which costs hundreds of interpreted
  * expression evals per row; this is one eval and a tight loop. ASCII-safe
  * lower-casing matches Spark's `lower` on this corpus.
  */
case class NgramShingles(child: Expression, n: Int)
    extends NativeUnary(StringType) {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  def compute(s: UTF8String): ArrayData = {
    val text = s.toString.trim.toLowerCase(java.util.Locale.ROOT)
    val toks = text.split("\\s+")
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    } else {
      out.add(toks.mkString(" "))
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) {
      arr(i) = UTF8String.fromString(it.next())
      i += 1
    }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Byte-level Rabin–Karp rolling fingerprint: acc = (acc·31 + byte) mod M
  * with M = 10^17 + 3 (31·M + 255 stays inside a signed long, so the fold is
  * ANSI-overflow-safe). One native eval per row instead of a per-character
  * interpreted-HOF chain; the modulus keeps the value replayable in ANSI SQL
  * (the DuckDB oracle recomputes the identical fold via list_reduce), unlike
  * xxhash64 which no other engine implements. Byte==character on this ASCII
  * corpus; a multibyte corpus would hash UTF-8 bytes.
  */
case class RollingPolyHash(child: Expression)
    extends NativeUnary(StringType) {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31L + (bytes(i) & 0xFFL)) % RollingPolyHash.M
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingPolyHash {
  val M = 100000000000000003L
}

/** Language-ID scoring in ONE pass per row: for each profile language, sum
  * the non-overlapping occurrence counts of its marker n-grams in the
  * space-padded lower-cased text, then argmax with first-wins tie-break.
  *
  * Value-equal to the SQL formulation
  * `(length(p) - length(replace(p, m, ''))) / length(m)` per marker (which
  * the DuckDB oracle replays — replace counts non-overlapping left-to-right
  * matches, exactly this indexOf loop), but evaluated once per row: the
  * declarative argmax fold duplicates every score subtree per CASE branch
  * (2^langs copies), which blows past the codegen method limit in wider
  * projections and drops the whole stage to interpreted eval (measured 5.7x
  * on the fused pipeline query).
  *
  * Output: struct<lang_pred: string, scores: array<double>> (scores in
  * profile order).
  */
case class LangIdFeatures(child: Expression, profiles: Seq[(String, Seq[String])])
    extends NativeUnary(StringType) {

  override def dataType: DataType = StructType(Seq(
    StructField("lang_pred", StringType, nullable = false),
    StructField("scores", ArrayType(DoubleType, containsNull = false), nullable = false)))

  private def countOccurrences(hay: String, needle: String): Int = {
    var n = 0
    var i = hay.indexOf(needle)
    while (i >= 0) { n += 1; i = hay.indexOf(needle, i + needle.length) }
    n
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  def compute(s: UTF8String): InternalRow = {
    val padded = " " + s.toString.toLowerCase(java.util.Locale.ROOT) + " "
    val scores = new Array[Double](profiles.length)
    var best = 0
    var i = 0
    while (i < profiles.length) {
      var s = 0.0
      for (m <- profiles(i)._2) s += countOccurrences(padded, m).toDouble
      scores(i) = s
      if (s > scores(best)) best = i // strict > = first-wins tie-break
      i += 1
    }
    InternalRow(UTF8String.fromString(profiles(best)._1),
      new GenericArrayData(scores))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashOps {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** DuckDB `md5_number_lower` bits of `b`: the little-endian read of MD5
    * digest bytes [8,16), reinterpreted signed. The one implementation
    * every cross-engine hash in graft goes through — the native
    * expressions above and the typed-code [[graft.ops.Sketches.md5Low64String]].
    */
  def md5Low64Bytes(b: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(b)
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (dig(i) & 0xFFL); i -= 1 }
    h
  }

  /** Distinct word n-gram shingles straight from a text column. */
  def ngramShingles(text: Column, n: Int): Column =
    Bridge.column(NgramShingles(Bridge.expression(text), n))

  /** Modular byte-level rolling fingerprint of a string column. */
  def rollingPolyHash(text: Column): Column =
    Bridge.column(RollingPolyHash(Bridge.expression(text)))

  /** MinHash signature of an array<long> of element hashes. */
  def minhashSig(hashes: Column, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(hashes), k))

  /** SimHash of an array<long> of token hashes. */
  def simhash(hashes: Column): Column =
    Bridge.column(SimHash(Bridge.expression(hashes)))

  /** MD5 low-64 hashes of an array<string> (DuckDB md5_number_lower bits). */
  def md5TokensLow64(tokens: Column): Column =
    Bridge.column(Md5TokensLow64(Bridge.expression(tokens)))

  /** Scalar MD5 low-64 of a string (DuckDB md5_number_lower bits). */
  def md5Low64(s: Column): Column =
    Bridge.column(Md5Low64(Bridge.expression(s)))
}
