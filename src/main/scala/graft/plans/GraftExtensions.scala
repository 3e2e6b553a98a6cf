package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{DotProduct, Md5Low64, MinHashSig, NgramShingles, RollingPolyHash, SignRandomProjection, SimHash, SquaredNorm}

/** Rewrites the declarative higher-order-function dot-product pattern
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)
  *
  * into the native codegen'd [[graft.functions.DotProduct]]. The HOF form is
  * what a SQL user naturally writes; interpreted lambda evaluation makes it
  * ~6x slower than the generated loop. Summation order (left-to-right fold)
  * is identical, so the rewrite is value-preserving. Only fires when both
  * array types are non-null-element (a null element makes the HOF fold yield
  * null, which the tight loop does not model).
  */
object RewriteVectorHofs extends Rule[LogicalPlan] {

  private def isLambdaVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case nv: NamedLambdaVariable => nv.exprId == v.exprId
    case _ => false
  }

  private def nonNullDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, containsNull) => !containsNull
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        zw @ ZipWith(a, b,
          LambdaFunction(Multiply(m1, m2, _), Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
        Literal(zero, DoubleType),
        LambdaFunction(Add(a1, a2, _), Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
        LambdaFunction(fin, Seq(facc: NamedLambdaVariable), _))
      if zero == 0.0 &&
        nonNullDoubleArray(a) && nonNullDoubleArray(b) &&
        isLambdaVar(m1, x) && isLambdaVar(m2, y) &&
        isLambdaVar(a1, acc) && isLambdaVar(a2, v) &&
        isLambdaVar(fin, facc) =>
      DotProduct(a, b)
  }
}

/** SparkSessionExtensions entry point: registers graft's native expressions
  * as SQL functions and injects the HOF-rewrite optimizer rule.
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *     ...
  *
  * SQL surface: graft_dot(a, b), graft_squared_norm(a),
  * graft_shingles(text, n), graft_minhash_sig(hashes, k),
  * graft_simhash(hashes), graft_sign_rp(v, bands, bitsPerBand),
  * graft_cosine(a, b), graft_rolling_hash(text), graft_md5_low64(s).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // an integer argument that must be a literal (k, n, bands, bitsPerBand)
  private def intLiteral(args: Seq[Expression], i: Int): Int = args(i) match {
    case Literal(v, _) => v.toString.toInt
    case other => throw new IllegalArgumentException(s"argument $i must be a literal, got $other")
  }

  private def cosine(a: Expression, b: Expression): Expression = {
    val den = Multiply(Sqrt(SquaredNorm(a)), Sqrt(SquaredNorm(b)))
    // cosine undefined at zero norm -> null (ANSI divide-by-zero guard)
    If(EqualTo(den, Literal(0.0)), Literal.create(null, DoubleType),
      Divide(DotProduct(a, b), den))
  }

  /** (name, usage, builder): the SQL surface, one row per function. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "graft_dot(a, b) - dot product of two array<double>",
      args => DotProduct(args(0), args(1))),
    ("graft_squared_norm", "graft_squared_norm(a) - squared L2 norm",
      args => SquaredNorm(args(0))),
    ("graft_shingles", "graft_shingles(text, n) - distinct word n-grams",
      args => NgramShingles(args(0), intLiteral(args, 1))),
    ("graft_minhash_sig", "graft_minhash_sig(hashes, k) - minhash signature",
      args => MinHashSig(args(0), intLiteral(args, 1))),
    ("graft_simhash", "graft_simhash(hashes) - 64-bit simhash",
      args => SimHash(args(0))),
    ("graft_md5_low64", "graft_md5_low64(s) - signed low 64 bits of md5 (DuckDB md5_number_lower); deterministic bucketing/splits",
      args => Md5Low64(args(0))),
    ("graft_rolling_hash", "graft_rolling_hash(text) - modular byte-level rolling fingerprint",
      args => RollingPolyHash(args(0))),
    ("graft_sign_rp", "graft_sign_rp(v, bands, bitsPerBand) - random-hyperplane LSH band keys",
      args => SignRandomProjection(args(0), intLiteral(args, 1), intLiteral(args, 2))),
    ("graft_cosine", "graft_cosine(a, b) - cosine similarity (null for zero norms)",
      args => cosine(args(0), args(1))))

  override def apply(e: SparkSessionExtensions): Unit = {
    for ((name, usage, builder) <- functions)
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), builder))
    e.injectOptimizerRule(_ => RewriteVectorHofs)
  }
}
