package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two array<double> columns.
  *
  * Why a custom Catalyst expression (SURVEY §2.4 preference ladder (b)):
  * the builtin alternative `aggregate(zip_with(a, b, (x,y) -> x*y), ...)`
  * allocates an intermediate array and interprets two lambdas per row —
  * at 10M+ candidate pairs × 64 dims that dominated the whole benchmark.
  * This expression generates a tight primitive loop inside whole-stage
  * codegen: no allocation, no virtual calls.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Packs 32 sign bits of an array<double> into a long: bit j is set iff
  * `arr[offset + j] > 0` (strict — zeros and negatives clear). Two calls
  * (offset 0 and 32) binary-quantize a 64-dim embedding into two
  * BIGINT halves; 32-bit halves keep every packed value positive, so
  * the DuckDB oracle recomputes them with plain integer arithmetic (no
  * 1<<63 sign-bit wraparound question on either engine). Native codegen
  * for the same reason as [[DotProduct]]: this runs once per corpus row
  * in the quantization scan — a 32-step interpreted lambda per row is
  * the slow path.
  */
case class SignBits(child: Expression, offset: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_signbits expects array<double>, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_signbits"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0L
    var j = 0
    while (j < 32) {
      val i = offset + j
      if (i < n && x.getDouble(i) > 0) s |= (1L << j)
      j += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |long $s = 0L;
         |for (int $j = 0; $j < 32; $j++) {
         |  int $i = $offset + $j;
         |  if ($i < $n && $a.getDouble($i) > 0) $s |= (1L << $j);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SignBits = copy(child = newChild)
}

/** Session registration for the engine's native SQL functions. */
object GraftFunctions {

  /** Literal-integer argument extraction for registration-time-bound
    * parameters (bit widths, n-gram sizes): a non-foldable or
    * non-numeric argument would otherwise surface as an opaque
    * ClassCastException/NPE from eval() during expression expansion —
    * fail instead with an error that names the function and position,
    * matching the expressions' own input-type error style.
    */
  private def litInt(fn: String, pos: Int,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument $pos must be a literal integer, got non-foldable " +
          s"expression ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue()
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument $pos must be a literal integer, got " +
            s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
    }
  }
  /** One native SQL function: its name, its `DESCRIBE FUNCTION` usage and
    * its expression builder. */
  final case class Fn(name: String, usage: String,
      build: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo("graft.functions", null,
      name, usage, "", "", "", "", "", "", "built-in")
  }

  /** Every native function, for [[register]] and [[GraftExtensions]] alike.
    * Registration-time-bound integer arguments go through `litInt`.
    */
  val table: Seq[Fn] = Seq(
    Fn("graft_dot", "graft_dot(a, b) - dot product of two array<double>",
      c => DotProduct(c(0), c(1))),
    Fn("graft_minhash",
      "graft_minhash(hs, n) - n-lane minhash signature of array<long>",
      c => MinHashSignature(c(0), litInt("graft_minhash", 2, c(1)))),
    Fn("graft_simhash", "graft_simhash(hs) - 64-bit simhash of array<long>",
      c => SimHash64(c(0))),
    Fn("graft_md5_tokens",
      "graft_md5_tokens(text) - 60-bit md5 hash of each space token",
      c => Md5TokenHashes(c(0))),
    Fn("graft_md5_ngrams",
      "graft_md5_ngrams(text, n) - 60-bit md5 hash of each n-word window",
      c => Md5NgramHashes(c(0), litInt("graft_md5_ngrams", 2, c(1)))),
    Fn("graft_ngrams", "graft_ngrams(text, n) - hashed distinct word n-grams",
      c => NgramHashes(c(0), litInt("graft_ngrams", 2, c(1)))),
    Fn("graft_count_tokens",
      "graft_count_tokens(text, groups) - per-group token occurrence counts",
      c => TokenGroupCounts(c(0), c(1))),
    Fn("graft_ntokens",
      "graft_ntokens(text) - token count, = size(split(text, ' '))",
      c => TokenCount(c(0))),
    Fn("graft_freq_agg", "graft_freq_agg(item, maxMapSize) - frequent-items sketch",
      c => FreqItemsAgg(c(0), litInt("graft_freq_agg", 2, c(1)))),
    Fn("graft_freq_union",
      "graft_freq_union(sketch, maxMapSize) - frequent-items sketch union",
      c => FreqUnionAgg(c(0), litInt("graft_freq_union", 2, c(1)))),
    Fn("graft_freq_topk",
      "graft_freq_topk(sketch, k) - a frequent-items sketch's top-k items",
      c => FreqTopK(c(0), litInt("graft_freq_topk", 2, c(1)))),
    Fn("graft_theta_agg", "graft_theta_agg(x, lgK) - theta sketch of the distinct values",
      c => ThetaAgg(c(0), litInt("graft_theta_agg", 2, c(1)))),
    Fn("graft_theta_union",
      "graft_theta_union(sketch, lgK) - theta sketch union",
      c => ThetaUnionAgg(c(0), litInt("graft_theta_union", 2, c(1)))),
    Fn("graft_theta_and", "graft_theta_and(a, b) - theta sketch intersection",
      c => ThetaCombine(c(0), c(1), "and")),
    Fn("graft_theta_or", "graft_theta_or(a, b) - theta sketch union",
      c => ThetaCombine(c(0), c(1), "or")),
    Fn("graft_theta_not", "graft_theta_not(a, b) - theta sketch a minus b",
      c => ThetaCombine(c(0), c(1), "not")),
    Fn("graft_theta_est", "graft_theta_est(sketch) - theta sketch estimate",
      c => ThetaEstimate(c(0))),
    Fn("graft_pq_encode",
      "graft_pq_encode(subs, selfd, cb, cn2) - product-quantizer codes",
      c => PqEncode(c(0), c(1), c(2), c(3))),
    Fn("graft_pq_adc",
      "graft_pq_adc(qsubs, qselfd, codes, cb, cn2) - asymmetric PQ distance",
      c => PqAdc(c(0), c(1), c(2), c(3), c(4))),
    Fn("graft_pairs", "graft_pairs(items) - every ordered pair (u, v), u before v",
      c => PairCombinations(c(0))),
    Fn("graft_signbits",
      "graft_signbits(v, offset) - 32 sign bits of v from offset, packed",
      c => SignBits(c(0), litInt("graft_signbits", 2, c(1)))),
    Fn("graft_gram_agg",
      "graft_gram_agg(emb, y, dims) - exact Gram statistics",
      c => GramAgg(c(0), c(1), litInt("graft_gram_agg", 3, c(2)))),
    Fn("graft_gram_multi",
      "graft_gram_multi(emb, cls, dims, nClasses) - per-class Gram statistics",
      c => MultiGramAgg(c(0), c(1), litInt("graft_gram_multi", 3, c(2)),
        litInt("graft_gram_multi", 4, c(3)))))

  /** Idempotent: installs every [[table]] function the session lacks (a
    * present one is left alone, so a repeated call replaces nothing) and
    * the size(split(x,' ')) → graft_ntokens optimizer rule once.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.build)
    }
    // optimizer strength reduction lives beside the functions: any session
    // the library registers into also gets size(split(x,' ')) →
    // graft_ntokens
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(ReduceSplitSizeToNTokens))
      spark.experimental.extraOptimizations = rules :+ ReduceSplitSizeToNTokens
  }
}
