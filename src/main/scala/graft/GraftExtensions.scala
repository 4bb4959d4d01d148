package graft

import graft.functions.catalyst.{ApproxTopK, ArrayDotProduct, ArrayL2Normalize, BloomCountContained, BloomMightContain, BloomPositions, JavaSplit, WordShingles}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions installing the engine's 8 native Catalyst functions
  * under their SQL names and the as-of join planner strategy. [[Session]]
  * installs them on every session it builds; another builder adds them
  * with {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  * The DataFrame API builds the Catalyst nodes directly and needs no
  * SQL name. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      GraftFunctions.buildDot))
    e.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      GraftFunctions.buildShingles))
    e.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[ApproxTopK].getName, "graft_topk"),
      GraftFunctions.buildTopK))
    e.injectFunction((
      FunctionIdentifier("graft_l2normalize"),
      new ExpressionInfo(classOf[ArrayL2Normalize].getName, "graft_l2normalize"),
      GraftFunctions.buildL2Normalize))
    e.injectFunction((
      FunctionIdentifier("graft_java_split"),
      new ExpressionInfo(classOf[JavaSplit].getName, "graft_java_split"),
      GraftFunctions.buildJavaSplit))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_positions"),
      new ExpressionInfo(classOf[BloomPositions].getName, "graft_bloom_positions"),
      GraftFunctions.buildBloomPositions))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      GraftFunctions.buildBloomContains))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_count"),
      new ExpressionInfo(classOf[BloomCountContained].getName, "graft_bloom_count"),
      GraftFunctions.buildBloomCount))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftFunctions {
  private def arity(exprs: Seq[Expression], n: Int, sig: String): Unit =
    if (exprs.length != n)
      sys.error(s"$sig expects $n arguments, got ${exprs.length}")

  /** Constant int argument: accepts any foldable expression (builders run
    * before constant folding, so `1+2` arrives unfolded). */
  private def constInt(e: Expression, what: String, sig: String): Int =
    if (e.foldable) e.eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => sys.error(s"$sig: $what must be an integer constant, got $other")
    } else sys.error(s"$sig: $what must be a constant, got $e")

  private[graft] val buildDot: Seq[Expression] => Expression = exprs => {
    arity(exprs, 2, "graft_dot(a, b)")
    ArrayDotProduct(exprs.head, exprs(1))
  }

  private[graft] val buildShingles: Seq[Expression] => Expression = exprs => {
    arity(exprs, 2, "graft_shingles(text, n)")
    WordShingles(exprs.head, constInt(exprs(1), "n", "graft_shingles(text, n)"))
  }

  private[graft] val buildTopK: Seq[Expression] => Expression = exprs => {
    arity(exprs, 3, "graft_topk(col, k, capacity)")
    val sig = "graft_topk(col, k, capacity)"
    ApproxTopK(exprs.head, constInt(exprs(1), "k", sig), constInt(exprs(2), "capacity", sig))
  }

  private[graft] val buildL2Normalize: Seq[Expression] => Expression = exprs => {
    arity(exprs, 1, "graft_l2normalize(a)")
    ArrayL2Normalize(exprs.head)
  }

  private[graft] val buildJavaSplit: Seq[Expression] => Expression = exprs => {
    arity(exprs, 2, "graft_java_split(str, regex)")
    JavaSplit(exprs.head, exprs(1))
  }

  /** Constant long argument (bit counts overflow Int at large filters). */
  private def constLong(e: Expression, what: String, sig: String): Long =
    if (e.foldable) e.eval() match {
      case i: Int  => i.toLong
      case l: Long => l
      case other   => sys.error(s"$sig: $what must be an integer constant, got $other")
    } else sys.error(s"$sig: $what must be a constant, got $e")

  private[graft] val buildBloomPositions: Seq[Expression] => Expression = exprs => {
    val sig = "graft_bloom_positions(key, numBits, k)"
    arity(exprs, 3, sig)
    BloomPositions(exprs.head, constLong(exprs(1), "numBits", sig), constInt(exprs(2), "k", sig))
  }

  private[graft] val buildBloomContains: Seq[Expression] => Expression = exprs => {
    val sig = "graft_bloom_contains(key, words, k)"
    arity(exprs, 3, sig)
    BloomMightContain(exprs.head, exprs(1), constInt(exprs(2), "k", sig))
  }

  private[graft] val buildBloomCount: Seq[Expression] => Expression = exprs => {
    val sig = "graft_bloom_count(keys, words, k)"
    arity(exprs, 3, sig)
    BloomCountContained(exprs.head, exprs(1), constInt(exprs(2), "k", sig))
  }
}
