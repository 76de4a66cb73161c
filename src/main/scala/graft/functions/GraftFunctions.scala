package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSessionExtensions

/** SQL registration for the engine's custom Catalyst Expressions, so
  * `spark.sql("SELECT long_dot(a, b) ...")` works next to the Column API.
  *
  * Two registration paths:
  *   - [[GraftFunctions.register]] on a live session (FunctionRegistry);
  *   - [[GraftExtensions]] for `SparkSession.builder().withExtensions`
  *     or `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  private def binary(name: String, make: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$name expects exactly 2 arguments, got ${exprs.length}")
    make(exprs(0), exprs(1))
  }

  /** Argument `what` of `fn`, which must fold to an int literal. */
  private def intLit(e: Expression, fn: String, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn $what must be an integer literal, got $other")
  }

  private def unary(name: String, make: Expression => Expression)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"$name expects exactly 1 argument, got ${exprs.length}")
    make(exprs(0))
  }

  /** `topk_pairs(score, id, k)` — k must fold to an int literal (the
    * aggregate's buffer bound is fixed at plan time). */
  private def topkBuilder: Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"topk_pairs expects exactly 3 arguments, got ${exprs.length}")
    TopKPairs(exprs(0), exprs(1), intLit(exprs(2), "topk_pairs", "k"))
      .toAggregateExpression()
  }

  /** `shingle_gen(text, k, step)` — k and step must fold to int
    * literals (the window geometry is fixed at plan time). */
  private def shingleBuilder: Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"shingle_gen expects exactly 3 arguments, got ${exprs.length}")
    ShingleGen(exprs(0), intLit(exprs(1), "shingle_gen", "k"),
      intLit(exprs(2), "shingle_gen", "step"))
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "long_dot" -> binary("long_dot", LongDotProduct(_, _)),
    "sorted_intersect_size" ->
      binary("sorted_intersect_size", SortedIntersectSize(_, _)),
    "minhash_sigs" -> unary("minhash_sigs", MinHashSigs(_)),
    "topk_pairs" -> topkBuilder,
    "shingle_gen" -> shingleBuilder,
    "ngram_hashes" -> binary("ngram_hashes",
      (t, n) => NgramHashes(t, intLit(n, "ngram_hashes", "n"))))

  /** Register on an existing session's function registry, and install
    * the engine's optimizer rewrites ([[graft.plans.RewriteLongDot]])
    * via the experimental-methods hook — the live-session counterpart
    * of [[GraftExtensions]]' injectOptimizerRule. */
  def register(spark: SparkSession): Unit = {
    val registry = org.apache.spark.sql.graftbridge.Bridge.functionRegistry(spark)
    all.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteLongDot))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.RewriteLongDot
    }
    graft.plans.AsOfJoinOp.registerStrategy(spark)
  }
}

/** Session-extension entry point (spark.sql.extensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RewriteLongDot)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}
