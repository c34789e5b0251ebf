package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{AlnumCount, AlphaWordCount, LongDot, LongSqDist, PositionalFingerprint, SetHitCount, SortedIntersectCount, TokenStats, WinnowFingerprint, WordNGrams}

/** SQL surface for the library's native expressions, registered the
  * supported way: the session builder's `withExtensions(new
  * GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`), after which
  * `long_dot`, `long_sq_dist`, `sorted_intersect_count`,
  * `word_ngrams`, `set_hit_count`, `alnum_count`, and
  * `winnow_fingerprint` are callable from
  * `spark.sql(...)` alongside the DataFrame API
  * (graft.functions.VectorExprs / NGramExpr).
  *
  * `registerOn(spark)` injects the same functions into an already-
  * built session (extensions only apply at session construction). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }
  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("long_dot",
      new ExpressionInfo(classOf[LongDot].getName, "long_dot"),
      (args: Seq[Expression]) => LongDot(args(0), args(1))),
    ("long_sq_dist",
      new ExpressionInfo(classOf[LongSqDist].getName, "long_sq_dist"),
      (args: Seq[Expression]) => LongSqDist(args(0), args(1))),
    ("sorted_intersect_count",
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (args: Seq[Expression]) => SortedIntersectCount(args(0), args(1))),
    ("set_hit_count",
      new ExpressionInfo(classOf[SetHitCount].getName, "set_hit_count"),
      (args: Seq[Expression]) => SetHitCount(args.head,
        args.tail.map(strLit(_, "word")))),
    ("alnum_count",
      new ExpressionInfo(classOf[AlnumCount].getName, "alnum_count"),
      (args: Seq[Expression]) => AlnumCount(args(0))),
    ("alpha_word_count",
      new ExpressionInfo(classOf[AlphaWordCount].getName, "alpha_word_count"),
      (args: Seq[Expression]) => AlphaWordCount(args(0))),
    ("positional_fingerprint",
      new ExpressionInfo(classOf[PositionalFingerprint].getName, "positional_fingerprint"),
      (args: Seq[Expression]) => PositionalFingerprint(args(0))),
    ("token_stats",
      new ExpressionInfo(classOf[TokenStats].getName, "token_stats"),
      (args: Seq[Expression]) => TokenStats(args(0))),
    ("winnow_fingerprint",
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fingerprint"),
      (args: Seq[Expression]) => WinnowFingerprint(args(0),
        if (args.length > 1) intLit(args(1), "w") else 4)),
    ("word_ngrams",
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      (args: Seq[Expression]) => WordNGrams(args(0),
        if (args.length > 1) intLit(args(1), "n") else 3,
        args.length > 2 && boolLit(args(2), "distinct"))),
    ("term_counts",
      new ExpressionInfo(classOf[graft.functions.TermCounts].getName, "term_counts"),
      (args: Seq[Expression]) => graft.functions.TermCounts(args.head,
        args.tail.map(strLit(_, "word")))),
    ("block_hash",
      new ExpressionInfo(classOf[graft.functions.BlockHash].getName, "block_hash"),
      (args: Seq[Expression]) => graft.functions.BlockHash(args(0),
        if (args.length > 1) intLit(args(1), "b") else 8)),
    ("iscale",
      new ExpressionInfo(classOf[graft.functions.IScale].getName, "iscale"),
      (args: Seq[Expression]) => graft.functions.IScale(args(0))))

  /** Register on an existing session (temp functions). */
  def registerOn(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
