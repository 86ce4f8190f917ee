package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSim, HilbertIndex, SimHash64}

/** Session extensions exposing the engine's native expressions to SQL:
  *
  * {{{
  * // or spark-submit --conf spark.sql.extensions=graft.GraftExtensions
  * val spark = graft.Sessions.create(
  *   graft.Sessions.harness + ("spark.sql.extensions" -> "graft.GraftExtensions"))
  * spark.sql("SELECT simhash64(split(text, ' ')), cosine_sim(a, b) ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // whole-operator tier: planner strategy for the native as-of join
    // (graft.plans.AsOfJoin → AsOfJoinExec) plus the optimizer rule
    // that lets left-side filters commute below the custom node
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    // banded rewrite of point-in-interval theta joins, gated on
    // spark.graft.rangeJoin.binSize (> 0 enables)
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoin)
  }
}

object GraftExtensions {

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64(tokens: array<string>) takes one argument")
        SimHash64(children.head)
      }),
    ("ahash60",
      new ExpressionInfo(classOf[graft.functions.AHash60].getName, "ahash60"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "ahash60(text: string) takes one argument")
        graft.functions.AHash60(children.head)
      }),
    ("cosine_sim",
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b) takes two arguments")
        CosineSim(children.head, children(1))
      }),
    ("hilbert_index",
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "hilbert_index(x, y, bits) takes three arguments (bits a literal int)")
        val bits = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hilbert_index bits must be a literal int, got $other")
        }
        HilbertIndex(
          org.apache.spark.sql.catalyst.expressions.Cast(children.head, org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.catalyst.expressions.Cast(children(1), org.apache.spark.sql.types.LongType),
          bits)
      }))

  /** Register on an already-running session (extensions only apply to
    * sessions built after `withExtensions`/`spark.sql.extensions`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      org.apache.spark.sql.graftshim.ColumnShim.registerFunction(spark, name, info, builder)
    }
}
