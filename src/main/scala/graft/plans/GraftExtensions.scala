package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayJaccard, CosineSimilarity}

/** Entry point for `spark.sql.extensions`: injects the library's SQL
  * functions into every session the builder creates. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  /** The library's SQL functions: name, implementing class and builder. */
  private val functions = {
    def fn(name: String, cls: Class[_], build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    Seq(
      fn("cosine_similarity", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
      fn("array_jaccard", classOf[ArrayJaccard], e => ArrayJaccard(e(0), e(1))),
      fn("ordered_concat", classOf[OrderedConcat],
        e => OrderedConcat(e(0), e(1), e(2)).toAggregateExpression()))
  }

  /** Registers the same functions on a live session (specs, REPL). */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
