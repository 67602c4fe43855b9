package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Column ↔ Expression bridge for third-party Catalyst expressions, the
  * session UUID, and the one pin for eager materialization.
  * `ExpressionUtils`, `sessionUUID`, `Dataset.ofRows`, `LogicalRDD` and
  * `SQLExecution` are private[sql] in Spark 4; this is the standard
  * extension-package technique for reaching them. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's UUID, new for every session (`newSession` included). */
  def sessionUUID(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID

  /** Materializes `df` in one eager job and returns a DataFrame over the
    * stored rows: the library's one pin for an intermediate that several
    * consumers read. It is Spark's `Dataset.checkpoint` body with an
    * RDD-level `persist(MEMORY_AND_DISK)` in place of the checkpoint, so
    * the optimizer sees the same `LogicalRDD` leaf (statistics, partitioning
    * and ordering), no CacheManager entry holds the rows (the ContextCleaner
    * frees them once the plan is garbage collected), and a lost block is
    * recomputed from lineage, where a checkpoint would fail the query. */
  def pin(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("pin")) {
      val rdd = qe.executedPlan.execute().map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      rdd
    }
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }
}
