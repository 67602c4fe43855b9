package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark's native stream-stream inner join form of
  * `StreamingExtract.intervalJoinStream` — same signature, output and
  * `maxIntervalLen` guard — kept only as the differential reference for
  * the one-operator library form. Equality key + event-time range
  * predicate; the `pointTs <= start + maxIntervalLen` conjunct lets the
  * engine derive a state watermark for the interval side. Its
  * `StreamingSymmetricHashJoinExec` keeps four state stores per partition
  * (keyToNumValues and keyWithIndexToValue per side). */
object IntervalJoinReference {
  def symmetricHashJoin(
      points: DataFrame, pointTs: String,
      intervals: DataFrame, startCol: String, endCol: String,
      key: String, delay: String, maxIntervalLen: String): DataFrame = {
    val p = points.withWatermark(pointTs, delay)
    val maxLen = expr(s"INTERVAL $maxIntervalLen")
    val i = intervals
      .withColumn("_len_ok",
        when(col(endCol) > col(startCol) + maxLen,
          raise_error(concat(
            lit(s"intervalJoinStream: interval longer than maxIntervalLen " +
              s"($maxIntervalLen) at $startCol="), col(startCol).cast("string")))
            .cast("boolean"))
          .otherwise(lit(true)))
      .filter(col("_len_ok")).drop("_len_ok")
      .withWatermark(startCol, delay)
    p.join(i,
      p(key) === i(key) &&
        p(pointTs) >= i(startCol) &&
        p(pointTs) < i(endCol) &&
        p(pointTs) <= i(startCol) + expr(s"INTERVAL $maxIntervalLen"),
      "inner")
      .drop(i(key))
  }
}
