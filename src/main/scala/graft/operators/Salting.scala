package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit key-salting for skewed aggregations — the north-rule
  * mega-conversation treatment, as a named, reusable primitive.
  *
  * Context: AQE's skew handling splits oversized SHUFFLE JOIN partitions but
  * does not split a skewed AGGREGATION or WINDOW key (SURVEY §4.3). The
  * engine's primary defenses are structural — extraction never groups by
  * conv_id at all; dedup uses partial-aggregating min_by so a hot key
  * collapses map-side; ordered output range-partitions so one conversation
  * spans many tasks — but when a per-key aggregate over a skewed key IS
  * required, this two-stage salted form bounds any single task to
  * |key| / saltBuckets rows:
  *
  *   stage 1: groupBy(key, salt = hash(fine-grain col) % buckets)  — partial
  *   stage 2: groupBy(key)                                          — final
  *
  * Works for any algebraic aggregate (count/sum/min/max and their
  * compositions like avg = sum/count).
  */
object Salting {

  private def saltCol(fineGrain: Column, buckets: Int): Column =
    pmod(hash(fineGrain), lit(buckets))

  /** Salted sum of `value` per key. */
  def saltedSum(df: DataFrame, key: Column, value: Column, fineGrain: Column,
      buckets: Int = 32): DataFrame =
    df.groupBy(key.as("key"), saltCol(fineGrain, buckets).as("_salt"))
      .agg(sum(value).as("_s"), count(lit(1)).as("_c"))
      .groupBy(col("key"))
      .agg(sum(col("_s")).as("sum"), sum(col("_c")).as("count"))
}
