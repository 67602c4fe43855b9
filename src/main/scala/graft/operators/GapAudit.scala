package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-safe missing-key gap audit — the reference's --status gap detection
  * (/root/reference/src/annuary/annuary_data.py:81-89: walk sorted ids,
  * report missing ranges) without a global single-partition window.
  *
  * Two-phase: range-partition the distinct keys and find gaps WITHIN each
  * sorted partition locally (mapPartitions, no window), then stitch the
  * partition BOUNDARIES (first/last key per partition — one tiny row per
  * partition, collected to the driver). A global `Window.orderBy` would
  * funnel every key through one task; this funnels only #partitions rows. */
object GapAudit {

  /** Returns (gap_start, gap_end, missing) rows: keys gap_start and gap_end
    * exist, everything strictly between them is missing. */
  def gaps(keys: DataFrame, keyCol: String): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val distinctKeys = keys.select(col(keyCol).cast("long").as("k")).distinct()
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, col("k"))
      .sortWithinPartitions("k")

    // phase 1: intra-partition gaps + per-partition (first, last). Boundary
    // rows carry an explicit marker column (never an in-band sentinel key —
    // any long is a legitimate key for this general-purpose operator):
    // bound=true → (a=partition id, b=first key, c=last key);
    // bound=false → (a=gap_start, b=gap_end, c=missing).
    val local = GraftBridge.pin(distinctKeys.as[Long].mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next()
        var prev = first
        val out = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Long, Long, Long)]
        while (it.hasNext) {
          val k = it.next()
          if (k - prev > 1) out += ((false, prev, k, k - prev - 1))
          prev = k
        }
        val pid = org.apache.spark.TaskContext.getPartitionId()
        Iterator((true, pid.toLong, first, prev)) ++ out.iterator
      }
    }.toDF("bound", "a", "b", "c"))

    // phase 2: stitch boundaries (ordered by partition id = range order)
    val bounds = local.filter(col("bound"))
      .orderBy(col("a"))
      .select(col("b").as("first"), col("c").as("last"))
      .collect()
    val stitched = bounds.sliding(2).collect {
      case Array(l, r) if r.getLong(0) - l.getLong(1) > 1 =>
        (l.getLong(1), r.getLong(0), r.getLong(0) - l.getLong(1) - 1)
    }.toSeq

    val inner = local.filter(!col("bound"))
      .select(col("a").as("gap_start"), col("b").as("gap_end"), col("c").as("missing"))
    val stitchedDf = stitched.toDF("gap_start", "gap_end", "missing")
    inner.union(stitchedDf)
  }

  /** The reference's --status profile over an entity table: totals, counts
    * by kind, and missing-id ranges per kind with the reference's start
    * sentinels (person scans from 0, community from 8999 —
    * annuary_data.py:8-9, including its off-by-one vs the parser's 9000
    * threshold, preserved deliberately). */
  def entityStatus(entities: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val persons = entities.filter(col("kind") === "person")
      .select(col("num_id").cast("long").as("k"))
    val communities = entities.filter(col("kind") === "community")
      .select(col("num_id").cast("long").as("k"))
    // seed the start sentinels so leading gaps surface, as print_missings does
    val pSeed = Seq(0L).toDF("k")
    val cSeed = Seq(8999L).toDF("k")
    val pGaps = gaps(persons.union(pSeed), "k")
      .withColumn("kind", lit("person"))
    val cGaps = gaps(communities.union(cSeed), "k")
      .withColumn("kind", lit("community"))
    pGaps.union(cGaps).select("kind", "gap_start", "gap_end", "missing")
  }
}
