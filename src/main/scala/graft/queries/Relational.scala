package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{Query, load}

/** The relational spine over the driver tables, each query with its oracle. */
private[graft] object Relational {

  /** Missing-id gaps over the floored order prices (q07, q27). */
  private def priceGaps(s: SparkSession, dir: String): DataFrame =
    graft.operators.GapAudit.gaps(
      load(s, dir, "orders").select(floor(col("o_totalprice")).cast("long").as("k")),
      "k").orderBy(col("gap_start"))

  /** q07's and q27's oracle: gaps in the distinct floored order prices. */
  private def priceGapsSql: String =
    """SELECT prev AS gap_start, k AS gap_end, k - prev - 1 AS missing
      |FROM (SELECT k, lag(k) OVER (ORDER BY k) AS prev
      |      FROM (SELECT DISTINCT CAST(FLOOR(o_totalprice) AS BIGINT) AS k
      |            FROM orders) d) t
      |WHERE prev IS NOT NULL AND k - prev > 1""".stripMargin

  private[graft] val queries: Seq[(String, Query)] = Seq(
    "q01_agg" -> Query((s, dir) => {
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("cnt"))
    }, """SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  sum(l_extendedprice) AS sum_price,
         |  avg(l_discount) AS avg_disc,
         |  count(*) AS cnt
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    "q02_filter_pushdown" -> Query((s, dir) => {
      load(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") <= 0.02)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    }, """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
         |WHERE l_quantity > 45 AND l_discount <= 0.02""".stripMargin),
    "q03_broadcast_join" -> Query((s, dir) => {
      val o = load(s, dir, "orders")
      val c = load(s, dir, "customer")
      val n = load(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
    }, """SELECT n_name, sum(o_totalprice) AS revenue, count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin),
    "q04_anti_join" -> Query((s, dir) => {
      // J4 resume analog: customers with no urgent order yet.
      val c = load(s, dir, "customer")
      val o = load(s, dir, "orders").filter(col("o_orderpriority").startsWith("1"))
      c.join(o.select(col("o_custkey")), c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }, """SELECT c_custkey, c_name FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey AND o_orderpriority LIKE '1%')""".stripMargin),
    "q05_semi_join" -> Query((s, dir) => {
      val c = load(s, dir, "customer")
      val o = load(s, dir, "orders").filter(col("o_totalprice") > 100000)
      c.join(o.select(col("o_custkey")), c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }, """SELECT c_custkey, c_mktsegment FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)""".stripMargin),
    "q06_dedup_first_wins" -> Query((s, dir) => {
      // first event per user by (ts, event_id): min_by keeps partial agg.
      val e = load(s, dir, "events")
      e.groupBy(col("user_id"))
        .agg(min_by(struct(col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("first"))
        .select(col("user_id"), col("first.event_id").as("event_id"),
          col("first.event_type").as("event_type"), col("first.value").as("value"))
    }, """SELECT user_id, event_id, event_type, value FROM (
         |  SELECT user_id, event_id, event_type, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events) t WHERE rn = 1""".stripMargin),
    "q07_window_gap_audit" -> Query((s, dir) => {
      // O5 analog (annuary_data.py:81-89): missing-id gap detection. Served
      // by the scale-safe two-phase audit — the historical Window.orderBy
      // (single-task) form is retired from the shipped surface and lives in
      // OperatorsSpec as the differential oracle for GapAudit.gaps.
      priceGaps(s, dir)
    }, priceGapsSql),
    "q08_topk_per_group" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = load(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
    }, """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders) t WHERE rn <= 2""".stripMargin),
    "q27_gap_audit_scalable" -> Query((s, dir) => {
      // two-phase distributed gap audit (no single-partition window) over
      // the same key space as q07: results must agree with the window form
      priceGaps(s, dir)
    }, priceGapsSql)
  )
}
