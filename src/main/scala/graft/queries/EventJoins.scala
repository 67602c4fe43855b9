package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{Query, load}

/** Temporal queries over the events table — sessions, salted aggregation,
  * as-of, funnel and range joins — each with its oracle. */
private[graft] object EventJoins {

  /** q56's attribution over `rewrite(clicks)`: each purchase joined as-of to
    * the user's latest click at or before it (inclusive). Of several clicks
    * at one (user, ts), asofJoin keeps the greatest right row: (user, ts)
    * being equal, the max click_id — the row the DuckDB oracle's GROUP BY
    * keeps. */
  private def purchaseAsOfClick(s: SparkSession, dir: String,
      rewrite: DataFrame => DataFrame): DataFrame = {
    val e = load(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    // asofJoin splits by (user, day) only when the inputs outgrow one
    // partition, so one hyperactive user cannot own a whole task at
    // 100 TB; below that, one per-key window (same rows, spec-pinned)
    graft.operators.AsOf.asofJoin(
      purchases, rewrite(clicks), key = "user_id", leftTs = "purchase_ts",
      rightTs = "click_ts")
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("purchase_value"),
        col("asof.click_id").as("click_id"),
        col("asof.click_ts").as("click_ts"))
  }

  private[graft] val queries: Seq[(String, Query)] = Seq(
    "q48_sessionize" -> Query((s, dir) => {
      // gap-based sessionization over the events stream table — the temporal
      // twin of the tokenizer's spatial gap grouping (G9): a >30-minute gap
      // closes a session.
      import org.apache.spark.sql.expressions.Window
      val e = load(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapped = e
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      gapped.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sum(col("value")).as("total_value"))
    }, """SELECT user_id, session_id, count(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  sum(value) AS total_value
         |FROM (
         |  SELECT user_id, event_id, ts, value,
         |    CAST(sum(new_session) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM (
         |    SELECT user_id, event_id, ts, value,
         |      CASE WHEN prev_ts IS NULL
         |        OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
         |    FROM (SELECT user_id, event_id, ts, value,
         |            lag(ts) OVER (PARTITION BY user_id
         |              ORDER BY ts, event_id) AS prev_ts
         |          FROM events) a) b) c
         |GROUP BY user_id, session_id""".stripMargin),

    "q51_salted_agg" -> Query((s, dir) => {
      // skew-salted aggregation (the north-rule mega-key treatment as a
      // first-class operator): two-stage salted sum/count per user over
      // events — algebraically identical to the plain groupBy, so the
      // DuckDB oracle is the plain SQL GROUP BY
      val e = load(s, dir, "events")
      graft.operators.Salting.saltedSum(e, col("user_id"), col("value"),
        fineGrain = col("event_id"), buckets = 16)
        .select(col("key").as("user_id"),
          round(col("sum"), 4).as("total_value"), col("count"))
    }, """SELECT user_id, round(sum(value), 4) AS total_value,
         |  count(*) AS count
         |FROM events GROUP BY user_id""".stripMargin),

    "q56_asof_join" -> Query((s, dir) => purchaseAsOfClick(s, dir, identity),
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
        |             value AS purchase_value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id
        |      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.user_id, purchase_id, purchase_ts, purchase_value,
        |  c.click_id, c.click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts""".stripMargin),

    "q74_asof_ties" -> Query((s, dir) => purchaseAsOfClick(s, dir, { clicks =>
      // q56 over clicks with planted ties: every click with event_id % 4 = 0
      // gains two copies at its (user, ts), ids 1e9 above and below its
      // own, so the oracle compare sees which tied click asofJoin keeps
      val planted = clicks.filter(col("click_id") % 4 === 0)
      clicks
        .unionByName(planted.withColumn("click_id", col("click_id") + 1000000000L))
        .unionByName(planted.withColumn("click_id", col("click_id") - 1000000000L))
    }), """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
          |             value AS purchase_value
          |           FROM events WHERE event_type = 'purchase'),
          |k AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
          |t AS (SELECT user_id, ts, event_id FROM k
          |      UNION ALL
          |      SELECT user_id, ts, event_id + 1000000000 FROM k WHERE event_id % 4 = 0
          |      UNION ALL
          |      SELECT user_id, ts, event_id - 1000000000 FROM k WHERE event_id % 4 = 0),
          |c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id
          |      FROM t GROUP BY user_id, ts)
          |SELECT p.user_id, purchase_id, purchase_ts, purchase_value,
          |  c.click_id, c.click_ts
          |FROM p ASOF LEFT JOIN c
          |  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts""".stripMargin),

    "q63_funnel_asof" -> Query((s, dir) => {
      // conversion funnel by CHAINED as-of joins: each purchase -> latest
      // prior click -> latest view prior to that click. The second hop's
      // left timestamp (c_ts) is null for click-less purchases; SQL null
      // semantics carry them through unmatched — same as the nested
      // DuckDB ASOF LEFT JOIN oracle. Each leg keeps its ties: asofJoin
      // matches the max id of equal-ts rows, as the oracle's GROUP BY does.
      val e = load(s, dir, "events")
      def leg(kind: String, ts: String, id: String) =
        e.filter(col("event_type") === kind)
          .select(col("user_id"), col("ts").as(ts), col("event_id").as(id))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      val pc = graft.operators.AsOf.asofJoin(
        purchases, leg("click", "c_ts", "click_id"),
        key = "user_id", leftTs = "p_ts", rightTs = "c_ts")
        .select(col("user_id"), col("purchase_id"),
          col("asof.click_id").as("click_id"), col("asof.c_ts").as("c_ts"))
      val pcv = graft.operators.AsOf.asofJoin(
        pc, leg("view", "v_ts", "view_id"),
        key = "user_id", leftTs = "c_ts", rightTs = "v_ts")
        .select(col("user_id"), col("click_id"),
          col("asof.view_id").as("view_id"))
      pcv.groupBy(col("user_id")).agg(
        count(lit(1)).as("purchases"),
        sum(when(col("click_id").isNotNull, 1L).otherwise(0L)).as("with_click"),
        sum(when(col("view_id").isNotNull, 1L).otherwise(0L)).as("full_funnel"))
    }, """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
         |           FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts AS c_ts, max(event_id) AS click_id
         |      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
         |v AS (SELECT user_id, ts AS v_ts, max(event_id) AS view_id
         |      FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
         |-- both hops bypass DuckDB's NULL-probe ASOF quirk (a NULL probe ts
         |-- pairs with the LATEST build row; SQL comparisons never match
         |-- NULL): null-ts probes skip the ASOF and carry a null match
         |pc AS (SELECT p.user_id, p.purchase_id, c.click_id, c.c_ts
         |       FROM (SELECT * FROM p WHERE p_ts IS NOT NULL) p
         |       ASOF LEFT JOIN c
         |         ON p.user_id = c.user_id AND p.p_ts >= c.c_ts
         |       UNION ALL
         |       SELECT user_id, purchase_id, NULL AS click_id, NULL AS c_ts
         |       FROM p WHERE p_ts IS NULL),
         |pcv AS (SELECT pc.user_id, pc.purchase_id, pc.click_id, v.view_id
         |        FROM (SELECT * FROM pc WHERE c_ts IS NOT NULL) pc
         |        ASOF LEFT JOIN v
         |          ON pc.user_id = v.user_id AND pc.c_ts >= v.v_ts
         |        UNION ALL
         |        SELECT user_id, purchase_id, click_id, NULL AS view_id
         |        FROM pc WHERE c_ts IS NULL)
         |SELECT user_id, count(*) AS purchases,
         |  CAST(sum(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS with_click,
         |  CAST(sum(CASE WHEN view_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS full_funnel
         |FROM pcv GROUP BY user_id""".stripMargin),

    "q58_range_join" -> Query((s, dir) => {
      // incident attribution: every non-error event falling in a 30-minute
      // window after any error of the same user, aggregated per window.
      // Bucket width = window length -> interval replication factor 2.
      // Cent-sums keep the double aggregation bit-stable vs the oracle.
      val e = load(s, dir, "events")
      val micros = 1800L * 1000000L
      // ts is TIMESTAMP_NTZ; the session TZ is UTC in every entry point, so
      // the LTZ cast makes unix_micros == DuckDB's epoch_us on the naive ts
      val tsMicros = unix_micros(col("ts").cast("timestamp"))
      val points = e.filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id"),
          tsMicros.as("pts"), col("value"))
      val windows = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          tsMicros.as("w_start"),
          (tsMicros + micros).as("w_end"))
      graft.operators.RangeJoin.pointInInterval(
        points, "pts", windows, "w_start", "w_end", "user_id", micros)
        .groupBy(col("error_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
    }, """SELECT e.error_id, count(*) AS n_events,
         |  CAST(sum(CAST(round(p.value * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_value_cents
         |FROM (SELECT event_id AS error_id, user_id, epoch_us(ts) AS ws,
         |        epoch_us(ts) + 1800000000 AS we
         |      FROM events WHERE event_type = 'error') e
         |JOIN (SELECT user_id, epoch_us(ts) AS pts, value
         |      FROM events WHERE event_type <> 'error') p
         |  ON p.user_id = e.user_id AND p.pts >= e.ws AND p.pts < e.we
         |GROUP BY 1""".stripMargin)
  )
}
