package graft.ops

import graft._
import graft.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.5 window functions.
  *
  * Determinism: every window ORDER BY ends in a unique key (event_id /
  * o_orderkey / c_custkey) so rank-family output is total; running sums go
  * through DECIMAL so frame evaluation order can't perturb doubles
  * (SURVEY.md §5).
  */
object Windows {

  /** ntile(4) / percent_rank / cume_dist over customer account balance —
    * the body of both `window_ntile_percent` and
    * `window_ntile_percent_distributed`. No global window: with a UNIQUE
    * order composite (c_acctbal, c_custkey), SQL's ntile / percent_rank /
    * cume_dist are pure arithmetic on the distributedRank global rank —
    *   ntile(k): first n%k buckets get ⌈n/k⌉ rows (the SQL bucket rule),
    *   percent_rank = (rn−1)/(n−1)  (0 when n = 1),
    *   cume_dist   = rn/n           (unique order ⇒ no tie plateau) —
    * so output is row-for-row identical to the window form (the DuckDB
    * oracle, [[sqlNtilePercent]], runs the plain window SQL) at shard
    * parallelism. */
  private[ops] val ntilePercent: Q = { (s, dir) =>
    val c = Tables(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    GraftOps.distributedRank(c, Seq("c_acctbal", "c_custkey"), "__rn")
      .crossJoin(broadcast(c.agg(count(lit(1)).as("__n"))))
      .select(col("c_custkey"), col("c_acctbal"),
        graft.llm.Chunking.ntileBucket(col("__rn"), col("__n"), 4).as("quartile"),
        when(col("__n") > 1, (col("__rn") - 1).cast("double") /
          (col("__n") - 1).cast("double")).otherwise(0.0).as("pr"),
        (col("__rn").cast("double") / col("__n").cast("double")).as("cd"))
      .orderBy(col("c_custkey"))
  }

  /** DuckDB oracle of [[ntilePercent]]. */
  private[ops] val sqlNtilePercent =
    """SELECT c_custkey, c_acctbal,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd
      |FROM customer WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin

  val queries: Map[String, Q] = Map(
    // top-3 orders per customer by price (row_number + rank + dense_rank)
    "window_rank_topn" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .withColumn("drk", dense_rank().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("rk"), col("drk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    // per-user running sum of value in event-time order
    "window_running_sum" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          sum(dec(col("value"))).over(w).cast("double").as("running_value"))
        .orderBy(col("event_id"))
    },

    // inter-event gap in microseconds per user (lag + lead)
    "window_lag_lead" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
        .withColumn("gap_us", col("t") - lag(col("t"), 1).over(w))
        .withColumn("next_gap_us", lead(col("t"), 1).over(w) - col("t"))
        .select(col("event_id"), col("user_id"), col("gap_us"), col("next_gap_us"))
        .orderBy(col("event_id"))
    },

    // 7-row and 7-day moving averages of daily order totals (rows + range frames)
    "window_moving_avg" -> { (s, dir) =>
      val daily = Tables(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
        .agg(sum(dec(col("o_totalprice"))).as("daily_dec"),
          min(datediff(col("o_orderdate"), to_date(lit("1995-01-01")))).as("day_idx"))
      val wRows = Window.orderBy(col("d")).rowsBetween(-6, 0)
      val wRange = Window.orderBy(col("day_idx")).rangeBetween(-6, 0)
      daily
        .withColumn("mavg_rows",
          sum(col("daily_dec")).over(wRows).cast("double") / count(lit(1)).over(wRows))
        .withColumn("mavg_range",
          sum(col("daily_dec")).over(wRange).cast("double") / count(lit(1)).over(wRange))
        .select(col("d"), col("daily_dec").cast("double").as("daily_total"),
          col("mavg_rows"), col("mavg_range"))
        .orderBy(col("d"))
    },

    // ntile / percent_rank / cume_dist over account balance (see
    // [[ntilePercent]]; window_ntile_percent_distributed is the same query)
    "window_ntile_percent" -> ntilePercent
  )

  val oracle: Map[String, String] = Map(
    "window_rank_topn" ->
      """SELECT o_custkey, rn, rk, drk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "window_running_sum" ->
      """SELECT event_id, user_id,
        |cast(sum(cast(value as decimal(18,4))) OVER (PARTITION BY user_id
        |  ORDER BY epoch_us(cast(ts as timestamp)), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_value
        |FROM events ORDER BY event_id""".stripMargin,
    "window_lag_lead" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(cast(ts as timestamp)) AS t FROM events)
        |SELECT event_id, user_id,
        |  t - lag(t, 1) OVER w AS gap_us,
        |  lead(t, 1) OVER w - t AS next_gap_us
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |ORDER BY event_id""".stripMargin,
    "window_moving_avg" ->
      """WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
        |    sum(cast(o_totalprice as decimal(18,4))) AS daily_dec,
        |    min(date_diff('day', DATE '1995-01-01', cast(o_orderdate as date))) AS day_idx
        |  FROM orders GROUP BY 1)
        |SELECT d, cast(daily_dec as double) AS daily_total,
        |  cast(sum(daily_dec) OVER wr as double) / count(*) OVER wr AS mavg_rows,
        |  cast(sum(daily_dec) OVER wg as double) / count(*) OVER wg AS mavg_range
        |FROM daily
        |WINDOW wr AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |       wg AS (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY d""".stripMargin,
    "window_ntile_percent" -> sqlNtilePercent
  )
}
