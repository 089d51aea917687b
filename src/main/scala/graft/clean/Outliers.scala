package graft.clean

import graft._
import graft.Tables._
import org.apache.spark.sql.functions._

/** §2.10 outlier detection/repair + error-tolerant type repair.
  *
  * Percentile bounds are rounded to 4 decimals before comparing, so a
  * last-bit interpolation difference between Spark `percentile` and DuckDB
  * `quantile_cont` cannot flip a boundary row (SURVEY.md §5). Mean/std come
  * from exact decimal sums, mirrored expression-for-expression in the oracle.
  */
object Outliers {

  /** q1/q3 (rounded exactly like the oracle's `iqrBounds` CTE) and the
    * 1.5·IQR fences, as ONE broadcastable scalar row — the single Spark
    * definition both IQR queries share, mirroring the single SQL CTE; a
    * future edit to the rounding or fence multiplier cannot desync them. */
  private def iqrFences(li: org.apache.spark.sql.DataFrame) =
    li.agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("q1"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("q3"))
      .select(
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))

  val queries: Map[String, Q] = Map(
    // per-KEY robust anomaly detection — the grouped twin of
    // outlier_mad_flag: each user gets its own median/MAD fences, so a
    // user whose normal level is another user's outlier is judged
    // against ITS OWN distribution. Two grouped exact-percentile passes
    // (med, then MAD of deviations), each a per-user aggregate (bounded
    // partitions, map-side partials); bounds round-4 per the house MAD
    // rule so a last-bit interpolation diff can't flip a boundary row.
    "outlier_mad_per_group" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(col("user_id"), col("value"))
      val med = e.groupBy("user_id")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
      val withMed = e.join(med, "user_id")
      val mad = withMed.groupBy("user_id")
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
      val dev = abs(col("value") - col("med"))
      withMed.join(mad, "user_id")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_vals"),
          sum(when(dev > lit(3.0) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_out"),
          min("med").as("med"), min("mad").as("mad"))
        .orderBy("user_id")
    },

    // IQR fence counts on l_extendedprice
    "outlier_iqr_flag" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      li.crossJoin(broadcast(iqrFences(li)))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
          min(col("lo")).as("lo"), min(col("hi")).as("hi"))
    },

    // |z| > 3 flags via exact-decimal mean/std
    "outlier_zscore_flag" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val d = col("l_extendedprice").cast("decimal(12,2)")
      val stats = li.agg(
        sum(d).cast("double").as("sx"),
        sum(d * d).cast("double").as("sx2"),
        count(col("l_extendedprice")).as("n"))
        .select(
          (col("sx") / col("n")).as("mean"),
          sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
            .as("std"))
      li.crossJoin(broadcast(stats))
        .agg(count(lit(1)).as("n_total"),
          sum(when(abs((col("l_extendedprice") - col("mean")) / col("std")) > 3.0, 1L)
            .otherwise(0L)).as("n_out"),
          round(min(col("mean")), 6).as("mean"), round(min(col("std")), 6).as("std"))
    },

    // winsorize into [p01, p99], row-level output
    "outlier_clip" -> { (s, dir) =>
      ClipToQuantiles("l_extendedprice", 0.01, 0.99)(Tables(s, dir, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("clipped"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("clipped"))
    },

    // drop rows outside the IQR fences, aggregate the survivors.
    // The keep-predicate lives INSIDE the aggregates, not in a .where():
    // a filter referencing the broadcast scalars gets pulled up into the
    // cross join's condition, degrading it to a conditioned
    // BroadcastNestedLoopJoin — interpreted row-at-a-time, measured 10×
    // slower than this conditional-agg form (4.5 s vs 0.45 s at sf0.1).
    "outlier_remove" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val keep = col("l_extendedprice") >= col("lo") &&
        col("l_extendedprice") <= col("hi")
      li.crossJoin(broadcast(iqrFences(li)))
        .agg(sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          dsum(when(keep, col("l_extendedprice"))).as("sum_kept"))
    },

    // error-tolerant string→double over a deterministically mixed column
    "cast_safe_numeric" -> { (s, dir) =>
      val mixed = Tables(s, dir, "events")
        .withColumn("raw",
          when(col("event_id") % 5 === 0, col("event_type"))
            .otherwise(col("value").cast("string")))
      SafeCastDouble("raw")(mixed)
        .select(col("event_id"), col("raw").as("parsed"),
          col("raw").isNotNull.as("ok"))
        .orderBy(col("event_id"))
    },

    // error-tolerant string→timestamp with explicit format
    "parse_dates" -> { (s, dir) =>
      val strs = Tables(s, dir, "events")
        .withColumn("raw",
          when(col("event_id") % 9 === 0, lit("not-a-date"))
            .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
      ParseTimestamp("raw")(strs)
        .select(col("event_id"), unix_timestamp(col("raw")).as("parsed_s"),
          col("raw").isNotNull.as("ok"))
        .orderBy(col("event_id"))
    }
  )

  private val iqrBounds =
    """SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
      |round(quantile_cont(l_extendedprice, 0.75), 4) AS q3 FROM lineitem""".stripMargin

  val oracle: Map[String, String] = Map(
    "outlier_mad_per_group" ->
      """WITH m AS (SELECT user_id, round(quantile_cont(value, 0.5), 4) AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT e.user_id, e.value, m.med
        |      FROM events e JOIN m USING (user_id)),
        |md AS (SELECT user_id, round(quantile_cont(abs(value - med), 0.5), 4) AS mad
        |       FROM d GROUP BY 1)
        |SELECT d.user_id, count(*) AS n_vals,
        |  cast(sum(CASE WHEN abs(d.value - d.med) > 3.0 * 1.4826 * md.mad
        |    THEN 1 ELSE 0 END) as bigint) AS n_out,
        |  min(d.med) AS med, min(md.mad) AS mad
        |FROM d JOIN md USING (user_id)
        |GROUP BY 1 ORDER BY user_id""".stripMargin,

    "outlier_iqr_flag" ->
      s"""WITH qs AS ($iqrBounds),
         |b AS (SELECT q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM qs)
         |SELECT count(*) AS n_total,
         |cast(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) as bigint) AS n_lo,
         |cast(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) as bigint) AS n_hi,
         |min(lo) AS lo, min(hi) AS hi
         |FROM lineitem CROSS JOIN b""".stripMargin,
    "outlier_zscore_flag" ->
      """WITH st AS (
        |  SELECT cast(sum(cast(l_extendedprice as decimal(12,2))) as double) AS sx,
        |    cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(l_extendedprice as decimal(12,2))) as double) AS sx2,
        |    count(l_extendedprice) AS n FROM lineitem),
        |ms AS (SELECT sx / n AS mean, sqrt((sx2 - sx * sx / n) / (n - 1)) AS std FROM st)
        |SELECT count(*) AS n_total,
        |cast(sum(CASE WHEN abs((l_extendedprice - mean) / std) > 3.0 THEN 1 ELSE 0 END) as bigint) AS n_out,
        |round(min(mean), 6) AS mean, round(min(std), 6) AS std
        |FROM lineitem CROSS JOIN ms""".stripMargin,
    "outlier_clip" ->
      """WITH qs AS (SELECT round(quantile_cont(l_extendedprice, 0.01), 4) AS lo,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS hi FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_extendedprice IS NOT NULL
        |  THEN least(greatest(l_extendedprice, lo), hi) END AS clipped
        |FROM lineitem CROSS JOIN qs
        |ORDER BY l_orderkey, l_linenumber, clipped""".stripMargin,
    "outlier_remove" ->
      s"""WITH qs AS ($iqrBounds)
         |SELECT count(*) AS n_kept,
         |cast(sum(cast(l_extendedprice as decimal(18,4))) as double) AS sum_kept
         |FROM lineitem CROSS JOIN qs
         |WHERE l_extendedprice >= q1 - 1.5 * (q3 - q1)
         |  AND l_extendedprice <= q3 + 1.5 * (q3 - q1)""".stripMargin,
    "cast_safe_numeric" ->
      """SELECT event_id,
        |try_cast(CASE WHEN event_id % 5 = 0 THEN event_type
        |              ELSE cast(value as varchar) END as double) AS parsed,
        |try_cast(CASE WHEN event_id % 5 = 0 THEN event_type
        |              ELSE cast(value as varchar) END as double) IS NOT NULL AS ok
        |FROM events ORDER BY event_id""".stripMargin,
    "parse_dates" ->
      """SELECT event_id,
        |cast(epoch(try_strptime(CASE WHEN event_id % 9 = 0 THEN 'not-a-date'
        |  ELSE strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S') END,
        |  '%Y-%m-%d %H:%M:%S')) as bigint) AS parsed_s,
        |try_strptime(CASE WHEN event_id % 9 = 0 THEN 'not-a-date'
        |  ELSE strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S') END,
        |  '%Y-%m-%d %H:%M:%S') IS NOT NULL AS ok
        |FROM events ORDER BY event_id""".stripMargin
  )
}
