package graft.streaming

import graft._
import graft.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.13 batch forms of the streaming queries — what the DuckDB oracle can
  * check. Window starts are emitted as epoch SECONDS (bigint) so the
  * Spark-µs/DuckDB-ns timestamp boundary can't perturb the compare.
  */
object StreamQueries {

  val queries: Map[String, Q] = Map(
    // 1 h tumbling window × event_type
    "stream_tumbling_agg" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("ws"), col("event_type"))
    },

    // 1 h windows sliding 15 min — every event lands in exactly 4 windows
    "stream_sliding_agg" -> { (s, dir) =>
      val es = unix_timestamp(col("ts"))
      Tables(s, dir, "events")
        .withColumn("k", explode(sequence(lit(0), lit(3))))
        .withColumn("ws", floor(es / 900) * 900 - col("k") * 900)
        .groupBy(col("ws"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("ws"), col("event_type"))
    },

    // per-user sessions, 30 min gap — the batch GraftOps.sessionize
    // kernel (gaps-and-islands in event time), aggregated per session
    "stream_session_window" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t"))
      GraftOps.sessionize(e, "user_id", "t", Seq("event_id"), 1800L * 1000000L,
          "session_id")
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("t")).as("start_us"), max(col("t")).as("end_us"))
        .withColumn("dur_s", ((col("end_us") - col("start_us")) / lit(1000000L)).cast("long"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // stream-stream interval join (batch form): purchases matched to the
    // same user's views within the preceding 10 min, aggregated per user.
    // The streaming form (watermarks both sides + two-sided time bound =
    // bounded join state) is StreamOps.intervalJoin, asserted in
    // StreamingSpec; this batch form shares the join condition and is what
    // the oracle can check. Equi-key on user_id → one shuffle; the time
    // bound is a post-join filter, not a nested loop.
    "stream_join_interval" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("t").as("t_view"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("t").as("t_buy"))
      v.join(p, Seq("user_id"))
        .where(col("t_buy").between(col("t_view"), col("t_view") + 600000000L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("t_buy") - col("t_view")).as("min_lag_us"),
          max(col("t_buy") - col("t_view")).as("max_lag_us"))
        .orderBy(col("user_id"))
    },

    // batch form of StreamOps.intervalJoinOuter: LEFT OUTER interval join
    // — views with no purchase in their 10-min horizon survive with NULL
    // t_buy (in the stream, emitted on watermark expiry; here, the left
    // join's null row). Per-user aggregate keeps the result dimension-
    // sized; min/max lag are NULL for all-unmatched users in BOTH engines.
    "stream_join_interval_outer" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("t").as("t_view"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("t").as("t_buy"))
      v.join(p, col("user_id") === col("p_user") &&
          col("t_buy").between(col("t_view"), col("t_view") + 600000000L),
          "left_outer")
        .groupBy(col("user_id"))
        .agg(count(col("t_buy")).as("n_pairs"),
          count(when(col("t_buy").isNull, lit(1))).as("n_unmatched_views"),
          min(col("t_buy") - col("t_view")).as("min_lag_us"),
          max(col("t_buy") - col("t_view")).as("max_lag_us"))
        .orderBy(col("user_id"))
    },

    // batch twin of StreamOps.IdempotentUpsertSink's ALGEBRAIC layer: the
    // event log with one epoch RE-DELIVERED (every 5th hour appended a
    // second time — foreachBatch's at-least-once failure mode), folded
    // through the latest-wins keyed upsert. The ORACLE aggregates the
    // CLEAN log — hash equality IS the exactly-once-effect proof: the
    // duplicated epoch changed nothing. Key = event_id (unique), so the
    // re-delivered rows tie on version with IDENTICAL payloads —
    // deterministic under any partitioning.
    "stream_upsert_exactly_once" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("v"))
      val redelivered = ev.where(expr("(v DIV 3600000000) % 5 = 0"))
      GraftOps.upsertLatestWins(ev, redelivered, "event_id", "v")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          max(col("v")).as("last_us"))
        .orderBy(col("user_id"))
    },

    // duplicate-drop: events ∪ injected duplicate rows, keep one per id
    "stream_dedup_watermark" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dups = ev.where(col("event_id") % 97 === 0)
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("user_id"), col("event_type"))
      ev.unionByName(dups)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
        .orderBy(col("event_id"))
    },

    // batch form of StreamOps.distinctUsers (1 h tumbling approx-distinct
    // per type) under the contract-oracle pattern: exact distinct count +
    // bounded-error boolean (DuckDB can't reproduce the sketch value, and
    // exact countDistinct is the very thing the streaming form exists to
    // avoid — unbounded state). The MemoryStream cross-batch semantics
    // live in StreamingSpec.
    "stream_distinct_users" -> { (s, dir) =>
      // hour-grain groups hold only a handful of distinct users, where a
      // pure RELATIVE bound is the wrong contract: one register collision
      // (linear-counting undercount by 1) is >15% of exact=4. rsd 0.01
      // (2^14 registers) makes collisions rare and the bound allows
      // |err| ≤ max(1, 15%) — the absolute-or-relative form every
      // small-cardinality sketch contract needs.
      Tables(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("ws"),
          col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(col("ws"), col("event_type"), col("exact_users"), col("n"),
          (abs(col("approx") - col("exact_users")).cast("double") <=
            greatest(lit(1.0), col("exact_users") * 0.15)).as("approx_ok"))
        .orderBy(col("ws"), col("event_type"))
    }
  )

  val oracle: Map[String, String] = Map(
    "stream_tumbling_agg" ->
      s"""SELECT cast(epoch(date_trunc('hour', cast(ts as timestamp))) as bigint) AS ws,
         |event_type, count(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "stream_sliding_agg" ->
      s"""SELECT cast(floor(epoch(cast(ts as timestamp)) // 900) * 900 - k * 900 as bigint) AS ws,
         |event_type, count(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events CROSS JOIN range(4) r(k)
         |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "stream_session_window" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(cast(ts as timestamp)) AS t FROM events),
        |flagged AS (SELECT user_id, event_id, t,
        |  CASE WHEN t - lag(t, 1) OVER w > 1800000000 THEN 1
        |       WHEN lag(t, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |sess AS (SELECT user_id, t,
        |  cast(sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t) AS start_us, max(t) AS end_us,
        |  cast((max(t) - min(t)) // 1000000 as bigint) AS dur_s
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "stream_join_interval" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_us(cast(ts AS timestamp)) AS t FROM events),
        |v AS (SELECT user_id, t AS t_view FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, t AS t_buy FROM e WHERE event_type = 'purchase')
        |SELECT v.user_id, count(*) AS n_pairs,
        |  min(t_buy - t_view) AS min_lag_us, max(t_buy - t_view) AS max_lag_us
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND t_buy BETWEEN t_view AND t_view + 600000000
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    "stream_join_interval_outer" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_us(cast(ts AS timestamp)) AS t FROM events),
        |v AS (SELECT user_id, t AS t_view FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user, t AS t_buy FROM e
        |  WHERE event_type = 'purchase')
        |SELECT v.user_id, count(t_buy) AS n_pairs,
        |  count(CASE WHEN t_buy IS NULL THEN 1 END) AS n_unmatched_views,
        |  min(t_buy - t_view) AS min_lag_us, max(t_buy - t_view) AS max_lag_us
        |FROM v LEFT JOIN p ON v.user_id = p.p_user
        |  AND t_buy BETWEEN t_view AND t_view + 600000000
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    "stream_upsert_exactly_once" ->
      """SELECT user_id, count(*) AS n_events,
        |count(DISTINCT event_type) AS n_types,
        |max(epoch_us(cast(ts AS timestamp))) AS last_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_dedup_watermark" ->
      """WITH u AS (
        |  SELECT event_id, user_id, event_type FROM events
        |  UNION ALL
        |  SELECT event_id, user_id, event_type FROM events WHERE event_id % 97 = 0)
        |SELECT event_id, user_id, event_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_id
        |    ORDER BY user_id, event_type) AS rn FROM u)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "stream_distinct_users" ->
      """SELECT cast(epoch(date_trunc('hour', cast(ts as timestamp))) as bigint) AS ws,
        |event_type, count(DISTINCT user_id) AS exact_users, count(*) AS n,
        |true AS approx_ok
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin
  )
}
