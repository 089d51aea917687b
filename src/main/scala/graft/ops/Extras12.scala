package graft.ops

import graft._
import graft.Tables.dec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Round-8 fifth-session batch 9: cohort LTV curves, market
  * concentration (HHI), grouped mode, and the SCD2 point-in-time
  * lookup.
  *
  * Scale discipline: LTV cumulates over the (cohort-month, age-month)
  * grain — dimension-sized AFTER one aggregate, so its window
  * partitions are months, not customers; HHI's share terms are
  * dimension-sized after the (nation, supplier) aggregate; the
  * point-in-time lookup is the MERGE-SORTED form of
  * [[graft.GraftOps.asofJoin]] — probes are unioned into the version
  * stream and a per-key carry-forward window resolves every probe in
  * one pass, no range join, no per-probe scan (the 100 TB shape for
  * "value as of t" against a billion-row history).
  *
  * Float discipline: all money flows as DECIMAL(18,4) sums (cumulated
  * in decimal, cast once per output cell); HHI share² terms cast
  * decimal(18,12) before the per-nation sum (the profile_entropy
  * rule); mode rides lexicographic struct max (== DuckDB struct_pack
  * ordering, probed), and the point-in-time oracle's carry does too —
  * aggregates skip nulls in both engines, which is what makes its
  * carry-forward union trick exact.
  */
object Extras12 {

  val queries: Map[String, Q] = Map(

    // cohort LTV: customers cohorted by first-order month, cumulative
    // revenue per cohort over cohort age in months. The curve every
    // retention/monetization dashboard draws.
    "analytics_cohort_ltv" -> { (s, dir) =>
      val o = Tables(s, dir, "orders").select(
        col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
        col("o_totalprice"))
      val first = o.groupBy("o_custkey").agg(min(col("m")).as("cohort"))
      val cells = o.join(first, "o_custkey")
        .groupBy(col("cohort"), (col("m") - col("cohort")).as("age"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("rev_dec"))
      val w = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.select(col("cohort"), col("age"), col("n_orders"),
        col("rev_dec").cast(DoubleType).as("rev"),
        sum(col("rev_dec")).over(w).cast(DoubleType).as("cum_rev"))
        .orderBy("cohort", "age")
    },

    // Herfindahl–Hirschman revenue concentration per supplier nation
    // (is any nation's supply base monopolized?): HHI = 10⁴·Σ share².
    "analytics_supplier_hhi" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"))
      val sup = Tables(s, dir, "supplier").select(col("s_suppkey"),
        col("s_nationkey"))
      val nat = Tables(s, dir, "nation").select(col("n_nationkey"),
        col("n_name"))
      val perSup = li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey", "s_suppkey")
        .agg(sum(dec(col("l_extendedprice"))).as("rev_dec"))
      val perNat = perSup.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("rev_dec")).as("nat_dec"))
      perSup.join(broadcast(perNat), "s_nationkey")
        .select(col("s_nationkey"), col("n_suppliers"),
          ((col("rev_dec").cast(DoubleType) / col("nat_dec").cast(DoubleType)) *
            (col("rev_dec").cast(DoubleType) / col("nat_dec").cast(DoubleType)))
            .cast(DecimalType(18, 12)).as("sh2"))
        .groupBy("s_nationkey", "n_suppliers")
        .agg(round(sum(col("sh2")).cast(DoubleType) * 10000.0, 6).as("hhi"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_suppliers"), col("hhi"))
        .orderBy("n_name")
    },

    // exact mode per (returnflag, linestatus): one (group, value)
    // aggregate + a lexicographic struct max — ties break to the
    // LARGER value, deterministically, in both engines.
    "agg_mode_by_group" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").as("v"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(max(struct(col("cnt"), col("v"))).as("m"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("m.v").as("mode_value"), col("m.cnt").as("mode_count"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // SCD2 point-in-time lookup, merge-sorted: probes (3 fixed
    // timestamps per user) run as the left side of the one as-of kernel
    // (GraftOps.asofJoin) against the per-user version stream (each
    // event sets the prevailing value), so one carry-forward window
    // resolves every probe to the version in force at t. History rows
    // sort before probes at equal timestamps (inclusive semantics), and
    // event_id, listed first in the payload, decides same-µs versions.
    // No range join, no per-probe history scan; users with no prior
    // version yield nulls.
    "join_scd2_pointintime" -> { (s, dir) =>
      val hist = Tables(s, dir, "events").select(
        col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      val probeTs = Seq("2024-01-08", "2024-01-15", "2024-01-22")
      val probes = hist.select(col("user_id")).distinct()
        .withColumn("t_s", explode(array(probeTs.map(d =>
          unix_timestamp(lit(d).cast("timestamp"))): _*)))
        .select(col("user_id"), (col("t_s") * 1000000L).as("t_us"))
      GraftOps.asofJoin(probes, hist, "user_id", "t_us", "us",
          Seq("event_id", "value"))
        .select(col("user_id"),
          expr("t_us DIV 1000000").as("t_s"),
          col("asof_value").as("value_at"),
          col("asof_event_id").as("version_event_id"))
        .orderBy("user_id", "t_s")
    }
  )

  val oracle: Map[String, String] = Map(
    "analytics_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |             year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |             o_totalprice
        |           FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY o_custkey),
        |cells AS (SELECT cohort, m - cohort AS age,
        |            cast(count(*) AS bigint) AS n_orders,
        |            sum(cast(o_totalprice AS decimal(18,4))) AS rev_dec
        |          FROM o JOIN f USING (o_custkey) GROUP BY 1, 2)
        |SELECT cohort, age, n_orders, cast(rev_dec AS double) AS rev,
        |  cast(sum(rev_dec) OVER (PARTITION BY cohort ORDER BY age
        |    ROWS UNBOUNDED PRECEDING) AS double) AS cum_rev
        |FROM cells ORDER BY cohort, age""".stripMargin,
    "analytics_supplier_hhi" ->
      """WITH per_sup AS (SELECT s_nationkey, s_suppkey,
        |    sum(cast(l_extendedprice AS decimal(18,4))) AS rev_dec
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |per_nat AS (SELECT s_nationkey, cast(count(*) AS bigint)
        |    AS n_suppliers, sum(rev_dec) AS nat_dec
        |  FROM per_sup GROUP BY 1),
        |t AS (SELECT s_nationkey, n_suppliers,
        |    cast((cast(rev_dec AS double) / cast(nat_dec AS double))
        |      * (cast(rev_dec AS double) / cast(nat_dec AS double))
        |      AS decimal(18,12)) AS sh2
        |  FROM per_sup JOIN per_nat USING (s_nationkey))
        |SELECT n_name, n_suppliers,
        |  round(cast(sum(sh2) AS double) * 10000.0, 6) AS hhi
        |FROM t JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, n_suppliers ORDER BY n_name""".stripMargin,
    "agg_mode_by_group" ->
      """WITH c AS (SELECT l_returnflag, l_linestatus, l_quantity AS v,
        |             cast(count(*) AS bigint) AS cnt
        |           FROM lineitem GROUP BY 1, 2, 3),
        |m AS (SELECT l_returnflag, l_linestatus,
        |        max(struct_pack(cnt := cnt, v := v)) AS m
        |      FROM c GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, (m.v) AS mode_value,
        |       (m.cnt) AS mode_count
        |FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "join_scd2_pointintime" ->
      """WITH hist AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
        |              FROM events),
        |probes AS (SELECT DISTINCT user_id,
        |    unnest([cast(epoch(TIMESTAMP '2024-01-08') AS bigint),
        |            cast(epoch(TIMESTAMP '2024-01-15') AS bigint),
        |            cast(epoch(TIMESTAMP '2024-01-22') AS bigint)]) AS t_s
        |  FROM hist),
        |merged AS (
        |  SELECT user_id, us AS ord_us, 0 AS is_probe, event_id,
        |    struct_pack(us := us, event_id := event_id, value := value)
        |      AS ver,
        |    cast(NULL AS bigint) AS t_s
        |  FROM hist
        |  UNION ALL
        |  SELECT user_id, t_s * 1000000, 1,
        |    9223372036854775807,
        |    NULL, t_s
        |  FROM probes),
        |r AS (SELECT user_id, is_probe, t_s,
        |    max(ver) OVER (PARTITION BY user_id
        |      ORDER BY ord_us, is_probe, event_id
        |      ROWS UNBOUNDED PRECEDING) AS cur
        |  FROM merged)
        |SELECT user_id, t_s, (cur.value) AS value_at,
        |       (cur.event_id) AS version_event_id
        |FROM r WHERE is_probe = 1 ORDER BY user_id, t_s""".stripMargin
  )
}
