package graft.ops

import graft._
import graft.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round 14 batch 3: growth accounting (the canonical MAU decomposition),
  * connected-component size census of the co-purchase graph (the CC
  * kernel on a second graph shape), and the Wilcoxon signed-rank paired
  * test (completing the nonparametric family next to Mann-Whitney).
  *
  * Discipline unchanged: month indices and revenue units are exact
  * integers, signed-rank midranks ride the distributed prefix-sum kernel
  * as integral 2×ranks, and each statistic is one fixed IEEE tree.
  */
object Extras45 {

  val queries: Map[String, Q] = Map(

    // Growth accounting per DAY (the corpus event log spans ~one
    // month): every active user is exactly one of new (first-ever day),
    // retained (also active yesterday), or resurrected (active before,
    // not yesterday); churned counts yesterday's actives who did not
    // return. All four states derive from ONE distinct (user, day)
    // census — three self-joins at census grain (≪ fact),
    // calendar-bounded output. Day = integral epoch-day (us DIV
    // 86.4e9), no timezone surface.
    "events_growth_accounting" -> { (s, dir) =>
      val u = Tables(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("mi"))
        .distinct()
      val first = u.groupBy("user_id").agg(min(col("mi")).as("f"))
      val prev = u.select(col("user_id"), (col("mi") + 1).as("mi"),
        lit(1L).as("was_prev"))
      val flags = u.join(first, "user_id")
        .join(prev, Seq("user_id", "mi"), "left")
        .select(col("mi"),
          when(col("f") === col("mi"), 1L).otherwise(0L).as("is_new"),
          when(col("was_prev").isNotNull, 1L).otherwise(0L).as("is_ret"),
          when(col("f") < col("mi") && col("was_prev").isNull, 1L)
            .otherwise(0L).as("is_res"))
      val act = flags.groupBy("mi").agg(
        count(lit(1)).as("n_active"), sum(col("is_new")).as("n_new"),
        sum(col("is_ret")).as("n_retained"), sum(col("is_res")).as("n_resurrected"))
      // churned at m: active at m−1, absent at m — only for OBSERVED months
      val churn = prev.join(u, Seq("user_id", "mi"), "left_anti")
        .groupBy("mi").agg(count(lit(1)).as("n_churned"))
      act.join(churn, Seq("mi"), "left")
        .select(col("mi"), col("n_active"), col("n_new"), col("n_retained"),
          col("n_resurrected"), coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("mi")
    },

    // Component-size census of the strong co-purchase graph: the CC
    // kernel on a second graph shape beyond the dedup cluster graph.
    // The giant co-purchase component takes more rounds than any dedup
    // graph (3.8 s at sf0.1, flat 10x exponent — rounds, not data,
    // dominate) but converges well inside the kernel's 30-round budget;
    // how many rounds a component needs depends on how its ids lie
    // along its paths, not on the diameter alone, and nonconvergence
    // fails loudly rather than silently degrading. Output is the size
    // histogram — |distinct sizes| rows, bounded far below the node
    // count at any SF.
    "graph_component_sizes" -> { (s, dir) =>
      val edges = Graph.strongEdgesCached(s, dir).select("pa", "pb")
      // r14 note: a pointer-doubling variant (2 compression hops/round)
      // was tried and REVERTED — measured 5.86 s vs 3.48 s median (direct
      // A/B, same session): convergence here is bound by min-label
      // PROPAGATION along edges, not label-chain depth, so the extra
      // per-round join bought nothing.
      graft.llm.Dedup.connectedComponents(edges, "pa", "pb")
        .groupBy("component").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_components"))
        .orderBy("sz")
    },

    // Wilcoxon signed-rank paired test: 1997 vs 1996 monthly revenue at
    // (nation, month-of-year) pairs. Differences are exact whole-unit
    // longs; tie-averaged |d| midranks ride the distributed prefix-sum
    // kernel as integral 2×ranks (the Mann-Whitney machinery); the
    // normal approximation carries the exact tie correction Σ(t³−t)/48.
    "stats_wilcoxon_signed_rank" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val monthly = o.join(c, o("o_custkey") === c("c_custkey"))
        .where(year(col("o_orderdate")).isin(1996, 1997))
        .groupBy(col("c_nationkey"), year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("moy"))
        .agg(floor(sum(dec(col("o_totalprice")))).cast(LongType).as("rev"))
      val d = monthly.where(col("yr") === 1996)
        .select(col("c_nationkey"), col("moy"), col("rev").as("r96"))
        .join(monthly.where(col("yr") === 1997)
          .select(col("c_nationkey"), col("moy"), col("rev").as("r97")),
          Seq("c_nationkey", "moy"))
        .select((col("r97") - col("r96")).as("d"))
        .where(col("d") =!= 0)
      val census = d.groupBy(abs(col("d")).as("ad")).agg(
        count(lit(1)).as("cnt"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
        .withColumn("g", lit(1))
      val cum = GraftOps.distributedRunningSum(
        census, "g", "ad", "cnt", "cb", exclusive = true)
      cum.agg(
          sum(col("cnt")).as("n"),
          sum(col("pos")).as("n_pos"),
          sum(col("pos") * (lit(2L) * col("cb") + col("cnt") + 1L)).as("wpx2"),
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
        .select(col("n").as("n_pairs"), col("n_pos"),
          (col("n") - col("n_pos")).as("n_neg"),
          (col("wpx2").cast(DoubleType) / 2).as("w_plus"),
          (round((col("wpx2").cast(DoubleType) / 2 -
            (col("n") * (col("n") + 1L)).cast(DoubleType) / 4) /
            sqrt((col("n") * (col("n") + 1L) * (lit(2L) * col("n") + 1L))
              .cast(DoubleType) / 24 -
              col("ties").cast(DoubleType) / 48), 6) + lit(0.0)).as("z"))
    }
  )

  val oracle: Map[String, String] = Map(
    "events_growth_accounting" ->
      """WITH u AS (SELECT DISTINCT user_id,
        |    epoch_us(cast(ts AS timestamp)) // 86400000000 AS mi
        |  FROM events),
        |f AS (SELECT user_id, min(mi) AS f FROM u GROUP BY 1),
        |prev AS (SELECT user_id, mi + 1 AS mi FROM u),
        |flags AS (SELECT u.mi,
        |    CASE WHEN f.f = u.mi THEN 1 ELSE 0 END AS is_new,
        |    CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_ret,
        |    CASE WHEN f.f < u.mi AND p.user_id IS NULL THEN 1 ELSE 0 END
        |      AS is_res
        |  FROM u JOIN f ON u.user_id = f.user_id
        |  LEFT JOIN prev p ON u.user_id = p.user_id AND u.mi = p.mi),
        |act AS (SELECT mi, cast(count(*) AS bigint) AS n_active,
        |    cast(sum(is_new) AS bigint) AS n_new,
        |    cast(sum(is_ret) AS bigint) AS n_retained,
        |    cast(sum(is_res) AS bigint) AS n_resurrected
        |  FROM flags GROUP BY 1),
        |churn AS (SELECT p.mi, cast(count(*) AS bigint) AS n_churned
        |  FROM prev p LEFT JOIN u ON p.user_id = u.user_id AND p.mi = u.mi
        |  WHERE u.user_id IS NULL GROUP BY 1)
        |SELECT act.mi, n_active, n_new, n_retained, n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM act LEFT JOIN churn ON act.mi = churn.mi
        |ORDER BY act.mi""".stripMargin,
    "graph_component_sizes" ->
      """WITH RECURSIVE items AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |      count(*) OVER (PARTITION BY l_orderkey) AS bsz
        |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
        |  WHERE bsz <= 64),
        |p0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |edges0 AS MATERIALIZED (SELECT pa, pb FROM (
        |  SELECT pa, pb, count(*) AS w FROM p0 GROUP BY pa, pb)
        |  WHERE w >= 2),
        |edges AS (SELECT pa AS src, pb AS dst FROM edges0
        |          UNION ALL SELECT pb, pa FROM edges0),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach(node, lab) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
        |labs AS (SELECT node, min(lab) AS lab FROM reach GROUP BY node),
        |comp AS (SELECT lab, cast(count(*) AS bigint) AS sz
        |  FROM labs GROUP BY lab)
        |SELECT sz, cast(count(*) AS bigint) AS n_components
        |FROM comp GROUP BY sz ORDER BY sz""".stripMargin,
    "stats_wilcoxon_signed_rank" ->
      s"""WITH monthly AS (
         |  SELECT c_nationkey, year(o_orderdate) AS yr,
         |    month(o_orderdate) AS moy,
         |    cast(floor(sum(cast(o_totalprice AS decimal(18,4)))) AS bigint)
         |      AS rev
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE year(o_orderdate) IN (1996, 1997)
         |  GROUP BY 1, 2, 3),
         |d AS (SELECT b.rev - a.rev AS d
         |  FROM monthly a JOIN monthly b
         |    ON a.c_nationkey = b.c_nationkey AND a.moy = b.moy
         |   AND a.yr = 1996 AND b.yr = 1997
         |  WHERE b.rev - a.rev <> 0),
         |census AS (SELECT abs(d) AS ad, cast(count(*) AS bigint) AS cnt,
         |    cast(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS bigint) AS pos
         |  FROM d GROUP BY 1),
         |cum AS (SELECT ad, cnt, pos,
         |    cast(coalesce(sum(cnt) OVER (ORDER BY ad
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS bigint) AS cb
         |  FROM census),
         |agg AS (SELECT cast(sum(cnt) AS bigint) AS n,
         |    cast(sum(pos) AS bigint) AS n_pos,
         |    cast(sum(pos * (2 * cb + cnt + 1)) AS bigint) AS wpx2,
         |    cast(sum(cnt * cnt * cnt - cnt) AS bigint) AS ties
         |  FROM cum)
         |SELECT n AS n_pairs, n_pos, n - n_pos AS n_neg,
         |  cast(wpx2 AS double) / 2 AS w_plus,
         |  round((cast(wpx2 AS double) / 2 -
         |    cast(n * (n + 1) AS double) / 4) /
         |    sqrt(cast(n * (n + 1) * (2 * n + 1) AS double) / 24 -
         |      cast(ties AS double) / 48), 6) + 0.0 AS z
         |FROM agg""".stripMargin
  )
}
