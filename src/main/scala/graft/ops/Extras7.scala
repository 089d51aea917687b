package graft.ops

import graft._
import graft.Tables._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Round-8 third-session additions: behavioral analytics (Markov
  * transitions, RFM segmentation, YoY growth), exact-arithmetic EWMA
  * smoothing, and deterministic per-group reservoir sampling.
  *
  * Scale discipline shared by all five: the only full-data passes are
  * map-side-combinable aggregates or per-key windows whose partition is a
  * single user/group's rows (bounded state); everything after the first
  * aggregate is dimension-sized and broadcast. No double is ever summed
  * across rows — money flows through DECIMAL(18,4) (associative, exact)
  * and the EWMA weights are exact binary-fraction decimal literals, so
  * the bit-exact oracle gate holds at any partitioning.
  */
object Extras7 {

  // per-invocation unique suffix for short-lived temp views (the
  // join_lateral_topn concurrency discipline)
  private val ppsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** PUBLIC API: truncated exponentially-weighted moving average with
    * exact decimal arithmetic. λ = 1/2, horizon = 8 lags: weights
    * 2⁻¹ … 2⁻⁸ are exact decimal literals, each term is an exact
    * decimal(18,4)×decimal(_,8) product, the 8-term sum is exact, and
    * only the FINAL value is cast to double — so the result is
    * bit-identical regardless of partitioning or engine. Missing lags
    * (series head) contribute 0; weights deliberately sum to 255/256
    * (the truncation tail) rather than being renormalized, keeping every
    * term an exact binary fraction. */
  def ewmaTruncated(dx: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val zero = lit(BigDecimal(0)).cast(DecimalType(18, 4))
    val terms = (0 until 8).map { j =>
      val weight = lit(BigDecimal(0.5).pow(j + 1))
      coalesce(lag(dx, j).over(w), zero) * weight
    }
    terms.reduce(_ + _).cast(DoubleType)
  }

  val queries: Map[String, Q] = Map(
    // first-order Markov transition matrix of user event sequences:
    // P(next event type | current). The lag window partitions by user
    // (state bounded by one user's history, never a global sort); the
    // (prev, curr) cells and per-prev margins are |types|²-sized, so
    // everything after the per-user pass is broadcast territory. The
    // probability is one bigint→double division per cell — no double
    // aggregation. Ties on ts break on event_id, and BOTH engines order
    // by the µs-truncated timestamp (the scd2 convention).
    "events_transition_matrix" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n_trans"))
      val totals = trans.groupBy("prev_type").agg(sum("n_trans").as("n_from"))
      trans.join(broadcast(totals), "prev_type")
        .withColumn("p_trans",
          col("n_trans").cast(DoubleType) / col("n_from").cast(DoubleType))
        .select("prev_type", "event_type", "n_trans", "p_trans")
        .orderBy("prev_type", "event_type")
    },

    // exact-decimal EWMA over each user's daily value series (λ = 1/2,
    // 8-lag truncation — see ewmaTruncated). The daily rollup is one
    // map-side-combined aggregate; the smoothing window is per-user
    // (bounded partitions). The conventional recursive EWMA is
    // order-SEQUENTIAL per key; truncating at 8 lags (weight tail
    // 1/256) turns it into a bounded window expression both engines
    // evaluate identically — the declarative form that scales.
    "timeseries_ewma" -> { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).cast(DecimalType(18, 4)).as("dx"))
      val w = Window.partitionBy("user_id").orderBy("day")
      daily
        .withColumn("ewma", ewmaTruncated(col("dx"), w))
        .select(col("user_id"), col("day"),
          col("dx").cast(DoubleType).as("day_value"), col("ewma"))
        .orderBy("user_id", "day")
    },

    // lag-1 autocorrelation of each user's daily value series — the
    // self-similarity signal behind seasonality/trend screens. The
    // agg_corr_manual discipline per key: exact decimal sums (products
    // decimal-exact, sums associative), double casts, ONE fixed IEEE
    // tree with sqrt (correctly rounded per IEEE 754, unlike ln/pow),
    // round-6. Per-user windows and aggregates only — no global state.
    "timeseries_autocorr" -> { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).cast(DecimalType(18, 4)).as("dx"))
      val w = Window.partitionBy("user_id").orderBy("day")
      val pairs = daily
        .withColumn("dy", lag(col("dx"), 1).over(w))
        .where(col("dy").isNotNull)
      val (x, y) = (col("dx"), col("dy"))
      pairs.groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(x).cast(DoubleType).as("sx"), sum(y).cast(DoubleType).as("sy"),
          sum(x * y).cast(DoubleType).as("sxy"),
          sum(x * x).cast(DoubleType).as("sx2"),
          sum(y * y).cast(DoubleType).as("sy2"))
        .where(col("n_pairs") >= 3)
        .select(col("user_id"), col("n_pairs"),
          // + 0.0 normalizes IEEE -0.0 across engines on near-zero corr
          (round((col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n_pairs") * col("sx2") - col("sx") * col("sx")) *
              sqrt(col("n_pairs") * col("sy2") - col("sy") * col("sy"))), 6)
            + lit(0.0)).as("autocorr_lag1"))
        .orderBy("user_id")
    },

    // year-over-year revenue growth per nation: yearly exact-decimal
    // rollup, lag window per nation (25-row partitions after the
    // aggregate), growth = (rev − prev)/prev with the subtraction still
    // EXACT in decimal and only one double division at the end. The
    // fact pass is a single groupBy(nation, year); dims broadcast.
    "analytics_yoy_growth" -> { (s, dir) =>
      val yearly = Tables(s, dir, "orders")
        .join(broadcast(Tables(s, dir, "customer")
          .select("c_custkey", "c_nationkey")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(dec(col("o_totalprice"))).cast(DecimalType(18, 4)).as("rev"))
      val w = Window.partitionBy("n_name").orderBy("o_year")
      val prev = lag(col("rev"), 1).over(w)
      yearly
        .withColumn("growth",
          (col("rev") - prev).cast(DoubleType) / prev.cast(DoubleType))
        .select(col("n_name"), col("o_year"),
          col("rev").cast(DoubleType).as("revenue"), col("growth"))
        .orderBy("n_name", "o_year")
    },

    // RFM segmentation: per customer recency/frequency/monetary, quartile
    // each (deterministic total order: metric then custkey), segment code
    // r·100 + f·10 + m, report segment occupancy. The per-customer rollup
    // is the only fact pass; each quartile is a [[GraftOps.distributedNtile]] —
    // positional SQL-ntile semantics WITHOUT the single-partition global
    // window (ranks come from the two-level prefix sum, parallelism =
    // shard count at any customer cardinality).
    "analytics_rfm_segments" -> { (s, dir) =>
      // the customer-grain rollup feeds the tagged union's three branches
      // — checkpoint it once instead of replaying the fact aggregate
      // (lazy localCheckpoint, the connectedComponents lineage discipline)
      val rfm = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(max(epochS(col("o_orderdate"))).as("r_ts"),
          count(lit(1)).as("f_cnt"),
          sum(dec(col("o_totalprice"))).cast(DecimalType(18, 4)).as("m_dec"))
        .localCheckpoint(false)
      // r14 rework (guide §2.4): the three quartiles used to run three
      // independent distributedNtile kernels (3 range exchanges + 3
      // window passes + 3 join-backs on o_custkey). All three rank over
      // the same row set, so TAG each metric (monetary as exact cents —
      // m_dec has scale 4, ×10⁴ is a monotone exact long, identical
      // order and ties) and rank the union in ONE [[GraftOps.distributedNtileBy]]
      // pass; the per-customer (r_q, f_q, m_q) triple then reassembles
      // in one groupBy instead of three joins. Bucket rule, ordering and
      // tiebreaks are unchanged — output is identical row for row.
      val tagged = rfm.select(lit(1).as("tag"), col("r_ts").as("metric"), col("o_custkey"))
        .unionAll(rfm.select(lit(2).as("tag"), col("f_cnt").as("metric"), col("o_custkey")))
        .unionAll(rfm.select(lit(3).as("tag"),
          (col("m_dec") * 10000).cast("long").as("metric"), col("o_custkey")))
      GraftOps.distributedNtileBy(tagged, "tag", Seq("metric", "o_custkey"), 4, "q")
        .groupBy("o_custkey")
        .agg(max(when(col("tag") === 1, col("q"))).as("r_q"),
          max(when(col("tag") === 2, col("q"))).as("f_q"),
          max(when(col("tag") === 3, col("q"))).as("m_q"),
          max(when(col("tag") === 2, col("metric"))).as("f_cnt"))
        .withColumn("segment",
          col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"), sum("f_cnt").as("n_orders"))
        .orderBy("segment")
    },

    // the distributed twin of the §2.5 window_ntile_percent: both keys run
    // the one distributedRank form (Windows.ntilePercent) and one oracle
    "window_ntile_percent_distributed" -> Windows.ntilePercent,

    // Pareto concentration curve: customers ranked by revenue into
    // deciles (distributedNtile on the NEGATED exact-cents revenue —
    // descending order as an ascending sort key), per-decile revenue,
    // and the cumulative share per decile via distributedRunningSum
    // over the 10-row decile rollup. Revenue rides as exact integer
    // CENTS (decimal(18,4)·10⁴ → bigint) through both kernels; the only
    // doubles are two final single divisions. Answers "what share of
    // revenue do the top k/10 of customers hold" with no
    // single-partition window anywhere.
    "analytics_pareto_curve" -> { (s, dir) =>
      // the customer rollup feeds three plan branches (ntile rank, ntile
      // count, decile rollup) — materialize once
      val custRev = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg((sum(dec(col("o_totalprice"))) * 10000).cast("long").as("rev_c"))
        .withColumn("negrev", -col("rev_c"))
        .localCheckpoint(false)
      // r14 rework (guide §1.2 first-principles): the cumulative over the
      // TEN decile rows used to run a full distributedRunningSum kernel
      // (range exchange + window exchange + offsets + broadcast — over 10
      // rows), and the grand total re-scanned custRev. The decile count
      // is a CONSTANT 10, so cum(d) = Σ_{d' ≤ d} rev expands each decile
      // row to its ≤10 downstream anchors (bounded explode, one tiny hash
      // shuffle) and the grand total is the sum of the per-decile sums —
      // same exact integer arithmetic, two fewer full kernel passes.
      // byDecile feeds the cum rollup AND the final join: checkpoint it
      // (10 rows).
      val byDecile = GraftOps.distributedNtile(custRev, Seq("negrev", "o_custkey"), 10, "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum("rev_c").as("rev_cents"))
        .localCheckpoint(false)
      val cum = byDecile
        .select(col("rev_cents"),
          explode(sequence(col("decile"), lit(10))).as("decile"))
        .groupBy("decile").agg(sum("rev_cents").as("cum_cents"))
      byDecile.join(cum, "decile")
        .crossJoin(broadcast(byDecile.agg(sum("rev_cents").as("tot_cents"))))
        .select(col("decile"), col("n_customers"), col("rev_cents"),
          (col("cum_cents").cast(DoubleType) / col("tot_cents").cast(DoubleType))
            .as("cum_share"))
        .orderBy("decile")
    },

    // weekly cohort retention matrix: users grouped by first-active day,
    // activity bucketed into week-ages since that day — the
    // (cohort, age) grid a retention curve reads off. Distinct
    // (user, day) first (one shuffle), first-day via a per-user
    // aggregate joined back, then a counts-only grid aggregate. All
    // integral; dates cross engines as DATE + day-difference DIV 7.
    "events_cohort_matrix" -> { (s, dir) =>
      val userDay = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .localCheckpoint(false) // feeds the first-day aggregate AND the grid
      val first = userDay.groupBy("user_id").agg(min("day").as("d0"))
      userDay.join(first, "user_id")
        .withColumn("age_w", expr("CAST(datediff(day, d0) DIV 7 AS int)"))
        .groupBy(col("d0").as("cohort_day"), col("age_w"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "age_w")
    },

    // systematic probability-proportional-to-size sampling: k = 20
    // customers drawn ∝ revenue. The classic PPS design made
    // Spark-correct: exact integer CENTS flow through
    // distributedRunningSum, and a row is selected iff its cumulative
    // interval crosses a multiple of total/k —
    // (cum·k) DIV total > (cum_before·k) DIV total — ALL integer
    // arithmetic, no rand(), no float ordering, reproducible across
    // engines and partitionings. (A weight exceeding total/k crosses
    // several boundaries but is emitted once — the standard PPS
    // certainty-unit note.)
    "sample_weighted_systematic" -> { (s, dir) =>
      val k = 20
      val custRev = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg((sum(dec(col("o_totalprice"))) * 10000).cast("long").as("rev_c"))
      val cum = graft.llm.Chunking.distributedRunningSum(
        custRev.select(lit(0).as("__p"), col("o_custkey"), col("rev_c")),
        "__p", "o_custkey", "rev_c", "cum_c")
      // the total reaches the selection as a SCALAR SUBQUERY (the
      // join_bloom_reduced discipline): a crossJoin(broadcast(1-row))
      // whose filter references both sides degrades to a conditioned
      // BNLJ evaluated interpreted per row (full-suite PlanSpec guard
      // caught exactly that here)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + ppsSeq.incrementAndGet()
      val cv = s"graft_pps_cum_$tag"
      cum.createOrReplaceTempView(cv)
      try s.sql(s"""
        SELECT o_custkey, rev_c,
          CAST((cum_c * $k) DIV (SELECT sum(rev_c) FROM $cv) AS int) AS slot
        FROM $cv
        WHERE (cum_c * $k) DIV (SELECT sum(rev_c) FROM $cv)
            > ((cum_c - rev_c) * $k) DIV (SELECT sum(rev_c) FROM $cv)
        ORDER BY o_custkey""")
      finally s.catalog.dropTempView(cv)
    },

    // EWMA control chart: flag days where a user's value jumps more
    // than 4× their global MAD away from YESTERDAY'S smoothed level
    // (the truncated exact-decimal EWMA lagged one step — comparing
    // x_t to a level that already includes x_t would dampen the very
    // jump being tested). Residuals stay exact decimal; the fence is
    // the round-4 MAD double, one multiply — the outlier_mad rule.
    "timeseries_anomaly_ewma" -> { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).cast(DecimalType(18, 4)).as("dx"))
        .localCheckpoint(false) // feeds the EWMA branch and the MAD fence
      val w = Window.partitionBy("user_id").orderBy("day")
      // two steps: window functions can't nest — materialize the EWMA
      // column, THEN lag it
      val scored = daily
        .withColumn("ewma", ewmaTruncated(col("dx"), w))
        .withColumn("level", lag(col("ewma"), 1).over(w))
        .where(col("level").isNotNull)
      // the MAD fence reaches the filter as a SCALAR SUBQUERY — a
      // crossJoin(broadcast(mad)) + where(resid > 4·mad) references both
      // join sides and degrades to a conditioned BNLJ (same trap as
      // sample_weighted_systematic; PlanSpec guard)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + ppsSeq.incrementAndGet()
      val (sv, dv) = (s"graft_anom_scored_$tag", s"graft_anom_daily_$tag")
      scored.createOrReplaceTempView(sv)
      daily.createOrReplaceTempView(dv)
      try s.sql(s"""
        WITH m0 AS (SELECT round(percentile(CAST(dx AS double), 0.5), 4) AS med
                    FROM $dv),
        m AS (SELECT round(percentile(abs(CAST(dx AS double) - med), 0.5), 4)
                AS mad FROM $dv CROSS JOIN m0)
        SELECT user_id, day, CAST(dx AS double) AS day_value, level,
          abs(CAST(dx AS double) - level) AS resid
        FROM $sv
        WHERE abs(CAST(dx AS double) - level) > 4.0 * (SELECT mad FROM m)
        ORDER BY user_id, day""")
      finally {
        s.catalog.dropTempView(sv)
        s.catalog.dropTempView(dv)
      }
    },

    // deterministic k-per-group reservoir: rank orders within each
    // priority class by an arithmetic hash of the key (the
    // pipeline_shuffle_deterministic LCG — no rand(), reproducible
    // across runs/engines) and keep the first 5. The per-group window
    // is the grouped top-k shape: bounded heap state per group under
    // partial windowed aggregation, one shuffle on the group key.
    "sample_reservoir_per_group" -> { (s, dir) =>
      val hash = (col("o_orderkey") * lit(2654435761L)) % lit(2147483647L)
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(hash.asc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy("o_orderpriority", "rn")
    }
  )

  val oracle: Map[String, String] = Map(
    "events_transition_matrix" ->
      """WITH e AS (SELECT user_id, cast(ts as timestamp) AS tsu, event_id, event_type
        |           FROM events),
        |seq AS (SELECT event_type,
        |          lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |            AS prev_type
        |        FROM e),
        |trans AS (SELECT prev_type, event_type, count(*) AS n_trans
        |          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_type, sum(n_trans) AS n_from FROM trans GROUP BY 1)
        |SELECT trans.prev_type, event_type, n_trans,
        |  cast(n_trans as double) / cast(n_from as double) AS p_trans
        |FROM trans JOIN tot USING (prev_type)
        |ORDER BY prev_type, event_type""".stripMargin,
    "timeseries_ewma" ->
      """WITH daily AS (
        |  SELECT user_id, cast(cast(ts as timestamp) as date) AS day,
        |    cast(sum(cast(value as decimal(18,4))) as decimal(18,4)) AS dx
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, cast(dx as double) AS day_value,
        |  cast(
        |    coalesce(lag(dx, 0) OVER w, cast(0 as decimal(18,4))) * 0.5
        |  + coalesce(lag(dx, 1) OVER w, cast(0 as decimal(18,4))) * 0.25
        |  + coalesce(lag(dx, 2) OVER w, cast(0 as decimal(18,4))) * 0.125
        |  + coalesce(lag(dx, 3) OVER w, cast(0 as decimal(18,4))) * 0.0625
        |  + coalesce(lag(dx, 4) OVER w, cast(0 as decimal(18,4))) * 0.03125
        |  + coalesce(lag(dx, 5) OVER w, cast(0 as decimal(18,4))) * 0.015625
        |  + coalesce(lag(dx, 6) OVER w, cast(0 as decimal(18,4))) * 0.0078125
        |  + coalesce(lag(dx, 7) OVER w, cast(0 as decimal(18,4))) * 0.00390625
        |  as double) AS ewma
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |ORDER BY user_id, day""".stripMargin,
    "timeseries_autocorr" ->
      """WITH daily AS (
        |  SELECT user_id, cast(cast(ts as timestamp) as date) AS day,
        |    cast(sum(cast(value as decimal(18,4))) as decimal(18,4)) AS dx
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT user_id, dx,
        |    lag(dx, 1) OVER (PARTITION BY user_id ORDER BY day) AS dy
        |  FROM daily),
        |s AS (SELECT user_id, count(*) AS n_pairs,
        |    cast(sum(dx) as double) AS sx, cast(sum(dy) as double) AS sy,
        |    cast(sum(dx * dy) as double) AS sxy,
        |    cast(sum(dx * dx) as double) AS sx2,
        |    cast(sum(dy * dy) as double) AS sy2
        |  FROM p WHERE dy IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_pairs,
        |  round((n_pairs * sxy - sx * sy) /
        |    (sqrt(n_pairs * sx2 - sx * sx) * sqrt(n_pairs * sy2 - sy * sy)), 6)
        |    + 0.0 AS autocorr_lag1
        |FROM s WHERE n_pairs >= 3 ORDER BY user_id""".stripMargin,
    "analytics_yoy_growth" ->
      """WITH yearly AS (
        |  SELECT n_name, cast(year(o_orderdate) as int) AS o_year,
        |    cast(sum(cast(o_totalprice as decimal(18,4))) as decimal(18,4)) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name, o_year, cast(rev as double) AS revenue,
        |  cast(rev - lag(rev, 1) OVER w as double)
        |    / cast(lag(rev, 1) OVER w as double) AS growth
        |FROM yearly
        |WINDOW w AS (PARTITION BY n_name ORDER BY o_year)
        |ORDER BY n_name, o_year""".stripMargin,
    "analytics_rfm_segments" ->
      """WITH rfm AS (
        |  SELECT o_custkey,
        |    max(cast(epoch(date_trunc('second', o_orderdate)) as bigint)) AS r_ts,
        |    count(*) AS f_cnt,
        |    cast(sum(cast(o_totalprice as decimal(18,4))) as decimal(18,4)) AS m_dec
        |  FROM orders GROUP BY 1),
        |coded AS (
        |  SELECT ntile(4) OVER (ORDER BY r_ts, o_custkey) * 100
        |       + ntile(4) OVER (ORDER BY f_cnt, o_custkey) * 10
        |       + ntile(4) OVER (ORDER BY m_dec, o_custkey) AS segment, f_cnt
        |  FROM rfm)
        |SELECT segment, count(*) AS n_customers, cast(sum(f_cnt) as bigint) AS n_orders
        |FROM coded GROUP BY 1 ORDER BY 1""".stripMargin,
    "window_ntile_percent_distributed" -> Windows.sqlNtilePercent,
    "analytics_pareto_curve" ->
      """WITH cr AS (SELECT o_custkey,
        |    cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint) AS rev_c
        |  FROM orders GROUP BY 1),
        |d AS (SELECT o_custkey, rev_c,
        |    ntile(10) OVER (ORDER BY -rev_c, o_custkey) AS decile FROM cr),
        |b AS (SELECT decile, count(*) AS n_customers,
        |    cast(sum(rev_c) as bigint) AS rev_cents FROM d GROUP BY 1),
        |t AS (SELECT cast(sum(rev_c) as bigint) AS tot FROM cr)
        |SELECT decile, n_customers, rev_cents,
        |  cast(sum(rev_cents) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
        |    / cast(tot as double) AS cum_share
        |FROM b CROSS JOIN t ORDER BY decile""".stripMargin,
    "events_cohort_matrix" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    cast(cast(ts as timestamp) as date) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM ud GROUP BY 1)
        |SELECT d0 AS cohort_day,
        |  cast(date_diff('day', d0, day) // 7 as int) AS age_w,
        |  count(DISTINCT ud.user_id) AS n_users
        |FROM ud JOIN f ON ud.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, age_w""".stripMargin,
    "sample_weighted_systematic" ->
      """WITH cr AS (SELECT o_custkey,
        |    cast(sum(cast(o_totalprice as decimal(18,4))) * 10000 as bigint) AS rev_c
        |  FROM orders GROUP BY 1),
        |c AS (SELECT o_custkey, rev_c,
        |    sum(rev_c) OVER (ORDER BY o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
        |  FROM cr),
        |t AS (SELECT cast(sum(rev_c) as bigint) AS tot FROM cr)
        |SELECT o_custkey, rev_c, cast((cum_c * 20) // tot as int) AS slot
        |FROM c CROSS JOIN t
        |WHERE (cum_c * 20) // tot > ((cum_c - rev_c) * 20) // tot
        |ORDER BY o_custkey""".stripMargin,
    "timeseries_anomaly_ewma" ->
      """WITH daily AS (
        |  SELECT user_id, cast(cast(ts as timestamp) as date) AS day,
        |    cast(sum(cast(value as decimal(18,4))) as decimal(18,4)) AS dx
        |  FROM events GROUP BY 1, 2),
        |e AS (SELECT user_id, day, dx,
        |  cast(
        |    coalesce(lag(dx, 0) OVER w, cast(0 as decimal(18,4))) * 0.5
        |  + coalesce(lag(dx, 1) OVER w, cast(0 as decimal(18,4))) * 0.25
        |  + coalesce(lag(dx, 2) OVER w, cast(0 as decimal(18,4))) * 0.125
        |  + coalesce(lag(dx, 3) OVER w, cast(0 as decimal(18,4))) * 0.0625
        |  + coalesce(lag(dx, 4) OVER w, cast(0 as decimal(18,4))) * 0.03125
        |  + coalesce(lag(dx, 5) OVER w, cast(0 as decimal(18,4))) * 0.015625
        |  + coalesce(lag(dx, 6) OVER w, cast(0 as decimal(18,4))) * 0.0078125
        |  + coalesce(lag(dx, 7) OVER w, cast(0 as decimal(18,4))) * 0.00390625
        |  as double) AS ewma
        |  FROM daily
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |l AS (SELECT user_id, day, dx,
        |    lag(ewma, 1) OVER (PARTITION BY user_id ORDER BY day) AS level
        |  FROM e),
        |m0 AS (SELECT round(quantile_cont(cast(dx as double), 0.5), 4) AS med
        |       FROM daily),
        |m AS (SELECT round(quantile_cont(abs(cast(dx as double) - med), 0.5), 4)
        |        AS mad FROM daily CROSS JOIN m0)
        |SELECT user_id, day, cast(dx as double) AS day_value, level,
        |  abs(cast(dx as double) - level) AS resid
        |FROM l CROSS JOIN m
        |WHERE level IS NOT NULL AND abs(cast(dx as double) - level) > 4.0 * mad
        |ORDER BY user_id, day""".stripMargin,
    "sample_reservoir_per_group" ->
      """WITH ranked AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY (o_orderkey * 2654435761) % 2147483647, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderpriority, rn, o_orderkey, o_totalprice
        |FROM ranked WHERE rn <= 5
        |ORDER BY o_orderpriority, rn""".stripMargin
  )
}
