package graft.ops

import graft._
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Round-8 fourth-session batch 2: batch sessionization, the remaining
  * two-sample hypothesis tests (Welch's t, Mann-Whitney U — completing
  * the chi²/ANOVA/KS family), and the decile Lorenz curve next to
  * [[Stats]]' Gini.
  *
  * Scale discipline: sessionization rides the range-split sessionize
  * kernel (no per-user window holds a hot user's whole run); both hypothesis tests
  * reduce map-side to one sufficient-statistics row per side (t-test)
  * or per distinct value (U test, whose midranks come from the
  * exclusive distributed prefix sum); the Lorenz curve is dimension-
  * sized after the per-customer aggregate and cumulates DECIMAL spend
  * (associative — a double cumulative would be shard-order-dependent).
  *
  * Float discipline: timestamps cross as integral epoch MICROSECONDS
  * (never raw ts columns); variances carry the house round-4 (their
  * Σx² decimal exceeds 2⁵³ at sf0.1 — the profile_anova_groups
  * lesson) and every statistic built from them is a fixed IEEE tree
  * over identical inputs, rounded at 6; the U statistic and its tie
  * correction are pure integer arithmetic until the final division.
  */
object Extras8 {

  // 12-hour session gap: the corpus' median inter-event gap is ~7 h,
  // so this yields real multi-event sessions (30 min would make nearly
  // every event its own session here)
  private val gapUs = 43200000000L

  private val splitTs = "1998-01-01"

  val queries: Map[String, Q] = Map(

    // gap-based sessionization: per-user 12 h rule, one row per session.
    // Session ids come from the range-split GraftOps.sessionize kernel.
    "events_sessionize" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      GraftOps.sessionize(e, "user_id", "us", Seq("event_id"), gapUs, "sid")
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"), max(col("us")).as("end_us"))
        .withColumn("duration_s",
          expr("(end_us - start_us) DIV 1000000"))
        .orderBy("user_id", "sid")
    },

    // Welch's t-test: AUTOMOBILE vs BUILDING account balances.
    "stats_ttest_welch" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .where(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(col("c_mktsegment").as("seg"),
          col("c_acctbal").cast(DecimalType(12, 2)).as("x"))
      val g = c.groupBy("seg").agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("x") * col("x")).cast(DoubleType).as("sxx"))
      val m = col("sx") / col("n")
      // round-4 variance: the Σx² decimal exceeds 2⁵³ at sf0.1, where
      // DuckDB's decimal→double cast can be off by an ulp and the
      // subtraction cancels into it
      val v = round((col("sxx") - col("sx") * col("sx") / col("n"))
        / (col("n") - 1), 4)
      val a = g.where(col("seg") === "AUTOMOBILE")
        .select(col("n").as("n1"), m.as("m1"), v.as("v1"))
      val b = g.where(col("seg") === "BUILDING")
        .select(col("n").as("n2"), m.as("m2"), v.as("v2"))
      val se2 = col("v1") / col("n1") + col("v2") / col("n2")
      val t = (col("m1") - col("m2")) / sqrt(se2)
      val dfW = se2 * se2 /
        ((col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1) +
          (col("v2") / col("n2")) * (col("v2") / col("n2")) / (col("n2") - 1))
      a.crossJoin(broadcast(b))
        .select(col("n1"), col("n2"), col("m1"), col("m2"), col("v1"), col("v2"),
          // + 0.0 normalizes IEEE -0.0 on a near-zero t statistic
          (round(t, 6) + lit(0.0)).as("t"), round(dfW, 4).as("df"))
    },

    // Mann-Whitney U (tie-corrected normal approximation) on the
    // pre/post-1998 o_totalprice populations — the rank-based companion
    // to drift_ks over the same split.
    "stats_mannwhitney" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val sides = o.select(col("o_totalprice").as("v"),
        when(col("o_orderdate") < lit(splitTs).cast("timestamp"), 1L)
          .otherwise(0L).as("r"))
      val perV = sides.groupBy("v").agg(
        sum(col("r")).as("nr"), sum(lit(1L) - col("r")).as("nc"))
        .withColumn("cnt", col("nr") + col("nc"))
        .withColumn("g", lit(1))
      val cum = GraftOps.distributedRunningSum(
        perV, "g", "v", "cnt", "cb", exclusive = true)
      // 2×midrank keeps the tie-averaged rank integral: 2·cb + cnt + 1
      val agg = cum.agg(
        sum(col("nr")).as("n1"), sum(col("nc")).as("n2"),
        sum(col("nr") * (lit(2L) * col("cb") + col("cnt") + 1L)).as("r1x2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
      val u = (col("r1x2") - col("n1") * (col("n1") + 1L))
        .cast(DoubleType) / 2.0
      val nn = col("n1") + col("n2")
      val mu = (col("n1") * col("n2")).cast(DoubleType) / 2.0
      val sig2 = (col("n1") * col("n2")).cast(DoubleType) / 12.0 *
        ((nn + 1L).cast(DoubleType) -
          col("ties").cast(DoubleType) / (nn * (nn - 1L)))
      agg.select(col("n1").as("n_ref"), col("n2").as("n_cur"),
        u.as("u"),
        // + 0.0 normalizes IEEE -0.0 on a near-zero z statistic
        (round((u - mu) / sqrt(sig2), 6) + lit(0.0)).as("z"))
    },

    // OHLC resampling: one aggregate pass per day bucket — open/close
    // via lexicographic struct min/max (Spark struct ordering == DuckDB
    // struct_pack ordering, probed), so no per-bucket window and no
    // second shuffle. Day = integral epoch-day index (us DIV 86.4e9) —
    // no timezone/date_trunc surface at all.
    "timeseries_ohlc" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      e.groupBy(expr("us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("n"),
          min(struct(col("us"), col("event_id"), col("value"))).as("fst"),
          max(struct(col("us"), col("event_id"), col("value"))).as("lst"),
          max(col("value")).as("high"), min(col("value")).as("low"))
        .select(col("day"), col("n"), col("fst.value").as("open"),
          col("high"), col("low"), col("lst.value").as("close"))
        .orderBy("day")
    },

    // cumulative distinct event types per user over time — the
    // "exploration breadth" curve. First-occurrence flag from a
    // per-(user, type) window, running sum from a per-user window: both
    // partitions are bounded (one user's history), never global.
    "window_running_distinct" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val wFirst = Window.partitionBy("user_id", "event_type")
        .orderBy("us", "event_id")
      val wRun = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("f",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("k_types", sum(col("f")).over(wRun))
        .select(col("event_id"), col("user_id"), col("k_types"))
        .orderBy("event_id")
    },

    // exact per-group quartiles: the grouped twin of profile_quantiles.
    "profile_quantiles_by_group" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
      c.groupBy("c_mktsegment").agg(
        count(lit(1)).as("n"),
        round(expr("percentile(c_acctbal, 0.25)"), 4).as("p25"),
        round(expr("percentile(c_acctbal, 0.5)"), 4).as("p50"),
        round(expr("percentile(c_acctbal, 0.75)"), 4).as("p75"))
        .orderBy("c_mktsegment")
    },

    // Zipf log-log fit over the corpus vocabulary: ln(freq) ~ ln(rank)
    // OLS. Ranks from the distributed prefix sum (freq desc, word
    // tiebreak); each ln is round-6 (libm), the OLS sufficient sums are
    // DECIMAL(18,12)-exact, and the closed-form slope/intercept/r² are
    // fixed IEEE trees — the Heaps-law (text_vocab_growth) companion.
    "text_zipf_fit" -> { (s, dir) =>
      val tf = Tables(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("nfreq", -col("freq"))
      val ranked = GraftOps.distributedRank(tf, Seq("nfreq", "word"), "rank")
      val pts = ranked.select(
        round(log(col("rank").cast(DoubleType)), 6).as("x"),
        round(log(col("freq").cast(DoubleType)), 6).as("y"))
      val g = pts.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(18, 12))).cast(DoubleType).as("sx"),
        sum(col("y").cast(DecimalType(18, 12))).cast(DoubleType).as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(18, 12)))
          .cast(DoubleType).as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(18, 12)))
          .cast(DoubleType).as("syy"),
        sum((col("x") * col("y")).cast(DecimalType(18, 12)))
          .cast(DoubleType).as("sxy"))
      val covN = col("n") * col("sxy") - col("sx") * col("sy")
      val varXN = col("n") * col("sxx") - col("sx") * col("sx")
      val varYN = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("n").as("vocab"),
        round(covN / varXN, 6).as("slope"),
        round((col("sy") - covN / varXN * col("sx")) / col("n"), 6).as("intercept"),
        round(covN * covN / (varXN * varYN), 6).as("r2"))
    },

    // per-user maximum drawdown: running peak minus current value, the
    // largest dip from a prior high. max is order-insensitive (exact on
    // doubles), the subtraction a fixed tree — no float discipline
    // needed; windows bounded per user.
    "timeseries_drawdown" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("peak", max(col("value")).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), max(col("value")).as("max_value"),
          max(col("peak") - col("value")).as("max_drawdown"))
        .orderBy("user_id")
    },

    // last-touch attribution: each purchase attributed to the user's
    // most recent STRICTLY-PRIOR click. A conditional running max over
    // the (unbounded, -1) frame — no self-join, no as-of machinery;
    // per-user windows only. Purchases with no prior click keep NULLs.
    "events_attribution" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("last_click_us",
        max(when(col("event_type") === "click", col("us"))).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"),
          col("last_click_us"),
          expr("(us - last_click_us) DIV 1000000").as("gap_s"))
        .orderBy("event_id")
    },

    // null-PATTERN analysis: which null combinations co-occur (the step
    // after profile_missingness' per-column rates — correlated
    // missingness means a broken upstream join, not random gaps).
    // Deterministic dirt mirrors validate_constraints' recipe; one
    // map-side bitmask + an 8-row aggregate.
    "profile_null_patterns" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val dirty = o.select(
        when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("cust"),
        when(col("o_orderkey") % 83 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("price"),
        when(col("o_orderkey") % 89 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status"))
      dirty.select(
        (when(col("cust").isNull, 4L).otherwise(0L) +
          when(col("price").isNull, 2L).otherwise(0L) +
          when(col("status").isNull, 1L).otherwise(0L)).as("pattern"),
        when(col("cust").isNull, 1L).otherwise(0L).as("cust_null"),
        when(col("price").isNull, 1L).otherwise(0L).as("price_null"),
        when(col("status").isNull, 1L).otherwise(0L).as("status_null"))
        .groupBy("pattern", "cust_null", "price_null", "status_null")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("pattern")
    },

    // per-label mean embedding (class prototypes) in LONG format — the
    // centroid table an IVF index or a nearest-prototype classifier
    // consumes. posexplode fans out ×dim, but the (label, dim) aggregate
    // partial-reduces map-side to labels×dims rows. Cross-engine sum
    // exactness via INTEGER quantization: floor(x·10⁶) is deterministic
    // in both engines (IEEE multiply + floor — a double→decimal cast is
    // NOT: Spark quantizes the shortest string repr, DuckDB the exact
    // binary, and they split on ...4999/5000 boundary digits, observed
    // at sf0.01), and the bigint sum is exact at any partitioning. The
    // deliberate 1e-6 quantization is documented in the column name.
    "sim_label_centroids" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      emb.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x").cast(DoubleType) * 1000000.0).cast("long"))
            .as("qsum"))
        .select(col("label"), col("dim"), col("n"),
          (col("qsum").cast(DoubleType) / col("n") / 1000000.0).as("mean_q6"))
        .orderBy("label", "dim")
    },

    // decile Lorenz curve of per-customer spend: the distributional
    // picture behind profile_gini's single number.
    "profile_lorenz_deciles" -> { (s, dir) =>
      val spend = Tables(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("x"))
        .localCheckpoint(false)
      val deciled = GraftOps.distributedNtile(
        spend, Seq("x", "o_custkey"), 10, "decile")
      // r14 rework (guide §1.2): the cumulative over the TEN decile rows
      // used to run a full distributedRunningSum kernel (two exchanges +
      // offsets + broadcast, for 10 rows). The decile count is a constant,
      // so cum(d) = Σ_{d' ≤ d} expands each decile to its ≤10 downstream
      // anchors (bounded explode, one tiny shuffle); the DECIMAL sums stay
      // exact/associative, so values are bit-identical. perD feeds the
      // cum rollup, the total and the final join — checkpoint (10 rows).
      val perD = deciled.groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("x")).as("spend_dec"))
        .localCheckpoint(false)
      val cum = perD
        .select(col("spend_dec").as("sd"),
          explode(sequence(col("decile"), lit(10))).as("decile"))
        .groupBy("decile").agg(sum(col("sd")).as("cum_dec"))
      val tot = perD.agg(sum(col("spend_dec")).cast(DoubleType).as("tot"))
      perD.join(cum, "decile").crossJoin(broadcast(tot))
        .select(col("decile"), col("n_customers"),
          col("spend_dec").cast(DoubleType).as("spend"),
          (col("spend_dec").cast(DoubleType) / col("tot")).as("share"),
          (col("cum_dec").cast(DoubleType) / col("tot")).as("cum_share"))
        .orderBy("decile")
    }
  )

  val oracle: Map[String, String] = Map(
    "events_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         |l AS (SELECT user_id, event_id, us,
         |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
         |      FROM e),
         |f AS (SELECT user_id, event_id, us,
         |        CASE WHEN pus IS NULL OR us - pus > $gapUs THEN 1 ELSE 0 END AS ns
         |      FROM l),
         |t AS (SELECT user_id, us,
         |        cast(sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
         |          ROWS UNBOUNDED PRECEDING) AS bigint) AS sid
         |      FROM f)
         |SELECT user_id, sid, cast(count(*) AS bigint) AS n_events,
         |       min(us) AS start_us, max(us) AS end_us,
         |       (max(us) - min(us)) // 1000000 AS duration_s
         |FROM t GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,
    "stats_ttest_welch" ->
      """WITH c AS (SELECT c_mktsegment AS seg,
        |             cast(c_acctbal AS decimal(12,2)) AS x
        |           FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
        |g AS (SELECT seg, cast(count(*) AS bigint) AS n,
        |             cast(sum(x) AS double) AS sx,
        |             cast(sum(x * x) AS double) AS sxx
        |      FROM c GROUP BY seg),
        |a AS (SELECT n AS n1, sx / n AS m1,
        |             round((sxx - sx * sx / n) / (n - 1), 4) AS v1
        |      FROM g WHERE seg = 'AUTOMOBILE'),
        |b AS (SELECT n AS n2, sx / n AS m2,
        |             round((sxx - sx * sx / n) / (n - 1), 4) AS v2
        |      FROM g WHERE seg = 'BUILDING')
        |SELECT n1, n2, m1, m2, v1, v2,
        |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) + 0.0 AS t,
        |  round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
        |    / ((v1 / n1) * (v1 / n1) / (n1 - 1)
        |     + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) AS df
        |FROM a CROSS JOIN b""".stripMargin,
    "stats_mannwhitney" ->
      s"""WITH b AS (
         |  SELECT o_totalprice AS v,
         |         CASE WHEN o_orderdate < TIMESTAMP '$splitTs' THEN 1 ELSE 0 END AS r
         |  FROM orders),
         |c AS (SELECT v, cast(sum(r) AS bigint) AS nr,
         |             cast(sum(1 - r) AS bigint) AS nc
         |      FROM b GROUP BY v),
         |w AS (SELECT v, nr, nc, nr + nc AS cnt,
         |        cast(coalesce(sum(nr + nc) OVER (ORDER BY v
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS bigint) AS cb
         |      FROM c),
         |a AS (SELECT cast(sum(nr) AS bigint) AS n1,
         |             cast(sum(nc) AS bigint) AS n2,
         |             cast(sum(nr * (2 * cb + cnt + 1)) AS bigint) AS r1x2,
         |             cast(sum(cnt * cnt * cnt - cnt) AS bigint) AS ties
         |      FROM w)
         |SELECT n1 AS n_ref, n2 AS n_cur,
         |  cast(r1x2 - n1 * (n1 + 1) AS double) / 2.0 AS u,
         |  round((cast(r1x2 - n1 * (n1 + 1) AS double) / 2.0
         |      - cast(n1 * n2 AS double) / 2.0)
         |    / sqrt(cast(n1 * n2 AS double) / 12.0
         |      * (cast(n1 + n2 + 1 AS double)
         |        - cast(ties AS double) / ((n1 + n2) * (n1 + n2 - 1)))), 6)
         |    + 0.0 AS z
         |FROM a""".stripMargin,
    "timeseries_ohlc" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_id, value FROM events),
        |g AS (SELECT us // 86400000000 AS day,
        |        cast(count(*) AS bigint) AS n,
        |        min(struct_pack(us := us, event_id := event_id,
        |                        value := value)) AS fst,
        |        max(struct_pack(us := us, event_id := event_id,
        |                        value := value)) AS lst,
        |        max(value) AS high, min(value) AS low
        |      FROM e GROUP BY 1)
        |SELECT day, n, fst.value AS open, high, low, lst.value AS close
        |FROM g ORDER BY day""".stripMargin,
    "window_running_distinct" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |f AS (SELECT user_id, event_id, us,
        |        CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |               ORDER BY us, event_id) = 1 THEN 1 ELSE 0 END AS fl
        |      FROM e)
        |SELECT event_id, user_id,
        |  cast(sum(fl) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS bigint) AS k_types
        |FROM f ORDER BY event_id""".stripMargin,
    "profile_quantiles_by_group" ->
      """SELECT c_mktsegment, cast(count(*) AS bigint) AS n,
        |  round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
        |  round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
        |  round(quantile_cont(c_acctbal, 0.75), 4) AS p75
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "text_zipf_fit" ->
      """WITH tf AS (SELECT word, cast(count(*) AS bigint) AS freq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        |        FROM documents) GROUP BY word),
        |r AS (SELECT freq, cast(row_number() OVER (ORDER BY -freq, word)
        |        AS bigint) AS rank FROM tf),
        |pts AS (SELECT round(ln(cast(rank AS double)), 6) AS x,
        |               round(ln(cast(freq AS double)), 6) AS y FROM r),
        |g AS (SELECT cast(count(*) AS bigint) AS n,
        |        cast(sum(cast(x AS decimal(18,12))) AS double) AS sx,
        |        cast(sum(cast(y AS decimal(18,12))) AS double) AS sy,
        |        cast(sum(cast(x * x AS decimal(18,12))) AS double) AS sxx,
        |        cast(sum(cast(y * y AS decimal(18,12))) AS double) AS syy,
        |        cast(sum(cast(x * y AS decimal(18,12))) AS double) AS sxy
        |      FROM pts)
        |SELECT n AS vocab,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM g""".stripMargin,
    "timeseries_drawdown" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us
        |           FROM events),
        |p AS (SELECT user_id, value,
        |        max(value) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS peak
        |      FROM e)
        |SELECT user_id, cast(count(*) AS bigint) AS n,
        |       max(value) AS max_value, max(peak - value) AS max_drawdown
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    "events_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |a AS (SELECT user_id, event_id, event_type, us,
        |        max(CASE WHEN event_type = 'click' THEN us END)
        |          OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS last_click_us
        |      FROM e)
        |SELECT event_id, user_id, us, last_click_us,
        |       (us - last_click_us) // 1000000 AS gap_s
        |FROM a WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "profile_null_patterns" ->
      """WITH dirty AS (SELECT
        |  CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS cust,
        |  CASE WHEN o_orderkey % 83 = 0 THEN NULL ELSE o_totalprice END AS price,
        |  CASE WHEN o_orderkey % 89 = 0 THEN NULL ELSE o_orderstatus END AS status
        |FROM orders)
        |SELECT
        |  (CASE WHEN cust IS NULL THEN 4 ELSE 0 END +
        |   CASE WHEN price IS NULL THEN 2 ELSE 0 END +
        |   CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS pattern,
        |  CASE WHEN cust IS NULL THEN 1 ELSE 0 END AS cust_null,
        |  CASE WHEN price IS NULL THEN 1 ELSE 0 END AS price_null,
        |  CASE WHEN status IS NULL THEN 1 ELSE 0 END AS status_null,
        |  cast(count(*) AS bigint) AS n_rows
        |FROM dirty GROUP BY 1, 2, 3, 4 ORDER BY pattern""".stripMargin,
    "sim_label_centroids" ->
      """SELECT label, cast(u.el.i - 1 AS int) AS dim,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(floor(cast(u.el.s AS double) * 1000000.0) AS bigint))
        |    AS double) / count(*) / 1000000.0 AS mean_q6
        |FROM embeddings t,
        |  unnest(list_transform(t.embedding,
        |    (s0, i0) -> struct_pack(s := s0, i := i0))) AS u(el)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "profile_lorenz_deciles" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(cast(o_totalprice AS decimal(18,4))) AS x
        |  FROM orders GROUP BY o_custkey),
        |d AS (SELECT x, ntile(10) OVER (ORDER BY x, o_custkey) AS decile FROM spend),
        |p AS (SELECT decile, cast(count(*) AS bigint) AS n_customers,
        |             sum(x) AS spend_dec
        |      FROM d GROUP BY decile),
        |c AS (SELECT decile, n_customers, spend_dec,
        |        sum(spend_dec) OVER (ORDER BY decile
        |          ROWS UNBOUNDED PRECEDING) AS cum_dec,
        |        cast(sum(spend_dec) OVER () AS double) AS tot
        |      FROM p)
        |SELECT decile, n_customers, cast(spend_dec AS double) AS spend,
        |       cast(spend_dec AS double) / tot AS share,
        |       cast(cum_dec AS double) / tot AS cum_share
        |FROM c ORDER BY decile""".stripMargin
  )
}
