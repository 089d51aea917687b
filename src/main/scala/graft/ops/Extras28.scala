package graft.ops

import graft._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Round-9 batch 9: as-of with tolerance, discrete percentiles, and
  * power analysis.
  *
  * Float discipline: percentile_disc returns an ACTUAL data value (no
  * interpolation) so it hash-matches raw; the power-analysis z
  * constants are shared hardcoded literals (the Benford rule — libm
  * inverse-normal differs across engines, constants don't).
  */
object Extras28 {

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  val queries: Map[String, Q] = Map(

    // as-of join WITH TOLERANCE (the pandas merge_asof / kdb aj knob):
    // each purchase takes its latest click at-or-before, but only
    // within 1 h — older context is stale and must NOT attach. The one
    // as-of kernel (GraftOps.asofJoin, as join_asof); the tolerance is a
    // post-window null-out.
    "join_asof_tolerance" -> { (s, dir) =>
      val tol = 3600000000L // 1h in µs
      val (purchases, clicks) = Joins.purchasesAndClicks(s, dir)
      val gap = col("t") - col("asof_t")
      GraftOps.asofJoin(purchases, clicks, "user_id", "t", "t", Seq("event_id", "t"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("t").as("pt"),
          when(gap <= tol, col("asof_event_id")).as("click_id"),
          when(gap <= tol, gap).as("gap_us"))
        .orderBy(col("purchase_id"))
    },

    // discrete (type-1) percentiles — the quantile that returns an
    // ACTUAL data value, needed when the column is categorical-coded or
    // interpolation is meaningless; also the hash-friendliest quantile
    // (no arithmetic at all). WITHIN GROUP SQL surface.
    "agg_percentile_disc" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + seq.incrementAndGet()
      val v = s"graft_pdisc_$tag"
      Tables(s, dir, "lineitem").createOrReplaceTempView(v)
      try s.sql(
        s"""SELECT l_returnflag, count(*) AS n,
           |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
           |    AS p50_disc,
           |  percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
           |    AS p90_disc
           |FROM $v GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      finally s.catalog.dropTempView(v)
    },

    // rolling lag-1 autocorrelation flags per user: corr of (x_t,
    // x_{t-1}) over the trailing 7-pair frame — the "has this series
    // become self-predictable" monitor. Sufficient sums are EXACT
    // integer window folds of milli-quantized values (micro-quantized
    // squares of a 7-term frame overflow int64 — the rolling-zscore
    // sizing lesson); one fixed IEEE corr tree per row.
    "window_rolling_autocorr" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 1000.0).cast("long").as("xq"))
      val wLag = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wFrame = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(-6, 0)
      val nD = lit(7.0)
      val p = e.withColumn("yq", lag(col("xq"), 1).over(wLag))
        .where(col("yq").isNotNull)
        .withColumn("rn", row_number().over(wLag))
        .withColumn("sx", sum(col("xq")).over(wFrame))
        .withColumn("sy", sum(col("yq")).over(wFrame))
        .withColumn("sxy", sum(col("xq") * col("yq")).over(wFrame))
        .withColumn("sxx", sum(col("xq") * col("xq")).over(wFrame))
        .withColumn("syy", sum(col("yq") * col("yq")).over(wFrame))
        .where(col("rn") >= 7)
      val num = nD * col("sxy").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sy").cast(DoubleType)
      val dx = nD * col("sxx").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sx").cast(DoubleType)
      val dy = nD * col("syy").cast(DoubleType) -
        col("sy").cast(DoubleType) * col("sy").cast(DoubleType)
      p.select(col("user_id"), col("event_id"),
          (round(num / nullif(sqrt(dx) * sqrt(dy), lit(0.0)), 6) + lit(0.0))
            .as("rolling_autocorr"))
        .orderBy("user_id", "event_id")
    },

    // revenue waterfall per ship year: gross → discount → net → tax
    // (the TPC-H charge algebra as a reconciliation report), one fact
    // pass. All stages are EXACT INTEGER sums over floor-quantized
    // units (cents × micro-rate): the naive triple decimal product
    // ep·(1−disc)·tax exceeds DuckDB's width-38 cap, where it silently
    // promotes to double and breaks exactness. Per-row products peak
    // ~1.1e18 (inside int64); sums ride DECIMAL(28,0)/hugeint.
    "analytics_margin_waterfall" -> { (s, dir) =>
      val dc = DecimalType(28, 0)
      val l = Tables(s, dir, "lineitem").select(
        year(col("l_shipdate")).cast("int").as("yr"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("epc"),
        floor(col("l_discount") * 1000000.0).cast("long").as("du"),
        floor(col("l_tax") * 1000000.0).cast("long").as("tu"))
      l.groupBy("yr")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("epc").cast(dc)).as("g"),
          sum((col("epc") * col("du")).cast(dc)).as("da"),
          sum((col("epc") * (lit(1000000L) - col("du"))).cast(dc)).as("nt"),
          sum((col("epc") * (lit(1000000L) - col("du")) * col("tu"))
            .cast(dc)).as("ta"))
        .select(col("yr"), col("n_lines"),
          (col("g").cast(DoubleType) / 100.0).as("gross"),
          (col("da").cast(DoubleType) / 1.0e8).as("discount_amt"),
          (col("nt").cast(DoubleType) / 1.0e8).as("net"),
          (col("ta").cast(DoubleType) / 1.0e14).as("tax_amt"))
        .orderBy("yr")
    },

    // trig/inverse-trig function coverage: libm results are NOT
    // correctly rounded cross-engine, so everything is round-6 with the
    // signed-zero fence (SURVEY §5) over small derived angles.
    "fn_trig_suite" -> { (s, dir) =>
      val a = col("p_size").cast(DoubleType) / 25.0 - 1.0 // in [-1, 1]
      Tables(s, dir, "part").select(
        col("p_partkey"),
        (round(sin(a), 6) + lit(0.0)).as("sin_a"),
        (round(cos(a), 6) + lit(0.0)).as("cos_a"),
        (round(tan(a), 6) + lit(0.0)).as("tan_a"),
        (round(atan(a), 6) + lit(0.0)).as("atan_a"),
        (round(atan2(a, lit(2.0)), 6) + lit(0.0)).as("atan2_a2"),
        (round(degrees(a), 6) + lit(0.0)).as("deg_a"))
        .orderBy("p_partkey")
    },

    // repeat-purchase rate per order year: the share of that year's
    // active customers who ordered more than once — the retention
    // headline. Two integer aggregates, one division.
    "analytics_repeat_purchase_rate" -> { (s, dir) =>
      val perCust = Tables(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
          col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      perCust.groupBy("yr")
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") >= 2L, 1L).otherwise(0L)).as("n_repeat"))
        .select(col("yr"), col("n_customers"), col("n_repeat"),
          round(col("n_repeat").cast(DoubleType) /
            col("n_customers").cast(DoubleType), 6).as("repeat_rate"))
        .orderBy("yr")
    },

    // type-token ratio per document — the lexical-diversity quality
    // feature (low TTR = repetitive/template text): distinct words /
    // words, fully map-side array arithmetic, no shuffle at all.
    "text_ttr_by_doc" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          expr("size(filter(split(lower(text), ' '), w -> w <> ''))")
            .cast("long").as("n_tokens"),
          expr("size(array_distinct(filter(split(lower(text), ' '), " +
            "w -> w <> '')))").cast("long").as("n_types"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          // nullif the divisor: a whitespace-only text has 0 tokens, and
          // Spark's 0.0/0.0 is NaN where DuckDB returns NULL — both
          // engines must agree on NULL for the empty-doc row
          round(col("n_types").cast(DoubleType) /
            nullif(col("n_tokens"), lit(0L)).cast(DoubleType), 6).as("ttr"))
        .orderBy("doc_id")
    },

    // revenue concentration: the top-10 customers' share of total
    // revenue (key-account risk). Customer-grain exact cents rollup,
    // top-10 via TakeOrdered (never a global sort), broadcast total.
    "analytics_customer_concentration" -> { (s, dir) =>
      val spend = Tables(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long")).as("cents"))
      val top = spend.orderBy(col("cents").desc, col("o_custkey")).limit(10)
        .agg(sum(col("cents")).as("top_cents"), count(lit(1)).as("k"))
      val tot = spend.agg(sum(col("cents")).as("tot_cents"),
        count(lit(1)).as("n_customers"))
      tot.crossJoin(broadcast(top))
        .select(col("n_customers"), col("k").as("top_k"),
          (col("top_cents").cast(DoubleType) / 100.0).as("top_revenue"),
          round(col("top_cents").cast(DoubleType) /
            col("tot_cents").cast(DoubleType), 6).as("top_share"))
    },

    // NOT IN vs NOT EXISTS with a nullable subquery — the null-aware
    // anti-join operator coverage: one NULL in the subquery makes
    // ANSI NOT IN return ZERO rows (three-valued logic), while NOT
    // EXISTS keeps its count; the pair of counts pins the semantics
    // (and Spark's NullAwareAntiJoin plan) against the oracle.
    "join_anti_null_aware" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + seq.incrementAndGet()
      val (vo, vc) = (s"graft_nin_o_$tag", s"graft_nin_c_$tag")
      Tables(s, dir, "orders").createOrReplaceTempView(vo)
      Tables(s, dir, "customer").createOrReplaceTempView(vc)
      try s.sql(
        s"""WITH bad AS (SELECT c_custkey AS k FROM $vc WHERE c_acctbal < 0
           |             UNION ALL SELECT CAST(NULL AS BIGINT))
           |SELECT
           |  (SELECT count(*) FROM $vo
           |   WHERE o_custkey NOT IN (SELECT k FROM bad)) AS n_not_in,
           |  (SELECT count(*) FROM $vo o
           |   WHERE NOT EXISTS (SELECT 1 FROM bad b WHERE b.k = o.o_custkey))
           |    AS n_not_exists,
           |  (SELECT count(*) FROM bad WHERE k IS NULL) AS n_null_keys
           |""".stripMargin)
      finally {
        s.catalog.dropTempView(vo)
        s.catalog.dropTempView(vc)
      }
    },

    // hapax-legomena share per source: the fraction of a source's
    // vocabulary that occurs exactly once — the vocabulary-richness /
    // templating signal (boilerplate sources have few hapaxes). Two
    // vocabulary-sized aggregates, exact integer division at the end.
    "text_hapax_ratio" -> { (s, dir) =>
      val wc = Tables(s, dir, "documents")
        .select(col("source"), explode(split(lower(col("text")), " "))
          .as("word"))
        .where(col("word") =!= "")
        .groupBy("source", "word").agg(count(lit(1)).as("c"))
      wc.groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
          sum(col("c")).as("tokens"))
        .select(col("source"), col("vocab"), col("hapax"), col("tokens"),
          round(col("hapax").cast(DoubleType) / col("vocab").cast(DoubleType),
            6).as("hapax_ratio"))
        .orderBy("source")
    },

    // full-row duplication rate — the first number a data profiler
    // shows: rows vs distinct rows via one content hash (a distinct
    // over the full row width would shuffle every column; the hash
    // reduces map-side).
    "profile_duplicate_rows_rate" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(
        md5(concat_ws("",
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).cast("string"), col("event_type"),
          floor(col("value") * 1000000.0).cast("long").cast("string")))
          .as("h"))
      e.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("h")).as("n_distinct"))
        .select(col("n_rows"), col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_duplicate"),
          round(lit(1.0) - col("n_distinct").cast(DoubleType) /
            col("n_rows").cast(DoubleType), 6).as("dup_rate"))
    },

    // ordered string aggregation — the reporting concat: per flag, the
    // sorted distinct statuses as one csv plus counts (DuckDB
    // string_agg DISTINCT ORDER BY ≡ Spark sorted collect_set join).
    "fn_stringagg_suite" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_linestatus")).as("n_status"),
          array_join(array_sort(collect_set(col("l_linestatus"))), ",")
            .as("statuses"))
        .orderBy("l_returnflag")
    },

    // two-sample power analysis: the per-group sample size needed to
    // detect the OBSERVED AUTOMOBILE-vs-BUILDING balance gap at
    // α = 0.05 / power 0.8 — n = 2σ²(z₀.₉₇₅+z₀.₈)²/δ². The z values
    // are shared hardcoded literals; σ² is the pooled round-4 variance
    // from the Welch sufficient stats.
    "stats_power_analysis" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .where(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(col("c_mktsegment").as("seg"),
          col("c_acctbal").cast(DecimalType(12, 2)).as("x"))
      val g = c.groupBy("seg").agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("x") * col("x")).cast(DoubleType).as("sxx"))
      val m = col("sx") / col("n")
      val v = round((col("sxx") - col("sx") * col("sx") / col("n"))
        / (col("n") - 1), 4)
      val a = g.where(col("seg") === "AUTOMOBILE")
        .select(col("n").as("n1"), m.as("m1"), v.as("v1"))
      val b = g.where(col("seg") === "BUILDING")
        .select(col("n").as("n2"), m.as("m2"), v.as("v2"))
      val zSum = lit(1.959963984540054) + lit(0.8416212335729143)
      val pooled = ((col("n1") - 1L).cast(DoubleType) * col("v1") +
        (col("n2") - 1L).cast(DoubleType) * col("v2")) /
        (col("n1") + col("n2") - 2L).cast(DoubleType)
      val delta = col("m1") - col("m2")
      a.crossJoin(broadcast(b))
        .select(col("n1"), col("n2"),
          (round(delta, 6) + lit(0.0)).as("observed_delta"),
          round(sqrt(pooled), 6).as("pooled_sd"),
          ceil(lit(2.0) * pooled * zSum * zSum / (delta * delta))
            .cast("long").as("required_n_per_group"))
    }
  )

  val oracle: Map[String, String] = Map(
    "join_asof_tolerance" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |c AS (SELECT user_id, event_id, t, side,
        |    max(CASE WHEN side = 0 THEN struct_pack(t := t, id := event_id)
        |        END) OVER w AS carry
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY t, side, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, user_id, t AS pt,
        |  CASE WHEN t - carry.t <= 3600000000 THEN carry.id END AS click_id,
        |  CASE WHEN t - carry.t <= 3600000000 THEN t - carry.t END AS gap_us
        |FROM c WHERE side = 1 ORDER BY purchase_id""".stripMargin,
    "agg_percentile_disc" ->
      """SELECT l_returnflag, cast(count(*) AS bigint) AS n,
        |  quantile_disc(l_extendedprice, 0.5) AS p50_disc,
        |  quantile_disc(l_extendedprice, 0.9) AS p90_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "window_rolling_autocorr" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    cast(floor(value * 1000.0) AS bigint) AS xq
        |  FROM events),
        |l AS (SELECT user_id, us, event_id, xq,
        |    lag(xq) OVER (PARTITION BY user_id ORDER BY us, event_id) AS yq
        |  FROM e),
        |f AS (SELECT user_id, event_id,
        |    row_number() OVER w AS rn,
        |    cast(sum(xq) OVER wf AS bigint) AS sx,
        |    cast(sum(yq) OVER wf AS bigint) AS sy,
        |    cast(sum(xq * yq) OVER wf AS bigint) AS sxy,
        |    cast(sum(xq * xq) OVER wf AS bigint) AS sxx,
        |    cast(sum(yq * yq) OVER wf AS bigint) AS syy
        |  FROM l WHERE yq IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id),
        |  wf AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id,
        |  round((7.0 * cast(sxy AS double) - cast(sx AS double)
        |      * cast(sy AS double))
        |    / nullif(sqrt(7.0 * cast(sxx AS double) - cast(sx AS double)
        |        * cast(sx AS double))
        |      * sqrt(7.0 * cast(syy AS double) - cast(sy AS double)
        |        * cast(sy AS double)), 0), 6) + 0.0 AS rolling_autocorr
        |FROM f WHERE rn >= 7 ORDER BY user_id, event_id""".stripMargin,
    "analytics_margin_waterfall" ->
      """WITH l AS (SELECT cast(year(l_shipdate) AS int) AS yr,
        |    cast(floor(l_extendedprice * 100.0) AS bigint) AS epc,
        |    cast(floor(l_discount * 1000000.0) AS bigint) AS du,
        |    cast(floor(l_tax * 1000000.0) AS bigint) AS tu
        |  FROM lineitem)
        |SELECT yr, cast(count(*) AS bigint) AS n_lines,
        |  cast(sum(epc) AS double) / 100.0 AS gross,
        |  cast(sum(epc * du) AS double) / 100000000.0 AS discount_amt,
        |  cast(sum(epc * (1000000 - du)) AS double) / 100000000.0 AS net,
        |  cast(sum(epc * (1000000 - du) * tu) AS double)
        |    / 100000000000000.0 AS tax_amt
        |FROM l GROUP BY yr ORDER BY yr""".stripMargin,
    "fn_trig_suite" ->
      """WITH a AS (SELECT p_partkey,
        |    cast(p_size AS double) / 25.0 - 1.0 AS a FROM part)
        |SELECT p_partkey,
        |  round(sin(a), 6) + 0.0 AS sin_a,
        |  round(cos(a), 6) + 0.0 AS cos_a,
        |  round(tan(a), 6) + 0.0 AS tan_a,
        |  round(atan(a), 6) + 0.0 AS atan_a,
        |  round(atan2(a, 2.0), 6) + 0.0 AS atan2_a2,
        |  round(degrees(a), 6) + 0.0 AS deg_a
        |FROM a ORDER BY p_partkey""".stripMargin,
    "analytics_repeat_purchase_rate" ->
      """WITH pc AS (SELECT cast(year(o_orderdate) AS int) AS yr, o_custkey,
        |    cast(count(*) AS bigint) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT yr, cast(count(*) AS bigint) AS n_customers,
        |  cast(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS bigint)
        |    AS n_repeat,
        |  round(cast(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
        |      AS double) / cast(count(*) AS double), 6) AS repeat_rate
        |FROM pc GROUP BY yr ORDER BY yr""".stripMargin,
    "text_ttr_by_doc" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), w -> w <> '')
        |      AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  cast(len(toks) AS bigint) AS n_tokens,
        |  cast(len(list_distinct(toks)) AS bigint) AS n_types,
        |  round(cast(len(list_distinct(toks)) AS double)
        |    / cast(nullif(len(toks), 0) AS double), 6) AS ttr
        |FROM t ORDER BY doc_id""".stripMargin,
    "analytics_customer_concentration" ->
      """WITH spend AS (SELECT o_custkey,
        |    cast(sum(cast(floor(o_totalprice * 100.0) AS bigint)) AS bigint)
        |      AS cents
        |  FROM orders GROUP BY o_custkey),
        |top AS (SELECT cast(sum(cents) AS bigint) AS top_cents,
        |    cast(count(*) AS bigint) AS k
        |  FROM (SELECT cents FROM spend
        |        ORDER BY cents DESC, o_custkey LIMIT 10)),
        |tot AS (SELECT cast(sum(cents) AS bigint) AS tot_cents,
        |    cast(count(*) AS bigint) AS n_customers FROM spend)
        |SELECT n_customers, k AS top_k,
        |  cast(top_cents AS double) / 100.0 AS top_revenue,
        |  round(cast(top_cents AS double) / cast(tot_cents AS double), 6)
        |    AS top_share
        |FROM tot CROSS JOIN top""".stripMargin,
    "join_anti_null_aware" ->
      """WITH bad AS (SELECT c_custkey AS k FROM customer
        |             WHERE c_acctbal < 0
        |             UNION ALL SELECT CAST(NULL AS BIGINT))
        |SELECT
        |  (SELECT cast(count(*) AS bigint) FROM orders
        |   WHERE o_custkey NOT IN (SELECT k FROM bad)) AS n_not_in,
        |  (SELECT cast(count(*) AS bigint) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM bad b WHERE b.k = o.o_custkey))
        |    AS n_not_exists,
        |  (SELECT cast(count(*) AS bigint) FROM bad WHERE k IS NULL)
        |    AS n_null_keys""".stripMargin,
    "text_hapax_ratio" ->
      """WITH wc AS (SELECT source, word, cast(count(*) AS bigint) AS c
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY source, word)
        |SELECT source, cast(count(*) AS bigint) AS vocab,
        |  cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS bigint) AS hapax,
        |  cast(sum(c) AS bigint) AS tokens,
        |  round(cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS double)
        |    / cast(count(*) AS double), 6) AS hapax_ratio
        |FROM wc GROUP BY source ORDER BY source""".stripMargin,
    "profile_duplicate_rows_rate" ->
      """WITH h AS (SELECT md5(
        |    cast(event_id AS varchar) || cast(user_id AS varchar)
        |    || cast(epoch_us(ts) AS varchar) || event_type
        |    || cast(cast(floor(value * 1000000.0) AS bigint) AS varchar))
        |    AS h
        |  FROM events)
        |SELECT cast(count(*) AS bigint) AS n_rows,
        |  cast(count(DISTINCT h) AS bigint) AS n_distinct,
        |  cast(count(*) - count(DISTINCT h) AS bigint) AS n_duplicate,
        |  round(1.0 - cast(count(DISTINCT h) AS double)
        |    / cast(count(*) AS double), 6) AS dup_rate
        |FROM h""".stripMargin,
    "fn_stringagg_suite" ->
      """SELECT l_returnflag, cast(count(*) AS bigint) AS n,
        |  cast(count(DISTINCT l_linestatus) AS bigint) AS n_status,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
        |    AS statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "stats_power_analysis" ->
      """WITH c AS (SELECT c_mktsegment AS seg,
        |                  cast(c_acctbal AS decimal(12,2)) AS x
        |           FROM customer
        |           WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
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
        |SELECT n1, n2,
        |  round(m1 - m2, 6) + 0.0 AS observed_delta,
        |  round(sqrt((cast(n1 - 1 AS double) * v1
        |      + cast(n2 - 1 AS double) * v2)
        |    / cast(n1 + n2 - 2 AS double)), 6) AS pooled_sd,
        |  cast(ceil(2.0 * ((cast(n1 - 1 AS double) * v1
        |      + cast(n2 - 1 AS double) * v2)
        |    / cast(n1 + n2 - 2 AS double))
        |    * (1.959963984540054 + 0.8416212335729143)
        |    * (1.959963984540054 + 0.8416212335729143)
        |    / ((m1 - m2) * (m1 - m2))) AS bigint) AS required_n_per_group
        |FROM a CROSS JOIN b""".stripMargin
  )
}
