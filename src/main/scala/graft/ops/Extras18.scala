package graft.ops

import graft._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Round-8 fifth-session batch 15: within-session sequence mining,
  * representative downsampling, purchase-regularity segmentation, and
  * the full star denormalization.
  *
  * Scale discipline: sequence pairs expand WITHIN a session (bounded
  * by session type-cardinality squared — the basket-pair bound);
  * downsampling's windows are bounded per (user, day); regularity's
  * windows per customer; the star join broadcasts every dimension and
  * shuffles only the two fact-scale tables on their join key.
  *
  * Float discipline: sequence supports and regularity moments are pure
  * integers (cv = √(n·Σg² − (Σg)²)/Σg — one fixed tree over exact
  * bigint sufficient statistics); the downsampling argmax is the CUSUM
  * integer deviation |n·q − Σq| under lexicographic struct max;
  * revenue is the Q1 decimal discipline (decimal(12,2)·(1 − decimal
  * (3,2)) summed exactly, one double cast).
  */
object Extras18 {

  private val gapUs = 43200000000L // the events_sessionize 12 h gap

  val queries: Map[String, Q] = Map(

    // within-session ordered sequence pairs ("some A precedes some B"):
    // the support table sequential-pattern mining starts from —
    // DIRECTIONAL, unlike co-occurrence, and non-adjacent, unlike the
    // transition matrix. min/max occurrence positions per (session,
    // type) make the precedence test one struct comparison.
    // Session ids ride the range-split sessionize kernel (range-sharded
    // lag + cumsum with a ≤(shards−1)-row boundary broadcast) — the
    // former single-task double window over each user's whole run was
    // the suite's one skew scale-killer (SKEW_PROBE 4.35× under a ~10%
    // hot user); the kernel's ids are provably shard-count-invariant,
    // so the output (and its oracle hash) is unchanged.
    "events_sequence_pairs" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val sess = GraftOps.sessionize(e, "user_id", "us", Seq("event_id"), gapUs, "sid")
      val st = sess.groupBy("user_id", "sid", "event_type")
        .agg(min(struct(col("us"), col("event_id"))).as("first_pos"),
          max(struct(col("us"), col("event_id"))).as("last_pos"))
      val nSessions = st.select("user_id", "sid").distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val a = st.select(col("user_id"), col("sid"),
        col("event_type").as("type_a"), col("first_pos"))
      val b = st.select(col("user_id"), col("sid"),
        col("event_type").as("type_b"), col("last_pos"))
      a.join(b, Seq("user_id", "sid"))
        .where(col("type_a") =!= col("type_b") &&
          col("first_pos") < col("last_pos"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_sessions_pair"))
        .crossJoin(broadcast(nSessions))
        .select(col("type_a"), col("type_b"), col("n_sessions_pair"),
          round(col("n_sessions_pair").cast(DoubleType) /
            col("n_sessions").cast(DoubleType), 6).as("support"))
        .orderBy("type_a", "type_b")
    },

    // representative downsampling: one event per (user, day) — the one
    // deviating most from its bucket mean (|n·q − Σq| in exact CUSUM
    // integers; ties → smallest event id). The plot-friendly reduction
    // that keeps anomalies where naive first/mean sampling erases them.
    "timeseries_downsample_repr" -> { (s, dir) =>
      val e = Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), col("value"),
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        floor(col("value") * lit(1000000.0)).as("q"))
      val wb = Window.partitionBy("user_id", "day")
      val d = e.withColumn("n", count(lit(1)).over(wb))
        .withColumn("tot", sum(col("q")).over(wb))
        .withColumn("dev", greatest(col("n") * col("q") - col("tot"),
          -(col("n") * col("q") - col("tot"))))
      d.groupBy("user_id", "day")
        .agg(max(col("n")).as("n"),
          max(struct(col("dev"), (-col("event_id")).as("ne"),
            col("value"))).as("m"))
        .select(col("user_id"), col("day"), col("n"),
          (-col("m.ne")).as("repr_event_id"), col("m.value").as("repr_value"))
        .orderBy("user_id", "day")
    },

    // purchase-regularity segmentation: coefficient of variation of
    // inter-order gaps per customer (>= 3 orders), classified and
    // rolled up per market segment. cv = √(n·Σg² − (Σg)²)/Σg is one
    // fixed IEEE tree over exact integer day-gap sums.
    "analytics_order_regularity" -> { (s, dir) =>
      val o = Tables(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"))
      val w = Window.partitionBy("o_custkey").orderBy("d")
      val gaps = o
        .withColumn("gap", datediff(col("d"), lag(col("d"), 1).over(w))
          .cast("long"))
        .where(col("gap").isNotNull)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("ng"), sum(col("gap")).as("sg"),
          sum(col("gap") * col("gap")).as("sg2"))
        .where(col("ng") >= 2)
        .withColumn("cv",
          sqrt((col("ng") * col("sg2") - col("sg") * col("sg"))
            .cast(DoubleType)) / col("sg").cast(DoubleType))
        .withColumn("regularity",
          when(col("cv") < 0.5, "a_regular")
            .when(col("cv") < 1.0, "b_moderate").otherwise("c_bursty"))
      gaps
        .join(Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "regularity")
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("cv").cast(DecimalType(24, 12))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 6).as("mean_cv"))
        .orderBy("c_mktsegment", "regularity")
    },

    // full star denormalization: the 8-table wide join every warehouse
    // flattens once — fact tables shuffle on their keys, every
    // dimension broadcasts; revenue under the Q1 decimal discipline.
    "join_star_denormalize" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"),
        col("l_extendedprice").cast(DecimalType(12, 2)).as("price"),
        col("l_discount").cast(DecimalType(3, 2)).as("disc"))
      val o = Tables(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderpriority"))
      val cust = Tables(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey"))
      val sup = Tables(s, dir, "supplier").select(col("s_suppkey"),
        col("s_nationkey"))
      val nat = Tables(s, dir, "nation").select(col("n_nationkey"),
        col("n_regionkey"))
      val reg = Tables(s, dir, "region").select(col("r_regionkey"),
        col("r_name"))
      val custRegion = broadcast(cust
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("cust_region")))
      val supRegion = broadcast(sup
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("r_name").as("supp_region")))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(custRegion, col("o_custkey") === col("c_custkey"))
        .join(supRegion, col("l_suppkey") === col("s_suppkey"))
        .groupBy("cust_region", "supp_region", "o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("price") * (lit(1).cast(DecimalType(3, 2)) - col("disc")))
            .cast(DoubleType).as("revenue"))
        .orderBy("cust_region", "supp_region", "o_orderpriority")
    }
  )

  val oracle: Map[String, String] = Map(
    "events_sequence_pairs" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |f AS (SELECT user_id, event_id, event_type, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 43200000000 THEN 1 ELSE 0 END
        |      AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (SELECT user_id, event_id, event_type, us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |st AS (SELECT user_id, sid, event_type,
        |    min(struct_pack(us := us, event_id := event_id)) AS first_pos,
        |    max(struct_pack(us := us, event_id := event_id)) AS last_pos
        |  FROM sess GROUP BY 1, 2, 3),
        |ns AS (SELECT cast(count(*) AS bigint) AS n_sessions
        |  FROM (SELECT DISTINCT user_id, sid FROM st)),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    cast(count(*) AS bigint) AS n_sessions_pair
        |  FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
        |  WHERE a.event_type <> b.event_type AND a.first_pos < b.last_pos
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_sessions_pair,
        |  round(cast(n_sessions_pair AS double) / cast(n_sessions AS double),
        |    6) AS support
        |FROM p CROSS JOIN ns ORDER BY type_a, type_b""".stripMargin,
    "timeseries_downsample_repr" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |    epoch_us(ts) // 86400000000 AS day,
        |    cast(floor(value * 1000000.0) AS bigint) AS q
        |  FROM events),
        |d AS (SELECT user_id, day, event_id, value,
        |    cast(count(*) OVER wb AS bigint) AS n,
        |    cast(sum(q) OVER wb AS bigint) AS tot, q
        |  FROM e WINDOW wb AS (PARTITION BY user_id, day)),
        |v AS (SELECT user_id, day, n,
        |    greatest(n * q - tot, -(n * q - tot)) AS dev,
        |    -event_id AS ne, value
        |  FROM d)
        |SELECT user_id, day, max(n) AS n,
        |  -((max(struct_pack(dev := dev, ne := ne, value := value))).ne)
        |    AS repr_event_id,
        |  (max(struct_pack(dev := dev, ne := ne, value := value))).value
        |    AS repr_value
        |FROM v GROUP BY user_id, day ORDER BY user_id, day""".stripMargin,
    "analytics_order_regularity" ->
      """WITH o AS (SELECT o_custkey, cast(o_orderdate AS date) AS d
        |           FROM orders),
        |g AS (SELECT o_custkey,
        |    cast(date_diff('day', lag(d) OVER w, d) AS bigint) AS gap
        |  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d)),
        |m AS (SELECT o_custkey, cast(count(*) AS bigint) AS ng,
        |    cast(sum(gap) AS bigint) AS sg,
        |    cast(sum(gap * gap) AS bigint) AS sg2
        |  FROM g WHERE gap IS NOT NULL GROUP BY o_custkey
        |  HAVING count(*) >= 2),
        |c AS (SELECT o_custkey,
        |    sqrt(cast(ng * sg2 - sg * sg AS double)) / cast(sg AS double)
        |      AS cv
        |  FROM m),
        |k AS (SELECT o_custkey, cv,
        |    CASE WHEN cv < 0.5 THEN 'a_regular'
        |         WHEN cv < 1.0 THEN 'b_moderate'
        |         ELSE 'c_bursty' END AS regularity
        |  FROM c)
        |SELECT c_mktsegment, regularity,
        |  cast(count(*) AS bigint) AS n_customers,
        |  round(cast(sum(cast(cv AS decimal(24,12))) AS double)
        |    / cast(count(*) AS double), 6) AS mean_cv
        |FROM k JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, regularity""".stripMargin,
    "join_star_denormalize" ->
      """SELECT cr.r_name AS cust_region, sr.r_name AS supp_region,
        |  o_orderpriority, cast(count(*) AS bigint) AS n_lines,
        |  cast(sum(cast(l_extendedprice AS decimal(12,2))
        |    * (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(3,2))))
        |    AS double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region cr ON cn.n_regionkey = cr.r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN region sr ON sn.n_regionkey = sr.r_regionkey
        |GROUP BY 1, 2, 3
        |ORDER BY cust_region, supp_region, o_orderpriority""".stripMargin
  )
}
