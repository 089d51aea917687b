package graft.ops

import graft._
import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.3 join family.
  *
  * Scale notes (100 TB, SURVEY.md §4):
  *  - dims (nation/region) get explicit `broadcast()` hints — no shuffle of
  *    the fact side's join keys for those.
  *  - `join_theta_range` avoids the quadratic per-key self-join: events are
  *    bucketed into 5-minute epochs and the left side is replicated into the
  *    3 adjacent buckets (explode), turning the range predicate into an
  *    equi-join on (user, bucket) + residual filter. At 1000 executors this
  *    shuffles on a dense composite key instead of relying on per-user
  *    quadratic blow-up.
  *  - `join_asof` is the union/window trick of [[asofJoin]]: one shuffle
  *    on user_id, one sort — no join at all (Spark has no native as-of
  *    join).
  */
object Joins {

  private val bucketUs = 300000000L // 5 minutes in microseconds

  /** per-invocation suffix for join_lateral_topn's short-lived temp views. */
  private val lateralSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (purchases, clicks) of the events table as (user_id, event_id, t µs)
    * — the two sides of the as-of queries. */
  private[ops] def purchasesAndClicks(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    def side(eventType: String) = ev.where(col("event_type") === eventType)
      .select(col("user_id"), col("event_id"), col("t"))
    (side("purchase"), side("click"))
  }

  val queries: Map[String, Q] = Map(
    "join_inner_hash" -> { (s, dir) =>
      val orders = Tables(s, dir, "orders")
      val cust = Tables(s, dir, "customer")
      orders.join(cust, orders("o_custkey") === cust("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    },

    "join_broadcast_chain" -> { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      val region = Tables(s, dir, "region")
      cust
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name"), col("n_name"))
    },

    "join_left_outer" -> { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_custkey"))
    },

    "join_semi" -> { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders").select(col("o_custkey"))
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },

    "join_anti" -> { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders").select(col("o_custkey"))
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },

    // Event pairs of the same user within 5 minutes. Bucketed equi-join:
    // |t1-t2| <= W implies bucket distance <= 1 when bucket width = W, so
    // replicating the left side into {b-1, b, b+1} and equi-joining on
    // (user, bucket) finds every pair exactly once (right side keeps its
    // unique bucket).
    "join_theta_range" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
      val left = ev
        .withColumn("b0", (col("t") / bucketUs).cast("long"))
        .withColumn("bucket", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
        .select(col("user_id"), col("event_id").as("id1"), col("t").as("t1"), col("bucket"))
      val right = ev
        .select(col("user_id").as("u2"), col("event_id").as("id2"), col("t").as("t2"),
          (col("t") / bucketUs).cast("long").as("bucket2"))
      left.join(right,
          col("user_id") === col("u2") && col("bucket") === col("bucket2") &&
            col("id1") < col("id2") && abs(col("t1") - col("t2")) <= bucketUs)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },

    // As-of join through the one kernel (GraftOps.asofJoin): each
    // purchase carries the latest click at-or-before it. Clicks of one
    // user at the same µs tie-break to the larger event_id (payload
    // order), while DuckDB's ASOF picks arbitrarily — accepted because
    // the events table carries ns-unique timestamps (collision odds ~1e-9).
    "join_asof" -> { (s, dir) =>
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      GraftOps.asofJoin(purchases, clicks, "user_id", "t", "t", Seq("event_id", "t"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("t").as("pt"), col("asof_event_id").as("click_id"),
          col("asof_t").as("click_t"))
        .orderBy(col("purchase_id"))
    },

    // NEAREST as-of: each purchase pairs with its nearest click in
    // EITHER direction (ties → the earlier/backward one) — the other
    // half of the as-of family (kdb's aj is backward; sensor alignment
    // wants nearest). Same union/window shape, one shuffle, no join:
    // backward candidate via last(ignoreNulls) over preceding rows,
    // forward via first(ignoreNulls) over following rows; a click at
    // the purchase's exact timestamp sorts before it (side 0 first) and
    // is therefore the backward candidate at distance 0. All-integral
    // µs arithmetic.
    "join_asof_nearest" -> { (s, dir) =>
      val tagged = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
        .where(col("event_type").isin("click", "purchase"))
        .withColumn("side", when(col("event_type") === "click", 0).otherwise(1))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("side"), col("event_id"))
      val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val clickT = when(col("side") === 0, col("t"))
      val clickId = when(col("side") === 0, col("event_id"))
      val cand = tagged
        .withColumn("bt", last(clickT, ignoreNulls = true).over(wb))
        .withColumn("bid", last(clickId, ignoreNulls = true).over(wb))
        .withColumn("ft", first(clickT, ignoreNulls = true).over(wf))
        .withColumn("fid", first(clickId, ignoreNulls = true).over(wf))
        .where(col("side") === 1)
      val takeBack = col("ft").isNull ||
        (col("bt").isNotNull && col("t") - col("bt") <= col("ft") - col("t"))
      cand
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("t").as("pt"),
          when(takeBack, col("bid")).otherwise(col("fid")).as("click_id"),
          when(takeBack, col("bt")).otherwise(col("ft")).as("click_t"),
          when(takeBack, col("t") - col("bt")).otherwise(col("ft") - col("t"))
            .as("dist_us"))
        .orderBy(col("purchase_id"))
    },

    // Aggregation pushed BELOW the join — the fact⋈dim optimization
    // Catalyst does not perform automatically: orders pre-aggregates per
    // custkey (partial map-side combine), so the join carries one row per
    // customer instead of one per order. At 100 TB this is the difference
    // between shuffling the fact table and shuffling its group-by
    // footprint. Decimal partial sums stay exact/associative, so the
    // two-level aggregation cannot drift from the single-level oracle.
    "join_preagg" -> { (s, dir) =>
      val od = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).as("ct"), count(lit(1)).as("n_ord"))
      val cust = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      od.join(cust, od("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("n_ord")).as("n_orders"),
          sum(col("ct")).cast("double").as("revenue"))
        .orderBy(col("n_name"))
    },

    // Correlated LATERAL join (top-N per group through the SQL surface):
    // for each nation, its top-2 customers by balance. Catalyst
    // decorrelates the lateral subquery into a WindowGroupLimit + join
    // plan — no per-row re-execution (PLANS.md). View names carry a
    // per-INVOCATION unique suffix (besides the sf-dir tag) and are
    // dropped once the plan is analyzed: two concurrent builders — even
    // for the SAME dir, e.g. two threads sweeping one dir in one JVM — can
    // never drop each other's views between createOrReplaceTempView and
    // s.sql, and nothing leaks into the shared session catalog.
    "join_lateral_topn" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + lateralSeq.incrementAndGet()
      val (nv, cv) = (s"graft_lat_nation_$tag", s"graft_lat_customer_$tag")
      Tables(s, dir, "nation").createOrReplaceTempView(nv)
      Tables(s, dir, "customer").createOrReplaceTempView(cv)
      val df = s.sql(s"""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM $nv n,
        LATERAL (SELECT c_name, c_acctbal FROM $cv c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""")
      s.catalog.dropTempView(nv)
      s.catalog.dropTempView(cv)
      df
    },

    "join_full_outer" -> { (s, dir) =>
      val od = Tables(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
        .agg(dsum(col("o_totalprice")).as("order_total"))
      val ed = Tables(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
        .agg(dsum(col("value")).as("event_total"))
      od.join(ed, Seq("d"), "full_outer").orderBy(col("d"))
    }
  )

  val oracle: Map[String, String] = Map(
    "join_inner_hash" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders, ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_broadcast_chain" ->
      s"""SELECT r_name, n_name, count(*) AS n_cust, ${sqlDsum("c_acctbal")} AS sum_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "join_left_outer" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_orders, ${sqlDsum("o_totalprice")} AS sum_price
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_theta_range" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(cast(ts as timestamp)) AS t FROM events)
        |SELECT e1.user_id, count(*) AS n_pairs
        |FROM e e1 JOIN e e2 ON e1.user_id = e2.user_id
        | AND e1.event_id < e2.event_id AND abs(e1.t - e2.t) <= 300000000
        |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin,
    "join_asof" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(cast(ts as timestamp)) AS t FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, t AS pt FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS cu, event_id AS click_id, t AS click_t FROM e WHERE event_type = 'click')
        |SELECT purchase_id, user_id, pt, click_id, click_t
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.cu AND c.click_t <= p.pt
        |ORDER BY purchase_id""".stripMargin,
    "join_asof_nearest" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(cast(ts as timestamp)) AS t FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |tg AS (SELECT user_id, event_id, t,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side FROM e),
        |c AS (SELECT user_id, event_id, t, side,
        |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER wb AS bt,
        |    last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER wb AS bid,
        |    first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER wf AS ft,
        |    first_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER wf AS fid
        |  FROM tg
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY t, side, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id ORDER BY t, side, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id AS purchase_id, user_id, t AS pt,
        |  CASE WHEN ft IS NULL OR (bt IS NOT NULL AND t - bt <= ft - t)
        |       THEN bid ELSE fid END AS click_id,
        |  CASE WHEN ft IS NULL OR (bt IS NOT NULL AND t - bt <= ft - t)
        |       THEN bt ELSE ft END AS click_t,
        |  CASE WHEN ft IS NULL OR (bt IS NOT NULL AND t - bt <= ft - t)
        |       THEN t - bt ELSE ft - t END AS dist_us
        |FROM c WHERE side = 1 ORDER BY purchase_id""".stripMargin,
    "join_preagg" ->
      """WITH od AS (SELECT o_custkey,
        |  sum(cast(o_totalprice as decimal(18,4))) AS ct, count(*) AS n_ord
        |  FROM orders GROUP BY o_custkey)
        |SELECT n_name, cast(sum(n_ord) as bigint) AS n_orders,
        |  cast(sum(ct) as double) AS revenue
        |FROM od JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "join_lateral_topn" ->
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin,
    "join_full_outer" ->
      s"""WITH od AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, ${sqlDsum("o_totalprice")} AS order_total
         |            FROM orders GROUP BY 1),
         |ed AS (SELECT strftime(ts, '%Y-%m-%d') AS d, ${sqlDsum("value")} AS event_total
         |       FROM events GROUP BY 1)
         |SELECT coalesce(od.d, ed.d) AS d, order_total, event_total
         |FROM od FULL OUTER JOIN ed ON od.d = ed.d
         |ORDER BY d""".stripMargin
  )

  /** PUBLIC API: as-of join — each left row gains the latest right-side
    * payload whose `rightTime` ≤ its `leftTime`, per `keyCol`; the one
    * as-of kernel (join_asof, join_asof_tolerance and
    * join_scd2_pointintime run through it). No native Spark operator
    * exists: both sides union with a side tag and ONE window pass over
    * (key, time) carries the payload forward — one shuffle, no range
    * join, state one row per key. A right row at exactly `leftTime`
    * matches (side 0 sorts before side 1). Unmatched left rows keep NULL
    * payloads. The payload travels as ONE struct, so the matched columns
    * always come from the SAME right row — even when that row carries
    * NULL fields (a per-column `last(ignoreNulls)` would resurrect older
    * non-null values and stitch columns from different rows). Ties are
    * deterministic: among right rows sharing one (key, time) the window
    * sorts by the orderable payload fields in `payloadCols` order (nulls
    * first), so the largest payload wins — list an ingestion id first to
    * let it decide. Non-orderable fields (maps) still ride in the struct
    * but take no part in the order. NULL keys: matching runs through a
    * window PARTITIONED on `keyCol`, so NULL keys group TOGETHER — a
    * NULL-key left row picks up the latest NULL-key right payload
    * (null-safe `<=>` semantics, NOT the equi-join rule where NULL never
    * matches); pre-filter NULL keys for equi-join behaviour. Output column
    * names `asof_<payload>`; `__t`/`__side`/`__r`/`asof_*` are reserved
    * and must not exist on EITHER input. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTime: String, rightTime: String, payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val reserved = Seq("__t", "__side", "__r", "__asof") ++ payloadCols.map(c => s"asof_$c")
    require(!left.columns.exists(reserved.contains),
      s"left input carries a reserved asofJoin column (${reserved.mkString(", ")})")
    require(!right.columns.exists(reserved.contains),
      s"right input carries a reserved asofJoin column (${reserved.mkString(", ")})")
    val lCols = left.columns.filterNot(_ == keyCol).toSeq
    val rStructT = org.apache.spark.sql.types.StructType(
      payloadCols.map(c => right.schema(c)))
    val l2 = left.select(col(keyCol) +: col(leftTime).as("__t") +:
      lit(1).as("__side") +: lCols.map(col) :+
      lit(null).cast(rStructT).as("__r"): _*)
    val r2 = right.select(col(keyCol) +: col(rightTime).as("__t") +:
      lit(0).as("__side") +: lCols.map(c =>
        lit(null).cast(left.schema(c).dataType).as(c)) :+
      struct(payloadCols.map(col): _*).as("__r"): _*)
    // total order among same-(key, time) right rows: the carried row is
    // the LAST one, so it must not depend on the shuffle's arrival order
    val ties = rStructT.fields.toSeq.filter(f => RowOrdering.isOrderable(f.dataType))
      .map(f => col("__r").getField(f.name))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__t") +: col("__side") +: ties: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2)
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(col(keyCol) +: lCols.map(col) ++:
        payloadCols.map(c => col(s"__asof.$c").as(s"asof_$c")): _*)
  }
}
