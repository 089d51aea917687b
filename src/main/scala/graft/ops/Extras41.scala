package graft.ops

import graft._
import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round 13 batch: link prediction (Adamic-Adar), leakage-safe target
  * encoding (leave-one-out), functional-dependency discovery, pairwise
  * categorical association (Cramér's V), decision-stump split-gain
  * scoring, robust trend fitting (Theil-Sen), class-balanced
  * downsampling, and delta-maintained aggregation (incremental-view
  * algebra).
  *
  * Float discipline used throughout: any score that is a SUM of
  * per-element float terms (Adamic-Adar's Σ 1/ln d, chi-square's
  * Σ (o−e)²/e) is quantized to an exact integer per element BEFORE the
  * sum — cross-engine (and cross-partition-order) double summation is
  * not associative, exact integer/decimal summation is. Scores that are
  * a fixed expression tree over exact aggregates (split gain, LOO mean,
  * Theil-Sen slopes) need no quantization: both engines perform the
  * identical IEEE operations.
  */
object Extras41 {

  /** Per-candidate functional-dependency audit: does A determine B?
    * One fact shuffle per candidate (groupBy A, count-distinct B);
    * everything downstream is a 1-row aggregate. */
  private def fdReport(df: org.apache.spark.sql.DataFrame, a: String,
      b: String, name: String): org.apache.spark.sql.DataFrame =
    df.groupBy(col(a)).agg(count(lit(1)).as("nr"),
        countDistinct(col(b)).as("ndv"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("ndv") > 1, 1L).otherwise(0L)).as("violating_groups"),
        sum(when(col("ndv") > 1, col("nr")).otherwise(0L)).as("violating_rows"),
        sum(col("nr")).as("n_rows"))
      .select(lit(name).as("fd"), col("n_groups"), col("violating_groups"),
        col("violating_rows"), col("n_rows"),
        (col("violating_groups") === 0L).as("holds"),
        (round(col("violating_rows").cast(DoubleType) /
          col("n_rows").cast(DoubleType), 6) + lit(0.0)).as("viol_ratio"))

  /** Per-pair Cramér's V: chi-square with an integer-quantized cell sum.
    * Cell counts and margins are exact; the per-cell contribution
    * (o·N − r·c)²/(N·r·c) is one double division from exact DECIMAL
    * integers (engine-identical), floor-quantized ×10⁹ (floor, not
    * round: HALF_UP-on-BigDecimal vs double-round can disagree at
    * representation-boundary halves — the adamic-adar discipline) and
    * summed as DECIMAL(38,0) — the only cross-row float reduction is
    * thereby exact. V is NULL for degenerate single-category tables
    * (min cardinality 1 ⇒ the ÷(k−1) denominator vanishes). The fact is touched once (the cell
    * groupBy); margins re-aggregate the dimension-sized cell table. */
  private def cramers(df: org.apache.spark.sql.DataFrame, a: String,
      b: String, name: String): org.apache.spark.sql.DataFrame = {
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("o"))
      .localCheckpoint(false) // feeds margins + totals + the cell join
    val rT = cells.groupBy(col(a)).agg(sum("o").as("r"))
    val cT = cells.groupBy(col(b)).agg(sum("o").as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col(a)).as("nr"), countDistinct(col(b)).as("nc"))
    val num = col("o").cast(DecimalType(38, 0)) * col("n") -
      col("r").cast(DecimalType(38, 0)) * col("c")
    val contrib = (num * num).cast(DoubleType) /
      (col("n").cast(DoubleType) * col("r").cast(DoubleType) *
        col("c").cast(DoubleType))
    val q = cells.join(broadcast(rT), Seq(a)).join(broadcast(cT), Seq(b))
      .crossJoin(broadcast(tot))
      .select(floor(contrib * 1e9).cast(DecimalType(38, 0)).as("q"),
        col("n"), col("nr"), col("nc"))
      .agg(min("n").as("n"), min("nr").as("r_card"), min("nc").as("c_card"),
        sum("q").as("chi2_q"))
    val chi2 = col("chi2_q").cast(DoubleType) / lit(1e9)
    q.select(lit(name).as("pair"), col("n"), col("r_card"), col("c_card"),
      (round(chi2, 6) + lit(0.0)).as("chi2"),
      when(least(col("r_card"), col("c_card")) > 1,
        round(sqrt(chi2 / (col("n").cast(DoubleType) *
          (least(col("r_card"), col("c_card")) - 1).cast(DoubleType))), 6)
          + lit(0.0)).as("cramers_v"))
  }

  val queries: Map[String, Q] = Map(

    // Adamic-Adar link prediction over the strong co-purchase graph:
    // for every non-adjacent pair sharing ≥1 neighbor, score
    // Σ_c 1/ln(deg c) over common neighbors c — high-degree hubs count
    // less than exclusive mutual friends. The wedge join runs on the
    // minWeight-reduced edge table (bounded by basket size by the
    // MaxBasket contract upstream); the per-neighbor weight is
    // quantized to ⌊10⁹/ln d⌋ so the pair score is an EXACT long sum —
    // ranking ties cannot flip between engines or partition orders.
    "graph_adamic_adar" -> { (s, dir) =>
      val edges = Graph.strongEdgesCached(s, dir).select("pa", "pb")
      val adj = edges.select(col("pa").as("u"), col("pb").as("v"))
        .unionAll(edges.select(col("pb").as("u"), col("pa").as("v")))
      val wdeg = adj.groupBy("u").agg(count(lit(1)).as("d"))
        .select(col("u").as("c"),
          when(col("d") >= 2,
            floor(lit(1e9) / log(col("d").cast(DoubleType)))).as("aa_w"))
      // r14 optimization (guide §2.4): the old order ran the adjacency
      // anti-join on WEDGE-grain rows and then re-shuffled them by c for
      // the weight join — three wedge-scale exchanges. Joining wdeg while
      // the wedges are still partitioned by c (exchange reuse from the
      // self-join), aggregating to pair grain FIRST, and anti-joining the
      // much smaller aggregated pairs leaves ONE wedge-scale exchange
      // (the groupBy). Inner-join/anti-join reorder over a plain
      // aggregate — output identical row for row.
      val wedges = adj.select(col("u").as("c"), col("v").as("a"))
        .join(adj.select(col("u").as("c"), col("v").as("b")), Seq("c"))
        .where(col("a") < col("b"))
        .join(wdeg, Seq("c"))
      wedges
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n_common"), sum("aa_w").as("aa_q"))
        .join(edges.select(col("pa").as("a"), col("pb").as("b")),
          Seq("a", "b"), "left_anti")
        .orderBy(col("aa_q").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), col("n_common"),
          (round(col("aa_q").cast(DoubleType) / lit(1e9), 6) + lit(0.0))
            .as("aa_score"))
    },

    // leave-one-out target-mean encoding: the leakage-safe variant of
    // encode_target_mean — each row's code excludes its own target so a
    // downstream model can't read the label back. One groupBy + one
    // broadcast join-back: loo = (Σ_g − v) / (n_g − 1), with the sum in
    // exact decimal so subtraction is exact and the single division is
    // engine-identical.
    "encode_target_loo" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val g = c.groupBy("c_mktsegment")
        .agg(sum(dec(col("c_acctbal"))).as("sum_g"), count(lit(1)).as("n_g"))
      c.join(broadcast(g), "c_mktsegment")
        .select(col("c_custkey"), col("c_mktsegment"),
          when(col("n_g") > 1,
            round((col("sum_g") - dec(col("c_acctbal"))).cast(DoubleType) /
              (col("n_g") - 1).cast(DoubleType), 6) + lit(0.0))
            .as("loo_mean"))
        .orderBy("c_custkey")
    },

    // functional-dependency discovery: for candidate A→B pairs, how many
    // determinant groups carry >1 distinct dependent value and how much
    // row mass they cover. The two key-based candidates should HOLD,
    // the behavioral ones should not — the schema-repair screen a
    // profiler runs before trusting a join key. One fact shuffle per
    // candidate; reports are 1-row aggregates unioned.
    "profile_functional_dependencies" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val li = Tables(s, dir, "lineitem")
      fdReport(o, "o_orderkey", "o_orderstatus", "orders.o_orderkey->o_orderstatus")
        .unionAll(fdReport(o, "o_custkey", "o_orderpriority",
          "orders.o_custkey->o_orderpriority"))
        .unionAll(fdReport(c, "c_nationkey", "c_mktsegment",
          "customer.c_nationkey->c_mktsegment"))
        .unionAll(fdReport(li, "l_orderkey", "l_linestatus",
          "lineitem.l_orderkey->l_linestatus"))
        .orderBy("fd")
    },

    // pairwise categorical association matrix: Cramér's V for three
    // within-table column pairs — the feature-redundancy screen an
    // encoder runs before one-hot-ing correlated columns.
    "stats_cramers_v_matrix" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      cramers(li, "l_returnflag", "l_linestatus", "lineitem.returnflag~linestatus")
        .unionAll(cramers(o, "o_orderstatus", "o_orderpriority",
          "orders.status~priority"))
        .unionAll(cramers(c, "c_mktsegment", "c_nationkey",
          "customer.segment~nation"))
        .orderBy("pair")
    },

    // decision-stump split scoring: Gini gain of "price ≤ t" for t at
    // each global price decile, label = returned line. Decile thresholds
    // ride distributedRank (never a fact-sized global window); the gain
    // pass is ONE fact aggregate with 9 conditional sums. All gains are
    // fixed expression trees over exact counts — engine-deterministic.
    "stats_split_gain" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem").select(
        col("l_extendedprice").as("x"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      val ranked = GraftOps.distributedRank(li.select("x"), Seq("x"), "rn")
      val np = li.agg(count(lit(1)).as("n"), sum("y").as("p"))
      val qs = (1 to 9).toSeq
      // decile positions in pure integer arithmetic: ((n−1)·i) DIV 10 + 1
      val thAggs = qs.map { i =>
        min(when(col("rn") === expr(s"((n - 1) * $i) DIV 10 + 1"),
          col("x"))).as(s"t$i")
      }
      val thRow = ranked.crossJoin(broadcast(np))
        .agg((Seq(min(col("n")).as("n"), min(col("p")).as("p")) ++ thAggs)
          .head, (Seq(min(col("n")).as("n"), min(col("p")).as("p")) ++ thAggs)
          .tail: _*)
      val sideAggs = qs.flatMap { i =>
        Seq(sum(when(col("x") <= col(s"t$i"), 1L).otherwise(0L)).as(s"nl$i"),
          sum(when(col("x") <= col(s"t$i"), col("y")).otherwise(0L))
            .as(s"pl$i"))
      }
      val carry = Seq(min(col("n")).as("n"), min(col("p")).as("p")) ++
        qs.map(i => min(col(s"t$i")).as(s"t$i"))
      val gainsRow = li.crossJoin(broadcast(thRow))
        .agg((carry ++ sideAggs).head, (carry ++ sideAggs).tail: _*)
      def gini(p: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) = {
        val pr = p.cast(DoubleType) / n.cast(DoubleType)
        val qr = (n - p).cast(DoubleType) / n.cast(DoubleType)
        lit(1.0) - pr * pr - qr * qr
      }
      val rows = qs.map { i =>
        val nl = col(s"nl$i"); val pl = col(s"pl$i")
        val nr = col("n") - nl; val pr = col("p") - pl
        val wl = when(nl > 0,
          nl.cast(DoubleType) / col("n").cast(DoubleType) * gini(pl, nl))
          .otherwise(lit(0.0))
        val wr = when(nr > 0,
          nr.cast(DoubleType) / col("n").cast(DoubleType) * gini(pr, nr))
          .otherwise(lit(0.0))
        struct(lit(i / 10.0).as("q"), col(s"t$i").as("threshold"),
          nl.as("n_left"), pl.as("pos_left"),
          (round(gini(col("p"), col("n")) - wl - wr, 6) + lit(0.0))
            .as("gain_gini"))
      }
      gainsRow.select(explode(array(rows: _*)).as("r"))
        .select(col("r.q").as("q"), col("r.threshold").as("threshold"),
          col("r.n_left").as("n_left"), col("r.pos_left").as("pos_left"),
          col("r.gain_gini").as("gain_gini"))
        .orderBy("q")
    },

    // Theil-Sen robust trend per nation: slope = the (lower) median of
    // all pairwise slopes between monthly revenue points. The fact
    // reduces to (nation, month) grain FIRST — the pair expansion and
    // its per-nation sort run on a calendar-bounded frame (months² per
    // nation), never on raw facts, so the partitioned window is
    // dimension-sized at any SF. Slopes are divisions of exact
    // decimal-summed doubles; the median is a SELECTED element (no
    // averaging), so the output is multiset-deterministic.
    "stats_theil_sen_by_group" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val m = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey"),
          ((year(col("o_orderdate")) - 1990) * 12 + month(col("o_orderdate")))
            .as("mi"))
        .agg(dsum(col("o_totalprice")).as("v"))
      val pairs = m.select(col("c_nationkey"), col("mi").as("m1"), col("v").as("v1"))
        .join(m.select(col("c_nationkey"), col("mi").as("m2"), col("v").as("v2")),
          Seq("c_nationkey"))
        .where(col("m1") < col("m2"))
        .withColumn("slope",
          (col("v2") - col("v1")) / (col("m2") - col("m1")).cast(DoubleType))
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("slope"), col("m1"), col("m2"))
      val cnt = pairs.groupBy("c_nationkey").agg(count(lit(1)).as("n_pairs"))
      pairs.withColumn("rn", row_number().over(w))
        .join(broadcast(cnt), "c_nationkey")
        .where(col("rn") === expr("(n_pairs + 1) DIV 2"))
        .select(col("c_nationkey"), col("n_pairs"),
          (round(col("slope"), 6) + lit(0.0)).as("theil_sen_slope"))
        .orderBy("c_nationkey")
    },

    // class-balanced downsampling: cap every language at the minority
    // class count, selecting rows by a deterministic Knuth-hash rank so
    // the sample is reproducible across engines, retries and shards.
    // The id is reduced mod 2^31−1 BEFORE the Knuth multiply: the raw
    // product wraps silently in Spark Long but errors as bigint
    // overflow in an ANSI oracle once ids exceed ~3.47e9 — plausible
    // under key-shifted 100x/1000x corpora.
    // The per-language rank rides the two-level prefix-sum kernel on a
    // slim (part, order, value) projection — a plain partitionBy(lang)
    // window would sort ~1/|langs| of the corpus in one task. The
    // id checksum pins the EXACT selected set, not just its size.
    "sample_balanced_downsample" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val slim = docs.select(col("lang"),
        struct((((col("doc_id") % lit(2147483647L)) * lit(2654435761L))
          % lit(2147483647L)).as("h"),
          col("doc_id"), col("n_chars")).as("__ord"))
        .withColumn("__one", lit(1L))
      val ranked = graft.llm.Chunking.distributedRunningSum(
        slim, "lang", "__ord", "__one", "rn")
      val cnts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        .localCheckpoint(false) // feeds the min and the cap join
      // The cap reaches the fact through an EQUI hash join on lang, not
      // a crossJoin: `rn <= min_n` references both sides, and against a
      // cross join Catalyst pushes it into the join as a conditioned
      // BNLJ evaluated interpreted per fact row (the round-8
      // Bloom-probe lesson; the full-suite PlanSpec guard rejects it).
      // The 1-row global min crosses only the |langs|-row count table.
      val caps = cnts.crossJoin(broadcast(cnts.agg(min("n_total").as("min_n"))))
      ranked.join(broadcast(caps), "lang")
        .where(col("rn") <= col("min_n"))
        .groupBy("lang")
        .agg(min("n_total").as("n_total"), count(lit(1)).as("n_kept"),
          sum(col("__ord.doc_id")).as("id_checksum"),
          sum(col("__ord.n_chars")).as("chars_kept"))
        .select(col("lang"), col("n_total"), col("n_kept"),
          col("id_checksum"), col("chars_kept"))
        .orderBy("lang")
    },

    // incremental aggregate maintenance: a stored groupBy state (count +
    // exact decimal sum) absorbs a CDC delta batch — inserts add, deletes
    // subtract — WITHOUT rescanning the base set. count/sum/avg are
    // delta-maintainable (abelian-group aggregates); min/max are not
    // (a delete can evict the current extremum — those need a recompute
    // or an augmented sketch). The oracle recomputes the final set
    // DIRECTLY, so the gate proves incremental ≡ recompute, not merely
    // that two engines ran the same algebra.
    "agg_incremental_maintenance" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val base = o.where(col("o_orderkey") % 3 =!= 0)
      val state = base.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n0"),
          sum(dec(col("o_totalprice"))).cast(DecimalType(38, 4)).as("s0"))
      val ins = o.where(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 === 0)
        .select(col("o_orderpriority"), lit(1L).as("sign"),
          dec(col("o_totalprice")).as("v"))
      val del = base.where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderpriority"), lit(-1L).as("sign"),
          dec(col("o_totalprice")).as("v"))
      val delta = ins.unionAll(del).groupBy("o_orderpriority")
        .agg(sum(col("sign")).as("dn"),
          sum(col("v") * col("sign")).cast(DecimalType(38, 4)).as("ds"))
      state.join(delta, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s0"), lit(BigDecimal(0)).cast(DecimalType(38, 4))) +
            coalesce(col("ds"), lit(BigDecimal(0)).cast(DecimalType(38, 4))))
            .cast(DoubleType).as("sum_price"))
        .where(col("n") > 0)
        .select(col("o_orderpriority"), col("n"), col("sum_price"),
          (round(col("sum_price") / col("n").cast(DoubleType), 6) + lit(0.0))
            .as("avg_price"))
        .orderBy("o_orderpriority")
    }
  )

  /** The strong co-purchase edge list in DuckDB form — kept textually in
    * sync with Graph.basketsCached/strongEdgesCached (MaxBasket = 64,
    * minWeight = 2). */
  private val edgesCte: String =
    """items AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey FROM (
      |    SELECT l_orderkey, l_partkey,
      |      count(*) OVER (PARTITION BY l_orderkey) AS bsz
      |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
      |  WHERE bsz <= 64),
      |p0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey),
      |edges AS MATERIALIZED (SELECT pa, pb FROM (
      |  SELECT pa, pb, count(*) AS w FROM p0 GROUP BY pa, pb)
      |  WHERE w >= 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "graph_adamic_adar" ->
      s"""WITH $edgesCte,
         |adj AS (SELECT pa AS u, pb AS v FROM edges
         |  UNION ALL SELECT pb, pa FROM edges),
         |wdeg AS (SELECT u AS c,
         |    CASE WHEN count(*) >= 2 THEN
         |      cast(floor(1e9 / ln(cast(count(*) AS double))) AS bigint)
         |    END AS aa_w
         |  FROM adj GROUP BY u),
         |cand AS (SELECT x.v AS a, y.v AS b, x.u AS c
         |  FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v),
         |ne AS (SELECT cand.a, cand.b, cand.c FROM cand
         |  LEFT JOIN edges ON cand.a = edges.pa AND cand.b = edges.pb
         |  WHERE edges.pa IS NULL),
         |sc AS (SELECT a, b, cast(count(*) AS bigint) AS n_common,
         |    cast(sum(aa_w) AS bigint) AS aa_q
         |  FROM ne JOIN wdeg USING (c) GROUP BY a, b)
         |SELECT a, b, n_common,
         |  round(cast(aa_q AS double) / 1e9, 6) + 0.0 AS aa_score
         |FROM sc ORDER BY aa_q DESC, a, b LIMIT 20""".stripMargin,
    "encode_target_loo" ->
      """WITH g AS (SELECT c_mktsegment,
        |    sum(cast(c_acctbal AS decimal(18,4))) AS sum_g,
        |    cast(count(*) AS bigint) AS n_g
        |  FROM customer GROUP BY 1)
        |SELECT c_custkey, c.c_mktsegment,
        |  CASE WHEN n_g > 1 THEN
        |    round(cast(sum_g - cast(c_acctbal AS decimal(18,4)) AS double) /
        |      cast(n_g - 1 AS double), 6) + 0.0
        |  END AS loo_mean
        |FROM customer c JOIN g USING (c_mktsegment)
        |ORDER BY c_custkey""".stripMargin,
    "profile_functional_dependencies" -> {
      def fd(table: String, a: String, b: String, name: String) =
        s"""SELECT '$name' AS fd, cast(count(*) AS bigint) AS n_groups,
           |  cast(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS bigint)
           |    AS violating_groups,
           |  cast(sum(CASE WHEN ndv > 1 THEN nr ELSE 0 END) AS bigint)
           |    AS violating_rows,
           |  cast(sum(nr) AS bigint) AS n_rows,
           |  sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) = 0 AS holds,
           |  round(cast(sum(CASE WHEN ndv > 1 THEN nr ELSE 0 END) AS double) /
           |    cast(sum(nr) AS double), 6) + 0.0 AS viol_ratio
           |FROM (SELECT $a, cast(count(*) AS bigint) AS nr,
           |    count(DISTINCT $b) AS ndv
           |  FROM $table GROUP BY 1)""".stripMargin
      Seq(
        fd("orders", "o_orderkey", "o_orderstatus", "orders.o_orderkey->o_orderstatus"),
        fd("orders", "o_custkey", "o_orderpriority", "orders.o_custkey->o_orderpriority"),
        fd("customer", "c_nationkey", "c_mktsegment", "customer.c_nationkey->c_mktsegment"),
        fd("lineitem", "l_orderkey", "l_linestatus", "lineitem.l_orderkey->l_linestatus"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    },
    "stats_cramers_v_matrix" -> {
      def pair(table: String, a: String, b: String, name: String) =
        s"""SELECT '$name' AS pair, cast(n AS bigint) AS n,
           |  cast(r_card AS bigint) AS r_card, cast(c_card AS bigint) AS c_card,
           |  round(cast(chi2_q AS double) / 1e9, 6) + 0.0 AS chi2,
           |  CASE WHEN least(r_card, c_card) > 1 THEN
           |    round(sqrt((cast(chi2_q AS double) / 1e9) /
           |      (cast(n AS double) *
           |       cast(least(r_card, c_card) - 1 AS double))), 6) + 0.0
           |  END AS cramers_v
           |FROM (
           |  SELECT min(n) AS n, min(nr) AS r_card, min(nc) AS c_card,
           |    sum(cast(floor(
           |      cast((o * n - r * c) * (o * n - r * c) AS double) /
           |        (cast(n AS double) * cast(r AS double) * cast(c AS double))
           |      * 1e9) AS hugeint)) AS chi2_q
           |  FROM (
           |    SELECT cast(cells.o AS hugeint) AS o,
           |      cast(rt.r AS hugeint) AS r, cast(ct.c AS hugeint) AS c,
           |      cast(tot.n AS hugeint) AS n, tot.nr, tot.nc
           |    FROM (SELECT $a, $b, count(*) AS o FROM $table GROUP BY 1, 2)
           |      cells
           |    JOIN (SELECT $a, sum(o) AS r FROM
           |      (SELECT $a, $b, count(*) AS o FROM $table GROUP BY 1, 2)
           |      GROUP BY 1) rt USING ($a)
           |    JOIN (SELECT $b, sum(o) AS c FROM
           |      (SELECT $a, $b, count(*) AS o FROM $table GROUP BY 1, 2)
           |      GROUP BY 1) ct USING ($b)
           |    CROSS JOIN (SELECT cast(count(*) AS bigint) AS n,
           |      cast(count(DISTINCT $a) AS bigint) AS nr,
           |      cast(count(DISTINCT $b) AS bigint) AS nc FROM $table) tot))"""
          .stripMargin
      Seq(
        pair("lineitem", "l_returnflag", "l_linestatus", "lineitem.returnflag~linestatus"),
        pair("orders", "o_orderstatus", "o_orderpriority", "orders.status~priority"),
        pair("customer", "c_mktsegment", "c_nationkey", "customer.segment~nation"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY pair")
    },
    "stats_split_gain" -> {
      val qs = (1 to 9).toSeq
      val thCols = qs.map { i =>
        s"min(CASE WHEN rn = ((n - 1) * $i) // 10 + 1 THEN x END) AS t$i"
      }.mkString(",\n  ")
      val sideCols = qs.map { i =>
        s"""cast(sum(CASE WHEN x <= t$i THEN 1 ELSE 0 END) AS bigint) AS nl$i,
           |  cast(sum(CASE WHEN x <= t$i THEN y ELSE 0 END) AS bigint) AS pl$i"""
          .stripMargin
      }.mkString(",\n  ")
      def gini(p: String, n: String) =
        s"""(1.0 - (cast($p AS double) / cast($n AS double)) *
           |      (cast($p AS double) / cast($n AS double))
           |    - (cast(($n) - ($p) AS double) / cast($n AS double)) *
           |      (cast(($n) - ($p) AS double) / cast($n AS double)))"""
          .stripMargin
      val perQ = qs.map { i =>
        s"""SELECT cast($i AS double) / 10.0 AS q, t$i AS threshold,
           |  nl$i AS n_left, pl$i AS pos_left,
           |  round(${gini("p", "n")}
           |    - (CASE WHEN nl$i > 0 THEN cast(nl$i AS double) /
           |        cast(n AS double) * ${gini(s"pl$i", s"nl$i")} ELSE 0.0 END)
           |    - (CASE WHEN n - nl$i > 0 THEN cast(n - nl$i AS double) /
           |        cast(n AS double) *
           |        ${gini(s"p - pl$i", s"n - nl$i")} ELSE 0.0 END),
           |    6) + 0.0 AS gain_gini
           |FROM g""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH li AS (SELECT l_extendedprice AS x,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn,
         |    count(*) OVER () AS n FROM li),
         |th AS (SELECT cast(min(n) AS bigint) AS n,
         |  $thCols
         |  FROM r),
         |g AS (SELECT cast(min(th.n) AS bigint) AS n,
         |    cast(sum(y) AS bigint) AS p,
         |    ${qs.map(i => s"min(t$i) AS t$i").mkString(", ")},
         |  $sideCols
         |  FROM li CROSS JOIN th)
         |$perQ
         |ORDER BY q""".stripMargin
    },
    "stats_theil_sen_by_group" ->
      s"""WITH m AS (SELECT c_nationkey,
         |    (year(o_orderdate) - 1990) * 12 + month(o_orderdate) AS mi,
         |    ${sqlDsum("o_totalprice")} AS v
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |pairs AS (SELECT a.c_nationkey, a.mi AS m1, b.mi AS m2,
         |    (b.v - a.v) / cast(b.mi - a.mi AS double) AS slope
         |  FROM m a JOIN m b ON a.c_nationkey = b.c_nationkey
         |    AND a.mi < b.mi),
         |r AS (SELECT c_nationkey, slope,
         |    row_number() OVER (PARTITION BY c_nationkey
         |      ORDER BY slope, m1, m2) AS rn,
         |    count(*) OVER (PARTITION BY c_nationkey) AS n_pairs
         |  FROM pairs)
         |SELECT c_nationkey, cast(n_pairs AS bigint) AS n_pairs,
         |  round(slope, 6) + 0.0 AS theil_sen_slope
         |FROM r WHERE rn = (n_pairs + 1) // 2
         |ORDER BY c_nationkey""".stripMargin,
    "sample_balanced_downsample" ->
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 2147483647) * 2654435761) % 2147483647,
        |        doc_id) AS rn
        |  FROM documents),
        |c AS (SELECT lang, cast(count(*) AS bigint) AS n_total
        |  FROM documents GROUP BY 1),
        |mn AS (SELECT min(n_total) AS min_n FROM c)
        |SELECT lang, n_total, cast(count(*) AS bigint) AS n_kept,
        |  cast(sum(doc_id) AS bigint) AS id_checksum,
        |  cast(sum(n_chars) AS bigint) AS chars_kept
        |FROM r CROSS JOIN mn JOIN c USING (lang)
        |WHERE rn <= min_n
        |GROUP BY lang, n_total
        |ORDER BY lang""".stripMargin,
    // DIRECT recompute of the post-delta set — proving the incremental
    // algebra equals a from-scratch aggregate, not merely mirroring it.
    "agg_incremental_maintenance" ->
      s"""WITH fin AS (
         |  SELECT o_orderpriority, o_totalprice FROM orders
         |  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0
         |  UNION ALL
         |  SELECT o_orderpriority, o_totalprice FROM orders
         |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0)
         |SELECT o_orderpriority, cast(count(*) AS bigint) AS n,
         |  ${sqlDsum("o_totalprice")} AS sum_price,
         |  round(${sqlDsum("o_totalprice")} / cast(count(*) AS double), 6)
         |    + 0.0 AS avg_price
         |FROM fin GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
  )
}
