package graft.clean

import graft._
import graft.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Round-8 profiling additions: statistical data-quality checks beyond the
  * §2.8 per-column summaries — association between categorical columns
  * (chi-square contingency), candidate-key discovery (uniqueness
  * profiling), and first-digit law conformance (Benford fraud check).
  *
  * Float discipline (SURVEY §5): every double these queries emit is the
  * result of a FIXED per-row IEEE expression tree over exactly-representable
  * integers (counts < 2⁵³) or of hardcoded literals shared verbatim by both
  * engines — never an order-dependent double aggregate, so the bit-exact
  * hash gate holds without rounding.
  */
object Profile2 {

  // Benford expected first-digit probabilities log10(1+1/d), hardcoded to
  // 6 dp as SHARED literals (computing log10 in each engine would expose
  // last-ulp libm differences; the constants ARE the specification).
  private val benfordP = Seq(
    1 -> "0.301030", 2 -> "0.176091", 3 -> "0.124939", 4 -> "0.096910",
    5 -> "0.079181", 6 -> "0.066947", 7 -> "0.057992", 8 -> "0.051153",
    9 -> "0.045757")

  val queries: Map[String, Q] = Map(
    // chi-square contingency over documents lang × source: observed cell
    // counts vs independence expectation e = r·c/n, per-cell contribution
    // (o−e)²/e. The cell/margin aggregates are map-side-combined counts;
    // the joins attach two TINY margin tables (|lang| and |source| rows)
    // to the cell table — at 100 TB the only full-data pass is the one
    // groupBy(lang, source), everything downstream is dimension-sized.
    "profile_crosstab_chi2" -> { (s, dir) =>
      // ONE corpus scan: margins and the total re-aggregate the
      // |lang|×|source| CELL table (checkpointed — it feeds four
      // branches), never the corpus again (ScanAudit: was 4 scans)
      val cells = Tables(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        .localCheckpoint(false)
      val rowT = cells.groupBy("lang").agg(sum("o").as("r"))
      val colT = cells.groupBy("source").agg(sum("o").as("c"))
      val tot = cells.agg(sum("o").as("n"))
      val e = (col("r").cast(DoubleType) * col("c").cast(DoubleType)) /
        col("n").cast(DoubleType)
      val dev = col("o").cast(DoubleType) - col("expected")
      cells
        .join(broadcast(rowT), "lang")
        .join(broadcast(colT), "source")
        .crossJoin(broadcast(tot))
        .withColumn("expected", e)
        .withColumn("chi2_cell", dev * dev / col("expected"))
        .select("lang", "source", "o", "expected", "chi2_cell")
        .orderBy("lang", "source")
    },

    // candidate-key discovery on orders: per column, exact cardinality +
    // null count + uniqueness ratio + is-key verdict. One pass; the
    // multi-column count_distinct expands rows ×4 map-side (Expand), each
    // branch partial-aggregates before the single-row shuffle — the
    // standard distinct-profiling shape. At 100 TB swap count_distinct
    // for approx_count_distinct per §2.8's approx twin; the verdict
    // column is then a screen, not a proof.
    "profile_candidate_keys" -> { (s, dir) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val o = Tables(s, dir, "orders")
      // the single-row stats aggregate feeds one union branch per column;
      // the four subtrees are IDENTICAL, so exchange reuse computes the
      // aggregate once (a localCheckpoint here measured 7× slower — the
      // materialization barrier costs more than the reuse it duplicates)
      val agg = o.agg(
        count(lit(1)).as("n"),
        cols.flatMap(c => Seq(
          count_distinct(col(c)).as(s"d_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"z_$c"))): _*)
      val perCol = cols.map(c => agg.select(
        lit(c).as("column_name"), col("n"),
        col(s"d_$c").as("n_distinct"), col(s"z_$c").as("n_nulls"),
        (col(s"d_$c").cast(DoubleType) / col("n").cast(DoubleType))
          .as("uniq_ratio"),
        (col(s"d_$c") === col("n") && col(s"z_$c") === 0L).as("is_key")))
      perCol.reduce(_ unionAll _).orderBy("column_name")
    },

    // one-way ANOVA decomposition of c_acctbal across market segments:
    // per group n, exact-decimal mean, within-group variance and the
    // between-group term n_g·(mean_g − grand_mean)² — the
    // categorical→numeric association screen complementing the
    // categorical↔categorical chi-square. One grouped pass of exact
    // decimal sums; the grand mean attaches as a broadcast 1-row
    // PROJECTION (never a both-sides filter — the conditioned-BNLJ
    // trap); every double is a fixed IEEE tree over exact-sum casts.
    "profile_anova_groups" -> { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      val x = dec(col("c_acctbal"))
      val g = cust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(x).cast(DoubleType).as("sx"),
          sum(x * x).cast(DoubleType).as("sx2"))
      val tot = cust.agg(count(lit(1)).as("nt"),
        sum(x).cast(DoubleType).as("st"))
      val mean = col("sx") / col("n")
      val grand = col("st") / col("nt")
      // var_within is ROUND-4: the Σx² decimal exceeds 2⁵³ unscaled at
      // sf0.1, where DuckDB's decimal→double cast is no longer
      // correctly rounded (Spark's BigDecimal.doubleValue is) — a
      // last-ulp input diff surfaces through the variance cancellation
      // (caught by the sf0.1 gate; the linear sums stay < 2⁵³ so mean
      // and between-term need no rounding)
      g.crossJoin(broadcast(tot))
        .select(col("c_mktsegment"), col("n"),
          mean.as("mean_bal"),
          round((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 4)
            .as("var_within"),
          (col("n") * (mean - grand) * (mean - grand)).as("ss_between_term"))
        .orderBy("c_mktsegment")
    },

    // functional-dependency check over the denormalized orders⋈customer
    // view: for each candidate det→dep pair, how many determinant values
    // map to MORE than one dependent value (violations). The discovery
    // shape behind normalization/consistency repair: each pair is one
    // groupBy(det) count_distinct — map-side partial-agg'd — and the
    // verdict aggregate is determinant-cardinality-sized. FDs that hold
    // here by construction (o_custkey→c_name) and fail (c_nationkey→
    // c_mktsegment) both appear, so the gate proves the verdict column
    // discriminates.
    "profile_fd_check" -> { (s, dir) =>
      val oc = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .localCheckpoint(false)
      val cand = Seq(
        ("o_custkey", "c_name"), ("o_custkey", "c_mktsegment"),
        ("c_nationkey", "c_mktsegment"), ("o_orderpriority", "o_orderstatus"))
      cand.map { case (det, dep) =>
        oc.groupBy(det).agg(count_distinct(col(dep)).as("nd"))
          .agg(count(lit(1)).as("n_det_values"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violations"))
          .select(lit(det).as("determinant"), lit(dep).as("dependent"),
            col("n_det_values"), col("n_violations"),
            (col("n_violations") === 0L).as("fd_holds"))
      }.reduce(_ unionAll _).orderBy("determinant", "dependent")
    },

    // equi-depth (quantile) histogram: 10 equal-count buckets of
    // o_totalprice with their boundaries — the histogram form whose bar
    // heights stay informative under any value skew (the fixed-width
    // profile_histogram twin). Bucketing via the DISTRIBUTED ntile
    // (two-level prefix sum — parallelism = shard count, never a global
    // single-partition sort); the rollup after it is 10 rows.
    "profile_histogram_equidepth" -> { (s, dir) =>
      val o = Tables(s, dir, "orders").select("o_orderkey", "o_totalprice")
      graft.GraftOps.distributedNtile(
          o, Seq("o_totalprice", "o_orderkey"), 10, "bucket")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        .orderBy("bucket")
    },

    // Benford first-digit conformance of o_totalprice: observed digit
    // shares vs log10(1+1/d). Digit extraction is integral (floor →
    // bigint → leading character) — no log10 on data, no double→string
    // format dependence. One map-side-combined 9-group aggregate; the
    // expected column is a broadcast 9-row literal table in BOTH engines.
    "profile_benford" -> { (s, dir) =>
      // floor, not a bigint cast: Spark's double→bigint cast truncates but
      // DuckDB's ROUNDS half-away (999.95 → digit 9 vs 1); floor is the
      // same function in both engines
      val o = Tables(s, dir, "orders")
        .withColumn("digit",
          substring(floor(col("o_totalprice")).cast("string"), 1, 1)
            .cast("int"))
      val obs = o.groupBy("digit").agg(count(lit(1)).as("observed"))
      val tot = o.agg(count(lit(1)).as("n"))
      val expected = benfordP.foldLeft(lit(null).cast(DoubleType)) {
        case (acc, (d, p)) => when(col("digit") === d, lit(p.toDouble)).otherwise(acc)
      }
      obs.crossJoin(broadcast(tot))
        .withColumn("observed_p",
          col("observed").cast(DoubleType) / col("n").cast(DoubleType))
        .withColumn("expected_p", expected)
        .withColumn("deviation", col("observed_p") - col("expected_p"))
        .select("digit", "observed", "observed_p", "expected_p", "deviation")
        .orderBy("digit")
    }
  )

  private val benfordCase = benfordP
    .map { case (d, p) => s"WHEN digit = $d THEN $p" }
    .mkString("CASE ", " ", " ELSE NULL END")

  val oracle: Map[String, String] = Map(
    "profile_crosstab_chi2" ->
      """WITH cells AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
        |ct AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM documents),
        |j AS (SELECT cells.lang, cells.source, o,
        |        (cast(r as double) * cast(c as double)) / cast(n as double) AS expected
        |      FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot)
        |SELECT lang, source, o, expected,
        |  (cast(o as double) - expected) * (cast(o as double) - expected) / expected
        |    AS chi2_cell
        |FROM j ORDER BY lang, source""".stripMargin,
    "profile_candidate_keys" ->
      """WITH s AS (SELECT count(*) AS n,
        |  count(DISTINCT o_orderkey) AS d1, cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint) AS z1,
        |  count(DISTINCT o_custkey) AS d2, cast(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) as bigint) AS z2,
        |  count(DISTINCT o_orderstatus) AS d3, cast(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) as bigint) AS z3,
        |  count(DISTINCT o_orderpriority) AS d4, cast(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) as bigint) AS z4
        |  FROM orders)
        |SELECT 'o_orderkey' AS column_name, n, d1 AS n_distinct, z1 AS n_nulls,
        |  cast(d1 as double) / cast(n as double) AS uniq_ratio, d1 = n AND z1 = 0 AS is_key FROM s
        |UNION ALL SELECT 'o_custkey', n, d2, z2, cast(d2 as double) / cast(n as double), d2 = n AND z2 = 0 FROM s
        |UNION ALL SELECT 'o_orderstatus', n, d3, z3, cast(d3 as double) / cast(n as double), d3 = n AND z3 = 0 FROM s
        |UNION ALL SELECT 'o_orderpriority', n, d4, z4, cast(d4 as double) / cast(n as double), d4 = n AND z4 = 0 FROM s
        |ORDER BY column_name""".stripMargin,
    "profile_anova_groups" ->
      """WITH g AS (SELECT c_mktsegment, count(*) AS n,
        |    cast(sum(cast(c_acctbal as decimal(18,4))) as double) AS sx,
        |    cast(sum(cast(c_acctbal as decimal(18,4))
        |           * cast(c_acctbal as decimal(18,4))) as double) AS sx2
        |  FROM customer GROUP BY 1),
        |t AS (SELECT count(*) AS nt,
        |    cast(sum(cast(c_acctbal as decimal(18,4))) as double) AS st
        |  FROM customer)
        |SELECT c_mktsegment, n,
        |  sx / n AS mean_bal,
        |  round((sx2 - sx * sx / n) / (n - 1), 4) AS var_within,
        |  n * (sx / n - st / nt) * (sx / n - st / nt) AS ss_between_term
        |FROM g CROSS JOIN t ORDER BY c_mktsegment""".stripMargin,
    "profile_fd_check" ->
      """WITH oc AS (SELECT * FROM orders JOIN customer ON o_custkey = c_custkey),
        |f1 AS (SELECT count(*) AS n, cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint) AS v
        |       FROM (SELECT o_custkey, count(DISTINCT c_name) AS nd FROM oc GROUP BY 1)),
        |f2 AS (SELECT count(*) AS n, cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint) AS v
        |       FROM (SELECT o_custkey, count(DISTINCT c_mktsegment) AS nd FROM oc GROUP BY 1)),
        |f3 AS (SELECT count(*) AS n, cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint) AS v
        |       FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd FROM oc GROUP BY 1)),
        |f4 AS (SELECT count(*) AS n, cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint) AS v
        |       FROM (SELECT o_orderpriority, count(DISTINCT o_orderstatus) AS nd FROM oc GROUP BY 1))
        |SELECT 'o_custkey' AS determinant, 'c_name' AS dependent,
        |  n AS n_det_values, v AS n_violations, v = 0 AS fd_holds FROM f1
        |UNION ALL SELECT 'o_custkey', 'c_mktsegment', n, v, v = 0 FROM f2
        |UNION ALL SELECT 'c_nationkey', 'c_mktsegment', n, v, v = 0 FROM f3
        |UNION ALL SELECT 'o_orderpriority', 'o_orderstatus', n, v, v = 0 FROM f4
        |ORDER BY determinant, dependent""".stripMargin,
    "profile_histogram_equidepth" ->
      """WITH b AS (SELECT o_totalprice,
        |  ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders)
        |SELECT bucket, count(*) AS n, min(o_totalprice) AS lo,
        |  max(o_totalprice) AS hi
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "profile_benford" ->
      s"""WITH d AS (SELECT cast(substring(cast(cast(floor(o_totalprice) as bigint) as varchar), 1, 1) as int) AS digit
         |           FROM orders),
         |obs AS (SELECT digit, count(*) AS observed FROM d GROUP BY 1),
         |tot AS (SELECT count(*) AS n FROM d)
         |SELECT digit, observed,
         |  cast(observed as double) / cast(n as double) AS observed_p,
         |  $benfordCase AS expected_p,
         |  cast(observed as double) / cast(n as double) - ($benfordCase) AS deviation
         |FROM obs CROSS JOIN tot ORDER BY digit""".stripMargin
  )
}
