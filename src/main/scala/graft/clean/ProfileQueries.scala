package graft.clean

import graft._
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** §2.8 per-column profiling — the reference widget's column-summary pass.
  *
  * std is computed from exact decimal sums (sqrt((Σx² − (Σx)²/n)/(n−1)))
  * instead of stddev_samp, so partition order can't perturb the double and
  * the DuckDB oracle reproduces it bit-for-bit.
  */
object ProfileQueries {

  private def sqlSummarize(c: String): String =
    s"""SELECT '$c' AS col_name, count($c) AS n,
       |count(*) - count($c) AS n_null,
       |count(DISTINCT $c) AS n_distinct,
       |round(cast(sum(cast($c as decimal(12,2))) as double) / count($c), 6) AS mean,
       |round(sqrt((cast(sum(cast($c as decimal(12,2)) * cast($c as decimal(12,2))) as double)
       |  - cast(sum(cast($c as decimal(12,2))) as double) * cast(sum(cast($c as decimal(12,2))) as double) / count($c))
       |  / (count($c) - 1)), 6) AS std,
       |min($c) AS mn, max($c) AS mx FROM lineitem""".stripMargin

  private val profCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** ENGINE for [[graft.GraftOps.driftPsiKs]] — distribution drift between
    * two slices of one relation (reference vs current: yesterday's corpus
    * vs today's batch, train vs eval, pre- vs post-filter), the data-
    * quality gate a training pipeline runs before accepting a refresh.
    * Input: `isRefCol` (boolean slice flag) + `bucketCol` (integral bin id
    * from any deterministic binning; a non-integral column is rejected
    * rather than truncated). Output is ONE row: `n_ref`, `n_cur` (slice
    * sizes) and the [[DriftMath]] verdict `psi`, `psi_drifted`, `ks`.
    * Rows with a NULL bucket are excluded from BOTH metrics (coalesce
    * nulls to a sentinel bucket upstream if they carry drift signal); an
    * empty histogram (empty or all-null-bucket input) has a null psi.
    *
    * Scale shape: one groupBy(bucket) pass with conditional counts (≤ #bins
    * rows), one global aggregate that collects that histogram into a
    * single row, and a one-row UDF that finishes it with
    * [[DriftMath.psiKs]] — the code the streaming monitor runs, so the
    * batch and streaming gates cannot disagree. Lazy like every operator:
    * nothing runs until the caller's action. */
  def driftPsiKs(df: DataFrame, isRefCol: String, bucketCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val bucketType = df.select(col(bucketCol)).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(bucketType),
      s"driftPsiKs: bucket column $bucketCol must be integral, got ${bucketType.simpleString}")
    val finish = udf { (hist: Seq[Row]) =>
      val ref = hist.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cur = hist.map(r => r.getLong(0) -> r.getLong(2)).toMap
      val (psi, ks, drifted, _) = DriftMath.psiKs(ref, cur, nBins)
      DriftCols(if (hist.isEmpty) None else Some(psi), drifted, ks)
    }
    df.where(col(bucketCol).isNotNull)
      .groupBy(col(bucketCol).cast("long").as("bucket")).agg(
        sum(when(col(isRefCol), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col(isRefCol), 1L).otherwise(0L)).as("n_cur"))
      .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"),
        collect_list(struct(col("bucket"), col("n_ref"), col("n_cur")))
          .as("hist"))
      .select(coalesce(col("t_ref"), lit(0L)).as("n_ref"),
        coalesce(col("t_cur"), lit(0L)).as("n_cur"),
        finish(col("hist")).as("v"))
      .select(col("n_ref"), col("n_cur"), col("v.psi"), col("v.psi_drifted"),
        col("v.ks"))
  }

  private[clean] case class DriftCols(psi: Option[Double],
      psi_drifted: Boolean, ks: Option[Double])

  /** THE definition of the drift metrics, over two bucket → count
    * histograms: the batch gate [[driftPsiKs]] finishes its one-row
    * histogram here and the streaming monitor
    * ([[graft.streaming.Stateful.driftMonitorStream]]) computes its
    * per-micro-batch verdict here.
    *
    *   - `psi` — Population Stability Index Σ (p−q)·ln(p/q) over smoothed
    *     bin shares p=(n+0.5)/(N+nBins/2), q likewise (the 0.5 Laplace
    *     term keeps one-sided-empty bins finite). Industry folklore:
    *     psi < 0.1 stable, > 0.2 drifted.
    *   - `ks` — the binned Kolmogorov–Smirnov statistic max |F_ref −
    *     F_cur| over bin-cumulative RAW shares (no smoothing; empty bins
    *     cost 0).
    *
    * Degenerate inputs fail CLOSED: an empty slice (t_ref or t_cur = 0)
    * is drifted regardless of psi — the smoothed empty-side distribution
    * degenerates to uniform and psi can read "stable" for exactly the
    * refresh-produced-nothing failure the gate exists to catch — and its
    * `ks` is None, never ±Inf.
    *
    * Double determinism: each PSI / cumulative-share term is rounded to
    * decimal(18,12) (JBD.valueOf ≡ Catalyst's double→decimal cast) and
    * summed exactly, so bucket order cannot perturb the result; the logs
    * are StrictMath's (Catalyst's `Log` evaluates StrictMath.log) and the
    * final round-6 is HALF_UP like Catalyst's `round` — the DuckDB oracle
    * reproduces psi/ks bit-for-bit. */
  private[graft] object DriftMath {
    import java.math.{BigDecimal => JBD, RoundingMode}
    private def dec12(d: Double): JBD =
      JBD.valueOf(d).setScale(12, RoundingMode.HALF_UP)
    private def round6(d: Double): Double =
      JBD.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue
    /** returns (psi, ks — None when a slice is empty, drifted, t_cur). */
    def psiKs[B: Ordering](ref: Map[B, Long], cur: Map[B, Long], nBins: Int)
        : (Double, Option[Double], Boolean, Long) = {
      val buckets = (ref.keySet ++ cur.keySet).toSeq.sorted
      val tRef = ref.valuesIterator.sum
      val tCur = cur.valuesIterator.sum
      var psiSum = JBD.ZERO
      buckets.foreach { b =>
        val p = (ref.getOrElse(b, 0L) + 0.5) / (tRef + nBins / 2.0)
        val q = (cur.getOrElse(b, 0L) + 0.5) / (tCur + nBins / 2.0)
        psiSum = psiSum.add(dec12((p - q) * StrictMath.log(p / q)))
      }
      val psi = round6(psiSum.doubleValue)
      val ks =
        if (tRef == 0L || tCur == 0L) None
        else {
          var cp = JBD.ZERO
          var cq = JBD.ZERO
          var best = 0.0
          buckets.foreach { b =>
            cp = cp.add(dec12(ref.getOrElse(b, 0L).toDouble / tRef))
            cq = cq.add(dec12(cur.getOrElse(b, 0L).toDouble / tCur))
            best = math.max(best, math.abs(cp.subtract(cq).doubleValue))
          }
          Some(round6(best))
        }
      (psi, ks, tRef == 0L || tCur == 0L || psi > 0.2, tCur)
    }
  }

  /** ENGINE for [[graft.GraftOps.topValuesExact]] — exact heavy hitters
    * per group, two passes over the input: (1) Misra–Gries sketch per
    * group → candidate values (bounded shuffle regardless of value
    * cardinality), with the group's non-null value count `__n` riding the
    * same aggregate; (2) exact counts of candidate-matching rows only —
    * an inner join against the tiny (groups×capacity) candidate relation,
    * which carries `__n` so no second join against the sketch is needed
    * (one sketch subtree, exactly two input scans — PlanSpec pins it).
    * By the MG guarantee every value with count·(capacity+1) > n is a
    * candidate, so the heavy filter over the pruned exact counts returns
    * the EXACT deterministic heavy-hitter set — the sketch only bounds
    * pass-2 cost, never the answer. Group keys compare NULL-SAFE (a null
    * group is a group, matching groupBy); null values are not values
    * (the sketch skips them, `__n` counts non-null — a 90%-null column's
    * heavy threshold is over its actual values). Values compare by string
    * form; output columns: groupCols…, valueCol (string), cnt. */
  def topValuesExact(df: DataFrame, groupCols: Seq[String], valueCol: String,
      capacity: Int): DataFrame = {
    val reserved = Seq("__v", "__cv", "__topk", "__n", "cnt") ++
      groupCols.map(c => s"__g_$c")
    // only the columns that survive the initial projection can collide —
    // an unrelated df column that happens to be named "cnt" is projected
    // away and must not trip the guard
    require(!reserved.contains(valueCol) && !groupCols.exists(reserved.contains),
      s"topValuesExact reserves the column names ${reserved.mkString(", ")}")
    val g = groupCols.map(col)
    val sdf = df.select(g :+ col(valueCol).cast("string").as("__v"): _*)
    val sk = sdf.groupBy(g: _*)
      .agg(graft.functions.SketchFunctions.misraGries(col("__v"), capacity)
          .as("__topk"),
        count(col("__v")).as("__n"))
    val cand = sk.select(groupCols.map(c => col(c).as(s"__g_$c")) :+
      col("__n") :+ explode(col("__topk.item")).as("__cv"): _*)
    // the candidate relation is ≤ groups×capacity rows by construction —
    // broadcast it structurally rather than trusting the planner's size
    // estimate (an AQE-off session over-estimating the aggregate would
    // otherwise degrade this prune to a full second shuffle of the input,
    // the exact cost the sketch exists to avoid). At extreme GROUP
    // cardinality, where groups×capacity itself exceeds broadcast limits,
    // callers use approxTopValues instead
    val joined = sdf.join(broadcast(cand),
      (groupCols.map(c => sdf(c) <=> cand(s"__g_$c")) :+
        (sdf("__v") === cand("__cv"))).reduce(_ && _))
    joined
      .groupBy(groupCols.map(c => col(s"__g_$c")) :+ col("__cv"): _*)
      .agg(count(lit(1)).as("cnt"), first(col("__n")).as("__n"))
      .where(col("cnt") * (capacity + 1) > col("__n"))
      .select(groupCols.map(c => col(s"__g_$c").as(c)) :+
        col("__cv").as(valueCol) :+ col("cnt"): _*)
  }

  val queries: Map[String, Q] = Map(
    // ALL columns' stats in ONE aggregate pass, then the per-column rows
    // unpivot map-side (the profile_corr_matrix discipline). The old
    // shape ran summarize() once per column and unioned — each branch
    // pruned to its own single column, so the plan scanned (and
    // shuffled) lineitem once PER profiled column: 4 full passes where
    // one suffices. The multi-countDistinct plans as one scan + Expand
    // (×5 rows pre-shuffle), which beats 4 scans + 4 shuffles at any
    // scale where the scan dominates. PlanSpec pins the 1-scan shape.
    "profile_summary" -> { (s, dir) =>
      def d(c: String) = col(c).cast("decimal(12,2)")
      val aggs = profCols.flatMap { c => Seq(
        count(col(c)).as(s"n_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        sum(d(c)).cast("double").as(s"sx_$c"),
        sum(d(c) * d(c)).cast("double").as(s"sx2_$c"),
        min(col(c)).as(s"mn_$c"),
        max(col(c)).as(s"mx_$c"))
      }
      Tables(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
        .select(explode(array(profCols.map { c =>
          struct(
            lit(c).as("col_name"), col(s"n_$c").as("n"),
            (col("n_rows") - col(s"n_$c")).as("n_null"),
            col(s"nd_$c").as("n_distinct"),
            // Σx² exceeds 2^53 at sf≥0.01, and the two engines'
            // decimal→double casts can differ by 1 ulp — round to 6
            round(col(s"sx_$c") / col(s"n_$c"), 6).as("mean"),
            round(sqrt((col(s"sx2_$c") - col(s"sx_$c") * col(s"sx_$c") / col(s"n_$c"))
              / (col(s"n_$c") - 1)), 6).as("std"),
            col(s"mn_$c").as("mn"), col(s"mx_$c").as("mx"))
        }: _*)).as("p"))
        .select(col("p.*"))
        .orderBy(col("col_name"))
    },

    // full pairwise Pearson matrix over the numeric profile columns in
    // ONE aggregate pass (n + 4 sums + 4 sum-squares + 6 cross-sums —
    // 15 partial-aggregable columns, one shuffle of ONE row), then the
    // 6 pairs unpivot map-side. Sums are exact DECIMAL (associative ⇒
    // partitioning-proof), the Pearson ratio is the only double math —
    // same discipline as agg_corr_manual, generalized to the matrix a
    // profiling pane actually shows.
    "profile_corr_matrix" -> { (s, dir) =>
      // Decimal products stay: an A/B at sf0.1 measured them (1.28 s)
      // against scaled-long integer products (1.16 s) and sums-only
      // (1.14 s) — a tie within noise; the per-row double→decimal cast and
      // the single-split scan dominate, not the multiplies
      def dec(c: String): Column =
        if (c == "l_quantity" || c == "l_extendedprice")
          col(c).cast("decimal(12,2)") else col(c).cast("decimal(12,6)")
      val pairs = profCols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
      val aggs =
        profCols.map(c => sum(dec(c)).cast("double").as(s"s_$c")) ++
        profCols.map(c => sum(dec(c) * dec(c)).cast("double").as(s"q_$c")) ++
        pairs.map { case (a, b) => sum(dec(a) * dec(b)).cast("double").as(s"x_${a}_$b") }
      // + 0.0 normalizes IEEE -0.0: a near-zero correlation rounds to
      // -0.0 in DuckDB but +0.0 in Spark (BigDecimal has no signed zero)
      def corr(a: String, b: String): Column =
        round((col("n") * col(s"x_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
          (sqrt(col("n") * col(s"q_$a") - col(s"s_$a") * col(s"s_$a")) *
            sqrt(col("n") * col(s"q_$b") - col(s"s_$b") * col(s"s_$b"))), 6) +
          lit(0.0)
      Tables(s, dir, "lineitem")
        .agg(count(lit(1)).as("n"), aggs: _*)
        .select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("col_a"), lit(b).as("col_b"), corr(a, b).as("corr_r6"))
        }: _*)).as("p"))
        .select(col("p.col_a"), col("p.col_b"), col("p.corr_r6"))
        .orderBy(col("col_a"), col("col_b"))
    },

    // null/NaN detector over events with deterministically injected nulls
    "profile_missingness" -> { (s, dir) =>
      Missing.eventsWithNulls(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("value_nulls"),
        sum(when(col("et").isNull, 1L).otherwise(0L)).as("etype_nulls"),
        sum(when(isnan(col("value")), 1L).otherwise(0L)).as("value_nans")
      ).select(col("n_rows"), col("value_nulls"), col("etype_nulls"), col("value_nans"),
        (col("value_nulls").cast("double") / col("n_rows")).as("value_null_rate"),
        (col("etype_nulls").cast("double") / col("n_rows")).as("etype_null_rate"))
    },

    "profile_topk_values" -> { (s, dir) =>
      Tables(s, dir, "part")
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("p_brand"))
        .limit(10)
    },

    "profile_quantiles" -> { (s, dir) =>
      Tables(s, dir, "lineitem").agg(
        expr("percentile(l_quantity, 0.25)").as("q25_qty"),
        expr("percentile(l_quantity, 0.5)").as("q50_qty"),
        expr("percentile(l_quantity, 0.75)").as("q75_qty"),
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("q25_price"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("q50_price"),
        round(expr("percentile(l_extendedprice, 0.75)"), 6).as("q75_price"))
    },

    // The 100 TB percentile path: approx_percentile's t-digest-style sketch
    // aggregates in bounded memory (exact `percentile` buffers every value
    // per partition — the documented SCALE.md limit). DuckDB can't
    // reproduce the sketch, so the DECLARED result is the checkable
    // contract: relative-error bounds vs the exact quantiles + one exact
    // anchor value; the oracle asserts the same anchors and `true`s.
    "profile_quantiles_approx" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      def ok(i: Int) =
        (abs(element_at(col("ap"), i) - element_at(col("ep"), i)) /
          element_at(col("ep"), i) <= 0.01).as(s"q${25 * i}_ok")
      li.agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)").as("ap"),
        expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("ep"))
        .select(ok(1), ok(2), ok(3),
          round(element_at(col("ep"), 2), 6).as("exact_q50"))
    },

    // fixed-width histogram of o_totalprice: 20 buckets of 25000
    "profile_histogram" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("bucket",
          least(floor(col("o_totalprice") / 25000.0), lit(19.0)).cast("int"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },

    // Shannon entropy + distinct count per categorical column. The
    // -p·ln(p) terms are doubles (identical IEEE in both engines) but a
    // double SUM is partition-order-dependent — so each term is cast to
    // decimal(18,12) first and the sum is exact/associative (the dsum
    // rule applied to information theory).
    "profile_entropy" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      Seq("event_type", "user_id").map { c =>
        val counts = ev.groupBy(col(c)).agg(count(lit(1)).as("n"))
        counts.crossJoin(broadcast(counts.agg(sum(col("n")).as("tot"))))
          .select((col("n").cast("double") / col("tot").cast("double")).as("p"))
          .agg(count(lit(1)).as("n_distinct"),
            round(sum((-col("p") * log(col("p"))).cast("decimal(18,12)"))
              .cast("double"), 6).as("entropy"))
          .select(lit(c).as("col_name"), col("n_distinct"), col("entropy"))
      }.reduce(_ unionByName _).orderBy(col("col_name"))
    },

    // Approximate heavy hitters per group via the native Misra–Gries
    // aggregate — the 100 TB path for profile_topk_values: the exact form
    // shuffles one row per DISTINCT (group, value); the sketch carries at
    // most `capacity` counters per (partition, group) regardless of value
    // cardinality. The raw sketch is encounter-order-dependent, so the
    // DECLARED result is the oracle-checkable CONTRACT (the
    // agg_approx_distinct pattern): per group, the exact row count and
    // heavy-hitter count, plus two booleans the Misra–Gries guarantee
    // makes always-true — every value with cnt > n/(capacity+1) is in the
    // sketch, and every estimate is within [cnt − n/(capacity+1), cnt].
    // The value column is a deterministic skew: user_id % 5 ∈ {0, 1} fold
    // into two ~20% hot values, the rest stay ~0.5% singletons, so the
    // sketch (capacity 8) genuinely compresses ~120 distinct values and
    // the heavy set is non-trivial in every group.
    // Plan shape (round-7 ScanAudit rework): the input is consumed
    // EXACTLY twice — the sketch aggregate and the exact (group, value)
    // counts — and everything downstream derives from ONE left_outer
    // join of those two (every sketch item is a seen value, so no item
    // row can drop). The earlier shape re-consumed the sketch/exact
    // aggregates per derived relation (bounded/heavy/n_found/final) and,
    // because each consumer pruned a different projection, none of the
    // subtrees canonicalized — the executed plan scanned the input SIX
    // times. n_events = sum of exact counts per group (v is never null
    // here) via a per-group window whose partitions are DISTINCT values,
    // the same cardinality `exact` already materializes. A group with an
    // EMPTY sketch (capacity+1 equal-count values can cancel in reduce)
    // just has est null on every row: est_bounded vacuously true,
    // heavy_in_sketch false only if a heavy value is missing — matching
    // the oracle's one-row-per-group shape.
    "profile_topk_approx" -> { (s, dir) =>
      val C = 8
      val ev = skewedEvents(s, dir)
      val sk = ev.groupBy(col("event_type"))
        .agg(graft.functions.SketchFunctions.misraGries(col("v"), C).as("sketch"))
      val items = sk.select(col("event_type"), explode(col("sketch")).as("it"))
        .select(col("event_type"), col("it.item").as("v"), col("it.est").as("est"))
      val exact = ev.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
      val wTot = Window.partitionBy(col("event_type"))
      val flagged = exact.join(items, Seq("event_type", "v"), "left_outer")
        .withColumn("n_events", sum(col("cnt")).over(wTot))
        .withColumn("heavy", col("cnt") * (C + 1) > col("n_events"))
        .withColumn("in_sketch", col("est").isNotNull)
        .withColumn("bound_ok", col("est").isNull ||
          (col("est") <= col("cnt") &&
            (col("cnt") - col("est")) * (C + 1) <= col("n_events")))
      flagged.groupBy(col("event_type")).agg(
          first(col("n_events")).as("n_events"),
          sum(when(col("heavy"), 1L).otherwise(0L)).as("n_heavy"),
          bool_and(!col("heavy") || col("in_sketch")).as("heavy_in_sketch"),
          bool_and(col("bound_ok")).as("est_bounded"))
        .orderBy(col("event_type"))
    },

    // EXACT heavy hitters per group through the two-pass engine
    // ([[topValuesExact]]): unlike profile_topk_approx — whose raw sketch
    // is encounter-order-dependent and therefore only contract-checkable —
    // this query's output is the deterministic exact heavy set with exact
    // counts, so the oracle mirrors it as plain GROUP BY + HAVING with no
    // sketch at all. The sketch's only job is bounding pass-2 cost; the
    // same skewed value derivation as profile_topk_approx keeps the heavy
    // set non-trivial (2 hot values/group vs ~120 cold singletons).
    "profile_topk_heavy" -> { (s, dir) =>
      topValuesExact(skewedEvents(s, dir), Seq("event_type"), "v", 8)
        .orderBy(col("event_type"), col("v"))
    },

    // drift gate through [[driftPsiKs]]: orders split into deterministic
    // halves by o_orderkey parity (near-identical distributions — the
    // expected verdict is "stable", exercising the metric math rather
    // than a synthetic catastrophe), binned by profile_histogram's
    // 25k-wide totalprice buckets
    "profile_drift_psi_ks" -> { (s, dir) =>
      driftPsiKs(
        Tables(s, dir, "orders").select(
          (col("o_orderkey") % 2 === 0).as("is_ref"),
          least(floor(col("o_totalprice") / 25000.0), lit(19.0)).cast("int")
            .as("bucket")),
        "is_ref", "bucket", 20)
    }
  )

  /** Shared input of the two heavy-hitter queries: events with a
    * deterministic skewed value — user_id % 5 ∈ {0, 1} fold into two
    * ~20% hot values per group, the rest stay ~0.5% cold singletons —
    * so a capacity-8 sketch genuinely compresses ~120 distinct values
    * and the heavy set is non-trivial in every group. Null group keys
    * are excluded in BOTH engines (they'd survive Spark's groupBy but
    * vanish in null-rejecting equi-joins, while DuckDB's USING keeps
    * them). ONE definition here + [[sqlSkewedEventsCte]] — the Spark and
    * SQL forms must stay in lockstep or the twin queries' oracles
    * silently diverge. */
  private def skewedEvents(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .where(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        when(col("user_id") % 5 <= 1,
          concat(lit("hot"), (col("user_id") % 5).cast("string")))
          .otherwise(concat(lit("cold"), col("user_id").cast("string")))
          .as("v"))

  /** DuckDB twin of [[skewedEvents]] — splice as the `ev` CTE body. */
  private val sqlSkewedEventsCte: String =
    """ev AS (SELECT event_type,
      |    CASE WHEN user_id % 5 <= 1 THEN 'hot' || cast(user_id % 5 as varchar)
      |         ELSE 'cold' || cast(user_id as varchar) END AS v
      |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL)""".stripMargin

  private val sqlCorrMatrix: String = {
    def dec(c: String) =
      if (c == "l_quantity" || c == "l_extendedprice") s"cast($c as decimal(12,2))"
      else s"cast($c as decimal(12,6))"
    val pairs = profCols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val sums =
      profCols.map(c => s"cast(sum(${dec(c)}) as double) AS s_$c") ++
      profCols.map(c => s"cast(sum(${dec(c)} * ${dec(c)}) as double) AS q_$c") ++
      pairs.map { case (a, b) =>
        s"cast(sum(${dec(a)} * ${dec(b)}) as double) AS x_${a}_$b" }
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  round((n * x_${a}_$b - s_$a * s_$b) /
         |    (sqrt(n * q_$a - s_$a * s_$a) * sqrt(n * q_$b - s_$b * s_$b)), 6)
         |    + 0.0 AS corr_r6 FROM s""".stripMargin }
    s"""WITH s AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM lineitem)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY col_a, col_b""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "profile_corr_matrix" -> sqlCorrMatrix,
    "profile_summary" ->
      profCols.map(sqlSummarize).mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "profile_missingness" ->
      s"""WITH ev AS (${Missing.sqlEv})
         |SELECT count(*) AS n_rows,
         |cast(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) as bigint) AS value_nulls,
         |cast(sum(CASE WHEN et IS NULL THEN 1 ELSE 0 END) as bigint) AS etype_nulls,
         |cast(sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END) as bigint) AS value_nans,
         |cast(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) as double) / count(*) AS value_null_rate,
         |cast(sum(CASE WHEN et IS NULL THEN 1 ELSE 0 END) as double) / count(*) AS etype_null_rate
         |FROM ev""".stripMargin,
    "profile_topk_values" ->
      """SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand
        |ORDER BY n DESC, p_brand LIMIT 10""".stripMargin,
    "profile_topk_approx" ->
      s"""WITH $sqlSkewedEventsCte,
        |n AS (SELECT event_type, count(*) AS n_events FROM ev GROUP BY 1),
        |c AS (SELECT event_type, v, count(*) AS cnt FROM ev GROUP BY 1, 2),
        |h AS (SELECT c.event_type, count(*) AS n_heavy
        |      FROM c JOIN n USING (event_type) WHERE cnt * 9 > n_events GROUP BY 1)
        |SELECT n.event_type, n.n_events,
        |  cast(coalesce(h.n_heavy, 0) as bigint) AS n_heavy,
        |  true AS heavy_in_sketch, true AS est_bounded
        |FROM n LEFT JOIN h USING (event_type)
        |ORDER BY n.event_type""".stripMargin,
    // the two-pass engine's answer is EXACT, so the mirror needs no
    // sketch: plain per-(group, value) counts + the heavy threshold
    // (capacity 8 ⇒ cnt·9 > group size)
    "profile_topk_heavy" ->
      s"""WITH $sqlSkewedEventsCte,
        |n AS (SELECT event_type, count(*) AS n_events FROM ev GROUP BY 1),
        |c AS (SELECT event_type, v, count(*) AS cnt FROM ev GROUP BY 1, 2)
        |SELECT c.event_type, c.v, c.cnt FROM c JOIN n USING (event_type)
        |WHERE cnt * 9 > n_events ORDER BY event_type, v""".stripMargin,
    // mirrors DriftMath term by term: smoothed shares as doubles, each
    // PSI / cumulative-share term cast to decimal(18,12) before summing
    // (the entropy discipline), round-6 at the end. All share arithmetic
    // forces double EXPLICITLY — DuckDB's 0.5/10.0 literals are DECIMAL,
    // and bigint+decimal division has different semantics than Scala's
    // long+double. The KS cumulatives here use a TRIANGULAR self-join
    // (fine in DuckDB) where DriftMath runs the same exact decimal sums
    // in bucket order — the max |cp − cq| is identical
    "profile_drift_psi_ks" ->
      """WITH o AS (SELECT (o_orderkey % 2 = 0) AS is_ref,
        |    cast(least(floor(o_totalprice / 25000.0), 19.0) as int) AS bucket
        |  FROM orders),
        |b AS (SELECT bucket,
        |    cast(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) as bigint) AS n_ref,
        |    cast(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) as bigint) AS n_cur
        |  FROM o WHERE bucket IS NOT NULL GROUP BY 1),
        |t AS (SELECT cast(sum(n_ref) as bigint) AS t_ref,
        |    cast(sum(n_cur) as bigint) AS t_cur FROM b),
        |s AS (SELECT bucket,
        |    (cast(n_ref as double) + cast(0.5 as double)) / (cast(t_ref as double) + cast(10.0 as double)) AS p,
        |    (cast(n_cur as double) + cast(0.5 as double)) / (cast(t_cur as double) + cast(10.0 as double)) AS q,
        |    cast(n_ref as double) / nullif(cast(t_ref as double), 0) AS pr,
        |    cast(n_cur as double) / nullif(cast(t_cur as double), 0) AS qr
        |  FROM b CROSS JOIN t),
        |c AS (SELECT s.bucket,
        |    sum(cast(s2.pr as decimal(18,12))) AS cp,
        |    sum(cast(s2.qr as decimal(18,12))) AS cq
        |  FROM s JOIN s s2 ON s2.bucket <= s.bucket GROUP BY 1),
        |pp AS (SELECT round(cast(sum(cast((p - q) * ln(p / q) as decimal(18,12))) as double), 6) AS psi FROM s),
        |kk AS (SELECT round(max(abs(cast(cp - cq as double))), 6) AS ks FROM c)
        |SELECT coalesce(t.t_ref, 0) AS n_ref, coalesce(t.t_cur, 0) AS n_cur,
        |  pp.psi,
        |  (coalesce(t.t_ref, 0) = 0 OR coalesce(t.t_cur, 0) = 0
        |    OR pp.psi > 0.2) AS psi_drifted, kk.ks
        |FROM t CROSS JOIN pp CROSS JOIN kk""".stripMargin,
    "profile_quantiles" ->
      """SELECT quantile_cont(l_quantity, 0.25) AS q25_qty,
        |quantile_cont(l_quantity, 0.5) AS q50_qty,
        |quantile_cont(l_quantity, 0.75) AS q75_qty,
        |round(quantile_cont(l_extendedprice, 0.25), 6) AS q25_price,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS q50_price,
        |round(quantile_cont(l_extendedprice, 0.75), 6) AS q75_price
        |FROM lineitem""".stripMargin,
    "profile_histogram" ->
      """SELECT cast(least(floor(o_totalprice / 25000.0), 19.0) as int) AS bucket,
        |count(*) AS n FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "profile_quantiles_approx" ->
      """SELECT true AS q25_ok, true AS q50_ok, true AS q75_ok,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_q50
        |FROM lineitem""".stripMargin,
    "profile_entropy" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_distinct,
           |round(cast(sum(cast(-p * ln(p) as decimal(18,12))) as double), 6) AS entropy
           |FROM (SELECT cast(n as double) / cast(tot as double) AS p
           |      FROM (SELECT $c, count(*) AS n FROM events GROUP BY $c) ct
           |      CROSS JOIN (SELECT count(*) AS tot FROM events) t)""".stripMargin
      one("event_type") + "\nUNION ALL\n" + one("user_id") + "\nORDER BY col_name"
    }
  )
}
