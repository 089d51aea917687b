package graft.ops

import graft._
import graft.Tables.dec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Round-8 fifth-session batch 17 (with Similarity's
  * sim_cluster_purity): dedup recall evaluation, longest activity
  * streaks, and ABC revenue classification.
  *
  * Scale discipline: the dedup eval runs the REAL MinHash-LSH public
  * API over a planted-variant corpus (map-side signatures, (band, sig)
  * equi-join — nothing bespoke for the eval); streaks are per-user
  * bounded windows over distinct active days; ABC's cumulative ranks
  * come from the distributed prefix sum over the part-grain aggregate
  * (never a global-order window even though parts are
  * dimension-sized — at catalog scale they aren't).
  *
  * Float discipline: recall/streaks/ABC are integer end-to-end until
  * single divisions (revenue quantized to exact cents before the
  * cumulative; class boundaries compared as cross-multiplied
  * integers cum·100 ≤ total·80).
  */
object Extras20 {

  val queries: Map[String, Q] = Map(

    // dedup quality evaluation: plant one near-duplicate per sampled
    // doc (first word dropped — perturbs 2 of ~200 shingles), run the
    // production MinHash-LSH candidate generator, report recall of the
    // planted pairs. The quality certificate a dedup pipeline ships
    // with (completes ANN recall + cluster purity).
    "dedup_recall_eval" -> { (s, dir) =>
      val docs0 = Tables(s, dir, "documents")
        .where(col("doc_id") % 5 === 0).select(col("doc_id"), col("text"))
      val corpus = docs0
        .select((col("doc_id") * 2).as("did"), col("text"))
        .unionByName(docs0.select((col("doc_id") * 2 + 1).as("did"),
          expr("substring(text, instr(text, ' ') + 1)").as("text")))
      val cand = llm.Dedup.candidatesFromArrays(
        llm.Dedup.shingleArrays(corpus, "did", "text", 3))
      val planted = docs0.select((col("doc_id") * 2).as("doc_a"),
        (col("doc_id") * 2 + 1).as("doc_b"))
      val nP = planted.agg(count(lit(1)).as("n_planted"))
      val nF = cand.join(planted, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_found"))
      val nC = cand.agg(count(lit(1)).as("n_candidates"))
      nP.crossJoin(broadcast(nF)).crossJoin(broadcast(nC))
        .select(col("n_planted"), col("n_found"), col("n_candidates"),
          round(col("n_found").cast(DoubleType) /
            col("n_planted").cast(DoubleType), 6).as("recall"))
    },

    // longest consecutive-active-day streak per user: the day-grain
    // gaps-and-islands (day − row_number anchor) — the engagement
    // metric next to window_gaps_islands' type runs.
    "window_streak_longest" -> { (s, dir) =>
      val days = Tables(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("anchor", col("day") - row_number().over(w))
        .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"), max(col("len")).as("longest_streak"))
        .orderBy("user_id")
    },

    // ABC revenue classification (80/15/5): parts ranked by revenue
    // descending, cumulative share classed as cross-multiplied
    // integers over exact cents — the inventory-prioritization
    // standard.
    "analytics_abc_classification" -> { (s, dir) =>
      // exactly (g, ord, revc): the slim shape keeps the prefix-sum
      // kernel on its exchange-reuse path (no localCheckpoint rebuild —
      // r8's warm-slower-than-cold anomaly was the non-slim path
      // re-materializing the checkpoint per invocation), and `tot`
      // aggregates the PRE-kernel frame so it shares the part-grain
      // aggregate exchange instead of re-traversing the window output.
      val rev = Tables(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg((sum(dec(col("l_extendedprice"))) * 100)
          .cast("long").as("revc"))
        .select(lit(1).as("g"),
          struct((-col("revc")).as("nr"), col("l_partkey")).as("ord"),
          col("revc"))
      val cum = GraftOps.distributedRunningSum(rev, "g", "ord", "revc", "cum")
      val tot = rev.agg(sum(col("revc")).as("total"))
      cum.crossJoin(broadcast(tot))
        .select(col("revc"),
          when(col("cum") * 100 <= col("total") * 80, "A")
            .when(col("cum") * 100 <= col("total") * 95, "B")
            .otherwise("C").as("abc_class"), col("total"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("revc")).cast(DoubleType) /
            max(col("total")).cast(DoubleType), 6).as("rev_share"))
        .orderBy("abc_class")
    }
  )

  val oracle: Map[String, String] = Map(
    "dedup_recall_eval" ->
      s"""WITH docs0 AS (SELECT doc_id, text FROM documents
        |               WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM docs0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, substr(text, strpos(text, ' ') + 1)
        |  FROM docs0),
        |pos AS (SELECT doc_id,
        |  unnest(string_split(lower(text), ' ')) AS word,
        |  generate_subscripts(string_split(lower(text), ' '), 1) AS pos
        |  FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, bg FROM (
        |  SELECT doc_id,
        |    word || ' ' || lead(word, 1) OVER w || ' ' ||
        |      lead(word, 2) OVER w AS bg
        |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        |  WHERE bg IS NOT NULL),
        |dict AS (SELECT bg, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(generate_series(1, length(bg)),
        |                   i -> ord(substring(bg, i, 1))::BIGINT)),
        |    (a, b) -> (a * 31 + b) % 2147483647) AS tid
        |  FROM (SELECT DISTINCT bg FROM sh)),
        |mh AS (SELECT doc_id, i,
        |    min(((2 * i + 3) * tid + 5 * i + 7) % 2147483647) AS mh
        |  FROM sh JOIN dict USING (bg) CROSS JOIN range(16) r(i)
        |  GROUP BY doc_id, i),
        |sigs AS (SELECT doc_id, cast(i // 4 AS int) AS band,
        |  concat_ws(',',
        |    min(CASE WHEN i % 4 = 0 THEN mh END),
        |    min(CASE WHEN i % 4 = 1 THEN mh END),
        |    min(CASE WHEN i % 4 = 2 THEN mh END),
        |    min(CASE WHEN i % 4 = 3 THEN mh END)) AS sig
        |  FROM mh GROUP BY doc_id, 2),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |planted AS (SELECT doc_id * 2 AS doc_a, doc_id * 2 + 1 AS doc_b
        |  FROM docs0),
        |np AS (SELECT cast(count(*) AS bigint) AS n_planted FROM planted),
        |nf AS (SELECT cast(count(*) AS bigint) AS n_found
        |  FROM cand JOIN planted USING (doc_a, doc_b)),
        |nc AS (SELECT cast(count(*) AS bigint) AS n_candidates FROM cand)
        |SELECT n_planted, n_found, n_candidates,
        |  round(cast(n_found AS double) / cast(n_planted AS double), 6)
        |    AS recall
        |FROM np CROSS JOIN nf CROSS JOIN nc""".stripMargin,
    "window_streak_longest" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |a AS (SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS anchor
        |  FROM days),
        |st AS (SELECT user_id, anchor, cast(count(*) AS bigint) AS len
        |  FROM a GROUP BY user_id, anchor)
        |SELECT user_id, cast(sum(len) AS bigint) AS n_active_days,
        |  cast(count(*) AS bigint) AS n_streaks,
        |  max(len) AS longest_streak
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,
    "analytics_abc_classification" ->
      """WITH rev AS (SELECT l_partkey,
        |    cast(sum(cast(l_extendedprice AS decimal(18,4))) * 100 AS bigint)
        |      AS revc
        |  FROM lineitem GROUP BY l_partkey),
        |c AS (SELECT revc,
        |    cast(sum(revc) OVER (ORDER BY -revc, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS bigint) AS cum
        |  FROM rev),
        |t AS (SELECT cast(sum(revc) AS bigint) AS total FROM rev),
        |k AS (SELECT revc, total,
        |    CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |         WHEN cum * 100 <= total * 95 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM c CROSS JOIN t)
        |SELECT abc_class, cast(count(*) AS bigint) AS n_parts,
        |  round(cast(sum(revc) AS double) / cast(max(total) AS double), 6)
        |    AS rev_share
        |FROM k GROUP BY abc_class ORDER BY abc_class""".stripMargin
  )
}
