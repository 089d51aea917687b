package graft.clean

import graft._
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.11 string canonicalization — the reference's marquee fuzzy-cluster
  * feature (OpenRefine-style).
  *
  * Messy variants are derived deterministically from p_name (case flips,
  * padding, token reordering, truncation typos) identically in both engines.
  * Fingerprint clustering is a shuffle-by-key (linear at 100 TB); the
  * edit-distance pass is quadratic only within a first-letter block —
  * at scale the block key is the lever (MinHash-LSH takes over, §2.12).
  */
object StringClean {

  /** part with a deterministically messied name column `val`. */
  private def messyParts(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part").withColumn("val",
      when(col("p_partkey") % 4 === 0, col("p_name"))
        .when(col("p_partkey") % 4 === 1, upper(col("p_name")))
        .when(col("p_partkey") % 4 === 2, concat(lit("  "), col("p_name"), lit("  ")))
        .otherwise(concat_ws(" ", reverse(split(col("p_name"), " ")))))

  private val sqlMessy =
    """SELECT p_partkey,
      |CASE WHEN p_partkey % 4 = 0 THEN p_name
      |     WHEN p_partkey % 4 = 1 THEN upper(p_name)
      |     WHEN p_partkey % 4 = 2 THEN '  ' || p_name || '  '
      |     ELSE array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
      |END AS val FROM part""".stripMargin

  private val sqlFp =
    "array_to_string(list_sort(list_distinct(string_split(lower(trim(regexp_replace(%s, '\\s+', ' ', 'g'))), ' '))), ' ')"

  val queries: Map[String, Q] = Map(
    "str_normalize" -> { (s, dir) =>
      NormalizeWhitespace("val")(messyParts(s, dir))
        .select(col("p_partkey"), col("val").as("norm"))
        .orderBy(col("p_partkey"))
    },

    // fingerprint-key clustering: every messy value → canonical representative
    "fuzzy_cluster_fingerprint" -> { (s, dir) =>
      val df = messyParts(s, dir).withColumn("orig", col("val"))
      FingerprintCanonicalize("val")(df)
        .select(col("orig"), col("val").as("canonical"))
        .distinct()
        .orderBy(col("orig"), col("canonical"))
    },

    // sorted-neighborhood method (the OTHER classic record-linkage
    // candidate generator, complementing first-letter blocking): global
    // sort order via the distributed prefix-sum rank, neighborhood as a
    // band equi-join (see sortedNeighborhoodPairs), Jaro-Winkler verify.
    // Finds near-pairs whose first letters DIFFER (blocking misses them)
    // as long as they sort nearby.
    "dedup_sorted_neighborhood" -> { (s, dir) =>
      graft.plans.JaroWinklerPrefilter.install(s)
      val names = Tables(s, dir, "part")
        .withColumn("val",
          when(col("p_partkey") % 5 === 0,
            col("p_name").substr(lit(1), length(col("p_name")) - 1))
            .otherwise(col("p_name")))
        .select(col("val")).distinct()
      val sim = graft.GraftOps.jaroWinkler(col("val_a"), col("val_b"))
      sortedNeighborhoodPairs(names, "val", 5)
        .where(sim >= 0.9)
        .select(col("val_a"), col("val_b"), col("gap"), sim.as("sim"))
        .orderBy(col("val_a"), col("val_b"))
    },

    // blocked Jaro-Winkler pairs: the transposition-tolerant fuzzy-key
    // matcher (native codegen JaroWinkler expression — Spark has no
    // built-in; DuckDB's jaro_winkler_similarity is the oracle, bit-equal
    // by construction of the kernel). Same first-letter blocking as the
    // edit-distance form: the block key bounds the O(block²) pair count,
    // which is the only scale lever that matters here.
    "fuzzy_cluster_jaro_winkler" -> { (s, dir) =>
      // optimizer rule: O(1) length guard short-circuits the O(len²)
      // kernel on pairs the 0.9 threshold could never accept
      graft.plans.JaroWinklerPrefilter.install(s)
      val names = Tables(s, dir, "part")
        .withColumn("val",
          when(col("p_partkey") % 5 === 0,
            col("p_name").substr(lit(1), length(col("p_name")) - 1))
            .otherwise(col("p_name")))
        .select(col("val")).distinct()
      val a = names.select(col("val").as("val_a"))
        .withColumn("blk", substring(col("val_a"), 1, 1))
      val b = names.select(col("val").as("val_b"))
        .withColumn("blk", substring(col("val_b"), 1, 1))
      val sim = graft.GraftOps.jaroWinkler(col("val_a"), col("val_b"))
      a.join(b, Seq("blk"))
        .where(col("val_a") < col("val_b") && sim >= 0.9)
        .select(col("val_a"), col("val_b"), sim.as("sim"))
        .orderBy(col("val_a"), col("val_b"))
    },

    // blocked Damerau-Levenshtein pairs: the typo-realistic edit distance.
    // Perturbation SWAPS adjacent chars 3/4 (the classic fat-finger typo),
    // which levenshtein double-charges (dist 2) but full Damerau-Levenshtein
    // (native codegen DamerauLevenshtein expression; DuckDB's
    // damerau_levenshtein is the oracle — both are the unrestricted
    // Lowrance-Wagner form) scores 1; emitting BOTH distances pins the
    // variant difference cross-engine. First-letter blocking is unchanged
    // by the in-word swap, so the block key still bounds the O(block²)
    // pair count — the only scale lever here.
    "fuzzy_cluster_damerau" -> { (s, dir) =>
      val names = Tables(s, dir, "part")
        .withColumn("val",
          when(col("p_partkey") % 5 === 0,
            concat(substring(col("p_name"), 1, 2),
              substring(col("p_name"), 4, 1),
              substring(col("p_name"), 3, 1),
              expr("substring(p_name, 5)")))
            .otherwise(col("p_name")))
        .select(col("val")).distinct()
      val a = names.select(col("val").as("val_a"))
        .withColumn("blk", substring(col("val_a"), 1, 1))
      val b = names.select(col("val").as("val_b"))
        .withColumn("blk", substring(col("val_b"), 1, 1))
      val dl = graft.GraftOps.damerauLevenshtein(col("val_a"), col("val_b"))
      a.join(b, Seq("blk"))
        .where(col("val_a") < col("val_b") && dl <= 2)
        .select(col("val_a"), col("val_b"), dl.as("dist_dl"),
          levenshtein(col("val_a"), col("val_b")).as("dist_lev"))
        .orderBy(col("val_a"), col("val_b"))
    },

    // blocked edit-distance pairs: same first letter, levenshtein ≤ 2
    "fuzzy_cluster_edit_distance" -> { (s, dir) =>
      val names = Tables(s, dir, "part")
        .withColumn("val",
          when(col("p_partkey") % 5 === 0,
            col("p_name").substr(lit(1), length(col("p_name")) - 1))
            .otherwise(col("p_name")))
        .select(col("val")).distinct()
      val a = names.select(col("val").as("val_a"))
        .withColumn("blk", substring(col("val_a"), 1, 1))
      val b = names.select(col("val").as("val_b"))
        .withColumn("blk", substring(col("val_b"), 1, 1))
      a.join(b, Seq("blk"))
        .where(col("val_a") < col("val_b") &&
          levenshtein(col("val_a"), col("val_b")) <= 2)
        .select(col("val_a"), col("val_b"),
          levenshtein(col("val_a"), col("val_b")).as("dist"))
        .orderBy(col("val_a"), col("val_b"))
    }
  )

  /** PUBLIC API: scale-correct sorted-neighborhood record linkage —
    * candidate pairs whose global sort positions differ by ≤ `window`.
    * Classic SNM sorts once and slides a w-row window; the Spark-correct
    * form ranks via the distributed prefix sum (never a single-partition
    * sort) and turns the neighborhood into an equi-join: each row joins
    * its own w-wide rank bucket AND the next (band replication), then
    * the exact 1 ≤ gap ≤ w residual filters — every neighbor pair found
    * exactly once, no quadratic block. */
  def sortedNeighborhoodPairs(names: DataFrame, valCol: String,
      window: Int): DataFrame = {
    require(window >= 1, s"sortedNeighborhoodPairs needs window >= 1, got $window")
    val ranked = graft.GraftOps.distributedRank(names, Seq(valCol), "rn")
    val a = ranked.select(col(valCol).as("val_a"), col("rn").as("rn_a"))
      .withColumn("bkt", explode(array(
        expr(s"(rn_a - 1) DIV $window"), expr(s"(rn_a - 1) DIV $window + 1"))))
    val b = ranked.select(col(valCol).as("val_b"), col("rn").as("rn_b"))
      .withColumn("bkt", expr(s"(rn_b - 1) DIV $window"))
    a.join(b, "bkt")
      .where((col("rn_b") - col("rn_a")).between(1, window))
      .select(col("val_a"), col("val_b"),
        (col("rn_b") - col("rn_a")).as("gap"))
  }

  val oracle: Map[String, String] = Map(
    "str_normalize" ->
      s"""WITH m AS ($sqlMessy)
         |SELECT p_partkey, lower(trim(regexp_replace(val, '\\s+', ' ', 'g'))) AS norm
         |FROM m ORDER BY p_partkey""".stripMargin,
    "fuzzy_cluster_fingerprint" ->
      s"""WITH m AS ($sqlMessy),
         |counts AS (SELECT ${sqlFp.format("val")} AS fp, val, count(*) AS c
         |           FROM m WHERE val IS NOT NULL GROUP BY 1, 2),
         |canon AS (SELECT fp, val AS canonical FROM (
         |  SELECT fp, val, row_number() OVER (PARTITION BY fp ORDER BY c DESC, val) AS rn
         |  FROM counts) WHERE rn = 1)
         |SELECT DISTINCT m.val AS orig, canon.canonical
         |FROM m JOIN canon ON ${sqlFp.format("m.val")} = canon.fp
         |ORDER BY orig, canonical""".stripMargin,
    "dedup_sorted_neighborhood" ->
      """WITH names AS (SELECT DISTINCT
        |  CASE WHEN p_partkey % 5 = 0 THEN substring(p_name, 1, length(p_name) - 1)
        |       ELSE p_name END AS val FROM part),
        |r AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM names)
        |SELECT a.val AS val_a, b.val AS val_b, b.rn - a.rn AS gap,
        |  jaro_winkler_similarity(a.val, b.val) AS sim
        |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 5
        |WHERE jaro_winkler_similarity(a.val, b.val) >= 0.9
        |ORDER BY val_a, val_b""".stripMargin,
    "fuzzy_cluster_jaro_winkler" ->
      """WITH names AS (SELECT DISTINCT
        |  CASE WHEN p_partkey % 5 = 0 THEN substring(p_name, 1, length(p_name) - 1)
        |       ELSE p_name END AS val FROM part)
        |SELECT a.val AS val_a, b.val AS val_b,
        |  jaro_winkler_similarity(a.val, b.val) AS sim
        |FROM names a JOIN names b
        |  ON substring(a.val, 1, 1) = substring(b.val, 1, 1)
        | AND a.val < b.val AND jaro_winkler_similarity(a.val, b.val) >= 0.9
        |ORDER BY val_a, val_b""".stripMargin,
    "fuzzy_cluster_damerau" ->
      """WITH names AS (SELECT DISTINCT
        |  CASE WHEN p_partkey % 5 = 0 THEN
        |    substring(p_name, 1, 2) || substring(p_name, 4, 1) ||
        |    substring(p_name, 3, 1) || substring(p_name, 5)
        |  ELSE p_name END AS val FROM part)
        |SELECT a.val AS val_a, b.val AS val_b,
        |  damerau_levenshtein(a.val, b.val) AS dist_dl,
        |  levenshtein(a.val, b.val) AS dist_lev
        |FROM names a JOIN names b
        |  ON substring(a.val, 1, 1) = substring(b.val, 1, 1)
        | AND a.val < b.val AND damerau_levenshtein(a.val, b.val) <= 2
        |ORDER BY val_a, val_b""".stripMargin,
    "fuzzy_cluster_edit_distance" ->
      """WITH names AS (SELECT DISTINCT
        |  CASE WHEN p_partkey % 5 = 0 THEN substring(p_name, 1, length(p_name) - 1)
        |       ELSE p_name END AS val FROM part)
        |SELECT a.val AS val_a, b.val AS val_b, levenshtein(a.val, b.val) AS dist
        |FROM names a JOIN names b
        |  ON substring(a.val, 1, 1) = substring(b.val, 1, 1)
        | AND a.val < b.val AND levenshtein(a.val, b.val) <= 2
        |ORDER BY val_a, val_b""".stripMargin
  )
}
