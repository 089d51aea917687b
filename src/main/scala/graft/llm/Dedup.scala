package graft.llm

import graft._
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.12 near-duplicate detection: MinHash-LSH, SimHash, and n-gram-Jaccard
  * verification — the training-data dedup stack.
  *
  * Shingling: word TRIGRAMS. The synthetic corpus draws ~125–450 tokens
  * from a 31-word vocabulary, so unigram sets are identical across docs and
  * even bigram sets saturate at sf0.1 (random-pair Jaccard ≈ 0.25 floods
  * LSH with false candidates). Trigrams (31³ ≈ 30k space) put random pairs
  * at Jaccard ≈ 0.01 while the planted near-dup clusters stay ≈ 0.97 —
  * exactly why real LLM dedup shingles at n≥3.
  *
  * Portability (SURVEY.md §2.12): shingle-ids are an open-vocabulary
  * polynomial string hash ([[graft.functions.StringPolyHash]], mirrored in
  * DuckDB by list_reduce over ord()) — pure map-side, no dictionary state,
  * no global-ORDER window; all downstream hashes are arithmetic
  * (aᵢ·x + bᵢ mod p, p = 2³¹−1) — bit-identical in DuckDB, unlike xxhash64.
  * A same-id shingle collision (~0.2 expected at a 30k vocab, P = 2³¹−1)
  * is reproduced identically by both engines, so the differential gate
  * still holds exactly.
  *
  * Scale & shape: shingles are built array-natively (no window), and the
  * 16 minhashes / 32 simhash component sums are computed in ONE native
  * pass per document over the shingle array (MinHashSig / SimHashVec) —
  * fully map-side, no explode and no per-doc shuffle. Candidate
  * generation is an equi-join on (band|chunk, signature) — quadratic work
  * only inside an LSH bucket. Exact Jaccard is verified ONLY over LSH
  * candidates, via one array_intersect per candidate pair.
  */
object Dedup {

  private val P = 2147483647L // 2^31 - 1, prime

  /** Word-n-gram shingle ARRAY, map-side (no window), via the native
    * WordNgrams expression — one flat loop instead of an interpreted
    * HOF lambda per shingle. */
  def ngramArray(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.WordNgrams(ColumnBridge.expression(toks), n))
  }

  /** PUBLIC API: distinct (id, bg) word-n-gram shingles of any text column.
    * Per-doc distinct happens array-natively (array_distinct) BEFORE the
    * explode — no global distinct shuffle, (id, bg) unique by construction. */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.withColumn("__toks", split(lower(col(textCol)), " "))
      .withColumn("__sh", array_distinct(ngramArray(col("__toks"), n)))
      .select(col(idCol).as("doc_id"), explode(col("__sh")).as("bg"))

  /** PUBLIC API: (doc_id, sh) with the n-gram shingle ARRAY kept whole —
    * the preferred input shape for signatures: minhash/simhash read the
    * array in one native pass per document, so nothing is exploded and
    * nothing shuffles until the (band, sig) candidate join.
    * `dedup=true` applies per-doc array_distinct (needed for exact
    * Jaccard sizes/intersections; minhash is duplicate-idempotent). */
  def shingleArrays(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, dedup: Boolean = false): DataFrame = {
    val raw = ngramArray(split(lower(col(textCol)), " "), n)
    df.select(col(idCol).as("doc_id"),
      (if (dedup) array_distinct(raw) else raw).as("sh"))
  }

  private def docArrays(s: SparkSession, dir: String, dedup: Boolean = false): DataFrame =
    shingleArrays(Tables(s, dir, "documents"), "doc_id", "text", 3, dedup)

  /** Every relation Dedup persists, per session (see [[clearCaches]]). */
  private val registry = new graft.PersistRegistry[String]

  /** PUBLIC API: unpersist every relation the dedup stack cached for
    * `session` — the memoized shingle arrays of the declared queries and
    * the arrays [[dedupCorpus]] persists — and drop the memo entries so
    * the next call rebuilds cleanly. Returns the number of relations
    * unpersisted. Long-lived services (a dedup endpoint, a notebook
    * session) call this between corpora; one-shot jobs can let the
    * session teardown reclaim the blocks instead. */
  def clearCaches(session: SparkSession): Int = registry.clear(session)

  /** Memoized PERSISTED distinct-shingle arrays per (session, dir): the
    * verify path is reached by two declared queries (jaccard, containment)
    * plus every-query sweeps (PlanSpec, Verify) — per-call persist()
    * registered a fresh cache entry each time that only LRU eviction
    * reclaimed. One persisted copy per (session, dir) instead; reclaim via
    * [[clearCaches]]. */
  private[llm] def docArraysCached(s: SparkSession, dir: String): DataFrame =
    registry.memo(s, dir)(docArrays(s, dir, dedup = true))

  /** shingle string → deterministic id: open-vocab polynomial hash.
    * (The declared queries now hash inside MinHashSig/SimHashVec; this
    * Column form is the composable building block for custom pipelines.) */
  def shingleId(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.StringPolyHash(ColumnBridge.expression(c)))
  }

  /** DuckDB mirror of [[shingleId]] on column `c`. */
  private[llm] def sqlShingleId(c: String): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |  list_transform(generate_series(1, length($c)), i -> ord(substring($c, i, 1))::BIGINT)),
       |  (a,b) -> (a*31+b) % 2147483647)""".stripMargin

  /** (doc_id, band, sig): the 16 minhashes come from ONE native
    * [[graft.functions.MinHashSig]] pass over the per-doc shingle array —
    * fully map-side (no explode, no groupBy(doc) shuffle), banded 4×4.
    * Values are identical to the exploded h_i(polyhash(bg)) formulation
    * the DuckDB oracle runs (min is duplicate-idempotent). */
  private[llm] def bandSigsFromArrays(da: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val mhs = ColumnBridge.column(
      graft.functions.MinHashSig(ColumnBridge.expression(col("sh"))))
    da.select(col("doc_id"), mhs.as("mhs"))
      .where(col("mhs").isNotNull)
      .select(col("doc_id"), explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",",
            element_at(col("mhs"), b * 4 + 1), element_at(col("mhs"), b * 4 + 2),
            element_at(col("mhs"), b * 4 + 3), element_at(col("mhs"), b * 4 + 4))
            .as("sig"))
      }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** The one (band, sig) equi-join of the MinHash-LSH stack: (doc_a,
    * doc_b, band) for every band on which a doc of `a` and a doc of `b`
    * ([[shingleArrays]] shape) share a signature. Self pairs
    * ([[candidatesFromArrays]]) and batch × corpus pairs
    * ([[Curation.incrementalRejects]]) both enter here. Nothing is
    * persisted: when the join shuffles, both sides of a self-join share
    * one (band, sig) exchange through exchange reuse, so the map-side
    * signature pass runs once; when AQE broadcasts, it runs twice over a
    * broadcast-sized input. */
  private[llm] def bandJoin(a: DataFrame, b: DataFrame): DataFrame =
    bandSigsFromArrays(a).select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      .join(bandSigsFromArrays(b).select(col("doc_id").as("doc_b"), col("band"), col("sig")),
        Seq("band", "sig"))

  /** PUBLIC API: MinHash-LSH candidate pairs from [[shingleArrays]] shape
    * (doc_id, sh: array<string>); output (doc_a, doc_b, n_bands) with
    * doc_a < doc_b. Registers nothing with the CacheManager. */
  def candidatesFromArrays(da: DataFrame): DataFrame =
    bandJoin(da, da).where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("band")).as("n_bands"))

  /** candidate pairs: docs sharing ≥1 LSH band, with matching-band count. */
  private[llm] def candidates(s: SparkSession, dir: String): DataFrame =
    candidatesFromArrays(docArrays(s, dir))

  /** SQL mirror of the shingle→minhash→band chain (shared CTE prefix). */
  private[llm] val sqlBands =
    s"""pos AS (SELECT doc_id,
      |  unnest(string_split(lower(text), ' ')) AS word,
      |  generate_subscripts(string_split(lower(text), ' '), 1) AS pos FROM documents),
      |sh AS (SELECT DISTINCT doc_id, bg FROM (
      |  SELECT doc_id, word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS bg
      |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) WHERE bg IS NOT NULL),
      |dict AS (SELECT bg, ${sqlShingleId("bg")} AS tid
      |         FROM (SELECT DISTINCT bg FROM sh)),
      |mh AS (SELECT doc_id, i, min(((2*i+3) * tid + 5*i+7) % 2147483647) AS mh
      |       FROM sh JOIN dict USING (bg) CROSS JOIN range(16) r(i)
      |       GROUP BY doc_id, i),
      |sigs AS (SELECT doc_id, cast(i // 4 as int) AS band,
      |  concat_ws(',',
      |    min(CASE WHEN i % 4 = 0 THEN mh END),
      |    min(CASE WHEN i % 4 = 1 THEN mh END),
      |    min(CASE WHEN i % 4 = 2 THEN mh END),
      |    min(CASE WHEN i % 4 = 3 THEN mh END)) AS sig
      |  FROM mh GROUP BY doc_id, 2),
      |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(DISTINCT a.band) AS n_bands
      |         FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
      |          AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2)""".stripMargin

  /** shared Jaccard score shape: |A∩B| / |A∪B| over (common, |A|, |B|). */
  private[graft] val jaccardScore: (Column, Column, Column) => Column =
    (common, na, nb) => common.cast("double") / (na + nb - common)

  /** PUBLIC API: end-to-end corpus dedup — LSH candidates → exact n-gram
    * Jaccard verify ≥ `threshold` → connected components → keep ONE doc
    * per cluster (the min id: deterministic canonical) and drop the rest.
    * This is the operation a training pipeline actually runs; the pieces
    * (candidates / verify / clusters) stay public for inspection flows.
    * The corpus itself is never shuffled or widened: losers arrive via a
    * left_anti join on the id (AQE broadcasts them while small; at 100 TB
    * the anti-join shuffles on the id — still corpus-linear).
    *
    * The shingle arrays feed both the signature pass and the verify join,
    * so they persist (reclaimed by [[clearCaches]]); per-micro-batch
    * callers that must register nothing with the CacheManager hold their
    * own arrays and enter at [[selfDedupLosers]] instead. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val da = registry.persist(shingleArrays(df, idCol, textCol, n, dedup = true))
    df.join(selfDedupLosers(da, threshold).withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")
  }

  /** PUBLIC API (array-shape kernel of [[dedupCorpus]]): the doc_ids to
    * DROP so one min-id doc survives per near-dup cluster of `da`
    * ([[shingleArrays]] dedup=true shape). The one definition of the
    * candidates → jaccard-verify → components → losers policy — the
    * declared keep-canonical query and the streaming self-dedup both
    * enter here. Persists nothing itself. */
  def selfDedupLosers(da: DataFrame, threshold: Double): DataFrame = {
    val verified = verifyCandidates(da, da, candidatesFromArrays(da),
      "jaccard", threshold, jaccardScore)
    connectedComponents(
        verified.select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
      .where(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "dedup_minhash" -> { (s, dir) =>
      candidates(s, dir).orderBy(col("doc_a"), col("doc_b"))
    },

    // the end-to-end dedup: jaccard-verified pairs → transitive clusters →
    // keep the min-id doc per cluster, anti-join the losers out. Declared
    // over the session-cached shingle arrays (same memoized pass the
    // jaccard/containment queries use).
    "dedup_keep_canonical" -> { (s, dir) =>
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(selfDedupLosers(docArraysCached(s, dir), 0.3),
          Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    },

    // 32-bit SimHash over tf-weighted trigram shingles; candidates share ≥1
    // of 4 8-bit chunks (pigeonhole for hamming ≤ 3), verified with exact
    // bit_count(xor). The 32 component sums come from ONE native SimHashVec
    // pass over the RAW shingle array (iterating duplicates IS the tf
    // weighting) — map-side, no explode, no groupBy(doc,bg) shuffle.
    "dedup_simhash" -> { (s, dir) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val vv = ColumnBridge.column(
        graft.functions.SimHashVec(ColumnBridge.expression(col("sh"))))
      val withVec = docArrays(s, dir)
        .select(col("doc_id"), vv.as("vv"))
        .where(col("vv").isNotNull)
      val sbit = (0 until 32).map(j =>
        when(element_at(col("vv"), j + 1) > 0, 1L).otherwise(0L))
      val simCols: Seq[Column] =
        col("doc_id") +:
          (0 until 32).map(j => shiftleft(sbit(j), j)).reduce(_ + _).as("simhash") +:
          (0 until 4).map { c =>
            (0 until 8).map(k => shiftleft(sbit(c * 8 + k), k)).reduce(_ + _)
              .as(s"cval$c")
          }
      val sims = withVec.select(simCols: _*)
      // both self-join sides read `chunks`; a shuffled join shares one
      // (c, cval) exchange between them (same as the minhash band join)
      val chunks = sims.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("c"), col(s"cval$c").as("cval"))): _*)).as("ch"))
        .select(col("doc_id"), col("simhash"), col("ch.c").as("c"), col("ch.cval").as("cval"))
      val ca = chunks.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
        col("c"), col("cval"))
      val cb = chunks.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
        col("c"), col("cval"))
      ca.join(cb, Seq("c", "cval")).where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          expr("cast(bit_count(sim_a ^ sim_b) as int)").as("hamming"))
        .distinct()
        .where(col("hamming") <= 3)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // exact trigram Jaccard, verified ONLY over MinHash-LSH candidates.
    // The per-doc DISTINCT shingle arrays feed both the signatures and the
    // verification: candidate pairs pull the two arrays back via unhinted
    // joins (AQE broadcasts the LSH-small candidate side at runtime; at
    // 100 TB the same plan degrades to shuffle joins) and the intersection
    // size is one native array_intersect per pair — no exploded shingle
    // join at all. The arrays are persisted ONCE per (session, dir)
    // (docArraysCached); long-lived services should unpersist.
    "dedup_ngram_jaccard" -> { (s, dir) =>
      verifiedPairs(s, dir, "jaccard", 0.3, jaccardScore)
    },

    // top-k similarity SEARCH over the same LSH machinery (the EDBT
    // top-k similarity-search shape, PAPERS.md): instead of a fixed
    // threshold, the 20 most-similar candidate pairs globally —
    // verify-then-TakeOrderedAndProject, ordering on the ROUND-6 score
    // (both engines order the identical rounded doubles; (doc_a, doc_b)
    // breaks ties). Candidates still come from the bucketed LSH join,
    // so the pair population never approaches all-pairs at any scale.
    "sim_topk_pairs" -> { (s, dir) =>
      val da = docArraysCached(s, dir)
      verifyCandidates(da, da, candidatesFromArrays(da), "jaccard", 0.0, jaccardScore)
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // CONTAINMENT dedup: |A∩B| / min(|A|,|B|) — catches a document that is
    // a near-SUBSET of another (boilerplate-wrapped copies, excerpt pages),
    // which Jaccard misses because the size imbalance dilutes the union.
    // Same LSH candidate machinery and per-pair array_intersect as the
    // jaccard verify; only the denominator and threshold change.
    "dedup_containment" -> { (s, dir) =>
      verifiedPairs(s, dir, "containment", 0.5,
        (common, na, nb) => common.cast("double") / least(na, nb))
    },

    // Transitive dedup CLUSTERS over the MinHash-LSH candidate pairs:
    // pairs say "a~b"; dedup keeps one doc per connected component, so the
    // engine needs components, not pairs (see [[connectedComponents]]).
    "dedup_cluster_cc" -> { (s, dir) =>
      val pairs = candidates(s, dir).select(col("doc_a"), col("doc_b"))
      connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy(col("component").as("cluster_rep"))
        .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"),
          sum(col("node")).as("sum_docs"))
        .orderBy(col("cluster_rep"))
    }
  )

  /** PUBLIC API: exact set-overlap verification of candidate pairs against
    * per-doc DISTINCT shingle arrays (`da` holds the doc_a side and `db`
    * the doc_b side, both in [[shingleArrays]] shape with dedup=true — the
    * same relation for self pairs; `cand` as (doc_a, doc_b)): one
    * `array_intersect` per candidate, scored by `score(common, |A|, |B|)`
    * (Jaccard, containment, …), rounded to 6 and thresholded; output
    * (doc_a, doc_b, `scoreName`).
    *
    * Join strategy is deliberately UNHINTED: at bench scale AQE broadcasts
    * the LSH-small candidate side at runtime (PlanSpec asserts the final
    * adaptive plan does), and at an adversarial 100 TB — candidate set too
    * big for any broadcast ceiling — the SAME code degrades to shuffle
    * joins on doc_id with the shingle arrays carried once each, instead of
    * OOMing the driver on a hardcoded broadcast() hint. */
  def verifyCandidates(da: DataFrame, db: DataFrame, cand: DataFrame, scoreName: String,
      threshold: Double, score: (Column, Column, Column) => Column): DataFrame = {
    val withA = da.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val withB = db.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    withB.join(withA.join(cand.select(col("doc_a"), col("doc_b")), "doc_a"), "doc_b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn(scoreName,
        round(score(col("common"), size(col("sha")), size(col("shb"))), 6))
      .where(col(scoreName) >= threshold)
      .select(col("doc_a"), col("doc_b"), col(scoreName))
  }

  /** declared-query wrapper: memoized arrays → LSH candidates → verify. */
  private def verifiedPairs(s: SparkSession, dir: String, scoreName: String,
      threshold: Double, score: (Column, Column, Column) => Column): DataFrame = {
    val da = docArraysCached(s, dir)
    verifyCandidates(da, da, candidatesFromArrays(da), scoreName, threshold, score)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB mirror of [[verifiedPairs]] — shared sizes/common CTEs, the
    * score expression injected over (coalesce(m.common,0), sa.nbg, sb.nbg). */
  private def sqlVerifiedPairs(scoreName: String, scoreExpr: String,
      threshold: String): String =
    s"""WITH $sqlBands,
       |sizes AS (SELECT doc_id, count(*) AS nbg FROM sh GROUP BY doc_id),
       |common AS (SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c JOIN sh ba ON ba.doc_id = c.doc_a
       |  JOIN sh bb ON bb.doc_id = c.doc_b AND ba.bg = bb.bg
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b, round($scoreExpr, 6) AS $scoreName
       |FROM cand c LEFT JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
       |JOIN sizes sa ON sa.doc_id = c.doc_a
       |JOIN sizes sb ON sb.doc_id = c.doc_b
       |WHERE round($scoreExpr, 6) >= $threshold
       |ORDER BY c.doc_a, c.doc_b""".stripMargin

  /** PUBLIC API: connected components of an undirected pair/edge list —
    * output (node, component) where component = min node id reachable.
    * Min-label propagation with per-round PATH COMPRESSION (lab ← lab(lab)).
    * The round count depends on how ids lie along the paths, not only on
    * the diameter: dedup near-cliques converge in 2 rounds, and a path
    * whose ids increase along it in ~log₂(hops) (14 rounds for 10⁴ hops),
    * but a path with scrambled ids needs ~hops/3 (40 rounds for 100 hops
    * over ids (37·i) mod 101). Each round is two equi-joins + a hash agg,
    * all scale-out shuffles on node id; the only driver-side value per
    * round is the "did any label change" count — the standard
    * iterative-algorithm convergence scalar, not a data collect. Throws
    * `IllegalStateException` once [[MaxRounds]] rounds (the fused init
    * included) pass without convergence, rather than returning split
    * components. Checkpointing (required — the compression self-join
    * doubles the logical plan per round): by default LOCAL, which is fast
    * but not recomputable after executor loss; pass `checkpointDir` (an
    * HDFS/object-store path on a cluster) to switch every round to
    * reliable `DataFrame.checkpoint` — the fault-tolerant mode a 100 TB
    * run needs, same call shape, verified by GraftOpsSpec. Per-round
    * label copies are node-sized and reclaimed by the ContextCleaner as
    * each round's reference is dropped; edges are unpersisted here even
    * on failure.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def save(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // r15 (guide §2.4 — same-keyed ops share one exchange): every round
    // joins `edges` on src, and the init aggregate groups by src; persist
    // the edge list ALREADY hash-partitioned and sorted by src, so the
    // per-round SortMergeJoin re-shuffles and re-sorts only the
    // node-sized labels side — the edge-scale exchange+sort is paid once
    // at cache materialization instead of once per round (the cached
    // relation's partitioning/ordering are preserved by persist). Both
    // orientations come out of ONE reference to `pairs` (explode of a
    // 2-slot array): a union of two references would plan the caller's
    // pair pipeline once per branch.
    val (a, b) = (col(aCol), col(bCol))
    val edges = pairs
      .select(explode(array(struct(a.as("src"), b.as("dst")),
        struct(b.as("src"), a.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .persist()
    // fused round 1: lab₀ = min(node, min neighbor) straight off the edge
    // list — one agg instead of join+union+agg, and dedup graphs (cliques)
    // usually converge here, leaving the loop a single confirm round.
    // checkpoint (not persist) each round: the compression SELF-join
    // doubles the logical plan per round, so without lineage truncation the
    // driver-side plan grows 2^rounds — checkpointing keeps it flat
    // (local by default; reliable when checkpointDir is set).
    var labels = save(
      edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("node"), least(col("mn"), col("src")).as("lab")))
    var done = false
    var rounds = 1
    try {
      while (!done && rounds < MaxRounds) {
        // carry each node's PREVIOUS label through the fused agg (labels
        // contributes exactly one row per node, prop rows carry null, so
        // max(__old) is that previous label — no extra join): the
        // convergence signal rides the SAME checkpointed pass, and the
        // per-round "did anything change" check becomes a filter over
        // already-materialized blocks instead of a second node⋈node join
        // job. Local sf0.1 wall-clock is unchanged (noise-dominated; both
        // shapes measure 2.1–2.8 s warm), but per round this drops one
        // node-sized shuffle join — the structural win at cluster scale,
        // where the convergence check was half the per-round shuffles.
        val labT = labels.schema("lab").dataType
        val prop = edges.join(labels, edges("src") === labels("node"))
          .select(col("dst").as("node"), col("lab"),
            lit(null).cast(labT).as("__old"))
        val fused = labels.select(col("node"), col("lab"), col("lab").as("__old"))
          .unionByName(prop)
          .groupBy(col("node"))
          .agg(min(col("lab")).as("lab"), max(col("__old")).as("__old"))
        // compression: every label is itself a node, so lab(lab) exists and
        // lab(lab) ≤ lab — following one extra hop halves chain depth.
        // (r14 note: a second compression hop per round — pointer
        // doubling — was tried and measured SLOWER on the co-purchase
        // giant, 5.86 s vs 3.48 s: convergence is propagation-bound, not
        // chain-depth-bound, so the extra join was pure overhead.)
        val byLab = fused.select(col("node").as("ln"), col("lab").as("lab2"))
        // r15: LAZY local checkpoint + a count aggregate as the
        // materializing action — the convergence scalar rides the SAME
        // action that persists the round's blocks, so each round is one
        // action instead of two (checkpoint + isEmpty scan). Under AQE
        // that action still books 2–4 jobs (one per shuffle stage AQE
        // submits on its own: a warm 500-doc dedup batch's round 1 booked
        // 4 jobs, its confirm round 2). Reliable
        // checkpoints (checkpointDir set) stay EAGER: a lazily-checkpointed
        // reliable RDD is recomputed once more when the checkpoint files
        // are written, which would cost a round, not save one.
        val nextPlan = fused.join(byLab, fused("lab") === byLab("ln"))
          .select(fused("node"), col("lab2").as("lab"),
            (col("lab2") < col("__old")).as("__chg"))
        val next =
          if (checkpointDir.isDefined) nextPlan.checkpoint()
          else nextPlan.localCheckpoint(false)
        done = next.agg(count(when(col("__chg"), lit(1)))).head.getLong(0) == 0L
        labels = next.select(col("node"), col("lab"))
        rounds += 1
      }
    } finally edges.unpersist()
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge in $MaxRounds rounds")
    labels.select(col("node"), col("lab").as("component"))
  }

  /** round budget of [[connectedComponents]], the fused init included;
    * the co-purchase giant (graph_component_sizes) is the deepest graph a
    * declared query builds. */
  private val MaxRounds = 30

  val oracle: Map[String, String] = Map(
    "dedup_minhash" ->
      s"""WITH $sqlBands
         |SELECT doc_a, doc_b, n_bands FROM cand ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_keep_canonical" ->
      s"""WITH RECURSIVE $sqlBands,
         |sizes AS (SELECT doc_id, count(*) AS nbg FROM sh GROUP BY doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, count(*) AS common
         |  FROM cand c JOIN sh ba ON ba.doc_id = c.doc_a
         |  JOIN sh bb ON bb.doc_id = c.doc_b AND ba.bg = bb.bg
         |  GROUP BY 1, 2),
         |vp AS (SELECT c.doc_a, c.doc_b
         |  FROM cand c LEFT JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b
         |  WHERE round(cast(coalesce(m.common, 0) as double)
         |          / (sa.nbg + sb.nbg - coalesce(m.common, 0)), 6) >= 0.3),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |          UNION ALL SELECT doc_b, doc_a FROM vp),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
         |losers AS (SELECT node FROM (SELECT node, min(lab) AS lab FROM reach GROUP BY node)
         |           WHERE lab <> node)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH pos AS (SELECT doc_id,
        |  unnest(string_split(lower(text), ' ')) AS word,
        |  generate_subscripts(string_split(lower(text), ' '), 1) AS pos FROM documents),
        |tf AS (SELECT doc_id, bg, count(*) AS tf FROM (
        |  SELECT doc_id, word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS bg
        |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) WHERE bg IS NOT NULL
        |  GROUP BY 1, 2),
        |dict AS (SELECT bg, ${sqlShingleId("bg")} AS tid
        |         FROM (SELECT DISTINCT bg FROM tf)),
        |bits AS (SELECT doc_id, j,
        |    CASE WHEN sum(tf * (((((tid * 737 + 97) % 2147483647) >> j) & 1) * 2 - 1)) > 0
        |         THEN 1::bigint ELSE 0::bigint END AS sbit
        |  FROM tf JOIN dict USING (bg) CROSS JOIN range(32) r(j)
        |  GROUP BY doc_id, j),
        |sims AS (SELECT doc_id, cast(sum(sbit << j) as bigint) AS simhash FROM bits GROUP BY doc_id),
        |chunks AS (SELECT doc_id, cast(j // 8 as int) AS c, cast(sum(sbit << (j % 8)) as bigint) AS cval
        |           FROM bits GROUP BY doc_id, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM chunks a JOIN chunks b ON a.c = b.c AND a.cval = b.cval
        |          AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, cast(bit_count(xor(sa.simhash, sb.simhash)) as int) AS hamming
        |FROM cand JOIN sims sa ON cand.doc_a = sa.doc_id
        |JOIN sims sb ON cand.doc_b = sb.doc_id
        |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" -> sqlVerifiedPairs("jaccard",
      "cast(coalesce(m.common, 0) as double) / (sa.nbg + sb.nbg - coalesce(m.common, 0))",
      "0.3"),
    "sim_topk_pairs" -> {
      val scoreExpr =
        "cast(coalesce(m.common, 0) as double) / (sa.nbg + sb.nbg - coalesce(m.common, 0))"
      s"""WITH $sqlBands,
         |sizes AS (SELECT doc_id, count(*) AS nbg FROM sh GROUP BY doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, count(*) AS common
         |  FROM cand c JOIN sh ba ON ba.doc_id = c.doc_a
         |  JOIN sh bb ON bb.doc_id = c.doc_b AND ba.bg = bb.bg
         |  GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b, round($scoreExpr, 6) AS jaccard
         |FROM cand c LEFT JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
         |JOIN sizes sa ON sa.doc_id = c.doc_a
         |JOIN sizes sb ON sb.doc_id = c.doc_b
         |ORDER BY jaccard DESC, c.doc_a, c.doc_b LIMIT 20""".stripMargin
    },
    "dedup_containment" -> sqlVerifiedPairs("containment",
      "cast(coalesce(m.common, 0) as double) / least(sa.nbg, sb.nbg)",
      "0.5"),
    "dedup_cluster_cc" ->
      s"""WITH RECURSIVE $sqlBands,
         |pr AS (SELECT doc_a, doc_b FROM cand),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION ALL SELECT doc_b, doc_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
         |labs AS (SELECT node, min(lab) AS lab FROM reach GROUP BY node)
         |SELECT lab AS cluster_rep, count(*) AS n_docs, max(node) AS max_doc,
         |  cast(sum(node) AS bigint) AS sum_docs
         |FROM labs GROUP BY lab ORDER BY cluster_rep""".stripMargin
  )
}
