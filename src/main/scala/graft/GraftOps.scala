package graft

import org.apache.spark.sql.{Column, DataFrame}

/** The library façade — the operator surface a user programs against
  * (everything `SparkEntry.queries` demonstrates, parameterized over the
  * caller's own DataFrames/columns).
  *
  * Cleaning (reference parity): build a [[graft.clean.Recipe]] of
  * [[graft.clean.CleanOp]]s — fill (constant/mean/median/mode), forward-fill,
  * interpolate, drop-nulls, dedup-by-key, quantile clipping, safe casts,
  * whitespace normalization, fingerprint canonicalization — and apply it as
  * ONE Catalyst plan; `Recipe.exportCode` / `Recipe.undo` mirror the
  * reference's history feature.
  *
  * LLM-pipeline operators are delegated below, as are clustering/CDC
  * (connected components, latest-wins upsert), the one as-of join
  * (point-in-time lookups included), declarative [[graft.clean.Rule]]
  * validation, and batch sessionization.
  * Streaming transforms live in [[graft.streaming.StreamOps]] (same code
  * paths serve batch and readStream DataFrames). Multimodal binary
  * plumbing in [[graft.llm.Multimodal]].
  */
object GraftOps {

  // ---- near-duplicate detection -------------------------------------------

  /** distinct word-n-gram shingles (id, bg) of any text column. */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    llm.Dedup.shingleSet(df, idCol, textCol, n)

  /** one-call near-dup candidates for a (id, text) corpus: MinHash-LSH
    * pairs (doc_a, doc_b, n_bands). */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    llm.Dedup.candidatesFromArrays(llm.Dedup.shingleArrays(df, idCol, textCol, n))

  /** one-call VERIFIED near-dups: LSH candidates + exact n-gram Jaccard
    * ≥ threshold → (doc_a, doc_b, jaccard). Join strategy is unhinted —
    * AQE broadcasts the candidate side while it is small and degrades to
    * shuffle joins when it is not. */
  def jaccardDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val da = llm.Dedup.shingleArrays(df, idCol, textCol, n, dedup = true)
    llm.Dedup.verifyCandidates(da, da, llm.Dedup.candidatesFromArrays(da),
      "jaccard", threshold, llm.Dedup.jaccardScore)
  }

  /** THE one-call corpus dedup: LSH candidates → exact Jaccard verify
    * ≥ threshold → connected components → keep the min-id doc per cluster,
    * anti-join the rest out. Returns the surviving rows of `df` unchanged.
    * Compose the pieces (nearDuplicates / jaccardDuplicates /
    * connectedComponents) instead when the intermediate pairs or clusters
    * need inspection. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame =
    llm.Dedup.dedupCorpus(df, idCol, textCol, threshold, n)

  /** C4-style line-level exact dedup: split (doc_id, text) documents into
    * fixed `blockWords`-word blocks, keep only each block's corpus-wide
    * first occurrence (min (doc_id, block index)), reassemble survivors in
    * original order → (doc_id, clean_text, n_blocks, n_kept). Removes
    * repeated boilerplate FROM WITHIN otherwise-unique documents — the
    * complement of document-level dedup. See [[llm.LineDedup.lineDedup]]. */
  def lineDedup(docs: DataFrame, blockWords: Int): DataFrame =
    llm.LineDedup.lineDedup(docs, blockWords)

  /** reclaim every relation the dedup stack persisted for `session` (the
    * memoized and dedupCorpus shingle arrays) — call between
    * corpora in a long-lived session; returns how many were unpersisted. */
  def clearDedupCaches(session: org.apache.spark.sql.SparkSession): Int =
    llm.Dedup.clearCaches(session)

  /** reclaim the graph family's memoized persists (basket grain + strong
    * co-purchase edges) for `session`; returns how many were unpersisted. */
  def clearGraphCaches(session: org.apache.spark.sql.SparkSession): Int =
    ops.Graph.clearCaches(session)

  /** native codegen Jaro-Winkler similarity (DuckDB-parity variant: empty
    * side → 0.0, prefix bonus only above the 0.7 boost threshold) — the
    * short-string fuzzy-key matcher Spark lacks; pair with a blocking key
    * to bound the candidate pair count at scale. */
  def jaroWinkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** native codegen full Damerau-Levenshtein distance (Lowrance-Wagner,
    * DuckDB-parity) — edit distance that charges adjacent transpositions
    * ("teh"→"the") 1 instead of levenshtein's 2. Integral output; pair
    * with a blocking key to bound the candidate pair count at scale. */
  def damerauLevenshtein(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.DamerauLevenshtein(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** install the [[plans.JaroWinklerPrefilter]] optimizer rule on the
    * session: `jaroWinkler(a,b) >= θ` (θ > 0.8) predicates gain a sound
    * O(1) length prefilter ahead of the O(len²) kernel. Idempotent. */
  def installJaroWinklerPrefilter(spark: org.apache.spark.sql.SparkSession): Unit =
    plans.JaroWinklerPrefilter.install(spark)

  // ---- corpus maintenance --------------------------------------------------

  /** dedup a NEW batch against an EXISTING corpus: per-increment cost ∝
    * |batch| — the corpus contributes only its LSH band signatures (4 tiny
    * rows/doc; precompute and store them for repeated increments). Returns
    * the batch rows that do not near-duplicate (Jaccard ≥ threshold) any
    * corpus doc. Batch-internal dups are out of scope — run [[dedupCorpus]]
    * over the batch first if arrivals can self-duplicate. */
  def dedupIncremental(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int = 3): DataFrame =
    llm.Curation.dedupIncremental(corpus, batch, idCol, textCol, threshold, n)

  /** benchmark decontamination: (id, n_shared) for corpus docs sharing ≥1
    * word-n-gram with the (benchmark-sized, broadcast) eval set. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame =
    llm.Curation.decontaminate(corpus, evalSet, idCol, textCol, n)

  /** sliding-window chunking: one row per (doc, chunk) token window of
    * `chunkTokens` every `stride` tokens — map-side, no shuffle. Note on
    * tails when stride < chunkTokens: window starts run every `stride`
    * tokens up to the LAST token, so a doc whose length is not aligned to
    * the stride emits a final short chunk whose tokens are all contained
    * in the previous (overlapping) window — callers that want
    * no-duplicate-tail semantics should drop trailing chunks with
    * `chunk_idx > 0 && n_tokens <= chunkTokens - stride`. */
  def chunkSplit(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame =
    llm.Chunking.chunkSplit(df, idCol, textCol, chunkTokens, stride)

  /** concat-and-cut sequence packing: pack_id = floor(tokens-before-doc /
    * budget) per `streamCol` stream in `idCol` order — deterministic under
    * re-partitioning. Computed as a two-level distributed prefix sum over
    * `shards` range-shards (default spark.sql.shuffle.partitions), so
    * parallelism never collapses to one task per stream. */
  def packSequences(df: DataFrame, streamCol: String, idCol: String,
      textCol: String, budget: Int, shards: Int = 0): DataFrame =
    llm.Chunking.packSequences(df, streamCol, idCol, textCol, budget, shards)

  /** distributed running sum — `sum(value).over(partitionBy(part)
    * .orderBy(order))` for groups too big for one task (Spark window
    * partitions are single-task): two-level prefix sum over range
    * shards, result provably shard-count-invariant. The kernel under
    * [[packSequences]]. */
  def distributedRunningSum(df: DataFrame, partCol: String, orderCol: String,
      valueCol: String, outCol: String, exclusive: Boolean = false,
      shards: Int = 0): DataFrame =
    llm.Chunking.distributedRunningSum(df, partCol, orderCol, valueCol, outCol,
      exclusive, shards)

  /** distributed global/grouped running MAX — the max-monoid twin of
    * [[distributedRunningSum]]; NULL identity (exclusive first row gets
    * NULL, like the window form). The kernel under the Pareto-frontier
    * skyline ([[llm.Chunking.distributedRunningMax]]). */
  def distributedRunningMax(df: DataFrame, partCol: String, orderCol: String,
      valueCol: String, outCol: String, exclusive: Boolean = false,
      shards: Int = 0): DataFrame =
    llm.Chunking.distributedRunningMax(df, partCol, orderCol, valueCol, outCol,
      exclusive, shards)

  /** multi-value [[distributedRunningSum]]: every (valueCol, outCol)
    * pair cumulates over the SAME (part, order) spine through ONE range
    * exchange, offsets aggregate, and window pass (the window adds its
    * own hashpartitioning(part, __shard) exchange) — N separate calls
    * pay N of each (an ECDF pair is exactly this shape). */
  def distributedRunningSums(df: DataFrame, partCol: String, orderCol: String,
      valueOuts: Seq[(String, String)], exclusive: Boolean = false,
      shards: Int = 0): DataFrame =
    llm.Chunking.distributedRunningSums(df, partCol, orderCol, valueOuts,
      exclusive, shards)

  /** distributed `lag(value, 1)` over (part, order...) — the two-level
    * range-shard form of a per-key lag window, for keys too big or too
    * hot for one task. The boundary correction travels as a ≤ (shards−1)
    * row broadcast regardless of key cardinality. `orderCols` must be
    * unique per key. */
  def distributedLag(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, outCol: String, shards: Int = 0): DataFrame =
    llm.Chunking.distributedLag(df, partCol, orderCols, valueCol, outCol, shards)

  /** budget-capped corpus selection: keep each `streamCol` stream's rows
    * in ascending `priorityCol` order until the running `tokenCol` total
    * reaches `budget` (the last kept row may straddle it) — the data-
    * selection step between quality scoring and training. Distributed
    * via [[distributedRunningSum]]; `priorityCol` must be unique per
    * stream (use a (score, id) composite) for determinism. */
  def selectByBudget(df: DataFrame, streamCol: String, priorityCol: String,
      tokenCol: String, budget: Long, shards: Int = 0): DataFrame =
    llm.Chunking.selectByBudget(df, streamCol, priorityCol, tokenCol, budget, shards)

  /** per-group quota cap: keep ≤ quota(group) rows per group in ascending
    * `orderCol` order; `quotas` = small (groupCol, quota) relation,
    * broadcast — absent/null quota = uncapped, quota ≤ 0 drops the group. */
  def quotaPerGroup(df: DataFrame, groupCol: String, orderCol: String,
      quotas: DataFrame, shards: Int = 0): DataFrame =
    llm.Chunking.quotaPerGroup(df, groupCol, orderCol, quotas, shards)

  /** per-doc n-gram repetition quality signal (Gopher/C4-style):
    * rep_ratio_e6 = (1 − distinct/total n-grams)·10⁶ — map-side. */
  def repetitionScored(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    llm.Text.repetitionScored(df, idCol, textCol, n)

  /** α-temperature corpus mixing (multilingual-sampling recipe):
    * deterministically downsample so group sizes flatten toward n^α —
    * keep-rate (n_min/n)^(1−α) per group, LCG-bucket assignment on
    * `keyCol`, rate table broadcast (the corpus never shuffles). */
  def mixTemperature(df: DataFrame, groupCol: String, keyCol: String,
      alpha: Double = 0.5): DataFrame =
    llm.Mix.mixTemperature(df, groupCol, keyCol, alpha)

  /** per-document average unigram surprisal against a corpus-trained
    * unigram LM (CCNet-style quality signal): (idCol, n_tok, avg_nll). */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame =
    llm.Mix.unigramSurprisal(df, idCol, textCol)

  // ---- embedding similarity ----------------------------------------------

  /** attach a unit-normalized double vector column `v`. */
  def withUnitVector(df: DataFrame, raw: Column): DataFrame =
    llm.Similarity.withUnit(df, raw)

  /** exact top-k neighbours; inputs carry (qid, qv) / (vec_id, v).
    * Brute-force kernel (|queries|×|candidates| dot products) — bound the
    * query batch, or use [[knnBlocked]] / [[annIvf]] for open query sets. */
  def knn(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    llm.Similarity.topKNeighbors(queries, candidates, k)

  /** exact top-k neighbours within a blocking column — pair fan-out
    * bounded by the block, shuffles on the block key. */
  def knnBlocked(queries: DataFrame, candidates: DataFrame,
      blockCol: String, k: Int): DataFrame =
    llm.Similarity.topKNeighborsBlocked(queries, candidates, blockCol, k)

  /** IVF-style ANN: assign vectors to their nearest centroid, probe the
    * nProbe best clusters per query; centroid-set size is the scale knob
    * (≈√N), decoupled from the table via [[ivfCentroids]]. */
  def annIvf(vectors: DataFrame, queries: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame =
    llm.Similarity.annIvf(vectors, queries, centroids, nProbe, k)

  /** deterministic fixed-size centroid sample for [[annIvf]]. */
  def ivfCentroids(vectors: DataFrame, num: Int): DataFrame =
    llm.Similarity.ivfCentroids(vectors, num)

  /** per-cluster occupancy + cohesion stats for an IVF index (empty
    * clusters kept as zero rows) — the corpus-diversity dashboard. */
  def ivfClusterStats(vectors: DataFrame, centroids: DataFrame): DataFrame =
    llm.Similarity.ivfClusterStats(vectors, centroids)

  /** pairs within a blocking column whose cosine ≥ threshold. */
  def cosineThresholdPairs(df: DataFrame, blockCol: String, threshold: Double): DataFrame =
    llm.Similarity.thresholdPairs(df, blockCol, threshold)

  /** SemDeDup-style semantic dedup: cluster (vec_id, v) vectors to their
    * nearest centroid, cosine-threshold pairs WITHIN clusters, drop every
    * non-min-id member of each transitive duplicate group; returns the
    * surviving vec_ids. |centroids| trades pair cost vs boundary-split
    * recall (√N classic). */
  def semanticDedup(vectors: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame =
    llm.Similarity.semanticDedup(vectors, centroids, threshold)

  /** attach int8 scalar-quantization columns (s, q) to unit vectors. */
  def withInt8Quantization(df: DataFrame): DataFrame = llm.Curation.withInt8(df)

  /** [[withInt8Quantization]] + `q8`, the quantized vector as a TRUE int8
    * binary payload (8× smaller than the double `q` — the 100 TB ranking
    * footprint lever); rank with `Int8Dot(q8a, q8b)`, bit-equal to the
    * double dot over `q`. */
  def withInt8PackedQuantization(df: DataFrame): DataFrame =
    llm.Curation.withInt8Packed(df)

  /** full IVF-PQ ANN: IVF probing bounds which vectors a query sees,
    * int8 quantization bounds ranking cost, exact rescore of the approx
    * top-kApprox restores precision (top-k out). */
  def annIvfPq(vectors: DataFrame, queries: DataFrame, centroids: DataFrame,
      nProbe: Int, kApprox: Int, k: Int): DataFrame =
    llm.Curation.annIvfPq(vectors, queries, centroids, nProbe, kApprox, k)

  /** approximate heavy hitters per group (native Misra–Gries aggregate):
    * one `topk` array<struct<item, est>> per group holding at most
    * `capacity` counters, shuffled as a bounded partial aggregate no
    * matter the value cardinality — the 100 TB shape for "top values per
    * group" profiling over skewed categoricals. Guarantees: every value
    * with count > n/(capacity+1) is present; est ∈ [count − n/(capacity+1),
    * count]. Which LOW-frequency values also appear depends on encounter
    * order — threshold against the guarantee, don't diff raw sketches. */
  def approxTopValues(df: DataFrame, groupCols: Seq[String], valueCol: String,
      capacity: Int): DataFrame =
    df.groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*)
      .agg(functions.SketchFunctions.misraGries(
        org.apache.spark.sql.functions.col(valueCol), capacity).as("topk"))

  /** EXACT heavy hitters per group via the standard two-pass pattern:
    * pass 1 sketches each group with Misra–Gries (bounded state, map-side
    * partials) to get ≤ `capacity` candidate values per group; pass 2
    * exact-counts ONLY candidate-matching rows (a join against the tiny
    * broadcastable candidate relation). The MG
    * guarantee — every value with count > n/(capacity+1) is in the
    * sketch — makes the prune lossless for heavy values, so the returned
    * (groupCols…, valueCol, cnt) rows ARE the exact deterministic
    * heavy-hitter set (count·(capacity+1) > group size), with exact
    * counts — unlike the raw sketch, whose low-frequency tail and
    * estimates are encounter-order-dependent. At 100 TB: pass 1 shuffles
    * one bounded sketch per (partition, group); pass 2 shuffles only rows
    * whose value is a candidate. Values compare by their string form.
    * The candidate relation is groups×capacity rows and is always
    * broadcast (the prune must never degrade to a second full shuffle);
    * at extreme GROUP cardinality — where groups×capacity itself exceeds
    * broadcast limits — use [[approxTopValues]]. */
  def topValuesExact(df: DataFrame, groupCols: Seq[String], valueCol: String,
      capacity: Int): DataFrame =
    clean.ProfileQueries.topValuesExact(df, groupCols, valueCol, capacity)

  /** distribution drift between two slices of one relation (reference vs
    * current corpus) — ONE row: slice sizes, PSI over smoothed bin shares
    * with the `psi > 0.2` drift verdict, and the binned KS statistic
    * max |F_ref − F_cur|. `isRefCol` is the boolean slice flag,
    * `bucketCol` an integral bin id from any deterministic binning,
    * `nBins` the nominal bin count (smoothing denominator). One
    * groupBy(bucket) pass; the ≤ nBins-row histogram is then finished in
    * one row by the same metric code the streaming drift monitor uses —
    * the pre-refresh data-quality gate of a training pipeline, at any
    * scale. */
  def driftPsiKs(df: DataFrame, isRefCol: String, bucketCol: String,
      nBins: Int): DataFrame =
    clean.ProfileQueries.driftPsiKs(df, isRefCol, bucketCol, nBins)

  // ---- clustering / CDC ----------------------------------------------------

  /** connected components of an undirected pair list → (node, component);
    * turns near-dup candidate PAIRS into the transitive dedup CLUSTERS a
    * keep-one-per-group policy needs. Min-label propagation with path
    * compression: dedup near-cliques converge in 2 rounds and a path whose
    * ids increase along it in ~log₂(hops), but a path with scrambled ids
    * takes ~hops/3 rounds; past the fixed 30-round budget the call throws
    * `IllegalStateException` instead of returning split components.
    * Per-round checkpointing is LOCAL by default (fast, not
    * executor-loss-safe); pass `checkpointDir` (HDFS/object-store path)
    * for reliable checkpoints on a real cluster. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      checkpointDir: Option[String] = None): DataFrame =
    llm.Dedup.connectedComponents(pairs, aCol, bCol, checkpointDir)

  /** distributed global row_number over a UNIQUE orderCols composite —
    * the two-level prefix sum, never a single-partition window; the whole
    * row rides inside the rank struct, so nothing joins back
    * ([[llm.Chunking.distributedRank]]). */
  def distributedRank(df: DataFrame, orderCols: Seq[String],
      outCol: String): DataFrame =
    llm.Chunking.distributedRank(df, orderCols, outCol)

  /** distributed ntile(k) over a UNIQUE orderCols composite — SQL-ntile
    * positional semantics via the two-level prefix sum, never a
    * single-partition window (see [[llm.Chunking.distributedNtile]]). */
  def distributedNtile(df: DataFrame, orderCols: Seq[String], k: Int,
      outCol: String): DataFrame =
    llm.Chunking.distributedNtile(df, orderCols, k, outCol)

  /** per-group distributed ntile(k) — ONE kernel pass ranks every group
    * over the shared (byCol, orderCols) spine; tag-and-union N metrics to
    * get N ntiles for one range exchange and one window pass
    * ([[llm.Chunking.distributedNtileBy]]). */
  def distributedNtileBy(df: DataFrame, byCol: String, orderCols: Seq[String],
      k: Int, outCol: String): DataFrame =
    llm.Chunking.distributedNtileBy(df, byCol, orderCols, k, outCol)

  /** sorted-neighborhood record-linkage candidates: pairs within
    * `window` global sort positions, ranked via the distributed prefix
    * sum and joined by band — never a single-partition sort
    * ([[clean.StringClean.sortedNeighborhoodPairs]]). */
  def sortedNeighborhoodPairs(names: DataFrame, valCol: String,
      window: Int): DataFrame =
    clean.StringClean.sortedNeighborhoodPairs(names, valCol, window)

  /** exact interval-overlap self-join via time-cell bucketing +
    * first-shared-cell pair ownership — never a theta-join nested loop
    * ([[ops.IntervalJoin.overlapSelfJoin]]). Intervals in epoch seconds. */
  def intervalOverlapSelfJoin(df: DataFrame, idCol: String,
      partCols: Seq[String], startCol: String, endCol: String,
      cellSeconds: Long = 3600L): DataFrame =
    ops.IntervalJoin.overlapSelfJoin(df, idCol, partCols, startCol, endCol,
      cellSeconds)

  /** lower weighted median per group over the distinct-value distributed
    * prefix sum — never a row-sized sort
    * ([[graft.ops.Extras10.weightedMedianByGroup]]). */
  def weightedMedianByGroup(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String): DataFrame =
    ops.Extras10.weightedMedianByGroup(df, groupCol, valueCol, weightCol)

  /** weighted item-item co-occurrence edges from (group, item) facts —
    * pair expansion bounded by group size, `minWeight` prunes one-off
    * noise (see [[ops.Graph.coOccurrenceEdges]]). */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      minWeight: Long): DataFrame =
    ops.Graph.coOccurrenceEdges(df, groupCol, itemCol, minWeight)

  /** one-row nodes/edges/wedges/triangles/clustering statistics of an
    * undirected (pa < pb) edge table ([[ops.Graph.triangleStats]]). */
  def triangleStats(edges: DataFrame): DataFrame =
    ops.Graph.triangleStats(edges)

  /** SCD Type-2 history: version a change stream into validity intervals
    * (valid_from/valid_to/is_current per key, next-change-closes-interval)
    * — the keep-history complement of [[upsertLatestWins]]. */
  def scd2History(changes: DataFrame, keyCol: String, tsCol: String,
      tieCols: Seq[String] = Nil): DataFrame =
    ops.Extras6.scd2History(changes, keyCol, tsCol, tieCols)

  /** apply a change feed over a base table, highest version wins per key —
    * one aggregate, no window; a (key, version) tie keeps the row with
    * the largest orderable payload, in column order. */
  def upsertLatestWins(base: DataFrame, changes: DataFrame,
      keyCol: String, versionCol: String): DataFrame =
    ops.Extras4.upsertLatestWins(base, changes, keyCol, versionCol)

  /** THE as-of join: latest right payload at-or-before each left row's
    * time, per key — one union + window pass, no range join. Right rows
    * sharing a (key, time) tie-break to the largest orderable payload in
    * `payloadCols` order, so a point-in-time lookup lists its ingestion
    * id first. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTime: String, rightTime: String, payloadCols: Seq[String]): DataFrame =
    ops.Joins.asofJoin(left, right, keyCol, leftTime, rightTime, payloadCols)

  // ---- data quality / sessionization --------------------------------------

  /** evaluate declarative data-quality [[graft.clean.Rule]]s →
    * (rule, n_violations); row-predicate rules share one aggregate pass. */
  def validate(df: DataFrame, rules: Seq[clean.Rule]): DataFrame =
    clean.Validate.validate(df, rules)

  /** batch sessionization: per-key 1-based session ids over a LONG µs
    * timestamp, a new session opening at a key's first row, after a null
    * timestamp, or after a gap > `gapMicros`; `tieCols` must make
    * (ts, ties) unique per key (streaming path = StreamOps.sessions).
    * The range-split kernel: one range exchange, one window pass over
    * (key, shard) — which adds its own full-data hashpartitioning
    * exchange — and a ≤ (shards−1) row boundary-correction broadcast, so
    * a hot key never funnels its whole event run through a single task
    * ([[llm.Chunking.sessionize]]). */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
      tieCols: Seq[String], gapMicros: Long, outCol: String,
      shards: Int = 0): DataFrame =
    llm.Chunking.sessionize(df, keyCol, tsCol, tieCols, gapMicros, outCol, shards)
}
