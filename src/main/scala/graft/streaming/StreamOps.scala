package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §2.13 Structured Streaming forms of the declared stream queries.
  *
  * The same transforms run on a batch DataFrame (for the DuckDB oracle)
  * and on a readStream/MemoryStream DataFrame — Spark's unified API means
  * one definition serves both; watermark semantics (the part the batch
  * oracle can't see) are asserted in StreamingSpec with MemoryStream.
  *
  * Scale: streaming aggregations shuffle on (window, key); watermarks bound
  * state size — without them, 100 TB/day of events would grow state
  * unboundedly. Session windows use Spark's native session_window state
  * merging.
  */
object StreamOps {

  /** 1-hour tumbling counts per event_type; 10-min watermark bounds state. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** 1-hour windows sliding every 15 minutes. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Per-user sessions closed by a 30-minute gap (native session_window). */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("start"), col("w.end").as("end"),
        col("n_events"))

  /** 1-hour tumbling DISTINCT-user estimates per event_type — the
    * streaming face of the distinct-count dashboard family
    * (agg_approx_distinct_by_group / profile_distinct_sketch_mergeable).
    * approx_count_distinct keeps O(sketch) state per (window, type) —
    * exact countDistinct is unsupported in streaming aggregations
    * precisely because its state is unbounded; the sketch is the ONLY
    * scale-safe shape, batch or stream. The same definition runs on a
    * batch frame (StreamingSpec pins batch parity within the sketch's
    * error bound) and on MemoryStream input. */
  def distinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"),
        col("approx_users"), col("n"))

  /** Streaming twin of `stream_key_skew_monitor`: per 1-hour event-time
    * window, the hottest user's event share, the effective user count
    * (N²/Σc²), and the raw counts — the skew alert a pipeline fires
    * BEFORE a hot key reaches its batch joins. Two CHAINED event-time
    * aggregations (Spark ≥ 3.4 multi-stateful-operator support): state
    * is one (window, user) count per active user per watermark horizon,
    * then one row per open window — both bounded. Same definition runs
    * on a batch frame (StreamingSpec pins batch parity). */
  def keySkewMonitor(events: DataFrame): DataFrame = {
    val uw = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    uw.groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("cnt")).as("n_events"),
        max(col("cnt")).as("max_cnt"),
        sum(col("cnt").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("cnt")).as("c2"))
      .select(col("w.start").as("ws"), col("n_users"), col("n_events"),
        col("max_cnt"),
        (col("max_cnt").cast("double") / col("n_events").cast("double"))
          .as("top_share"),
        ((col("n_events").cast("double") * col("n_events").cast("double")) /
          col("c2").cast("double")).as("eff_users"))
  }

  /** Drop duplicate event_ids within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** CONTINUOUS line-level dedup — the streaming twin of
    * [[graft.llm.LineDedup.lineDedup]] for an ingestion feed: split each
    * arriving (ts, doc_id, text) document into `blockWords`-word blocks
    * MAP-SIDE (the shared [[graft.llm.LineDedup.blockized]] kernel — no
    * aggregation, so the stream stays in append mode) and emit only each
    * block text's FIRST occurrence within the watermark horizon. Emits
    * surviving (ts, doc_id, blk, btext) rows; reassembly is the
    * downstream batch step (a cross-micro-batch ordered re-collect would
    * need unbounded per-doc state — a stream cannot hold documents open
    * forever, so the survivor-block stream IS the operator's contract).
    * State = one entry per distinct block seen, EVICTED past the
    * watermark (dropDuplicatesWithinWatermark) — the bounded-state form;
    * corpus-lifetime exactness belongs to the batch operator. */
  def lineDedupBlocks(docs: DataFrame, blockWords: Int): DataFrame =
    graft.llm.LineDedup.blockized(docs, "text", blockWords)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("btext")

  /** Stream-stream interval join: each purchase matched to the same user's
    * views in the preceding 10 minutes. Both sides carry a watermark and
    * the join condition bounds event-time distance in BOTH directions —
    * that pair is what lets Spark evict buffered rows instead of holding
    * each side's state forever (the stream-stream join state-cleanup
    * requirement). Output columns are the µs timestamps of the pair. */
  def intervalJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("ts_view"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("ts_buy"))
    v.join(p, col("user_id") === col("p_user") &&
        col("ts_buy") >= col("ts_view") &&
        col("ts_buy") <= col("ts_view") + expr("interval 10 minutes"))
      .select(col("user_id"), unix_micros(col("ts_view")).as("t_view"),
        unix_micros(col("ts_buy")).as("t_buy"))
  }

  /** Stream-stream LEFT OUTER interval join — [[intervalJoin]] plus the
    * null-emission contract: a view with no purchase in its 10-minute
    * horizon is emitted with `t_buy = NULL` once the GLOBAL watermark
    * (min over both inputs) passes `ts_view + 10 min + watermark delay`,
    * i.e. once Spark has PROVED no future purchase can still match — the
    * same moment the buffered view row is evicted from state. The
    * two-sided event-time bound is what makes both the null decision and
    * the state cleanup possible; without it the left rows would wait
    * forever. State stays bounded on both sides exactly as in the inner
    * form (one watermark horizon of rows each). */
  def intervalJoinOuter(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("ts_view"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("ts_buy"))
    v.join(p, col("user_id") === col("p_user") &&
        col("ts_buy") >= col("ts_view") &&
        col("ts_buy") <= col("ts_view") + expr("interval 10 minutes"),
        "left_outer")
      .select(col("user_id"), unix_micros(col("ts_view")).as("t_view"),
        unix_micros(col("ts_buy")).as("t_buy"))
  }

  /** EXACTLY-ONCE-effect sink: an idempotent keyed upsert behind
    * foreachBatch. foreachBatch delivers AT-LEAST-ONCE — after a failure
    * the same epoch (batchId) is re-delivered with identical contents —
    * so a sink gets exactly-once EFFECT by making re-application a no-op.
    * Two independent layers provide that here, matching the two
    * production failure modes:
    *
    *  1. EPOCH FENCE: the sink remembers the last committed batchId and
    *     skips any batch at-or-below it (the transactional-sink pattern —
    *     in production the fence lives in the sink's own transaction,
    *     e.g. `(table, batchId)` committed atomically with the data).
    *  2. ALGEBRAIC IDEMPOTENCE: the merge itself is latest-wins-per-key
    *     ([[GraftOps.upsertLatestWins]] — max_by over (version, payload),
    *     so version ties resolve the same way on every application),
    *     so even a re-applied epoch (fence lost, e.g. sink state rebuilt
    *     from an older snapshot) converges to the same table: upsert of
    *     rows already reflected changes nothing.
    *
    *  The state advances by localCheckpoint per epoch (batch-sized
    *  materialization, lineage truncated — per-epoch cost ∝ batch + the
    *  keyed table, never the input history). `current()` reads the
    *  committed table; micro-batches arrive serially per query, so no
    *  lock. The batch twin `stream_upsert_exactly_once` oracle-pins the
    *  algebra (a duplicated epoch leaves the final table unchanged). */
  final class IdempotentUpsertSink(initial: DataFrame, keyCol: String,
      versionCol: String) {
    private var state: DataFrame = initial.localCheckpoint()
    private var lastCommitted: Long = -1L
    private var skipped: Long = 0L
    def committedEpochs: Long = lastCommitted + 1
    def redeliveriesSkipped: Long = skipped
    def current(): DataFrame = state
    def apply(batch: DataFrame, batchId: Long): Unit =
      if (batchId <= lastCommitted) { skipped += 1 } // epoch fence: no-op
      else {
        state = graft.GraftOps
          .upsertLatestWins(state, batch.select(state.columns.map(col): _*),
            keyCol, versionCol)
          .localCheckpoint()
        lastCommitted = batchId
      }
  }

  /** CONTINUOUS corpus ingestion with near-dup rejection — the streaming
    * form of [[graft.llm.Curation.dedupIncremental]], packaged as a
    * `foreachBatch` function: each micro-batch is (1) self-deduped (two
    * arrivals of one document in the SAME batch collapse to the min-id
    * copy), (2) deduped against the corpus-so-far (initial corpus +
    * survivors of every earlier batch), and (3) the surviving rows are
    * handed to `emit` (the caller's sink append).
    *
    * State is the corpus SHINGLE-ARRAY relation: a checkpointed base plus
    * per-batch checkpointed survivor INCREMENTS unioned lazily — advancing
    * the state materializes only the batch's survivors, never rewrites the
    * corpus, so per-batch cost stays ∝ batch (the corpus side is served
    * from the cached state, never re-shingled, and nothing accumulates in
    * the CacheManager: the per-batch array cache is unpersisted in a
    * finally, and the candidate pass persists nothing). The lazy
    * union adds one plan leaf per batch; every 64 batches the union is
    * compacted into a single checkpoint (the one corpus-sized write,
    * amortized). At production scale the state is a STORED signature/
    * array table (see SCALE.md incremental dedup row).
    *
    * Delivery semantics are those of foreachBatch itself: AT-LEAST-ONCE.
    * The corpus state is driver-local — replayed batchIds within one run
    * are skipped (tracked here), but a QUERY RESTART resets the state to
    * `initialCorpus`, so documents emitted before the restart are not
    * deduped against after it. A pipeline that needs the no-emitted-dup
    * guarantee across restarts must keep the survivor/signature store in
    * the sink's transactional table (idempotent by batchId) and rebuild
    * `initialCorpus` from it on start. Micro-batches arrive serially per
    * query, so the closure needs no lock.
    *
    * Usage: `docs.writeStream.foreachBatch(StreamOps.incrementalDedupBatches(
    *   corpus0, "id", "text", 0.3)(kept => kept.write...)).start()` */
  def incrementalDedupBatches(initialCorpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int = 3)
      (emit: DataFrame => Unit): (DataFrame, Long) => Unit = {
    import graft.llm.{Curation, Dedup}
    var corpusArrays = Dedup
      .shingleArrays(initialCorpus.select(col(idCol), col(textCol)),
        idCol, textCol, n, dedup = true)
      .localCheckpoint()
    var lastBatchId = -1L
    var batches = 0
    (batch: DataFrame, batchId: Long) => if (batchId > lastBatchId) {
      val b = batch.select(col(idCol), col(textCol)).localCheckpoint()
      val ba = Dedup.shingleArrays(b, idCol, textCol, n, dedup = true).persist()
      try {
        // (1) batch-internal near-dups → keep the min-id copy per cluster
        // (the ONE keep-canonical kernel, Dedup.selfDedupLosers)
        val baSelf = ba.join(Dedup.selfDedupLosers(ba, threshold),
          Seq("doc_id"), "left_anti")
        // (2) vs the corpus-so-far: array kernel over the CACHED state
        val rejects = Curation.incrementalRejects(corpusArrays, baSelf, threshold)
        val keptArrays = baSelf.join(rejects, Seq("doc_id"), "left_anti")
          .localCheckpoint() // batch-sized materialization
        val kept = b.join(
          keptArrays.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
        emit(kept)
        // (3) advance the state INCREMENTALLY: append the checkpointed
        // survivor increment as a lazy union leaf (no corpus rewrite);
        // compact the leaves every 64 batches (old checkpoint blocks are
        // reclaimed by the ContextCleaner once the reference drops)
        corpusArrays = corpusArrays.unionByName(keptArrays)
        batches += 1
        if (batches % 64 == 0) corpusArrays = corpusArrays.localCheckpoint()
        lastBatchId = batchId
      } finally ba.unpersist()
    }
  }
}
