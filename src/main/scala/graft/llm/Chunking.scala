package graft.llm

import graft._
import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-shaping operators — the step between a curated corpus and a
  * training run: split long documents into model-window-sized chunks, and
  * pack the token stream into fixed-budget sequences.
  *
  * `text_chunk_split` — sliding-window chunking: token windows of
  * `chunkTokens` every `stride` tokens (stride < chunk ⇒ overlap, the
  * standard trick so no boundary context is lost). Entirely map-side: the
  * token array is built once per doc, chunk starts are a generated
  * `sequence`, and each chunk is a `slice` — one posexplode, no shuffle
  * until the output sort. At 100 TB chunking is embarrassingly parallel.
  *
  * `pipeline_pack_sequences` — concat-and-cut packing: per source, the
  * document token stream is concatenated in doc_id order and cut every
  * `budget` tokens (documents may straddle a cut — exactly how most
  * training pipelines pack, with the trainer handling the straddle).
  * pack_id = floor(exclusive-running-token-count / budget), computed as a
  * TWO-LEVEL DISTRIBUTED PREFIX SUM — a naive
  * `Window.partitionBy(source)` cumsum funnels each source's entire
  * token stream through ONE task (window partitions are single-task in
  * Spark), which is fatal when the corpus has ~20 sources and 100 TB of
  * text. Instead:
  *   1. `repartitionByRange(shards, source, id)` — an order-preserving
  *      split of the (source, id) stream into `shards` contiguous runs;
  *   2. local exclusive cumsum per (source, shard) — `shards`-way
  *      parallel, each window partition holds ~1/shards of the data;
  *   3. per-(source, shard) token totals — a tiny (≤ sources×shards row)
  *      relation — cumsum'd over shard rank to get each shard's global
  *      starting offset, broadcast-joined back;
  *   4. global cumsum = shard offset + local cumsum (map-side add).
  * Deterministic — shard BOUNDARIES come from range-partitioner sampling
  * and may vary run to run, but offset+local is the exact global running
  * sum regardless of where the cuts land, so pack_id never changes.
  */
object Chunking {

  /** PUBLIC API: sliding-window chunks of `textCol` — output one row per
    * (doc, chunk): (idCol, chunk_idx, n_tokens, chunk md5). */
  def chunkSplit(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      "need 1 <= stride <= chunkTokens (stride > chunk would skip tokens)")
    val reserved = Seq("__toks", "__chunk", "chunk_idx", "start", "n_tokens", "h")
    require(!df.columns.exists(reserved.contains) && !reserved.contains(idCol),
      s"chunkSplit reserves the column names ${reserved.mkString(", ")}")
    // null text ⇒ no chunks (without the guard, sequence(0, greatest(
    // size(null)-1, 0)) fabricates one spurious all-null chunk row)
    df.where(col(textCol).isNotNull)
      .withColumn("__toks", split(lower(col(textCol)), " "))
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_idx", "start")))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__toks"), col("start") + 1, lit(chunkTokens)).as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("__chunk")).cast("binary")).as("h"))
  }

  /** PUBLIC API: concat-and-cut packing — assign each doc of the
    * `streamCol`-keyed token stream (ordered by `idCol`) to
    * pack_id = floor(tokens-before-this-doc / budget); adds
    * (n_tokens, pack_id). Two-level distributed prefix sum (see object
    * doc): parallelism is `shards`, never the number of streams, so one
    * giant source can't funnel its whole token stream through one task.
    * `shards` defaults to spark.sql.shuffle.partitions; raise it on a
    * real cluster so each shard's run fits one task comfortably. */
  def packSequences(df: DataFrame, streamCol: String, idCol: String,
      textCol: String, budget: Int, shards: Int = 0): DataFrame = {
    require(!df.columns.contains("n_tokens") && !df.columns.contains("pack_id") &&
      idCol != "n_tokens" && idCol != "pack_id" &&
      !df.columns.exists(Seq("__pstream", "__pid").contains),
      "packSequences reserves the column names n_tokens, pack_id, __pstream, __pid")
    // the prefix-sum kernel runs on a SLIM (stream, id, n_tokens)
    // projection — the shape that makes its two internal plan branches
    // canonically identical, so the sampled range exchange is provably
    // reused rather than recomputed (see the invariant note in
    // distributedRunningSum) — and the result joins back on the unique
    // (stream, id) key. idCol must be unique per stream: it orders the
    // token stream (duplicates make packing ill-defined) AND keys the
    // join-back, where duplicate (stream, id) rows would fan out
    // multiplicatively instead of erroring.
    val slim = distributedRunningSum(
        df.select(col(streamCol), col(idCol),
          size(split(lower(col(textCol)), " ")).cast("long").as("n_tokens")),
        streamCol, idCol, "n_tokens", "__cum", exclusive = true, shards)
      .select(col(streamCol).as("__pstream"), col(idCol).as("__pid"),
        col("n_tokens"), floor(col("__cum") / budget).as("pack_id"))
    df.join(slim, col(streamCol) <=> col("__pstream") && col(idCol) <=> col("__pid"))
      .drop("__pstream", "__pid")
  }

  /** PUBLIC API: running sum of `valueCol` over each `partCol` group in
    * `orderCol` order, as `outCol` — the DISTRIBUTED form of
    * `sum(value).over(Window.partitionBy(part).orderBy(order))`, for the
    * case where a single group is too big for one task (Spark window
    * partitions are single-task; a 100 TB group = one executor thread).
    * Two-level prefix sum: an order-preserving `repartitionByRange`
    * split into `shards` contiguous runs (default
    * spark.sql.shuffle.partitions), a per-(group, shard) local window
    * cumsum — parallelism = shards, never the group count — and a
    * broadcast per-shard offset table added map-side. The result is
    * provably independent of the shard count (offset + local = the exact
    * global running sum wherever the cuts land). `exclusive = true`
    * sums strictly-preceding rows (0 for each group's first row);
    * ties in `orderCol` are resolved by input order WITHIN a shard like
    * any window cumsum — pass a unique order key for total determinism.
    * Null group keys stay one group (null-safe offset join), matching
    * the window form. Pass exactly (part, order, value) when you can:
    * that slim input shares one range exchange between the kernel's two
    * branches through exchange reuse, while a wider frame (or exchange
    * reuse off) is localCheckpointed first (see [[shardSplit]]). */
  def distributedRunningSum(df: DataFrame, partCol: String, orderCol: String,
      valueCol: String, outCol: String, exclusive: Boolean = false,
      shards: Int = 0): DataFrame =
    distributedRunningSums(df, partCol, orderCol, Seq(valueCol -> outCol),
      exclusive, shards)

  /** multi-value form of [[distributedRunningSum]]: each `(valueCol,
    * outCol)` pair gets its exact global running sum over the SAME
    * (part, order) spine — one range exchange, one offsets aggregate,
    * and one window pass shared across all the cumulatives (N separate
    * kernel invocations would pay N of each; drift_ks' ECDF pair was
    * 2×). Semantics per pair are identical to the single form. */
  def distributedRunningSums(df: DataFrame, partCol: String, orderCol: String,
      valueOuts: Seq[(String, String)], exclusive: Boolean = false,
      shards: Int = 0): DataFrame = {
    require(valueOuts.nonEmpty, "distributedRunningSums needs ≥1 value column")
    val reserved = Seq("__shard", "__lcum", "__stot", "__off", "__okey", "__oshard")
    val reservedPrefixed =
      reserved ++ valueOuts.indices.flatMap(i => Seq(s"__stot$i", s"__lcum$i", s"__off$i"))
    val outCols = valueOuts.map(_._2)
    require(!df.columns.exists(reservedPrefixed.contains) &&
      !outCols.exists(reservedPrefixed.contains) && !outCols.exists(df.columns.contains) &&
      outCols.distinct.size == outCols.size,
      s"distributedRunningSums reserves ${reserved.mkString(", ")} and outputs " +
        outCols.mkString(", "))
    val spark = df.sparkSession
    val nShards =
      if (shards > 0) shards else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Level 0: order-preserving range split into monotone shards.
    val slimIn = df.columns.toSet ==
      (Set(partCol, orderCol) ++ valueOuts.map(_._1))
    val ranged = shardSplit(df, Seq(col(partCol), col(orderCol)), nShards, slimIn)
    // Level 2: per-(part, shard) totals — at most groups×nShards rows —
    // cumsum'd over shard rank for each shard's global start offset.
    val wOff = Window.partitionBy(col(partCol)).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged
      .groupBy(col(partCol), col("__shard"))
      .agg(sum(col(valueOuts.head._1)).as("__stot0"),
        valueOuts.tail.zipWithIndex.map { case ((v, _), i) =>
          sum(col(v)).as(s"__stot${i + 1}") }: _*)
      .select(Seq(col(partCol).as("__okey"), col("__shard").as("__oshard")) ++
        valueOuts.indices.map(i =>
          coalesce(sum(col(s"__stot$i")).over(wOff), lit(0L)).as(s"__off$i")): _*)
    // Level 1: cumsum WITHIN each (part, shard) run — the window
    // partition key includes the shard, so no single task ever holds
    // more than ~1/nShards of a group. All value columns share ONE
    // window spec, so Catalyst evaluates them in a single Window node.
    val frame = Window.partitionBy(col(partCol), col("__shard"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, if (exclusive) -1 else 0)
    // null-safe on the group key: the window form groups null keys
    // together, so the offset join must not drop them.
    val withLocal = valueOuts.zipWithIndex.foldLeft(ranged) {
      case (acc, ((v, _), i)) =>
        acc.withColumn(s"__lcum$i", coalesce(sum(col(v)).over(frame), lit(0L)))
    }
    val joined = withLocal.join(broadcast(offsets),
      col(partCol) <=> col("__okey") && col("__shard") === col("__oshard"))
    val withOuts = valueOuts.zipWithIndex.foldLeft(joined) {
      case (acc, ((_, out), i)) =>
        acc.withColumn(out, col(s"__off$i") + col(s"__lcum$i"))
    }
    withOuts.drop(Seq("__shard", "__okey", "__oshard") ++
      valueOuts.indices.flatMap(i => Seq(s"__lcum$i", s"__off$i")): _*)
  }

  /** Shared Level 0 of the two-level prefix-sum kernels: split the
    * global `keyCols` order into `nShards` contiguous runs with
    * `repartitionByRange` and tag each row with its range-partition id as
    * `__shard` — monotone in the key order by construction, which is
    * what makes offset + local exact.
    *
    * CORRECTNESS INVARIANT: the result feeds TWO plan branches (the
    * offsets/tails aggregate and the main window) that are joined back
    * together, and the shard id comes from spark_partition_id() AFTER the
    * range exchange, whose boundaries RangePartitioner SAMPLES. Both
    * branches must therefore observe the SAME physical exchange. Exchange
    * reuse deduplicates the two subtrees only if they canonicalize
    * identically, and column pruning silently breaks that: with columns
    * beyond the kernel's own, the aggregate branch prunes them below the
    * exchange while the window branch keeps them, and each branch
    * materializes its OWN exchange with independently sampled boundaries
    * (round 7: pipeline_select_budget planned two rangepartitioning
    * exchanges — wrong sums wherever the sample stops seeing every row).
    * So:
    *  - `slimIn` (df is exactly the kernel's columns): the subtrees are
    *    identical by construction and reuse is structural; PlanSpec pins
    *    the one range exchange for the declared consumers.
    *  - wider frames, or exchange reuse disabled by conf: the shard
    *    assignment is localCheckpoint-materialized once (lazy; blocks
    *    reclaimed by the ContextCleaner when the result becomes
    *    unreferenced). The conf is sampled HERE, at plan-build time. */
  private def shardSplit(df: DataFrame, keyCols: Seq[org.apache.spark.sql.Column],
      nShards: Int, slimIn: Boolean): DataFrame = {
    val assigned = df
      .repartitionByRange(nShards, keyCols: _*)
      .withColumn("__shard", spark_partition_id())
    val reuseOn = df.sparkSession.conf
      .getOption("spark.sql.exchange.reuse").forall(_.toBoolean)
    if (reuseOn && slimIn) assigned else assigned.localCheckpoint(false)
  }

  /** PUBLIC API: budget-capped corpus selection — keep each `streamCol`
    * stream's rows in ASCENDING `priorityCol` order until the running
    * `tokenCol` total reaches `budget`: a row survives iff the token
    * count of strictly-higher-priority rows is < budget, so the budget
    * can be overshot by at most the last selected row (the standard
    * "fill the budget, let the last doc straddle" data-selection step
    * between scoring and training). The cumulative sum is
    * [[distributedRunningSum]], so one giant stream never funnels
    * through a single task; everything else is map-side. `priorityCol`
    * must be unique per stream — it both determines the selection and
    * keys the survivor semi-join, so a duplicated (stream, priority) key
    * would keep ALL its rows (over-selecting past the budget) rather
    * than erroring; make it a (score, id) composite. The kernel runs on a slim (stream,
    * priority, token) projection — the shape whose two internal plan
    * branches provably share one range exchange (see
    * distributedRunningSum's invariant note) — and the surviving keys
    * semi-join back against `df`, so wide corpus rows never ride the
    * prefix-sum shuffles. */
  def selectByBudget(df: DataFrame, streamCol: String, priorityCol: String,
      tokenCol: String, budget: Long, shards: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(!df.columns.exists(Seq("__kstream", "__kprio").contains),
      "selectByBudget reserves the column names __kstream, __kprio")
    val keep = distributedRunningSum(
        df.select(col(streamCol), col(priorityCol), col(tokenCol)),
        streamCol, priorityCol, tokenCol, "__before",
        exclusive = true, shards)
      .where(col("__before") < budget)
      .select(col(streamCol).as("__kstream"), col(priorityCol).as("__kprio"))
    df.join(keep,
      col(streamCol) <=> col("__kstream") && col(priorityCol) <=> col("__kprio"),
      "left_semi")
  }

  /** PUBLIC API: per-group quota cap — keep at most `quota(group)` rows of
    * each `groupCol` group, chosen in ascending `orderCol` order: the
    * source-balancing step of a corpus mix (cap the over-represented
    * crawls, keep the rest whole). `orderCol` must be unique per group for
    * a deterministic selection — compose a (hash, id) scalar like the
    * declared query does. `quotas` is a small (groupCol, quota) relation,
    * broadcast; a group ABSENT from it (or with a null quota) is uncapped,
    * a quota ≤ 0 drops its group entirely, and a group listed more than
    * once is capped at its STRICTEST (minimum non-null) quota. The
    * running row count is
    * [[distributedRunningSum]] over the slim (group, order, 1L)
    * projection — single shared range exchange, no giant group ever
    * funnels through one window task — and surviving (group, order) keys
    * semi-join back against `df`, so wide corpus rows never ride the
    * prefix-sum shuffles. Null group keys form one (cappable) group,
    * matching groupBy. */
  def quotaPerGroup(df: DataFrame, groupCol: String, orderCol: String,
      quotas: DataFrame, shards: Int = 0): DataFrame = {
    val reserved = Seq("__one", "__before", "__qgroup", "__quota",
      "__kgroup", "__korder")
    require(!reserved.contains(groupCol) && !reserved.contains(orderCol) &&
      !df.columns.exists(Seq("__kgroup", "__korder").contains),
      s"quotaPerGroup reserves the column names ${reserved.mkString(", ")}")
    require(quotas.columns.toSet == Set(groupCol, "quota"),
      s"quotas must be exactly ($groupCol, quota), got ${quotas.columns.mkString(", ")}")
    val counted = distributedRunningSum(
      df.select(col(groupCol), col(orderCol)).withColumn("__one", lit(1L)),
      groupCol, orderCol, "__one", "__before", exclusive = true, shards)
    // a duplicated group key in `quotas` must not fan the left_outer out
    // (which would silently keep a row if it passed EITHER cap — the
    // laxest quota would win); collapse to the STRICTEST cap per group,
    // deterministically. min ignores nulls, so (g, null) + (g, 5) → 5
    // and an all-null group stays uncapped.
    val oneQuota = quotas.groupBy(col(groupCol).as("__qgroup"))
      .agg(min(col("quota").cast("long")).as("__quota"))
    val keep = counted
      .join(broadcast(oneQuota), col(groupCol) <=> col("__qgroup"), "left_outer")
      .where(col("__before") < coalesce(col("__quota"), lit(Long.MaxValue)))
      .select(col(groupCol).as("__kgroup"), col(orderCol).as("__korder"))
    df.join(keep,
      col(groupCol) <=> col("__kgroup") && col(orderCol) <=> col("__korder"),
      "left_semi")
  }

  /** PUBLIC API: distributed global/grouped RUNNING MAX — the max-monoid
    * twin of [[distributedRunningSum]] (same two-level shape: range
    * split into order-contiguous shards, within-(group, shard) window
    * max, per-shard offsets window over ≤ groups×shards rows, combine
    * via `greatest`). The identity is NULL rather than 0: with
    * `exclusive = true` the first global row of each group gets NULL
    * (no strictly-preceding row), exactly like
    * `max(v).over(orderBy(o).rowsBetween(unboundedPreceding, -1))` —
    * `greatest` skips the null offset/local sides natively. Slim
    * (part, order, value) inputs share one range exchange through
    * reuse; wider inputs, or exchange reuse off, are localCheckpointed
    * (see [[shardSplit]]). */
  def distributedRunningMax(df: DataFrame, partCol: String, orderCol: String,
      valueCol: String, outCol: String, exclusive: Boolean = false,
      shards: Int = 0): DataFrame = {
    val reserved = Seq("__shard", "__lmax", "__mtot", "__moff", "__mkey", "__mshard")
    require(!df.columns.exists(reserved.contains) && !reserved.contains(outCol) &&
      !df.columns.contains(outCol),
      s"distributedRunningMax reserves ${reserved.mkString(", ")} and $outCol")
    val spark = df.sparkSession
    val nShards =
      if (shards > 0) shards else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val slimIn = df.columns.toSet == Set(partCol, orderCol, valueCol)
    val ranged = shardSplit(df, Seq(col(partCol), col(orderCol)), nShards, slimIn)
    val frame = Window.partitionBy(col(partCol), col("__shard"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, if (exclusive) -1 else 0)
    val wOff = Window.partitionBy(col(partCol)).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged
      .groupBy(col(partCol), col("__shard"))
      .agg(max(col(valueCol)).as("__mtot"))
      .select(col(partCol).as("__mkey"), col("__shard").as("__mshard"),
        max(col("__mtot")).over(wOff).as("__moff"))
    ranged
      .withColumn("__lmax", max(col(valueCol)).over(frame))
      .join(broadcast(offsets),
        col(partCol) <=> col("__mkey") && col("__shard") === col("__mshard"))
      .withColumn(outCol, greatest(col("__moff"), col("__lmax")))
      .drop("__shard", "__lmax", "__moff", "__mkey", "__mshard")
  }

  /** PUBLIC API: distributed `lag(value, 1)` over each `partCol` group in
    * `orderCols` order, as `outCol` — the distributed form of
    * `lag(value).over(Window.partitionBy(part).orderBy(order...))` for
    * the case where one group's run is too big (or too hot) for a single
    * task. Same two-level shape as [[distributedRunningSum]]: an
    * order-preserving range split into `shards` contiguous runs, a
    * within-(group, shard) window lag, and a boundary correction giving
    * each shard's FIRST row the previous shard's tail value. Unlike the
    * running-sum offsets table (one row per group), the correction here
    * is FILTERED to shard-SPANNING groups — at most `shards − 1` rows no
    * matter how many groups exist — so the broadcast stays O(shards) at
    * any group cardinality (100M users cannot blow the broadcast).
    * `orderCols` must be a unique total order within each group (the
    * tail row is selected by struct-max over them). Slim
    * (part, order..., value) inputs share one range exchange through
    * reuse; wider inputs, or exchange reuse off, are localCheckpointed
    * (see [[shardSplit]]). */
  def distributedLag(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, outCol: String, shards: Int = 0): DataFrame = {
    val reserved = Seq("__shard", "__rn", "__lv", "__lst", "__has", "__ptv",
      "__ckey", "__cshard")
    require(orderCols.nonEmpty, "distributedLag needs ≥1 order column")
    require(!df.columns.exists(reserved.contains) && !reserved.contains(outCol) &&
      !df.columns.contains(outCol),
      s"distributedLag reserves ${reserved.mkString(", ")} and $outCol")
    val spark = df.sparkSession
    val nShards =
      if (shards > 0) shards else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ord = orderCols.map(col)
    val slimIn = df.columns.toSet == (Set(partCol, valueCol) ++ orderCols)
    val ranged = shardSplit(df, col(partCol) +: ord, nShards, slimIn)
    // per-(group, shard) tail value: struct-max over the unique order
    // picks the run's LAST row; plain aggregate, so this branch shares
    // the range exchange with the window branch (no second window pass).
    val tails = ranged
      .groupBy(col(partCol), col("__shard"))
      .agg(max(struct(ord.zipWithIndex.map { case (c, i) => c.as(s"__o$i") } :+
        col(valueCol).as("__tv"): _*)).as("__lst"))
    val wS = Window.partitionBy(col(partCol)).orderBy(col("__shard"))
    // __has marks "a previous shard of this group exists" independently
    // of the tail VALUE (which may legitimately be null).
    val corr = tails
      .withColumn("__ptv", lag(col("__lst.__tv"), 1).over(wS))
      .withColumn("__has", lag(lit(1), 1).over(wS))
      .where(col("__has").isNotNull)
      .select(col(partCol).as("__ckey"), col("__shard").as("__cshard"),
        col("__ptv"))
    val wls = Window.partitionBy(col(partCol), col("__shard")).orderBy(ord: _*)
    ranged
      .withColumn("__rn", row_number().over(wls))
      .withColumn("__lv", lag(col(valueCol), 1).over(wls))
      .join(broadcast(corr),
        col(partCol) <=> col("__ckey") && col("__shard") === col("__cshard"),
        "left")
      .withColumn(outCol,
        when(col("__rn") === 1, col("__ptv")).otherwise(col("__lv")))
      .drop("__shard", "__rn", "__lv", "__ckey", "__cshard", "__ptv")
  }

  /** PUBLIC API: distributed sessionization — per-`partCol` 1-based
    * `outCol` session ids over a LONG microsecond `tsCol`, a new session
    * opening when the gap to the previous row exceeds `gapMicros` — the
    * distributed form of StreamOps.sessionize's lag + running-sum window
    * pair, for groups too big or too hot for one task (a ~10% hot user
    * makes the single-task double window the first thing to break on a
    * skewed 100 TB event log — SKEW_PROBE's events_sequence_pairs 4.35×).
    * One range exchange, ONE window pass computing the within-(group,
    * shard) lag gap-flag and its local cumsum together, then a boundary
    * correction at (group, shard) grain: each spanning shard's first-row
    * flag is decided against the previous shard's tail timestamp, and
    * its session offset is the prior shards' flag totals. Only
    * shard-spanning rows survive the correction filter (≤ shards − 1
    * rows broadcast, at any group cardinality); non-spanning rows take
    * the constant default (+1 for the group's opening session). The
    * window OUTPUT feeds both the correction aggregate and the final
    * join, so it is localCheckpoint-materialized (lazy, reclaimed with
    * the result — the connectedComponents lifecycle); carried columns
    * therefore ride through without a join-back. `tieCols` must make
    * (ts, ties) unique per group. Result = exactly the single-window
    * form's session ids, independent of the shard count. */
  def distributedSessionize(df: DataFrame, partCol: String, tsCol: String,
      tieCols: Seq[String], gapMicros: Long, outCol: String,
      shards: Int = 0): DataFrame = {
    val reserved = Seq("__shard", "__rn", "__lns", "__lcum", "__fst", "__lst",
      "__pts", "__nsf", "__corr", "__ckey", "__cshard")
    require(!df.columns.exists(reserved.contains) && !reserved.contains(outCol) &&
      !df.columns.contains(outCol),
      s"distributedSessionize reserves ${reserved.mkString(", ")} and $outCol")
    val spark = df.sparkSession
    val nShards =
      if (shards > 0) shards else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ord = (tsCol +: tieCols).map(col)
    val wls = Window.partitionBy(col(partCol), col("__shard")).orderBy(ord: _*)
    val wRun = wls.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // shard-first rows get flag 0 here (decided by the boundary
    // correction); lag(1) over the same window doubles as the
    // first-row marker, so no row_number is needed. Only __lcum (not
    // the transient flag) survives into the checkpointed projection —
    // the materialized width is the caller's columns + 2 longs.
    // slimIn = true: the range-split data has a single consumer here
    // (the window OUTPUT is what feeds two — tails aggregate + final
    // join — and it is localCheckpoint-materialized below).
    val local = shardSplit(df, col(partCol) +: ord, nShards, slimIn = true)
      .withColumn("__lns",
        when(lag(lit(1), 1).over(wls).isNull, 0L)
          .when(col(tsCol) - lag(col(tsCol), 1).over(wls) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("__lcum", sum(col("__lns")).over(wRun))
      .drop("__lns")
      .localCheckpoint(false)
    // (group, shard) boundary stats: first/last timestamps by struct
    // min/max over the unique order; the last row's inclusive cumsum IS
    // the shard's local flag total.
    val ordAliased = ord.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val tails = local.groupBy(col(partCol), col("__shard"))
      .agg(min(struct(ordAliased: _*)).as("__fst"),
        max(struct(ordAliased :+ col("__lcum").as("__lc"): _*)).as("__lst"))
    val wS = Window.partitionBy(col(partCol)).orderBy(col("__shard"))
    val corr = tails
      .withColumn("__pts", lag(col("__lst.__o0"), 1).over(wS))
      .withColumn("__nsf",
        when(col("__pts").isNull, 1L)
          .when(col("__fst.__o0") - col("__pts") > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("__corr",
        sum(col("__nsf")).over(
          wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)) +
          coalesce(sum(col("__lst.__lc")).over(
            wS.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // a group's FIRST shard always corrects by exactly +1 (its opening
      // session) — the join-miss default below — so only shard-spanning
      // rows need to travel: ≤ shards − 1 of them exist.
      .where(col("__pts").isNotNull)
      .select(col(partCol).as("__ckey"), col("__shard").as("__cshard"),
        col("__corr"))
    local
      .join(broadcast(corr),
        col(partCol) <=> col("__ckey") && col("__shard") === col("__cshard"),
        "left")
      .withColumn(outCol, col("__lcum") + coalesce(col("__corr"), lit(1L)))
      .drop("__shard", "__lcum", "__ckey", "__cshard", "__corr")
  }

  val queries: Map[String, Q] = Map(
    // 64-token chunks every 48 tokens (16-token overlap)
    "text_chunk_split" -> { (s, dir) =>
      chunkSplit(Tables(s, dir, "documents"), "doc_id", "text", 64, 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // 4096-token packs per source stream; per-pack stats
    "pipeline_pack_sequences" -> { (s, dir) =>
      packSequences(Tables(s, dir, "documents"), "source", "doc_id", "text", 4096)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("pack_id"))
    },

    // budget-capped selection: per source, keep the LARGEST docs (the
    // deterministic stand-in for a quality ordering) until 2000 tokens
    // are filled. priority = -(n_chars·2³²) + doc_id — unique (doc_id
    // tie-break rides in the low bits), ascending = biggest-first. The
    // running sum is the distributed two-level prefix sum, so this is
    // the second declared query through that kernel.
    "pipeline_select_budget" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .withColumn("n_tokens", size(split(lower(col("text")), " ")).cast("long"))
        .withColumn("__prio",
          -(col("n_chars").cast("long") * lit(4294967296L)) + col("doc_id"))
      selectByBudget(d, "source", "__prio", "n_tokens", 2000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"))
    },

    // per-source quota cap: caps cycle 10/20/30 by source index, so at
    // sf0.01's 25 docs/source the 30-cap sources stay WHOLE — both the
    // truncating and the under-quota paths execute in one query.
    // Selection order = pipeline_shuffle_deterministic's seeded LCG
    // composed with doc_id into ONE ascending scalar: h < 99991 and
    // doc_id < 2²⁴ (testdata contract), so h·2²⁴ + doc_id orders exactly
    // like (h, doc_id) with no overflow — a unique per-row priority, the
    // kernel's determinism contract. Third declared query through
    // distributedRunningSum.
    "pipeline_quota_per_source" -> { (s, dir) =>
      val h = ((col("doc_id") % 100003L) * 48271L + 11L) % 99991L
      val d = Tables(s, dir, "documents").where(col("source").isNotNull)
        .withColumn("__prio", h * lit(16777216L) + col("doc_id"))
      val quotas = d.select(col("source")).distinct()
        .select(col("source"),
          (lit(10L) + (substring(col("source"), 4, 10).cast("long") % 3L) * 10L)
            .as("quota"))
      quotaPerGroup(d, "source", "__prio", quotas)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"))
    }
  )

  val oracle: Map[String, String] = Map(
    "text_chunk_split" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |starts AS (SELECT doc_id, toks,
        |    unnest(generate_series(0, len(toks) - 1, 48)) AS start
        |  FROM t),
        |c AS (SELECT doc_id,
        |    cast(start // 48 as int) AS chunk_idx,
        |    list_slice(toks, start + 1, start + 64) AS chunk
        |  FROM starts)
        |SELECT doc_id, chunk_idx, cast(len(chunk) as bigint) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS h
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "pipeline_pack_sequences" ->
      """WITH d AS (SELECT source, doc_id,
        |    cast(len(string_split(lower(text), ' ')) as bigint) AS tok
        |  FROM documents),
        |p AS (SELECT source, doc_id, tok,
        |    cast(coalesce(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
        |      as bigint) AS pack_id
        |  FROM d)
        |SELECT source, pack_id, count(*) AS n_docs,
        |  cast(sum(tok) as bigint) AS sum_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,
    "pipeline_select_budget" ->
      """WITH d AS (SELECT source, doc_id,
        |    cast(len(string_split(lower(text), ' ')) as bigint) AS n_tokens,
        |    -(cast(n_chars as bigint) * 4294967296) + doc_id AS prio
        |  FROM documents),
        |p AS (SELECT source, doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY prio
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  cast(sum(n_tokens) as bigint) AS sum_tokens,
        |  cast(sum(doc_id) as bigint) AS sum_ids
        |FROM p WHERE cum < 2000 GROUP BY source ORDER BY source""".stripMargin,
    // row_number over (h, doc_id) ≡ the Spark side's composed scalar
    // priority (doc_id < 2²⁴); rn ≤ cap ≡ exclusive-running-count < cap
    "pipeline_quota_per_source" ->
      """WITH r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ((doc_id % 100003) * 48271 + 11) % 99991, doc_id) AS rn,
        |    10 + (cast(substr(source, 4) as bigint) % 3) * 10 AS cap
        |  FROM documents WHERE source IS NOT NULL)
        |SELECT source, count(*) AS n_docs, cast(sum(doc_id) as bigint) AS sum_ids
        |FROM r WHERE rn <= cap GROUP BY source ORDER BY source""".stripMargin
  )
}
