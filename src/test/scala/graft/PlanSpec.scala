package graft

/** Plan-shape guardrails (SURVEY.md §4): the physical plans must keep the
  * properties that make them survive a 100× scale-up — parquet pushdown +
  * column pruning on scans, broadcast joins for dims, TakeOrderedAndProject
  * for top-k. A regression here is a perf bug even if results stay correct.
  */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String = {
    // default maxMetadataStringLength (100) truncates ReadSchema mid-struct,
    // which would make the column-pruning assertions below vacuously pass:
    // a full-width lineitem scan prints only its first ~3 columns. Restore
    // after rendering — the session is shared JVM-wide across suites.
    val key = "spark.sql.maxMetadataStringLength"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "4000")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("scan_prune_filter pushes the shipdate predicate into the parquet scan") {
    val p = plan("scan_prune_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
  }

  test("scan_prune_filter prunes to the 4 referenced columns") {
    val p = plan("scan_prune_filter")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && readSchema.contains("l_quantity"),
      readSchema)
  }

  test("join_broadcast_chain uses BroadcastHashJoin for both dims") {
    val p = plan("join_broadcast_chain")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("sort_limit_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("agg_groupby_q1 uses partial+final hash aggregation") {
    val p = plan("agg_groupby_q1")
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("text_sentiment_lexicon broadcasts the inline lexicon") {
    val p = plan("text_sentiment_lexicon")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("join_theta_range is an equi-join on (user, bucket), never a nested loop") {
    val p = plan("join_theta_range")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("join_bucketed_colocated joins without exchanging either side") {
    val p = plan("join_bucketed_colocated")
    assert(p.contains("SortMergeJoin"), p.take(2000))
    // bucketing satisfies the join's distribution requirement; the only
    // hash exchange left is the final 5-group aggregate
    val nHashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nHashEx <= 1, s"bucketed join shuffled its inputs:\n${p.take(3000)}")
  }

  test("subquery_decorrelated broadcasts the group-average side") {
    val p = plan("subquery_decorrelated")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("join_skew_salted prunes the fact scan to the 2 referenced columns") {
    val p = plan("join_skew_salted")
    val badCol = p.linesIterator.filter(_.contains("ReadSchema"))
      .exists(_.contains("l_shipdate"))
    assert(!badCol, "salt hash forced a full-width lineitem scan")
  }

  test("sink_partitioned_pruned prunes partitions at the scan") {
    val p = plan("sink_partitioned_pruned")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang"), s"no partition pruning on the read-back:\n$pf")
  }

  test("layout_sorted_skipping pushes the range filter to the parquet scan") {
    val p = plan("layout_sorted_skipping")
    val pf = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pf.contains("user_id"), s"range filter not pushed to the scan:\n$pf")
  }

  test("layout_zorder pushes BOTH key filters to the parquet scan") {
    val p = plan("layout_zorder")
    val pf = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pf.contains("user_id") && pf.contains("vb"),
      s"z-order read-back must push both filter keys:\n$pf")
  }

  test("dedup verify joins broadcast ADAPTIVELY (no hardcoded hints)") {
    // verifiedPairs carries no broadcast() hints — a hardcoded hint OOMs
    // once the 100 TB candidate set outgrows the broadcast ceiling. The
    // plan must not regress to shuffling the corpus while the candidate
    // side is small: AQE must pick broadcast at runtime, which is only
    // observable on the FINAL adaptive plan (after an action).
    val df = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"AQE did not broadcast the small candidate sides:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("incremental dedup joins broadcast ADAPTIVELY (no hardcoded hints)") {
    // same policy as the verify path: batch-sigs ⋈ corpus-sigs and the
    // candidate⋈arrays verify joins are unhinted; while the batch/candidate
    // sides are small AQE must broadcast them rather than shuffling the
    // corpus-side relations.
    val df = SparkEntry.queries("dedup_incremental")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"AQE did not broadcast the small batch/candidate sides:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("decontamination broadcasts the eval n-gram set (corpus never shuffles to join)") {
    val p = SparkEntry.queries("text_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"eval-side broadcast missing:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join crept in:\n${p.take(2000)}")
  }

  test("map-side operators plan no join at all") {
    // chunking, epoch mixing, and repetition scoring are pure map-side
    // pipelines + one agg/sort — any Join node means a regression to a
    // shuffling formulation (e.g. the oracle's unnest+self-join shape)
    Seq("text_chunk_split", "pipeline_mix_epochs", "text_repetition_score")
      .foreach { name =>
        val p = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!p.contains("Join"), s"$name plans a join:\n${p.take(1500)}")
      }
  }

  test("shuffle joins get runtime bloom-filter semi-join reduction at scale") {
    // At 100 TB a fact⋈fact join can't broadcast; Spark's InjectRuntimeFilter
    // then builds a bloom filter from the SELECTIVE side and prunes the big
    // side's shuffle input. Locally the application side is under the 10 GB
    // scan threshold, so the rule never fires in the sf0.1 bench — this test
    // recreates the at-scale conditions (threshold 0, no auto-broadcast) and
    // proves our declarative join shapes are eligible: the filter is derived
    // from the plan, not hand-wired, so the same query code gets the pruning
    // on a real cluster with default thresholds.
    import org.apache.spark.sql.functions.col
    val c = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set(keys(0), "true")
      c.set(keys(1), "0")
      c.set(keys(2), "-1")
      val li = Tables(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = Tables(spark, sf, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("bloom_filter_might_contain"),
        s"runtime bloom filter was not injected:\n${p.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("text_tfidf_cosine_pairs candidate joins key on word, never the block alone") {
    // the r10 form joined all pairs within (lang, source) — a fixed-
    // cardinality block key whose size grows with the corpus (quadratic;
    // unfinishable at the 100x probe). Every join touching the block
    // columns must also carry the word key (the prefix-postings shape).
    val p = plan("text_tfidf_cosine_pairs")
    p.linesIterator
      .filter(l => l.contains("Join") && l.contains("lang"))
      .foreach { l =>
        assert(l.contains("word"), s"block-only pair join resurfaced: $l")
      }
  }

  test("text_substr_dedup's duplicate verdict shuffles on the gram hash") {
    // the count() window's partitions must be the duplicate groups
    // themselves (bounded by the duplication factor), never doc- or
    // corpus-grain
    assert(plan("text_substr_dedup").contains("hashpartitioning(h#"),
      "seed-duplicate window not keyed on the gram hash")
  }

  test("no declared query plans a CartesianProduct") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("no declared query plans a CONDITIONED BroadcastNestedLoopJoin") {
    // The unconditioned Cross BNLJ against a broadcast 1-row aggregate is
    // the documented scalar-stat pattern (fillna_mean etc.) — fine. A BNLJ
    // WITH a join condition is the scalar-broadcast trap (SCALE.md):
    // row-at-a-time interpreted filtering, measured 10× on outlier_remove.
    // In simple tree strings a condition prints as a trailing "(...)".
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, sf).queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
          assert(!l.contains("("), s"$name plans a conditioned BNLJ: $l")
        }
    }
  }

  test("dedup signatures are map-side: no shuffle keyed on doc_id before the LSH join") {
    // The r1/r2 plans exploded shingles and shuffled them into a
    // groupBy(doc_id) aggregate; MinHashSig/SimHashVec compute signatures
    // per document in a map pass, so the first exchange keyed on doc_id
    // alone must not exist (the candidate join keys on (band|c, sig), the
    // final pair agg on (doc_a, doc_b)).
    Seq("dedup_minhash", "dedup_simhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning(doc_id#"),
        s"$q shuffles per-doc rows before the LSH join")
    }
  }

  test("dedup_minhash's shuffled LSH self-join computes its signatures once, uncached") {
    // with broadcast off the (band, sig) self-join shuffles both sides;
    // the second side must read the first side's exchange (one
    // materialized band-sig exchange + one ReusedExchange), so the
    // map-side signature pass runs once without any persist
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val df = SparkEntry.queries("dedup_minhash")(spark, sf)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      def onBandSig(l: String) =
        l.contains("Exchange hashpartitioning(band#") && l.contains(" sig#")
      val nEx = finalPlan.linesIterator.count(l => onBandSig(l) && !l.contains("ReusedExchange"))
      val nReused = finalPlan.linesIterator.count(l => onBandSig(l) && l.contains("ReusedExchange"))
      assert(nEx == 1 && nReused == 1,
        s"expected 1 band-sig exchange + 1 ReusedExchange, got $nEx + $nReused:\n${finalPlan.take(4000)}")
      assert(!finalPlan.contains("InMemoryTableScan"),
        s"the LSH join reads a cached relation:\n${finalPlan.take(4000)}")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("term frequencies are map-side: no shuffle keyed on (doc_id, word)") {
    // the old tf relation shuffled every token occurrence into a
    // groupBy(doc_id, word); TokenCounts builds it per document, so the
    // only doc_id-keyed exchange left is the top-k window's
    val p = plan("text_tfidf_topk")
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(doc_id#") && l.contains(" word#"))
    assert(!bad, "tf relation shuffles token occurrences")
  }

  test("pipeline_pack_sequences prefix-sums per range shard, never per source alone") {
    // The naive form cumsums with Window.partitionBy(source): ~20 window
    // partitions = ~20 tasks for the whole corpus at 100 TB. The two-level
    // form must (a) range-split the (source, doc_id) order into shards and
    // (b) run the full-data window keyed by (source, __shard). A window
    // keyed by source ALONE is only legal over the per-shard TOTALS — a
    // ≤ sources×shards row aggregate.
    val p = plan("pipeline_pack_sequences")
    assert(p.linesIterator.exists(l =>
        l.contains("Exchange rangepartitioning(source#") && l.contains("doc_id#")),
      s"no order-preserving (source, doc_id) range split:\n${p.take(2000)}")
    val lines = p.linesIterator.toVector
    val winIdx = lines.zipWithIndex.filter(_._1.contains("Window ["))
    assert(winIdx.exists(_._1.contains("__shard")),
      "no (source, __shard)-keyed window found — prefix sum not sharded")
    winIdx.filterNot(_._1.contains("__shard")).foreach { case (l, i) =>
      // walk down to this window's data source; it must be the tiny
      // per-(source, shard) totals aggregate, never the raw table
      val feeder = lines.drop(i + 1).take(12).find(x =>
        x.contains("HashAggregate") || x.contains("Scan ") ||
          x.contains("Window ["))
      assert(feeder.exists(_.contains("HashAggregate")),
        s"source-keyed window reads non-aggregated data:\n$l\n${feeder.getOrElse("")}")
    }
  }

  test("sim_ann_quantized_int8 ranks through PackInt8 + Int8Dot (true int8 payload)") {
    // the stage-1 ranking must execute over the packed byte payload, not
    // fall back to the double `q` — the whole point of the query is that
    // the 8×-smaller payload carries the declared, oracle-gated ranking
    val p = plan("sim_ann_quantized_int8")
    assert(p.contains("packint8"), s"q8 not built by PackInt8:\n${p.take(2000)}")
    assert(p.contains("int8dot"), s"ranking not through Int8Dot:\n${p.take(2000)}")
  }

  /** Range-path invariant of the distributed prefix-sum kernel: the
    * offsets aggregate and the main window both read `__shard =
    * spark_partition_id()` after a SAMPLED range exchange, so they must
    * observe ONE physical exchange — divergent boundary samples silently
    * misalign the offsets. Pin it in the AQE-final plan (the "Initial
    * Plan" echo split off): exactly one materialized rangepartitioning
    * exchange on the kernel's order key (`orderKeyMark`), and the second
    * branch reading it through a ReusedExchange. Two independently
    * sampled exchanges (the round-7 wrong-sums shape) fail the first
    * check; a localCheckpoint'ed split (no exchange left in the plan)
    * fails it too. */
  private def assertOneSharedRangeExchange(query: String, orderKeyMark: String): Unit = {
    val df = SparkEntry.queries(query)(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    def onKey(l: String) =
      l.contains("Exchange rangepartitioning") && l.contains(orderKeyMark)
    val nRange = finalPlan.linesIterator.count(l => onKey(l) && !l.contains("ReusedExchange"))
    assert(nRange == 1,
      s"$query: expected exactly 1 materialized shard-split range exchange, got $nRange:\n${finalPlan.take(4000)}")
    assert(finalPlan.linesIterator.exists(l => onKey(l) && l.contains("ReusedExchange")),
      s"$query: the second kernel branch does not reuse the range exchange:\n${finalPlan.take(4000)}")
  }

  test("pipeline_pack_sequences' two branches observe ONE range exchange") {
    // first declared query through distributedRunningSum. The query's
    // OUTPUT sort is a separate (source, pack_id) range exchange and
    // doesn't participate.
    assertOneSharedRangeExchange("pipeline_pack_sequences", "doc_id#")
  }

  test("pipeline_select_budget's two branches observe ONE range exchange") {
    // second declared query through distributedRunningSum. Its first
    // shipped shape broke the invariant (round 7): the caller kept doc_id
    // for downstream, column pruning gave the offsets branch a NARROWER
    // exchange subtree, ReuseExchange no longer matched, and the plan
    // materialized TWO independently sampled range exchanges. The kernel
    // now runs on a slim 3-column projection and survivors semi-join back.
    assertOneSharedRangeExchange("pipeline_select_budget", "__prio#")
  }

  test("pipeline_quota_per_source's two branches observe ONE range exchange") {
    // third declared query through distributedRunningSum, on the slim
    // (source, __prio, __one) projection (the output sort's range
    // exchange is on `source`, not `__prio`, and is excluded)
    assertOneSharedRangeExchange("pipeline_quota_per_source", "__prio#")
  }

  /** Execute and count parquet-scan lines in the AQE FINAL plan section —
    * the "== Initial Plan ==" tail repeats every exchange (r6 gotcha), so
    * split it off first. Returns the section too, for extra assertions. */
  private def executedScanCount(df: org.apache.spark.sql.DataFrame): (Int, String) = {
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val n = p.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan parquet"))
    (n, p)
  }

  test("validate_constraints scans the fact once and the dim once") {
    // ALL rules — row-predicate and referential — ride one aggregate
    // pass: the ref rule is a broadcast left join of distinct dim keys
    // feeding a conditional sum, not its own anti-join scan of orders.
    val (nScans, p) = executedScanCount(SparkEntry.queries("validate_constraints")(spark, sf))
    assert(nScans == 2, s"expected 2 scans (orders + customer), got $nScans:\n${p.take(3000)}")
  }

  test("upsert_latest_wins scans orders exactly twice (base + one-pass feed)") {
    // updates and inserts explode out of ONE conditional-array scan; the
    // old where-branch pair cost a scan per feed kind (3 total).
    val (nScans, p) = executedScanCount(SparkEntry.queries("upsert_latest_wins")(spark, sf))
    assert(nScans == 2, s"expected 2 scans (base + feed), got $nScans:\n${p.take(3000)}")
  }

  test("profile_summary scans lineitem exactly once") {
    // round-7 ScanAudit finding: the old per-column summarize + unionByName
    // shape pruned each branch to its own single column — 4 full scans +
    // 4 shuffles of lineitem for a 4-column profile. The contract is ONE
    // multi-column aggregate pass (multi-countDistinct plans as a single
    // scan + Expand) with a map-side unpivot.
    val (nScans, p) = executedScanCount(SparkEntry.queries("profile_summary")(spark, sf))
    assert(nScans == 1, s"expected exactly 1 lineitem scan, got $nScans:\n${p.take(3000)}")
  }

  test("profile_topk_approx scans its input exactly twice") {
    // round-7 ScanAudit finding: the old shape consumed the sketch/exact
    // aggregates once per derived relation (bounded/heavy/found/final),
    // each pruning a different projection — nothing canonicalized, and
    // the executed plan scanned events SIX times. The contract now
    // derives everything from one left_outer join of the two aggregates:
    // sketch pass + exact-counts pass, nothing else.
    val (nScans, p) = executedScanCount(SparkEntry.queries("profile_topk_approx")(spark, sf))
    assert(nScans == 2, s"expected exactly 2 input scans, got $nScans:\n${p.take(3000)}")
  }

  test("profile_drift_psi_ks scans its input exactly once") {
    // the drift gate's contract is ONE groupBy(bucket) pass over the
    // input, one global aggregate collecting the ≤ nBins-row histogram,
    // and a one-row DriftMath finish. An earlier shape recomputed the
    // metrics as broadcast-joined sub-plans with an nBins² sequence
    // expansion (16 jobs per click); pin that none of it comes back.
    val (nScans, p) = executedScanCount(SparkEntry.queries("profile_drift_psi_ks")(spark, sf))
    assert(nScans == 1, s"expected exactly 1 input scan, got $nScans:\n${p.take(3000)}")
    assert(!p.contains("BroadcastExchange") && !p.contains("Generate"),
      s"expected no broadcast and no generator in the drift plan:\n${p.take(3000)}")
  }

  test("profile_topk_heavy: one broadcast candidate join, exactly two input scans") {
    // the two-pass exact heavy hitters: pass 2 must count only rows
    // matching the tiny (groups×capacity) candidate relation — broadcast
    // at runtime, never a shuffle join — and the sketch/count aggregate
    // must be ONE subtree, so the input is scanned exactly twice (an
    // earlier shape consumed the sketch twice with disjoint projections
    // and paid a third full scan)
    val (nScans, p) = executedScanCount(SparkEntry.queries("profile_topk_heavy")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"candidate side not broadcast at bench scale:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"pass-2 prune degraded to a shuffle join:\n${p.take(2000)}")
    assert(nScans == 2, s"expected exactly 2 input scans, got $nScans:\n${p.take(3000)}")
  }

  test("no declared query feeds a Window from an Exchange SinglePartition") {
    // A whole-table window (empty partitionBy / global ORDER) plans
    // `Exchange SinglePartition → [Sort] → Window` — every row through one
    // task; THE scale-killer at 100 TB. Scalar stats must instead reduce
    // via agg and come back with crossJoin(broadcast(...)).
    // Allowlisted: ops whose DECLARED semantics are one globally ordered
    // sequence, applied to already-aggregated/tiny inputs (a per-day series,
    // one ranked customer list) — documented in SCALE.md.
    // window_ntile_percent left the allowlist in round 12: it now rides
    // distributedRank, so the guard must hold it to the same bar
    val allow = Set("window_moving_avg")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => allow(q._1)).foreach { case (name, fn) =>
        val lines = fn(spark, sf).queryExecution.executedPlan
          .toString.linesIterator.toVector
        lines.zipWithIndex.foreach { case (l, i) =>
          if (l.contains("Window [")) {
            // Walk down through the window's single-child wrapper stack
            // (Sort / WholeStageCodegen / InputAdapter / AQEShuffleRead /
            // Project…) to the FIRST exchange below it — that is the
            // exchange satisfying the window's distribution requirement.
            // Stopping there avoids false positives from legitimate
            // SinglePartition exchanges in deeper broadcast-stats
            // subplans, while catching arbitrarily deep wrapper stacks
            // (the fixed 3-line peek missed those).
            val feeder = lines.drop(i + 1).take(12)
              .find(x => x.contains("Exchange") || x.contains("Scan ") ||
                x.contains("Join") || x.contains("Window ["))
            // Exception: distributedRunningSum's LEVEL-2 reduction — the
            // offsets window over PER-SHARD TOTALS (keys contain __shard).
            // Its input is nShards rows (bounded by cluster config, not
            // data); one task over it is the two-level prefix sum working
            // as designed, not a full-data global window. Detect it by
            // the shard-keyed aggregate feeding the exchange.
            val isShardOffsets = feeder.exists(_.contains("Exchange SinglePartition")) &&
              lines.drop(i + 1).take(16)
                .exists(x => x.contains("HashAggregate") && x.contains("__shard"))
            assert(isShardOffsets ||
              !feeder.exists(_.contains("Exchange SinglePartition")),
              s"$name plans Exchange SinglePartition -> Window:\n" +
                lines.slice(i, i + 12).mkString("\n"))
          }
        }
      }
  }

  test("analytics top-N reports end in TakeOrderedAndProject, not a global sort") {
    Seq("analytics_shipping_priority", "analytics_returned_items").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n${p.take(2000)}")
    }
  }

  test("analytics_local_supplier_volume broadcasts the region-nation reduction") {
    val p = plan("analytics_local_supplier_volume")
    // region→nation and nation→supplier are explicit broadcasts; the
    // fact joins stay unhinted (AQE may still broadcast them at test SF)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("analytics_discount_revenue pushes every predicate into the parquet scan") {
    val p = plan("analytics_discount_revenue")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    // assert the COMPARISON forms, not bare column names — IsNotNull
    // entries alone would satisfy a name check while the range pushdown
    // silently regressed
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach { c =>
      assert(pushed.contains(c), s"missing pushed range filter $c:\n$pushed")
    }
  }

  test("pipeline_mix_temperature filters the corpus against a broadcast rate table") {
    val p = plan("pipeline_mix_temperature")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the corpus-side pass must not shuffle documents before the filter:
    // the only hash exchanges are the tiny stats/kept aggregates
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("text_lm_unigram_score scores through a broadcast vocab join") {
    val p = plan("text_lm_unigram_score")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("graph edge build expands pairs map-side via the native ArrayPairs") {
    // the declared query localCheckpoints the edges (its plan shows only
    // the ExistingRDD scan), so pin the BUILDER's plan: one aggregate to
    // the basket grain + map-side ArrayPairs explode, no self-join
    val p = GraftOps.coOccurrenceEdges(
      Tables(spark, sf, "lineitem"), "l_orderkey", "l_partkey", 2L)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("arraypairs"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"edge build should be join-free:\n${p.take(3000)}")
  }

  test("fuzzy JW queries run the native codegen JaroWinkler, not a UDF") {
    Seq("fuzzy_cluster_jaro_winkler", "dedup_sorted_neighborhood").foreach { q =>
      val p = plan(q).toLowerCase
      assert(p.contains("jarowinkler"), s"$q:\n${p.take(3000)}")
      assert(!p.contains("batchevalpython") && !p.contains("scalaudf"),
        s"$q fell back to a UDF:\n${p.take(3000)}")
    }
  }

  test("join_interval_overlap joins on the time-cell composite, not a theta loop") {
    val p = plan("join_interval_overlap")
    // the bucketed cell key must be a JOIN key (equi-join shape); the
    // full-suite guards already reject Cartesian/conditioned-BNLJ forms
    assert(p.contains("__cell"), p.take(3000))
    assert(p.contains("Join"), p.take(3000))
  }
}
