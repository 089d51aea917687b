package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Round 12 guards.
  *
  * Global-window pin (VERDICT r11 "what's wrong"): `sbt test` emitted
  * unattributed `WindowExec: No Partition Defined` warnings. The
  * WindowAudit main attributed every emitter: all but one were the
  * two-level prefix-sum kernel's SECOND level (a global window over the
  * per-shard totals aggregate — one row per shuffle partition, dimension-
  * sized by construction) or a calendar-bounded per-day readout
  * (window_moving_avg); the one FACT-SIZED global window
  * (window_ntile_percent's ntile over all customers) was reworked onto
  * distributedRank this round. This spec pins the invariant so it can't
  * regress: in every declared query's physical plan, every path from an
  * unpartitioned WindowExec down to a leaf must pass through an aggregate
  * (or bottom out in a driver-embedded LocalTableScan) — i.e. a global
  * window may only ever see aggregate-reduced (dimension-sized) rows,
  * never raw fact rows.
  */
class Round12Spec extends SparkSuite {

  /** Every root-to-leaf path below `p` hits an Aggregate before a scan
    * leaf (local literal relations are dimension-sized by construction). */
  private def aggregateReduced(p: SparkPlan): Boolean = {
    val n = p.getClass.getSimpleName
    if (n.contains("Aggregate")) true
    else if (p.children.isEmpty && p.subqueries.isEmpty)
      n.contains("LocalTableScan") || n.contains("EmptyRelation")
    else if (p.children.isEmpty) p.subqueries.forall(aggregateReduced)
    else p.children.forall(aggregateReduced)
  }

  private def globalWindows(p: SparkPlan): Seq[WindowExec] =
    p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

  test("every unpartitioned window in every declared query rides an aggregate-reduced input") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan
        globalWindows(plan).filterNot(w => aggregateReduced(w.child)).map {
          w => s"$name: global window over non-reduced input:\n${w.child.treeString.take(800)}"
        }
    }
    assert(offenders.isEmpty, offenders.mkString("\n---\n"))
  }

  test("round-11 kernels are SQL-callable: substr_dedup / line_dedup / scd2_history") {
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    import s2.implicits._

    // substr dedup: doc 2 repeats doc 1's 10-word run -> span removed
    val run = (1 to 10).map(i => s"w$i").mkString(" ")
    Seq((1L, run + " alpha beta"), (2L, "gamma " + run + " delta"),
      (3L, "totally unrelated words here"))
      .toDF("id", "body").createOrReplaceTempView("g_sd")
    val sd = s2.sql("SELECT * FROM graft_substr_dedup('g_sd', 'id', 'body', 8)")
    assert(sd.columns.contains("doc_id") && sd.count() == 3)
    val dupDocs = sd.where(col("n_spans") > 0).count()
    assert(dupDocs >= 1, "repeated 10-word span not detected via SQL")

    // line dedup: identical 8-word blocks keep only the first occurrence
    val blk = (1 to 8).map(i => s"b$i").mkString(" ")
    Seq((1L, blk + " " + blk), (2L, blk))
      .toDF("id", "body").createOrReplaceTempView("g_ld")
    val ld = s2.sql("SELECT * FROM graft_line_dedup('g_ld', 'id', 'body', 8)")
      .orderBy("doc_id").collect()
    assert(ld.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // doc 1 owns the block's first occurrence; doc 2's copy is dropped
    val kept = ld.map(r => r.getAs[Long]("n_kept")).toSeq
    assert(kept.head >= 1 && kept(1) == 0L,
      s"line-dedup first-occurrence rule broken: kept=$kept")

    // scd2: per-key validity intervals from a change feed, with tie col
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "x"))
      .toDF("k", "ts", "v").createOrReplaceTempView("g_s2")
    val s2h = s2.sql("SELECT * FROM graft_scd2_history('g_s2', 'k', 'ts', 'v')")
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("valid_from"),
        Option(r.getAs[Any]("valid_to")), r.getAs[Boolean]("is_current")))
    assert(s2h.toSeq == Seq((1L, 10L, Some(20L), false),
      (1L, 20L, None, true), (2L, 5L, None, true)))
  }

  test("window_ntile_percent no longer plans a fact-sized global window") {
    val plan = SparkEntry.queries("window_ntile_percent")(spark, sf)
      .queryExecution.sparkPlan
    globalWindows(plan).foreach { w =>
      assert(aggregateReduced(w.child),
        "ntile rework regressed to a raw-fact global window")
    }
    // and the rank kernel is actually in the plan (a shuffle keyed on the
    // range-partitioning spine, not a single-partition sort of the fact)
    assert(plan.toString.contains("rangepartitioning") ||
      plan.toString.contains("hashpartitioning"),
      "expected distributed exchange in the reworked ntile plan")
  }

  test("both ntile/percent_rank queries give SQL's percent_rank 0.0 on a one-row customer table") {
    // percent_rank() is 0 for the only row of a one-row window; the
    // arithmetic form (rn−1)/(n−1) needs its n = 1 guard in both keys
    val dir = java.nio.file.Files.createTempDirectory("graft-one-customer").toString
    try {
      spark.read.parquet(s"$sf/customer.parquet").orderBy("c_custkey").limit(1)
        .write.parquet(s"$dir/customer.parquet")
      Seq("window_ntile_percent", "window_ntile_percent_distributed").foreach { q =>
        val rows = SparkEntry.queries(q)(spark, dir)
          .select("quartile", "pr", "cd").collect()
        assert(rows.length == 1, s"$q: ${rows.mkString(",")}")
        val r = rows.head
        assert(r.getAs[Number]("quartile").longValue == 1L &&
          r.getAs[Double]("pr") == 0.0 && r.getAs[Double]("cd") == 1.0, s"$q: $r")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
