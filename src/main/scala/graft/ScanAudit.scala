package graft

/** Dev diagnostic (not part of the driver contract): EXECUTES every
  * declared query and reports how many parquet scans its FINAL adaptive
  * plan materialized. PLANS.md (pre-execution formatted explain) counts
  * every scan SUBTREE — AQE stage/exchange reuse only collapses
  * duplicates at runtime — so this is the honest census for the
  * pruning-breaks-reuse trap that bit pipeline_select_budget and
  * profile_drift_psi_ks in round 7: a DataFrame consumed by 2+ branches
  * whose projections diverge stops canonicalizing, and the input is
  * silently scanned (and shuffled) once per branch.
  *
  * Run: sbt "runMain graft.ScanAudit /root/testdata/sf0.001"
  * Output: one line per query, `scans=N name`, sorted descending — plus
  * a trailing table-level tally. Expected N > 1 only for genuine
  * self-joins / multi-table joins; anything else is a reuse miss. */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = localSession()
    // Tree walk, not string grep: the plan STRING prints the cached plan
    // inside every InMemoryRelation (built once per sweep, not per query)
    // and repeats exchanges under "== Initial Plan ==" — both inflate a
    // text census. Walking the executed tree counts a FileSourceScan
    // exactly when this query's runtime materializes it: AQE wrappers
    // are flattened, ReusedExchange is NOT descended (its child is the
    // already-counted original), InMemoryTableScan has no plan children
    // so cached builds never count.
    import org.apache.spark.sql.execution.{FileSourceScanExec, ReusedSubqueryExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // subqueries (scalar subqueries, DPP SubqueryBroadcast) hang off
    // p.subqueries, not p.children — a scan inside one is just as live
    def liveScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => liveScans(a.executedPlan)
      case q: QueryStageExec        => liveScans(q.plan)
      case _: ReusedExchangeExec    => 0
      case _: ReusedSubqueryExec    => 0
      case f: FileSourceScanExec    => 1 + f.subqueries.map(liveScans).sum
      case other => (other.children ++ other.subqueries).map(liveScans).sum
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect()
        Some(name -> liveScans(df.queryExecution.executedPlan))
      } catch {
        case e: Throwable =>
          System.err.println(s"[scanaudit] $name failed: ${e.getMessage}")
          None
      }
    }
    results.sortBy(-_._2).foreach { case (name, n) => println(s"scans=$n $name") }
    println(s"audited=${results.size} total_scans=${results.map(_._2).sum}")
    try GraftOps.clearDedupCaches(spark) catch { case _: Throwable => () }
    spark.stop()
  }
}
