package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names — dump (and emit oracle
    // SQL for) only the matching subset. Lets a targeted sf0.1 re-gate of
    // one changed query skip the full multi-minute sweep; the driver never
    // passes it, so driver behavior is unchanged.
    val keep: String => Boolean =
      args.lift(2).map(r => (n: String) => n.matches(r))
        .getOrElse(_ => true)
    // Retry-determinism sweep (round 12): SPARK_GRAFT_MAX_FAILURES=k runs
    // under master local[n, k] (task retries enabled), pairing with
    // Tables' SPARK_GRAFT_CHAOS=1 fail-once injection — the gate's hashes
    // must be identical to a clean run. Both are off unless set.
    val maxFailures = sys.env.get("SPARK_GRAFT_MAX_FAILURES").map(_.toInt)
    val spark = localSession(
      maxFailures.fold(s"local[$localCpus]")(k => s"local[$localCpus, $k]"))
    // observed retry activity, reported at the end so the sweep proves
    // the failure path actually exercised
    val failedTasks = new java.util.concurrent.atomic.AtomicLong(0)
    if (maxFailures.isDefined) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          if (e.taskInfo != null && e.taskInfo.failed) failedTasks.incrementAndGet()
        }
      })
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    if (maxFailures.isDefined)
      System.err.println(s"[verify-chaos] injected_failures=${Tables.chaosInjected.get()} " +
        s"failed_tasks=${failedTasks.get()}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release the dedup stack's persisted relations before shutdown — the
    // 142-query sweep otherwise holds its shared shingle-array caches
    // for the rest of the JVM's life
    try GraftOps.clearDedupCaches(spark) catch { case e: Throwable =>
      System.err.println(s"[verify] cache clear failed: ${e.getMessage}")
    }
    try GraftOps.clearGraphCaches(spark) catch { case e: Throwable =>
      System.err.println(s"[verify] graph cache clear failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
