package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Diagnostic: which declared queries carry a WindowExec with an EMPTY
  * partitionSpec (the "Moving all data to a single partition" warning)?
  *
  * A global window is only acceptable over a DIMENSION-SIZED input (an
  * aggregate-reduced readout — vocab rounds, sketch codebooks, per-group
  * report rows); over a fact-sized input it is the classic single-node
  * bottleneck at 100 TB. This audit walks every declared query's physical
  * plan (pre-execution — window nodes are not AQE-reordered), EXECUTES the
  * unpartitioned window's CHILD subtree to count the actual rows crossing
  * the single partition, and prints one line per occurrence:
  *
  *   <query>  rows=<n>  child=<top child node class>
  *
  * Usage: runMain graft.WindowAudit <sfDir> [nameRegex]
  * The round-12 guard in Round12Spec pins the allowlist this audit
  * produced: every emitter must stay dimension-sized (<= CAP rows).
  */
object WindowAudit {

  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec        => p +: allNodes(q.plan)
    case _                        => p +: p.children.flatMap(allNodes)
  }

  /** (windowExec, childRowCount) for every empty-partitionSpec WindowExec
    * in df's plan. The plan is executed ONCE in full (so AQE stages
    * materialize), then each global window's input size is read from the
    * `numOutputRows` metric of its nearest aggregate-side descendant —
    * executing the child subtree standalone fails under AQE for plans
    * with reused exchanges, which is why the old path read -1 at 10x. */
  def globalWindows(df: org.apache.spark.sql.DataFrame): Seq[(WindowExec, Long)] = {
    val qe = df.queryExecution
    try qe.executedPlan.execute().count() catch { case _: Throwable => }
    allNodes(qe.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        val n = allNodes(w.child)
          .find(p => p.metrics.contains("numOutputRows") &&
            p.metrics("numOutputRows").value > 0)
          .map(_.metrics("numOutputRows").value)
          .getOrElse {
            try w.child.execute().count() catch { case _: Throwable => -1L }
          }
        (w, n)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val keep: String => Boolean =
      args.lift(1).map(r => (n: String) => n.matches(r)).getOrElse(_ => true)
    val spark = localSession()
    var hits = 0
    SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1)).foreach {
      case (name, fn) =>
        try {
          val gw = globalWindows(fn(spark, sfDir))
          gw.foreach { case (w, n) =>
            hits += 1
            println(s"GLOBALWINDOW $name rows=$n child=${w.child.getClass.getSimpleName} exprs=${w.windowExpression.map(_.sql).mkString(";").take(120)}")
          }
        } catch {
          case e: Throwable =>
            println(s"ERR $name ${String.valueOf(e.getMessage).replace('\n', ' ').take(120)}")
        }
    }
    println(s"TOTAL_GLOBAL_WINDOWS $hits")
    spark.stop()
  }
}
