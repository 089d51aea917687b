package graft

import java.nio.file.{Files, Paths}

/** Dumps explain("formatted") for every declared query → PLANS.md.
  * Run: sbt "runMain graft.Explain /root/testdata/sf0.01" */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = localSession()
    val sb = new StringBuilder
    sb.append("# PLANS — explain(formatted) for every declared query\n\n")
    sb.append(s"Generated by `graft.Explain` at $sfDir. Regenerate after plan-affecting changes.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch {
        case e: Throwable => sb.append(s"\n## $name\n\nEXPLAIN FAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${SparkEntry.queries.size} queries)")
    spark.stop()
  }
}
