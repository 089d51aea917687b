package graft

import java.nio.file.{Files, Paths}

/** Dump plans for a LIST of declared queries — the per-query counterpart
  * of [[Explain]], for the optimization-round before/after artifacts.
  * For each name, writes `<outDir>/<name><suffix>.txt` containing
  * explain("formatted") plus the AQE-final executed plan (the formatted
  * view shows the initial plan; the executed section is where
  * ReusedExchange / AQEShuffleRead / runtime join changes appear).
  *
  *   sbt "runMain graft.ExplainOne <outDir> <suffix> <query> [query...]"
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainOne <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = localSession()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val body = s"# $name ($sfDir)\n\n== explain(formatted) ==\n\n" +
        formatted + "\n== executed plan (AQE final) ==\n\n" + executed
      Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), body)
      println(s"wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
