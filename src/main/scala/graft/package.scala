import org.apache.spark.sql.SparkSession

package object graft {
  /** A declared query: (session, scale-factor dir) => result DataFrame.
    * Verify materializes it; perfbench's reports collect it. */
  type Q = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Cores of the dev mains' local session: SPARK_GRAFT_CPUS, default 4. */
  private[graft] def localCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The one local session the dev mains (Verify, Explain, ExplainOne,
    * ScanAudit, WindowAudit, ScaleProbe, SkewProbe) run on: `master`
    * (default local[localCpus]) with localCpus shuffle partitions, UTC
    * session time zone, no UI, WARN logging. */
  private[graft] def localSession(master: String = s"local[$localCpus]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", localCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
