package object graft {
  /** A declared query: (session, scale-factor dir) => result DataFrame.
    * Verify materializes it; perfbench's reports collect it. */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame
}
