package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Run `body(label, input)` once per branch of the distributed
    * prefix-sum kernels' range split: `df` as given ("slim" — the
    * kernel's own columns, one range exchange shared through reuse),
    * `df` plus a payload column ("wide" — localCheckpoint fallback), and
    * `df` under spark.sql.exchange.reuse=false ("reuse-off" —
    * localCheckpoint fallback; the conf is restored afterwards). */
  def forEachShardSplit(df: DataFrame)(body: (String, DataFrame) => Unit): Unit = {
    body("slim", df)
    body("wide", df.withColumn("payload", concat(lit("x"), col(df.columns.head))))
    val key = "spark.sql.exchange.reuse"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body("reuse-off", df)
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
