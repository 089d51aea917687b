package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders + cross-engine determinism helpers.
  *
  * Every declared query reads inputs exclusively through [[Tables.apply]]
  * (driver contract: `spark.read.parquet(s"$sfDir/<table>.parquet")`).
  *
  * Determinism rules (SURVEY.md §5): money-like aggregates are computed in
  * DECIMAL(18,4) (exact, associative — partition order can't change the sum)
  * and only cast back to DOUBLE at the end, so Spark and the DuckDB oracle
  * produce bit-identical doubles.
  */
object Tables {

  /** Retry-determinism chaos mode (SPARK_GRAFT_CHAOS=1): every table read
    * gains a map-side shim that THROWS on attempt 0 of every 5th scan
    * partition, forcing the real task-retry machinery to re-execute those
    * partitions (run under master local[n, maxFailures>1], see Verify).
    * The retried attempt passes the rows through untouched, so a green
    * oracle gate under chaos proves every declared query's output is
    * bit-stable under task retries — the determinism axis spills can't
    * cover. Diagnostic only: the shim inserts a row-codec boundary that
    * blocks pushdown, so never enable it for benchmarks. The injection
    * counter is JVM-global (valid in local mode, where executors share
    * the driver JVM). */
  private[graft] val chaosInjected = new java.util.concurrent.atomic.AtomicLong(0)
  private val chaosOn: Boolean = sys.env.get("SPARK_GRAFT_CHAOS").contains("1")

  private def chaosWrap(df: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 5 == 0) {
        chaosInjected.incrementAndGet()
        throw new RuntimeException(
          s"graft-chaos: injected attempt-0 failure, partition ${tc.partitionId()}")
      }
      it
    }(enc)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val base = load(spark, dir, name)
    if (chaosOn) chaosWrap(base) else base
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in two parquet encodings across driver
      // testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
      // reader rejects — read nanos as long, truncate toward zero to
      // micros via integral DIV, exactly DuckDB's cast(ts_ns AS timestamp)
      // on the post-epoch testdata; pre-epoch nanos would round toward
      // zero rather than floor in BOTH engines, so parity holds there
      // too) and plain TIMESTAMP(µs) with no timezone (Spark
      // TIMESTAMP_NTZ). Adapt on the observed schema so either generation
      // works; both paths land on session-tz TimestampType with identical
      // µs values (every entry point pins spark.sql.session.timeZone=UTC,
      // so the NTZ→LTZ cast is the identity on the stored micros). Any
      // OTHER encoding is a new testdata generation we haven't audited for
      // cross-engine determinism — fail fast naming it rather than letting
      // an unconverted ts flow into every downstream query.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => df // already session-tz TimestampType
        case other =>
          throw new IllegalStateException(
            s"events.ts arrived as unaudited dataType $other; expected parquet " +
              "TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP — audit the new " +
              "encoding for Spark/DuckDB parity before widening this match")
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  // ---- determinism helpers -------------------------------------------------

  /** Exact decimal view of a money-like double column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-insensitive sum of a money column, surfaced as DOUBLE.
    * sum(DECIMAL) is exact regardless of partitioning; the final
    * decimal→double cast is IEEE round-to-nearest in both engines. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Deterministic mean: exact decimal sum divided by count, in double.
    * Both engines perform the identical IEEE division. */
  def davg(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(c)

  /** DuckDB-side equivalents (kept adjacent so the two dialects stay in sync). */
  def sqlDsum(x: String): String = s"cast(sum(cast($x as decimal(18,4))) as double)"
  def sqlDavg(x: String): String =
    s"cast(sum(cast($x as decimal(18,4))) as double) / count($x)"

  /** Timestamps cross the Spark(µs)/DuckDB(ns) parquet boundary as epoch
    * seconds (BIGINT) — immune to precision/printing differences. */
  def epochS(c: Column): Column = unix_timestamp(c)

  /** THE scratch-path convention: gitignored, per-(kind, sf-dir, JVM) so
    * runs against different scale factors never clobber each other AND two
    * concurrent JVMs against the same repo (e.g. a Verify racing an sbt test run)
    * never overwrite under each other's reads — the bucketed-table catalog
    * check is JVM-local, so without the pid key each process saw "table
    * missing" and raced the rewrite. Every query that writes a layout
    * before reading it back goes through here. Dirs accumulate per JVM
    * run (tens of MB at sf0.1) under gitignored target/; `sbt clean` or a
    * target/ wipe reclaims them. */
  def scratchDir(kind: String, dir: String): String =
    s"target/graft_scratch/p${ProcessHandle.current().pid()}_${kind}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
}
