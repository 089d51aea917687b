package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder of the scaled corpora behind SCALE.md's scale correctness runs:
  * a synthesized `factor`× copy of a testdata dir that `Verify` +
  * `tools/check.py` / `tools/sf1_gate.py` run against.
  *
  * The scaled corpus is KEY-SHIFTED UNION GROWTH, the realistic growth
  * mode for each table family:
  *  - fact/dimension keys (orderkey, custkey, partkey, suppkey, user_id,
  *    doc_id, vec_id) shift by `k · (max_key + 1)` per copy k, so joins
  *    stay key-coherent (every shifted lineitem row still finds its
  *    shifted order/part/supplier) and per-key densities are UNCHANGED —
  *    10× data means 10× entities, not 10× rows per entity.
  *  - document text gets a per-copy word salt (each word prefixed with a
  *    copy tag), so cross-copy shingle overlap is ~zero: the dedup/LSH
  *    workload grows by corpus size, not by planted duplicate density
  *    (identical copies would manufacture a 10-way near-dup cluster per
  *    doc — a workload CHANGE, not a scale-up).
  *  - embedding labels shift per copy (more clusters of the same size —
  *    the scale-out growth mode for blocked similarity), and vectors get
  *    a tiny per-copy first-component offset so exact-duplicate
  *    degeneracy can't reward or punish the ANN paths.
  *  - region/nation stay fixed (true dimensions), timestamps keep their
  *    range (10× density inside the same window — event streams grow in
  *    traffic, not in calendar).
  *
  * Usage: runMain graft.ScaleProbe <baseDir> <outDir> <factor>
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: graft.ScaleProbe <baseDir> <outDir> <factor>")
      sys.exit(2)
    }
    val spark = session()
    try buildIfAbsent(spark, args(0), args(1), args(2).toInt)
    finally spark.stop()
  }

  /** Local session for the corpus builder mains. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The record a finished build left in `dir`'s `sentinel`, if any. */
  private[graft] def stampOf(dir: String, sentinel: String): Option[String] = {
    val p = Paths.get(dir, sentinel)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8")) else None
  }

  /** Run `build` into `out` unless `out`'s sentinel already records
    * `stamp`. A sentinel from another build (other factor or base) is
    * removed first, so a build that dies midway never leaves one behind. */
  private[graft] def buildUnlessStamped(out: String, sentinel: String,
      stamp: String)(build: => Unit): Unit = {
    if (stampOf(out, sentinel).contains(stamp)) {
      System.err.println(s"[corpus] reusing $out ($stamp)")
      return
    }
    val done = Paths.get(out, sentinel)
    Files.deleteIfExists(done)
    System.err.println(s"[corpus] building $out ($stamp) ...")
    val t0 = System.nanoTime()
    build
    Files.createDirectories(done.getParent)
    Files.write(done, stamp.getBytes("UTF-8"))
    System.err.println(s"[corpus] built in ${(System.nanoTime() - t0) / 1000000000L}s")
  }

  /** Synthesize the key-shifted `factor`× corpus of `base` at `out`,
    * unless `out` already holds exactly that corpus. */
  def buildIfAbsent(spark: SparkSession, base: String, out: String,
      factor: Int): Unit =
    buildUnlessStamped(out, "_GRAFT_SCALE_OK", s"factor=$factor base=$base") {
      def read(t: String) = spark.read.parquet(s"$base/$t.parquet")
      def maxPlus1(t: String, c: String): Long =
        // schema-width tolerant: testdata may write int32 keys
        read(t).agg(max(col(c))).head().getAs[Number](0).longValue() + 1L
      val so = maxPlus1("orders", "o_orderkey")
      val sc = maxPlus1("customer", "c_custkey")
      val sp = maxPlus1("part", "p_partkey")
      val ss = maxPlus1("supplier", "s_suppkey")
      val se = maxPlus1("events", "event_id")
      val su = maxPlus1("events", "user_id")
      val sd = maxPlus1("documents", "doc_id")
      val sv = maxPlus1("embeddings", "vec_id")

      def writeCopies(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
        val b = if (t == "events") Tables(spark, base, t) else read(t)
        (0 until factor).map(k => f(b, k)).reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        System.err.println(s"[corpus]   wrote $t")
      }
      // true dimensions: fixed cardinality at any scale
      Seq("region", "nation").foreach { t =>
        read(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      writeCopies("customer")((d, k) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(k * sc)))
      writeCopies("supplier")((d, k) =>
        d.withColumn("s_suppkey", col("s_suppkey") + lit(k * ss)))
      writeCopies("part")((d, k) =>
        d.withColumn("p_partkey", col("p_partkey") + lit(k * sp)))
      writeCopies("orders")((d, k) => d
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * so))
        .withColumn("o_custkey", col("o_custkey") + lit(k * sc)))
      writeCopies("lineitem")((d, k) => d
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * so))
        .withColumn("l_partkey", col("l_partkey") + lit(k * sp))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * ss)))
      writeCopies("events")((d, k) => d
        .withColumn("event_id", col("event_id") + lit(k * se))
        .withColumn("user_id", col("user_id") + lit(k * su)))
      // per-copy word salt → cross-copy shingle overlap ~0 (see scaladoc)
      writeCopies("documents")((d, k) => {
        val salted = if (k == 0) col("text")
          else regexp_replace(col("text"), "(^|\\s)", "$1c" + k + "z")
        d.withColumn("doc_id", col("doc_id") + lit(k * sd))
          .withColumn("text", salted)
          .withColumn("n_chars", length(col("text")).cast("long"))
      })
      writeCopies("embeddings")((d, k) => d
        .withColumn("vec_id", col("vec_id") + lit(k * sv))
        .withColumn("label", col("label") + lit(k * 1000))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> IF(i = 0, cast(x + $k * 1.0E-4 AS float), x))")))
    }
}
