package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder of the hot-key corpus: the scale dimension [[ScaleProbe]]'s
  * corpora cannot show.
  *
  * ScaleProbe grows VOLUME with per-key densities unchanged; a 100 TB
  * corpus also has hot keys — one user owning a visible share of events,
  * one orderkey owning a visible share of lineitem, one near-duplicate
  * cluster owning most LSH candidate pairs. This builder holds volume
  * FIXED (typically the 10× ScaleProbe corpus) and re-distributes key mass:
  *
  *  - events: one existing user takes every `event_id % 10 == 0` row
  *    (~10% of all events in one `partitionBy(user_id)` partition);
  *  - lineitem: one existing orderkey takes every `l_orderkey % 10 == 0`
  *    order's lines (~10% of the fact behind one join/groupBy key);
  *  - orders: one existing customer takes ~10% of orders;
  *  - documents: 1% of docs become near-duplicates of one template
  *    (shared shingles + a unique tail) — one LSH band bucket owning the
  *    overwhelming majority of candidate pairs, the classic hot-bucket
  *    failure mode of MinHash dedup;
  *  - embeddings: one label absorbs ~10% of vectors (hot cluster for the
  *    label-blocked similarity kernels).
  *
  * Usage: runMain graft.SkewProbe <baseDir> <outDir>
  *   (build a scaled `baseDir` first with graft.ScaleProbe)
  */
object SkewProbe {

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.SkewProbe <baseDir> <outDir>")
      sys.exit(2)
    }
    val spark = ScaleProbe.session()
    try buildHotIfAbsent(spark, args(0), args(1))
    finally spark.stop()
  }

  /** Re-key `base` into `out` so each skew dimension has one hot key;
    * volume, schemas, and all non-skewed tables are unchanged. Reuses
    * `out` only when it was built from the same `base` and, for a scaled
    * base, from the same ScaleProbe build of it. */
  def buildHotIfAbsent(spark: SparkSession, base: String, out: String): Unit = {
    val stamp = s"base=$base" +
      ScaleProbe.stampOf(base, "_GRAFT_SCALE_OK").fold("")(b => s" ($b)")
    ScaleProbe.buildUnlessStamped(out, "_GRAFT_SKEW_OK", stamp) {
      def read(t: String) = spark.read.parquet(s"$base/$t.parquet")
      def minKey(t: String, c: String): Long =
        read(t).agg(min(col(c))).head().getAs[Number](0).longValue()
      def write(t: String)(df: DataFrame): Unit = {
        df.write.mode("overwrite").parquet(s"$out/$t.parquet")
        System.err.println(s"[corpus]   wrote $t")
      }
      // unskewed tables: copy as-is so the two dirs differ ONLY in key mass
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        write(t)(read(t))
      }
      val hotUser = minKey("events", "user_id")
      write("events")(read("events").withColumn("user_id",
        when(pmod(col("event_id"), lit(10L)) === 0L, lit(hotUser))
          .otherwise(col("user_id"))))
      val hotOrder = minKey("orders", "o_orderkey")
      write("lineitem")(read("lineitem").withColumn("l_orderkey",
        when(pmod(col("l_orderkey"), lit(10L)) === 0L, lit(hotOrder))
          .otherwise(col("l_orderkey"))))
      val hotCust = minKey("customer", "c_custkey")
      write("orders")(read("orders").withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(10L)) === 0L, lit(hotCust))
          .otherwise(col("o_custkey"))))
      // 1% of docs: shared 150-word template + unique tail → one LSH band
      // bucket holds ~C(n/100, 2) candidate pairs, dwarfing organic pairs
      val template = (0 until 150).map(j => s"dupword$j").mkString(" ")
      write("documents")(read("documents")
        .withColumn("text",
          when(pmod(col("doc_id"), lit(100L)) === 0L,
            concat(lit(template), lit(" uniq"), col("doc_id").cast("string")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long")))
      val hotLabel = minKey("embeddings", "label")
      write("embeddings")(read("embeddings").withColumn("label",
        when(pmod(col("vec_id"), lit(10L)) === 0L, lit(hotLabel).cast("int"))
          .otherwise(col("label"))))
    }
  }
}
