package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The round-14 distributed-lag kernels (llm.Chunking.distributedLag /
  * distributedSessionize): exact parity with the single-window forms at
  * any shard count, including shard-spanning groups, null group keys,
  * null lagged values, and the hot-key shape the kernel exists for. */
class DistributedLagSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  private val gap = 100L // µs session gap for the sessionize tests

  // one hot user owning ~60% of rows + many small users; timestamps
  // cluster so sessions break mid-run, ids make the order unique.
  private def events(n: Int): Seq[(String, Long, Long)] = // (user, ts, id)
    (0 until n).map { i =>
      val u = if (i % 5 < 3) "hot" else s"u${i % 17}"
      // bursts of 4 rows 10µs apart, then a 150µs jump (> gap ⇒ new session)
      val ts = (i / 4).toLong * 150L + (i % 4).toLong * 10L
      (u, ts, i.toLong)
    }

  test("distributedLag == window lag at any shard count (hot key, spanning shards)") {
    // 4000 rows over 4 input partitions: RangePartitioner samples only
    // part of each, so the tails and window branches must share ONE range
    // split (reused exchange or localCheckpoint) or the shard-boundary
    // lags misalign.
    val base = events(4000).toDF("u", "ts", "id").repartition(4)
    val w = Window.partitionBy("u").orderBy("ts", "id")
    val want = base.withColumn("prev", lag(col("ts"), 1).over(w))
      .select("id", "prev").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    forEachShardSplit(base) { (split, df) =>
      for (shards <- Seq(1, 5, 64)) {
        val got = GraftOps.distributedLag(df, "u", Seq("ts", "id"), "ts", "prev",
            shards = shards)
          .select("id", "prev").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
        assert(got == want, s"lag diverged from the window form at shards=$shards split=$split")
      }
    }
  }

  test("distributedLag: null group keys group together, null VALUES lag through") {
    // value null at id=2: id=3's lag must be None-the-VALUE (null), and
    // id=4's lag must be 30 — a null tail value crossing a shard boundary
    // must not be confused with "no predecessor" (the __has marker).
    val df = Seq(
      (Option.empty[String], 1L, Option(10L)),
      (Option.empty[String], 2L, Option.empty[Long]),
      (Option.empty[String], 3L, Option(30L)),
      (Option.empty[String], 4L, Option(40L)),
      (Option("a"), 1L, Option(99L))).toDF("u", "id", "v")
    for (shards <- Seq(1, 4)) {
      val got = GraftOps.distributedLag(df, "u", Seq("id"), "v", "pv",
          shards = shards)
        .select("u", "id", "pv").collect()
        .map(r => (Option(r.getString(0)), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      assert(got == Set(
        (None, 1L, None), (None, 2L, Some(10L)), (None, 3L, None),
        (None, 4L, Some(30L)), (Some("a"), 1L, None)),
        s"null-key/null-value lag wrong at shards=$shards: $got")
    }
  }

  test("distributedSessionize == single-window session ids at any shard count") {
    val rows = events(300)
    val df = rows.toDF("u", "ts", "id")
    val w = Window.partitionBy("u").orderBy("ts", "id")
    val want = df
      .withColumn("ns",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > gap, 1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "sid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (shards <- Seq(1, 5, 64)) {
      val got = GraftOps.distributedSessionize(df, "u", "ts", Seq("id"), gap,
          "sid", shards = shards)
        .select("id", "sid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"session ids diverged at shards=$shards")
    }
  }

  test("distributedSessionize carries extra columns and keeps null keys one group") {
    val df = Seq(
      (Option.empty[String], 0L, 1L, "view"),
      (Option.empty[String], 50L, 2L, "cart"),   // gap 50 ≤ 100 ⇒ same session
      (Option.empty[String], 500L, 3L, "buy"),   // gap 450 > 100 ⇒ new session
      (Option("a"), 0L, 4L, "view"))
      .toDF("u", "ts", "id", "etype")
    for (shards <- Seq(1, 3)) {
      val got = GraftOps.distributedSessionize(df, "u", "ts", Seq("id"), gap,
          "sid", shards = shards)
        .select("id", "sid", "etype").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == Set((1L, 1L, "view"), (2L, 1L, "cart"), (3L, 2L, "buy"),
        (4L, 1L, "view")), s"carried-column sessionize wrong at shards=$shards")
    }
  }

  test("kernels reject reserved/colliding column names") {
    val bad = Seq(("a", 1L, 2L)).toDF("u", "__shard", "v")
    intercept[IllegalArgumentException] {
      GraftOps.distributedLag(bad, "u", Seq("__shard"), "v", "out")
    }
    intercept[IllegalArgumentException] {
      GraftOps.distributedSessionize(bad, "u", "__shard", Nil, gap, "sid")
    }
    val collide = Seq(("a", 1L, 2L)).toDF("u", "ts", "sid")
    intercept[IllegalArgumentException] {
      GraftOps.distributedSessionize(collide, "u", "ts", Nil, gap, "sid")
    }
  }
}
