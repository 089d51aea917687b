package graft.ops

import graft.{GraftOps, SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round 14 batch 4 pins: the distributedRunningMax kernel and its two
  * consumers (Pareto frontier skyline, Poisson rate test). */
class Round14dSpec extends SparkSuite {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("distributedRunningMax matches the single-window form across shard counts") {
    import spark.implicits._
    // 4000 rows over 4 input partitions: RangePartitioner samples only
    // part of each, so the offsets and window branches must share ONE
    // range split (reused exchange or localCheckpoint). The rising trend
    // keeps setting new maxima, so a misaligned shard offset shows.
    val rows = (1 to 4000).map { i =>
      ("g" + (i % 3), i.toLong, i * 5L + ((i * 2654435761L) % 100L) - 550L)
    } :+ (("gnull", 4001L, 7L))
    val base = rows.toDF("p", "o", "v").repartition(4)
    val w = Window.partitionBy("p").orderBy("o")
    for (excl <- Seq(false, true)) {
      val frame = if (excl) w.rowsBetween(Window.unboundedPreceding, -1)
        else w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expect = base.withColumn("m", max(col("v")).over(frame))
        .select("p", "o", "m").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) null else r.getLong(2))).toMap
      forEachShardSplit(base) { (split, df) =>
        for (shards <- Seq(1, 5, 64)) {
          val got = GraftOps.distributedRunningMax(df, "p", "o", "v", "m",
            exclusive = excl, shards = shards)
            .select("p", "o", "m").collect()
          assert(got.length == rows.length, s"excl=$excl shards=$shards split=$split row drop")
          got.foreach { r =>
            val k = (r.getString(0), r.getLong(1))
            val e = expect(k)
            val g = if (r.isNullAt(2)) null else r.getLong(2)
            assert(g == e, s"excl=$excl shards=$shards split=$split key=$k got=$g want=$e")
          }
        }
      }
    }
  }

  test("analytics_pareto_frontier is a strictly increasing staircase and undominated") {
    val rows = q("analytics_pareto_frontier").collect()
    assert(rows.length >= 2, "a (time, value) skyline must have records")
    val pts = rows.map(r => (r.getAs[Long]("day_index"), r.getAs[Long]("value_floor")))
    pts.sliding(2).foreach {
      case Array((p1, s1), (p2, s2)) =>
        assert(p1 < p2 && s1 < s2,
          "the 2D frontier must be strictly increasing in both axes")
      case _ =>
    }
    // no order may dominate a frontier point (earlier-or-same day,
    // higher-or-same value, strict in one)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
          .cast("long").as("di"),
        floor(col("o_totalprice")).cast("long").as("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pts.foreach { case (di, v) =>
      assert(!orders.exists { case (qd, qv) =>
        qd <= di && qv >= v && (qd < di || qv > v) },
        s"frontier point ($di, $v) is dominated")
    }
  }

  test("events_poisson_rate_test: halves partition the type counts, z sign follows") {
    val totals = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = q("events_poisson_rate_test").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n1, n2) = (r.getAs[Long]("n_first"), r.getAs[Long]("n_second"))
      assert(n1 + n2 == totals(r.getAs[String]("event_type")))
      val z = r.getAs[Double]("z")
      assert(z == 0.0 || z * (n2 - n1) > 0, s"z sign must follow n2-n1: $r")
    }
  }
}
