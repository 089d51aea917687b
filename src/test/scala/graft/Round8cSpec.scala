package graft

import java.math.{BigDecimal => JBigDecimal, MathContext}

import graft.functions.{JaroWinkler, StringSimKernels}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Round-8 third-session kernels: Jaro-Winkler (DuckDB-parity variant),
  * distributed ntile, exact-decimal EWMA. */
class Round8cSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  private def jw(a: String, b: String): Double =
    StringSimKernels.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  test("JaroWinkler kernel pins the DuckDB variant") {
    // classic textbook pairs (above the boost threshold → prefix bonus)
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    // below the 0.7 boost threshold the PLAIN jaro comes back — even with
    // a 4-char common prefix (the variant divergence that separates
    // DuckDB/RapidFuzz from the textbook formula)
    assert(jw("red anvil", "red rod") == 0.671957671957672)
    // DuckDB edge semantics: any empty side → 0.0, including empty==empty
    assert(jw("", "") == 0.0)
    assert(jw("a", "") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    // no common characters at all
    assert(jw("abc", "xyz") == 0.0)
  }

  test("JaroWinkler expression: codegen result equals the kernel, null-intolerant") {
    val df = Tables(spark, sf, "part")
      .select(col("p_name"), reverse(col("p_name")).as("r"))
      .withColumn("sim", GraftOps.jaroWinkler(col("p_name"), col("r")))
    val rows = df.limit(200).collect()
    rows.foreach { row =>
      assert(row.getDouble(2) == jw(row.getString(0), row.getString(1)))
    }
    val n = Seq(("x", null: String)).toDF("a", "b")
      .select(GraftOps.jaroWinkler(col("a"), col("b")).as("s"))
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("distributedNtile equals the single-partition SQL ntile row-for-row") {
    val cust = Tables(spark, sf, "customer").select("c_custkey", "c_acctbal")
    for (k <- Seq(3, 4, 7)) {
      val expected = cust.withColumn("q",
        ntile(k).over(Window.orderBy(col("c_acctbal"), col("c_custkey"))))
      val actual = GraftOps.distributedNtile(
        cust, Seq("c_acctbal", "c_custkey"), k, "q")
      assert(expected.join(actual, Seq("c_custkey"))
        .where(expected("q") =!= actual("q")).count() == 0, s"k=$k diverged")
      // bucket sizes follow the SQL rule: first n%k buckets one larger
      val sizes = actual.groupBy("q").count()
        .orderBy("q").collect().map(_.getLong(1))
      val nRows = sizes.sum
      sizes.zipWithIndex.foreach { case (sz, i) =>
        val want = nRows / k + (if (i < nRows % k) 1L else 0L)
        assert(sz == want, s"k=$k bucket ${i + 1}: $sz != $want")
      }
    }
  }

  test("ewmaTruncated matches an in-memory exact-decimal reference") {
    val out = SparkEntry.queries("timeseries_ewma")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val byUser = out.groupBy(_._1).values
    byUser.foreach { series =>
      val sorted = series.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, _, _, ewma), i) =>
        var acc = JBigDecimal.ZERO
        var j = 0
        while (j < 8 && j <= i) {
          // day_value is the decimal(18,4) rollup surfaced as double —
          // recover the exact decimal, weight by the exact binary fraction
          val dx = new JBigDecimal(sorted(i - j)._3, MathContext.UNLIMITED)
            .setScale(4, java.math.RoundingMode.HALF_UP)
          val w = new JBigDecimal(1).divide(new JBigDecimal(2).pow(j + 1))
          acc = acc.add(dx.multiply(w))
          j += 1
        }
        assert(acc.doubleValue == ewma,
          s"user series mismatch at row $i: ${acc.doubleValue} != $ewma")
      }
    }
  }

  test("sortedNeighborhoodPairs equals the single-partition window formulation") {
    val names = Tables(spark, sf, "part").select(col("p_name").as("v")).distinct()
    for (w <- Seq(1, 3, 5)) {
      val got = GraftOps.sortedNeighborhoodPairs(names, "v", w)
        .select("val_a", "val_b", "gap")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val rn = names.withColumn("rn",
        row_number().over(Window.orderBy("v")))
      val want = rn.select(col("v").as("val_a"), col("rn").as("rn_a"))
        .crossJoin(rn.select(col("v").as("val_b"), col("rn").as("rn_b")))
        .where(col("rn_b") - col("rn_a") >= 1 && col("rn_b") - col("rn_a") <= w)
        .select(col("val_a"), col("val_b"), (col("rn_b") - col("rn_a")).as("gap"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.get(2).asInstanceOf[Number].longValue)).toSet
      assert(got == want, s"window=$w: ${got.size} vs ${want.size} pairs")
    }
  }

  test("JaroWinklerPrefilter: sound (boundary pair kept), guard in plan, idempotent") {
    // jw("abcd","abcdabcd") = 0.9 EXACTLY with length ratio exactly 1/2
    // — the attainable bound the rule's epsilon-slack exists for
    val pairs = Seq(
      ("abcd", "abcdabcd"),      // boundary: must survive
      ("martha", "marhta"),      // 0.9611 must survive
      ("ab", "abxxxxxxxxxx"),    // ratio 1/6: guard prunes, jw < 0.9 anyway
      ("red anvil", "red rod")   // 0.672: filtered by threshold either way
    ).toDF("a", "b")
    val q = pairs.where(GraftOps.jaroWinkler(col("a"), col("b")) >= 0.9)
    val before = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(before == Set(("abcd", "abcdabcd"), ("martha", "marhta")))
    GraftOps.installJaroWinklerPrefilter(spark)
    try {
      val after = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(after == before, "prefilter changed the result set")
      // plan-shape assertions need a non-local source (a local relation
      // constant-folds the whole filter): use the parquet part table
      val pq = Tables(spark, sf, "part")
        .where(GraftOps.jaroWinkler(col("p_name"), lit("promo plate")) >= 0.9)
      val p = pq.queryExecution.optimizedPlan.toString
      assert(p.contains("length("), s"no length guard injected:\n$p")
      // idempotent: one guard, not one per optimizer iteration
      assert("length\\(p_name".r.findAllIn(p).length <= 2, s"guard duplicated:\n$p")
      // and the declared JW query still returns the same pairs as its
      // pre-rule formulation (threshold semantics untouched)
      val snm = SparkEntry.queries("dedup_sorted_neighborhood")(spark, sf)
      assert(snm.count() > 0)
      val p2 = snm.queryExecution.optimizedPlan.toString
      assert(p2.contains("length("), s"declared query missing the guard:\n${p2.take(2000)}")
    } finally {
      // leave installed: the rule is semantics-preserving and the declared
      // queries install it themselves anyway
    }
  }

  test("JaroWinklerPrefilter: commuted and foldable-threshold forms get the guard") {
    GraftOps.installJaroWinklerPrefilter(spark)
    val jw = GraftOps.jaroWinkler(col("p_name"), lit("promo plate"))
    val base = Tables(spark, sf, "part")
    val spellings = Seq(
      base.where(lit(0.9) <= jw),                  // θ <= jw
      base.where(lit(0.9) < jw),                   // θ < jw
      base.where(jw > 0.9),                        // jw > θ
      base.where(jw >= expr("cast(0.9 as double)")) // foldable cast threshold
    )
    spellings.zipWithIndex.foreach { case (q, i) =>
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("length("), s"spelling #$i missed the guard:\n$p")
    }
    // result parity: the commuted spelling returns exactly the direct one's rows
    val direct = base.where(jw >= 0.9).select("p_partkey").collect().map(_.getLong(0)).toSet
    val commuted = base.where(lit(0.9) <= jw).select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(direct == commuted)
  }

  test("distributedRank keeps rows with NULL order keys and carries payload columns") {
    val df = Seq[(java.lang.Long, String, String)](
      (null, "a", "pa"), (3L, "b", "pb"), (1L, "c", "pc"),
      (null, "d", "pd"), (2L, "e", "pe"))
      .toDF("x", "id", "payload")
    val ranked = GraftOps.distributedRank(df, Seq("x", "id"), "r")
    assert(ranked.count() == 5, "null order keys must not drop rows")
    assert(ranked.columns.toSeq == Seq("x", "id", "payload", "r"),
      s"columns: ${ranked.columns.mkString(",")}")
    val ranks = ranked.select("r").collect().map(_.getLong(0)).sorted
    assert(ranks.sameElements(Array(1L, 2L, 3L, 4L, 5L)), "ranks not a permutation")
    // nulls-first like the window form
    val nullRanks = ranked.where(col("x").isNull)
      .select("r").collect().map(_.getLong(0)).toSet
    assert(nullRanks == Set(1L, 2L), s"null keys should rank first: $nullRanks")
    // each payload stays on its own row
    val byId = ranked.select("id", "payload", "r").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(byId == Map("a" -> ("pa", 1L), "d" -> ("pd", 2L), "c" -> ("pc", 3L),
      "e" -> ("pe", 4L), "b" -> ("pb", 5L)), s"rows: $byId")
  }

  test("distributedRank returns m rows with m distinct ranks for duplicate full rows") {
    // (1, a, p) twice breaks the unique-order contract; row_number still
    // numbers each copy once, and so must the kernel (a join back to the
    // input would cross-match the copies into 2 × 2 rows)
    val df = Seq((1L, "a", "p"), (1L, "a", "p"), (2L, "b", "q"))
      .toDF("x", "id", "payload")
    val ranked = GraftOps.distributedRank(df, Seq("x", "id"), "r")
      .select("x", "id", "payload", "r").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(ranked.length == 3, s"expected 3 rows, got ${ranked.toSeq}")
    assert(ranked.map(_._4).toSet == Set(1L, 2L, 3L), s"ranks: ${ranked.toSeq}")
    assert(ranked.find(_._4 == 3L).map(_._3).contains("q"), s"rows: ${ranked.toSeq}")
  }

  test("distributedRank rejects a column it cannot order, naming it") {
    val df = Seq((1L, Map("k" -> 1))).toDF("x", "tags")
    val e = intercept[IllegalArgumentException] {
      GraftOps.distributedRank(df, Seq("x"), "r")
    }
    assert(e.getMessage.contains("'tags'"), e.getMessage)
  }

  test("overlapSelfJoin equals the theta join, pairs exactly once") {
    // deterministic pseudo-random intervals, including exact cell-boundary
    // starts/ends and spans of 0..3 cells (cell = 100 s)
    val rows = (1L to 200L).map { i =>
      val s = (i * 7919) % 5000
      val e = s + 1 + (i * 104729) % 300
      (i, s, e, (i % 3).toString)
    }
    val df = rows.toDF("id", "s", "e", "grp")
    val got = GraftOps.intervalOverlapSelfJoin(df, "id", Seq("grp"), "s", "e", 100L)
      .select("id_a", "id_b", "overlap_s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly once per pair
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    val want = rows.flatMap { case (ia, sa, ea, ga) =>
      rows.collect { case (ib, sb, eb, gb)
        if ga == gb && ia < ib && sa < eb && sb < ea =>
          (ia, ib, math.min(ea, eb) - math.max(sa, sb))
      }
    }
    assert(got.toSet == want.toSet, s"${got.length} vs ${want.length} pairs")
  }

  test("triangleStats on a known toy graph") {
    // K4 minus edge (1,4): triangles (1,2,3) and (2,3,4); degrees
    // 2,3,3,2 → wedges 1+3+3+1 = 8; clustering = 3·2/8
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("pa", "pb")
    val r = GraftOps.triangleStats(edges).collect().head
    assert(r.getLong(0) == 4L)  // nodes
    assert(r.getLong(1) == 5L)  // edges
    assert(r.getLong(2) == 8L)  // wedges
    assert(r.getLong(3) == 2L)  // triangles
    assert(r.getDouble(4) == 0.75)
  }

  test("coOccurrenceEdges bounds pairs to shared groups and minWeight") {
    val facts = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),   // basket 10: pairs (1,2)(1,3)(2,3)
      (11L, 1L), (11L, 2L),              // basket 11: (1,2) again
      (12L, 2L), (12L, 3L)               // basket 12: (2,3) again
    ).toDF("g", "item")
    val e = GraftOps.coOccurrenceEdges(facts, "g", "item", 2L)
      .orderBy("pa", "pb").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e.toSeq == Seq((1L, 2L, 2L), (2L, 3L, 2L)))
  }

  test("reservoir sample is invariant to input partitioning") {
    val base = SparkEntry.queries("sample_reservoir_per_group")(spark, sf)
      .collect().toSeq
    val shuffled = Tables(spark, sf, "orders").repartition(13)
    val hash = (col("o_orderkey") * lit(2654435761L)) % lit(2147483647L)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(hash.asc, col("o_orderkey").asc)
    val again = shuffled
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderpriority", "rn")
      .collect().toSeq
    assert(base == again)
  }
}
