package graft

import org.apache.spark.sql.functions._

/** The public API must work on a USER's own DataFrames (not just the
  * benchmark tables) — this is the "could switch to this library" test. */
class GraftOpsSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  test("nearDuplicates finds a planted near-dup in a user corpus") {
    // near-dup pair differs only in the LAST token → 1 of 28 trigrams
    // changed, Jaccard ≈ 0.93; P(no shared LSH band) < 0.5% per hash
    // family, and the hash family is fixed, so this is deterministic.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "phi chi psi omega aleph bet gimel dalet he vav"
    val docs = Seq(
      (1L, base),
      (2L, base.stripSuffix("vav") + "zayin"), // near-dup of 1
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("id", "body")
    val pairs = GraftOps.nearDuplicates(docs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("knn over user vectors returns the geometric nearest neighbour") {
    val vecs = GraftOps.withUnitVector(
      Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
        .toDF("vec_id", "emb"), col("emb"))
      .select(col("vec_id"), col("v"))
    val q = vecs.where(col("vec_id") === 1)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val top = GraftOps.knn(q, vecs, 1).select("vec_id").head().getLong(0)
    assert(top == 2L)
  }

  test("connectedComponents merges chained pairs into one cluster") {
    // 1-2, 2-3 chain → {1,2,3}; 7-8 separate; component = min node id
    val pairs = Seq((2L, 1L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val cc = GraftOps.connectedComponents(pairs, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents handles a long path graph (path compression)") {
    // a 60-hop chain with ids increasing along it needs ~diameter rounds
    // under plain min-label propagation; per-round path compression
    // brings it to ~log2(60) (scrambled ids would not get that speedup)
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = GraftOps.connectedComponents(pairs, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == 60 && cc.forall(_._2 == 1L))
  }

  test("connectedComponents converges with reliable checkpointing enabled") {
    // the 100 TB mode: checkpointDir set → per-round df.checkpoint()
    // (recomputable after executor loss) instead of localCheckpoint
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = GraftOps.connectedComponents(pairs, "a", "b",
        checkpointDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == 60 && cc.forall(_._2 == 1L))
  }

  test("connectedComponents: a sorted 10^4-hop chain converges within the round budget") {
    // ids increase along the path, so path compression needs ~log2(10^4)
    // = 14 rounds; every node must land in component 0, including both
    // endpoints, a singleton self-pair, and a separate clique.
    val chain = (0L until 10000L).map(i => (i, i + 1))
    val extras = Seq((20000L, 20000L), (30000L, 30001L), (30001L, 30002L),
      (30000L, 30002L))
    val cc = GraftOps.connectedComponents((chain ++ extras).toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc.size == 10005)
    assert((0L to 10000L).forall(cc(_) == 0L), "chain not fully contracted")
    assert(cc(20000L) == 20000L, "self-pair singleton lost")
    assert(Seq(30000L, 30001L, 30002L).forall(cc(_) == 30000L))
  }

  test("connectedComponents fails naming its round budget on a scrambled-id path") {
    // a 100-edge path over ids (37·i) mod 101: the minimum label crawls
    // along it (40 rounds), past the 30-round budget — the call must
    // throw rather than return split components
    val ids = (0 to 100).map(i => (37L * i) % 101L)
    val pairs = ids.zip(ids.tail).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      GraftOps.connectedComponents(pairs, "a", "b")
    }
    assert(e.getMessage.contains("30 rounds"), e.getMessage)
  }

  test("jaccardDuplicates verifies the planted near-dup with its exact score") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "phi chi psi omega aleph bet gimel dalet he vav"
    val docs = Seq(
      (1L, base),
      (2L, base.stripSuffix("vav") + "zayin"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("id", "body")
    val rows = GraftOps.jaccardDuplicates(docs, "id", "body", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 30 tokens → 28 trigrams, last one changed: |A∩B|=27, |A∪B|=29
    assert(rows.toSeq == Seq((1L, 2L, math.rint(27.0 / 29.0 * 1e6) / 1e6)))
  }

  test("dedupCorpus keeps one canonical doc per near-dup cluster") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "phi chi psi omega aleph bet gimel dalet he vav"
    val docs = Seq(
      (1L, base),
      (2L, base.stripSuffix("vav") + "zayin"), // near-dup of 1 → dropped
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("id", "body")
    val kept = GraftOps.dedupCorpus(docs, "id", "body", 0.5)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L)) // min id survives, singleton kept
  }

  test("knnBlocked searches only inside the query's block") {
    val vecs = GraftOps.withUnitVector(
      Seq((1L, "x", Seq(1.0f, 0.0f)), (2L, "y", Seq(0.9f, 0.1f)),
        (3L, "x", Seq(0.0f, 1.0f)), (4L, "x", Seq(0.5f, 0.5f)))
        .toDF("vec_id", "grp", "emb"), col("emb"))
      .select(col("vec_id"), col("grp"), col("v"))
    val q = vecs.where(col("vec_id") === 1)
      .select(col("vec_id").as("qid"), col("grp"), col("v").as("qv"))
    val top = GraftOps.knnBlocked(q, vecs, "grp", 1)
      .select("vec_id").head().getLong(0)
    // vector 2 is geometrically nearest but lives in block "y" — the
    // nearest IN-BLOCK neighbour is 4
    assert(top == 4L)
  }

  test("ivfCentroids size is the caller's knob, decoupled from table size") {
    val vecs = GraftOps.withUnitVector(
      (1L to 40L).map(i => (i, Seq(i.toFloat, (41 - i).toFloat)))
        .toDF("vec_id", "emb"), col("emb"))
      .select(col("vec_id"), col("v"))
    val cents = GraftOps.ivfCentroids(vecs, 4)
    assert(cents.count() == 4)
    val q = vecs.where(col("vec_id") <= 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val res = GraftOps.annIvf(vecs, q, cents, nProbe = 2, k = 3).collect()
    // every query gets up to k ranked neighbours from its probed clusters
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(1L, 2L))
    byQ.values.foreach { rs =>
      assert(rs.length <= 3 &&
        rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
    }
  }

  test("ivfClusterStats: occupancy + cohesion per centroid, empty clusters kept") {
    val vecs = GraftOps.withUnitVector(
      Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.8f, 0.6f)),
        (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.6f, 0.8f)))
        .toDF("vec_id", "emb"), col("emb"))
      .select(col("vec_id"), col("v"))
    // axis centroids catch two vectors each at cos {1.0, 0.8}; the −x
    // centroid is nobody's argmax and must survive as an explicit 0 row
    val cents = GraftOps.withUnitVector(
      Seq((10L, Seq(1.0f, 0.0f)), (20L, Seq(0.0f, 1.0f)),
        (30L, Seq(-1.0f, 0.0f)))
        .toDF("cid", "cemb"), col("cemb"))
      .select(col("cid"), col("v").as("cv"))
    val rows = GraftOps.ivfClusterStats(vecs, cents).orderBy("cid").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L))
    val byCid = rows.map(r => r.getLong(0) -> r).toMap
    assert(byCid(10L).getLong(1) == 2 && byCid(20L).getLong(1) == 2)
    assert(byCid(10L).getDouble(2) == 0.9 && byCid(10L).getDouble(3) == 0.8 &&
      byCid(10L).getDouble(4) == 1.0)
    assert(byCid(20L).getDouble(2) == 0.9)
    assert(byCid(30L).getLong(1) == 0L && byCid(30L).isNullAt(2) &&
      byCid(30L).isNullAt(3) && byCid(30L).isNullAt(4))
  }

  test("annIvfPq quantized ranking tracks exact cosine on user vectors") {
    val vecs = GraftOps.withInt8Quantization(GraftOps.withUnitVector(
      (1L to 40L).map(i => (i, Seq(i.toFloat, (41 - i).toFloat, (i % 7).toFloat)))
        .toDF("vec_id", "emb"), col("emb"))
      .select(col("vec_id"), col("v")))
    val cents = GraftOps.ivfCentroids(vecs.select(col("vec_id"), col("v")), 4)
    val q = vecs.where(col("vec_id") <= 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("s").as("qs"), col("q").as("qg"))
    val res = GraftOps.annIvfPq(vecs, q, cents, nProbe = 2, kApprox = 6, k = 3)
      .collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (cos, approx) = (r.getAs[Double]("cos"), r.getAs[Double]("approx"))
      assert(math.abs(cos - approx) < 0.02, s"int8 drift too large: $r")
    }
    res.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.length <= 3 &&
        rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
    }
  }

  test("upsertLatestWins applies updates and inserts over a base table") {
    val base = Seq((1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L))
      .toDF("key", "name", "amount", "version")
    val changes = Seq((2L, "b2", 25.0, 3L), (9L, "new", 1.0, 1L))
      .toDF("key", "name", "amount", "version")
    val out = GraftOps.upsertLatestWins(base, changes, "key", "version")
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, "a", 10.0, 1L), (2L, "b2", 25.0, 3L), (9L, "new", 1.0, 1L)))
  }

  test("asofJoin attaches the latest at-or-before payload per key") {
    val purchases = Seq((1L, 10L, "p1"), (1L, 3L, "p2"), (2L, 5L, "p3"))
      .toDF("user", "pt", "pid")
    val quotes = Seq((1L, 2L, 100.0), (1L, 9L, 200.0), (2L, 6L, 300.0))
      .toDF("user", "qt", "price")
    val out = GraftOps.asofJoin(purchases, quotes, "user", "pt", "qt", Seq("price"))
      .orderBy("user", "pt").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Double])))
    // (1, t=3) sees the quote at t=2; (1, t=10) the one at t=9;
    // (2, t=5) has no quote at-or-before → NULL
    assert(out.toSeq == Seq((1L, 3L, Some(100.0)), (1L, 10L, Some(200.0)),
      (2L, 5L, None)))
    // same-(key, time) quotes: the largest payload in payloadCols order
    // wins whatever the arrival order; a map field rides along unordered
    val tied = Seq((1L, 9L, 150.0, "b"), (1L, 9L, 250.0, "a"), (1L, 9L, 250.0, "c"),
      (2L, 5L, 300.0, "z"))
      .toDF("user", "qt", "price", "src")
      .withColumn("attrs", map(lit("src"), col("src")))
    Seq(1, 4).foreach { parts =>
      val got = GraftOps.asofJoin(purchases, tied.repartition(parts), "user", "pt",
          "qt", Seq("price", "src", "attrs"))
        .orderBy("user", "pt").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.getAs[String]("asof_src")),
          Option(r.getAs[scala.collection.Map[String, String]]("asof_attrs"))
            .map(_("src"))))
      assert(got.toSeq == Seq((1L, 3L, None, None), (1L, 10L, Some("c"), Some("c")),
        (2L, 5L, Some("z"), Some("z"))), s"$parts partitions")
    }
  }

  test("validate counts violations per declarative rule on user data") {
    import graft.clean.Rule
    val dim = Seq(10L, 20L).toDF("id")
    val df = Seq(
      (1L, Option(10L), "A", 5.0),
      (1L, Option(10L), "A", 5.0),     // duplicate key
      (2L, None, "B", -1.0),           // null ref, bad status, negative
      (3L, Option(99L), "A", 2.0)      // dangling ref
    ).toDF("k", "ref", "status", "x")
    val out = GraftOps.validate(df, Seq(
      Rule.Unique(Seq("k")), Rule.NotNull("ref"),
      Rule.InSet("status", Seq("A")), Rule.Bounds("x", Some(0.0), Some(4.0)),
      Rule.RefIntegrity("ref", dim, "id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("unique_k" -> 1L, "not_null_ref" -> 1L,
      "in_set_status" -> 1L, "bounds_x" -> 3L, "ref_ref_id" -> 1L))
  }

  test("validate reports 0 (not null) violations on an empty table") {
    import graft.clean.Rule
    // sum() over zero rows is NULL — the kernel must coalesce so an
    // empty-but-clean input reads 0 everywhere (a n_violations === 0
    // gate would flip on null), matching the old anti-join count()
    val dim = Seq(10L).toDF("id")
    val df = Seq.empty[(Long, Option[Long], String, Double)]
      .toDF("k", "ref", "status", "x")
    val out = GraftOps.validate(df, Seq(
      Rule.Unique(Seq("k")), Rule.NotNull("ref"),
      Rule.InSet("status", Seq("A")), Rule.Bounds("x", Some(0.0), None),
      Rule.RefIntegrity("ref", dim, "id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("unique_k" -> 0L, "not_null_ref" -> 0L,
      "in_set_status" -> 0L, "bounds_x" -> 0L, "ref_ref_id" -> 0L))
  }

  test("sessionize assigns per-key session ids split on the gap") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00")), // >30 min gap
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("user", "ts").select(col("user"), unix_micros(col("ts")).as("us"))
    val out = GraftOps.sessionize(df, "user", "us", Nil, 1800L * 1000000L,
        "session_id")
      .orderBy("user", "us").select("user", "session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("cosineThresholdPairs respects the blocking column") {
    val vecs = GraftOps.withUnitVector(
      Seq((1L, "a", Seq(1.0f, 0.0f)), (2L, "a", Seq(1.0f, 0.001f)),
        (3L, "b", Seq(1.0f, 0.0f))).toDF("vec_id", "grp", "emb"), col("emb"))
      .select(col("vec_id"), col("grp"), col("v"))
    val pairs = GraftOps.cosineThresholdPairs(vecs, "grp", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L))) // 3 is identical to 1 but blocked out
  }

  test("semanticDedup drops within-cluster near-dups, keeps boundary-split ones") {
    def u(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val vecs = GraftOps.withUnitVector(Seq(
      (1L, u(1, 0)), (2L, u(1, 0.01)),
      (3L, u(math.cos(math.toRadians(44)), math.sin(math.toRadians(44)))),
      (4L, u(0, 1)), (5L, u(0.01, 1)),
      (6L, u(math.cos(math.toRadians(46)), math.sin(math.toRadians(46)))))
      .toDF("vec_id", "emb"), col("emb"))
      .select(col("vec_id"), col("v"))
    val cents = GraftOps.withUnitVector(
      Seq((100L, u(1, 0)), (200L, u(0, 1))).toDF("cid", "emb"), col("emb"))
      .select(col("cid"), col("v").as("cv"))
    val out = GraftOps.semanticDedup(vecs, cents, 0.95)
      .collect().map(_.getLong(0)).sorted.toSeq
    // 2 loses to 1 and 5 loses to 4 inside their clusters; 3 and 6 are
    // cos(2°) ≈ 0.9994 near-dups but straddle the cluster boundary —
    // blocking keeps both (the operator's documented recall trade)
    assert(out == Seq(1L, 3L, 4L, 6L))
  }

  test("mixTemperature keeps exactly the model's LCG-selected subset per group") {
    // groups: a=40 rows, b=10 rows (n_min=10) → rate_a = sqrt(10/40) = 0.5
    // exactly (rate_e6 = 500000), rate_b = 1.0 (rate_e6 = 1000000, keeps all)
    val rows = (1L to 40L).map(k => (k, "a")) ++ (101L to 110L).map(k => (k, "b"))
    val df = rows.toDF("key", "grp")
    val kept = GraftOps.mixTemperature(df, "grp", "key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def bucket(k: Long) = k % 100003L * 69069L % 1000000L
    val expected = rows.filter { case (k, g) =>
      bucket(k) < (if (g == "a") 500000L else 1000000L)
    }.toSet
    assert(kept == expected)
    assert(rows.filter(_._2 == "b").toSet.subsetOf(kept),
      "smallest group must keep every row")
    // deterministic: a second run selects the identical subset
    val again = GraftOps.mixTemperature(df, "grp", "key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == kept)
  }

  test("mixTemperature downsamples negative keys and keeps the null group") {
    // 40 negative-key rows in group a, 10 rows in the NULL group: the null
    // group is a group (n_min = 10, rate 1.0 keeps all of it) and negative
    // keys land in [0, 1e6) via pmod — a signed % would put them below
    // every threshold and keep all 40
    val rows = (1L to 40L).map(k => (-k, Option("a"))) ++
      (101L to 110L).map(k => (k, Option.empty[String]))
    val df = rows.toDF("key", "grp")
    val kept = GraftOps.mixTemperature(df, "grp", "key")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    def bucket(k: Long) = {
      val m = k % 100003L * 69069L % 1000000L
      if (m < 0) m + 1000000L else m
    }
    val expected = rows.filter { case (k, g) =>
      bucket(k) < (if (g.contains("a")) 500000L else 1000000L)
    }.toSet
    assert(kept == expected)
    assert(rows.filter(_._2.isEmpty).toSet.subsetOf(kept),
      "null group must survive with its own rate")
    assert(kept.count(_._2.contains("a")) < 40,
      "negative keys must actually be downsampled")
  }

  test("unigramSurprisal matches the in-memory unigram LM on a user corpus") {
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("id", "body")
    val out = GraftOps.unigramSurprisal(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus tokens: x:2, y:2, z:1, total 5
    def nll(c: Long) = BigDecimal(-math.log(c.toDouble / 5.0))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def avg(cs: Seq[Long]) = BigDecimal(
      cs.map(nll).sum.toDouble / cs.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 3L && out(2L)._1 == 2L)
    assert(out(1L)._2 == avg(Seq(2L, 2L, 2L)))
    assert(out(2L)._2 == avg(Seq(2L, 1L)))
  }

  test("clearGraphCaches reclaims the graph family's persists only; queries still work after") {
    GraftOps.clearGraphCaches(spark)
    GraftOps.clearDedupCaches(spark)
    // the triangle query memoizes the basket grain + the strong edges
    val tri = SparkEntry.queries("graph_triangle_stats")(spark, sf).collect()
    assert(GraftOps.clearGraphCaches(spark) == 2,
      "graph_triangle_stats should have registered the baskets + edges")
    assert(GraftOps.clearGraphCaches(spark) == 0, "a second clear finds nothing")
    // one registry per family: a dedup persist is not the graph family's
    val docs = (0 until 20).map(i => (i.toLong, s"alpha beta gamma delta word$i"))
      .toDF("doc_id", "text")
    GraftOps.dedupCorpus(docs, "doc_id", "text", 0.3).count()
    assert(GraftOps.clearGraphCaches(spark) == 0, "graph clear touched dedup persists")
    assert(GraftOps.clearDedupCaches(spark) == 1, "dedup persist lost by the graph clear")
    // the memo rebuilds cleanly after a clear, with the same answer
    assert(SparkEntry.queries("graph_triangle_stats")(spark, sf).collect().toSeq == tri.toSeq)
    assert(GraftOps.clearGraphCaches(spark) == 2, "memoized builds not re-registered")
  }
}
