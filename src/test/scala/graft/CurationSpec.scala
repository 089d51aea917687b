package graft

import org.apache.spark.sql.functions._

/** Corpus-maintenance APIs (llm.Curation) on USER DataFrames, plus
  * semantic checks on the two-stage quantized ANN declared query. */
class CurationSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon " +
    "phi chi psi omega aleph bet gimel dalet he vav"

  test("dedupIncremental drops the batch doc near-duplicating the corpus") {
    val corpus = Seq(
      (1L, base),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("id", "body")
    val batch = Seq(
      (10L, base.stripSuffix("vav") + "zayin"), // near-dup of corpus doc 1
      (11L, "red orange yellow green blue indigo violet white black grey")
    ).toDF("id", "body")
    // through the GraftOps façade so the delegation is exercised too
    val kept = GraftOps.dedupIncremental(corpus, batch, "id", "body", 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L), s"expected only the novel doc kept, got $kept")
  }

  test("dedupIncremental keeps batch-internal duplicates (documented scope)") {
    val corpus = Seq((1L, "one two three four five six seven eight nine ten"))
      .toDF("id", "body")
    val batch = Seq((10L, base), (11L, base)).toDF("id", "body")
    val kept = llm.Curation.dedupIncremental(corpus, batch, "id", "body", 0.3)
      .count()
    assert(kept == 2, "batch-vs-batch pairs are out of scope by contract")
  }

  test("decontaminate flags only the corpus doc overlapping the eval set") {
    val evalSet = Seq((100L, base)).toDF("id", "body")
    val corpus = Seq(
      (1L, base.stripSuffix("vav") + "zayin"), // long shared prefix → 8-grams
      (2L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("id", "body")
    val hits = GraftOps.decontaminate(corpus, evalSet, "id", "body", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 1 shares the first 29 tokens → 22 of its 23 8-grams
    assert(hits.keySet == Set(1L), s"expected only doc 1 flagged, got $hits")
    assert(hits(1L) == 22L, s"expected 22 shared 8-grams, got ${hits(1L)}")
  }

  test("incrementalDedupBatches: continuous ingestion drops near-dups across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val alt = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty " +
      "cat dog bird fish horse cow sheep goat duck hen"
    val corpus0 = Seq((1L, base)).toDF("id", "body")
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = mem.toDF().toDF("id", "body").writeStream
      .foreachBatch(streaming.StreamOps.incrementalDedupBatches(
        corpus0, "id", "body", 0.3) { kept =>
        emitted.synchronized {
          emitted ++= kept.select("id").collect().map(_.getLong(0))
        }
      })
      .start()
    // batch A: 10 near-dups corpus doc 1 (drop); 11 novel (keep);
    //          12 near-dups 11 WITHIN the batch (self-dedup drop)
    mem.addData((10L, base.stripSuffix("vav") + "zayin"),
      (11L, alt), (12L, alt.stripSuffix("hen") + "goose"))
    q.processAllAvailable()
    // batch B: 20 near-dups batch-A SURVIVOR 11 (drop — proves the corpus
    //          state advanced); 21 novel (keep)
    mem.addData((20L, alt.stripSuffix("duck hen") + "swan crow"),
      (21L, "red orange yellow green blue indigo violet white black grey " +
        "gold silver bronze copper iron tin lead zinc nickel chrome"))
    q.processAllAvailable()
    q.stop()
    assert(emitted.sorted == Seq(11L, 21L),
      s"expected survivors {11, 21}, got ${emitted.sorted}")
  }

  test("incrementalDedupBatches skips a replayed batchId (at-least-once guard)") {
    val corpus0 = Seq((1L, base)).toDF("id", "body")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    var emitCalls = 0
    val fn = streaming.StreamOps.incrementalDedupBatches(
      corpus0, "id", "body", 0.3) { kept =>
      emitCalls += 1
      emitted ++= kept.select("id").collect().map(_.getLong(0))
    }
    val b = Seq((11L, "one two three four five six seven eight nine ten"))
      .toDF("id", "body")
    fn(b, 0L)
    fn(b, 0L) // foreachBatch replay of the same micro-batch
    // emit must run ONCE — without the batchId guard the replay would
    // still emit an (empty) second batch, because the first call's
    // survivors already entered the corpus state and reject the rerun
    assert(emitCalls == 1, s"replayed batchId must be skipped, emit ran $emitCalls times")
    assert(emitted.toSeq == Seq(11L), s"got $emitted")
  }

  test("repetitionScored flags a degenerate doc, near-zero for diverse text") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over one lazy sleeping dog")
    ).toDF("id", "body")
    val m = GraftOps.repetitionScored(docs, "id", "body", 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("rep_ratio_e6")).toMap
    // doc 1: 8 trigrams, 1 distinct → 875000; doc 2: all distinct → 0
    assert(m == Map(1L -> 875000L, 2L -> 0L), s"got $m")
  }

  test("sim_ann_quantized: approx tracks exact cosine within int8 error") {
    val df = SparkEntry.queries("sim_ann_quantized")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // per-component quantization error ≤ s/2 with |q·v'| structure →
    // |approx − cos| bounded well under 0.02 for 64-dim unit vectors
    rows.foreach { r =>
      val cos = r.getAs[Double]("cos")
      val approx = r.getAs[Double]("approx")
      assert(math.abs(cos - approx) < 0.02, s"quantization drifted: $r")
    }
    // ranks are 1..3 per query, exact-cos descending
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to byRank.length))
      val cs = byRank.map(_.getAs[Double]("cos")).toSeq
      assert(cs == cs.sorted.reverse, s"exact rescore not descending: $cs")
    }
  }

  test("withInt8Quantization fails fast on an all-zero vector instead of emitting NaN") {
    val good = Seq((1L, Array(0.6, 0.8))).toDF("vec_id", "v")
    val q = GraftOps.withInt8Quantization(good).collect()(0)
    assert(!q.getAs[Double]("s").isNaN)
    val bad = Seq((1L, Array(0.6, 0.8)), (2L, Array(0.0, 0.0))).toDF("vec_id", "v")
    val e = intercept[Exception] {
      GraftOps.withInt8Quantization(bad).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("all-zero vector")), e.toString)
  }

  test("clearDedupCaches reclaims every dedup persist; queries still work after") {
    val docs = (0 until 20).map(i => (i.toLong, base + s" extra$i"))
      .toDF("doc_id", "text")
    GraftOps.clearDedupCaches(spark)
    // the one persisting call: corpus dedup holds its shingle arrays
    GraftOps.dedupCorpus(docs, "doc_id", "text", 0.3).count()
    assert(GraftOps.clearDedupCaches(spark) == 1,
      "dedupCorpus should have registered exactly its shingle arrays")
    // caches rebuild cleanly after a clear: the declared jaccard query
    // (memoized docArraysCached path) still answers
    assert(SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).count() >= 0)
    assert(GraftOps.clearDedupCaches(spark) >= 1, "memoized arrays not re-registered")
  }

  test("nearDuplicates and jaccardDuplicates register nothing with the dedup registry") {
    val docs = (0 until 20).map(i => (i.toLong, base + s" extra$i"))
      .toDF("doc_id", "text")
    GraftOps.clearDedupCaches(spark)
    (1 to 3).foreach { _ =>
      assert(GraftOps.nearDuplicates(docs, "doc_id", "text").count() > 0)
      assert(GraftOps.jaccardDuplicates(docs, "doc_id", "text", 0.3).count() > 0)
    }
    assert(GraftOps.clearDedupCaches(spark) == 0,
      "the LSH candidate and verify paths should persist nothing")
  }

  test("incrementalRejects == the batch ids of jaccardDuplicates' corpus × batch pairs") {
    // one LSH band join and one Jaccard verify behind both callers: the
    // batch-vs-corpus rejects must be exactly the batch side of the C × B
    // pairs the self-dedup pass finds over C ∪ B (ids: C < 1000 ≤ B)
    val rng = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    def doc(): Vector[String] = Vector.fill(80)(vocab(rng.nextInt(vocab.size)))
    def edit(d: Vector[String], k: Int): Vector[String] =
      (0 until k).foldLeft(d)((acc, j) => acc.updated((j * 37 + 5) % acc.size, s"edit$j"))
    val corpusDocs = Vector.fill(40)(doc())
    val corpus = corpusDocs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }
    // near-dups of corpus docs at 0–24 edits (Jaccard ≈ 1 down to ≈ 0.2),
    // a batch-internal near-dup pair, and unrelated docs
    val planted = (0 until 25).map(k => edit(corpusDocs(k), k))
    val own = doc()
    val batchDocs = planted ++ Seq(own, edit(own, 2)) ++ Vector.fill(10)(doc())
    val batch = batchDocs.zipWithIndex.map { case (d, i) => (1000L + i, d.mkString(" ")) }
    val c = corpus.toDF("doc_id", "text")
    val b = batch.toDF("doc_id", "text")
    def arrays(df: org.apache.spark.sql.DataFrame) =
      llm.Dedup.shingleArrays(df, "doc_id", "text", 3, dedup = true)
    val found = Seq(0.3, 0.7).map { theta =>
      val rejects = llm.Curation.incrementalRejects(arrays(c), arrays(b), theta)
        .collect().map(_.getLong(0)).toSet
      val crossPairs = GraftOps.jaccardDuplicates(c.unionByName(b), "doc_id", "text", theta)
        .where(col("doc_a") < 1000L && col("doc_b") >= 1000L)
        .select("doc_b").collect().map(_.getLong(0)).toSet
      assert(rejects == crossPairs, s"θ=$theta: rejects $rejects vs pairs $crossPairs")
      assert(rejects.nonEmpty, s"θ=$theta: no planted near-dup found")
      rejects
    }
    assert(found(1).subsetOf(found(0)) && found(1) != found(0),
      s"θ=0.7 should keep fewer rejects than θ=0.3: $found")
  }

  test("sweep-end hygiene: dedup queries then clearDedupCaches leave no persisted blocks behind") {
    // the contract Verify and perfbench rely on at sweep end: after the clear, the
    // context holds no MORE persisted RDDs than before the dedup family ran
    // (unpersist is async — spin briefly instead of asserting instantly)
    GraftOps.clearDedupCaches(spark)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    Seq("dedup_minhash", "dedup_containment", "dedup_incremental")
      .foreach(q => SparkEntry.queries(q)(spark, sf).count())
    assert((persisted -- before).nonEmpty, "dedup sweep should persist its shared caches")
    GraftOps.clearDedupCaches(spark)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((persisted -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert((persisted -- before).isEmpty,
      s"leaked persisted RDDs after clear: ${(persisted -- before).mkString(", ")}")
  }
}
