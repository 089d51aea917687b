package graft

/** Sequence-shaping APIs (llm.Chunking) on user DataFrames. */
class ChunkingSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  test("chunkSplit windows with overlap and a short tail") {
    // 10 tokens, chunk 4, stride 3 → starts 0,3,6,9 → sizes 4,4,4,1
    val df = Seq((1L, "a b c d e f g h i j")).toDF("id", "body")
    val rows = GraftOps.chunkSplit(df, "id", "body", 4, 3)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0, 4L), (1, 4L), (2, 4L), (3, 1L)))
  }

  test("chunkSplit overlapping windows share boundary tokens (md5 check)") {
    val df = Seq((1L, "a b c d e f")).toDF("id", "body")
    // chunk 4 stride 2 → chunks: "a b c d", "c d e f", "e f"
    val hs = GraftOps.chunkSplit(df, "id", "body", 4, 2)
      .orderBy("chunk_idx").select("h").collect().map(_.getString(0))
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hs.toSeq == Seq(m("a b c d"), m("c d e f"), m("e f")))
  }

  test("chunkSplit emits no chunks for null text (oracle parity)") {
    val df = Seq((1L, Some("a b c")), (2L, None))
      .toDF("id", "body")
    val ids = GraftOps.chunkSplit(df, "id", "body", 2, 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), s"null-text doc must produce no chunk rows, got $ids")
  }

  test("packSequences cuts the stream at the token budget") {
    // per-doc 4 tokens, budget 10: cum-before 0,4,8,12,16 → packs 0,0,0,1,1
    val docs = (1 to 5).map(i => (i.toLong, "s1", "t t t t"))
      .toDF("id", "src", "body")
    val packs = GraftOps.packSequences(docs, "src", "id", "body", 10)
      .orderBy("id").select("pack_id").collect().map(_.getLong(0))
    assert(packs.toSeq == Seq(0L, 0L, 0L, 1L, 1L))
  }

  test("packSequences is per-stream: streams pack independently") {
    // budget 4, 3 tokens/doc: within each stream the second doc sees
    // cum-before 3 → still pack 0. A single merged stream would have put
    // ids 3 and 4 at cum-before 6 and 9 → packs 1 and 2.
    val docs = Seq((1L, "a", "t t t"), (2L, "b", "t t t"),
      (3L, "a", "t t t"), (4L, "b", "t t t")).toDF("id", "src", "body")
    val byId = GraftOps.packSequences(docs, "src", "id", "body", 4)
      .select("id", "pack_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("packSequences two-level prefix sum: shard count never changes pack ids") {
    // 300 docs over 3 sources with varying token counts; the exact global
    // exclusive cumsum (in-memory model) must come back for ANY shard
    // count — 1 shard (degenerate, = old single-window form), 7 (docs
    // straddle shard boundaries mid-source), 64 (more shards than rows
    // per source ⇒ many empty/tiny shards).
    val docs = (0 until 300).map { i =>
      (i.toLong, s"src${i % 3}", Seq.fill(1 + i % 13)("t").mkString(" "))
    }
    val df = docs.toDF("id", "src", "body")
    val model = docs.groupBy(_._2).flatMap { case (_, ds) =>
      val sorted = ds.sortBy(_._1)
      val cums = sorted.map(_._3.split(" ").length.toLong).scanLeft(0L)(_ + _)
      sorted.map(_._1).zip(cums).map { case (id, c) => id -> c / 17 }
    }.toMap
    for (shards <- Seq(1, 7, 64)) {
      val got = GraftOps.packSequences(df, "src", "id", "body", 17, shards)
        .select("id", "pack_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model, s"pack ids diverge from the model at shards=$shards")
    }
  }

  test("packSequences keeps null stream keys as one stream (window-form parity)") {
    val docs = Seq((1L, Option.empty[String], "t t t"), (2L, None, "t t t"),
      (3L, Some("a"), "t t t")).toDF("id", "src", "body")
    val byId = GraftOps.packSequences(docs, "src", "id", "body", 4)
      .select("id", "pack_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // null stream: cum-before 0, 3 → packs 0, 0 with budget 4? No: doc 2 sees
    // cum-before 3 < 4 ⇒ pack 0. Use budget 3 to force a cut instead.
    val cut = GraftOps.packSequences(docs, "src", "id", "body", 3)
      .select("id", "pack_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    assert(cut == Map(1L -> 0L, 2L -> 1L, 3L -> 0L),
      "null-stream rows must pack as ONE stream, not be dropped by the offset join")
  }

  test("distributedRunningSum == window running sum, inclusive and exclusive, any shards") {
    // 4000 rows over 4 input partitions: RangePartitioner samples only
    // part of each, so two independently sampled range exchanges would
    // cut at different boundaries and misalign the offsets.
    val rows = (0 until 4000).map(i => (s"p${i % 4}", (i * 7919L) % 4000L, (i % 7 + 1).toLong))
    val model = rows.groupBy(_._1).flatMap { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      val cums = sorted.map(_._3).scanLeft(0L)(_ + _)
      sorted.zipWithIndex.map { case ((_, o, v), i) =>
        o -> (cums(i), cums(i) + v) // (exclusive, inclusive)
      }
    }.toMap
    forEachShardSplit(rows.toDF("p", "o", "v").repartition(4)) { (split, df) =>
      for (shards <- Seq(1, 5, 64); excl <- Seq(true, false)) {
        val got = GraftOps.distributedRunningSum(df, "p", "o", "v", "cum",
            exclusive = excl, shards = shards)
          .select("o", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = model.view.mapValues(m => if (excl) m._1 else m._2).toMap
        assert(got == want, s"diverged at shards=$shards exclusive=$excl split=$split")
      }
    }
  }

  test("chunkSplit and packSequences reject reserved caller columns") {
    val c = Seq((1L, "a b", 9L)).toDF("id", "body", "n_tokens")
    intercept[IllegalArgumentException] {
      GraftOps.chunkSplit(c, "id", "body", 2, 2)
    }
    intercept[IllegalArgumentException] {
      GraftOps.packSequences(c.withColumnRenamed("n_tokens", "pack_id"),
        "id", "id", "body", 4)
    }
  }
}
