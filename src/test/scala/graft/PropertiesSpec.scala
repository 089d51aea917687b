package graft

import graft.clean._
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck properties over the cleaning ops (SURVEY.md §5.3): invariants
  * that must hold for ANY data, checked on generated frames.
  */
object CleanOpsProps extends Properties("CleanOps") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val rowsGen: Gen[List[(Long, Option[Double])]] =
    Gen.listOfN(25, Gen.option(Gen.choose(-100.0, 100.0)))
      .map(_.zipWithIndex.map { case (v, i) => (i.toLong, v) })

  property("fillna ops never change non-null values") = Prop.forAll(rowsGen) { rows =>
    rows.isEmpty || {
      val df = rows.toDF("id", "v")
      Seq[CleanOp](FillConstant("v", 7.7), FillMean("v")).forall { op =>
        op(df).withColumnRenamed("v", "v2")
          .join(df, "id")
          .where(col("v").isNotNull && col("v") =!= col("v2"))
          .count() == 0
      }
    }
  }

  property("FillConstant and DropNaAny leave no nulls") = Prop.forAll(rowsGen) { rows =>
    rows.isEmpty || {
      val df = rows.toDF("id", "v")
      FillConstant("v", 0.0)(df).where(col("v").isNull).count() == 0 &&
        DropNaAny(Seq("v"))(df).where(col("v").isNull).count() == 0
    }
  }

  property("DedupByKey makes keys unique and is idempotent") =
    Prop.forAll(Gen.listOfN(25, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0, 100)))) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "x")
        val once = DedupByKey(Seq("k"), Seq("x"))(df)
        once.groupBy("k").count().where(col("count") > 1).count() == 0 &&
          DedupByKey(Seq("k"), Seq("x"))(once).count() == once.count()
      }
    }

  property("fingerprint canonicalization collapses permutation/case variants") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0, 3))) { picks =>
      val variants = Vector("red blue", "blue red", "RED BLUE", "blue   red")
      val df = picks.map(variants).toDF("c")
      FingerprintCanonicalize("c")(df).select("c").distinct().count() <= 1
    }

  property("Recipe fold == sequential application") =
    Prop.forAll(Gen.someOf(Seq[CleanOp](
      FillConstant("v", 1.0), DropNaAny(Seq("v")), DedupByKey(Seq("id"), Seq("v"))))) { ops =>
      val df = Seq((1L, Some(2.0)), (1L, None), (2L, Some(3.0)), (3L, None)).toDF("id", "v")
      val folded = Recipe(ops.toSeq)(df).orderBy("id", "v").collect().toSeq
      val seq = ops.foldLeft(df)((d, op) => op(d)).orderBy("id", "v").collect().toSeq
      folded == seq
    }

  property("connectedComponents == brute-force union-find on random graphs") =
    Prop.forAll(Gen.listOfN(12, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) { es =>
      // self-pairs stay in: a self-pair's node is its own singleton
      // component unless another edge joins it to a larger one.
      // Reference: in-memory union-find with min-id representatives.
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val px = parent.getOrElseUpdate(x, x)
        if (px == x) x else { val r = find(px); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      val got = GraftOps.connectedComponents(es.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected
    }

  property("MisraGries guarantee on random streams: heavy present, est in bounds") =
    Prop.forAll(
      Gen.listOfN(80, Gen.frequency((3, Gen.const("hot")), (1, Gen.choose(0, 20).map("c" + _)))),
      Gen.choose(2, 6)) { (vs, cap) =>
      vs.isEmpty || {
        val exact = vs.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val slack = vs.size.toDouble / (cap + 1)
        val sketch = GraftOps.approxTopValues(
            vs.map(("g", _)).toDF("g", "v").repartition(5), Seq("g"), "v", cap)
          .head().getSeq[org.apache.spark.sql.Row](1)
          .map(it => it.getString(0) -> it.getLong(1)).toMap
        sketch.size <= cap &&
          exact.forall { case (v, c) => c <= slack || sketch.contains(v) } &&
          sketch.forall { case (v, e) => e <= exact(v) && exact(v) - e <= slack }
      }
    }

  property("topValuesExact == in-memory exact heavy set; null groups kept, nulls not values") =
    Prop.forAll(
      Gen.listOfN(80, Gen.zip(
        Gen.oneOf(Some("g1"), Some("g2"), None),
        Gen.frequency((4, Gen.const(Some("hot"))),
          (2, Gen.choose(0, 20).map(i => Some("c" + i))), (1, Gen.const(None))))),
      Gen.choose(2, 6)) { (rows, cap) =>
      rows.isEmpty || {
        // the two-pass answer must be the EXACT deterministic heavy set —
        // the sketch may only prune pass-2 cost, never change the answer;
        // a NULL group key is a group (null-safe joins), null values are
        // not values (threshold denominator = non-null count per group)
        val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
          val vals = rs.flatMap(_._2)
          vals.groupBy(identity).collect {
            case (v, occ) if occ.size * (cap + 1) > vals.size =>
              (g, v) -> occ.size.toLong
          }
        }
        val got = GraftOps.topValuesExact(
            rows.toDF("g", "v").repartition(5), Seq("g"), "v", cap)
          .collect()
          .map(r => (Option(r.getString(0)), r.getString(1)) -> r.getLong(2)).toMap
        got == expected
      }
    }

  property("upsertLatestWins: highest version wins, inserts appear, base survives") =
    Prop.forAll(
      // change keys 0..9 over base keys 0..6, so keys 7..9 exercise the
      // true-insert branch (absent from base); versions 2..4 make
      // (key, version) ties common, and a tie must keep the larger payload
      Gen.listOfN(10, Gen.zip(Gen.choose(0L, 9L), Gen.choose(2L, 4L), Gen.choose(0, 99)))
    ) { chg =>
      val base = (0L to 6L).map(k => (k, k * 10, 1L))
      val changes = chg.map { case (k, v, x) => (k, x.toLong, v) }
      val df = GraftOps.upsertLatestWins(
        base.toDF("key", "x", "version"),
        changes.toDF("key", "x", "version").repartition(3), "key", "version")
      val got = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expected = base.map { case (k, x, v) => k -> (x, v) }.toMap ++
        changes.groupBy(_._1).view.mapValues { rows =>
          val (_, x, v) = rows.maxBy(r => (r._3, r._2))
          (x, v)
        }.toMap
      got == expected
    }

  property("asofJoin == brute-force latest-at-or-before model (null keys, same-time ties)") =
    Prop.forAll(
      Gen.listOfN(12, Gen.zip(Gen.option(Gen.choose(0L, 2L)), Gen.choose(0L, 5L))),
      Gen.listOfN(14, Gen.zip(Gen.option(Gen.choose(0L, 2L)), Gen.choose(0L, 5L),
        Gen.choose(0, 3), Gen.option(Gen.oneOf("a", "b"))))
    ) { (lefts, rights) =>
      // model: per left row, the right rows of the SAME key (NULL keys
      // group together) with time <= the left time; the largest
      // (time, x, y) wins, None sorting first — the kernel's total order
      val model = lefts.zipWithIndex.map { case ((k, t), id) =>
        val in = rights.filter(r => r._1 == k && r._2 <= t)
        id.toLong -> (if (in.isEmpty) None
          else Some(in.maxBy(r => (r._2, r._3, r._4)) match {
            case (_, _, x, y) => (x, y) }))
      }.toMap
      val left = lefts.zipWithIndex.map { case ((k, t), id) => (id.toLong, k, t) }
        .toDF("id", "k", "lt")
      val right = rights.toDF("k", "rt", "x", "y").repartition(3)
      val got = GraftOps.asofJoin(left, right, "k", "lt", "rt", Seq("x", "y"))
        .collect().map { r =>
          r.getAs[Long]("id") -> (if (r.isNullAt(r.fieldIndex("asof_x"))) None
            else Some((r.getAs[Int]("asof_x"), Option(r.getAs[String]("asof_y")))))
        }.toMap
      got == model
    }
}

/** Shared generators for the Curation property objects — one definition
  * of the small-vocab near-dup-prone corpus distribution. */
object CurationGen {
  val vocab = Vector("ox", "elk", "ant", "bee", "cod", "fox")
  val docGen: org.scalacheck.Gen[String] =
    org.scalacheck.Gen.choose(8, 14).flatMap(n =>
      org.scalacheck.Gen.listOfN(n, org.scalacheck.Gen.oneOf(vocab)).map(_.mkString(" ")))
}

/** Properties of the corpus-maintenance / sequence-shaping operators:
  * model-based checks against in-memory reimplementations (the same
  * pattern as the connectedComponents union-find mirror above). */
object CurationProps extends Properties("Curation") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  import CurationGen.docGen

  property("dedupIncremental: survivors are a subset of the batch AND idempotent") =
    Prop.forAll(Gen.listOfN(3, docGen), Gen.listOfN(4, docGen)) { (corpusT, batchT) =>
      val corpus = corpusT.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "body")
      val batch = batchT.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("id", "body")
      val kept = GraftOps.dedupIncremental(corpus, batch, "id", "body", 0.3)
      val keptIds = kept.select("id").collect().map(_.getLong(0)).toSet
      val again = GraftOps.dedupIncremental(corpus, kept, "id", "body", 0.3)
        .select("id").collect().map(_.getLong(0)).toSet
      keptIds.subsetOf(batchT.indices.map(100L + _).toSet) && again == keptIds
    }

  property("chunkSplit with stride == chunk partitions the tokens exactly") =
    Prop.forAll(docGen, Gen.choose(2, 5)) { (doc, chunk) =>
      val toks = doc.split(" ").length
      val rows = GraftOps.chunkSplit(Seq((1L, doc)).toDF("id", "body"), "id", "body",
        chunk, chunk).collect()
      rows.map(_.getAs[Long]("n_tokens")).sum == toks.toLong &&
        rows.length == (toks + chunk - 1) / chunk
    }

  property("chunkSplit with overlap: chunk count and sizes match the model") =
    Prop.forAll(docGen) { doc =>
      val toks = doc.split(" ")
      val (chunk, stride) = (4, 3)
      val expected = (0 until toks.length by stride)
        .map(s => toks.slice(s, s + chunk).length.toLong)
      val got = GraftOps.chunkSplit(Seq((1L, doc)).toDF("id", "body"), "id", "body",
          chunk, stride)
        .orderBy("chunk_idx").collect().map(_.getAs[Long]("n_tokens")).toSeq
      got == expected
    }

  property("selectByBudget == in-memory priority-order prefix under the budget") =
    Prop.forAll(Gen.listOfN(8, docGen), Gen.choose(5, 60)) { (docs, budget) =>
      val df = docs.zipWithIndex.map { case (t, i) =>
        (i.toLong, "s", t, t.split(" ").length.toLong) }
        .toDF("id", "src", "body", "tok")
      val got = GraftOps.selectByBudget(df, "src", "id", "tok", budget)
        .select("id").collect().map(_.getLong(0)).toSet
      // model: walk ids ascending, keep while tokens-before < budget
      val toks = docs.map(_.split(" ").length.toLong)
      val cums = toks.scanLeft(0L)(_ + _)
      val expected = docs.indices.filter(i => cums(i) < budget).map(_.toLong).toSet
      got == expected
    }

  property("quotaPerGroup == per-group order-prefix; absent/null quota uncapped, ≤0 drops") =
    Prop.forAll(Gen.listOfN(24, Gen.choose(0, 4)), Gen.choose(0, 4)) { (groups, capBase) =>
      // groups 0..4; quota table: group 0 → capBase, group 1 → 0 (drop),
      // group 2 → null (uncapped), groups 3/4 absent (uncapped)
      val df = groups.zipWithIndex.map { case (g, i) => (s"g$g", i.toLong) }
        .toDF("grp", "ord")
      val quotas = Seq(("g0", Some(capBase.toLong)), ("g1", Some(0L)),
        ("g2", Option.empty[Long])).toDF("grp", "quota")
      val got = GraftOps.quotaPerGroup(df, "grp", "ord", quotas)
        .select("ord").collect().map(_.getLong(0)).toSet
      val expected = groups.zipWithIndex.groupBy(_._1).flatMap { case (g, rows) =>
        val ordered = rows.map(_._2.toLong).sorted
        g match {
          case 0 => ordered.take(capBase)
          case 1 => Nil
          case _ => ordered
        }
      }.toSet
      got == expected
    }

  property("driftPsiKs: identical slices ⇒ psi = ks = 0, not drifted") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0, 9))) { buckets =>
      // every bucket occurs equally in both slices ⇒ p == q everywhere
      val df = buckets.flatMap(b => Seq((true, b), (false, b)))
        .toDF("is_ref", "bucket")
      val r = GraftOps.driftPsiKs(df, "is_ref", "bucket", 10).head()
      r.getDouble(r.fieldIndex("psi")) == 0.0 &&
        r.getDouble(r.fieldIndex("ks")) == 0.0 &&
        !r.getBoolean(r.fieldIndex("psi_drifted")) &&
        r.getLong(r.fieldIndex("n_ref")) == buckets.size &&
        r.getLong(r.fieldIndex("n_cur")) == buckets.size
    }

  property("driftPsiKs: disjoint slices ⇒ drifted, binned KS = 1") =
    Prop.forAll(Gen.choose(1, 30), Gen.choose(1, 30)) { (nRef, nCur) =>
      // all reference mass in bucket 0, all current mass in bucket 1
      val df = (Seq.fill(nRef)((true, 0)) ++ Seq.fill(nCur)((false, 1)))
        .toDF("is_ref", "bucket")
      val r = GraftOps.driftPsiKs(df, "is_ref", "bucket", 10).head()
      r.getBoolean(r.fieldIndex("psi_drifted")) &&
        r.getDouble(r.fieldIndex("ks")) == 1.0 &&
        r.getDouble(r.fieldIndex("psi")) > 0.2
    }

  property("driftPsiKs fails CLOSED on an empty slice: drifted, null ks, no Inf") =
    Prop.forAll(Gen.choose(1, 30)) { nRef =>
      // current slice is empty — the refresh-produced-nothing failure
      val df = Seq.fill(nRef)((true, 0)).toDF("is_ref", "bucket")
      val r = GraftOps.driftPsiKs(df, "is_ref", "bucket", 10).head()
      r.getBoolean(r.fieldIndex("psi_drifted")) &&
        r.isNullAt(r.fieldIndex("ks")) &&
        r.getLong(r.fieldIndex("n_ref")) == nRef.toLong &&
        r.getLong(r.fieldIndex("n_cur")) == 0L
    }

  property("driftPsiKs: null-bucket rows are excluded from BOTH metrics") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0, 9)), Gen.choose(1, 10)) {
      (buckets, nNull) =>
        // balanced slices + current-only null-bucket rows: if the nulls
        // counted toward totals but not the KS cumulatives (the old
        // shape), psi/ks would disagree and n_cur would include them
        val rows = buckets.flatMap(b => Seq((true, Option(b)), (false, Option(b)))) ++
          Seq.fill(nNull)((false, Option.empty[Int]))
        val r = GraftOps.driftPsiKs(rows.toDF("is_ref", "bucket"),
          "is_ref", "bucket", 10).head()
        r.getDouble(r.fieldIndex("psi")) == 0.0 &&
          r.getDouble(r.fieldIndex("ks")) == 0.0 &&
          !r.getBoolean(r.fieldIndex("psi_drifted")) &&
          r.getLong(r.fieldIndex("n_cur")) == buckets.size.toLong
    }

  property("DriftMath (streaming kernel) == batch driftPsiKs on shared histograms") =
    Prop.forAll(Gen.listOf(Gen.choose(0, 9)), Gen.nonEmptyListOf(Gen.choose(0, 9))) {
      (refB, curB) =>
        val df = (refB.map((true, _)) ++ curB.map((false, _)))
          .toDF("is_ref", "bucket")
        val row = GraftOps.driftPsiKs(df, "is_ref", "bucket", 10).head()
        val ref = refB.groupBy(identity).map { case (b, l) => b -> l.size.toLong }
        val cur = curB.groupBy(identity).map { case (b, l) => b -> l.size.toLong }
        val (psi, ks, drifted, tCur) =
          graft.clean.ProfileQueries.DriftMath.psiKs(ref, cur, 10)
        val ksMatches =
          if (row.isNullAt(row.fieldIndex("ks"))) ks.isEmpty
          else ks.contains(row.getDouble(row.fieldIndex("ks")))
        row.getDouble(row.fieldIndex("psi")) == psi &&
          row.getBoolean(row.fieldIndex("psi_drifted")) == drifted &&
          row.getLong(row.fieldIndex("n_cur")) == tCur && ksMatches
    }

  property("driftPsiKs: empty and all-null-bucket inputs ⇒ (0, 0, null, true, null)") =
    Prop.forAll(Gen.listOf(Gen.oneOf(true, false))) { flags =>
      // no bucket survives the null filter: the histogram is empty, so
      // psi has no terms (null, not 0.0) and the gate fails closed
      val allNull = flags.map((_, Option.empty[Int])).toDF("is_ref", "bucket")
      Seq(allNull.limit(0), allNull).forall { df =>
        GraftOps.driftPsiKs(df, "is_ref", "bucket", 10).head().toSeq ==
          Seq(0L, 0L, null, true, null)
      }
    }

  property("driftPsiKs: a long bucket column gives the same row as its int cast") =
    Prop.forAll(Gen.listOf(Gen.zip(Gen.oneOf(true, false),
        Gen.option(Gen.choose(0, 9))))) { rows =>
      val df = rows.toDF("is_ref", "bucket")
      GraftOps.driftPsiKs(df, "is_ref", "bucket", 10).head() ==
        GraftOps.driftPsiKs(df.withColumn("bucket", col("bucket").cast("long")),
          "is_ref", "bucket", 10).head()
    }

  property("driftPsiKs rejects a non-integral bucket column, naming it") = {
    // a cast to int would silently truncate 1.5 and 1.9 into one bin
    val df = Seq((true, 1.5), (false, 1.9)).toDF("is_ref", "score_bin")
    Prop(scala.util.Try(GraftOps.driftPsiKs(df, "is_ref", "score_bin", 10)) match {
      case scala.util.Failure(e: IllegalArgumentException) =>
        e.getMessage.contains("score_bin")
      case _ => false
    })
  }

  property("quotaPerGroup: duplicated quota keys collapse to the STRICTEST cap") =
    Prop.forAll(Gen.choose(1, 5), Gen.choose(6, 20)) { (lo, hi) =>
      val df = (0 until 30).map(i => ("g", i.toLong)).toDF("grp", "ord")
      val quotas = Seq(("g", hi.toLong), ("g", lo.toLong)).toDF("grp", "quota")
      GraftOps.quotaPerGroup(df, "grp", "ord", quotas).count() == lo.toLong
    }

  property("packSequences matches the in-memory exclusive-cumsum model") =
    Prop.forAll(Gen.listOfN(8, docGen), Gen.choose(5, 30)) { (docs, budget) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, "s", t) }
        .toDF("id", "src", "body")
      val got = GraftOps.packSequences(df, "src", "id", "body", budget)
        .select("id", "pack_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cums = docs.map(_.split(" ").length.toLong).scanLeft(0L)(_ + _)
      val expected = docs.indices.map(i => i.toLong -> cums(i) / budget).toMap
      got == expected
    }
}

/** Model-based properties for decontamination and epoch mixing. */
object CurationProps2 extends Properties("Curation2") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  import CurationGen.docGen

  private def ngrams(doc: String, n: Int): Set[String] =
    doc.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  property("decontaminate == in-memory n-gram overlap model") =
    Prop.forAll(Gen.listOfN(3, docGen), Gen.listOfN(4, docGen)) { (evalT, corpusT) =>
      val n = 4
      val evalDf = evalT.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "body")
      val corpusDf = corpusT.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("id", "body")
      val got = GraftOps.decontaminate(corpusDf, evalDf, "id", "body", n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val evalGrams = evalT.map(ngrams(_, n)).foldLeft(Set.empty[String])(_ ++ _)
      val expected = corpusT.zipWithIndex
        .map { case (t, i) => (100L + i) -> (ngrams(t, n) & evalGrams).size.toLong }
        .filter(_._2 > 0).toMap
      got == expected
    }

  property("pipeline_mix_epochs row counts = docs × per-source epochs") = {
    val df = SparkEntry.queries("pipeline_mix_epochs")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val epochs = (src: String) =>
      if (Set("src0", "src1", "src2", "src3", "src4")(src)) 3L
      else if (Set("src5", "src6", "src7", "src8", "src9")(src)) 2L else 1L
    Prop(docs.forall { case (src, cnt) => df(src) == cnt * epochs(src) })
  }
}
