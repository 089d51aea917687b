package graft.llm

import graft._
import graft.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact-hash document dedup + sign-LSH ANN — the remaining two entries of
  * the training-pipeline dedup/similarity menu (exact hash-groupBy dedup;
  * LSH-bucketed ANN to complement the IVF variant).
  */
object Dedup2 {

  val queries: Map[String, Q] = Map(
    // THRESHOLD SWEEP over the verified LSH pairs — the eval that picks
    // the dedup threshold: for each candidate θ, how many pairs survive
    // and how many documents a keep-smallest-id policy would drop (the
    // larger-id member per surviving pair, distinct — the single-link
    // upper bound on removals; the exact figure needs the CC pass the
    // declared dedup chain runs). ONE pass over the (already LSH-bounded)
    // verified pairs; θ compares run on the SAME round-6 jaccard both
    // engines emit, so the bucket edges are exact.
    "dedup_threshold_sweep" -> { (s, dir) =>
      val da = Dedup.docArraysCached(s, dir)
      val scored = Dedup.verifyCandidates(da, da, Dedup.candidatesFromArrays(da),
        "jaccard", 0.3, Dedup.jaccardScore)
      val thetas = Seq(0.3, 0.5, 0.7, 0.9)
      val aggs = thetas.zipWithIndex.flatMap { case (t, i) => Seq(
        sum(when(col("jaccard") >= t, 1L).otherwise(0L)).as(s"p$i"),
        countDistinct(when(col("jaccard") >= t,
          greatest(col("doc_a"), col("doc_b")))).as(s"r$i")) }
      val wide = scored.agg(aggs.head, aggs.tail: _*)
      val rows = thetas.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"), col(s"p$i").as("n_pairs"),
          col(s"r$i").as("n_docs_removed"))
      }
      wide.select(explode(array(rows: _*)).as("r"))
        .select(col("r.threshold").as("threshold"),
          col("r.n_pairs").as("n_pairs"),
          col("r.n_docs_removed").as("n_docs_removed"))
        .orderBy("threshold")
    },

    // exact dedup by content hash: one shuffle on md5(text); keep-min
    // doc_id; clusters with >1 copy. The corpus' planted near-dups are not
    // byte-identical, so exact copies (doc_id+1000000, same text for
    // doc_id % 10 = 0) are unioned in to exercise the operator.
    "dedup_exact_docs" -> { (s, dir) =>
      val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      base.unionByName(copies)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .where(col("n_copies") > 1)
        .select(col("keeper"), col("n_copies"), col("h"))
        .orderBy(col("keeper"), col("h"))
    },

    // inter-source trigram overlap matrix — which sources duplicate
    // each other's content (syndication, mirrors, scraped copies): the
    // corpus collapses to DISTINCT (source, trigram) rows (vocabulary-
    // sized), pairs join on the trigram (fan-out bounded per shingle by
    // the source count, never the corpus), Jaccard over exact set
    // sizes. Only overlapping pairs emit — a zero row would mean a
    // shingle-free source pair.
    "text_source_ngram_overlap" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val sh = Dedup.shingleArrays(d, "doc_id", "text", 3, dedup = true)
      // r14 rework (guide §2.3/§2.4, the text_vocab_overlap_langs shape):
      // the old form ran distinct(source, trigram) over the exploded
      // shingle stream and a trigram-keyed self-join — three
      // shingle-scale exchanges. The source set per trigram is bounded
      // by the source count, so ONE groupBy(bg).collect_set(source) pass
      // (map-side partial aggregation) replaces them; sizes and pair
      // intersections are |shingle-vocab|-sized arithmetic on the
      // materialized-once table. Identical sets → identical output.
      val srcSets = sh.join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), explode(col("sh")).as("bg"))
        .groupBy("bg").agg(collect_set(col("source")).as("srcs"))
        .localCheckpoint(false) // feeds sizes AND the pair expansion
      val sizes = srcSets.select(explode(col("srcs")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("nv"))
      srcSets
        .select(explode(col("srcs")).as("src_a"), col("srcs"))
        .select(col("src_a"), explode(col("srcs")).as("src_b"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("common"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("nv").as("na"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("nv").as("nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("common"),
          round(Dedup.jaccardScore(col("common"), col("na"), col("nb")), 6)
            .as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    // soft dedup (repeat upweighting): instead of DROPPING near-dup
    // losers, the cluster keeper (the component's min id) carries
    // weight = cluster size and singletons carry weight 1 — the
    // dedup-aware sampling-weight table some pipelines prefer over hard
    // removal (information kept, sampling probability corrected).
    // Output is the weight histogram — the audit artifact.
    "dedup_soft_upweight" -> { (s, dir) =>
      val pairs = Dedup.candidates(s, dir).select(col("doc_a"), col("doc_b"))
      val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      val clusterW = cc.groupBy(col("component").as("doc_id"))
        .agg(count(lit(1)).as("weight"))
      val singletons = Tables(s, dir, "documents").select(col("doc_id"))
        .join(cc.select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("weight", lit(1L))
      clusterW.unionByName(singletons)
        .groupBy("weight").agg(count(lit(1)).as("n_keepers"))
        .orderBy("weight")
    },

    // MinHash estimator calibration: for every LSH candidate pair,
    // compare the 16-hash Jaccard estimate (matching components / 16)
    // against the EXACT trigram Jaccard — grouped by the integer
    // estimate. The eval that says whether k=16 is enough hashes for
    // the corpus (mean |est − exact| per estimate level); candidates
    // bound the pair count exactly like the dedup family.
    "dedup_minhash_calibration" -> { (s, dir) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val da = Dedup.docArraysCached(s, dir)
      val mhs = ColumnBridge.column(graft.functions.MinHashSig(
        ColumnBridge.expression(col("sh"))))
      val sigs = da.select(col("doc_id"), mhs.as("mhs"),
          size(col("sh")).cast("long").as("nsh"), col("sh"))
        .where(col("mhs").isNotNull)
      val cand = Dedup.candidates(s, dir).select(col("doc_a"), col("doc_b"))
      val a = sigs.select(col("doc_id").as("doc_a"), col("mhs").as("mha"),
        col("nsh").as("na"), col("sh").as("sha"))
      val b = sigs.select(col("doc_id").as("doc_b"), col("mhs").as("mhb"),
        col("nsh").as("nb"), col("sh").as("shb"))
      cand.join(a, "doc_a").join(b, "doc_b")
        .withColumn("est16", aggregate(
          zip_with(col("mha"), col("mhb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), _ + _))
        .withColumn("common",
          size(array_intersect(col("sha"), col("shb"))).cast("long"))
        // |est − exact| per pair is a fixed IEEE tree over identical
        // integers; the mean folds through exact decimal terms
        .withColumn("err", abs(col("est16") / lit(16.0) -
          Dedup.jaccardScore(col("common"), col("na"), col("nb"))))
        .groupBy("est16")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("err").cast(DecimalType(18, 12))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 6).as("mean_abs_err"))
        .orderBy("est16")
    },

    // sign-LSH ANN: 8 deterministic hyperplanes = the unit vectors of
    // vec_id 1..8; bucket = sign bits of the 8 dots; queries search only
    // their own bucket, then exact cosine rescoring top-3. Complements
    // sim_ann_ivf as the LSH-bucketed scale path.
    "sim_ann_lsh" -> { (s, dir) =>
      val all = Similarity.withUnit(Tables(s, dir, "embeddings"), col("embedding"))
        .select(col("vec_id"), col("v"))
      // The 8 hyperplanes pivot into ONE broadcast row of 8 array columns,
      // so the bucket bits are pure map-side expressions over `all` — no
      // 8× row inflation and no hash aggregation keyed on a 64-double
      // array (the r1/r2 plan grouped by (vec_id, v) after the explode).
      val pvCols = (1 to 8).map(p =>
        first(when(col("vec_id") === p, col("v")), ignoreNulls = true).as(s"pv$p"))
      val planeRow = all.where(col("vec_id").between(1, 8))
        .agg(pvCols.head, pvCols.tail: _*)
      val bucketExpr = (1 to 8).map(p =>
        shiftleft(when(round(Similarity.cosine(col("v"), col(s"pv$p")), 6) >= 0, 1L)
          .otherwise(0L), p - 1)).reduce(_ + _)
      val bucketed = all.crossJoin(broadcast(planeRow))
        .withColumn("bucket", bucketExpr)
        .select(col("vec_id"), col("v"), col("bucket"))
      val q = bucketed.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      q.join(bucketed, "bucket")
        .where(col("vec_id") =!= col("qid"))
        // + 0.0 normalizes IEEE -0.0 on a near-zero cosine (rank + emit)
        .withColumn("cos",
          round(Similarity.cosine(col("qv"), col("v")), 6) + lit(0.0))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
        .orderBy(col("qid"), col("rank"))
    },

    // LSH OBSERVABILITY: per-band bucket census of the MinHash band-sig
    // relation — bucket count, largest bucket, and the candidate-pair
    // mass Σ c(c−1)/2 each band contributes to the self-join. This is
    // the production dashboard for the quantity the skew probe measures
    // offline (a hot bucket = a hot join task at 100 TB): exact integer
    // outputs, one aggregate over the same map-side signature pass the
    // dedup chain rides (4 rows/doc — no extra shuffle shape).
    "dedup_band_bucket_stats" -> { (s, dir) =>
      val sigs = Dedup.bandSigsFromArrays(Dedup.docArraysCached(s, dir))
      sigs.groupBy("band", "sig").agg(count(lit(1)).as("c"))
        .groupBy("band")
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_buckets"),
          max(col("c")).as("max_bucket"),
          // c(c−1) is even, DIV keeps the pair mass integral (Column `/`
          // would emit double and break the bigint dtype contract)
          sum(expr("c * (c - 1) DIV 2")).as("candidate_pairs"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_colliding_buckets"))
        .orderBy("band")
    }
  )

  // ONE unit-vector mirror for the package (Similarity.sqlUnit) — a
  // second hand-maintained copy could silently drift from the sim family
  private val sqlUnitVecs =
    s"SELECT vec_id, ${Similarity.sqlUnit("embedding")} AS v FROM embeddings"

  val oracle: Map[String, String] = Map(
    "dedup_threshold_sweep" -> {
      val thetas = Seq("0.3", "0.5", "0.7", "0.9")
      val rows = thetas.map { t =>
        s"""SELECT cast($t AS double) AS threshold,
           |  cast(sum(CASE WHEN jaccard >= $t THEN 1 ELSE 0 END) AS bigint)
           |    AS n_pairs,
           |  cast(count(DISTINCT CASE WHEN jaccard >= $t
           |    THEN greatest(doc_a, doc_b) END) AS bigint) AS n_docs_removed
           |FROM scored""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${Dedup.sqlBands},
         |sizes AS (SELECT doc_id, count(*) AS nbg FROM sh GROUP BY doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, count(*) AS common
         |  FROM cand c JOIN sh ba ON ba.doc_id = c.doc_a
         |  JOIN sh bb ON bb.doc_id = c.doc_b AND ba.bg = bb.bg
         |  GROUP BY 1, 2),
         |scored AS (SELECT c.doc_a, c.doc_b,
         |    round(cast(coalesce(m.common, 0) AS double)
         |      / cast(sa.nbg + sb.nbg - coalesce(m.common, 0) AS double), 6)
         |      AS jaccard
         |  FROM cand c
         |  LEFT JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b
         |  WHERE round(cast(coalesce(m.common, 0) AS double)
         |      / cast(sa.nbg + sb.nbg - coalesce(m.common, 0) AS double), 6)
         |    >= 0.3)
         |SELECT * FROM ($rows) ORDER BY threshold""".stripMargin
    },
    "text_source_ngram_overlap" ->
      """WITH pos AS (SELECT doc_id, source,
        |    unnest(string_split(lower(text), ' ')) AS word,
        |    generate_subscripts(string_split(lower(text), ' '), 1) AS pos
        |  FROM documents),
        |sh AS (SELECT DISTINCT source, bg FROM (
        |  SELECT source, word || ' ' || lead(word, 1) OVER w || ' '
        |      || lead(word, 2) OVER w AS bg
        |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        |  WHERE bg IS NOT NULL),
        |sizes AS (SELECT source, cast(count(*) AS bigint) AS nv
        |  FROM sh GROUP BY source)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  cast(count(*) AS bigint) AS common,
        |  round(cast(count(*) AS double)
        |    / cast(sa.nv + sb.nv - count(*) AS double), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.bg = b.bg AND a.source < b.source
        |JOIN sizes sa ON sa.source = a.source
        |JOIN sizes sb ON sb.source = b.source
        |GROUP BY a.source, b.source, sa.nv, sb.nv
        |ORDER BY src_a, src_b""".stripMargin,
    "dedup_soft_upweight" ->
      s"""WITH RECURSIVE ${Dedup.sqlBands},
         |pr AS (SELECT doc_a, doc_b FROM cand),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION ALL SELECT doc_b, doc_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
         |labs AS (SELECT node, min(lab) AS lab FROM reach GROUP BY node),
         |cw AS (SELECT lab AS doc_id, cast(count(*) AS bigint) AS weight
         |       FROM labs GROUP BY lab),
         |sing AS (SELECT d.doc_id, cast(1 AS bigint) AS weight
         |  FROM documents d LEFT JOIN labs l ON d.doc_id = l.node
         |  WHERE l.node IS NULL),
         |allw AS (SELECT * FROM cw UNION ALL SELECT * FROM sing)
         |SELECT weight, cast(count(*) AS bigint) AS n_keepers
         |FROM allw GROUP BY weight ORDER BY weight""".stripMargin,
    "dedup_minhash_calibration" ->
      s"""WITH ${Dedup.sqlBands},
         |est AS (SELECT c.doc_a, c.doc_b,
         |    cast(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS bigint)
         |      AS est16
         |  FROM cand c JOIN mh a ON a.doc_id = c.doc_a
         |  JOIN mh b ON b.doc_id = c.doc_b AND b.i = a.i
         |  GROUP BY c.doc_a, c.doc_b),
         |sizes AS (SELECT doc_id, cast(count(*) AS bigint) AS nsh
         |          FROM sh GROUP BY doc_id),
         |com AS (SELECT c.doc_a, c.doc_b, cast(count(*) AS bigint) AS common
         |  FROM cand c JOIN sh x ON x.doc_id = c.doc_a
         |  JOIN sh y ON y.doc_id = c.doc_b AND y.bg = x.bg
         |  GROUP BY c.doc_a, c.doc_b),
         |pairs AS (SELECT e.est16, coalesce(m.common, 0) AS common,
         |    sa.nsh AS na, sb.nsh AS nb
         |  FROM est e
         |  LEFT JOIN com m ON m.doc_a = e.doc_a AND m.doc_b = e.doc_b
         |  JOIN sizes sa ON sa.doc_id = e.doc_a
         |  JOIN sizes sb ON sb.doc_id = e.doc_b)
         |SELECT est16, cast(count(*) AS bigint) AS n_pairs,
         |  round(cast(sum(cast(abs(est16 / 16.0
         |      - common / (na + nb - common)) AS decimal(18,12))) AS double)
         |    / cast(count(*) AS double), 6) AS mean_abs_err
         |FROM pairs GROUP BY est16 ORDER BY est16""".stripMargin,
    "dedup_exact_docs" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
        |k AS (SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
        |      FROM d GROUP BY 1)
        |SELECT keeper, n_copies, h FROM k WHERE n_copies > 1
        |ORDER BY keeper, h""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH e AS ($sqlUnitVecs),
         |planes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id BETWEEN 1 AND 8),
         |bucketed AS (SELECT e.vec_id, e.v,
         |    cast(sum(CASE WHEN round(list_dot_product(e.v, p.pv), 6) >= 0
         |             THEN 1 ELSE 0 END << (p.pid - 1)) as bigint) AS bucket
         |  FROM e CROSS JOIN planes p GROUP BY e.vec_id, e.v),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM bucketed WHERE vec_id % 50 = 0),
         |scored AS (SELECT q.qid, b.vec_id,
         |    round(list_dot_product(q.qv, b.v), 6) + 0.0 AS cos
         |  FROM q JOIN bucketed b USING (bucket) WHERE b.vec_id <> q.qid),
         |ranked AS (SELECT qid, vec_id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored)
         |SELECT qid, rank, vec_id, cos FROM ranked WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin,
    "dedup_band_bucket_stats" ->
      s"""WITH ${Dedup.sqlBands},
         |census AS (SELECT band, sig, cast(count(*) AS bigint) AS c
         |  FROM sigs GROUP BY 1, 2)
         |SELECT band, cast(sum(c) AS bigint) AS n_docs,
         |  cast(count(*) AS bigint) AS n_buckets,
         |  cast(max(c) AS bigint) AS max_bucket,
         |  cast(sum(c * (c - 1) // 2) AS bigint) AS candidate_pairs,
         |  cast(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS bigint)
         |    AS n_colliding_buckets
         |FROM census GROUP BY band ORDER BY band""".stripMargin
  )
}
