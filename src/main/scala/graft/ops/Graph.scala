package graft.ops

import graft._
import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Graph analytics over co-occurrence graphs — the family a training-data
  * engine needs for catalog/entity structure: build an item-item graph
  * from (basket, item) facts, then degree/wedge/triangle statistics.
  *
  * Scale shape: the edge builder's self-join is WITHIN a basket — the
  * pair expansion is bounded by basket size squared, and since round 11
  * that bound is ENFORCED, not assumed: [[MaxBasket]] drops degenerate
  * mega-baskets before pair expansion (TPC-H orders carry ≤ 7 items so
  * the cap is invisible on testdata, but a hot orderkey owning 10% of
  * lineitem OOM'd the pre-cap build in the skew probe). The `minWeight` filter then shrinks the graph to edges
  * observed repeatedly (random one-off co-occurrence is noise at any
  * scale), and every downstream join runs on that reduced edge table —
  * unhinted, so AQE broadcasts while it is small and degrades to shuffle
  * joins when it is not (the verifyCandidates discipline). The
  * wedge/triangle counting itself is the standard a<b<c oriented-join
  * formulation: each triangle counted exactly once, no DISTINCT repair.
  */
object Graph {

  /** PUBLIC API: weighted co-occurrence edges — item pairs sharing at
    * least `minWeight` groups. Output (pa, pb, w) with pa < pb.
    *
    * One shuffle to the group grain (collect_set), then the pair
    * expansion runs MAP-SIDE through the native [[graft.functions
    * .ArrayPairs]] expression (sorted distinct array → all pa < pb
    * pairs in one codegen'd loop) — the relational self-join form pays
    * a second full shuffle plus the join for the same pairs. Pair count
    * per group is |group|²/2: bounded by basket size by contract. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      minWeight: Long): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val pairs = ColumnBridge.column(graft.functions.ArrayPairs(
      ColumnBridge.expression(col("__is"))))
    df.select(col(groupCol).as("__g"), col(itemCol).cast("long").as("__i"))
      .groupBy("__g")
      .agg(sort_array(collect_set(col("__i"))).as("__is"))
      .select(explode(pairs).as("__p"))
      .select(col("__p.pa").as("pa"), col("__p.pb").as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= minWeight)
  }

  /** PUBLIC API: one-row global graph statistics — nodes, edges, wedges
    * (paths of length 2: Σ d(d−1)/2), triangles (oriented 3-join), and
    * the global clustering coefficient 3·triangles/wedges. */
  def triangleStats(edges: DataFrame): DataFrame = {
    // the edge table feeds FIVE plan branches (degree union ×2, the
    // three-way triangle join, the edge count) — materialize it once
    // instead of replaying the caller's (possibly fact-scale) build per
    // branch. Lazy localCheckpoint: the connectedComponents lineage
    // discipline; blocks reclaimed when the result is dereferenced.
    val e = edges.select("pa", "pb").localCheckpoint(false)
    val deg = e.select(col("pa").as("p"))
      .unionAll(e.select(col("pb").as("p")))
      .groupBy("p").agg(count(lit(1)).as("d"))
    // keep the wedge count integral end-to-end (DIV, not the
    // double-returning `/`): sum d(d−1) is even, DIV 2 is exact
    val wedges = deg.agg(
      expr("CAST(sum(d * (d - 1)) DIV 2 AS bigint)").as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.pb") === col("e2.pa"))
      .join(e.as("e3"),
        col("e1.pa") === col("e3.pa") && col("e2.pb") === col("e3.pb"))
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    wedges.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri))
      .withColumn("clustering",
        (col("n_triangles").cast(DoubleType) * 3.0) /
          col("n_wedges").cast(DoubleType))
      .select("n_nodes", "n_edges", "n_wedges", "n_triangles", "clustering")
  }

  // ---- shared-build memoization (the Dedup.docArraysCached discipline) --
  // The graph family (7 declared queries across Graph/Extras17/Extras24)
  // shares ONE upstream build: lineitem → basket grain → ArrayPairs →
  // strong edges. Rebuilding it per query re-scans the fact table ~7×
  // per sweep; memoizing one persisted copy per (session, dir) makes
  // every query after the first start from the (tiny) edge table.
  // Lifetime: LRU eviction, or [[clearCaches]] between corpora.

  private val registry = new graft.PersistRegistry[(String, String)]

  /** PUBLIC API: unpersist every relation the graph family cached for
    * `session` (basket grain + strong edges) and drop the memo entries so
    * the next call rebuilds. Returns relations unpersisted. */
  def clearCaches(session: org.apache.spark.sql.SparkSession): Int =
    registry.clear(session)

  /** Basket-size cap: baskets above this are dropped before pair
    * expansion. TPC-H orders carry ≤ 7 lines so the cap never fires on
    * the testdata, but one HOT orderkey owning a visible share of
    * lineitem would otherwise materialize a single giant item array and
    * emit C(n,2) pairs from one row (the round-11 skew probe OOM'd an
    * executor exactly this way). Dropping degenerate mega-baskets is the
    * standard market-basket discipline — a basket with thousands of
    * items contributes no usable co-purchase signal, only quadratic
    * pairs — and the cap bounds per-row work at C(64,2) = 2016. Mirrored
    * in every graph-family DuckDB oracle (the capped `items` CTE). */
  private[ops] val MaxBasket = 64

  /** memoized basket grain: ONE lineitem shuffle to (orderkey, sorted
    * distinct items) shared by the edge build and association rules. */
  private[ops] def basketsCached(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = registry.memo(s, (dir, "baskets")) {
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").cast("long").as("__i"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("__i"))).as("items"))
      .where(size(col("items")) <= MaxBasket)
  }

  /** memoized strong co-purchase edges (pa < pb, weight ≥ 2) — the shared
    * input of all 7 graph queries. Built from [[basketsCached]], so the
    * fact scan happens at most once per (session, dir) per sweep. */
  private[ops] def strongEdgesCached(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = registry.memo(s, (dir, "edges")) {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val pairs = ColumnBridge.column(graft.functions.ArrayPairs(
      ColumnBridge.expression(col("items"))))
    basketsCached(s, dir).select(explode(pairs).as("__p"))
      .select(col("__p.pa").as("pa"), col("__p.pb").as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2L)
  }

  private def strongEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    strongEdgesCached(s, dir)

  val queries: Map[String, Q] = Map(
    // parts co-purchased in ≥ 2 orders: global structure of the strong
    // co-purchase graph. sum(d(d−1)) stays integral until one DIV 2;
    // clustering is the single double division at the end.
    "graph_triangle_stats" -> { (s, dir) => triangleStats(strongEdges(s, dir)) },

    // neighbor-set Jaccard over the strong co-purchase graph — the
    // link-prediction baseline (two parts with similar co-purchase
    // neighborhoods are substitutes/complements even if never bought
    // together). Candidate pairs come from the WEDGE join (share ≥ 1
    // neighbor — the 2-hop pigeonhole; all-pairs never materializes),
    // Jaccard over exact degree counts, top-50 ordered by the ROUNDED
    // score (the PMI rule) with key tiebreaks.
    "graph_jaccard_neighbors" -> { (s, dir) =>
      val e = strongEdges(s, dir)
      val adj = e.select(col("pa").as("node"), col("pb").as("nbr"))
        .unionByName(e.select(col("pb").as("node"), col("pa").as("nbr")))
      val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
      val x = adj.select(col("nbr").as("via"), col("node").as("x"))
      val z = adj.select(col("nbr").as("via"), col("node").as("z"))
      x.join(z, "via").where(col("x") < col("z"))
        .groupBy("x", "z").agg(count(lit(1)).as("common"))
        .join(deg.select(col("node").as("x"), col("d").as("dx")), "x")
        .join(deg.select(col("node").as("z"), col("d").as("dz")), "z")
        .select(col("x"), col("z"), col("common"),
          round(col("common").cast("double") /
            (col("dx") + col("dz") - col("common")).cast("double"), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("x"), col("z"))
        .limit(50)
    },

    // weighted modularity of the BRAND partition over the strong
    // co-purchase graph — how much more co-purchasing happens within a
    // brand than a random degree-preserving rewiring would produce
    // (Newman Q, per-community contribution e_c/W − (S_c/2W)²). A fixed
    // attribute partition keeps the oracle honest (community detection
    // itself isn't SQL-expressible; its quality METRIC is). All three
    // statistics (within-weight, weighted degree mass, node count) ride
    // the shared memoized edge build + two broadcast brand joins; sums
    // stay integral until the two IEEE divisions per community.
    "graph_modularity_partition" -> { (s, dir) =>
      val edges = strongEdges(s, dir)
      val br = Tables(s, dir, "part")
        .select(col("p_partkey").cast("long").as("p"), col("p_brand"))
      val eb = edges
        .join(broadcast(br.select(col("p").as("pa"), col("p_brand").as("ca"))), "pa")
        .join(broadcast(br.select(col("p").as("pb"), col("p_brand").as("cb"))), "pb")
      val wTot = edges.agg(sum(col("w")).as("tw"))
      val eIn = eb.where(col("ca") === col("cb"))
        .groupBy(col("ca").as("community"))
        .agg(sum(col("w")).as("e_within"))
      val deg = eb.select(col("ca").as("community"), col("w"))
        .unionByName(eb.select(col("cb").as("community"), col("w")))
        .groupBy("community").agg(sum(col("w")).as("s_degree"))
      val nn = eb.select(col("pa").as("p"), col("ca").as("community"))
        .unionByName(eb.select(col("pb").as("p"), col("cb").as("community")))
        .distinct()
        .groupBy("community").agg(count(lit(1)).as("n_nodes"))
      val dW = col("tw").cast("double")
      val ratio = col("s_degree").cast("double") / (lit(2.0) * dW)
      deg.join(nn, "community").join(eIn, Seq("community"), "left")
        .crossJoin(broadcast(wTot))
        .select(col("community"), col("n_nodes"),
          coalesce(col("e_within"), lit(0L)).as("e_within"), col("s_degree"),
          (round(coalesce(col("e_within"), lit(0L)).cast("double") / dW -
            ratio * ratio, 6) + lit(0.0)).as("contribution"))
        .orderBy("community")
    },

    // association rules over the strong co-purchase pairs: support,
    // directional confidence, lift — the Apriori-style output a
    // recommender's candidate generator consumes. Item frequencies and
    // the basket total are dimension-sized joins onto the (already
    // reduced) edge table; every ratio is a fixed two-product IEEE tree
    // over counts < 2⁵³. Top-50 by lift (bit-identical doubles both
    // engines; (pa, pb) tiebreak) → TakeOrderedAndProject.
    "graph_association_rules" -> { (s, dir) =>
      // ONE memoized shuffle to the basket grain feeds all three
      // statistics (edges via ArrayPairs — shared with every other graph
      // query through strongEdgesCached — per-item basket counts via
      // explode, the basket total); a separate distinct pass per
      // statistic would re-scan the fact three times
      val baskets = basketsCached(s, dir)
      val edges = strongEdgesCached(s, dir)
      val cnt = baskets.select(explode(col("items")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("cnt"))
      val nb = baskets.agg(count(lit(1)).as("nb"))
      val dd = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
      edges
        .join(cnt.select(col("pk").as("pa"), col("cnt").as("cnt_a")), "pa")
        .join(cnt.select(col("pk").as("pb"), col("cnt").as("cnt_b")), "pb")
        .crossJoin(broadcast(nb))
        .select(col("pa"), col("pb"), col("w"), col("cnt_a"), col("cnt_b"),
          (dd(col("w")) / dd(col("nb"))).as("support"),
          (dd(col("w")) / dd(col("cnt_a"))).as("conf_ab"),
          (dd(col("w")) / dd(col("cnt_b"))).as("conf_ba"),
          ((dd(col("w")) * dd(col("nb"))) /
            (dd(col("cnt_a")) * dd(col("cnt_b")))).as("lift"))
        .orderBy(col("lift").desc, col("pa"), col("pb"))
        .limit(50)
    },

    // PageRank, 3 power iterations over the bidirected strong
    // co-purchase graph (d = 0.85). Each iteration is ONE edges⋈ranks
    // equi-join + a hash aggregate — the same per-round shape as
    // dedup_cluster_cc's label propagation, shuffling on node id; at
    // 100 TB the edge list is the only fact-scale relation and it is
    // checkpointed once. Cross-engine exactness WITHOUT per-iteration
    // rounding: neighbor contributions are cast to DECIMAL(18,15)
    // before the (associative, exact) incoming sum, and every other
    // step — p/deg, 0.15/n + 0.85·s — is a fixed IEEE tree over
    // identical doubles, so ranks stay bit-equal through all three
    // iterations and the final TakeOrdered needs no rounded key.
    "graph_pagerank" -> { (s, dir) =>
      val e = strongEdges(s, dir)
      val e2 = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
        // r15 note: pre-partitioning+sorting e2 by src before the
        // checkpoint (the CC/labelprop layout trick) was tried and
        // REVERTED here — the rank side `p` is broadcast every
        // iteration, so the edge side never re-shuffled to begin with
        // and the added exchange+sort was pure cost (interleaved A/B
        // pooled medians 1.51 vs 1.39 s = 1.09x).
        .localCheckpoint(false) // feeds deg + one join per iteration
      val deg = e2.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
        .localCheckpoint(false) // node-sized; re-joined every iteration
      val nN = deg.agg(count(lit(1)).as("n"))
      var p = deg.crossJoin(broadcast(nN))
        .select(col("node"), col("deg"), (lit(1.0) / col("n")).as("p"))
      for (_ <- 1 to 3) {
        val inc = e2.join(p, e2("src") === p("node"))
          .select(col("dst"),
            (col("p") / col("deg")).cast(DecimalType(18, 15)).as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s2"))
        p = deg.crossJoin(broadcast(nN))
          .join(inc, deg("node") === inc("dst"), "left")
          .select(deg("node"), deg("deg"),
            (lit(0.15) / col("n") + lit(0.85) *
              coalesce(col("s2").cast(DoubleType), lit(0.0))).as("p"))
      }
      p.select(col("node"), col("p").as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(25)
    },

    // hub parts: top-10 strong-edge degrees. orderBy+limit →
    // TakeOrderedAndProject (distributed top-k, never a global sort).
    "graph_degree_topk" -> { (s, dir) =>
      val e = strongEdges(s, dir)
      e.select(col("pa").as("p"))
        .unionAll(e.select(col("pb").as("p")))
        .groupBy("p").agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("p"))
        .limit(10)
    }
  )

  private val sqlEdges =
    """edges AS (
      |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** p0→p3 CTE chain for the PageRank oracle — the same decimal-cast
    * incoming sums and fixed IEEE update tree as the Spark loop. */
  private val sqlPagerankIters: String = (1 to 3).map { k =>
    s"""i$k AS (SELECT dst, sum(cast(p / deg AS decimal(18,15))) AS s2
       |  FROM e2 JOIN p${k - 1} ON e2.src = p${k - 1}.node GROUP BY dst),
       |p$k AS (SELECT d.node, d.deg,
       |    0.15 / n + 0.85 * coalesce(cast(s2 AS double), 0.0) AS p
       |  FROM deg d CROSS JOIN nn LEFT JOIN i$k ON d.node = i$k.dst)""".stripMargin
  }.mkString(",\n")

  val oracle: Map[String, String] = Map(
    "graph_modularity_partition" ->
      s"""WITH items AS (SELECT l_orderkey, l_partkey FROM (SELECT l_orderkey, l_partkey, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)) WHERE bsz <= 64),
         |we AS (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |br AS (SELECT p_partkey AS p, p_brand FROM part),
         |eb AS (SELECT pa, pb, w, ba.p_brand AS ca, bb.p_brand AS cb
         |  FROM we JOIN br ba ON we.pa = ba.p JOIN br bb ON we.pb = bb.p),
         |wt AS (SELECT cast(sum(w) AS bigint) AS tw FROM we),
         |ein AS (SELECT ca AS community, cast(sum(w) AS bigint) AS e_within
         |  FROM eb WHERE ca = cb GROUP BY 1),
         |deg AS (SELECT community, cast(sum(w) AS bigint) AS s_degree FROM (
         |  SELECT ca AS community, w FROM eb
         |  UNION ALL SELECT cb, w FROM eb) GROUP BY 1),
         |nn AS (SELECT community, cast(count(*) AS bigint) AS n_nodes FROM (
         |  SELECT DISTINCT p, community FROM (
         |    SELECT pa AS p, ca AS community FROM eb
         |    UNION ALL SELECT pb, cb FROM eb)) GROUP BY 1)
         |SELECT deg.community AS community, n_nodes,
         |  coalesce(e_within, cast(0 AS bigint)) AS e_within, s_degree,
         |  round(cast(coalesce(e_within, cast(0 AS bigint)) AS double)
         |      / cast(tw AS double) -
         |    (cast(s_degree AS double) / (2.0 * cast(tw AS double))) *
         |    (cast(s_degree AS double) / (2.0 * cast(tw AS double))), 6)
         |    + 0.0 AS contribution
         |FROM deg JOIN nn ON deg.community = nn.community
         |LEFT JOIN ein ON deg.community = ein.community CROSS JOIN wt
         |ORDER BY community""".stripMargin,
    "graph_jaccard_neighbors" ->
      s"""WITH items AS (SELECT l_orderkey, l_partkey FROM (SELECT l_orderkey, l_partkey, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)) WHERE bsz <= 64),
         |$sqlEdges,
         |adj AS MATERIALIZED (SELECT pa AS node, pb AS nbr FROM edges
         |  UNION ALL SELECT pb, pa FROM edges),
         |deg AS (SELECT node, cast(count(*) AS bigint) AS d
         |  FROM adj GROUP BY node),
         |p AS (SELECT a.node AS x, b.node AS z,
         |    cast(count(*) AS bigint) AS common
         |  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
         |  GROUP BY a.node, b.node)
         |SELECT x, z, common,
         |  round(cast(common AS double) / cast(dx.d + dz.d - common AS double),
         |    6) AS jaccard
         |FROM p JOIN deg dx ON dx.node = x JOIN deg dz ON dz.node = z
         |ORDER BY jaccard DESC, x, z LIMIT 50""".stripMargin,
    "graph_pagerank" ->
      s"""WITH items AS (SELECT l_orderkey, l_partkey FROM (SELECT l_orderkey, l_partkey, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)) WHERE bsz <= 64),
         |$sqlEdges,
         |e2 AS (SELECT pa AS src, pb AS dst FROM edges
         |       UNION ALL SELECT pb, pa FROM edges),
         |deg AS (SELECT src AS node, cast(count(*) AS bigint) AS deg
         |        FROM e2 GROUP BY src),
         |nn AS (SELECT cast(count(*) AS bigint) AS n FROM deg),
         |p0 AS (SELECT node, deg, 1.0 / n AS p FROM deg CROSS JOIN nn),
         |$sqlPagerankIters
         |SELECT node, p AS rank FROM p3 ORDER BY rank DESC, node LIMIT 25""".stripMargin,
    "graph_triangle_stats" ->
      s"""WITH items AS (SELECT l_orderkey, l_partkey FROM (SELECT l_orderkey, l_partkey, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)) WHERE bsz <= 64),
         |$sqlEdges,
         |nodes AS (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges),
         |deg AS (SELECT p, count(*) AS d FROM nodes GROUP BY 1),
         |w AS (SELECT cast(sum(d * (d - 1)) // 2 as bigint) AS n_wedges,
         |             count(*) AS n_nodes FROM deg),
         |tri AS (SELECT count(*) AS n_triangles FROM edges e1
         |        JOIN edges e2 ON e1.pb = e2.pa
         |        JOIN edges e3 ON e1.pa = e3.pa AND e2.pb = e3.pb),
         |ne AS (SELECT count(*) AS n_edges FROM edges)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  cast(n_triangles as double) * 3.0 / cast(n_wedges as double)
         |    AS clustering
         |FROM w CROSS JOIN ne CROSS JOIN tri""".stripMargin,
    "graph_association_rules" ->
      s"""WITH items AS (SELECT l_orderkey, l_partkey FROM (SELECT l_orderkey, l_partkey, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)) WHERE bsz <= 64),
         |edges AS (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |cnt AS (SELECT l_partkey, count(*) AS cnt FROM items GROUP BY 1),
         |nbt AS (SELECT count(DISTINCT l_orderkey) AS nb FROM items)
         |SELECT pa, pb, w, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
         |  cast(w as double) / cast(nb as double) AS support,
         |  cast(w as double) / cast(ca.cnt as double) AS conf_ab,
         |  cast(w as double) / cast(cb.cnt as double) AS conf_ba,
         |  (cast(w as double) * cast(nb as double)) /
         |    (cast(ca.cnt as double) * cast(cb.cnt as double)) AS lift
         |FROM edges
         |JOIN cnt ca ON edges.pa = ca.l_partkey
         |JOIN cnt cb ON edges.pb = cb.l_partkey
         |CROSS JOIN nbt
         |ORDER BY lift DESC, pa, pb LIMIT 50""".stripMargin,
    "graph_degree_topk" ->
      s"""WITH items AS (SELECT l_orderkey, l_partkey FROM (SELECT l_orderkey, l_partkey, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)) WHERE bsz <= 64),
         |$sqlEdges,
         |nodes AS (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges)
         |SELECT p, count(*) AS degree FROM nodes GROUP BY 1
         |ORDER BY degree DESC, p LIMIT 10""".stripMargin
  )
}
