package graft.sources

import graft._
import graft.Tables._
import org.apache.spark.sql.functions._

/** §2.1 non-parquet sources as DECLARED, oracle-checked queries.
  *
  * A cleaning engine's first real user action is loading a CSV/JSON file.
  * Each query materializes a deterministic text copy of a small dimension
  * table, reads it back through the corresponding source, and aggregates;
  * the DuckDB oracle computes the same aggregate straight from the parquet
  * table — so the gate proves the source path is LOSSLESS, not just that
  * it round-trips row counts.
  *
  * Scale notes: schemas are EXPLICIT (inference = an extra full read of
  * the data — an anti-pattern at any scale); aggregation + sort make the
  * result independent of file/partition order, so the same query shape
  * holds on a thousand-split distributed read.
  */
object Sources {

  // shared scratch convention (Tables.scratchDir); note the write happens
  // when the query lambda is INVOKED (Verify / perfbench / plan tests), not at
  // cluster execution time.
  private def tmpRoot(dir: String): String = Tables.scratchDir("sources", dir)

  val queries: Map[String, Q] = Map(
    "source_csv" -> { (s, dir) =>
      val path = s"${tmpRoot(dir)}/nation_csv"
      Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .option("header", "true")
        .csv(path)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey")).as("sum_key"),
          min(col("n_name")).as("first_name"))
        .orderBy(col("n_regionkey"))
    },

    "source_json" -> { (s, dir) =>
      val path = s"${tmpRoot(dir)}/supplier_json"
      Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .coalesce(1)
        .write.mode("overwrite").json(path)
      s.read
        .schema("s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE")
        .json(path)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          dsum(col("s_acctbal")).as("sum_bal"),
          max(col("s_name")).as("last_name"))
        .orderBy(col("s_nationkey"))
    },

    "source_orc" -> { (s, dir) =>
      val path = s"${tmpRoot(dir)}/customer_orc"
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .coalesce(1)
        .write.mode("overwrite").orc(path)
      s.read
        .schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
        .orc(path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal")).as("sum_bal"),
          sum(col("c_custkey")).as("sum_key"))
        .orderBy(col("c_mktsegment"))
    },

    // Partitioned parquet SINK + pruned read-back: the write lays the data
    // out by partition key, the filtered read must touch only the matching
    // directories (PlanSpec asserts PartitionFilters on the scan). At
    // 100 TB this is the difference between scanning 2 of 5 language
    // shards and scanning the corpus.
    "sink_partitioned_pruned" -> { (s, dir) =>
      val path = s"${tmpRoot(dir)}/documents_by_lang"
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(path)
      s.read
        .schema("doc_id BIGINT, n_chars BIGINT, lang STRING")
        .parquet(path)
        .where(col("lang").isin("en", "fr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    },

    // DYNAMIC partition pruning: the static prune above needs the
    // predicate to name partition values up front; a real star query
    // filters a DIM and lets the join imply which fact partitions matter.
    // Spark's PartitionPruning rule turns the broadcast dim into a
    // DynamicPruningSubquery on the fact scan's partition column — the
    // fact directories for non-qualifying langs are never even listed
    // into tasks (PlanSpec asserts dynamicpruning in PartitionFilters).
    // At 100 TB: the dim filter decides at RUNTIME which shards the fact
    // scan touches; without DPP the join would read every shard and
    // discard rows post-scan.
    "join_partition_pruned_dynamic" -> { (s, dir) =>
      val path = s"${tmpRoot(dir)}/documents_by_lang_dpp"
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(path)
      // the dim must be a REAL scan for the PartitionPruning rule to see
      // its selective predicate — an inline Seq constant-folds into a
      // LocalRelation (ConvertToLocalRelation eats the filter before the
      // rule runs) and DPP silently never fires
      val dimPath = s"${tmpRoot(dir)}/lang_dim_dpp"
      import s.implicits._
      Seq(("en", "target"), ("fr", "target"), ("zh", "other"),
        ("de", "other"), ("es", "other")).toDF("d_lang", "bucket")
        .write.mode("overwrite").parquet(dimPath)
      val dim = s.read.schema("d_lang STRING, bucket STRING").parquet(dimPath)
      s.read
        .schema("doc_id BIGINT, n_chars BIGINT, lang STRING")
        .parquet(path)
        .join(broadcast(dim.where(col("bucket") === "target")),
          col("lang") === col("d_lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    },

    // Range-clustered layout + min/max skipping: repartitionByRange puts
    // each user_id range in ONE file and sortWithinPartitions makes the
    // parquet rowgroup min/max stats tight, so the pushed filter (PlanSpec
    // asserts PushedFilters on user_id) skips whole files/rowgroups at the
    // footer — the complement to directory-level partition pruning, and
    // the right layout for a high-cardinality key where one-directory-per-
    // value would explode the filesystem. At 100 TB: sort the corpus by
    // its hottest filter key once, every later range query reads ~1/Nth.
    "layout_sorted_skipping" -> { (s, dir) =>
      val path = s"${tmpRoot(dir)}/events_by_user"
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .repartitionByRange(8, col("user_id"))
        .sortWithinPartitions(col("user_id"))
        .write.mode("overwrite").parquet(path)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
        .parquet(path)
        .where(col("user_id").between(4L, 11L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"),
          sum(col("event_id")).as("sum_ids"))
        .orderBy(col("user_id"))
    },

    // Z-ORDER layout: when TWO filter keys must both skip, a single-key
    // sort leaves the second key scattered across every file. Interleaving
    // the keys' bits into one z-value and range-sorting by it keeps file/
    // rowgroup min-max boxes tight on BOTH dimensions, so pushed filters
    // on either (or both) keys skip at the footer. The z-value is pure
    // integer arithmetic (16 interleaved bits per key), the layout cost is
    // one write — the read-back query never touches z.
    "layout_zorder" -> { (s, dir) =>
      val path = s"${tmpRoot(dir)}/events_zorder"
      val vb = least(floor(col("value") / 10.0), lit(63.0)).cast("long")
      val z = (0 until 16).map { i =>
        shiftleft(shiftright(col("user_id"), i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(col("vb"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      }.reduce(_ + _)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("vb", vb)
        .withColumn("z", z)
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions(col("z"))
        .drop(col("z"))
        .write.mode("overwrite").parquet(path)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, vb BIGINT")
        .parquet(path)
        .where(col("user_id").between(1L, 3L) && col("vb").between(2L, 5L))
        .groupBy(col("user_id"), col("vb"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("sum_ids"))
        .orderBy(col("user_id"), col("vb"))
    },

    // SCHEMA EVOLUTION read: a long-lived table accretes columns across
    // generations; mergeSchema=true unions the footers into one schema
    // (absent columns read as null) — the one sanctioned use of schema
    // inference here, because reconciling generation schemas IS the
    // operation (each footer read is O(metadata), not a data scan; at
    // 100 TB the generation count, not the row count, is the cost).
    // count(col) vs count(*) distinguishes rows that HAVE the late column,
    // so the gate proves null-backfill, not just row survival.
    "source_merge_schema" -> { (s, dir) =>
      val path = s"${tmpRoot(dir)}/lineitem_evolving"
      val li = Tables(s, dir, "lineitem")
      li.where(col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").parquet(s"$path/gen1")
      li.where(col("l_orderkey") % 2 =!= 0)
        .select(col("l_orderkey"), col("l_quantity"), col("l_discount"))
        .write.mode("overwrite").parquet(s"$path/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/gen1", s"$path/gen2")
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"),
          count(col("l_discount")).as("n_with_discount"),
          dsum(coalesce(col("l_discount"), lit(0.0))).as("sum_disc"))
    },

    // SMALL-FILE COMPACTION: the chronic 100 TB maintenance op — a
    // fragmented layout (here 64 shards of a small table) is rewritten
    // into few right-sized files. coalesce(), NOT repartition(): it
    // merges input splits map-side with zero shuffle, which is the
    // correct primitive when the goal is fewer files, not a new
    // distribution (a real job picks N from bytes/targetFileSize per
    // partition dir). The declared result is the content checksum read
    // back from the compacted layout — the gate proves losslessness;
    // SourcesSpec asserts the file count actually dropped.
    "layout_compact_small_files" -> { (s, dir) =>
      val frag = s"${tmpRoot(dir)}/events_fragmented"
      val compacted = s"${tmpRoot(dir)}/events_compacted"
      val sel = Seq("event_id", "user_id", "value")
      Tables(s, dir, "events").select(sel.map(col): _*)
        .repartition(64)
        .write.mode("overwrite").parquet(frag)
      s.read.schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
        .parquet(frag)
        .coalesce(2)
        .write.mode("overwrite").parquet(compacted)
      s.read.schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
        .parquet(compacted)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("sum_ids"),
          sum(col("user_id")).as("sum_users"),
          dsum(col("value")).as("sum_value"))
    }
  )

  val oracle: Map[String, String] = Map(
    "source_csv" ->
      """SELECT n_regionkey, count(*) AS n_nations,
        |cast(sum(n_nationkey) as bigint) AS sum_key, min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "source_json" ->
      s"""SELECT s_nationkey, count(*) AS n_supp,
         |${sqlDsum("s_acctbal")} AS sum_bal, max(s_name) AS last_name
         |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "source_orc" ->
      s"""SELECT c_mktsegment, count(*) AS n_cust,
         |${sqlDsum("c_acctbal")} AS sum_bal,
         |cast(sum(c_custkey) as bigint) AS sum_key
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "sink_partitioned_pruned" ->
      """SELECT lang, count(*) AS n_docs,
        |cast(sum(n_chars) as bigint) AS sum_chars,
        |cast(sum(doc_id) as bigint) AS sum_ids
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "join_partition_pruned_dynamic" ->
      """WITH dim(d_lang, bucket) AS (VALUES
        |  ('en','target'), ('fr','target'), ('zh','other'),
        |  ('de','other'), ('es','other'))
        |SELECT d.lang, count(*) AS n_docs,
        |cast(sum(d.n_chars) as bigint) AS sum_chars,
        |cast(sum(d.doc_id) as bigint) AS sum_ids
        |FROM documents d JOIN dim ON d.lang = dim.d_lang
        |WHERE dim.bucket = 'target'
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "layout_sorted_skipping" ->
      s"""SELECT user_id, count(*) AS n_events,
         |${sqlDsum("value")} AS sum_value,
         |cast(sum(event_id) as bigint) AS sum_ids
         |FROM events WHERE user_id BETWEEN 4 AND 11
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "layout_zorder" ->
      """SELECT user_id, vb, count(*) AS n_events,
        |cast(sum(event_id) as bigint) AS sum_ids
        |FROM (SELECT event_id, user_id,
        |      cast(least(floor(value / 10.0), 63.0) as bigint) AS vb
        |      FROM events)
        |WHERE user_id BETWEEN 1 AND 3 AND vb BETWEEN 2 AND 5
        |GROUP BY user_id, vb ORDER BY user_id, vb""".stripMargin,
    "source_merge_schema" ->
      s"""SELECT count(*) AS n_rows, ${sqlDsum("l_quantity")} AS sum_qty,
         |count(CASE WHEN l_orderkey % 2 <> 0 THEN 1 END) AS n_with_discount,
         |cast(sum(cast(CASE WHEN l_orderkey % 2 <> 0 THEN l_discount
         |  ELSE 0 END as decimal(18,4))) as double) AS sum_disc
         |FROM lineitem""".stripMargin,
    "layout_compact_small_files" ->
      s"""SELECT count(*) AS n_rows,
         |cast(sum(event_id) as bigint) AS sum_ids,
         |cast(sum(user_id) as bigint) AS sum_users,
         |${sqlDsum("value")} AS sum_value
         |FROM events""".stripMargin
  )
}
