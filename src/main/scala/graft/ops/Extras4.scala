package graft.ops

import graft._
import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-4 relational additions.
  *
  * - `join_skew_salted`: the [[Skew.saltedJoin]] tooling as a declared,
  *   oracle-checked query — semantics are exactly an inner equi-join, the
  *   salt only changes the physical key distribution, so the oracle is the
  *   plain join. At 100 TB this is the shape for a hot-key fact⋈dim join
  *   where AQE's skew split is not enough.
  * - `subquery_decorrelated`: the classic correlated scalar subquery
  *   ("rows above their group's average"). The oracle states it in
  *   correlated form; the Spark plan is the decorrelated aggregate +
  *   broadcast join — one pass over the fact, no per-row subquery. The
  *   group average uses the exact-decimal mean (Tables.davg) so both
  *   engines compare against bit-identical doubles.
  * - `events_funnel`: view → click → purchase conversion funnel via
  *   conditional min-timestamp aggregates — one shuffle keyed on user_id,
  *   then a scalar reduce; no self-joins, no windows. Timestamps compare
  *   as unix micros on both sides (events.ts ns→µs rule, Tables.apply).
  * - `join_bucketed_colocated`: bucket-pruned shuffle-free join — both
  *   sides written `bucketBy(8, orderkey)`, so the SortMergeJoin reads
  *   pre-co-located buckets and plans NO exchange on the join keys (the
  *   only hashpartitioning exchange left is the final small agg; PlanSpec
  *   asserts it). At 100 TB this is the lever for repeated fact⋈fact
  *   joins: pay the layout once at ingest, never shuffle the fact again.
  * - `upsert_latest_wins`: CDC merge-apply — base table ∪ change feed
  *   (updates + inserts), keep the highest version per key. One hash
  *   aggregate (`max_by` of the payload struct by version — map-side
  *   partial agg, no window, no sort), so it scales as a single shuffle
  *   on the upsert key; the per-key row_number window an engine without
  *   max_by would use is stated in the oracle instead.
  */
object Extras4 {

  val queries: Map[String, Q] = Map(
    "join_skew_salted" -> { (s, dir) =>
      // project BEFORE salting: saltedJoin hashes every big-side column for
      // the content-stable salt, so an unprojected input would read all 11
      // lineitem columns (pruning defeated) just to compute the salt
      val li = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"))
      val part = Tables(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Skew.saltedJoin(li, part, "l_partkey", salt = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("p_brand"))
    },

    "subquery_decorrelated" -> { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val avgs = c.groupBy(col("c_nationkey"))
        .agg(davg(col("c_acctbal")).as("nat_avg"))
      c.join(broadcast(avgs), Seq("c_nationkey"))
        .where(col("c_acctbal") > col("nat_avg"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_above"))
        .orderBy(col("c_nationkey"))
    },

    "events_funnel" -> { (s, dir) =>
      val e = Tables(s, dir, "events")
      def stepTs(step: String) =
        min(when(col("event_type") === step, unix_micros(col("ts"))))
      val perUser = e.groupBy(col("user_id")).agg(
        stepTs("view").as("t_view"),
        stepTs("click").as("t_click"),
        stepTs("purchase").as("t_purchase"))
      val clicked = col("t_click") > col("t_view")
      val purchased = clicked && (col("t_purchase") > col("t_click"))
      perUser.agg(
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(clicked, 1L).otherwise(0L)).as("n_view_click"),
        sum(when(purchased, 1L).otherwise(0L)).as("n_full_funnel"))
    },

    "join_bucketed_colocated" -> { (s, dir) =>
      // One-time layout per sf, REUSED across sessions: the bucketed files
      // are published to a stable path (atomic rename from a pid-keyed
      // build dir), and a fresh JVM — whose in-memory catalog is empty —
      // just re-registers the external table over the existing files
      // instead of rewriting them. That keeps the one-time ingest cost out
      // of every later timed run, which is the whole point of paying for a
      // bucketed layout at 100 TB. The read side then satisfies the join's
      // distribution requirement from the bucketing metadata — no exchange
      // on either join input.
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val liT = s"li_bkt_$tag"
      val ordT = s"ord_bkt_$tag"
      // fingerprint = source files' (size, mtime) + a definition version:
      // regenerated testdata or an edited build definition changes the
      // stable path, so a stale layout can never be silently re-registered
      val fp = layoutStamp("bkt1", dir, "lineitem", "orders")
      ensureBucketedTable(s, liT, dir, "l_orderkey", 8, fp)(
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .where(col("l_orderkey") % 4 === 0))
      ensureBucketedTable(s, ordT, dir, "o_orderkey", 8, fp)(
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")))
      // merge hint: without it the planner may broadcast the filtered side
      // and the query would no longer exercise the co-located path
      s.table(liT).hint("merge")
        .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    "upsert_latest_wins" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val base = o.select(col("o_orderkey").as("key"), col("o_custkey").as("cust"),
        col("o_orderstatus").as("status"), lit(1L).as("version"))
      // deterministic change feed derived from the base: every 7th key gets
      // a status update (version 2); every 11th key spawns a new key.
      // Insert keys are NEGATIVE (-(k+1)) so they can never collide with a
      // real orderkey at any scale factor — a fixed offset would alias once
      // the table outgrew it, creating (key, version) ties with different
      // payloads that the two engines would break differently.
      // Both feed kinds come out of ONE scan: explode a 2-slot conditional
      // array (null slot = kind not fired for this row, filtered after) —
      // the old where-branch pair scanned orders once per kind. Base stays
      // its own scan: in production base and changes are distinct
      // relations, so 2 scans is this query's honest floor.
      val updates = when(col("o_orderkey") % 7 === 0,
        struct(col("o_orderkey").as("key"), col("o_custkey").as("cust"),
          lit("U").as("status"), lit(2L).as("version")))
      val inserts = when(col("o_orderkey") % 11 === 0,
        struct((-(col("o_orderkey") + 1L)).as("key"), col("o_custkey").as("cust"),
          lit("N").as("status"), lit(1L).as("version")))
      val feed = o.select(explode(array(updates, inserts)).as("c"))
        .where(col("c").isNotNull).select(col("c.*"))
      upsertLatestWins(base, feed, "key", "version")
        .select(col("key"), col("cust"), col("status"), col("version"))
        .orderBy(col("key"))
    }
  )

  /** layout cache key: definition version + each source parquet's
    * (size, last-modified) — 12 hex chars of MD5. Changing the build
    * definition (bump `defVersion`) or regenerating a source file yields
    * a different stable path, so [[ensureBucketedTable]] rebuilds instead
    * of re-registering a stale layout. */
  def layoutStamp(defVersion: String, dir: String, tables: String*): String = {
    val parts = tables.map { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      // fail fast: a missing source would stamp as 0:0 — a plausible-
      // looking key that tracks nothing and whose real error (empty
      // build) surfaces far from this typo'd table/dir
      require(f.exists(), s"layoutStamp: missing source ${f.getPath}")
      s"$t:${f.length()}:${f.lastModified()}"
    }
    // the RAW dir string is part of the key: the stable-path/table tags
    // sanitize punctuation, so 'sf0.1' and 'sf0_1' would otherwise alias
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((defVersion +: dir +: parts).mkString(",").getBytes("UTF-8"))
    md.take(6).map("%02x".format(_)).mkString
  }

  /** Idempotent bucketed-layout provisioning: make catalog table `table`
    * exist, bucketed `INTO nBuckets BUCKETS` on `bucketCol`, backed by a
    * STABLE on-disk path shared across JVMs — keyed by `fingerprint`
    * ([[layoutStamp]]) so data/definition changes invalidate the layout.
    *
    *  - catalog already has the table → nothing to do;
    *  - stable path already holds a completed layout (`_SUCCESS`) → only
    *    re-register the external table over it (metadata-only, no I/O
    *    beyond a schema read — this is what a fresh bench session hits);
    *  - otherwise → build under a pid-keyed scratch dir (two processes
    *    can never write under each other's reads) and PUBLISH with an
    *    atomic directory rename; if another process won the rename, its
    *    identical layout is used and ours is discarded.
    *
    * Spark identifies a file's bucket by the `_0000N` suffix saveAsTable
    * wrote into the name, so files re-registered under a new catalog keep
    * their co-location — the SortMergeJoin still plans no exchange. */
  private[this] val provisionLock = new Object

  def ensureBucketedTable(s: org.apache.spark.sql.SparkSession, table: String,
      dir: String, bucketCol: String, nBuckets: Int, fingerprint: String)
      (build: => DataFrame): Unit = provisionLock.synchronized {
    // JVM-wide lock: tmpT and the tmp build dir are keyed by PID, which
    // two threads of one session share — unsynchronized, both would
    // saveAsTable the same temp name/path and race the publish rename
    if (s.catalog.tableExists(table)) {
      // serve the cached registration ONLY if it points at THIS
      // fingerprint's layout: a same-session testdata regen changes the
      // stamp, and the old registration must re-provision, not silently
      // serve stale files (the cross-session staleness guard is the
      // stamp-keyed stable path; this is its in-session twin)
      val loc = s.sql(s"DESCRIBE TABLE EXTENDED `$table`")
        .where(col("col_name") === "Location")
        .select(col("data_type")).collect().headOption.map(_.getString(0))
      if (loc.exists(_.contains(s"_b${nBuckets}_$fingerprint"))) return
      s.sql(s"DROP TABLE `$table`")
    }
    val stable = new java.io.File(
      s"target/graft_scratch/stable_bucketed_${dir.replaceAll("[^A-Za-z0-9.]", "_")}/" +
        s"${table}_b${nBuckets}_$fingerprint")
    def complete(d: java.io.File) = new java.io.File(d, "_SUCCESS").exists()
    var location = stable
    if (!complete(stable)) {
      val tmpT = s"${table}_build_${ProcessHandle.current().pid()}"
      val tmp = new java.io.File(Tables.scratchDir("bktbuild", dir), table)
      build.write.mode("overwrite").bucketBy(nBuckets, bucketCol)
        .option("path", tmp.getAbsolutePath).saveAsTable(tmpT)
      s.sql(s"DROP TABLE `$tmpT`") // external: files stay for the publish
      stable.getParentFile.mkdirs()
      if (!tmp.renameTo(stable) && !complete(stable)) {
        // rename failed and the stable path holds no completed layout — a
        // crashed writer left a partial dir there. Self-heal so the
        // published layout recovers instead of every future process
        // forever re-paying the full ingest from its pid dir. Safety: the
        // healer (a) takes an exclusive mkdir lock so only one process
        // heals, (b) renames the stale dir ASIDE rather than deleting in
        // place, and (c) re-checks the moved-aside dir for completeness —
        // if a concurrent publisher finished between our check and the
        // move, the completed layout (possibly already registered by
        // other sessions, their FileIndexes caching its part-file names)
        // is restored untouched instead of swapped for ours; only a dir
        // that is STILL incomplete after the move is ever discarded.
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete()
        }
        val lock = new java.io.File(stable.getParentFile, s"${stable.getName}.heal_lock")
        // a healer that died holding the lock must not disable healing
        // forever — treat a lock older than 10 min as abandoned (any
        // real heal is a couple of renames, not minutes)
        if (lock.exists() &&
            System.currentTimeMillis() - lock.lastModified() > 10 * 60 * 1000)
          lock.delete()
        if (lock.mkdir()) {
          try {
            val aside = new java.io.File(stable.getParentFile,
              s"${stable.getName}.stale_${ProcessHandle.current().pid()}")
            if (aside.exists()) rm(aside) // our own earlier heal's garbage
            if (!complete(stable)) {
              stable.renameTo(aside) // atomic move-aside; no-op if gone
              if (complete(aside)) {
                // a concurrent publisher COMPLETED the stable path between
                // our check and the move — its layout may already be
                // registered by other sessions (FileIndexes caching its
                // part-file names), so put it straight back instead of
                // replacing it with ours: deleting it would
                // FileNotFoundException a live reader mid-query
                aside.renameTo(stable)
              } else if (tmp.renameTo(stable)) rm(aside)
              else aside.renameTo(stable) // cross-device target/: restore
            }
          } finally lock.delete()
        }
        // lost the lock / truly unpublishable: serve this session from
        // whichever completed layout exists, else our build dir
        if (!complete(stable)) location = tmp
      }
    }
    val schema = s.read.parquet(location.getAbsolutePath).schema.toDDL
    s.sql(s"CREATE TABLE IF NOT EXISTS `$table` ($schema) USING parquet " +
      s"CLUSTERED BY (`$bucketCol`) INTO $nBuckets BUCKETS " +
      s"LOCATION '${location.getAbsolutePath}'")
  }

  /** PUBLIC API: apply a change feed over a base table, keeping the
    * highest-`versionCol` row per `keyCol`. ONE aggregate —
    * `max_by(row struct, (version, orderable payload…))` with map-side
    * partial agg — so it costs a single shuffle on the key, no window
    * (struct buffers make Spark plan it as a SortAggregate). A (key,
    * version) tie keeps the row with the largest orderable payload in
    * column order (nulls first; DedupByKey's rule), so the result never
    * depends on arrival order; non-orderable payload columns (maps) ride
    * in the row struct only. */
  def upsertLatestWins(base: DataFrame, changes: DataFrame,
      keyCol: String, versionCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val payload = base.columns.toSeq.filter(c => c != keyCol && c != versionCol)
    val orderable = payload.filter(c => RowOrdering.isOrderable(base.schema(c).dataType))
    val rowCols = payload :+ versionCol
    base.unionByName(changes)
      .groupBy(col(keyCol))
      .agg(max_by(struct(rowCols.map(col): _*),
        struct((versionCol +: orderable).map(col): _*)).as("_r"))
      .select(col(keyCol) +: rowCols.map(c => col(s"_r.$c").as(c)): _*)
  }

  val oracle: Map[String, String] = Map(
    "join_skew_salted" ->
      s"""SELECT p_brand, count(*) AS n,
         |${sqlDsum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "subquery_decorrelated" ->
      """SELECT c_nationkey, count(*) AS n_above
        |FROM customer c
        |WHERE c_acctbal > (
        |  SELECT cast(sum(cast(c2.c_acctbal AS decimal(18,4))) AS double)
        |         / count(c2.c_acctbal)
        |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "events_funnel" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view'
        |        THEN epoch_us(cast(ts AS timestamp)) END) AS t_view,
        |    min(CASE WHEN event_type = 'click'
        |        THEN epoch_us(cast(ts AS timestamp)) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase'
        |        THEN epoch_us(cast(ts AS timestamp)) END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT
        |  cast(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_view,
        |  cast(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS bigint) AS n_view_click,
        |  cast(sum(CASE WHEN t_click > t_view AND t_purchase > t_click
        |      THEN 1 ELSE 0 END) AS bigint) AS n_full_funnel
        |FROM per_user""".stripMargin,
    "join_bucketed_colocated" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |${sqlDsum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_orderkey % 4 = 0
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "upsert_latest_wins" ->
      """WITH base AS (
        |  SELECT o_orderkey AS key, o_custkey AS cust,
        |         o_orderstatus AS status, 1 AS version FROM orders),
        |chg AS (
        |  SELECT o_orderkey AS key, o_custkey AS cust, 'U' AS status, 2 AS version
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT -(o_orderkey + 1) AS key, o_custkey AS cust, 'N', 1
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM chg)
        |SELECT key, cust, status, cast(version AS bigint) AS version FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY version DESC) AS rn
        |  FROM u)
        |WHERE rn = 1 ORDER BY key""".stripMargin
  )
}
