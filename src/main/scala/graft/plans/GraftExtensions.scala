package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.functions.{BloomBuild, BloomMightContain, DotProduct, JaroWinkler}

/** The Spark-native installation path for everything graft adds to
  * Catalyst — usable WITHOUT any graft code in the driver program:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * }}}
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions()(_))`.
  * Injects:
  *  - the [[JaroWinklerPrefilter]] optimizer rule (length prefilter in
  *    front of jw-threshold predicates — Filter AND Join residuals);
  *  - SQL functions `graft_jaro_winkler(a, b)`, `graft_dot(a, b)`,
  *    `graft_bloom_build(key, numBits, numHashes)`,
  *    `graft_bloom_might_contain(bloom, key)` — the codegen expressions
  *    behind the fuzzy-cluster, similarity, and decontamination
  *    families, exposed to plain SQL users.
  *
  * Everything injected here is also installable per-session at runtime
  * ([[JaroWinklerPrefilter.install]], `*Functions.register`) — this class
  * is the configuration-time form the preference order asks for, and the
  * one a shared cluster's spark-defaults can carry. Idempotent by
  * construction: injectFunction replaces, injectOptimizerRule dedups at
  * batch build. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, clazz: Class[_], usage: String,
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, null, name, usage, ""),
      build)

  /** Evaluate a required integer-literal argument at resolution time with a
    * named error instead of the opaque ClassCastException a column or
    * string argument would otherwise raise. */
  private def intLiteral(fnName: String, argName: String, e: Expression): Int = {
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"$fnName: $argName must be an integer literal, got non-foldable ${e.sql}"))
    e.eval() match {
      case n: java.lang.Number => n.intValue()
      case other =>
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            s"$fnName: $argName must be an integer literal, got ${Option(other).map(_.getClass.getSimpleName).getOrElse("NULL")}"))
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => JaroWinklerPrefilter)
    ext.injectFunction(fn("graft_jaro_winkler", classOf[JaroWinkler],
      "graft_jaro_winkler(a, b) - DuckDB-parity Jaro-Winkler similarity",
      exprs => JaroWinkler(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_dot", classOf[DotProduct],
      "graft_dot(a, b) - ascending-index double dot product",
      exprs => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_bloom_build", classOf[BloomBuild],
      "graft_bloom_build(key, numBits, numHashes) - bloom filter aggregate",
      exprs => BloomBuild(exprs(0),
        intLiteral("graft_bloom_build", "numBits", exprs(1)),
        intLiteral("graft_bloom_build", "numHashes", exprs(2)))))
    ext.injectFunction(fn("graft_bloom_might_contain", classOf[BloomMightContain],
      "graft_bloom_might_contain(bloom, key) - bloom membership probe",
      exprs => BloomMightContain(exprs(0), exprs(1))))

    // ---- table functions: the big Scala kernels, SQL-callable ----------
    // `SELECT * FROM graft_ntile('t', 'price,id', 10, 'decile')` — the
    // view/table name and column args arrive as string literals; the
    // builder assembles the SAME DataFrame kernel a Scala caller gets and
    // hands its (unresolved) logical plan to the outer query's analyzer,
    // so a shared-cluster SQL user rides the identical two-level
    // prefix-sum / LSH / carry-forward plans — never a fallback window.
    ext.injectTableFunction(tfn("graft_ntile",
      "graft_ntile(table, orderColsCsv, k, outCol) - distributed ntile " +
        "over a unique order composite (two-level prefix sum)",
      exprs => {
        val f = "graft_ntile"
        graft.GraftOps.distributedNtile(
          SparkSession.active.table(strLiteral(f, "table", exprs(0))),
          strLiteral(f, "orderColsCsv", exprs(1)).split(",").map(_.trim).toSeq,
          intLiteral(f, "k", exprs(2)),
          strLiteral(f, "outCol", exprs(3))).queryExecution.logical
      }))
    ext.injectTableFunction(tfn("graft_minhash_candidates",
      "graft_minhash_candidates(table, idCol, textCol, shingleWidth) - " +
        "LSH-bucketed near-duplicate candidate pairs (doc_a, doc_b, n_bands)",
      exprs => {
        val f = "graft_minhash_candidates"
        graft.GraftOps.nearDuplicates(
          SparkSession.active.table(strLiteral(f, "table", exprs(0))),
          strLiteral(f, "idCol", exprs(1)),
          strLiteral(f, "textCol", exprs(2)),
          intLiteral(f, "shingleWidth", exprs(3))).queryExecution.logical
      }))
    ext.injectTableFunction(tfn("graft_asof_join",
      "graft_asof_join(leftTable, rightTable, keyCol, leftTime, rightTime, " +
        "payloadColsCsv) - latest right payload at-or-before each left row",
      exprs => {
        val f = "graft_asof_join"
        val spark = SparkSession.active
        graft.GraftOps.asofJoin(
          spark.table(strLiteral(f, "leftTable", exprs(0))),
          spark.table(strLiteral(f, "rightTable", exprs(1))),
          strLiteral(f, "keyCol", exprs(2)),
          strLiteral(f, "leftTime", exprs(3)),
          strLiteral(f, "rightTime", exprs(4)),
          strLiteral(f, "payloadColsCsv", exprs(5)).split(",").map(_.trim).toSeq)
          .queryExecution.logical
      }))
    ext.injectTableFunction(tfn("graft_substr_dedup",
      "graft_substr_dedup(table, idCol, textCol, minWords) - exact-" +
        "substring dedup (Lee et al., equi-join form): per-doc cleaned " +
        "text with every repeated >= minWords-token span removed",
      exprs => {
        val f = "graft_substr_dedup"
        val spark = SparkSession.active
        import org.apache.spark.sql.functions.col
        graft.llm.SubstrDedup.substrDedup(
          spark.table(strLiteral(f, "table", exprs(0)))
            .select(col(strLiteral(f, "idCol", exprs(1))).as("doc_id"),
              col(strLiteral(f, "textCol", exprs(2))).as("text")),
          intLiteral(f, "minWords", exprs(3))).queryExecution.logical
      }))
    ext.injectTableFunction(tfn("graft_line_dedup",
      "graft_line_dedup(table, idCol, textCol, blockWords) - corpus-level " +
        "block/line dedup: keep each blockWords-word block's FIRST " +
        "occurrence, return per-doc cleaned text + survival stats",
      exprs => {
        val f = "graft_line_dedup"
        val spark = SparkSession.active
        import org.apache.spark.sql.functions.col
        graft.GraftOps.lineDedup(
          spark.table(strLiteral(f, "table", exprs(0)))
            .select(col(strLiteral(f, "idCol", exprs(1))).as("doc_id"),
              col(strLiteral(f, "textCol", exprs(2))).as("text")),
          intLiteral(f, "blockWords", exprs(3))).queryExecution.logical
      }))
    ext.injectTableFunction(tfn("graft_scd2_history",
      "graft_scd2_history(table, keyCol, tsCol[, tieColsCsv]) - collapse a " +
        "change feed into SCD2 validity intervals (valid_from/valid_to/" +
        "is_current) per key",
      exprs => {
        val f = "graft_scd2_history"
        val spark = SparkSession.active
        val ties =
          if (exprs.length > 3)
            strLiteral(f, "tieColsCsv", exprs(3)).split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq
          else Nil
        graft.GraftOps.scd2History(
          spark.table(strLiteral(f, "table", exprs(0))),
          strLiteral(f, "keyCol", exprs(1)),
          strLiteral(f, "tsCol", exprs(2)), ties).queryExecution.logical
      }))
    ext.injectTableFunction(tfn("graft_quota_per_group",
      "graft_quota_per_group(table, groupCol, orderCol, quotasTable) - keep " +
        "<= quota(group) rows per group in ascending order",
      exprs => {
        val f = "graft_quota_per_group"
        val spark = SparkSession.active
        graft.GraftOps.quotaPerGroup(
          spark.table(strLiteral(f, "table", exprs(0))),
          strLiteral(f, "groupCol", exprs(1)),
          strLiteral(f, "orderCol", exprs(2)),
          spark.table(strLiteral(f, "quotasTable", exprs(3))))
          .queryExecution.logical
      }))
  }

  private def tfn(name: String, usage: String,
      build: Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, null, name, usage, ""),
      build)

  /** Evaluate a required string-literal argument at resolution time. */
  private def strLiteral(fnName: String, argName: String, e: Expression): String = {
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"$fnName: $argName must be a string literal, got non-foldable ${e.sql}"))
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other =>
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            s"$fnName: $argName must be a string literal, got ${Option(other).map(_.getClass.getSimpleName).getOrElse("NULL")}"))
    }
  }
}
