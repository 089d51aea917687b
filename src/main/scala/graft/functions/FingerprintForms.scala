package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** SURVEY §2.14's one scalar-UDF demo: the normalized-token FINGERPRINT
  * (OpenRefine key — lower, trim, collapse whitespace, distinct tokens,
  * sorted, re-joined) in BOTH forms, to A/B the repo policy "built-in
  * expressions first, UDFs last".
  *
  * Why the expression form is the declared one everywhere
  * ([[graft.clean.FingerprintCanonicalize]] and the fuzzy_cluster_*
  * queries use [[expr]], never [[udfForm]]):
  *  - optimizer visibility: filters/pruning/null-propagation move THROUGH
  *    expressions; a UDF blocks pushdown for anything it touches (§4) and
  *    is assumed non-deterministic-safe only with extra annotation.
  *  - oracle parity: each built-in has a DuckDB mirror; a UDF's Scala body
  *    has to be re-proved by hand.
  *  - NOT raw per-row speed, on this shape: an interleaved A/B measured
  *    the UDF marginally FASTER at sf0.1 (expression 0.39 s, UDF 0.36 s,
  *    udf/expr ≈ 0.93; SCALE.md §2.14) — a 7-built-in string/array chain
  *    materializes an intermediate per step (and RegExpReplace round-trips
  *    UTF8String→String internally anyway), while the UDF pays ONE
  *    boundary crossing and runs one tight JIT'd pass. The policy's win
  *    is plan transparency, and per-row cost must be MEASURED per shape —
  *    cf. the opposite result for HOF lambdas vs native expressions
  *    (WordNgrams, 4× the other way; SCALE.md).
  * Both forms are null-safe (null → null) and bit-identical on any input
  * (UdfAbSpec asserts it on the messy-parts corpus).
  */
object FingerprintForms {

  /** expression form: whole-stage-codegen'd, optimizer-transparent. */
  def expr(c: Column): Column =
    when(c.isNotNull, concat_ws(" ",
      array_sort(array_distinct(split(
        lower(trim(regexp_replace(c, "\\s+", " "))), " ")))))

  /** the same logic as a scalar Scala UDF — the form the policy avoids:
    * row-at-a-time, string re-materialized per row, opaque to Catalyst. */
  val udfForm: UserDefinedFunction = udf { (s: String) =>
    if (s == null) null
    else s.trim.replaceAll("\\s+", " ").toLowerCase
      .split(" ").distinct.sorted.mkString(" ")
  }
}
