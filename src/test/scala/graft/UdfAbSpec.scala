package graft

import org.apache.spark.sql.functions._
import graft.functions.FingerprintForms

/** §2.14: the one scalar-UDF demo. The SAME fingerprint logic as a
  * whole-stage-codegen expression chain and as a Scala UDF must agree
  * bit-for-bit — the A/B that justifies the "built-ins first" policy
  * (the measured perf half is recorded on FingerprintForms; the expression form
  * additionally keeps Catalyst able to prune/push around it).
  * Token sort order: expression array_sort compares UTF8String bytes,
  * the UDF compares UTF-16 strings — identical for the ASCII corpus
  * (and any BMP text); both corpora here are ASCII. */
class UdfAbSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  private def assertAgree(df: org.apache.spark.sql.DataFrame): Unit = {
    val both = df.select(
      FingerprintForms.expr(col("val")).as("e"),
      FingerprintForms.udfForm(col("val")).as("u"))
    assert(both.where(!(col("e") <=> col("u"))).isEmpty,
      both.where(!(col("e") <=> col("u"))).limit(5).collect().mkString("; "))
  }

  test("UDF and expression fingerprints agree on the messy parts corpus") {
    val messy = Tables(spark, sf, "part").select(
      when(col("p_partkey") % 4 === 0, col("p_name"))
        .when(col("p_partkey") % 4 === 1, upper(col("p_name")))
        .when(col("p_partkey") % 4 === 2, concat(lit("  "), col("p_name"), lit("  ")))
        .otherwise(concat_ws(" ", reverse(split(col("p_name"), " ")))).as("val"))
    assertAgree(messy)
  }

  test("UDF and expression fingerprints agree on edge cases incl. NULL") {
    val edges = Seq(
      Some("  Leading and   trailing  "),
      Some("dup dup DUP dup"),
      Some("single"),
      Some(""),
      Some("   "),
      Some("b a c b a"),
      None
    ).toDF("val")
    assertAgree(edges)
    // and the null-guard specifically: null in → null out, not ""
    val nulls = edges.select(col("val"),
      FingerprintForms.expr(col("val")).as("e"),
      FingerprintForms.udfForm(col("val")).as("u"))
      .where(col("val").isNull)
    val rows = nulls.collect()
    assert(rows.nonEmpty && rows.forall(r => r.isNullAt(1) && r.isNullAt(2)))
  }
}
