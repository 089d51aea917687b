package graft

import graft.clean._
import org.apache.spark.sql.Row

/** Unit + property tests for the CleanOp/Recipe ADT over tiny literal
  * DataFrames (SURVEY.md §5: null placement edge cases, ties, idempotence).
  */
class CleanOpsSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  private def nullsDf = Seq(
    (1L, "u1", Some(10.0)), (2L, "u1", None), (3L, "u1", None),
    (4L, "u1", Some(40.0)), (5L, "u2", None), (6L, "u2", Some(6.0)),
    (7L, "u2", Some(8.0)), (8L, "u2", None)
  ).toDF("id", "u", "v")

  test("FillConstant fills only nulls") {
    val out = FillConstant("v", -1.0)(nullsDf).orderBy("id")
      .select("v").collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(10.0, -1.0, -1.0, 40.0, -1.0, 6.0, 8.0, -1.0))
  }

  test("FillMean preserves non-null values and fills with exact mean") {
    val out = FillMean("v")(nullsDf).orderBy("id").select("v")
      .collect().map(_.getDouble(0))
    val mean = (10.0 + 40.0 + 6.0 + 8.0) / 4
    assert(out.toSeq == Seq(10.0, mean, mean, 40.0, mean, 6.0, 8.0, mean))
  }

  test("FillMode breaks count ties by smallest value") {
    val df = Seq(Some("b"), Some("a"), Some("b"), Some("a"), None)
      .toDF("c")
    val out = FillMode("c")(df).where("c is not null")
      .groupBy("c").count().orderBy("c").collect()
    // a and b tie at 2 → mode must be "a"
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 3L), ("b", 2L)))
  }

  test("ForwardFill carries last non-null within partition, leading null stays") {
    val out = ForwardFill("v", Seq("id"), Seq("u"))(nullsDf).orderBy("id")
      .select("v").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(10.0), Some(10.0), Some(10.0), Some(40.0),
      None, Some(6.0), Some(8.0), Some(8.0)))
  }

  test("BackwardFill carries next non-null within partition, trailing null stays") {
    val out = BackwardFill("v", Seq("id"), Seq("u"))(nullsDf).orderBy("id")
      .select("v").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(10.0), Some(40.0), Some(40.0), Some(40.0),
      Some(6.0), Some(6.0), Some(8.0), None))
  }

  test("Interpolate fills between neighbours, leaves leading/trailing null") {
    val out = Interpolate("v", Seq("id"), Seq("u"))(nullsDf).orderBy("id")
      .select("v").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(10.0), Some(20.0), Some(30.0), Some(40.0),
      None, Some(6.0), Some(8.0), None))
  }

  test("DedupByKey tolerates non-orderable (map) payload columns") {
    val df = Seq((1L, 2, Map("a" -> "x")), (1L, 1, Map("b" -> "y")))
      .toDF("k", "o", "m")
    val out = DedupByKey(Seq("k"), Seq("o"))(df).collect()
    assert(out.length == 1)
    assert(out(0).getInt(1) == 1)
    assert(out(0).getMap[String, String](2) == Map("b" -> "y"))
  }

  test("DedupByKey is idempotent and keeps the ordered-first row") {
    val df = Seq((1L, "x", 2.0), (1L, "a", 9.0), (2L, "b", 1.0))
      .toDF("k", "s", "x")
    val once = DedupByKey(Seq("k"), Seq("s", "x"))(df)
    val twice = DedupByKey(Seq("k"), Seq("s", "x"))(once)
    assert(once.orderBy("k").collect().toSeq ==
      Seq(Row(1L, "a", 9.0), Row(2L, "b", 1.0)))
    assert(twice.orderBy("k").collect().toSeq ==
      once.orderBy("k").collect().toSeq)
  }

  test("ClipToQuantiles output is within bounds") {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val out = ClipToQuantiles("x", 0.05, 0.95)(df)
      .agg(org.apache.spark.sql.functions.min("x"),
        org.apache.spark.sql.functions.max("x")).head()
    assert(out.getDouble(0) >= 1.0 && out.getDouble(1) <= 100.0)
    assert(out.getDouble(0) > 1.0 && out.getDouble(1) < 100.0) // actually clipped
  }

  test("ClipToQuantiles keeps a null null instead of clipping it to the lower bound") {
    // greatest/least skip nulls: unguarded, the null row came back as lo = 3.0
    val df = Seq((1, Some(1e15)), (2, Some(2e15)), (3, None), (4, Some(3.0)))
      .toDF("id", "x")
    val got = ClipToQuantiles("x", 0.0, 1.0)(df).orderBy("id").collect()
      .map(r => Option(r.getAs[java.lang.Double]("x")).map(_.doubleValue)).toSeq
    assert(got == Seq(Some(1e15), Some(2e15), None, Some(3.0)), s"got $got")
  }

  test("FingerprintCanonicalize maps token-permuted/case variants to one value") {
    val df = Seq(" Foo Bar", "foo  bar", "FOO BAR", "bar foo", "baz").toDF("c")
    val out = FingerprintCanonicalize("c")(df)
      .groupBy("c").count().orderBy("c").collect()
    // the four foo-bar variants collapse to a single canonical, baz unchanged
    assert(out.length == 2)
    assert(out.map(_.getLong(1)).sum == 5)
  }

  test("FillMode on an all-null column keeps every row (no crossJoin wipe)") {
    val df = Seq[Option[String]](None, None, None).toDF("c")
    val out = FillMode("c")(df)
    assert(out.count() == 3)
    assert(out.where(out("c").isNull).count() == 3) // nothing to fill with
  }

  test("FillMedian leaves non-null values bit-identical") {
    val df = Seq(Some(1.23456789), None, Some(2.0)).toDF("v")
    val out = FillMedian("v")(df).orderBy("v").collect()
    assert(out.exists(r => !r.isNullAt(0) && r.getDouble(0) == 1.23456789))
  }

  test("FingerprintCanonicalize leaves nulls null") {
    val df = Seq(Some("foo bar"), Some("bar foo"), None).toDF("c")
    val out = FingerprintCanonicalize("c")(df)
    assert(out.where(out("c").isNull).count() == 1)
  }

  test("Skew.saltedJoin rejects right/full outer join types") {
    val df = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      graft.ops.Skew.saltedJoin(df, df, "k", 4, "full_outer")
    }
  }

  test("NormalizeWhitespace trims, lowers, collapses") {
    val out = NormalizeWhitespace("c")(Seq("  A   B\tC ").toDF("c"))
      .head().getString(0)
    assert(out == "a b c")
  }

  test("Recipe fold == sequential application; undo drops last step") {
    val r = Recipe(Seq(FillConstant("v", 0.0), DropNaAny(Seq("v"))))
    val folded = r(nullsDf).count()
    val seq = DropNaAny(Seq("v"))(FillConstant("v", 0.0)(nullsDf)).count()
    assert(folded == seq)
    assert(r.undo.ops == Seq(FillConstant("v", 0.0)))
    assert(r.exportCode.linesIterator.size == 2)
  }

  test("SafeCastDouble parses numerics, nulls junk") {
    val out = SafeCastDouble("c")(Seq("1.5", "nope", "2").toDF("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(1.5), None, Some(2.0)))
  }
}
