package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The scaled-corpus builders (ScaleProbe, SkewProbe) reuse an output dir
  * only when its sentinel records the same build. */
class CorpusBuildSpec extends SparkSuite {

  private def rows(dir: String, t: String): Long =
    spark.read.parquet(s"$dir/$t.parquet").count()
  private def parts(dir: String, t: String): Set[String] =
    Files.list(Path.of(s"$dir/$t.parquet")).iterator().asScala
      .map(_.getFileName.toString).toSet
  private def withTempDirs(body: (String, String) => Unit): Unit = {
    val (a, b) = (Files.createTempDirectory("graft_scale"),
      Files.createTempDirectory("graft_skew"))
    try body(a.toString, b.toString)
    finally Seq(a, b).foreach(d =>
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete))
  }

  test("ScaleProbe rebuilds a dir built at another factor, reuses one at the same") {
    withTempDirs { (out, _) =>
      ScaleProbe.buildIfAbsent(spark, sf, out, 2)
      assert(rows(out, "orders") == 2 * rows(sf, "orders"))
      ScaleProbe.buildIfAbsent(spark, sf, out, 3)
      assert(rows(out, "orders") == 3 * rows(sf, "orders"),
        "a factor-2 corpus was reused for a factor-3 request")
      val li = spark.read.parquet(s"$out/lineitem.parquet")
      val o = spark.read.parquet(s"$out/orders.parquet")
      assert(li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti").count() == 0,
        "every scaled lineitem row must find its scaled order")
      val before = parts(out, "orders")
      ScaleProbe.buildIfAbsent(spark, sf, out, 3)
      assert(parts(out, "orders") == before, "a matching corpus must be reused, not rewritten")
    }
  }

  test("SkewProbe rebuilds its hot corpus when the scaled base was rebuilt") {
    withTempDirs { (scaled, hot) =>
      ScaleProbe.buildIfAbsent(spark, sf, scaled, 2)
      SkewProbe.buildHotIfAbsent(spark, scaled, hot)
      assert(rows(hot, "orders") == 2 * rows(sf, "orders"))
      ScaleProbe.buildIfAbsent(spark, sf, scaled, 3)
      SkewProbe.buildHotIfAbsent(spark, scaled, hot)
      assert(rows(hot, "orders") == 3 * rows(sf, "orders"),
        "a hot corpus of the old base was reused")
    }
  }
}
