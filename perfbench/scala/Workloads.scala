package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.GraftOps
import graft.clean._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._
import scala.util.Random

/** One user-visible action. `run` does the timed work and returns the
  * untimed check of its output: None when correct, else the reason. */
final case class Op(kind: String, key: String, rows: Long,
    run: Tracer => (() => Option[String]))

trait Workload {
  /** open (and cache, where the session would) the inputs */
  def load(t: Tracer): Unit
  /** the fixed warm-up: the same ops whatever the run's seed */
  def warmup: Seq[Op]
  /** the i-th deck of ops; every deck holds the workload's full mix */
  def deck(seed: Long, i: Int): Seq[Op]
  /** per-op layer diagnostics computed outside the timed op (traced runs) */
  def diagnose(op: Op): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, work: String,
      m: JsonNode): Workload = name match {
    case "clean_session" => new CleanSession(spark, data, work, m)
    case "corpus_ingest" => new CorpusIngest(spark, data, work, m)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  private[perfbench] def expect(ok: Boolean, why: => String): Option[String] =
    if (ok) None else Some(why)
}
import Workload.expect

/** ipydataclean's own interaction: an analyst clicking cleaning actions over
  * one in-memory dirty table, and opening declared TPC-H-shaped reports
  * whose results are checked against the DuckDB oracle. Each 14-op deck
  * holds 4 profile, 2 fill, 2 outlier, 1 validate, 1 recipe-apply-then-export
  * and 4 report ops. */
final class CleanSession(spark: SparkSession, data: String, work: String,
    m: JsonNode) extends Workload {
  private var df: DataFrame = _
  private val n = m.get("rows").get("lineitem").asLong
  private val k = m.get("dup_keys").asLong
  private var exportSeq = 0
  val reports = new Reports(spark, s"$data/tpch", work, m.get("tpch"))

  def load(t: Tracer): Unit = {
    df = t.open("dirty")(spark.read.parquet(s"$data/dirty.parquet")).cache()
    require(df.count() == n, "dirty lineitem row count differs from the manifest")
  }

  private def counts(t: Tracer, out: DataFrame, c: String): (Long, Long) = {
    val r = t.collect("count_nulls", out.agg(count(lit(1)),
      sum(when(col(c).isNull, 1L).otherwise(0L))))(0)
    (r.getLong(0), r.getLong(1))
  }

  private def profileTop: Op = Op("profile", "top_values", n, t => {
    val res = t.clean("topValuesExact")(
      GraftOps.topValuesExact(df, Seq("l_linestatus"), "l_returnflag", 8))
    val rows = t.collect("top_values", res)
    () => {
      val got = rows.map(r => s"${r.getString(0)}|${r.getString(1)}" -> r.getLong(2)).toMap
      val want = m.get("flag_counts").fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      expect(got == want, s"top values $got, planted $want")
    }
  })

  private def profileDrift(cut: String): Op = Op("profile", "drift", n, t => {
    val binned = df.withColumn("is_ref", col("l_shipdate") < lit(cut).cast("timestamp"))
      .withColumn("bucket", (col("l_quantity") / 5).cast("int"))
    val res = t.clean("driftPsiKs")(GraftOps.driftPsiKs(binned, "is_ref", "bucket", 11))
    val r = t.collect("drift", res)(0)
    () => {
      val seen = r.getLong(0) + r.getLong(1)
      expect(seen == n - m.get("null_l_quantity").asLong,
        s"drift saw $seen non-null quantities")
    }
  })

  private def fill(op: CleanOp, c: String): Op = Op("fill", op.productPrefix, n, t => {
    val out = t.clean(op.productPrefix)(Recipe(Seq(op))(df))
    val (rows, nulls) = counts(t, out, c)
    () => expect(rows == n && nulls == 0, s"$op left $nulls nulls in $rows rows")
  })

  private def outlier(pHi: Double): Op = Op("outlier", "clip", n, t => {
    val out = t.clean("ClipToQuantiles")(
      Recipe(Seq(ClipToQuantiles("l_extendedprice", 0.0, pHi)))(df))
    val r = t.collect("clip_max", out.agg(count(lit(1)), max("l_extendedprice")))(0)
    () => expect(r.getLong(0) == n &&
      r.getDouble(1) <= m.get("normal_price_max").asDouble,
      s"clip at $pHi kept max ${r.getDouble(1)} in ${r.getLong(0)} rows")
  })

  private def validate: Op = Op("validate", "rules", n, t => {
    val res = t.clean("validate")(GraftOps.validate(df, Seq(
      Rule.Unique(Seq("l_orderkey", "l_linenumber")),
      Rule.NotNull("l_quantity"), Rule.NotNull("l_discount"),
      Rule.InSet("l_returnflag", Seq("A", "N", "R")),
      Rule.Bounds("l_extendedprice", None, Some(200000.0)))))
    val rows = t.collect("validate", res)
    () => {
      val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Map("unique_l_orderkey_l_linenumber" -> k,
        "not_null_l_quantity" -> m.get("null_l_quantity").asLong,
        "not_null_l_discount" -> m.get("null_l_discount").asLong,
        "in_set_l_returnflag" -> m.get("flag_variants").asLong,
        "bounds_l_extendedprice" -> m.get("outliers").asLong)
      expect(got == want, s"violations $got, planted $want")
    }
  })

  private def export(fillQty: CleanOp): Op = Op("export", "recipe_export", n, t => {
    exportSeq += 1
    val path = s"$work/export/op_$exportSeq"
    val recipe = Recipe(Seq(
      NormalizeWhitespace("l_returnflag"),
      RecodeValues("l_returnflag", Seq("a", "n", "r"), Seq("A", "N", "R")),
      fillQty, FillConstant("l_discount", 0.0),
      SafeCastDouble("l_tax_raw"),
      DedupByKey(Seq("l_orderkey", "l_linenumber"), Seq("l_shipdate"))))
    val out = t.clean("Recipe")(recipe(df))
    t.write("parquet")(out.write.mode("overwrite").partitionBy("l_returnflag").parquet(path))
    val back = t.open("parquet")(spark.read.parquet(path))
    val r = t.collect("read_back", back.agg(count(lit(1)),
      countDistinct(col("l_orderkey"), col("l_linenumber")),
      sum(when(col("l_quantity").isNull || col("l_discount").isNull, 1L).otherwise(0L)),
      sum(when(col("l_tax_raw").isNull, 1L).otherwise(0L)),
      countDistinct(col("l_returnflag"))))(0)
    () => {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      val keys = m.get("distinct_keys").asLong
      expect(r.getLong(0) == keys && r.getLong(1) == keys && r.getLong(2) == 0 &&
        r.getLong(3) == m.get("bad_tax").asLong && r.getLong(4) == 3,
        s"export read back (rows, keys, nulls, bad tax, flags) = ${r.toSeq}")
    }
  })

  // The deck's op variants are fixed; the seed sets their order and
  // parameters, so every deck costs about the same.
  def deck(seed: Long, i: Int): Seq[Op] = {
    val rng = new Random(seed * 7919 + i)
    def cut = Seq("1997-01-01", "1998-01-01", "1999-01-01")(rng.nextInt(3))
    def pHi = Seq(0.99, 0.995, 0.998)(rng.nextInt(3))
    rng.shuffle(Seq(profileTop, profileTop, profileDrift(cut), profileDrift(cut),
      fill(FillMean("l_quantity"), "l_quantity"),
      fill(FillMode("l_discount"), "l_discount"),
      outlier(pHi), outlier(pHi), validate, export(FillMedian("l_quantity"))) ++
      reports.ops(dump = false))
  }

  // every op variant once: loads and compiles each plan shape, and keeps
  // each report's result for the oracle check
  def warmup: Seq[Op] = Seq(profileTop, profileDrift("1998-01-01"),
    fill(FillMean("l_quantity"), "l_quantity"),
    fill(FillMode("l_discount"), "l_discount"),
    outlier(0.995), validate, export(FillMedian("l_quantity"))) ++
    reports.ops(dump = true)
}

/** LLM-corpus curation: arrival batches checked against a stored corpus —
  * self-dedup, incremental dedup, decontamination, quality scoring and an
  * append write per batch. */
final class CorpusIngest(spark: SparkSession, data: String, work: String,
    m: JsonNode) extends Workload {
  private var corpus: DataFrame = _
  private var evalSet: DataFrame = _
  private val batches = m.get("batches").elements.asScala.toIndexedSeq
  private val batchRows = m.get("rows").get("batch").asLong
  private val threshold = 0.7
  private var seq = 0

  def load(t: Tracer): Unit = {
    corpus = t.open("corpus")(spark.read.parquet(s"$data/corpus.parquet")).cache()
    evalSet = t.open("eval")(spark.read.parquet(s"$data/eval.parquet")).cache()
    require(corpus.count() == m.get("rows").get("corpus").asLong, "corpus size")
    require(evalSet.count() == m.get("rows").get("eval").asLong, "eval size")
  }

  private def ids(b: Int, kind: String): Set[Long] =
    batches(b).get(kind).elements.asScala.map(_.asLong).toSet

  private def ingest(b: Int): Op = Op("ingest", s"batch_$b", batchRows, t => {
    seq += 1
    val n = seq
    val batch = t.open("batch")(spark.read.parquet(s"$data/batch_$b.parquet"))
    // each step settles in traced ops, so its jobs are booked to the llm
    // layer and not to the append that would otherwise first run them
    val selfDeduped = t.llm("dedupCorpus")(t.settle(
      GraftOps.dedupCorpus(batch, "doc_id", "text", threshold)))
    val fresh = t.llm("dedupIncremental")(t.settle(
      GraftOps.dedupIncremental(corpus, selfDeduped, "doc_id", "text", threshold)))
    val clean = t.llm("decontaminate")(t.settle(fresh.join(
      GraftOps.decontaminate(fresh, evalSet, "doc_id", "text", 8).select("doc_id"),
      Seq("doc_id"), "left_anti")))
    val accepted = t.llm("repetitionScored")(t.settle(clean.join(
      GraftOps.repetitionScored(clean, "doc_id", "text")
        .where(col("rep_ratio_e6") < 200000).select("doc_id"), Seq("doc_id"), "left_semi")))
    t.write("append")(accepted.withColumn("op", lit(n))
      .write.mode("append").partitionBy("op").parquet(s"$work/store"))
    t.peek()
    t.llm("clearDedupCaches")(GraftOps.clearDedupCaches(spark))
    () => {
      val kept = spark.read.parquet(s"$work/store").where(col("op") === n)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val removed = Seq("exact", "copy", "contam", "lowq").flatMap(k => ids(b, k))
      val leaked = removed.filter(kept)
      val lost = ids(b, "fresh").filterNot(kept)
      val alien = kept -- ids(b, "fresh") -- ids(b, "near")
      val near = ids(b, "near")
      t.note("near_removed", near.count(i => !kept(i)).toDouble)
      t.note("near_planted", near.size.toDouble)
      expect(leaked.isEmpty && lost.isEmpty && alien.isEmpty,
        s"batch $b: ${leaked.size} planted docs kept, ${lost.size} fresh docs lost, " +
          s"${alien.size} unknown ids")
    }
  })

  // two batches per deck, so a deck outlasts the measured window and every
  // run times the same number of batches
  def deck(seed: Long, i: Int): Seq[Op] = {
    val b = ((seed + 2 * i) % batches.size).toInt.abs
    Seq(ingest(b), ingest((b + 1) % batches.size))
  }

  def warmup: Seq[Op] = Seq(ingest(0))

  override def diagnose(op: Op): Map[String, Double] = {
    val batch = spark.read.parquet(s"$data/${op.key}.parquet")
    val candidates = GraftOps.nearDuplicates(batch, "doc_id", "text").count()
    val verified = GraftOps.jaccardDuplicates(batch, "doc_id", "text", threshold).count()
    GraftOps.clearDedupCaches(spark)
    Map("candidates" -> candidates.toDouble, "verified" -> verified.toDouble)
  }
}

/** Declared TPC-H-shaped reports (the `ops` layer): a broadcast chain, an
  * anti join, a ranking window and a shuffle-join top-N. Each report's
  * warm-up result is dumped for the DuckDB oracle; every later run of it
  * must reproduce that result's digest. */
final class Reports(spark: SparkSession, dir: String, work: String, m: JsonNode) {
  // report -> tables it reads
  private val reports: Seq[(String, Seq[String])] = Seq(
    "join_broadcast_chain" -> Seq("customer", "nation", "region"),
    "join_anti" -> Seq("customer", "orders"),
    "window_rank_topn" -> Seq("orders"),
    "analytics_shipping_priority" -> Seq("customer", "lineitem", "orders"))
  private val queries = graft.SparkEntry.queries
  val oracle: Map[String, String] =
    reports.map { case (key, _) => key -> graft.SparkEntry.oracleSql(key) }.toMap
  /** digest of each report's dumped result */
  val digests = scala.collection.mutable.LinkedHashMap[String, String]()

  private def report(key: String, tables: Seq[String], dump: Boolean): Op =
    Op("report", key, tables.map(tb => m.get("rows").get(tb).asLong).sum, t => {
      val df = t.ops(key)(queries(key)(spark, dir))
      val rows = t.collect(key, df)
      val d = Digest(df.columns, rows)
      if (dump) {
        df.write.mode("overwrite").parquet(s"$work/dumps/$key")
        digests(key) = d
      }
      () => expect(digests.get(key).contains(d), s"$key digest $d differs from the checked result")
    })

  def ops(dump: Boolean): Seq[Op] = reports.map { case (k, tb) => report(k, tb, dump) }
}

/** Order-sensitive digest of a result, columns taken in name order (the
  * oracle compare's canonical form); doubles compare bit-exact. */
object Digest {
  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => "d" + java.lang.Double.doubleToLongBits(d)
    case f: Float => "f" + java.lang.Float.floatToIntBits(f)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case o => o.getClass.getSimpleName + ":" + o.toString
  }
  def apply(columns: Array[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(order.map(i => cell(r.get(i))).mkString("\u001f", "\u001f", "\u001e").getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
