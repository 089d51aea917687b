package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The cleaning-operation ADT — the Spark-native form of the reference's
  * recorded cleaning session (ipydataclean's processor + history model,
  * SURVEY.md §1/§3.3).
  *
  * Every op is a pure DataFrame→DataFrame plan transform; a [[Recipe]] folds
  * ops in order, so an entire cleaning session compiles into ONE Catalyst
  * plan (the reference executes N eager pandas passes instead). `code`
  * pretty-prints the equivalent standalone Spark snippet — the reference's
  * "export as code" feature.
  *
  * Determinism: means/medians go through exact DECIMAL sums or exact
  * percentiles; every tiebreak (mode, dedup keep-first) is total.
  */
sealed trait CleanOp extends Product {
  def apply(df: DataFrame): DataFrame
  /** human-oriented Spark snippet (the reference's "export as code"
    * display form — free prose, not machine-parseable). */
  def code: String
  /** CANONICAL one-line serialization, derived from the case-class
    * structure: `OpName(field=value, …)` with quoted/escaped strings,
    * `[…]`-bracketed string seqs, and suffix-typed numerics (`6`, `3L`,
    * `0.5D`). [[Recipe.parse]] reconstructs the op exactly —
    * `Recipe.parse(r.describe) == r` is property-tested, which makes the
    * export REPLAYABLE, not just printable. */
  def describe: String = {
    val args = productElementNames.zip(productIterator).map {
      case (k, v) => s"$k=${CleanOp.describeValue(v)}"
    }
    s"$productPrefix(${args.mkString(", ")})"
  }
}

object CleanOp {
  // \n/\r/\t get named escapes (Recipe.parse splits the serialization on
  // LINES, so a raw newline inside a value would shear the op in two —
  // found by the round-12 round-trip property, not by the fixed-list
  // spec); other control chars round-trip as \uXXXX.
  private[clean] def describeString(s: String): String =
    "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private[clean] def describeValue(v: Any): String = v match {
    case s: String => describeString(s)
    case xs: Seq[_] =>
      // only string seqs round-trip ([[Recipe.parse]] unquotes list
      // elements as strings); a Seq[Int] would come back as Seq[String]
      // and silently violate parse(describe) == recipe
      xs.map {
        case s: String => describeString(s)
        case other => throw new IllegalArgumentException(
          s"CleanOp.describe: seq element '$other' (${other.getClass.getName}) " +
            "is not replayable — only Seq[String] fields round-trip through Recipe.parse")
      }.mkString("[", ",", "]")
    case l: Long => l.toString + "L"
    case d: Double => d.toString + "D"
    case f: Float => f.toString + "F"
    case i: Int => i.toString
    case b: Boolean => b.toString
    // FAIL at export time, not replay time: silently stringifying an
    // unsupported value (null, a java.sql.Date, …) would make Recipe.parse
    // return a STRUCTURALLY DIFFERENT recipe (e.g. FillConstant(col, null)
    // replaying as the string "null") — a broken session that looks fine
    // until it corrupts data on replay.
    case null => throw new IllegalArgumentException(
      "CleanOp.describe: null value is not replayable through Recipe.parse")
    case other => throw new IllegalArgumentException(
      s"CleanOp.describe: value '$other' of unsupported type " +
        s"${other.getClass.getName} is not replayable through Recipe.parse")
  }
  /** Attach 1-row whole-table `stats` to every row via a broadcast
    * cross join. This replaces the empty-`partitionBy()` window form,
    * whose physical plan is `Exchange SinglePartition → Window` over the
    * full table — THE scale-killer at 100 TB. Here the stats reduce
    * map-side to one row and ship back as a broadcast; the main table is
    * never reshuffled. An agg with no keys always yields exactly one row
    * (nulls for an all-null column), so crossJoin cannot drop rows.
    */
  private[clean] def withScalarStats(df: DataFrame, stats: DataFrame): DataFrame =
    df.crossJoin(broadcast(stats))
}

/** Fill nulls in `column` with a constant. */
final case class FillConstant(column: String, value: Any) extends CleanOp {
  def apply(df: DataFrame): DataFrame =
    df.withColumn(column, coalesce(col(column), lit(value)))
  private def litRepr: String = value match {
    // backslash FIRST, then quote — or an embedded backslash corrupts the
    // exported snippet (lit("C:\tmp") reads as a tab escape)
    case s: String =>
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => String.valueOf(other)
  }
  def code: String = s"""df.withColumn("$column", coalesce(col("$column"), lit($litRepr)))"""
}

/** Fill numeric nulls with the column mean (classic ipydataclean fix).
  * Exact decimal sum / count, broadcast back as a scalar. */
final case class FillMean(column: String) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    val stats = df.agg(
      (sum(col(column).cast("decimal(18,4)")).cast("double") /
        count(col(column))).as("__graft_mean"))
    CleanOp.withScalarStats(df, stats)
      .withColumn(column, coalesce(col(column), col("__graft_mean")))
      .drop("__graft_mean")
  }
  def code: String =
    s"""df.crossJoin(broadcast(df.agg(mean))).withColumn("$column", coalesce(col("$column"), mean))  // exact decimal mean"""
}

/** Fill nulls with the PER-GROUP exact-decimal mean — the imputation a
  * mixed-population column actually wants (a user's missing reading
  * imputed from THAT user's level, not the global one). Group means
  * reduce map-side and join back on the group key (dimension-sized,
  * broadcast-eligible); a group whose column is entirely null keeps its
  * nulls (no global fallback smuggled in — chain a global FillMean after
  * if that is wanted). */
final case class FillMeanByGroup(column: String, groups: Seq[String])
    extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    require(groups.nonEmpty, "FillMeanByGroup needs at least one group column")
    val stats = df.groupBy(groups.map(col): _*)
      .agg((sum(col(column).cast("decimal(18,4)")).cast("double") /
        count(col(column))).as("__graft_gmean"))
    df.join(stats, groups, "left")
      .withColumn(column, coalesce(col(column), col("__graft_gmean")))
      .drop("__graft_gmean")
  }
  def code: String =
    s"""df.join(df.groupBy(${groups.map(g => s""""$g"""").mkString(", ")}).agg(mean), Seq(${groups.map(g => s""""$g"""").mkString(", ")}), "left").withColumn("$column", coalesce(col("$column"), gmean))  // exact decimal per-group mean"""
}

/** Fill numeric nulls with the exact median (linear-interpolated). Only the
  * FILLED values are rounded — non-null data passes through untouched. */
final case class FillMedian(column: String, roundTo: Int = 6) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    val stats = df.agg(
      round(expr(s"percentile($column, 0.5)"), roundTo).as("__graft_med"))
    CleanOp.withScalarStats(df, stats)
      .withColumn(column,
        when(col(column).isNotNull, col(column)).otherwise(col("__graft_med")))
      .drop("__graft_med")
  }
  def code: String =
    s"""df.crossJoin(broadcast(df.agg(round(percentile($column, 0.5), $roundTo)))).withColumn("$column", when(col("$column").isNotNull, col("$column")).otherwise(med))"""
}

/** Fill categorical nulls with the most frequent value
  * (ties broken by smallest value — total, deterministic). */
final case class FillMode(column: String) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    val mode = df.where(col(column).isNotNull)
      .groupBy(col(column)).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col(column))
      .limit(1)
      .select(col(column).as("__mode"))
    // LEFT join on a constant key, not crossJoin: an all-null column yields
    // an EMPTY mode frame, and a crossJoin would silently delete every row.
    df.withColumn("__k", lit(1))
      .join(broadcast(mode.withColumn("__k", lit(1))), Seq("__k"), "left")
      .withColumn(column, coalesce(col(column), col("__mode")))
      .drop("__mode", "__k")
  }
  def code: String = s"""df.fillna(mode("$column"))  // mode = max count, tiebreak smallest value"""
}

/** Forward-fill nulls in explicit (partition, order) — the reference's
  * implicit-row-order ffill made explicit (SURVEY.md §1 row-identity gap). */
final case class ForwardFill(column: String, orderCols: Seq[String],
    partitionCols: Seq[String]) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(column, last(col(column), ignoreNulls = true).over(w))
  }
  def code: String =
    s"""df.withColumn("$column", last(col("$column"), ignoreNulls=true).over(Window.partitionBy(${partitionCols.map(c => s""""$c"""").mkString(", ")}).orderBy(${orderCols.map(c => s""""$c"""").mkString(", ")}).rowsBetween(Window.unboundedPreceding, Window.currentRow)))"""
}

/** Backward-fill nulls in explicit (partition, order) — [[ForwardFill]]'s
  * complement: the NEXT non-null value fills, so leading gaps (before the
  * first observation) repair, trailing ones stay null. Same one-window
  * shuffle; only the frame direction flips. */
final case class BackwardFill(column: String, orderCols: Seq[String],
    partitionCols: Seq[String]) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    df.withColumn(column, first(col(column), ignoreNulls = true).over(w))
  }
  def code: String =
    s"""df.withColumn("$column", first(col("$column"), ignoreNulls=true).over(Window.partitionBy(${partitionCols.map(c => s""""$c"""").mkString(", ")}).orderBy(${orderCols.map(c => s""""$c"""").mkString(", ")}).rowsBetween(Window.currentRow, Window.unboundedFollowing)))"""
}

/** Linear interpolation between nearest non-null neighbours in explicit
  * (partition, order); leading/trailing nulls stay null. */
final case class Interpolate(column: String, orderCols: Seq[String],
    partitionCols: Seq[String], roundTo: Int = 6) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    val part = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val idxed = df.withColumn("__idx", row_number().over(part))
    val wPrev = part.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = part.rowsBetween(1, Window.unboundedFollowing)
    val c = col(column)
    idxed
      .withColumn("__pv", last(c, ignoreNulls = true).over(wPrev))
      .withColumn("__pi", last(when(c.isNotNull, col("__idx")), ignoreNulls = true).over(wPrev))
      .withColumn("__nv", first(c, ignoreNulls = true).over(wNext))
      .withColumn("__ni", first(when(c.isNotNull, col("__idx")), ignoreNulls = true).over(wNext))
      .withColumn(column,
        when(c.isNotNull, c)
          .otherwise(round(
            col("__pv") + (col("__nv") - col("__pv")) *
              (col("__idx") - col("__pi")) / (col("__ni") - col("__pi")),
            roundTo)))
      .drop("__idx", "__pv", "__pi", "__nv", "__ni")
  }
  def code: String = s"""df.interpolate("$column")  // prev + (next-prev)*(i-pi)/(ni-pi)"""
}

/** Drop rows with a null in ANY of `columns`. */
final case class DropNaAny(columns: Seq[String]) extends CleanOp {
  def apply(df: DataFrame): DataFrame = df.na.drop("any", columns)
  def code: String = s"""df.na.drop("any", Seq(${columns.mkString(", ")}))"""
}

/** Keep exactly one row per key, deterministically: first by `order`
  * (orderable remaining columns break any residual ties, so the result
  * never depends on partition layout when the row is orderable at all;
  * NOT dropDuplicates, whose keep choice is partition-order-dependent).
  *
  * Plan shape: min_by(value-struct, ordering-struct) per key — a hash
  * aggregate whose partial (map-side) phase collapses duplicates BEFORE
  * the shuffle. The equivalent row_number window shuffles and SORTS every
  * duplicate row; at 100 TB with skewed keys that sort is the
  * bottleneck, while min_by stays one combine-friendly pass. Non-orderable
  * payload columns (maps) ride in the value struct only. Struct
  * comparison is field-by-field with nulls first — the same ordering the
  * window's default ASC gave. */
final case class DedupByKey(keys: Seq[String], order: Seq[String]) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val rest = df.columns.toSeq.filterNot(c =>
      keys.contains(c) || order.contains(c))
    // the ORDERING struct may only contain orderable types (a MapType
    // payload column would make min/min_by unplannable); non-orderable
    // columns still travel in the VALUE struct and are returned intact
    val orderableRest = rest.filter(c =>
      RowOrdering.isOrderable(df.schema(c).dataType))
    val valueCols = (order ++ rest).map(col)
    val ordCols = (order ++ orderableRest).map(col)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(valueCols: _*), struct(ordCols: _*)).as("__row"))
      .select(df.columns.toSeq.map(c =>
        if (keys.contains(c)) col(c) else col(s"__row.`$c`").as(c)): _*)
  }
  def code: String =
    s"""df.groupBy(${keys.mkString(",")}).agg(min(struct(${order.mkString(",")}, *rest))).select(unpacked)  // keep-first by order"""
}

/** Clip (winsorize) into the [pLo, pHi] exact-percentile range.
  * Bounds are rounded to 4 decimals so both engines in a differential test
  * compare against the identical double. */
final case class ClipToQuantiles(column: String, pLo: Double, pHi: Double)
    extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    val stats = df.agg(
      round(expr(s"percentile($column, $pLo)"), 4).as("__graft_lo"),
      round(expr(s"percentile($column, $pHi)"), 4).as("__graft_hi"))
    CleanOp.withScalarStats(df, stats)
      .withColumn(column,
        least(greatest(col(column), col("__graft_lo")), col("__graft_hi")))
      .drop("__graft_lo", "__graft_hi")
  }
  def code: String = s"""df.withColumn("$column", least(greatest(col, p$pLo), p$pHi))"""
}

/** Error-tolerant string→double (reference "convert type" fix). */
final case class SafeCastDouble(column: String, target: String = "double")
    extends CleanOp {
  def apply(df: DataFrame): DataFrame =
    df.withColumn(column, expr(s"try_cast($column AS $target)"))
  def code: String = s"""df.withColumn("$column", expr("try_cast($column AS $target)"))"""
}

/** Error-tolerant string→timestamp with an explicit format. */
final case class ParseTimestamp(column: String, fmt: String = "yyyy-MM-dd HH:mm:ss")
    extends CleanOp {
  def apply(df: DataFrame): DataFrame =
    df.withColumn(column, try_to_timestamp(col(column), lit(fmt)))
  def code: String = s"""df.withColumn("$column", try_to_timestamp(col("$column"), "$fmt"))"""
}

/** z-standardize a numeric column: (x − mean) / sd, exact-decimal mean,
  * sample sd; a constant column (sd = 0) nulls rather than ±Inf. Only a
  * recipe-recorded TRANSFORM — the profiling twin is the declared
  * `scale_standardize` query. */
final case class Standardize(column: String, roundTo: Int = 6) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    val c = col(column)
    val stats = df.agg(
      (sum(c.cast("decimal(18,4)")).cast("double") / count(c)).as("__graft_mu"),
      sum((c.cast("decimal(18,4)") * c.cast("decimal(18,4)")))
        .cast("double").as("__graft_sx2"),
      count(c).as("__graft_n"))
    CleanOp.withScalarStats(df, stats)
      .withColumn(column,
        round((c - col("__graft_mu")) /
          nullif(sqrt((col("__graft_sx2") -
            col("__graft_mu") * col("__graft_mu") * col("__graft_n")) /
            (col("__graft_n") - 1)), lit(0.0)), roundTo) + lit(0.0))
      .drop("__graft_mu", "__graft_sx2", "__graft_n")
  }
  def code: String =
    s"""df.crossJoin(broadcast(df.agg(mean, sd))).withColumn("$column", round((col("$column") - mean) / nullif(sd, 0.0), $roundTo))  // z-score, null on constant column"""
}

/** Split one string column into several by regex capture groups (the
  * reference's "split column" fix): `into(i)` receives capture group
  * i+1; non-matching rows get empty strings (regexp_extract semantics,
  * identical in both engines). The source column is kept. */
final case class SplitColumn(column: String, pattern: String,
    into: Seq[String]) extends CleanOp {
  require(into.nonEmpty, "SplitColumn needs at least one target column")
  def apply(df: DataFrame): DataFrame =
    into.zipWithIndex.foldLeft(df) { case (d, (name, i)) =>
      d.withColumn(name, regexp_extract(col(column), pattern, i + 1))
    }
  def code: String =
    s"""${into.zipWithIndex.map { case (n, i) =>
      s"""df.withColumn("$n", regexp_extract(col("$column"), "$pattern", ${i + 1}))"""
    }.mkString("\n")}"""
}

/** Dictionary recode of a categorical column: values in `from` map to the
  * positionally matching `to`; everything else passes through. The classic
  * "harmonize the category spellings" fix — kept as parallel Seq[String]
  * fields (not a Map) so [[CleanOp.describe]] round-trips it exactly. */
final case class RecodeValues(column: String, from: Seq[String],
    to: Seq[String]) extends CleanOp {
  require(from.length == to.length && from.nonEmpty,
    "RecodeValues needs non-empty, equal-length from/to")
  require(from.distinct.length == from.length,
    "RecodeValues: duplicate source value in from")
  def apply(df: DataFrame): DataFrame = {
    // one map literal probed per row (codegen'd), null keys pass through
    // (element_at(map, null) is null → coalesce keeps the original null)
    val m = map(from.zip(to).flatMap { case (f, t) => Seq(lit(f), lit(t)) }: _*)
    df.withColumn(column, coalesce(element_at(m, col(column)), col(column)))
  }
  def code: String = {
    val pairs = from.zip(to).map { case (f, t) => s""""$f"->"$t"""" }.mkString(", ")
    s"""df.withColumn("$column", coalesce(element_at(map($pairs), col("$column")), col("$column")))"""
  }
}

/** trim + lower + collapse internal whitespace (pre-clustering normalize). */
final case class NormalizeWhitespace(column: String) extends CleanOp {
  def apply(df: DataFrame): DataFrame =
    df.withColumn(column, lower(trim(regexp_replace(col(column), "\\s+", " "))))
  def code: String =
    s"""df.withColumn("$column", lower(trim(regexp_replace(col("$column"), "\\\\s+", " "))))"""
}

/** OpenRefine-style fingerprint canonicalization: key = sorted distinct
  * tokens of the normalized value; every member is rewritten to the most
  * frequent original value of its key (tiebreak smallest). */
final case class FingerprintCanonicalize(column: String) extends CleanOp {
  def apply(df: DataFrame): DataFrame = {
    // Guard nulls (inside FingerprintForms.expr): concat_ws would map a
    // NULL value to fingerprint "" and the rewrite would invent a value
    // for it; null fp never equi-joins. ONE definition of the fingerprint
    // key, shared with the §2.14 UDF A/B demo.
    val fp = graft.functions.FingerprintForms.expr(col(column))
    // canonical per key = min_by over (count DESC, value ASC) — two hash
    // aggregates with map-side partials; no per-key window sort.
    val canon = df.where(col(column).isNotNull)
      .groupBy(fp.as("__fp"), col(column))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("__fp"))
      .agg(min_by(col(column),
        struct((-col("__cnt")).as("nc"), col(column))).as("__canon"))
    df.withColumn("__fp", fp)
      .join(broadcast(canon), Seq("__fp"), "left")
      .withColumn(column, coalesce(col("__canon"), col(column)))
      .drop("__fp", "__canon")
  }
  def code: String = s"""df.canonicalize("$column")  // fingerprint = sorted distinct tokens"""
}

/** An ordered, replayable cleaning session (the reference's history). */
final case class Recipe(ops: Seq[CleanOp]) {
  /** The whole recipe is ONE lazy Catalyst plan. */
  def apply(df: DataFrame): DataFrame = ops.foldLeft(df)((d, op) => op(d))
  def add(op: CleanOp): Recipe = Recipe(ops :+ op)
  /** Undo = drop the last step and re-derive (exactly the reference model). */
  def undo: Recipe = Recipe(ops.dropRight(1))
  /** Export the session as standalone Spark code (display form). */
  def exportCode: String = ops.map(_.code).mkString("\n")
  /** Canonical replayable serialization: one [[CleanOp.describe]] line
    * per op. `Recipe.parse(recipe.describe) == recipe`. */
  def describe: String = ops.map(_.describe).mkString("\n")
}

object Recipe {
  /** Reconstruct a [[Recipe]] from its [[Recipe.describe]] text — the
    * round-trip that makes the exported session REPLAYABLE: the parsed
    * recipe is structurally equal to the original, so re-applying it
    * reproduces the same DataFrame plan. Blank lines are skipped;
    * unknown op names or malformed lines throw. */
  def parse(text: String): Recipe = Recipe(
    text.linesIterator.map(_.trim).filter(_.nonEmpty).map(parseOp).toSeq)

  private def parseOp(line: String): CleanOp = {
    val open = line.indexOf('(')
    require(open > 0 && line.endsWith(")"), s"unparseable op line: $line")
    val name = line.substring(0, open)
    val args = splitTop(line.substring(open + 1, line.length - 1))
      .map { a =>
        val eq = a.indexOf('=')
        require(eq > 0, s"unparseable arg '$a' in: $line")
        a.take(eq).trim -> parseValue(a.drop(eq + 1).trim)
      }.toMap
    def s(k: String): String = args(k).asInstanceOf[String]
    def ss(k: String): Seq[String] = args(k).asInstanceOf[Seq[String]]
    def i(k: String): Int = args(k) match {
      case x: Int => x
      case x: Long => x.toInt
    }
    def d(k: String): Double = args(k) match {
      case x: Double => x
      case x: Int => x.toDouble
      case x: Long => x.toDouble
    }
    name match {
      case "FillConstant" => FillConstant(s("column"), args("value"))
      case "FillMean" => FillMean(s("column"))
      case "FillMeanByGroup" => FillMeanByGroup(s("column"), ss("groups"))
      case "FillMedian" => FillMedian(s("column"), i("roundTo"))
      case "FillMode" => FillMode(s("column"))
      case "ForwardFill" =>
        ForwardFill(s("column"), ss("orderCols"), ss("partitionCols"))
      case "BackwardFill" =>
        BackwardFill(s("column"), ss("orderCols"), ss("partitionCols"))
      case "Interpolate" =>
        Interpolate(s("column"), ss("orderCols"), ss("partitionCols"), i("roundTo"))
      case "DropNaAny" => DropNaAny(ss("columns"))
      case "DedupByKey" => DedupByKey(ss("keys"), ss("order"))
      case "ClipToQuantiles" => ClipToQuantiles(s("column"), d("pLo"), d("pHi"))
      case "SafeCastDouble" => SafeCastDouble(s("column"), s("target"))
      case "ParseTimestamp" => ParseTimestamp(s("column"), s("fmt"))
      case "Standardize" => Standardize(s("column"), i("roundTo"))
      case "RecodeValues" => RecodeValues(s("column"), ss("from"), ss("to"))
      case "SplitColumn" => SplitColumn(s("column"), s("pattern"), ss("into"))
      case "NormalizeWhitespace" => NormalizeWhitespace(s("column"))
      case "FingerprintCanonicalize" => FingerprintCanonicalize(s("column"))
      case other => throw new IllegalArgumentException(s"unknown CleanOp: $other")
    }
  }

  /** split `s` on top-level commas — commas inside "quotes" (with \
    * escapes) or [brackets] don't split. */
  private def splitTop(s: String): Seq[String] = {
    if (s.trim.isEmpty) return Seq.empty
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inStr = false
    var esc = false
    s.foreach { ch =>
      if (esc) { cur += ch; esc = false }
      else ch match {
        case '\\' if inStr => cur += ch; esc = true
        case '"' => cur += ch; inStr = !inStr
        case '[' if !inStr => cur += ch; depth += 1
        case ']' if !inStr => cur += ch; depth -= 1
        case ',' if !inStr && depth == 0 => out += cur.result(); cur.clear()
        case c => cur += c
      }
    }
    out += cur.result()
    out.result().map(_.trim)
  }

  private def unquote(s: String): String = {
    require(s.length >= 2 && s.head == '"' && s.last == '"',
      s"expected quoted string, got: $s")
    val body = s.substring(1, s.length - 1)
    val b = new StringBuilder
    var i = 0
    while (i < body.length) {
      val ch = body(i)
      if (ch == '\\' && i + 1 < body.length) {
        body(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' if i + 5 < body.length =>
            b += Integer.parseInt(body.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => b += other; i += 2 // \\ and \" (and any literal)
        }
      } else { b += ch; i += 1 }
    }
    b.result()
  }

  private def parseValue(v: String): Any = v match {
    case q if q.startsWith("\"") => unquote(q)
    case l if l.startsWith("[") && l.endsWith("]") =>
      splitTop(l.substring(1, l.length - 1)).map(unquote)
    case "true" => true
    case "false" => false
    case n if n.endsWith("L") => n.dropRight(1).toLong
    case n if n.endsWith("D") => n.dropRight(1).toDouble
    case n if n.endsWith("F") => n.dropRight(1).toFloat
    case n => n.toInt
  }
}
