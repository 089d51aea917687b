package graft.clean

import graft._
import graft.Tables._
import org.apache.spark.sql.functions._

/** EP3 (SURVEY.md §3.2): a whole recorded cleaning session as ONE declared
  * query. The reference executes N eager pandas passes; here the recipe
  * folds into a single Catalyst plan — scan once, clean once.
  */
object RecipeQueries {

  /** the recorded session both declared queries share: fill → clip →
    * drop → dedup (the reference's canonical fix sequence). */
  private val pipelineRecipe = Recipe(Seq(
    FillMean("v"),
    ClipToQuantiles("v", 0.01, 0.99),
    DropNaAny(Seq("et")),
    DedupByKey(Seq("event_id"), Seq("user_id", "v"))))

  val queries: Map[String, Q] = Map(
    // normalize nulls → fill value with mean → clip to [p01,p99] → drop
    // rows still missing the categorical → dedup by event_id
    "recipe_pipeline" -> { (s, dir) =>
      pipelineRecipe(Missing.eventsWithNulls(s, dir))
        .select(col("event_id"), col("user_id"), round(col("v"), 6).as("v"), col("et"))
        .orderBy(col("event_id"))
    },

    // the reference's "export as code" feature as a declared query: one
    // row per recorded op — the canonical replayable serialization
    // (Recipe.parse round-trips it, RecipeExportSpec) and the display
    // Spark snippet. The oracle pins the export format as a contract:
    // changing either string form breaks the gate on purpose.
    "recipe_describe" -> { (s, dir) =>
      import s.implicits._
      pipelineRecipe.ops.zipWithIndex.map { case (op, ix) =>
        ((ix + 1).toLong, op.describe, op.code)
      }.toDF("step", "op_describe", "spark_code").orderBy("step")
    }
  )

  val oracle: Map[String, String] = Map(
    "recipe_pipeline" ->
      s"""WITH ev AS (${Missing.sqlEv}),
         |filled AS (SELECT event_id, user_id, et,
         |  coalesce(v, cast(sum(cast(v as decimal(18,4))) OVER () as double) / count(v) OVER ()) AS v
         |  FROM ev),
         |bounds AS (SELECT round(quantile_cont(v, 0.01), 4) AS lo,
         |                  round(quantile_cont(v, 0.99), 4) AS hi FROM filled),
         |clipped AS (SELECT event_id, user_id, et,
         |  CASE WHEN v IS NOT NULL THEN least(greatest(v, lo), hi) END AS v
         |  FROM filled CROSS JOIN bounds),
         |dropped AS (SELECT * FROM clipped WHERE et IS NOT NULL),
         |deduped AS (SELECT event_id, user_id, v, et FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY user_id NULLS FIRST, v NULLS FIRST) AS rn
         |  FROM dropped) WHERE rn = 1)
         |SELECT event_id, user_id, round(v, 6) AS v, et FROM deduped
         |ORDER BY event_id""".stripMargin,
    // contract oracle: the expected export strings PINNED AS LITERALS —
    // deriving them from op.describe/op.code at runtime (the r9 form)
    // could never fail, because a format regression changes both engines
    // identically. With literals, any change to the describe/code
    // serialization trips the gate (RecipeExportSpec pins the same
    // constants test-side).
    "recipe_describe" ->
      """SELECT cast(step AS bigint) AS step, op_describe, spark_code
        |FROM (VALUES
        |  (1, 'FillMean(column="v")',
        |   'df.crossJoin(broadcast(df.agg(mean))).withColumn("v", coalesce(col("v"), mean))  // exact decimal mean'),
        |  (2, 'ClipToQuantiles(column="v", pLo=0.01D, pHi=0.99D)',
        |   'df.withColumn("v", least(greatest(col, p0.01), p0.99))'),
        |  (3, 'DropNaAny(columns=["et"])',
        |   'df.na.drop("any", Seq(et))'),
        |  (4, 'DedupByKey(keys=["event_id"], order=["user_id","v"])',
        |   'df.groupBy(event_id).agg(min(struct(user_id,v, *rest))).select(unpacked)  // keep-first by order')
        |) t(step, op_describe, spark_code)
        |ORDER BY step""".stripMargin
  )
}
