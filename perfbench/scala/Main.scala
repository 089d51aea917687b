package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload run in one JVM: set-up (session, inputs, fixed warm-up),
  * the control kernel, a closed loop of ops from one client thread for
  * `--seconds`, the control kernel again. Writes every op's time and check
  * result, and in traced runs the per-layer counters, to `--out`.
  *
  *   --workload W --data DIR --work DIR --seed N --seconds S --trace 0|1 --out FILE
  */
object Main {
  final case class Rec(kind: String, key: String, wall: Double, rows: Long,
      err: Option[String], traced: Boolean, extraMb: Double, notes: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (data, work, seed) = (a("data"), a("work"), a("seed").toLong)
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime
    def since(t: Long) = (System.nanoTime - t) / 1e9

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = since(t0)
    val mapper = new ObjectMapper()
    val manifest = mapper.readTree(new File(s"$data/manifest.json"))
    val wl = Workload(a("workload"), spark, data, work, manifest)
    val t = new Tracer(spark, traced)

    def exec(op: Op): Rec = {
      t.beginOp()
      val start = System.nanoTime
      val (wall, err) =
        try {
          val check = t.span("op", op.kind)(op.run(t))
          val wall = since(start)
          t.peek()
          (wall, try check() catch { case e: Throwable => Some(s"check: $e") })
        } catch { case e: Throwable => (since(start), Some(e.toString)) }
      err.foreach(e => System.err.println(s"[perfbench] ${op.kind}/${op.key} failed: $e"))
      val notes = t.notes.toMap ++
        (if (t.on) wl.diagnose(op) else Map.empty[String, Double])
      Rec(op.kind, op.key, wall, op.rows, err, t.on, t.opExtraMb, notes)
    }

    val tLoad = System.nanoTime
    wl.load(t)
    t.baseline = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val loadS = since(tLoad)
    val tWarm = System.nanoTime
    val warm = wl.warmup.map(exec)
    graft.GraftOps.clearDedupCaches(spark)
    val warmS = since(tWarm)
    val setupS = since(t0)

    // Bench's frozen ctl_scan_agg kernel: machine drift between runs
    val ctlDir = s"$data/control"
    def ctl(): Double = {
      val s = System.nanoTime
      spark.read.parquet(s"$ctlDir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sq"), avg("l_extendedprice").as("ap"),
          count(lit(1)).as("n")).count()
      since(s)
    }
    ctl()
    val ctlPre = Seq.fill(2)(ctl())

    // closed loop, one client: whole decks until `seconds` have passed. In
    // traced runs every op runs twice in a row, traced and untraced in
    // alternating order, so the tracing overhead is measured on the same
    // ops and the JIT ramp between the two runs cancels.
    val recs = mutable.ArrayBuffer[Rec]()
    val tRun = System.nanoTime
    var deck = 0
    while (since(tRun) < seconds || (traced && recs.size < 4)) {
      wl.deck(seed, deck).zipWithIndex.foreach { case (op, i) =>
        val modes = if (!traced) Seq(false) else if (i % 2 == 0) Seq(true, false) else Seq(false, true)
        modes.foreach { on => t.on = on; recs += exec(op) }
      }
      t.on = false
      deck += 1
    }
    val runS = since(tRun)
    graft.GraftOps.clearDedupCaches(spark)
    val ctlPost = Seq.fill(2)(ctl())
    t.close()

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("cores", cores)
    out.put("setup_jvm_s", setupS)
    out.put("session_s", sessionS)
    out.put("load_s", loadS)
    out.put("warmup_s", warmS)
    out.put("warmup_walls", warm.map(r => math.round(r.wall * 1000) / 1000.0).asJava)
    out.put("warmup_failed", warm.flatMap(r => r.err.map(e => s"${r.key}: $e")).asJava)
    out.put("run_s", runS)
    out.put("decks", deck)
    out.put("control_s", (ctlPre ++ ctlPost).asJava)
    out.put("storage_peak_mb", t.peakMb)
    out.put("ops", recs.map { r =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("kind", r.kind); m.put("key", r.key); m.put("wall", r.wall)
      m.put("rows", r.rows); m.put("err", r.err.orNull)
      m.put("traced", r.traced)
      m
    }.asJava)
    if (traced) out.put("layers", Layers(t, recs.toSeq, cores).asJava)
    wl match {
      case c: CleanSession =>
        out.put("oracle", c.reports.oracle.asJava)
        out.put("dumps", c.reports.digests.keys.toSeq.asJava)
      case _ =>
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(a("out")), out)
    if (traced) writeSpans(mapper, t, s"$work/spans.json")
    spark.stop()
  }

  private def writeSpans(mapper: ObjectMapper, t: Tracer, path: String): Unit = {
    val self = t.selfSeconds
    val rows = t.spans.map { s =>
      val c = t.countersOf(s)
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("op", s.op)
      m.put("layer", s.layer); m.put("name", s.name)
      m.put("start_ns", s.start); m.put("end_ns", s.end)
      m.put("self_s", self(s.id)); m.put("jobs", c.jobs); m.put("tasks", c.tasks)
      m.put("phases", s.phases.asJava)
      m
    }
    mapper.writeValue(new File(path), rows.asJava)
  }
}

/** Per-layer metrics of the traced ops, each a mean per traced op unless
  * it is a ratio. */
object Layers {
  def apply(t: Tracer, recs: Seq[Main.Rec], cores: Int): Map[String, Double] = {
    val traced = recs.filter(_.traced)
    val n = math.max(traced.size, 1).toDouble
    val self = t.selfSeconds
    def selfOf(layer: String, prefix: String = "") =
      t.spans.filter(s => s.layer == layer && s.name.startsWith(prefix)).map(s => self(s.id)).sum / n
    def countersOf(layer: String) = {
      val c = new Counters
      t.spans.filter(s => layer.isEmpty || s.layer == layer).foreach(s => c.add(t.countersOf(s)))
      c
    }
    def phase(p: String) = t.spans.flatMap(_.phases.get(p)).sum / n
    val all = countersOf("")
    val wall = traced.map(_.wall).sum
    def note(k: String) = traced.flatMap(_.notes.get(k)).sum
    Map(
      "clean.call_s" -> selfOf("clean"),
      "clean.eager_jobs" -> countersOf("clean").jobs / n,
      "sources.open_s" -> selfOf("sources", "open:"),
      "sources.scan_bytes" -> all.inputBytes / n,
      "sources.write_s" -> selfOf("sources", "write:"),
      "sources.write_bytes" -> all.outputBytes / n,
      "ops.call_s" -> selfOf("ops"),
      "ops.jobs" -> countersOf("ops").jobs / n,
      "llm.call_s" -> selfOf("llm"),
      "llm.jobs" -> countersOf("llm").jobs / n,
      "llm.candidate_pairs" -> note("candidates") / n,
      "llm.candidate_precision" ->
        (if (note("candidates") > 0) note("verified") / note("candidates") else 0.0),
      "llm.near_dup_recall" ->
        (if (note("near_planted") > 0) note("near_removed") / note("near_planted") else 0.0),
      "llm.cached_mb" -> traced.map(_.extraMb).sum / n,
      "spark.action_s" -> selfOf("spark"),
      "spark.analysis_s" -> phase("analysis"),
      "spark.optimize_s" -> phase("optimization"),
      "spark.physical_plan_s" -> phase("planning"),
      "spark.jobs" -> all.jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.task_run_s" -> all.runMs / 1000.0 / n,
      "spark.task_cpu_s" -> all.cpuNs / 1e9 / n,
      "spark.busy_ratio" -> (if (wall > 0) all.runMs / 1000.0 / (wall * cores) else 0.0),
      "spark.gc_s" -> all.gcMs / 1000.0 / n,
      "spark.spill_bytes" -> all.spillBytes / n,
      "spark.shuffle_write_bytes" -> all.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> all.shuffleRead / n,
      "spark.task_failures" -> all.taskFailures / n)
  }
}
