package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable

/** Task-level counters of the Spark jobs one span launched. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, spillBytes, shuffleWrite, shuffleRead = 0L
  var inputBytes, outputBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; spillBytes += o.spillBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; inputBytes += o.inputBytes
    outputBytes += o.outputBytes
  }
}

/** Attributes every Spark job to the span whose job group launched it.
  * Events arrive on the listener bus thread; state is read only after
  * [[drain]]. */
final class SpanListener extends SparkListener {
  val byGroup = mutable.HashMap[String, Counters]()
  private val stageGroup = mutable.HashMap[Int, String]()
  @volatile private var started, ended = 0L

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
      counters(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counters(g)
      c.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** wait until every started job's end event has been delivered */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    var stable = 0
    while (stable < 3 && System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      stable = if (synchronized(started == ended)) stable + 1 else 0
    }
  }
}

/** One timed call into a layer. `op` numbers the traced op it belongs to. */
final class Span(val id: Int, val parent: Int, val op: Int, val layer: String,
    val name: String, val start: Long) {
  var end = 0L
  /** QueryPlanningTracker phases (seconds) of the queries this span ran */
  val phases = mutable.HashMap[String, Double]()
  def seconds: Double = (end - start) / 1e9
}

object Tracer { val GroupPrefix = "perfbench-span-" }

/** Spans around the benchmark's calls into each layer. While `on` is false
  * every method runs its body with no bookkeeping, so untraced ops pay
  * nothing; the listener exists only in traced runs. Spans stay in memory
  * until the run ends. Storage peaks are sampled in every run. */
final class Tracer(spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var opId = -1
  /** RDDs cached by the benchmark's own set-up */
  var baseline = Set.empty[Int]
  /** peak MB of cached blocks over the run, and over the current op beyond
    * the set-up's own caches */
  var peakMb, opExtraMb = 0.0
  /** diagnostics the current op's check recorded */
  val notes = mutable.HashMap[String, Double]()
  /** results the current traced op settled (see [[settle]]) */
  private val settled = mutable.ArrayBuffer[RDD[_]]()
  val listener: Option[SpanListener] =
    if (traced) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def beginOp(): Unit = {
    release()
    if (on) opId += 1
    opExtraMb = 0.0
    notes.clear()
  }

  def note(k: String, v: Double): Unit = notes(k) = v

  def peek(): Unit = {
    val ownIds = settled.map(_.id).toSet
    val infos = sc.getRDDStorageInfo.toSeq.filterNot(i => ownIds(i.id))
    def mb(xs: Seq[org.apache.spark.storage.RDDInfo]) =
      xs.map(i => i.memSize + i.diskSize).sum / 1048576.0
    peakMb = math.max(peakMb, mb(infos))
    opExtraMb = math.max(opExtraMb, mb(infos.filterNot(i => baseline(i.id))))
  }

  /** In traced ops, run `df` to completion now, inside the current span, and
    * go on from the result: the jobs of a lazy layer call are then booked to
    * that call and not to the later action that would first run them.
    * Settled blocks are left out of the storage figures and dropped when the
    * next op begins. Untraced ops get `df` back unchanged. */
  def settle(df: DataFrame): DataFrame =
    if (!on) df
    else {
      val cp = df.localCheckpoint(eager = true)
      settled ++= cp.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      cp
    }

  private def release(): Unit = {
    settled.foreach(_.unpersist(blocking = true))
    settled.clear()
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        opId, layer, name, System.nanoTime)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, s"$layer.$name", false)
      try body
      finally {
        s.end = System.nanoTime
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, s"${p.layer}.${p.name}", false)
          case None => sc.clearJobGroup()
        }
        peek()
      }
    }

  /** run an action on `df` as a spark-layer span and keep its planning phases */
  def collect(name: String, df: DataFrame): Array[Row] = span("spark", name) {
    val rows = df.collect()
    if (on) {
      val ph = df.queryExecution.tracker.phases
      stack.head.phases ++= ph.map { case (k, v) => k -> v.durationMs / 1000.0 }
    }
    rows
  }

  def clean[T](name: String)(body: => T): T = span("clean", name)(body)
  def ops[T](name: String)(body: => T): T = span("ops", name)(body)
  def llm[T](name: String)(body: => T): T = span("llm", name)(body)
  def open[T](name: String)(body: => T): T = span("sources", "open:" + name)(body)
  def write[T](name: String)(body: => T): T = span("sources", "write:" + name)(body)

  def close(): Unit = {
    release()
    listener.foreach { l => l.drain(); sc.removeSparkListener(l) }
  }

  /** counters of the jobs each span launched directly */
  def countersOf(s: Span): Counters =
    listener.flatMap(_.byGroup.get(Tracer.GroupPrefix + s.id)).getOrElse(new Counters)

  /** self time: span duration minus the part its children cover */
  def selfSeconds: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }
}
