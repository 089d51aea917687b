package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** §2.13 "stateful custom op": arbitrary per-key state beyond what windowed
  * aggregation expresses — here, per-user running purchase totals with an
  * emitted alert row each time the total crosses another multiple of the
  * threshold. flatMapGroupsWithState gives exactly-once state on the state
  * store; at 100 TB state is partitioned by user and bounded by timeout.
  *
  * [[firstNPerUser]] demonstrates the Spark 4 arbitrary-state v2 API
  * (`transformWithState` + [[StatefulProcessor]] + typed [[ValueState]]):
  * a per-key admission quota — only the first `n` rows of each key ever
  * pass, across ALL micro-batches. The v2 API needs the RocksDB state
  * store provider (`spark.sql.streaming.stateStore.providerClass`);
  * state here is one long per key, TTL-able via [[TTLConfig]] when keys
  * churn (set NONE for the bounded test corpus).
  */
object Stateful {

  case class Purchase(user_id: Long, ts: Timestamp, value: Double)
  case class SpendAlert(user_id: Long, total: Double, alerts_crossed: Long)

  /** Emits an alert whenever a user's cumulative value crosses a new
    * multiple of `threshold`. Works on a streaming OR batch Dataset. */
  def spendAlerts(purchases: Dataset[Purchase], threshold: Double): Dataset[SpendAlert] = {
    implicit val encA = Encoders.product[SpendAlert]
    implicit val encD = Encoders.scalaDouble
    purchases
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[Double, SpendAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Purchase], state: GroupState[Double]) =>
          val before = state.getOption.getOrElse(0.0)
          val added = rows.map(_.value).sum
          val after = before + added
          state.update(after)
          val crossedBefore = (before / threshold).toLong
          val crossedAfter = (after / threshold).toLong
          if (crossedAfter > crossedBefore)
            Iterator(SpendAlert(user, after, crossedAfter))
          else Iterator.empty
      }
  }

  /** v2 arbitrary-state processor: admit the first `n` rows per key.
    * The running admit-count survives micro-batches in a typed
    * [[ValueState]] on the (RocksDB) state store. */
  private class FirstNProcessor(n: Int)
      extends StatefulProcessor[Long, Purchase, Purchase] {
    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Purchase],
        timers: TimerValues): Iterator[Purchase] = {
      var seen = if (count.exists()) count.get() else 0L
      val out = scala.collection.mutable.ListBuffer.empty[Purchase]
      rows.foreach { r => if (seen < n) { seen += 1; out += r } }
      count.update(seen)
      out.iterator
    }
  }

  /** PUBLIC API: per-user admission quota over a stream — passes each
    * user's first `n` purchases and drops the rest, across all
    * micro-batches (streaming keep-first dedup with a budget: sampling
    * caps, free-tier limits, at-most-n training examples per source). */
  def firstNPerUser(purchases: Dataset[Purchase], n: Int): Dataset[Purchase] = {
    implicit val encP = Encoders.product[Purchase]
    purchases
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new FirstNProcessor(n), TimeMode.None(),
        OutputMode.Append())
  }

  case class GroupDoc(group: String, doc_id: Long)

  /** v2 processor: per-key admission against a per-key quota map. One
    * long of state (admitted-so-far) per key, exactly [[FirstNProcessor]]
    * with the cap resolved per key instead of fixed. */
  private class QuotaProcessor(quotas: Map[String, Long])
      extends StatefulProcessor[String, GroupDoc, GroupDoc] {
    @transient private var admitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState[Long]("admitted", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[GroupDoc],
        timers: TimerValues): Iterator[GroupDoc] = {
      val cap = quotas.get(key) // None = uncapped
      var n = if (admitted.exists()) admitted.get() else 0L
      val out = scala.collection.mutable.ListBuffer.empty[GroupDoc]
      rows.foreach { r => if (cap.forall(n < _)) { n += 1; out += r } }
      admitted.update(n)
      out.iterator
    }
  }

  /** PUBLIC API: CONTINUOUS per-group admission quota — the streaming
    * form of `GraftOps.quotaPerGroup`, with ARRIVAL order standing in
    * for the batch kernel's `orderCol` ranking: a stream cannot re-rank
    * what already passed, so it admits each group's FIRST `quota(group)`
    * rows across all micro-batches. Feed it priority-ordered input and
    * it reproduces the batch selection exactly (StatefulSpec pins that
    * parity row-for-row). Same quota contract as the batch relation:
    * a group absent from `quotas` is uncapped, quota ≤ 0 admits nothing
    * (a Map cannot hold duplicate keys, so the batch kernel's
    * strictest-of-duplicates rule is vacuous here). State is ONE long
    * per group on the RocksDB store (arbitrary-state v2, like
    * [[firstNPerUser]]); `quotas` is a plan-time map — broadcast-sized
    * by the same argument as the batch kernel's quota relation. */
  def quotaPerGroupStream(rows: Dataset[GroupDoc],
      quotas: Map[String, Long]): Dataset[GroupDoc] = {
    implicit val encG = Encoders.product[GroupDoc]
    rows
      .groupByKey(_.group)(Encoders.STRING)
      .transformWithState(new QuotaProcessor(quotas), TimeMode.None(),
        OutputMode.Append())
  }

  case class Scd2Change(key: String, ts: Timestamp, attr: String)
  case class Scd2Cur(ts: Timestamp, attr: String)
  case class Scd2Closed(key: String, attr: String,
      valid_from: Timestamp, valid_to: Timestamp)

  /** v2 processor behind [[scd2Stream]]: one (ts, attr) of state per key
    * — the OPEN version. Each arriving change closes it (emit) and
    * becomes the new open version. In-batch rows are sorted by ts before
    * folding (a micro-batch delivers its rows in shuffle order); ACROSS
    * batches arrival order stands in for event order, the same contract
    * as [[quotaPerGroupStream]] — a stream cannot reopen an interval it
    * already emitted. */
  private class Scd2Processor
      extends StatefulProcessor[String, Scd2Change, Scd2Closed] {
    @transient private var current: ValueState[Scd2Cur] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      current = getHandle.getValueState[Scd2Cur]("current",
        Encoders.product[Scd2Cur], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Scd2Change],
        timers: TimerValues): Iterator[Scd2Closed] = {
      // getTime alone is millisecond-grained — sub-ms neighbors would
      // fold in arrival order and could emit an inverted interval
      val sorted = rows.toIndexedSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos))
      var cur = if (current.exists()) Option(current.get()) else None
      val out = scala.collection.mutable.ListBuffer.empty[Scd2Closed]
      sorted.foreach { r =>
        cur.foreach(c => out += Scd2Closed(key, c.attr, c.ts, r.ts))
        cur = Some(Scd2Cur(r.ts, r.attr))
      }
      cur.foreach(current.update)
      out.iterator
    }
  }

  /** PUBLIC API: CONTINUOUS SCD Type-2 — the streaming twin of
    * `GraftOps.scd2History` for a CDC ingestion feed: each change CLOSES
    * the key's open version (emitted with its validity interval, append
    * mode) and becomes the new open version, which lives in ONE
    * (ts, attr) of RocksDB ValueState per key until the next change.
    * The open/current versions are exactly the state store's content —
    * a stream can never emit them (their valid_to hasn't happened);
    * batch scd2History over the full history reproduces closed + open
    * rows together (StatefulSpec pins closed-row parity). */
  def scd2Stream(changes: Dataset[Scd2Change]): Dataset[Scd2Closed] = {
    implicit val encC = Encoders.product[Scd2Closed]
    changes
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new Scd2Processor, TimeMode.None(),
        OutputMode.Append())
  }

  case class GroupValue(group: String, value: String)
  case class TopValue(group: String, item: String, est: Long, rank: Int)

  /** classic Misra–Gries weight-1 update on a mutable counter map —
    * the streaming mirror of the batch aggregate's kernel
    * ([[graft.functions.MisraGriesTopK]]); same ≤ `cap` counters, same
    * presence/estimate guarantees over everything the state has seen. */
  private def mgAdd(m: scala.collection.mutable.Map[String, Long],
      x: String, cap: Int): Unit =
    m.get(x) match {
      case Some(c) => m.update(x, c + 1)
      case None if m.size < cap => m.update(x, 1L)
      case None =>
        // insert-then-subtract-min ≡ decrement-all-by-1 for weight 1
        m.mapValuesInPlace((_, c) => c - 1)
        m.filterInPlace((_, c) => c > 0)
    }

  /** PUBLIC API: CONTINUOUS heavy hitters per group — the streaming form
    * of `GraftOps.approxTopValues`: a Misra–Gries sketch (≤ `capacity`
    * counters, the same guarantees as the batch aggregate: every value
    * with count > n/(capacity+1) of the stream-so-far is present,
    * estimates under-count by at most n/(capacity+1)) lives in per-group
    * [[GroupState]] and each micro-batch emits the group's refreshed
    * top-`k` (Update mode). State is O(capacity) per group FOREVER — the
    * monitor-top-domains / top-sources-of-ingest shape where exact
    * per-value streaming counts would grow state without bound. */
  case class BucketObs(key: String, bucket: Int)
  case class DriftVerdict(key: String, n_cur: Long, psi: Double,
      psi_drifted: Boolean, ks: Option[Double])

  /** PUBLIC API: CONTINUOUS distribution-drift monitor — the streaming
    * form of `GraftOps.driftPsiKs`: per monitor key, the cumulative
    * bucket histogram of the stream-so-far lives in [[GroupState]]
    * (≤ #observed buckets ≈ nBins counters per key FOREVER) and each
    * micro-batch emits the key's refreshed PSI/KS verdict against the
    * static `reference` histogram (Update mode) — the
    * watch-the-ingest-distribution shape where re-running the batch gate
    * per refresh would rescan the whole corpus. The metric math is
    * [[graft.clean.ProfileQueries.DriftMath]], the one definition the
    * batch gate also finishes with, so the verdict fails CLOSED exactly
    * like batch: an empty reference is drifted with ks None. Null
    * buckets must be handled upstream (`BucketObs.bucket` is primitive —
    * coalesce to a sentinel bin before constructing). */
  def driftMonitorStream(rows: Dataset[BucketObs], reference: Map[Int, Long],
      nBins: Int): Dataset[DriftVerdict] = {
    require(nBins > 0, "nBins must be positive")
    implicit val encOut = Encoders.product[DriftVerdict]
    implicit val encState = Encoders.kryo[Map[Int, Long]]
    rows
      .groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState[Map[Int, Long], DriftVerdict](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (k: String, it: Iterator[BucketObs], state: GroupState[Map[Int, Long]]) =>
          val m = scala.collection.mutable.Map.empty[Int, Long] ++
            state.getOption.getOrElse(Map.empty[Int, Long])
          it.foreach(r => m.update(r.bucket, m.getOrElse(r.bucket, 0L) + 1L))
          state.update(m.toMap)
          val (psi, ks, drifted, tCur) =
            graft.clean.ProfileQueries.DriftMath.psiKs(reference, m.toMap, nBins)
          Iterator(DriftVerdict(k, tCur, psi, drifted, ks))
      }
  }

  case class DayValue(user_id: Long, day: String, value: Double)
  case class EwmaPoint(user_id: Long, day: String, ewma: Double)

  /** v2 processor behind [[ewmaStream]]: ONE double of state per key —
    * the current smoothed level. λ = 1/2: yₜ = (yₜ₋₁ + xₜ)/2, which is
    * exactly the infinite-horizon limit of the batch query's truncated
    * weights 2⁻¹…2⁻⁸ (y₀ = 0). In-batch rows are sorted by day before
    * folding (micro-batches deliver in shuffle order); across batches
    * arrival order stands in for day order, the scd2Stream contract. */
  private class EwmaProcessor
      extends StatefulProcessor[Long, DayValue, EwmaPoint] {
    @transient private var level: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      level = getHandle.getValueState[Double]("level",
        Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DayValue],
        timers: TimerValues): Iterator[EwmaPoint] = {
      var y = if (level.exists()) level.get() else 0.0
      val out = rows.toIndexedSeq.sortBy(_.day).map { r =>
        y = (y + r.value) / 2.0
        EwmaPoint(key, r.day, y)
      }
      level.update(y)
      out.iterator
    }
  }

  /** PUBLIC API: CONTINUOUS per-key EWMA — the streaming twin of the
    * declared `timeseries_ewma`. The batch form must truncate the
    * recursion at 8 lags to stay a declarative (and exact-decimal)
    * window expression; a stream holds the TRUE recursion as one double
    * of RocksDB ValueState per key, so each arriving day costs O(1) and
    * no history is re-read. The two agree within the truncation tail:
    * |stream − batch| ≤ max|x|/256 once 8 lags exist (StatefulSpec pins
    * the bound against the declared query's output). */
  def ewmaStream(rows: Dataset[DayValue]): Dataset[EwmaPoint] = {
    implicit val encOut = Encoders.product[EwmaPoint]
    rows
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new EwmaProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** `event_id` carries the batch queries' same-timestamp tiebreak
    * ((us, event_id) — the lag-window sort key of
    * `events_markov_stationary`); defaults to 0 for feeds without one. */
  case class UserEvent(user_id: Long, us: Long, event_type: String, vq: Long,
    event_id: Long = 0L)
  case class FeatureRow(user_id: Long, us: Long, clicks_1h: Long,
    events_24h: Long, vsum_24h_q: Long)

  /** PUBLIC API: CONTINUOUS point-in-time feature extraction — the
    * streaming twin of the declared `events_feature_asof`: per purchase
    * event, the user's trailing counters STRICTLY BEFORE the event
    * (clicks ≤ 1 h back; events and quantized value sum ≤ 24 h back).
    * State per user is the ring buffer of its last-24 h events — bounded
    * by the window span, evicted as event time advances (the batch
    * query's RANGE frame, kept incrementally). Requires per-user
    * event-time order across batches, the same assumption the batch
    * window sort realizes; StatefulSpec pins batch parity. */
  def featureAsofStream(events: Dataset[UserEvent]): Dataset[FeatureRow] = {
    implicit val encOut = Encoders.product[FeatureRow]
    implicit val encState = Encoders.kryo[List[(Long, String, Long)]]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[List[(Long, String, Long)], FeatureRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[UserEvent],
         state: GroupState[List[(Long, String, Long)]]) =>
          var buf = state.getOption.getOrElse(List.empty)
          val out = scala.collection.mutable.ListBuffer.empty[FeatureRow]
          it.toIndexedSeq.sortBy(_.us).foreach { e =>
            buf = buf.filter(_._1 >= e.us - 86400000000L)
            if (e.event_type == "purchase") {
              val w24 = buf.filter(_._1 < e.us) // strictly before, like the
              // batch frame's -1 upper bound (same-us peers excluded)
              val w1 = w24.count(t =>
                t._1 >= e.us - 3600000000L && t._2 == "click")
              out += FeatureRow(user, e.us, w1.toLong, w24.size.toLong,
                w24.map(_._3).sum)
            }
            buf = buf :+ ((e.us, e.event_type, e.vq))
          }
          state.update(buf)
          out.iterator
      }
  }

  case class TransitionPair(user_id: Long, from_type: String, to_type: String)

  /** PUBLIC API: CONTINUOUS event-type transition pairs — the streaming
    * feeder of `events_transition_matrix` / `events_markov_stationary`:
    * per user, each arriving event emits one (from, to) row against the
    * user's previous event, with the previous type carried across
    * micro-batches as one small ValueState per user. Downstream a
    * windowed count aggregates the pairs into the live transition
    * matrix. Requires per-user event-time order across batches (same
    * assumption as the batch lag window); StatefulSpec pins parity. */
  def transitionPairsStream(events: Dataset[UserEvent]): Dataset[TransitionPair] = {
    implicit val encOut = Encoders.product[TransitionPair]
    implicit val encState = Encoders.kryo[(Long, String)]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, String), TransitionPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[UserEvent], state: GroupState[(Long, String)]) =>
          var prev = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer.empty[TransitionPair]
          // (us, event_id): the SAME tiebreak as the batch lag window
          // (events_markov_stationary sorts by us, event_id) — sorting by
          // event_type here would emit different pairs for two same-us
          // events of one user than the batch twin
          it.toIndexedSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            if (prev != null) out += TransitionPair(user, prev._2, e.event_type)
            prev = (e.us, e.event_type)
          }
          if (prev != null) state.update(prev)
          out.iterator
      }
  }

  case class BurstState(lastSec: Long, n: Long, s1: Long,
    s2: java.math.BigDecimal)
  case class BurstPoint(user_id: Long, n_gaps: Long, mean_gap_s: Double,
    std_gap_s: Double, burstiness: Double)

  /** PUBLIC API: CONTINUOUS per-user inter-arrival burstiness — the
    * streaming twin of the declared `events_inter_arrival_burstiness`
    * (Goh–Barabási B = (σ−μ)/(σ+μ)). State per user is FOUR numbers
    * (last event second, gap count, Σg, Σg² — Σg² as an exact
    * DECIMAL, the batch query's DECIMAL(38,0) overflow discipline), so
    * each arriving event costs O(1) and no history is re-read: the
    * moment-statistics form is exactly what makes this metric
    * stream-maintainable. One snapshot per (user, micro-batch) emits
    * once ≥ 5 gaps exist. Gap seconds are computed batch-identically:
    * epoch seconds FLOOR first (unix_timestamp semantics), then
    * subtract. Requires per-user event-time order across batches (the
    * same assumption as every lag-window twin); StatefulSpec pins the
    * final snapshot bit-equal to the declared query. */
  def burstinessStream(events: Dataset[UserEvent]): Dataset[BurstPoint] = {
    implicit val encOut = Encoders.product[BurstPoint]
    implicit val encState = Encoders.kryo[BurstState]
    def round6(x: Double): Double =
      // Spark round(col, 6): BigDecimal HALF_UP on the double's SHORTEST
      // decimal form (valueOf = Double.toString — new BigDecimal(x) would
      // tie-break on the exact binary expansion instead and diverge);
      // +0.0 normalizes -0.0 exactly like the batch query
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[BurstState, BurstPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[UserEvent], state: GroupState[BurstState]) =>
          var st = state.getOption.getOrElse(
            BurstState(Long.MinValue, 0L, 0L, java.math.BigDecimal.ZERO))
          it.toIndexedSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            val sec = e.us / 1000000L // floor-to-second BEFORE the diff
            if (st.lastSec != Long.MinValue) {
              val g = sec - st.lastSec
              st = BurstState(sec, st.n + 1, st.s1 + g,
                st.s2.add(java.math.BigDecimal.valueOf(g)
                  .multiply(java.math.BigDecimal.valueOf(g))))
            } else st = st.copy(lastSec = sec)
          }
          state.update(st)
          if (st.n >= 5) {
            val (n, s1, s2) = (st.n.toDouble, st.s1.toDouble,
              st.s2.doubleValue())
            val mean = s1 / n
            val std = math.sqrt((n * s2 - s1 * s1) / (n * (n - 1.0)))
            Iterator.single(BurstPoint(user, st.n, round6(mean), round6(std),
              round6((std - mean) / (std + mean))))
          } else Iterator.empty
      }
  }

  def approxTopValuesStream(rows: Dataset[GroupValue], capacity: Int,
      k: Int): Dataset[TopValue] = {
    require(capacity >= 1 && k >= 1, "need capacity >= 1 and k >= 1")
    implicit val encOut = Encoders.product[TopValue]
    implicit val encState = Encoders.kryo[Map[String, Long]]
    rows
      .groupByKey(_.group)(Encoders.STRING)
      .flatMapGroupsWithState[Map[String, Long], TopValue](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, it: Iterator[GroupValue], state: GroupState[Map[String, Long]]) =>
          val m = scala.collection.mutable.Map.empty[String, Long] ++
            state.getOption.getOrElse(Map.empty[String, Long])
          // null values are skipped exactly like the batch aggregate's
          // update() — a null must not occupy a counter slot or rank
          it.foreach(r => if (r.value != null) mgAdd(m, r.value, capacity))
          state.update(m.toMap)
          m.toSeq.sortBy { case (v, e) => (-e, v) }.take(k).zipWithIndex
            .map { case ((v, e), i) => TopValue(g, v, e, i + 1) }.iterator
      }
  }
}
