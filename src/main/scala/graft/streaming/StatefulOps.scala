package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{AuditTrail, BrowserEvent}

/** Keyed state machines (SURVEY §2.8), as `flatMapGroupsWithState`
  * processors. The reference implements these as Flink `RichMapFunction`s
  * with `ValueState` (`chapter5/StatefulOperations.java:84-129`,
  * `chapter6/CourseUseCase.java:114-180`).
  *
  * Semantic deltas vs the reference, by design:
  *  - the reference's `map` must emit 1-for-1, so it emits a
  *    `("No-Alerts", 0)` sentinel that a downstream filter drops
  *    (`StatefulOperations.java:130-144`); `flatMapGroupsWithState` can
  *    emit zero rows, so the sentinel does not exist here.
  *  - Flink processes records in per-key arrival order; Spark hands each
  *    key's micro-batch as an iterator with no order guarantee, so each
  *    batch is sorted by event timestamp before the state machine runs.
  *    Cross-batch ordering relies on the watermark (late rows are handled
  *    by the W2 splitter, `LateDataSplit`).
  *
  * State is per-key in the state store (HDFS/RocksDB-backed on a cluster),
  * so the operator scales horizontally with the number of keys.
  */
object StatefulOps {

  final case class BurstAlert(user: String, ts: Long, diffMs: Long)
  final case class ActionDuration(user: String, action: String, durationMs: Long)
  final case class SessionState(lastAction: String, lastTs: Long)

  /** ST1 (`StatefulOperations.java:84-129`): alert when one user issues two
    * `Delete` operations within `thresholdMs` (event time).
    */
  def deleteBurstAlerts(
      audits: Dataset[AuditTrail],
      thresholdMs: Long = 10000L): Dataset[BurstAlert] = {
    implicit val alertEnc = Encoders.product[BurstAlert]
    implicit val longEnc = Encoders.scalaLong
    implicit val stringEnc = Encoders.STRING
    audits
      .filter((a: AuditTrail) => a.operation == "Delete")
      .groupByKey((a: AuditTrail) => a.user)
      .flatMapGroupsWithState[Long, BurstAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: String, events: Iterator[AuditTrail], state: GroupState[Long]) =>
          val out = Seq.newBuilder[BurstAlert]
          var lastDelete = state.getOption
          events.toSeq.sortBy(_.timestamp).foreach { e =>
            lastDelete.foreach { prev =>
              val diff = e.timestamp - prev
              if (diff < thresholdMs) out += BurstAlert(user, e.timestamp, diff)
            }
            lastDelete = Some(e.timestamp)
          }
          lastDelete.foreach(state.update)
          out.result().iterator
      }
  }

  final case class RollingEvent(key: Long, tsUs: Long, id: Long, vMilli: Long)
  final case class RollingItem(id: Long, tsUs: Long, vMilli: Long)
  final case class RollingState(win: Seq[RollingItem], pend: Seq[RollingItem])
  final case class RollingOut(
      key: Long, id: Long, tsUs: Long, nRange: Long, sumMilliRange: Long)

  /** T1 streaming twin: continuous trailing-range features per key. The
    * subtlety is EQUAL-TS PEERS: the batch RANGE frame includes every
    * row tying on (key, ts) in every tied row's frame, so a streaming
    * emission must not fire until its timestamp group CLOSES (a strictly
    * later event arrives for the key — a per-key event-time closure).
    * State = the trailing window (pruned to `rangeUs` as time advances,
    * the honest sliding-window bound) + the still-open tie group; a tie
    * group SPLIT across micro-batches re-opens seamlessly because the
    * pending ts matches. End-of-stream: send a far-future sentinel per
    * key (id < 0, filtered from output) to close the last group —
    * funnel-flush pattern.
    */
  def rollingFeatures(
      events: Dataset[RollingEvent], rangeUs: Long): Dataset[RollingOut] = {
    implicit val outEnc = Encoders.product[RollingOut]
    implicit val stateEnc = Encoders.product[RollingState]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey((e: RollingEvent) => e.key)
      .flatMapGroupsWithState[RollingState, RollingOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, evs: Iterator[RollingEvent], state: GroupState[RollingState]) =>
          val out = Seq.newBuilder[RollingOut]
          var st = state.getOption.getOrElse(RollingState(Nil, Nil))
          def close(): Unit = if (st.pend.nonEmpty) {
            val t = st.pend.head.tsUs
            val win = (st.win ++ st.pend).filter(_.tsUs >= t - rangeUs)
            st.pend.foreach { m =>
              if (m.id >= 0) out += RollingOut(key, m.id, m.tsUs,
                win.size.toLong, win.map(_.vMilli).sum)
            }
            st = RollingState(win, Nil)
          }
          evs.toSeq.sortBy(e => (e.tsUs, e.id)).foreach { e =>
            if (st.pend.nonEmpty && e.tsUs > st.pend.head.tsUs) close()
            st = st.copy(pend = st.pend :+ RollingItem(e.id, e.tsUs, e.vMilli))
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class AsofEvent(key: Long, side: Int, tsUs: Long, id: Long)
  final case class AsofState(rTsUs: Long, rId: Long)
  final case class AsofMatch(
      key: Long, leftId: Long, leftTsUs: Long,
      rightId: Option[Long], rightTsUs: Option[Long])

  /** J3 streaming twin: continuous point-in-time join as a keyed state
    * machine — the state is ONE (ts, id) pair per key (the most recent
    * right row so far); every left row emits itself plus the state. The
    * per-batch sort runs right rows before left rows at equal ts and ties
    * in id order, so equal-ts semantics (inclusive, max-id winner) match
    * `CoreOps.asofJoin`'s struct-max exactly; convergence under
    * event-time-ordered replay is `ConvergenceSpec`-gated. State size:
    * 16 bytes per key, FOREVER relevant (an as-of match can reach
    * arbitrarily far back) — unlike the interval join there is no
    * watermark eviction horizon, which is precisely why feature stores
    * compact to exactly this last-value-per-key form.
    */
  def asofMatches(events: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    implicit val outEnc = Encoders.product[AsofMatch]
    implicit val stateEnc = Encoders.product[AsofState]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey((e: AsofEvent) => e.key)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, evs: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          val out = Seq.newBuilder[AsofMatch]
          var last = state.getOption
          evs.toSeq.sortBy(e => (e.tsUs, e.side, e.id)).foreach { e =>
            if (e.side == 0) last = Some(AsofState(e.tsUs, e.id))
            else out += AsofMatch(key, e.id, e.tsUs,
              last.map(_.rId), last.map(_.rTsUs))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  final case class ResampleEvent(
      key: Long, tsUs: Long, vCenti: Long, flush: Boolean)
  final case class ResampleState(openCell: Long, bestTsUs: Long, bestVc: Long)
  final case class ResampleCell(key: Long, cellUs: Long, valueCenti: Long, hasObs: Long)

  /** T2 streaming twin: continuous time-grid resample + forward fill.
    * State is 24 bytes per key — the still-open grid cell and its best
    * (ts, value) observation (the same deterministic `max(struct(ts,vc))`
    * reduce the batch form applies per cell). A cell emits when a
    * strictly LATER cell's event arrives for the key (per-key event-time
    * closure, the [[rollingFeatures]] pattern); the gap cells between
    * them emit as forward-filled `has_obs = 0` rows in the same trigger,
    * so grid continuity holds at every point of the stream. End-of-
    * stream: a `flush` sentinel per key closes the last cell WITHOUT
    * opening a new one — the streamed grid then ends at each key's last
    * observed cell, exactly like the batch span.
    */
  def resampleCells(
      events: Dataset[ResampleEvent], stepUs: Long): Dataset[ResampleCell] = {
    implicit val outEnc = Encoders.product[ResampleCell]
    implicit val stateEnc = Encoders.product[ResampleState]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey((e: ResampleEvent) => e.key)
      .flatMapGroupsWithState[ResampleState, ResampleCell](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, evs: Iterator[ResampleEvent], state: GroupState[ResampleState]) =>
          val out = Seq.newBuilder[ResampleCell]
          var st = state.getOption
          def closeThrough(nextCell: Long): Unit = st.foreach { s =>
            out += ResampleCell(key, s.openCell * stepUs, s.bestVc, 1L)
            var c = s.openCell + 1
            while (c < nextCell) { // ffill the gap, bounded by grid span
              out += ResampleCell(key, c * stepUs, s.bestVc, 0L)
              c += 1
            }
          }
          evs.toSeq.sortBy(e => (e.tsUs, e.vCenti)).foreach { e =>
            if (e.flush) { closeThrough(st.fold(0L)(_.openCell + 1)); st = None }
            else {
              val cell = Math.floorDiv(e.tsUs, stepUs)
              st match {
                case Some(s) if cell == s.openCell =>
                  // same deterministic (ts, value) max as the batch reduce
                  if (Ordering[(Long, Long)].compare(
                      (e.tsUs, e.vCenti), (s.bestTsUs, s.bestVc)) > 0)
                    st = Some(s.copy(bestTsUs = e.tsUs, bestVc = e.vCenti))
                case Some(_) =>
                  closeThrough(cell)
                  st = Some(ResampleState(cell, e.tsUs, e.vCenti))
                case None =>
                  st = Some(ResampleState(cell, e.tsUs, e.vCenti))
              }
            }
          }
          st match {
            case Some(s) => state.update(s)
            case None if state.exists => state.remove()
            case None => ()
          }
          out.result().iterator
      }
  }

  final case class Scd2Event(
      key: Long, tsUs: Long, id: Long, attr: String, flush: Boolean)
  final case class Scd2State(attr: String, validFromUs: Long)
  final case class Scd2Version(
      key: Long, attr: String, validFromUs: Long,
      validToUs: Option[Long], isCurrent: Long)

  /** SCD2 streaming twin: continuous CDC-log -> dimension compaction.
    * State is one open version per key (attr + valid_from); an update
    * with a DIFFERENT attr closes it (emits the finished
    * `[from, to)` row) and opens the next; an equal attr is absorbed
    * (the batch gaps-and-islands merge). The open head version emits
    * only on the `flush` sentinel with `is_current = 1` — before that
    * the stream has emitted exactly the closed (immutable) versions,
    * which is the append-only contract a CDC sink needs.
    */
  def scd2Versions(events: Dataset[Scd2Event]): Dataset[Scd2Version] = {
    implicit val outEnc = Encoders.product[Scd2Version]
    implicit val stateEnc = Encoders.product[Scd2State]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey((e: Scd2Event) => e.key)
      .flatMapGroupsWithState[Scd2State, Scd2Version](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, evs: Iterator[Scd2Event], state: GroupState[Scd2State]) =>
          val out = Seq.newBuilder[Scd2Version]
          var open = state.getOption
          evs.toSeq.sortBy(e => (e.tsUs, e.id)).foreach { e =>
            if (e.flush) {
              open.foreach(s =>
                out += Scd2Version(key, s.attr, s.validFromUs, None, 1L))
              open = None
            } else if (!open.exists(_.attr == e.attr)) {
              open.foreach(s =>
                out += Scd2Version(key, s.attr, s.validFromUs, Some(e.tsUs), 0L))
              open = Some(Scd2State(e.attr, e.tsUs))
            }
          }
          open match {
            case Some(s) => state.update(s)
            case None if state.exists => state.remove()
            case None => ()
          }
          out.result().iterator
      }
  }

  final case class FunnelEvent(user: Long, eventType: String, tsUs: Long, eventId: Long)
  final case class FunnelClick(clickId: Long, tsUs: Long)
  final case class PendingClicks(clicks: Seq[FunnelClick])
  final case class FunnelResolution(
      user: Long, clickId: Long, clickTsUs: Long, nextPurchaseUs: Long, converted: Boolean)

  /** CEP-ish conversion funnel, streaming twin of the batch
    * `funnel_click_purchase` query (forward as-of window): each click is
    * resolved by the FIRST (ts, event_id)-later purchase of the same user
    * — `converted` iff that purchase's ts is strictly later and within
    * one hour. A purchase at the exact click timestamp resolves the
    * click unconverted, exactly like the batch running-min (which that
    * purchase masks).
    *
    * Clicks with no subsequent purchase stay pending in state — resolve
    * them by closing the stream with a far-future sentinel purchase per
    * user (the convergence proof does), or bound state with a timeout in
    * a production deployment. Pending state per user is capped by the
    * clicks between two purchases, not the stream length.
    */
  def funnelConversions(events: Dataset[FunnelEvent]): Dataset[FunnelResolution] = {
    val windowUs = 3600000000L
    implicit val outEnc = Encoders.product[FunnelResolution]
    implicit val stateEnc = Encoders.product[PendingClicks]
    implicit val longEnc = Encoders.scalaLong
    events
      .filter((e: FunnelEvent) => e.eventType == "click" || e.eventType == "purchase")
      .groupByKey((e: FunnelEvent) => e.user)
      .flatMapGroupsWithState[PendingClicks, FunnelResolution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[FunnelEvent], state: GroupState[PendingClicks]) =>
          val out = Seq.newBuilder[FunnelResolution]
          var pending = state.getOption.map(_.clicks).getOrElse(Seq.empty)
          evs.toSeq.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
            if (e.eventType == "click") pending = pending :+ FunnelClick(e.eventId, e.tsUs)
            else {
              pending.foreach { c =>
                out += FunnelResolution(user, c.clickId, c.tsUs, e.tsUs,
                  e.tsUs > c.tsUs && e.tsUs <= c.tsUs + windowUs)
              }
              pending = Seq.empty
            }
          }
          if (pending.isEmpty) { if (state.exists) state.remove() }
          else state.update(PendingClicks(pending))
          out.result().iterator
      }
  }

  final case class StepPick(tsUs: Long, eventId: Long)
  final case class FunnelStepsState(picks: Seq[StepPick])
  final case class FunnelStepAdvance(user: Long, step: Int, tsUs: Long, eventId: Long)

  /** Streaming twin of the batch N-step funnel
    * ([[graft.operators.CoreOps.funnelSteps]]): per-user greedy-earliest
    * step machine. State is the picks-so-far vector (<= N entries, a few
    * longs — fixed-size state per user, never the event history); each
    * arriving event that matches the NEXT step strictly after the last
    * pick advances the funnel and emits one `FunnelStepAdvance` row, so
    * the appended transition log reconstructs the batch answer exactly:
    * final (t1..tN, steps_reached) per user = the user's advances.
    *
    * Greedy-forward matches the batch greedy (which is maximal) when
    * each user's events arrive in `(ts, event_id)` order across
    * micro-batches — the same in-order-per-key stance as
    * [[actionDurations]] / [[scd2Versions]]; within a batch, arrival
    * order is irrelevant (rows sort before processing). Convergence at
    * multiple coprime chunk sizes is pinned in ConvergenceSpec.
    */
  def funnelStepsStream(
      events: Dataset[FunnelEvent],
      steps: Seq[String]): Dataset[FunnelStepAdvance] = {
    implicit val outEnc = Encoders.product[FunnelStepAdvance]
    implicit val stateEnc = Encoders.product[FunnelStepsState]
    implicit val longEnc = Encoders.scalaLong
    val stepsV = steps.toVector
    events
      .groupByKey((e: FunnelEvent) => e.user)
      .flatMapGroupsWithState[FunnelStepsState, FunnelStepAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[FunnelEvent], state: GroupState[FunnelStepsState]) =>
          val out = Seq.newBuilder[FunnelStepAdvance]
          var picks = state.getOption.map(_.picks).getOrElse(Seq.empty)
          evs.toSeq.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
            val k = picks.size
            val after = picks.isEmpty || e.tsUs > picks.last.tsUs ||
              (e.tsUs == picks.last.tsUs && e.eventId > picks.last.eventId)
            if (k < stepsV.length && e.eventType == stepsV(k) && after) {
              picks = picks :+ StepPick(e.tsUs, e.eventId)
              out += FunnelStepAdvance(user, k + 1, e.tsUs, e.eventId)
            }
          }
          if (picks.nonEmpty) state.update(FunnelStepsState(picks))
          out.result().iterator
      }
  }

  /** ST2 (`CourseUseCase.java:114-180`): per-user action-duration tracker.
    * For each event, emit the duration of the *previous* action
    * (current ts - previous ts) unless the state is empty or the current
    * action is Login; Logout clears the state, any other event replaces it.
    */
  def actionDurations(
      events: Dataset[BrowserEvent],
      loginAction: String = "Login",
      logoutAction: String = "Logout"): Dataset[ActionDuration] = {
    implicit val outEnc = Encoders.product[ActionDuration]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val stringEnc = Encoders.STRING
    events
      .groupByKey((e: BrowserEvent) => e.user)
      .flatMapGroupsWithState[SessionState, ActionDuration](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: String, evs: Iterator[BrowserEvent], state: GroupState[SessionState]) =>
          val out = Seq.newBuilder[ActionDuration]
          var st = state.getOption
          evs.toSeq.sortBy(_.timestamp).foreach { e =>
            st.foreach { s =>
              if (e.action != loginAction)
                out += ActionDuration(user, s.lastAction, e.timestamp - s.lastTs)
            }
            st = if (e.action == logoutAction) None
            else Some(SessionState(e.action, e.timestamp))
          }
          st match {
            case Some(s) => state.update(s)
            case None => if (state.exists) state.remove()
          }
          out.result().iterator
      }
  }

  final case class TransitionEvent(user: Long, eventType: String, tsUs: Long, eventId: Long)
  final case class TransitionState(lastType: String, lastTsUs: Long, lastId: Long)
  final case class Transition(user: Long, prevType: String, nextType: String)

  /** Streaming twin of the `event_transitions` pairing stage: per-key
    * last-event state (one (type, ts, id) triple — a few dozen bytes per
    * user, flat in event volume) emits a (prev -> next) row per arrival.
    * The transition matrix itself is then one ordinary bounded
    * aggregation over the emitted pairs (|types|^2 groups), batch or
    * windowed. Each micro-batch is sorted by (ts, event_id) — the batch
    * formulation's exact tie-break — so the corpus replay converges to
    * the batch matrix at any chunking (ConvergenceSpec).
    */
  def transitionPairs(events: Dataset[TransitionEvent]): Dataset[Transition] = {
    implicit val outEnc = Encoders.product[Transition]
    implicit val stateEnc = Encoders.product[TransitionState]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey((e: TransitionEvent) => e.user)
      .flatMapGroupsWithState[TransitionState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[TransitionEvent], state: GroupState[TransitionState]) =>
          val out = Seq.newBuilder[Transition]
          var st = state.getOption
          evs.toSeq.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
            st.foreach(s => out += Transition(user, s.lastType, e.eventType))
            st = Some(TransitionState(e.eventType, e.tsUs, e.eventId))
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }
}
