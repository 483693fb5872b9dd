package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import Events.Event

/** ST1/A14 — stateful user sessionization with 30-minute inactivity
  * timeout via `flatMapGroupsWithState`.
  *
  * Reference: `SessionState` + `updateSessionState`
  * `.kiro/specs/realtime-analytics-speed-layer/design.md:126-141,311-383`.
  *
  * Semantics (matching the spec):
  *  - events fold into per-user running counters (A14);
  *  - every batch emits the *partial* session (`is_complete = false`) in
  *    Update mode so dashboards see live sessions;
  *  - on processing-time timeout the final session (`is_complete = true`)
  *    is emitted and state is removed.
  *
  * Scale: state is one fixed-size record per active user key, partitioned
  * by user_id across executors (RocksDB/HDFS state store in production);
  * the fold itself is O(events in batch).
  */
object Sessionization {

  final case class SessionState(
      user_id: Long,
      session_start_ms: Long,
      last_event_ms: Long,
      event_count: Long,
      page_views: Long,
      product_views: Long,
      searches: Long,
      add_to_carts: Long,
      purchases: Long,
      total_spent_cents: Long, // exact integer money (see Parity rationale)
      first_tier: String)

  final case class SessionOut(
      user_id: Long,
      session_start_ms: Long,
      duration_ms: Long,
      event_count: Long,
      page_views: Long,
      product_views: Long,
      searches: Long,
      add_to_carts: Long,
      purchases: Long,
      total_spent_cents: Long,
      user_tier: String,
      is_complete: Boolean)

  /** Pure per-batch fold — unit-testable without a streaming query. */
  def fold(prev: Option[SessionState], events: Seq[Event]): Option[SessionState] =
    events.sortBy(e => (e.ts.getTime, e.event_id)).foldLeft(prev) { (acc, e) =>
      val tsMs = e.ts.getTime
      val base = acc.getOrElse(SessionState(
        e.user_id, tsMs, tsMs, 0, 0, 0, 0, 0, 0, 0,
        Option(e.user_tier).getOrElse("unknown")))
      val spentCents = if (e.event_type == "purchase")
        extractAmountCents(e.properties) else 0L
      Some(base.copy(
        last_event_ms = math.max(base.last_event_ms, tsMs),
        event_count = base.event_count + 1,
        page_views = base.page_views + (if (e.event_type == "page_view") 1 else 0),
        product_views = base.product_views + (if (e.event_type == "product_view") 1 else 0),
        searches = base.searches + (if (e.event_type == "search") 1 else 0),
        add_to_carts = base.add_to_carts + (if (e.event_type == "add_to_cart") 1 else 0),
        purchases = base.purchases + (if (e.event_type == "purchase") 1 else 0),
        total_spent_cents = base.total_spent_cents + spentCents))
    }

  // compiled once: a `Pattern` is thread-safe, its matchers are not
  private val AmountField =
    java.util.regex.Pattern.compile(""""amount"\s*:\s*(-?[0-9]+(?:\.[0-9]+)?)""")

  /** Amount from the JSON properties bag, in exact cents. Minimal parser
    * for `"amount": <number>` — the hot path avoids a full JSON library
    * per event (the schema guarantees flat numeric `amount`).
    */
  private[streaming] def extractAmountCents(props: String): Long = {
    if (props == null) return 0L
    val m = AmountField.matcher(props)
    if (m.find()) new java.math.BigDecimal(m.group(1))
      .movePointRight(2).setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    else 0L
  }

  private def toOut(s: SessionState, complete: Boolean): SessionOut =
    SessionOut(s.user_id, s.session_start_ms,
      s.last_event_ms - s.session_start_ms, s.event_count, s.page_views,
      s.product_views, s.searches, s.add_to_carts, s.purchases,
      s.total_spent_cents, s.first_tier, complete)

  /** The flatMapGroupsWithState update function (spec's shape verbatim).
    * `eventTime = true` arms the timeout on the event-time clock
    * (watermark-driven — deterministic, replayable); `false` uses the
    * processing-time clock exactly like the spec. The fold logic is
    * identical either way.
    */
  def updateSessionState(timeoutMs: Long, eventTime: Boolean)(
      userId: Long, events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(toOut(_, complete = true))
      state.remove()
      out.iterator
    } else {
      val next = fold(state.getOption, events.toSeq)
      next match {
        case Some(s) =>
          state.update(s)
          if (eventTime) state.setTimeoutTimestamp(s.last_event_ms + timeoutMs)
          else state.setTimeoutDuration(timeoutMs)
          Iterator.single(toOut(s, complete = false))
        case None => Iterator.empty
      }
    }
  }

  /** Wire the stateful operator onto a (streaming) event Dataset.
    *
    * Event-time mode (default) requires/applies a watermark on `ts`: a
    * session completes when the watermark passes last-event + timeout —
    * deterministic under replay and late data (ST4), which
    * processing-time timeouts are not. Processing-time mode reproduces the
    * reference spec literally for wall-clock dashboards.
    */
  def sessionize(events: Dataset[Event],
      timeoutMs: Long = 30L * 60 * 1000,
      eventTime: Boolean = true,
      watermark: Option[String] = Some("10 minutes"),
      outputMode: OutputMode = OutputMode.Update): Dataset[SessionOut] = {
    val s = events.sparkSession
    import s.implicits._
    val (src, mode) =
      if (eventTime)
        (watermark.fold(events)(w => events.withWatermark("ts", w)),
          GroupStateTimeout.EventTimeTimeout)
      else (events, GroupStateTimeout.ProcessingTimeTimeout)
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(outputMode, mode)(
        updateSessionState(timeoutMs, eventTime))
  }
}
