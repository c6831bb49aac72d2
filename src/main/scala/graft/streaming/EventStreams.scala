package graft.streaming

import graft.rules.RuleSet
import graft.sources.CommitLog
import graft.validate.Validator
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import java.sql.Timestamp

/** Structured-Streaming operators over the `events` shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference pipeline is batch (Glue-triggered per file drop), but
  * its "file lands → validate → route" loop is exactly a stream; these
  * operators are the Spark-native continuous form. State is bounded by
  * watermarks (windowed aggs) and explicit timeouts (sessions), so they
  * run indefinitely at any input rate without driver growth.
  */
object EventStreams {

  /** Tumbling-window per-type counts with a watermark: late events
    * beyond `lateness` are dropped, so state is bounded by
    * (windows in flight × event types). Pass `slide` shorter than
    * `windowesize` for hopping windows (each event lands in
    * size/slide windows; state scales by the same factor — the batch
    * twin is q_events_hopping). */
  def hourlyCounts(events: DataFrame, lateness: String = "30 minutes",
                   windowesize: String = "1 hour",
                   slide: String = null): DataFrame =
    events
      .withWatermark("ts_us", lateness)
      .groupBy(
        window(col("ts_us"), windowesize,
          if (slide == null) windowesize else slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Continuous validate-and-route: the reference's batch loop (file
    * lands → Glue validates → valid/error routing,
    * DM_bankfile_validate_pipeline.py run_full_etl_pipeline_*) as a
    * streaming pipeline. Each micro-batch is pinned once, its valid
    * rows are written to `validPath` and its invalid rows, in the
    * reference's error-file shape, to `errorPath`, each into the
    * batch's own `(run_id, batch_id)` partition ([[MicroBatch]]: a
    * foreachBatch retry replaces that partition instead of appending
    * duplicates, and a fresh checkpoint is a new run that never
    * overwrites an old one's batches). Works over any streaming
    * source (file drops included:
    * spark.readStream.schema(...).parquet(dropDir)). */
  def validateAndRoute(stream: DataFrame, rules: RuleSet, keyCol: String,
                       validPath: String, errorPath: String,
                       checkpoint: String): StreamingQuery =
    route(stream, rules, keyCol, validPath, errorPath, checkpoint)(
      CommitLog.writeDataOnly(_, _, _, _))

  /** [[validateAndRoute]] with ATOMIC VISIBILITY: both sinks are
    * graft.sources.CommitLog tables — each batch's partition is
    * dynamic-overwrite-written, then made visible by one atomic
    * commit marker, so a concurrent reader
    * (`CommitLog.readCommitted`) never sees a torn batch and a
    * crash-before-commit leaves invisible files that `vacuum`
    * reclaims. The valid slice commits BEFORE the error slice: a
    * crash between the two replays the batch (at-least-once
    * foreachBatch) and the dynamic overwrite + idempotent markers
    * converge both tables. A slice with no rows commits nothing. */
  def validateAndRouteCommitted(stream: DataFrame, rules: RuleSet, keyCol: String,
                                validPath: String, errorPath: String,
                                checkpoint: String): StreamingQuery =
    route(stream, rules, keyCol, validPath, errorPath, checkpoint)(
      CommitLog.writeBatch(_, _, _, _))

  private def route(stream: DataFrame, rules: RuleSet, keyCol: String,
      validPath: String, errorPath: String, checkpoint: String)(
      write: (DataFrame, String, String, Long) => Unit): StreamingQuery =
    MicroBatch.start(stream, checkpoint) { (batch, runId, batchId) =>
      val pinned = batch.cache()
      try {
        write(Validator.split(pinned, rules)._1, validPath, runId, batchId)
        write(Validator.errorFile(pinned, rules, keyCol, s"batch_$batchId"),
          errorPath, runId, batchId)
      } finally { pinned.unpersist(); () }
    }

  /** Gap-based sessions via Spark's built-in `session_window` — the
    * declarative complement to [[sessionize]]'s explicit
    * flatMapGroupsWithState machine. Same shape over batch and
    * streaming input (pass `lateness` to watermark a stream; sessions
    * emit once the watermark passes their close). Prefer this form
    * when per-session output is an aggregate; the explicit state
    * machine remains for custom per-event logic the window function
    * can't express. Boundary note: session_window closes a session
    * when the next event is >= start + gap (a gap of EXACTLY `gap`
    * starts a new session). */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
                         lateness: Option[String] = None): DataFrame = {
    val src = lateness.map(events.withWatermark("ts_us", _)).getOrElse(events)
    src.groupBy(col("user_id"), session_window(col("ts_us"), gap))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"),
        col("n_events"), col("total_value"))
  }

  /** Streaming exact dedup: drop re-deliveries of the same key(s)
    * arriving within the watermark horizon
    * (`dropDuplicatesWithinWatermark`). Unlike plain
    * `dropDuplicates`, whose key state grows forever, state here is
    * evicted once the watermark passes — bounded by (event rate ×
    * lateness), which is what an at-least-once upstream (Kinesis/
    * Kafka redelivery, the reference's re-uploaded file drops) needs
    * at any scale. */
  def dedupStream(events: DataFrame, keys: Seq[String] = Seq("event_id"),
                  lateness: String = "30 minutes"): DataFrame =
    events.withWatermark("ts_us", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: each purchase pairs with the same
    * user's signups in `[purchase_ts - windowSec, purchase_ts]`. Both
    * sides carry watermarks AND the join condition bounds event time
    * on both sides — that pair of constraints is what lets Spark
    * evict buffered rows from join state (an unbounded stream-stream
    * join would buffer forever). */
  def purchasesWithRecentSignups(events: DataFrame,
                                 windowSec: Long = 3600,
                                 lateness: String = "10 minutes"): DataFrame = {
    val p = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", lateness)
    val sgn = events.where(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts_us").as("s_ts"))
      .withWatermark("s_ts", lateness)
    p.join(sgn,
        col("user_id") === col("s_user") &&
        col("s_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("s_ts") <= col("p_ts"))
      .select("p_id", "user_id", "p_ts", "p_value", "s_id", "s_ts")
  }

  /** Streaming per-key EWMA — the UNBOUNDED-series form the batch
    * operator (graft.ops.Smoothing) documents as belonging here:
    * state per key is two numbers (level, count), updated by folding
    * each micro-batch's rows in (ts, event_id) order and seeded with
    * the key's first value, exactly the batch formulation — so a
    * stream replayed as one batch yields the SAME levels (pinned in
    * spec). Update-mode output: one current (user_id, n, level) row
    * per key per batch it appears in. */
  def ewmaLevels(events: Dataset[Event], alpha: Double): Dataset[EwmaLevel] = {
    import events.sparkSession.implicits._
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, EwmaLevel](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[EwmaState]) =>
          // full-precision microsecond key: getTime alone truncates to
          // millis, which can fold same-millisecond events in a
          // different order than the batch operator's (ts, event_id)
          val sorted = rows.toSeq.sortBy(e =>
            (e.ts_us.getTime * 1000L + (e.ts_us.getNanos / 1000L) % 1000L,
              e.event_id))
          var cur = state.getOption.getOrElse(EwmaState(0.0, 0L))
          for (e <- sorted) {
            cur =
              if (cur.n == 0L) EwmaState(e.value, 1L)
              else EwmaState(cur.level * (1.0 - alpha) + e.value * alpha,
                cur.n + 1)
          }
          state.update(cur)
          EwmaLevel(userId, cur.n, cur.level)
      }
  }

  /** Streaming per-window approximate-distinct — the cardinality
    * monitor ("how many distinct users this hour") beside the
    * counting/drift monitors: state per tumbling event-time window is
    * ONE 2^p-byte HLL register array folded incrementally, never a
    * distinct-values set, so a window's state is 1 KB at p=10 whether
    * it saw a thousand users or a billion. The register layout is
    * BIT-IDENTICAL to the batch sketch ([[graft.expr.HllSketch
    * .registersMd5]]'s md5 bucket/rho arithmetic), so a stream
    * replayed as one batch estimates the SAME number — pinned in
    * spec. Update-mode output: one current
    * (window_start, n_events, distinct_est) row per touched window
    * per batch. State grows by windows-seen (bounded by stream span /
    * window size); expire externally when windows close. */
  def windowedDistinct(events: Dataset[Event], windowMs: Long = 3600000L,
      p: Int = 10): Dataset[WindowDistinct] = {
    import events.sparkSession.implicits._
    require(windowMs >= 1, s"windowMs must be positive: $windowMs")
    require(p >= 4 && p <= 16, s"hll precision p must be in [4,16]: $p")
    val wBits = 60 - p
    events
      .groupByKey { e =>
        val ms = e.ts_us.getTime
        math.floorDiv(ms, windowMs) * windowMs
      }
      .mapGroupsWithState[HllWindowState, WindowDistinct](
        GroupStateTimeout.NoTimeout) {
        (windowStart: Long, rows: Iterator[Event],
         state: GroupState[HllWindowState]) =>
          val cur = state.getOption.getOrElse(
            HllWindowState(new Array[Byte](1 << p), 0L))
          val regs = cur.regs.clone()
          val md = java.security.MessageDigest.getInstance("MD5")
          var n = cur.n
          for (e <- rows) {
            n += 1
            // identical bytes to md5(concat_ws(":", user_id, 0))
            val hex = md.digest(s"${e.user_id}:0".getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              .map("%02x".format(_)).mkString
            val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
            val bucket = ((h >>> wBits) & ((1L << p) - 1)).toInt
            val w = h & ((1L << wBits) - 1)
            val rho = (if (w == 0L) wBits + 1
              else wBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w)))
              .toByte
            if (rho > regs(bucket)) regs(bucket) = rho
          }
          state.update(HllWindowState(regs, n))
          WindowDistinct(new Timestamp(windowStart), n,
            graft.expr.HllSketch.estimate(regs, p))
      }
  }

  final case class HllWindowState(regs: Array[Byte], n: Long)
  final case class WindowDistinct(window_start: Timestamp, n_events: Long,
      distinct_est: Long)

  final case class EwmaState(level: Double, n: Long)
  final case class EwmaLevel(user_id: Long, n: Long, level: Double)

  /** Streaming two-sided CUSUM — the unbounded-series form of
    * [[graft.ops.Smoothing.cusumAlerts]]: per-key state is four
    * numbers, each micro-batch's rows fold in full-precision
    * (ts, event_id) order with the identical recurrence, so a stream
    * replayed as one batch yields the SAME accumulators and alert
    * indices (pinned in spec). Update-mode output: the key's current
    * (n, n_alerts, first_alert, sp, sn) per batch it appears in. */
  def cusumLevels(events: Dataset[Event], target: Double, slack: Double,
      threshold: Double): Dataset[CusumLevel] = {
    import events.sparkSession.implicits._
    require(slack >= 0 && threshold > 0, s"bad slack=$slack threshold=$threshold")
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[CusumState, CusumLevel](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[CusumState]) =>
          val sorted = rows.toSeq.sortBy(e =>
            (e.ts_us.getTime * 1000L + (e.ts_us.getNanos / 1000L) % 1000L,
              e.event_id))
          var cur = state.getOption.getOrElse(CusumState(0.0, 0.0, 0L, 0L, -1L))
          for (e <- sorted) {
            val sp = math.max(0.0, cur.sp + (e.value - target - slack))
            val sn = math.max(0.0, cur.sn + (target - e.value - slack))
            val i = cur.n + 1
            val alert = sp > threshold || sn > threshold
            cur = CusumState(sp, sn, i,
              cur.na + (if (alert) 1L else 0L),
              if (cur.first == -1L && alert) i else cur.first)
          }
          state.update(cur)
          CusumLevel(userId, cur.n, cur.na, cur.first, cur.sp, cur.sn)
      }
  }

  final case class CusumState(sp: Double, sn: Double, n: Long, na: Long,
                              first: Long)
  final case class CusumLevel(user_id: Long, n: Long, n_alerts: Long,
                              first_alert: Long, sp: Double, sn: Double)

  final case class Event(event_id: Long, ts_us: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, nEvents: Long, total: Double)
  final case class Session(user_id: Long, start_ts: Timestamp, end_ts: Timestamp,
                           n_events: Long, total_value: Double)

  /** Stateful sessionization via flatMapGroupsWithState: a session
    * closes after `gapMs` of event-time inactivity. Gaps observed
    * within a batch close immediately; trailing sessions close via
    * event-time timeout once the watermark passes last + gap. State is
    * bounded to live users only. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 lateness: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts_us", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start), new Timestamp(s.last),
              s.nEvents, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_us.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts_us.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, nEvents = s.nEvents + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.last),
                    s.nEvents, s.total)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
