package graft.streaming

import graft.Fixtures
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming layer: the incremental semantics of the
  * reference (watermark scans, SURVEY.md §2.9 —
  * /root/reference/src/db_extractor_full.py:383-408) re-expressed as an
  * unbounded pipeline. The reference polls with a checkpointed
  * timestamp; the Spark-native equivalent is a file/parquet stream with
  * an event-time watermark — same at-least-once contract, but the
  * engine tracks progress per source file instead of a hand-rolled SSM
  * checkpoint, and late data is bounded by the watermark instead of
  * silently re-exported.
  *
  * At scale: `Trigger.AvailableNow` turns the same plan into a bounded
  * backfill over 100 TB of history (all operators here are incremental
  * — windowed aggregation state is per (window, type), session state
  * per user), then the identical code runs continuously on the live
  * feed.
  */
object EventStream {

  /** Events as an unbounded stream from a parquet source. Mirrors
    * Fixtures.table's ns→µs TIMESTAMP_NTZ normalization so streaming
    * and batch plans see the identical schema.
    *
    * A production source is a directory that files land in;
    * FileStreamSource requires that, so the single-file fixture is
    * staged into a temp directory once (driver-side, test scale only).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val streamDir =
      if (new java.io.File(path).isFile) {
        // stable per source path (not a fresh temp dir): a streaming
        // checkpoint records source file offsets, so a restarted query
        // must see the same directory
        val src = java.nio.file.Paths.get(path)
        val tag = java.lang.Integer.toHexString(path.hashCode)
        val tmp = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), s"graft_stream_src_$tag")
        java.nio.file.Files.createDirectories(tmp)
        val dst = tmp.resolve("part-00000.parquet")
        // refresh when the source changed (size mismatch covers stale and
        // crash-truncated copies); stage via temp file + atomic move so a
        // concurrent or killed copy never leaves a corrupt visible file
        val fresh = java.nio.file.Files.exists(dst) &&
          java.nio.file.Files.size(dst) == java.nio.file.Files.size(src)
        if (!fresh) {
          val stage = java.nio.file.Files.createTempFile(tmp, ".stage", ".tmp")
          java.nio.file.Files.copy(src, stage,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          java.nio.file.Files.move(stage, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        tmp.toString
      } else path
    val schema = Fixtures.parquetSchema(spark, path)
    val raw = spark.readStream.schema(schema).parquet(streamDir)
    if (schema("ts").dataType == LongType)
      raw.withColumn("ts",
        expr("timestampadd(MICROSECOND, ts div 1000, " +
          "TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
    else raw
  }

  /** Tumbling 6-hour counts per event type — the streaming twin of
    * q24_window_agg. The 1-hour watermark bounds state: windows older
    * than (max event time − 1 h) are finalized and evicted.
    *
    * Spark's watermark API only accepts TIMESTAMP (not NTZ); with the
    * session timezone pinned to UTC (GraftSession) the NTZ→LTZ→NTZ
    * round-trip is value-preserving, so `bucket` matches the batch
    * query exactly.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts_evt", col("ts").cast(TimestampType))
      .withWatermark("ts_evt", "1 hour")
      .groupBy(window(col("ts_evt"), "6 hours").getField("start")
        .cast(TimestampNTZType).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Native session windows on the stream — the same `session_window`
    * expression as batch q56, so the streaming deployment IS the batch
    * query with a watermark attached: Spark merges per-batch partial
    * sessions in state and closes a session when the watermark passes
    * its end + gap. This is the built-in-operator counterpart of the
    * custom-state sessionizers below (use this when min/max/count
    * aggregates suffice; drop to flatMapGroupsWithState only for
    * session payloads the aggregate functions can't express).
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withColumn("ts_evt", col("ts").cast(TimestampType))
      .withWatermark("ts_evt", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts_evt"), "30 minutes").as("sw"))
      .agg(min(col("ts_evt")).cast(TimestampNTZType).as("session_start"),
        max(col("ts_evt")).cast(TimestampNTZType).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))

  /** Hopping (6 h size / 3 h slide) counts per event type — the
    * streaming twin of batch q108, and the same one-line relationship
    * to it as windowedCounts has to q24: the slide parameter expands
    * each event into two window memberships before the stateful
    * aggregate, state = open windows × types (bounded by the
    * watermark), merge stays an ordinary count.
    */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts_evt", col("ts").cast(TimestampType))
      .withWatermark("ts_evt", "1 hour")
      .groupBy(window(col("ts_evt"), "6 hours", "3 hours")
        .getField("start").cast(TimestampNTZType).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Stream–stream interval self-join — the streaming twin of batch
    * q26_range_join: error-event pairs per user within [0, 6 h],
    * emitted continuously as both sides arrive. This is the one join
    * shape Structured Streaming treats specially: BOTH sides carry a
    * watermark and the join predicate carries a time-range bound, so
    * Spark can (a) emit an inner-join match the micro-batch it forms
    * (no watermark hold-back for inner joins) and (b) evict buffered
    * state once the watermark passes a row's last possible match time
    * — bounded state on two unbounded streams, which an unconstrained
    * stream join cannot promise. The 6 h bound mirrors q26's band
    * width; dt_us and the a_id < b_id dedup rule are q26's exact
    * output contract, so the backfill run must match the batch rows
    * one-for-one.
    */
  def errorPairs(left: DataFrame, right: DataFrame): DataFrame = {
    val a = left.where(col("event_type") === "error")
      .select(col("user_id").as("u"), col("event_id").as("a_id"),
        col("ts").cast(TimestampType).as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val b = right.where(col("event_type") === "error")
      .select(col("user_id").as("u2"), col("event_id").as("b_id"),
        col("ts").cast(TimestampType).as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    a.join(b, col("u") === col("u2") && col("a_id") < col("b_id")
        && col("b_ts") >= col("a_ts")
        && col("b_ts") <= col("a_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("u").as("user_id"), col("a_id"), col("b_id"),
        expr("timestampdiff(MICROSECOND, a_ts, b_ts)").as("dt_us"))
  }

  /** Streaming HyperLogLog: per-6-hour-window distinct-user sketch
    * registers — the streaming twin of q85, and the textbook case for
    * sketches in streams: exact distinct counting needs per-key state
    * proportional to CARDINALITY, while the register sketch holds a
    * hard 64 rows per window no matter how many users flow through —
    * the merge (max per register) is associative and commutative, so
    * Spark runs it as an ordinary windowed agg with partial
    * aggregation and watermark-evicted state.
    *
    * Emits the REGISTER table, not the estimate: folding 64 registers
    * into the final number is a second stateful aggregation (chained
    * stateful aggs are the one shape Structured Streaming restricts),
    * and a consumer folds the tiny register set per window at read
    * time — [[hllEstimate]] below, shared with the batch twin so the
    * streaming and batch estimates are bit-identical by construction
    * (same portable hash, same rank arithmetic — the q85 contract).
    */
  def hllRegisters(events: DataFrame): DataFrame =
    events
      .withColumn("ts_evt", col("ts").cast(TimestampType))
      .withColumn("h",
        expr(graft.ops.Portable.h32Spark("concat('u_', user_id)")))
      .withColumn("reg", col("h") % 64)
      .withColumn("rho",
        expr("CASE WHEN h div 64 > 0 THEN 27 - length(bin(h div 64)) " +
          "ELSE 27 END"))
      .withWatermark("ts_evt", "1 hour")
      .groupBy(window(col("ts_evt"), "6 hours").getField("start")
        .cast(TimestampNTZType).as("bucket"), col("reg"))
      .agg(max(col("rho")).as("mr"))

  /** Fold a window's register rows into the q85 estimate (batch-side;
    * runs on ≤ 64 rows per bucket).
    */
  def hllEstimate(registers: DataFrame): DataFrame =
    registers
      .groupBy(col("bucket"))
      .agg(sum(expr("power(0.5, mr)")).as("zp"), count(lit(1)).as("nreg"))
      .select(col("bucket"), expr("zp + (64 - nreg) * 1.0").as("z"),
        expr("64 - nreg").as("v"))
      .select(col("bucket"),
        expr("CASE WHEN 0.709 * 4096.0 / z <= 160.0 AND v > 0 " +
          "THEN round(64.0 * ln(64.0 / v), 6) " +
          "ELSE round(0.709 * 4096.0 / z, 6) END").as("n_est"))

  /** Exactly-once delivery on top of an at-least-once feed. The
    * reference's restart semantics are at-least-once re-export (a crash
    * between write and checkpoint re-sends rows — SURVEY.md §2.9); this
    * is the consumer-side key dedup that upgrades the stream to
    * exactly-once. `dropDuplicatesWithinWatermark` keeps a key's
    * fingerprint in state only until the watermark passes its event
    * time — bounded state on an unbounded stream, where plain
    * `dropDuplicates` would accumulate every key ever seen. The
    * contract: a replay arriving within `watermarkDelay` of the
    * original is dropped; replays later than the watermark bound are
    * the source's exactly-once problem (file-source offsets already
    * prevent them for the parquet feed).
    */
  def dedupedEvents(events: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withColumn("ts_evt", col("ts").cast(TimestampType))
      .withWatermark("ts_evt", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))

  // ---------- stateful sessionization ---------------------------------

  final case class Ev(event_id: Long, ts: java.time.LocalDateTime,
      user_id: Long)
  /** [[Ev]] with the event time as an instant (TimestampType) — the
    * watermark-carrying shape the continuous sessionizer groups on.
    */
  final case class EvW(event_id: Long, ts_evt: java.time.Instant,
      user_id: Long)
  final case class SessionOut(user_id: Long,
      session_start: java.time.LocalDateTime,
      session_end: java.time.LocalDateTime, n_events: Long)
  final case class OpenSession(startUs: Long, endUs: Long, n: Long)

  /** [[Ev]] plus the event type and value — the attribution input shape. */
  final case class EvT(event_id: Long, ts: java.time.LocalDateTime,
      user_id: Long, event_type: String, value: Double)
  final case class TouchState(touchType: String, touchUs: Long)
  final case class Attribution(user_id: Long, event_id: Long,
      channel: String, value: Double)

  final case class HwmState(hwmUs: Long)
  final case class LateOut(event_id: Long, late_us: Long)

  private val GapUs = 1800000000L // 30 min
  private val LookbackUs = 604800000000L // 7 days

  private def toUs(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
  private def fromUs(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
      (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)

  /** Continuous incremental export — the reference's cron-invoked
    * Lambda (poll → filter by watermark → write serial-numbered output,
    * SURVEY.md §2.9) collapsed into a Structured Streaming query: the
    * engine's file-source offsets replace the hand-rolled SSM
    * checkpoint, each micro-batch lands as its own serial-numbered
    * parquet directory, and `checkpointDir` gives exactly-once batch
    * tracking across restarts. `Trigger.AvailableNow` = one reference
    * "invocation"; a processing-time trigger = the cron loop.
    */
  def incrementalExport(events: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // unconditional write: an isEmpty pre-check would run the batch
        // plan twice, and a zero-row parquet write is valid and readable
        batch.write.mode("overwrite")
          .parquet(f"$outDir/db_data/$id%06d/events.parquet")
      }

  /** 30-min-gap sessions per user via flatMapGroupsWithState — the
    * custom-state path (KeyValueGroupedDataset) for semantics the
    * built-in window operators can't express. Events inside one
    * micro-batch are sorted per group; the open session is carried in
    * GroupState across batches and closed either by a later event's gap
    * or — when `flushOpen` (bounded backfill mode, Trigger.AvailableNow)
    * — at end of input. A continuous deployment uses
    * [[sessionizeContinuous]], which flushes idle sessions via
    * EventTimeTimeout instead.
    */
  def sessionize(events: Dataset[Ev], flushOpen: Boolean): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[OpenSession]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            val us = toUs(e.ts)
            open match {
              case Some(s) if us - s.endUs <= GapUs =>
                open = Some(s.copy(endUs = us, n = s.n + 1))
              case Some(s) =>
                out += SessionOut(uid, fromUs(s.startUs), fromUs(s.endUs), s.n)
                open = Some(OpenSession(us, us, 1))
              case None =>
                open = Some(OpenSession(us, us, 1))
            }
          }
          if (flushOpen) {
            open.foreach(s =>
              out += SessionOut(uid, fromUs(s.startUs), fromUs(s.endUs), s.n))
            state.remove()
          } else {
            open.foreach(state.update)
          }
          out.iterator
      }
  }

  /** Streaming twin of q494's watermark-lateness measurement — the
    * per-user event-time high-water mark as ONE long of custom state
    * (exactly the watermark state a streaming engine keeps; this twin
    * makes it observable per event): events inside a micro-batch are
    * processed in arrival order (the deterministic displaced
    * sequence batch q494's window walks — Portable.arrivalSeqSpark's
    * 5 % late tail; the fixture's event_id order is time-sorted, so
    * the displacement IS the simulated queue misbehavior), each
    * event's lateness is its gap to the HWM of STRICTLY earlier
    * arrivals (0 for on-time, the rowsBetween(-1) convention), and
    * the HWM then absorbs the event. The per-type histogram q494
    * reports is a downstream
    * aggregation of these rows. Backfill over one AvailableNow batch
    * reproduces the batch lateness event-for-event (StreamingSpec
    * pins it); a continuous deployment carries the one-long state
    * per user forever — constant memory, no window sort.
    */
  def latenessUs(events: Dataset[Ev]): Dataset[LateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[HwmState, LateOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Ev], state: GroupState[HwmState]) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def h32(t: String): Long = {
            md.reset()
            val d = md.digest(t.getBytes("UTF-8"))
            ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          }
          val sorted = it.toIndexedSeq
            .sortBy(e => (e.event_id +
              (if (h32(s"arr_${e.event_id}") % 100 < 5) 5L else 0L),
              e.event_id))
          var hwm = state.getOption.map(_.hwmUs).getOrElse(Long.MinValue)
          val out = sorted.map { e =>
            val us = toUs(e.ts)
            val late = if (hwm == Long.MinValue) 0L
              else math.max(0L, hwm - us)
            if (us > hwm) hwm = us
            LateOut(e.event_id, late)
          }
          state.update(HwmState(hwm))
          out.iterator
      }
  }

  /** Streaming last-touch attribution — batch q126 as per-user custom
    * state: each user's state is exactly ONE (touch type, touch time)
    * pair, overwritten by every view/click and read by every purchase
    * (7-day lookback, else 'direct'), so purchases are attributed the
    * micro-batch they arrive in — the real-time revenue-attribution
    * feed, with state bounded at one row per user by construction
    * (contrast the batch window, which must sort each user's history).
    * Events inside a micro-batch are sorted by (ts, event_id), the
    * same total order as the batch query, so a same-instant touch
    * precedes its purchase iff its event_id is lower — q126's exact
    * tie rule — and backfill over one AvailableNow batch reproduces
    * the batch assignment purchase-for-purchase.
    */
  def attributeLastTouch(events: Dataset[EvT]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EvT], state: GroupState[TouchState]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
          sorted.foreach { e =>
            if (e.event_type == "purchase") {
              val us = toUs(e.ts)
              val ch = st match {
                case Some(t) if us - t.touchUs <= LookbackUs => t.touchType
                case _ => "direct"
              }
              out += Attribution(uid, e.event_id, ch, e.value)
            } else {
              st = Some(TouchState(e.event_type, toUs(e.ts)))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  final case class AsOfState(state: String, stateUs: Long,
      maxSeenUs: Long = Long.MinValue)
  final case class StateLookupOut(user_id: Long, purchase_id: Long,
      state: Option[String], state_ts: Option[java.time.LocalDateTime])

  /** Streaming twin of q512's point-in-time state lookup (the native
    * as-of join's canonical use): per-user state is exactly ONE
    * (latest non-purchase event_type, its time) pair — the running
    * "current state" — overwritten by every state-change event and
    * READ by every purchase, which emits its enrichment the
    * micro-batch it arrives in. This is backward-inclusive as-of with
    * O(1) state per key, vs the batch exec's sorted-run merge: the
    * stream never buffers history, because arrival in event-time order
    * (guaranteed here by the per-micro-batch (ts, event_id) sort — the
    * library's twin convention) makes "greatest state_ts ≤ ts" the
    * same thing as "last state seen". Same-instant caveat (the twins'
    * standard note): a dim row with state_ts == ts but a HIGHER
    * event_id than the purchase is eligible for batch inclusive as-of
    * but follows the purchase in stream order; (user_id, ts) is unique
    * in the fixture at every SF, so backfill over one AvailableNow
    * batch reproduces q512 purchase-for-purchase (StreamingSpec).
    *
    * CROSS-batch ordering contract: the per-micro-batch sort fixes
    * order only WITHIN a batch — an event arriving in a LATER batch
    * with an EARLIER event time (late data) is processed against the
    * newest state, not the state as of its timestamp, and a purchase
    * older than the stored state would silently read a "future" state.
    * The function is therefore exact for AvailableNow backfill (one
    * batch = total order) and for live streams whose source preserves
    * per-key event-time order. To make violations observable rather
    * than silent, the state tracks the max event time seen per key and
    * every cross-batch late arrival increments the
    * `graft.asof.lateEvents` accumulator (visible in the Spark UI and
    * via `sparkContext` accumulator APIs) — a non-zero count means the
    * enrichment of those purchases is suspect and the batch as-of
    * (q512) should be re-run over the affected window.
    */
  def asOfStateLookup(events: Dataset[EvT]): Dataset[StateLookupOut] = {
    import events.sparkSession.implicits._
    val lateEvents = events.sparkSession.sparkContext
      .longAccumulator("graft.asof.lateEvents")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, StateLookupOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EvT], state: GroupState[AsOfState]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var st = state.getOption
          var maxSeen = st.map(_.maxSeenUs).getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[StateLookupOut]
          sorted.foreach { e =>
            val us = toUs(e.ts)
            if (us < maxSeen) lateEvents.add(1L)
            maxSeen = math.max(maxSeen, us)
            if (e.event_type == "purchase") {
              out += StateLookupOut(uid, e.event_id,
                st.map(_.state), st.map(s => fromUs(s.stateUs)))
            } else {
              st = Some(AsOfState(e.event_type, us, maxSeen))
            }
          }
          st.foreach(s => state.update(s.copy(maxSeenUs = maxSeen)))
          out.iterator
      }
  }

  final case class ThrottleState(lastUs: Long)

  /** Streaming twin of batch q222's throttle dedup (alert
    * suppression): ONE timestamp of state per (user, event_type) key —
    * an event is emitted iff the state is empty or the event sits more
    * than `gapUs` past the stored time, and the stored time is
    * refreshed by EVERY event, emitted or not (trailing throttle, the
    * exact lag contract of the batch window). Constant per-key state:
    * unlike the LSH twin's member lists there is nothing to cap —
    * state is one long per live key regardless of traffic. Events
    * inside a micro-batch are sorted by (ts, event_id), the same total
    * order as the batch query, so backfill over one AvailableNow batch
    * reproduces the batch kept-set event-for-event.
    */
  def throttle(events: Dataset[EvT],
      gapUs: Long = 86400000000L): Dataset[EvT] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[ThrottleState, EvT](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String), it: Iterator[EvT],
            state: GroupState[ThrottleState]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (toUs(e.ts), e.event_id))
          var last = state.getOption.map(_.lastUs)
          val out = scala.collection.mutable.ArrayBuffer.empty[EvT]
          sorted.foreach { e =>
            val us = toUs(e.ts)
            if (last.forall(l => us - l > gapUs)) out += e
            last = Some(us)
          }
          last.foreach(l => state.update(ThrottleState(l)))
          out.iterator
      }
  }

  /** Continuous-mode sessionization: same 30-min-gap semantics as
    * [[sessionize]], but an idle user's open session is closed by the
    * event-time WATERMARK, not by end-of-input — the state timeout is
    * set to session_end + gap, so when the watermark (driven by other
    * users' traffic) passes that point, the group fires with
    * `hasTimedOut` and the session is emitted and evicted. This is what
    * bounds state size on an unbounded stream: no user's state outlives
    * its inactivity gap plus the watermark delay.
    *
    * The watermark column must be TimestampType; with the session
    * timezone pinned UTC (GraftSession) the NTZ→instant cast is
    * value-preserving, so emitted sessions match batch q27 exactly for
    * every closed session.
    */
  def sessionizeContinuous(events: Dataset[Ev],
      watermarkDelay: String = "30 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    def usOf(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    events
      .withColumn("ts_evt", col("ts").cast(TimestampType))
      .select(col("event_id"), col("ts_evt"), col("user_id")).as[EvW]
      .withWatermark("ts_evt", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[EvW], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed session_end + gap: no on-time event can
            // extend this session any more — close and evict
            val s = state.get
            state.remove()
            Iterator.single(
              SessionOut(uid, fromUs(s.startUs), fromUs(s.endUs), s.n))
          } else {
            val sorted = it.toIndexedSeq
              .sortBy(e => (usOf(e.ts_evt), e.event_id))
            var open = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val us = usOf(e.ts_evt)
              open match {
                case Some(s) if us - s.endUs <= GapUs =>
                  open = Some(s.copy(endUs = us, n = s.n + 1))
                case Some(s) =>
                  out += SessionOut(uid, fromUs(s.startUs), fromUs(s.endUs),
                    s.n)
                  open = Some(OpenSession(us, us, 1))
                case None =>
                  open = Some(OpenSession(us, us, 1))
              }
            }
            open.foreach { s =>
              val timeoutMs = (s.endUs + GapUs) / 1000L
              if (timeoutMs <= state.getCurrentWatermarkMs()) {
                // the batch's watermark already passed the gap (late
                // tail-end data): close immediately — setting a timeout
                // in the past is rejected by the API. Drop any carried
                // state so the closed session can't re-fire at timeout.
                if (state.exists) state.remove()
                out += SessionOut(uid, fromUs(s.startUs), fromUs(s.endUs),
                  s.n)
              } else {
                state.update(s)
                state.setTimeoutTimestamp(timeoutMs)
              }
            }
            out.iterator
          }
      }
  }

  /** Streaming twin of q255's DiD cell table — the live experiment
    * dashboard: purchase counts and exact integer-micro value sums per
    * (arm × period) cell, maintained as a four-row complete-mode
    * aggregate (state is the four cells, bounded forever — no
    * watermark needed because the groupBy domain is finite). The DiD
    * estimate itself is a four-number formula the dashboard computes
    * from this table; keeping the stream at the CELL level means a
    * replayed batch can only converge the cells toward the q255
    * values, never double-count a mean.
    */
  def didCells(events: DataFrame): DataFrame =
    events
      .where(col("event_type") === "purchase")
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        expr("ts >= TIMESTAMP_NTZ '2024-01-16 00:00:00'").as("post"),
        expr("cast(round(value * 1e6) AS BIGINT)").as("u"))
      .groupBy(col("arm"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("u")).as("su"))

  // ---------- streaming daily revenue (q347 twin) ----------------------

  /** Streaming twin of q347's risk inputs: the per-day exact-cent
    * revenue totals maintained as a running aggregate (complete mode —
    * state is one row per calendar day at ANY corpus size), the feed a
    * live VaR/CVaR monitor reads instead of rescanning history. The
    * cent pinning is byte-identical to the batch side, so
    * StreamingSpec proves the day totals equal under AvailableNow;
    * the quantile/shortfall tail math stays a bounded batch read over
    * this table.
    */
  def dailyRevenueCents(events: DataFrame): DataFrame =
    events
      .select(expr("timestampdiff(MICROSECOND, " +
        "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) div 86400000000")
        .as("day"),
        expr("CAST(round(value * 10000.0) AS BIGINT)").as("v4"))
      .groupBy(col("day"))
      .agg(expr("CAST(round(sum(v4) / 100.0) AS BIGINT)")
        .as("tot_cents"))

  // ---------- streaming feature store (q276 twin) ----------------------

  /** Running per-user feature accumulator — every q276 feature is a
    * commutative fold over that user's events, so it carries as ONE
    * bounded state row per user; `days` holds the distinct active
    * epoch-days (bounded by the calendar, not the event volume — a
    * year of activity is ≤ 366 longs regardless of corpus size).
    */
  final case class FeatureState(n: Long, np: Long, vu: Long,
      first: Long, last: Long, nerr: Long, days: Seq[Long])
  final case class FeatureAccum(user_id: Long, n_events: Long,
      n_purchases: Long, value_micro: Long, first_day: Long,
      last_day: Long, active_days: Long, n_errors: Long)

  /** Streaming twin of q276's nightly feature refresh — the upsert feed
    * a live feature store consumes instead of recomputing the batch
    * join: per-user counters, exact integer-micro monetary sum,
    * first/last/distinct active days and error count fold into
    * flatMapGroupsWithState (state = one [[FeatureState]] row per user,
    * bounded by construction), and each micro-batch emits the UPDATED
    * feature rows only — arrival order inside a batch doesn't matter
    * because every feature is commutative. The final projection
    * (recency vs the fixed horizon, error share) reuses the exact q276
    * expressions, so a single AvailableNow backfill reproduces the
    * batch table row-for-row (StreamingSpec gate).
    */
  def featureStore(events: Dataset[EvT]): DataFrame = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FeatureState, FeatureAccum](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EvT], state: GroupState[FeatureState]) =>
          var st = state.getOption.getOrElse(
            FeatureState(0L, 0L, 0L, Long.MaxValue, Long.MinValue, 0L,
              Seq.empty))
          it.foreach { e =>
            val day = e.ts.toLocalDate.toEpochDay
            st = FeatureState(
              st.n + 1L,
              st.np + (if (e.event_type == "purchase") 1L else 0L),
              // BigDecimal HALF_UP = Spark round(), not math.round's
              // floor(x+0.5) — keeps the twin bit-equal to q276
              st.vu + (if (e.event_type == "purchase")
                BigDecimal(e.value * 1e6)
                  .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
              else 0L),
              math.min(st.first, day), math.max(st.last, day),
              st.nerr + (if (e.event_type == "error") 1L else 0L),
              if (st.days.contains(day)) st.days else st.days :+ day)
          }
          state.update(st)
          Iterator.single(FeatureAccum(uid, st.n, st.np, st.vu, st.first,
            st.last, st.days.size.toLong, st.nerr))
      }
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("value_micro"), col("first_day"), col("last_day"),
        col("active_days"),
        (lit(19754L) - col("last_day")).as("recency_days"),
        round(col("n_errors").cast("double")
          / col("n_events").cast("double"), 12).as("error_share"))
  }
}
