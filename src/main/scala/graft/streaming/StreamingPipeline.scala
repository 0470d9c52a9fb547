package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.{ApprovalEvent, FileEvent}
import graft.pipeline.Pipeline

/** Streaming faces of the pipeline (SURVEY §3 lifecycle + §2.b streaming
  * rows): the reference's push boundaries (GCS CloudEvents, approval
  * Pub/Sub) arrive either as JSON-lines file streams or through the
  * `graftbus` partitioned event log (graft.sources.bus — a DataSource V2
  * micro-batch source with Kafka-shaped offset semantics), processed
  * with Structured Streaming and committed through the same idempotent
  * batch paths.
  *
  * Exactly-once: `dropDuplicates` handles duplicates within the stream,
  * and the persisted control table guards across restarts
  * (Pipeline.alreadyProcessed — reference semantics process-pipeline.py:
  * 464-466). foreachBatch is therefore idempotent per event_id
  * regardless of batch replay.
  */
final class StreamingPipeline(spark: SparkSession, pipeline: Pipeline,
    checkpointRoot: String) {

  /** E1 as a stream: file-arrival events (bucket, name, id) arriving as
    * JSON lines, registered + notified one micro-batch at a time. A
    * micro-batch of N arrivals costs ONE control-table append — one new
    * ref of the table's log (Pipeline.registerArrivals assigns all N
    * versions from one lookup of the log's driver index) — not N version
    * lookups and N refs.
    */
  def startIngest(eventsDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val schema = "bucket string, name string, id string"
    spark.readStream.schema(schema).json(eventsDir)
      .dropDuplicates("id")
      .writeStream
      .option("checkpointLocation", s"$checkpointRoot/ingest")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        pipeline.registerArrivals(
          collectEvents(batch, "file-arrival").map(r => FileEvent(
            r.getAs[String]("bucket"), r.getAs[String]("name"),
            r.getAs[String]("id"))))
        ()
      }
      .start()
  }

  /** E3 as a stream: approval events (approval-handler.py:51-62 payload)
    * as JSON lines → the approval state machine. Orchestration is
    * driver-side, mirroring the reference; the data work each event
    * triggers is distributed, and a micro-batch of N approvals costs
    * ONE control-table commit (Pipeline.processApprovals), not N, which
    * rewrites only the refs holding those N events. It reads the refs
    * under the table's commit lock, so arrivals the ingest stream
    * registers meanwhile are carried over.
    */
  def startApprovals(approvalsDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    spark.readStream.schema(ApprovalEvent.schema).json(approvalsDir)
      .dropDuplicates("event_id")
      .writeStream
      .option("checkpointLocation", s"$checkpointRoot/approvals")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        pipeline.processApprovals(
          collectEvents(batch, "approval").map(rowToEvent))
      }
      .start()
  }

  /** O20 over a real event bus: approvals consumed from a `graftbus`
    * log instead of JSON-lines files — the closest runnable twin of the
    * reference's Pub/Sub push subscription (approval-handler.py:72-75).
    * The payload JSON rides in `value`; offsets give replay, the
    * event_id dedup + idempotent control commits give exactly-once.
    */
  def startApprovalsFromBus(busRoot: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    spark.readStream.format("graftbus").option("path", busRoot).load()
      .select(from_json(col("value"), ApprovalEvent.schema).as("e"))
      .select("e.*")
      .dropDuplicates("event_id")
      .writeStream
      .option("checkpointLocation", s"$checkpointRoot/approvals_bus")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        pipeline.processApprovals(
          collectEvents(batch, "approval").map(rowToEvent))
      }
      .start()
  }

  /** Control-event micro-batches move to the driver for orchestration;
    * the same cap Pipeline puts on its own control collects bounds that
    * materialization — a control stream past the cap means data-scale
    * rows on a control topic, which must fail loudly, not OOM.
    */
  private def collectEvents(batch: DataFrame, what: String): Seq[Row] = {
    val cap = pipeline.maxControlRows
    val rows = batch.limit(cap + 1).collect().toSeq
    if (rows.length > cap)
      throw new IllegalStateException(
        s"control-plane guard: a $what micro-batch exceeded " +
          s"maxControlRows=$cap — control streams carry file/approval " +
          "events, not data rows; route data through the data path or " +
          "raise maxControlRows if this event volume is intended")
    rows
  }

  private def rowToEvent(r: Row): ApprovalEvent = {
    def s(n: String) = Option(r.getAs[String](n)).orNull
    ApprovalEvent(s("event_id"), s("action"), s("file_name"), s("table_name"),
      s("operation"), s("bucket"),
      Option(r.getAs[java.lang.Long]("file_version")).map(_.toLong),
      Option(s("provided_timestamp")), Option(s("approval_timestamp")),
      Option(s("remote_address")))
  }
}

/** Streaming analytics over event streams — watermarked tumbling-window
  * aggregation (the streaming face of EventOps.e01) and stateful
  * stream dedup.
  */
object StreamingAnalytics {

  /** Tumbling event-time windows with a watermark; `events` must carry
    * `ts_utc timestamp, event_type string, value double`. Late rows
    * beyond the watermark are dropped by Spark's state eviction.
    */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(window(col("ts_utc"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  /** Hopping (sliding) event-time windows — each event lands in
    * length/slide overlapping windows (the streaming face of
    * EventOps.e17). Same state story as tumbling: the watermark bounds
    * open windows, and the Expand that replicates each row into its
    * windows happens BEFORE the shuffle, so state size is
    * O(open windows × groups), not O(events).
    */
  def slidingCounts(events: DataFrame, windowLength: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(window(col("ts_utc"), windowLength, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stateful dedup by event id within the watermark horizon. */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts_utc", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming ingest-time exact dedup of a documents stream: each doc
    * gets its normalized content fingerprint
    * (TextFunctions.fingerprint), then stateful dedup keeps the first
    * occurrence per fingerprint within the watermark horizon — the
    * training-data dedup gate applied AT INGEST instead of as a later
    * batch sweep. State holds one 32-byte key per distinct document in
    * the horizon and ages out past the watermark, so it is bounded by
    * arrival rate, not corpus size; `docs` must carry
    * `ts_utc timestamp, text string`.
    */
  def dedupDocuments(docs: DataFrame, watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      .withWatermark("ts_utc", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Shared core of the stream-stream interval joins: watermarked
    * sides, equi-key + time-range condition (each error matches the
    * same user's clicks from its preceding `windowMinutes`). ONE copy
    * of the condition — it is the state-eviction contract for all
    * three join types, and three drifting copies is how an outer
    * variant silently stops evicting.
    */
  private def intervalJoined(clicks: DataFrame, errors: DataFrame,
      windowMinutes: Int, watermark: String, joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts_utc", watermark)
      .select(col("user_id"), col("ts_utc").as("click_ts"),
        col("event_id").as("click_id"))
    val e = errors.withWatermark("ts_utc", watermark)
      .select(col("user_id").as("e_user"), col("ts_utc").as("error_ts"),
        col("event_id").as("error_id"))
    e.join(c,
      col("user_id") === col("e_user") &&
        col("click_ts") >= col("error_ts") - expr(s"interval $windowMinutes minutes") &&
        col("click_ts") <= col("error_ts"),
      joinType)
  }

  /** Stream-stream interval join: each error joins the same user's
    * clicks from the preceding `windowMinutes`. Watermarks on both
    * sides bound the join state Spark must retain.
    */
  def clicksBeforeErrors(clicks: DataFrame, errors: DataFrame,
      windowMinutes: Int = 10, watermark: String = "1 hour"): DataFrame =
    intervalJoined(clicks, errors, windowMinutes, watermark, "inner")
      .select(col("user_id"), col("error_id"), col("error_ts"),
        col("click_id"), col("click_ts"))

  /** Stream-stream LEFT OUTER interval join: every error emits — with
    * the same user's preceding clicks when they exist, or with null
    * click columns once the watermark PROVES none can still arrive.
    * The null row is not emitted when the error is processed; Spark
    * holds the error in join state and releases the outer result only
    * after the global watermark (the MIN across both streams'
    * watermarks) passes the error's match interval — the contract that
    * keeps outer join correct under late data, and why both sides'
    * watermarks are mandatory. State is bounded exactly as in the
    * inner variant: each side retains `watermark + windowMinutes` of
    * rows keyed by user.
    */
  def errorsWithClicks(clicks: DataFrame, errors: DataFrame,
      windowMinutes: Int = 10, watermark: String = "1 hour"): DataFrame =
    intervalJoined(clicks, errors, windowMinutes, watermark, "left_outer")
      .select(col("e_user").as("user_id"), col("error_id"), col("error_ts"),
        col("click_id"), col("click_ts"))

  /** Stream-stream FULL OUTER interval join — the audit shape: every
    * error emits (with its preceding clicks or null-click once proven
    * alone), AND every click that matched no error's interval also
    * emits with null error columns once the watermark proves no error
    * can still claim it. Both unmatched directions are
    * watermark-gated; state on each side stays bounded to
    * `watermark + windowMinutes` of rows keyed by user, exactly as in
    * the inner/left variants — the condition bounds each side's
    * eviction horizon with respect to the other.
    */
  def clickErrorAudit(clicks: DataFrame, errors: DataFrame,
      windowMinutes: Int = 10, watermark: String = "1 hour"): DataFrame =
    intervalJoined(clicks, errors, windowMinutes, watermark, "full_outer")
      .select(coalesce(col("e_user"), col("user_id")).as("user_id"),
        col("error_id"), col("error_ts"), col("click_id"), col("click_ts"))

  /** Stream-static join: enrich a stream with a dimension table.
    * Stateless — no watermark on either side; Spark re-executes the
    * static subplan every micro-batch, so a broadcast dim costs one
    * broadcast per batch (dimension-sized by assumption; persist() the
    * dim to avoid re-reading storage each batch). Catalog interplay
    * worth knowing: `Catalog.read` resolves the `_current` pointer at
    * PLAN time, so a mid-stream catalog commit is not picked up until
    * the stream restarts — version-pinned enrichment, which is what a
    * reproducible pipeline wants (restart to adopt a new dim version).
    */
  def enrichEvents(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  // ---- custom state: flatMapGroupsWithState sessionization ----

  final case class SessionEvent(user_id: Long, ts_us: Long)
  final case class SessionState(start_us: Long, last_us: Long, n: Int)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Int)

  /** Per-user sessionization with explicit state: a session CLOSES when
    * a later event arrives more than `gapUs` after it (the closing
    * event opens the next session). The still-open session per user
    * stays in state — the streaming-honest contract (it may yet grow).
    * Batch twin: EventOps.e02Sessionize.
    */
  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapUs: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(userId: Long, batch: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[ClosedSession] = {
      val sorted = batch.toSeq.sortBy(_.ts_us)
      var cur = state.getOption
      val closed = Seq.newBuilder[ClosedSession]
      sorted.foreach { ev =>
        cur match {
          case Some(s) if ev.ts_us - s.last_us > gapUs =>
            closed += ClosedSession(userId, s.start_us, s.last_us, s.n)
            cur = Some(SessionState(ev.ts_us, ev.ts_us, 1))
          case Some(s) =>
            cur = Some(SessionState(s.start_us, math.max(s.last_us, ev.ts_us), s.n + 1))
          case None =>
            cur = Some(SessionState(ev.ts_us, ev.ts_us, 1))
        }
      }
      cur.foreach(state.update)
      closed.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  // ---- custom state: prequential rate-anomaly scoring ----

  final case class RateEvent(event_type: String, ts_us: Long)
  final case class RateState(open: Map[Long, Long], maxHour: Long,
      nHours: Long, s: Long, ss: Long)
  final case class RateScore(event_type: String, hour_us: Long, n: Long,
      z: Double, anomaly: Boolean)

  /** Streaming rate-anomaly detection, the stateful face of
    * EventOps.e19: per event_type, hourly counts accumulate in an open
    * bucket map; a bucket CLOSES once events arrive more than
    * `latenessHours` beyond it, and the closed count is z-scored
    * against the running moments of all previously-closed hours
    * (prequential — each hour is judged only by history, the honest
    * streaming contract; the batch twin scores against the full
    * series). State per type is the open-bucket map (≤ lateness+1
    * entries) plus four longs — O(types), never O(events). Still-open
    * trailing hours stay in state, same contract as sessionize.
    */
  def rateAnomalies(events: org.apache.spark.sql.Dataset[RateEvent],
      latenessHours: Int = 2): org.apache.spark.sql.Dataset[RateScore] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val hourUs = 3600L * 1000 * 1000
    def fn(tpe: String, batch: Iterator[RateEvent],
        state: GroupState[RateState]): Iterator[RateScore] = {
      var st = state.getOption.getOrElse(RateState(Map.empty, Long.MinValue, 0L, 0L, 0L))
      val out = Seq.newBuilder[RateScore]
      batch.toSeq.sortBy(_.ts_us).foreach { ev =>
        val h = ev.ts_us / hourUs
        var open = st.open.updated(h, st.open.getOrElse(h, 0L) + 1L)
        val maxHour = math.max(st.maxHour, h)
        var (nh, s, ss) = (st.nHours, st.s, st.ss)
        open.keys.toSeq.sorted.takeWhile(_ < maxHour - latenessHours)
          .foreach { hc =>
            val n = open(hc)
            val z =
              if (nh > 1) {
                val varr = (ss.toDouble - s.toDouble * s.toDouble / nh) / (nh - 1)
                if (varr > 0.0) (n.toDouble - s.toDouble / nh) / math.sqrt(varr)
                else 0.0
              } else 0.0
            out += RateScore(tpe, hc * hourUs, n, z, math.abs(z) >= 2.0)
            nh += 1; s += n; ss += n * n
            open -= hc
          }
        st = RateState(open, maxHour, nh, s, ss)
      }
      state.update(st)
      out.result().iterator
    }
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class TransEvent(user_id: Long, event_type: String,
      ts_us: Long, event_id: Long)
  final case class TransState(ts_us: Long, event_id: Long, tpe: String)
  final case class Transition(user_id: Long, prev_type: String,
      event_type: String)

  /** Streaming transition extraction, the stateful face of
    * EventOps.e23: per user, each event emits one (prev_type,
    * event_type) edge against the last event seen. State is ONE small
    * record per user (last event's time/id/type) — O(users), never
    * O(events) — and the per-batch work is a sort of that user's
    * batch slice. Downstream the edges aggregate to the transition
    * matrix at types² cardinality (a foreachBatch upsert into a stats
    * table in production; the spec folds the memory sink).
    *
    * Ordering contract: within a batch, events sort by (ts_us,
    * event_id); across batches, arrival order stands in for event
    * time — the same contract as the sessionizer faces. An event
    * arriving a batch late links in arrival position, which matches
    * how an at-ingest pipeline would count it; the batch twin (e23)
    * is the event-time-exact reconciliation.
    */
  final case class FunnelState(v: Option[Long], c: Option[Long], p: Option[Long])
  final case class FunnelRow(user_id: Long, stage: Long, view_us: Option[Long],
      click_us: Option[Long], purchase_us: Option[Long])

  /** Streaming bounded funnel, the stateful face of EventOps.e29: per
    * user, the first view, the earliest click within `windowUs` of
    * that view, the earliest purchase within `windowUs` of that click.
    * State is THREE optional longs per user. Under the faces' standard
    * ordering contract (event-time-ordered arrival), the incremental
    * update is EXACT: the first qualifying event encountered is the
    * minimum the batch twin computes, so stream-final equals e29
    * row-for-row (FunnelSpec pins it, incl. across batch splits — a
    * stage can open in one batch and convert in a later one). Emits
    * one row per user per batch in which the user appeared (latest
    * row per user = current funnel position; stage is monotone).
    */
  def funnelStages(events: org.apache.spark.sql.Dataset[TransEvent],
      windowUs: Long = 24L * 3600 * 1000 * 1000)
      : org.apache.spark.sql.Dataset[FunnelRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(uid: Long, batch: Iterator[TransEvent],
        state: GroupState[FunnelState]): Iterator[FunnelRow] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.getOrElse(FunnelState(None, None, None))
      sorted.foreach { e =>
        e.event_type match {
          case "view" if st.v.isEmpty =>
            st = st.copy(v = Some(e.ts_us))
          case "click" if st.c.isEmpty && st.v.exists(v =>
              e.ts_us >= v && e.ts_us - v <= windowUs) =>
            st = st.copy(c = Some(e.ts_us))
          case "purchase" if st.p.isEmpty && st.c.exists(c =>
              e.ts_us >= c && e.ts_us - c <= windowUs) =>
            st = st.copy(p = Some(e.ts_us))
          case _ =>
        }
      }
      state.update(st)
      val stage: Long =
        if (st.p.isDefined) 3L else if (st.c.isDefined) 2L
        else if (st.v.isDefined) 1L else 0L
      Iterator.single(FunnelRow(uid, stage, st.v, st.c, st.p))
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class AttribState(v: Option[Long])
  final case class AttribRow(user_id: Long, event_id: Long,
      purchase_us: Long, att_view_us: Option[Long], attributed: Boolean)

  /** Streaming last-touch attribution, the stateful face of
    * EventOps.e30: each purchase attributes to the most recent view
    * within `windowUs`. State is ONE optional long per user (last view
    * time). Under ordered arrival the last view seen IS the RANGE
    * frame's conditional max, so rows equal e30 exactly — with one
    * subtlety the sort key handles: the batch RANGE frame includes
    * same-timestamp PEERS, so within one timestamp views must apply
    * before purchases regardless of event_id order (sort by (ts,
    * is-purchase, event_id), not (ts, event_id)).
    */
  def lastTouchAttribution(events: org.apache.spark.sql.Dataset[TransEvent],
      windowUs: Long = 7L * 24 * 3600 * 1000 * 1000)
      : org.apache.spark.sql.Dataset[AttribRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(uid: Long, batch: Iterator[TransEvent],
        state: GroupState[AttribState]): Iterator[AttribRow] = {
      val sorted = batch.toSeq.sortBy(e =>
        (e.ts_us, if (e.event_type == "purchase") 1 else 0, e.event_id))
      var lastView = state.getOption.flatMap(_.v)
      val out = Seq.newBuilder[AttribRow]
      sorted.foreach { e =>
        e.event_type match {
          case "view" => lastView = Some(e.ts_us)
          case "purchase" =>
            val att = lastView.filter(v => e.ts_us - v <= windowUs)
            out += AttribRow(uid, e.event_id, e.ts_us, att, att.isDefined)
          case _ =>
        }
      }
      state.update(AttribState(lastView))
      out.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class Scd2State(ver: Long, state: String, validFrom: Long,
      nEvents: Long)
  final case class Scd2Row(user_id: Long, ver: Long, state: String,
      valid_from: Long, valid_to: Long, n_events: Long, is_current: Boolean)

  /** Streaming SCD Type-2 maintenance, the stateful face of
    * EventOps.e32: per user, state holds ONE open-version record
    * (current state, valid_from, run length) — O(users), never
    * O(events). A state-changing event emits the CLOSED version with
    * valid_to = the change event's time (final, emitted exactly once);
    * the open version re-emits in every batch where it grew, so the
    * downstream upsert keeps the latest row per (user, ver) — closed
    * beats open, larger n_events beats smaller (the foreachBatch
    * upsert contract the other twins share). Under the faces' ordering
    * contract (event-time-ordered arrival) stream-final equals e32
    * row-for-row, including runs that span batch boundaries
    * (Scd2Spec pins both).
    */
  def scd2History(events: org.apache.spark.sql.Dataset[TransEvent],
      openEndUs: Long = 253402214400000000L): org.apache.spark.sql.Dataset[Scd2Row] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(uid: Long, batch: Iterator[TransEvent],
        state: GroupState[Scd2State]): Iterator[Scd2Row] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.orNull
      val out = Seq.newBuilder[Scd2Row]
      sorted.foreach { e =>
        if (st == null) {
          st = Scd2State(1L, e.event_type, e.ts_us, 1L)
        } else if (e.event_type == st.state) {
          st = st.copy(nEvents = st.nEvents + 1)
        } else {
          out += Scd2Row(uid, st.ver, st.state, st.validFrom, e.ts_us,
            st.nEvents, is_current = false)
          st = Scd2State(st.ver + 1, e.event_type, e.ts_us, 1L)
        }
      }
      if (st != null) {
        state.update(st)
        out += Scd2Row(uid, st.ver, st.state, st.validFrom, openEndUs,
          st.nEvents, is_current = true)
      }
      out.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class TwapEvent(user_id: Long, event_type: String, ts_us: Long,
      event_id: Long, cents: Long)
  final case class TwapState(ts_us: Long, event_id: Long, tpe: String,
      cents: Long)
  final case class TwapGap(user_id: Long, event_type: String, cents: Long,
      gap_us: Long)

  /** Streaming TWAP gap extraction, the stateful face of EventOps.e34:
    * per user, state holds ONE last-event record — O(users), never
    * O(events). Each arriving event CLOSES the previous event's
    * holding interval and emits (type, cents, Δt_us) exactly once —
    * append-mode clean, no upsert contract needed, and the still-open
    * interval (e34's excluded last event) stays in state, so gap
    * exclusion is structural. Aggregate the emitted gaps with
    * `twapFromGaps` (the aggregation e34 itself runs): stream-final ≡
    * e34 row-for-row, including intervals spanning batch boundaries
    * (TwapSpec pins single-batch and 3-batch splits). Same ordering
    * contract as the other twins: within a batch (ts_us, event_id)
    * sort; across batches event-time-ordered arrival.
    */
  def twapGaps(events: org.apache.spark.sql.Dataset[TwapEvent])
      : org.apache.spark.sql.Dataset[TwapGap] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(uid: Long, batch: Iterator[TwapEvent],
        state: GroupState[TwapState]): Iterator[TwapGap] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.orNull
      val out = Seq.newBuilder[TwapGap]
      sorted.foreach { e =>
        if (st != null)
          out += TwapGap(uid, st.tpe, st.cents, e.ts_us - st.ts_us)
        st = TwapState(e.ts_us, e.event_id, e.event_type, e.cents)
      }
      if (st != null) state.update(st)
      out.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** The gaps→TWAP aggregation both faces share (e34 routes through
    * this too): cents widened to decimal(19,0) BEFORE the multiply —
    * a long×long product at multi-day gaps can exceed Long.Max — then
    * decimal(38,0)-summed; the TWAP is ONE double division over two
    * exactly-summed integers, immune to partition order at any
    * cluster width. Input needs `event_type, cents, gap_us`.
    */
  def twapFromGaps(gaps: DataFrame): DataFrame =
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("cents").cast("decimal(19,0)") * col("gap_us")).as("cg"),
        sum(col("gap_us").cast("decimal(30,0)")).as("g"))
      .select(col("event_type"), col("n_gaps"),
        (col("cg").cast("double") / col("g").cast("double") / 100.0)
          .as("twap"))
      .orderBy(col("event_type"))

  final case class PathState(a: Option[TransState], b: Option[TransState])
  final case class PathTrigram(user_id: Long, path: String)

  /** Streaming session-path extraction, the stateful face of
    * EventOps.e27: per user, each event extends a chain of the last
    * two events; when three consecutive events fall inside one session
    * (no inter-event gap above `gapUs`), the event emits the trigram
    * `a>b>c`. A gap RESETS the chain — exactly e27's "lead stays
    * within session_idx" predicate, expressed incrementally. State is
    * at most TWO small records per user — O(users), never O(events) —
    * the sliding analogue of `transitions`' single record. Same
    * ordering contract as transitions/sessionize: within a batch,
    * (ts_us, event_id) sort; across batches, arrival order stands in
    * for event time.
    */
  def pathTrigrams(events: org.apache.spark.sql.Dataset[TransEvent],
      gapUs: Long = 30L * 60 * 1000 * 1000)
      : org.apache.spark.sql.Dataset[PathTrigram] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(uid: Long, batch: Iterator[TransEvent],
        state: GroupState[PathState]): Iterator[PathTrigram] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var (a, b) = state.getOption.map(s => (s.a, s.b)).getOrElse((None, None))
      val out = Seq.newBuilder[PathTrigram]
      sorted.foreach { e =>
        if (b.exists(p => e.ts_us - p.ts_us > gapUs)) { a = None; b = None }
        for (x <- a; y <- b)
          out += PathTrigram(uid, s"${x.tpe}>${y.tpe}>${e.event_type}")
        a = b
        b = Some(TransState(e.ts_us, e.event_id, e.event_type))
      }
      state.update(PathState(a, b))
      out.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  def transitions(events: org.apache.spark.sql.Dataset[TransEvent])
      : org.apache.spark.sql.Dataset[Transition] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def fn(uid: Long, batch: Iterator[TransEvent],
        state: GroupState[TransState]): Iterator[Transition] = {
      val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val out = Seq.newBuilder[Transition]
      var prev = state.getOption
      sorted.foreach { e =>
        prev.foreach(p => out += Transition(uid, p.tpe, e.event_type))
        prev = Some(TransState(e.ts_us, e.event_id, e.event_type))
      }
      prev.foreach(state.update)
      out.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }
}
