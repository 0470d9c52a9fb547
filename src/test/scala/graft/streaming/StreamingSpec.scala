package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.catalog.Catalog
import graft.model.ProcessedFile
import graft.notify.InMemoryNotifier
import graft.pipeline.Pipeline

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def write(dir: String, name: String, content: String): Unit = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  test("ingest + approval streams drive the pipeline end to end") {
    val landing = tmpDir("landing")
    val notifier = new InMemoryNotifier
    val pipeline = new Pipeline(spark, new Catalog(spark, tmpDir("wh")), notifier, landing)
    val sp = new StreamingPipeline(spark, pipeline, tmpDir("ckpt"))

    write(landing, "b1/insert/customers.csv", "customer_id,name\n1,alice\n2,bob\n")
    val eventsDir = tmpDir("events")
    // duplicate id in the stream → deduped; one real registration
    write(eventsDir, "e.json",
      """{"bucket":"b1","name":"insert/customers.csv","id":"ev1"}
        |{"bucket":"b1","name":"insert/customers.csv","id":"ev1"}
        |{"bucket":"b1","name":"archive/skip.csv","id":"ev2"}
        |""".stripMargin)
    val q1 = sp.startIngest(eventsDir)
    q1.awaitTermination()
    val ctrl = pipeline.catalog.read(pipeline.ControlTable).as[ProcessedFile].collect()
    assert(ctrl.length == 1 && ctrl.head.event_id == "ev1")
    assert(notifier.sent.length == 1)

    val apprDir = tmpDir("approvals")
    write(apprDir, "a.json",
      """{"event_id":"ev1","action":"approve","file_name":"insert/customers.csv","table_name":"customers","operation":"insert","bucket":"b1","file_version":1}
        |{"event_id":"ev1","action":"approve","file_name":"insert/customers.csv","table_name":"customers","operation":"insert","bucket":"b1","file_version":1}
        |""".stripMargin)
    val q2 = sp.startApprovals(apprDir)
    q2.awaitTermination()
    assert(pipeline.catalog.read("customers").count() == 2)
    val done = pipeline.catalog.read(pipeline.ControlTable).as[ProcessedFile].head()
    assert(done.status == "approved" && done.is_processed)
    // dup approval (stream dedup + control-table idempotency): one result mail
    assert(notifier.sent.count(_.subject.contains("SUCCESS")) == 1)
  }

  test("ingest micro-batch of N arrivals = ONE control-table commit") {
    val landing = tmpDir("landing_1c")
    val notifier = new InMemoryNotifier
    val counting = new Catalog(spark, tmpDir("wh_1c")) {
      val appends = scala.collection.mutable.Map[String, Int]()
      override def appendLog(name: String,
          df: org.apache.spark.sql.DataFrame, evolveSchema: Boolean): Unit = {
        appends(name) = appends.getOrElse(name, 0) + 1
        super.appendLog(name, df, evolveSchema)
      }
    }
    val pipeline = new Pipeline(spark, counting, notifier, landing)
    val sp = new StreamingPipeline(spark, pipeline, tmpDir("ckpt_1c"))
    val eventsDir = tmpDir("events_1c")
    // 5 valid arrivals (3 files, one re-upload chain) + 1 filtered, in
    // one file = one AvailableNow micro-batch
    write(eventsDir, "e.json",
      """{"bucket":"b1","name":"insert/customers.csv","id":"iv1"}
        |{"bucket":"b1","name":"insert/parts.csv","id":"iv2"}
        |{"bucket":"b1","name":"update/customers.csv","id":"iv3"}
        |{"bucket":"b1","name":"insert/orders.csv","id":"iv4"}
        |{"bucket":"b1","name":"update/parts.csv","id":"iv5"}
        |{"bucket":"b1","name":"archive/skip.csv","id":"iv6"}
        |""".stripMargin)
    val q = sp.startIngest(eventsDir)
    q.awaitTermination()
    assert(counting.appends(pipeline.ControlTable) == 1,
      s"control-table appends: ${counting.appends}")
    val ctrl = pipeline.catalog.read(pipeline.ControlTable).as[ProcessedFile].collect()
    assert(ctrl.length == 5 && ctrl.forall(_.status == "pending"))
    // per-file version chains assigned within the single commit
    assert(ctrl.map(r => r.event_id -> r.file_version).toMap ==
      Map("iv1" -> 1L, "iv2" -> 1L, "iv3" -> 2L, "iv4" -> 1L, "iv5" -> 2L))
    assert(notifier.sent.length == 5)
  }

  test("approval stream restart from checkpoint stays exactly-once") {
    val landing = tmpDir("landing2")
    val notifier = new InMemoryNotifier
    val pipeline = new Pipeline(spark, new Catalog(spark, tmpDir("wh2")), notifier, landing)
    val ckpt = tmpDir("ckpt2")
    val sp = new StreamingPipeline(spark, pipeline, ckpt)

    write(landing, "b1/insert/customers.csv", "customer_id,name\n1,alice\n")
    pipeline.registerArrival(graft.model.FileEvent("b1", "insert/customers.csv", "ev1"))
    val apprDir = tmpDir("appr2")
    write(apprDir, "a1.json",
      """{"event_id":"ev1","action":"approve","file_name":"insert/customers.csv","table_name":"customers","operation":"insert","bucket":"b1","file_version":1}
        |""".stripMargin)
    val q1 = sp.startApprovals(apprDir)
    q1.awaitTermination()
    assert(pipeline.catalog.read("customers").count() == 1)
    val successesAfterFirst = notifier.sent.count(_.subject.contains("SUCCESS"))

    // restart: the old file is replayed from the checkpoint's processed
    // set (skipped), the duplicate approval in the new file hits the
    // control-table guard; only the genuinely new event applies
    write(landing, "b1/insert/parts.csv", "part_id,name\n7,bolt\n")
    pipeline.registerArrival(graft.model.FileEvent("b1", "insert/parts.csv", "ev2"))
    write(apprDir, "a2.json",
      """{"event_id":"ev1","action":"approve","file_name":"insert/customers.csv","table_name":"customers","operation":"insert","bucket":"b1","file_version":1}
        |{"event_id":"ev2","action":"approve","file_name":"insert/parts.csv","table_name":"parts","operation":"insert","bucket":"b1","file_version":1}
        |""".stripMargin)
    val q2 = sp.startApprovals(apprDir)
    q2.awaitTermination()
    assert(pipeline.catalog.read("customers").count() == 1) // no re-apply
    assert(pipeline.catalog.read("parts").count() == 1)
    assert(notifier.sent.count(_.subject.contains("SUCCESS")) == successesAfterFirst + 1)
  }

  test("windowed streaming counts match the batch query (AvailableNow drain)") {
    val srcDir = tmpDir("evsrc")
    // stream the real events table through a parquet file source
    val ev = graft.Tables.withTsUtc(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select("ts_utc", "event_type", "value", "event_id")
    ev.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(
        "ts_utc timestamp, event_type string, value double, event_id long")
      .parquet(srcDir)
    val agg = StreamingAnalytics.windowedCounts(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("win_out")
      .select($"ws", $"event_type", $"n").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    val batch = ev.groupBy(window($"ts_utc", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("sliding-window streaming counts match the batch query (AvailableNow drain)") {
    val srcDir = tmpDir("evslide")
    val ev = graft.Tables.withTsUtc(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select("ts_utc", "event_type", "value", "event_id")
    ev.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(
        "ts_utc timestamp, event_type string, value double, event_id long")
      .parquet(srcDir)
    val agg = StreamingAnalytics.slidingCounts(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("slide_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("slide_out")
      .select($"ws", $"event_type", $"n").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    val batch = ev.groupBy(window($"ts_utc", "1 hour", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // each event covers length/slide = 4 windows: the hopping totals
    // must be exactly 4x the event count
    val total = spark.table("slide_out").agg(sum($"n")).head().getLong(0)
    assert(total == ev.count() * 4)
  }

  test("stream-stream interval join matches the batch join") {
    val base = graft.Tables.withTsUtc(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select("user_id", "event_id", "event_type", "ts_utc")
    val clickDir = tmpDir("ssjc")
    val errorDir = tmpDir("ssje")
    base.filter($"event_type" === "click").write.mode("overwrite").parquet(clickDir)
    base.filter($"event_type" === "error").write.mode("overwrite").parquet(errorDir)
    val schema = "user_id long, event_id long, event_type string, ts_utc timestamp"
    val q = StreamingAnalytics.clicksBeforeErrors(
        spark.readStream.schema(schema).parquet(clickDir),
        spark.readStream.schema(schema).parquet(errorDir))
      .writeStream.outputMode("append").format("memory").queryName("ssj_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssj_out")
      .select("error_id", "click_id").as[(Long, Long)].collect().toSet
    val batch = StreamingAnalytics.clicksBeforeErrors(
        base.filter($"event_type" === "click"),
        base.filter($"event_type" === "error"))
      .select("error_id", "click_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  /** Fixture for the outer stream-stream join tests: click/error dirs
    * split from events, plus the watermark-pusher mechanics — outer
    * rows are released only when the GLOBAL watermark (min over both
    * streams) passes the match interval, and a batch's watermark takes
    * effect in the NEXT batch, so each side gets TWO far-future
    * sentinel batches: the first advances the watermark, the second
    * gives Spark the batch in which to evict state and emit the nulls.
    * maxFilesPerTrigger=1 keeps the sentinels in their own
    * micro-batches (one big AvailableNow batch would never see the
    * advanced watermark). Returns (clicks, errors, clickStream,
    * errorStream); sentinel user_ids are negative, so tests filter
    * `user_id >= 0`.
    */
  private def outerJoinFixture(tag: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val base = graft.Tables.withTsUtc(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select("user_id", "event_id", "event_type", "ts_utc")
    val clickDir = tmpDir(s"${tag}c")
    val errorDir = tmpDir(s"${tag}e")
    val clicks = base.filter($"event_type" === "click")
    val errors = base.filter($"event_type" === "error")
    clicks.write.mode("overwrite").parquet(clickDir)
    errors.write.mode("overwrite").parquet(errorDir)
    val maxTs = base.agg(max($"ts_utc")).head().getTimestamp(0).getTime
    def sentinel(dir: String, uid: Long, offsetHours: Int): Unit =
      Seq((uid, uid, "sentinel",
          new java.sql.Timestamp(maxTs + offsetHours * 3600L * 1000)))
        .toDF("user_id", "event_id", "event_type", "ts_utc")
        .write.mode("append").parquet(dir)
    sentinel(clickDir, -1L, 10); sentinel(errorDir, -2L, 10)
    sentinel(clickDir, -3L, 11); sentinel(errorDir, -4L, 11)
    val schema = "user_id long, event_id long, event_type string, ts_utc timestamp"
    def stream(dir: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    (clicks, errors, stream(clickDir), stream(errorDir))
  }

  test("stream-stream LEFT OUTER join emits watermark-proven nulls") {
    val (clicks, errors, clickStream, errorStream) = outerJoinFixture("ssoj")
    val q = StreamingAnalytics.errorsWithClicks(clickStream, errorStream)
      .writeStream.outputMode("append").format("memory").queryName("ssoj_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("ssoj_out").filter($"user_id" >= 0)
      .select($"error_id", coalesce($"click_id", lit(-1L)))
      .as[(Long, Long)].collect().toSet
    val batch = StreamingAnalytics.errorsWithClicks(clicks, errors)
      .select($"error_id", coalesce($"click_id", lit(-1L)))
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(_._2 == -1L),
      "no watermark-proven null rows emitted — outer path untested")
  }

  test("stream-stream FULL OUTER join accounts for both unmatched directions") {
    val (clicks, errors, clickStream, errorStream) = outerJoinFixture("ssfj")
    val q = StreamingAnalytics.clickErrorAudit(clickStream, errorStream)
      .writeStream.outputMode("append").format("memory").queryName("ssfj_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(coalesce($"error_id", lit(-1L)), coalesce($"click_id", lit(-1L)))
      .as[(Long, Long)].collect().toSet
    val streamed = norm(spark.table("ssfj_out").filter($"user_id" >= 0))
    val batch = norm(StreamingAnalytics.clickErrorAudit(clicks, errors))
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(_._2 == -1L),
      "no error-without-click rows — left-outer direction untested")
    assert(streamed.exists(_._1 == -1L),
      "no click-without-error rows — right-outer direction untested")
  }

  test("stream-static broadcast enrichment matches the batch join") {
    val base = graft.Tables.withTsUtc(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select("user_id", "event_id", "event_type", "ts_utc")
    val srcDir = tmpDir("enrichsrc")
    base.write.mode("overwrite").parquet(srcDir)
    // dimension: per-user segment derived from customer (left join —
    // users without a customer row keep null segment)
    val dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val schema = "user_id long, event_id long, event_type string, ts_utc timestamp"
    val q = StreamingAnalytics.enrichEvents(
        spark.readStream.schema(schema).parquet(srcDir), dim, "user_id")
      .writeStream.outputMode("append").format("memory").queryName("enrich_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("enrich_out")
      .select($"event_id", coalesce($"segment", lit("-")))
      .as[(Long, String)].collect().toSet
    val batch = StreamingAnalytics.enrichEvents(base, dim, "user_id")
      .select($"event_id", coalesce($"segment", lit("-")))
      .as[(Long, String)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("flatMapGroupsWithState sessionizer closes sessions across batches") {
    import StreamingAnalytics.{SessionEvent, ClosedSession}
    val srcDir = tmpDir("sesssrc")
    val gapUs = 30L * 60 * 1000 * 1000
    // batch 1: user 1 has two close events; user 2 one event
    Seq(SessionEvent(1L, 1000L), SessionEvent(1L, 2000L), SessionEvent(2L, 500L))
      .toDF().write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema("user_id long, ts_us long").parquet(srcDir)
      .as[SessionEvent]
    val q = StreamingAnalytics.sessionize(stream, gapUs)
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("sess_out").isEmpty) // nothing closed yet

    // batch 2: an event far in the future closes user 1's open session
    Seq(SessionEvent(1L, gapUs * 10)).toDF()
      .write.mode("append").parquet(srcDir)
    val q2 = StreamingAnalytics.sessionize(stream, gapUs)
      .writeStream.outputMode("append").format("memory").queryName("sess_out2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // fresh query re-reads all files; the early session closes
    val sessions = spark.table("sess_out2").as[ClosedSession].collect()
    assert(sessions.toSeq == Seq(ClosedSession(1L, 1000L, 2000L, 2)))
  }

  test("transformWithState sessionizer closes idle sessions via event-time timers") {
    import StreamingAnalytics.ClosedSession
    val srcDir = tmpDir("twssrc")
    val gapUs = 30L * 60 * 1000 * 1000
    val t0 = 1700000000000000L // 2023-11-14, microseconds
    // user 1: two events close together, then one > gap later (two
    // sessions); user 2: a single event. The second user-1 session and
    // user 2's session never see a later same-key event — only the
    // event-time timer can close them.
    // ONE part file: under maxFilesPerTrigger=1 every part file becomes
    // its own micro-batch, and a multi-file first write would replay
    // these events in arbitrary file order across batches
    Seq((1L, t0), (1L, t0 + 1000000L), (1L, t0 + 2 * gapUs), (2L, t0))
      .toDF("user_id", "ts_us").repartition(1)
      .write.mode("overwrite").parquet(srcDir)
    // two far-future sentinel batches: the first advances the
    // watermark, the second gives the operator a batch in which the
    // advanced watermark fires the timers (a batch's watermark takes
    // effect in the NEXT batch); maxFilesPerTrigger=1 keeps them in
    // their own micro-batches
    Seq((99L, t0 + 100 * gapUs)).toDF("user_id", "ts_us")
      .write.mode("append").parquet(srcDir)
    Seq((98L, t0 + 101 * gapUs)).toDF("user_id", "ts_us")
      .write.mode("append").parquet(srcDir)

    // the v2 operator's multi-column-family state (value + timers)
    // exists only in the RocksDB provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema("user_id long, ts_us long")
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = StatefulV2.sessionizeWithTimers(stream, gapUs)
        .writeStream.outputMode("append").format("memory").queryName("tws_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("tws_out").as[ClosedSession]
        .collect().filter(_.user_id < 90).toSet
      // with timers the stream emits EVERY session, including the two
      // trailing idle ones the v1 operator could never close
      assert(got == Set(
        ClosedSession(1L, t0, t0 + 1000000L, 2),
        ClosedSession(1L, t0 + 2 * gapUs, t0 + 2 * gapUs, 1),
        ClosedSession(2L, t0, t0, 1)))
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("MapState per-category aggregate: stream-final equals batch groupBy") {
    val srcDir = tmpDir("mapstatesrc")
    // batch 1 (one part file), then batch 2 — maxFilesPerTrigger=1
    Seq((1L, "click", 1.0), (1L, "click", 2.0), (1L, "view", 5.0))
      .toDF("user_id", "event_type", "value").repartition(1)
      .write.mode("overwrite").parquet(srcDir)
    Seq((1L, "click", 4.0), (2L, "view", 1.0))
      .toDF("user_id", "event_type", "value").repartition(1)
      .write.mode("append").parquet(srcDir)

    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema("user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = StatefulV2.typeAggsWithMapState(stream)
        .writeStream.outputMode("update").format("memory").queryName("ms_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val emissions = spark.table("ms_out")
        .as[StatefulV2.TypeAgg].collect()
      // update-mode: latest emission per (user, type) is the one with max n
      val finals = emissions.groupBy(e => (e.user_id, e.event_type))
        .map { case (k, es) => k -> es.maxBy(_.n) }
      assert(finals((1L, "click")) == StatefulV2.TypeAgg(1L, "click", 3L, 7.0))
      assert(finals((1L, "view")) == StatefulV2.TypeAgg(1L, "view", 1L, 5.0))
      assert(finals((2L, "view")) == StatefulV2.TypeAgg(2L, "view", 1L, 1.0))
      // and the intermediate batch-1 state for (1, click) was emitted too
      assert(emissions.exists(e =>
        e.user_id == 1L && e.event_type == "click" && e.n == 2L && e.total == 3.0))
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("ListState bounded buffer flushes last-N digest on idle timer") {
    val srcDir = tmpDir("liststatesrc")
    val gapUs = 30L * 60 * 1000 * 1000
    val t0 = 1700000000000000L
    // user 1: five events 1s apart (buffer keeps newest 3);
    // user 2: a single event. Neither sees a later same-key event —
    // only the idle timer can flush them.
    Seq((1L, t0, 1.0), (1L, t0 + 1000000L, 2.0), (1L, t0 + 2000000L, 3.0),
      (1L, t0 + 3000000L, 4.0), (1L, t0 + 4000000L, 5.0), (2L, t0, 7.0))
      .toDF("user_id", "ts_us", "value").repartition(1)
      .write.mode("overwrite").parquet(srcDir)
    // two far-future sentinel batches: first advances the watermark,
    // second fires the timers under the advanced watermark
    Seq((99L, t0 + 100 * gapUs, 0.0)).toDF("user_id", "ts_us", "value")
      .write.mode("append").parquet(srcDir)
    Seq((98L, t0 + 101 * gapUs, 0.0)).toDF("user_id", "ts_us", "value")
      .write.mode("append").parquet(srcDir)

    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema("user_id long, ts_us long, value double")
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = StatefulV2.recentDigestsWithListState(stream, keep = 3, gapUs)
        .writeStream.outputMode("append").format("memory").queryName("ls_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("ls_out").as[StatefulV2.RecentDigest]
        .collect().filter(_.user_id < 90).toSet
      assert(got == Set(
        // newest 3 of user 1's five events: ts t0+2s..t0+4s, values 3+4+5
        StatefulV2.RecentDigest(1L, 3, t0 + 2000000L, t0 + 4000000L, 12.0),
        StatefulV2.RecentDigest(2L, 1, t0, t0, 7.0)))
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming document dedup keeps first occurrence per fingerprint") {
    val srcDir = tmpDir("docdupsrc")
    Seq(
      (10L, "2024-01-01 00:00:00", "the quick brown fox"),
      (11L, "2024-01-01 00:05:00", "THE  quick   brown fox"), // normalizes equal
      (12L, "2024-01-01 00:10:00", "a different document"),
      (13L, "2024-01-01 00:15:00", "the quick brown fox"))
      .toDF("doc_id", "ts_s", "text")
      .withColumn("ts_utc", to_timestamp($"ts_s")).drop("ts_s")
      .write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_id long, text string, ts_utc timestamp").parquet(srcDir)
    val q = StreamingAnalytics.dedupDocuments(stream)
      .writeStream.outputMode("append").format("memory").queryName("docdedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("docdedup_out").select("doc_id").as[Long].collect().toSet
    assert(kept.contains(12L))
    // exactly one survivor of the three normalize-equal docs
    assert((kept & Set(10L, 11L, 13L)).size == 1)
  }

  test("dropDuplicatesWithinWatermark removes in-stream dup ids") {
    val srcDir = tmpDir("dupsrc")
    Seq((1L, "2024-01-01 00:00:00", "a", 1.0), (1L, "2024-01-01 00:05:00", "a", 1.0),
      (2L, "2024-01-01 00:10:00", "b", 2.0))
      .toDF("event_id", "ts_s", "event_type", "value")
      .withColumn("ts_utc", to_timestamp($"ts_s")).drop("ts_s")
      .write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(
        "event_id long, event_type string, value double, ts_utc timestamp")
      .parquet(srcDir)
    val q = StreamingAnalytics.dedupEvents(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("dedup_out").select("event_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
  }

  test("ValueState TTL: expired keys re-count from zero; long-TTL control survives restart") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Trigger.Once, NOT AvailableNow/processAllAvailable: a
    // ProcessingTime-mode stateful operator keeps requesting batches
    // for TTL eviction, so those never self-terminate. One batch per
    // drain is right anyway — TTL expiry is enforced on the state READ
    // path (an expired value reads as absent). foreachBatch, not the
    // memory sink: only the former supports checkpoint recovery, and
    // the restarts ARE the test.
    def drain(srcDir: String, ck: String, ttl: java.time.Duration): Map[Long, Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      val stream = spark.readStream
        .schema("user_id long, event_type string, value double")
        .parquet(srcDir)
      val q = StatefulV2.countsWithTtl(stream, ttl)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StatefulV2.KeyCount], _: Long) =>
          b.collect().foreach(kc => got.add(kc.user_id -> kc.n)); ()
        }
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.groupBy(_._1).map { case (k, es) => k -> es.map(_._2).max }
    }
    try {
      // control: 10-minute TTL — state SURVIVES the restart (query
      // startup latency ≫ the short TTL, so this isolates expiry as
      // the cause of the reset below, not the restart itself)
      val (srcA, ckA) = (tmpDir("ttlsrcA"), tmpDir("ttlckA"))
      Seq((1L, "click", 1.0), (1L, "click", 2.0), (2L, "view", 1.0))
        .toDF("user_id", "event_type", "value").repartition(1)
        .write.mode("overwrite").parquet(srcA)
      assert(drain(srcA, ckA, java.time.Duration.ofMinutes(10)) ==
        Map(1L -> 2L, 2L -> 1L))
      Seq((1L, "click", 3.0)).toDF("user_id", "event_type", "value")
        .repartition(1).write.mode("append").parquet(srcA)
      assert(drain(srcA, ckA, java.time.Duration.ofMinutes(10))(1L) == 3L)

      // treatment: 1-second TTL — by the restarted batch the idle
      // values have expired and both keys re-count from zero
      val (srcB, ckB) = (tmpDir("ttlsrcB"), tmpDir("ttlckB"))
      Seq((1L, "click", 1.0), (1L, "click", 2.0), (2L, "view", 1.0))
        .toDF("user_id", "event_type", "value").repartition(1)
        .write.mode("overwrite").parquet(srcB)
      assert(drain(srcB, ckB, java.time.Duration.ofSeconds(1)) ==
        Map(1L -> 2L, 2L -> 1L))
      Thread.sleep(1500)
      Seq((1L, "click", 9.0), (2L, "view", 9.0))
        .toDF("user_id", "event_type", "value").repartition(1)
        .write.mode("append").parquet(srcB)
      val after = drain(srcB, ckB, java.time.Duration.ofSeconds(1))
      assert(after(1L) == 1L && after(2L) == 1L)
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
