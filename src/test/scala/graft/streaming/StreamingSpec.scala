package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import EventStreams._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("hourlyCounts aggregates tumbling windows with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = hourlyCounts(mem.toDF(), lateness = "10 minutes")
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(15), 2, "view", 3.0))
      q.processAllAvailable()
      // advance watermark past the 10:00 window
      mem.addData(Event(4, Timestamp.valueOf("2024-01-01 12:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select("event_type", "n", "total_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("hourlyCounts with a slide produces hopping windows (each event in two)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = hourlyCounts(mem.toDF(), lateness = "10 minutes",
        windowesize = "1 hour", slide = "30 minutes")
      .writeStream.format("memory").queryName("hopping")
      .outputMode("append").start()
    try {
      mem.addData(Event(1, ts(40), 1, "click", 1.0)) // 10:40
      q.processAllAvailable()
      mem.addData(Event(2, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val starts = spark.table("hopping")
        .where(col("event_type") === "click")
        .select("hour").as[Timestamp].collect().map(_.toString).sorted.toSeq
      // 10:40 falls in [10:00,11:00) and [10:30,11:30)
      assert(starts == Seq("2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0"))
    } finally q.stop()
  }

  test("text quality/script/recipe filters run unchanged on a stream") {
    // the r7 text-recipe family (gopherKeep, scriptId, repetition,
    // scrubbing, fingerprints) is stateless scan-speed projection —
    // the whole point is that one filter definition serves batch
    // backfills AND the streaming ingest path with no state config
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val prose = "the quick brown fox jumps over a lazy dog while seven " +
      "wizards quietly brew strong coffee under bright autumn skies and " +
      "children watch distant ships sail past rocky harbor cliffs today"
    val filtered = mem.toDF().toDF("doc_id", "text")
      .withColumn("script", graft.text.TextAnalysis.scriptId(col("text")))
      .where(graft.text.TextAnalysis.gopherKeep(col("text")))
    val q = filtered.writeStream.format("memory").queryName("quality_route")
      .outputMode("append").start()
    try {
      mem.addData((1L, prose), (2L, "too short"), (3L, prose + " extra"))
      q.processAllAvailable()
      val rows = spark.table("quality_route")
        .select("doc_id", "script").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "latin"), (3L, "latin")))
    } finally q.stop()
  }

  test("perceptual image hashing runs unchanged on a stream") {
    // hashImages is a stateless mapPartitions — the multimodal ingest
    // path hashes media as it arrives with the same code as backfills
    implicit val sqlCtx = spark.sqlContext
    def png(v: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 32)
        img.setRGB(x, y, if (x < v) 0xffffff else 0)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val mem = MemoryStream[(Long, Array[Byte])]
    val out = graft.multimodal.ImageHash.hashImages(
      mem.toDF().toDF("media_id", "payload"), "media_id", "payload")
    val q = out.writeStream.format("memory").queryName("img_ingest")
      .outputMode("append").start()
    try {
      mem.addData((1L, png(8)), (2L, png(24)), (3L, Array[Byte](7)))
      q.processAllAvailable()
      val rows = spark.table("img_ingest").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      assert(rows.keySet === Set(1L, 2L, 3L))
      assert(rows(3L).isEmpty) // undecodable → null, stream survives
      // batch parity
      import spark.implicits._
      val batch = graft.multimodal.ImageHash.hashImages(
        Seq((1L, png(8)), (2L, png(24))).toDF("media_id", "payload"),
        "media_id", "payload").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows(1L).contains(batch(1L)) && rows(2L).contains(batch(2L)))
    } finally q.stop()
  }

  test("split assignment and random projection run unchanged on a stream") {
    // both are stateless narrow maps (content-hash membership, plan-
    // literal sign matrix) — the same definition serves batch and the
    // ingest path, and a row's split never depends on what else is in
    // the batch
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val out = graft.ops.RandomProjection.project(
      graft.ops.Sampling.assignSplit(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
      "embedding", d = 8, k = 2)
    val q = out.writeStream.format("memory").queryName("split_proj")
      .outputMode("append").start()
    try {
      mem.addData((1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(2.0f)))
      q.processAllAvailable()
      mem.addData((3L, Array.fill(8)(3.0f)))
      q.processAllAvailable()
      val rows = spark.table("split_proj")
        .select("vec_id", "split", "proj").collect()
      assert(rows.length === 3)
      // batch parity: the streamed assignment equals the batch one
      import spark.implicits._
      val batch = graft.ops.Sampling.assignSplit(
        Seq(1L, 2L, 3L).toDF("vec_id"), "vec_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("vec_id", "split").as[(Long, String)].collect().toMap
      rows.foreach(r => assert(r.getString(1) === batch(r.getLong(0))))
    } finally q.stop()
  }

  test("streaming ewma matches the batch fold across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = ewmaLevels(mem.toDS(), alpha = 0.25)
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("update").start()
    try {
      // batch 1: values 8, 0 → level 8 then 8*.75+0*.25 = 6
      mem.addData(Event(1, ts(0), 1, "m", 8.0), Event(2, ts(1), 1, "m", 0.0))
      q.processAllAvailable()
      // batch 2: value 4 → 6*.75 + 4*.25 = 5.5 — state carried over
      mem.addData(Event(3, ts(2), 1, "m", 4.0))
      q.processAllAvailable()
      val rows = spark.table("ewma_stream").as[EwmaLevel].collect()
        .filter(_.user_id == 1L)
      val last = rows.maxBy(_.n)
      assert(last.n == 3L && last.level == 5.5)
      // parity with the batch operator over the same rows as one frame
      val batch = graft.ops.Smoothing.ewmaLevel(
        Seq((1L, 0L, 1L, 8.0), (1L, 1L, 2L, 0.0), (1L, 2L, 3L, 4.0))
          .toDF("k", "t", "id", "v"), "k", "t", "id", "v", 0.25)
        .collect()(0).getDouble(2)
      assert(batch == 5.5)
    } finally q.stop()
  }

  test("streaming cusum matches the batch fold across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = cusumLevels(mem.toDS(), target = 10.0, slack = 1.0,
        threshold = 5.0)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("update").start()
    try {
      mem.addData(Event(1, ts(0), 1, "m", 10.0), Event(2, ts(1), 1, "m", 13.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(2), 1, "m", 13.0), Event(4, ts(3), 1, "m", 13.0),
        Event(5, ts(4), 1, "m", 13.0))
      q.processAllAvailable()
      val last = spark.table("cusum_stream").as[CusumLevel].collect()
        .filter(_.user_id == 1L).maxBy(_.n)
      // steps add 0,2,2,2,2 -> S+ = 8, crossing 5 at step 4
      assert(last.n == 5L && last.first_alert == 4L && last.n_alerts == 2L)
      val batch = graft.ops.Smoothing.cusumAlerts(
        Seq((1L, 0L, 1L, 10.0), (1L, 1L, 2L, 13.0), (1L, 2L, 3L, 13.0),
          (1L, 3L, 4L, 13.0), (1L, 4L, 5L, 13.0))
          .toDF("k", "t", "id", "v"), "k", "t", "id", "v", 10.0, 1.0, 5.0)
        .collect()(0)
      assert(batch.getLong(2) == last.n_alerts &&
        batch.getLong(3) == last.first_alert)
      assert(batch.getDouble(4) == math.floor(last.sp * 1e6) / 1e6)
    } finally q.stop()
  }

  test("sessionize closes a session after the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then 2h later one more
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 2.0),
        Event(3, Timestamp.valueOf("2024-01-01 12:30:00"), 1, "view", 5.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[Session].collect()
      // first session closed immediately (same batch saw the gap)
      assert(sessions.exists(s =>
        s.user_id == 1 && s.n_events == 2 && s.total_value == 3.0))
    } finally q.stop()
  }

  test("windowed agg resumes from checkpoint with state intact (reference checkpoint_manager analogue)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val mem = MemoryStream[Event]
    // memory sinks cannot recover from a checkpoint — use the file sink
    def start() = hourlyCounts(mem.toDF(), lateness = "10 minutes")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try {
      mem.addData(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(10), 1, "click", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart against the same checkpoint: pending window state must
    // survive and close once the watermark passes
    val q2 = start()
    try {
      mem.addData(Event(3, ts(20), 1, "click", 4.0))
      q2.processAllAvailable()
      mem.addData(Event(4, Timestamp.valueOf("2024-01-01 12:00:00"), 2, "view", 0.5))
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
        .where(col("event_type") === "click")
        .select("n", "total_value").as[(Long, Double)].collect().toSet
      // all three clicks (2 pre-restart + 1 post-restart) in one window
      assert(rows == Set((3L, 7.0)))
    } finally q2.stop()
  }

  test("validateAndRoute splits a file-drop stream into valid/error sinks") {
    import graft.rules.{Checks, Rule, RuleSet}
    val dir = java.nio.file.Files.createTempDirectory("graft-route").toString
    val drop = s"$dir/drop"; new java.io.File(drop).mkdirs()
    val rules = RuleSet(Seq(
      Rule("code.digits", Checks.digits(col("code"), 3), "code must be 3 digits")))

    // land a "file drop" before the stream starts (AvailableNow drains it)
    import spark.implicits._
    Seq(("P1", "123"), ("P2", "12X"), ("P3", "999"), ("P4", ""))
      .toDF("pid", "code").write.mode("append").parquet(drop)

    val stream = spark.readStream
      .schema("pid STRING, code STRING")
      .parquet(drop)
    val q = EventStreams.validateAndRoute(stream, rules, "pid",
      s"$dir/valid", s"$dir/errors", s"$dir/ckpt")
    try q.awaitTermination(60000) finally q.stop()

    val valid = spark.read.parquet(s"$dir/valid").select("pid").as[String].collect().toSet
    // blank code passes the digits rule (format rules skip blanks)
    assert(valid == Set("P1", "P3", "P4"))
    val errs = spark.read.parquet(s"$dir/errors")
      .select("PayeeId", "ERROR_DESC").as[(String, String)].collect().toMap
    assert(errs == Map("P2" -> "code must be 3 digits"))

    // wipe the checkpoint and rerun with the SAME checkpoint path —
    // the worst-case foreachBatch retry (batch 0 replays the same
    // files under the same run identity): the (run_id, batch_id)
    // dynamic overwrite must replace, not append — counts unchanged
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/ckpt"))
    val q2 = EventStreams.validateAndRoute(stream, rules, "pid",
      s"$dir/valid", s"$dir/errors", s"$dir/ckpt")
    try q2.awaitTermination(60000) finally q2.stop()
    assert(spark.read.parquet(s"$dir/valid").count() == 3)
    assert(spark.read.parquet(s"$dir/errors").count() == 1)

    // a DIFFERENT checkpoint is a different run: its batches must land
    // beside the old ones, never overwrite them
    val q3 = EventStreams.validateAndRoute(stream, rules, "pid",
      s"$dir/valid", s"$dir/errors", s"$dir/ckpt-new")
    try q3.awaitTermination(60000) finally q3.stop()
    assert(spark.read.parquet(s"$dir/valid").count() == 6)
    assert(spark.read.parquet(s"$dir/valid").select("run_id").distinct().count() == 2)
  }

  test("validateAndRouteCommitted: sinks are commit-log tables with atomic visibility") {
    import graft.rules.{Checks, Rule, RuleSet}
    import graft.sources.CommitLog
    val dir = java.nio.file.Files.createTempDirectory("graft-route-tx").toString
    val drop = s"$dir/drop"; new java.io.File(drop).mkdirs()
    val rules = RuleSet(Seq(
      Rule("code.digits", Checks.digits(col("code"), 3), "code must be 3 digits")))
    import spark.implicits._
    Seq(("P1", "123"), ("P2", "12X"), ("P3", "999"))
      .toDF("pid", "code").write.mode("append").parquet(drop)

    val stream = spark.readStream.schema("pid STRING, code STRING").parquet(drop)
    val q = EventStreams.validateAndRouteCommitted(stream, rules, "pid",
      s"$dir/valid", s"$dir/errors", s"$dir/ckpt")
    try q.awaitTermination(60000) finally q.stop()

    // both sinks read through the log with exactly the routed rows
    val valid = CommitLog.readCommitted(spark, s"$dir/valid").get
    assert(valid.select("pid").as[String].collect().toSet == Set("P1", "P3"))
    val errs = CommitLog.readCommitted(spark, s"$dir/errors").get
    assert(errs.select("PayeeId").as[String].collect().toSet == Set("P2"))

    // a torn partition (crashed writer, no marker) stays invisible to
    // the committed read even though the files are in the table
    Seq(("PX", "000")).toDF("pid", "code")
      .withColumn("run_id", lit("deadbeef")).withColumn("batch_id", lit(7L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_id", "batch_id").parquet(s"$dir/valid")
    assert(CommitLog.readCommitted(spark, s"$dir/valid").get.count() == 2)
    assert(spark.read.parquet(s"$dir/valid").count() == 3) // legacy read sees it
  }

  test("validateAndRouteCommitted: an all-valid drop commits no error batch") {
    import graft.rules.{Checks, Rule, RuleSet}
    import graft.sources.CommitLog
    val dir = java.nio.file.Files.createTempDirectory("graft-route-ok").toString
    val drop = s"$dir/drop"; new java.io.File(drop).mkdirs()
    val rules = RuleSet(Seq(
      Rule("code.digits", Checks.digits(col("code"), 3), "code must be 3 digits")))
    import spark.implicits._
    Seq(("P1", "123"), ("P2", "456")).toDF("pid", "code")
      .write.mode("append").parquet(drop)
    val q = EventStreams.validateAndRouteCommitted(
      spark.readStream.schema("pid STRING, code STRING").parquet(drop),
      rules, "pid", s"$dir/valid", s"$dir/errors", s"$dir/ckpt")
    try q.awaitTermination(60000) finally q.stop()
    // the empty error slice wrote no partition, so it must commit no
    // marker: one naming a missing directory breaks every later read
    assert(CommitLog.readCommitted(spark, s"$dir/errors").isEmpty)
    assert(CommitLog.readCommitted(spark, s"$dir/valid").get
      .select("pid").as[String].collect().toSet == Set("P1", "P2"))
  }

  test("restarted ingest with an added column: committed reads span the evolution") {
    // the long-lived-ingest scenario commit-log schema evolution (r15)
    // exists for: a stream restarts with a widened schema, the table
    // now holds batches of BOTH shapes, and the committed read merges
    // them (old batches NULL for the new column) without rewriting
    // history or forking the table
    import graft.rules.{Checks, Rule, RuleSet}
    import graft.sources.CommitLog
    val dir = java.nio.file.Files.createTempDirectory("graft-route-evo").toString
    val drop = s"$dir/drop"; new java.io.File(drop).mkdirs()
    val rules = RuleSet(Seq(
      Rule("code.digits", Checks.digits(col("code"), 3), "code must be 3 digits")))
    import spark.implicits._
    Seq(("P1", "123"), ("P2", "456")).toDF("pid", "code")
      .write.mode("append").parquet(drop)
    val q1 = EventStreams.validateAndRouteCommitted(
      spark.readStream.schema("pid STRING, code STRING").parquet(drop),
      rules, "pid", s"$dir/valid", s"$dir/errors", s"$dir/ckpt1")
    try q1.awaitTermination(60000) finally q1.stop()
    // restart on an EVOLVED drop zone: same table, new column
    val drop2 = s"$dir/drop2"; new java.io.File(drop2).mkdirs()
    Seq(("P3", "789", "eu-west")).toDF("pid", "code", "region")
      .write.mode("append").parquet(drop2)
    val q2 = EventStreams.validateAndRouteCommitted(
      spark.readStream.schema("pid STRING, code STRING, region STRING")
        .parquet(drop2),
      rules, "pid", s"$dir/valid", s"$dir/errors", s"$dir/ckpt2")
    try q2.awaitTermination(60000) finally q2.stop()
    val all = CommitLog.readCommitted(spark, s"$dir/valid").get
    assert(all.columns.contains("region"))
    val rows = all.select("pid", "region").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("P1" -> null, "P2" -> null, "P3" -> "eu-west"), rows)
  }

  test("sessionWindowStats merges gap-based sessions in batch and streaming") {
    import spark.implicits._
    // batch: 2 events 5 min apart + 1 event 2h later → 2 sessions
    val batch = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.0),
      Event(3, Timestamp.valueOf("2024-01-01 12:30:00"), 1, "view", 5.0)).toDF()
    val sessions = sessionWindowStats(batch, gap = "30 minutes")
      .select("n_events", "total_value").as[(Long, Double)].collect().toSet
    assert(sessions == Set((2L, 3.0), (1L, 5.0)))

    // streaming: same input through a watermark; first session emits
    // once the watermark passes its close
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionWindowStats(mem.toDF(), gap = "30 minutes",
        lateness = Some("10 minutes"))
      .writeStream.format("memory").queryName("sw_sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Event(3, Timestamp.valueOf("2024-01-01 12:30:00"), 1, "view", 5.0))
      q.processAllAvailable()
      val emitted = spark.table("sw_sessions")
        .select("n_events", "total_value").as[(Long, Double)].collect().toSet
      assert(emitted == Set((2L, 3.0)))
    } finally q.stop()
  }

  test("dedupStream drops redelivered events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = dedupStream(mem.toDF(), keys = Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(0), 1, "click", 1.0),   // same-batch duplicate
        Event(2, ts(5), 1, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Event(1, ts(1), 1, "click", 1.0)) // cross-batch redelivery
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with recent signups only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = purchasesWithRecentSignups(mem.toDF(), windowSec = 1800)
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(10, ts(0), 1, "signup", 0.0),
        Event(11, ts(20), 1, "purchase", 9.0),  // 20 min after signup → match
        Event(12, ts(0), 2, "signup", 0.0),
        Event(13, Timestamp.valueOf("2024-01-01 11:30:00"), 2, "purchase", 5.0)) // 90 min → no match
      q.processAllAvailable()
      val rows = spark.table("ss_join").select("p_id", "s_id")
        .as[(Long, Long)].collect().toSet
      assert(rows == Set((11L, 10L)))
    } finally q.stop()
  }

  test("sessionize batch-mode equivalence on the events table") {
    // same gap logic as the q_events_sessions batch query, via the
    // streaming operator run over a bounded stream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions2")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(5), 7, "click", 1.0),
        Event(3, ts(30), 7, "click", 1.0),  // new session (25 min gap)
        Event(4, ts(35), 7, "click", 1.0))
      q.processAllAvailable()
      val closed = spark.table("sessions2").as[Session].collect()
      assert(closed.length == 1 && closed.head.n_events == 2)
    } finally q.stop()
  }

  test("streaming windowed distinct matches the batch sketch bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = windowedDistinct(mem.toDS(), windowMs = 3600000L, p = 10)
      .writeStream.format("memory").queryName("wdist_stream")
      .outputMode("update").start()
    try {
      // window 0: users 1..40 across two micro-batches (some repeats);
      // window 1: users 100..109
      mem.addData((1 to 25).map(i => Event(i, ts(i % 7), i.toLong, "m", 1.0)): _*)
      q.processAllAvailable()
      mem.addData((20 to 40).map(i => Event(100 + i, ts(i % 7), i.toLong, "m", 1.0)): _*)
      // second window: one hour later than the ts() base
      val later = new java.sql.Timestamp(ts(0).getTime + 3600000L)
      mem.addData((0 until 10).map(i =>
        Event(900 + i, later, 100L + i, "m", 1.0)): _*)
      q.processAllAvailable()
      val rows = spark.table("wdist_stream")
        .as[WindowDistinct].collect()
      def winOf(t: java.sql.Timestamp): Long =
        Math.floorDiv(t.getTime, 3600000L) * 3600000L
      val w0 = rows.filter(_.window_start.getTime == winOf(ts(0)))
        .maxBy(_.n_events)
      val w1 = rows.filter(_.window_start.getTime == winOf(later))
        .maxBy(_.n_events)
      assert(w0.n_events == 46L && w1.n_events == 10L)
      // parity: the batch sketch over the same distinct users
      def batchEst(users: Seq[Long]): Long = {
        val regs = new Array[Byte](1 << 10)
        graft.expr.HllSketch.registersMd5(
            users.toDF("u"), "u", p = 10)
          .collect().foreach(r =>
            regs(r.getLong(0).toInt) = r.getInt(1).toByte)
        graft.expr.HllSketch.estimate(regs, 10)
      }
      assert(w0.distinct_est == batchEst((1L to 40L)))
      assert(w1.distinct_est == batchEst((100L to 109L)))
      // small-n linear counting is near-exact
      assert(math.abs(w1.distinct_est - 10L) <= 1)
    } finally q.stop()
  }
}
