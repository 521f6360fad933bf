package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {

  /** First `.parquet` path under `dir`, CLOSING the directory stream —
    * an unclosed `Files.list` leaks a directory handle in the test JVM.
    */
  private def firstParquet(dir: java.nio.file.Path): String = {
    val s = java.nio.file.Files.list(dir)
    try s.toArray.map(_.toString).find(_.endsWith(".parquet")).get
    finally s.close()
  }

  /** The real events table re-staged ONCE in the engine-internal shape
    * (ts int64 ns). Round-7 testdata writes ts as TIMESTAMP(MICROS),
    * but a file stream declares ONE schema and these specs stage
    * internal-shape sentinel fixtures into the same directories — so
    * every stream source starts from this normalized single file
    * instead of the raw driver parquet.
    */
  private lazy val normalizedEventsFile: java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-events-norm")
    graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = firstParquet(tmp)
    java.nio.file.Paths.get(part)
  }

  /** File streams need a directory source — stage the single-file
    * events table into a temp dir.
    */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(normalizedEventsFile, dir.resolve("events.parquet"))
    dir.toString
  }

  test("hourlyRollup over a file-source stream matches the batch plan") {
    val streamed = EventStream.hourlyRollup(
      EventStream.readEvents(spark, eventsDir))
    val q = streamed.writeStream
      .format("memory").queryName("hourly_stream").outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("hourly_stream")
      .orderBy("window_start", "event_type").collect()
    val expected = EventStream.hourlyRollup(
      spark.read.parquet(s"$eventsDir/events.parquet"))
      .orderBy("window_start", "event_type").collect()
    assert(got.length === expected.length)
    assert(got.map(_.toString).toSeq === expected.map(_.toString).toSeq)
    assert(got.map(_.getAs[Long]("n")).sum > 0)
  }

  test("hourlyBlocklistHits: streaming automaton counts equal the batch twin") {
    val terms = Seq("click" -> "type", "purchase" -> "type",
      "7" -> "digit", "zzzq" -> "absent")
    val streamed = EventStream.hourlyBlocklistHits(
      EventStream.readEvents(spark, eventsDir), terms)
    val q = streamed.writeStream
      .format("memory").queryName("blocklist_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("blocklist_stream")
      .orderBy("window_start", "category").collect()
    val expected = EventStream.hourlyBlocklistHits(
      spark.read.parquet(s"$eventsDir/events.parquet"), terms)
      .orderBy("window_start", "category").collect()
    assert(got.map(_.toString).toSeq === expected.map(_.toString).toSeq)
    // the monitor must actually fire on this fixture (type + digit
    // terms hit; the absent category rides along as dense zeros)
    val byCat = spark.table("blocklist_stream")
      .groupBy("category").agg(sum("hits").as("h")).collect()
      .map(r => r.getAs[String]("category") -> r.getAs[Long]("h")).toMap
    assert(byCat("type") > 0L)
    assert(byCat("digit") > 0L)
    assert(byCat("absent") === 0L)
  }

  test("dedupStream drops duplicate event ids within the watermark") {
    // stage the events file twice → every event delivered twice
    val dupDir = java.nio.file.Files.createTempDirectory("graft-dup")
    java.nio.file.Files.copy(normalizedEventsFile,
      dupDir.resolve("a.parquet"))
    java.nio.file.Files.copy(normalizedEventsFile,
      dupDir.resolve("b.parquet"))
    val q = EventStream.dedupStream(
        EventStream.readEvents(spark, dupDir.toString))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("dedup_stream").count()
    val distinctIds = spark.read.parquet(s"$dupDir/a.parquet")
      .select("event_id").distinct().count()
    assert(n === distinctIds)
  }

  test("stream-stream interval join matches its batch twin") {
    val streamed = EventStream.clickPurchaseJoin(
      EventStream.readEvents(spark, eventsDir), windowMinutes = 60)
    val q = streamed.writeStream
      .format("memory").queryName("cpj_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cpj_stream")
      .orderBy("click_id", "purchase_id").collect()
    val expected = EventStream.clickPurchaseJoin(
        spark.read.parquet(s"$eventsDir/events.parquet"), windowMinutes = 60)
      .orderBy("click_id", "purchase_id").collect()
    assert(got.length === expected.length)
    assert(got.length > 0, "interval join should match some click/purchase pairs")
    assert(got.map(_.toString).toSeq === expected.map(_.toString).toSeq)
  }

  test("hourlyUniqueUsers: streaming HLL sketches equal the batch sketch") {
    val streamed = EventStream.hourlyUniqueUsers(
      EventStream.readEvents(spark, eventsDir))
    val q = streamed.writeStream
      .format("memory").queryName("uniq_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("uniq_stream")
      .orderBy("window_start", "event_type").collect()
    val expected = EventStream.hourlyUniqueUsers(
        spark.read.parquet(s"$eventsDir/events.parquet"))
      .orderBy("window_start", "event_type").collect()
    // identical data through identical sketches → identical estimates
    assert(got.map(_.toString).toSeq === expected.map(_.toString).toSeq)
    assert(got.map(_.getAs[Long]("approx_users")).sum > 0)
  }

  test("hourlyHeavyHitterSketches: streaming CMS bytes equal the batch sketch") {
    val streamed = EventStream.hourlyHeavyHitterSketches(
      EventStream.readEvents(spark, eventsDir))
    val q = streamed.writeStream
      .format("memory").queryName("hh_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Array[Byte]]("sketch").toSeq)
    }.toMap
    val got = keyed(spark.table("hh_stream").collect())
    val expected = keyed(EventStream.hourlyHeavyHitterSketches(
      spark.read.parquet(s"$eventsDir/events.parquet")).collect())
    assert(got.nonEmpty)
    // exact long-addition merges → BYTE-identical sketches per window
    assert(got === expected)
  }

  test("stream-static enrichment matches its batch twin, dim broadcast") {
    import spark.implicits._
    val dim = (0L until 50L).map(u => (u, s"tier${u % 3}")).toDF("user_id", "tier")
    val streamed = EventStream.enrich(
      EventStream.readEvents(spark, eventsDir), dim)
    val q = streamed.writeStream
      .format("memory").queryName("enrich_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enrich_stream")
      .orderBy("event_id").select("event_id", "user_id", "tier").collect()
    val expected = EventStream.enrich(
        spark.read.parquet(s"$eventsDir/events.parquet"), dim)
      .orderBy("event_id").select("event_id", "user_id", "tier").collect()
    assert(got.length === expected.length && got.length > 0)
    assert(got.map(_.toString).toSeq === expected.map(_.toString).toSeq)
    // every event with a known user is decorated
    assert(got.count(_.getAs[String]("tier") != null) > 0)
  }

  test("stream-stream LEFT OUTER interval join matches its batch twin") {
    import spark.implicits._
    // sentinel batches advance the watermark so unmatched clicks flush
    val srcDir = java.nio.file.Files.createTempDirectory("graft-loj-src")
    java.nio.file.Files.copy(normalizedEventsFile,
      srcDir.resolve("a_events.parquet"))
    val maxTs = spark.read.parquet(s"$srcDir/a_events.parquet")
      .agg(max("ts")).head().getLong(0)
    // the event_type filters sit BELOW each side's watermark node, so a
    // sentinel only advances the join watermark if BOTH sides see one:
    // each sentinel file carries a click AND a purchase for the sentinel
    // user (their self-match is filtered out of the comparison)
    def sentinel(name: String, eid: Long, ts: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-loj-sent")
      Seq((eid, ts, 999999L, "click", 0.0, null: String),
        (eid + 100, ts, 999999L, "purchase", 1.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), srcDir.resolve(name))
    }
    sentinel("b_sentinel.parquet", 999999L, maxTs + 36000L * 1000000000L)
    sentinel("c_sentinel.parquet", 999998L, maxTs + 72000L * 1000000000L)
    sentinel("d_sentinel.parquet", 999997L, maxTs + 108000L * 1000000000L)

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = EventStream.clickPurchaseLeftJoin(stream, windowMinutes = 60)
      .writeStream.format("memory").queryName("loj_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("click_id"), Option(r.getAs[java.lang.Long]("purchase_id")).map(_.toLong))
    val got = spark.table("loj_stream")
      .filter(col("user_id") =!= 999999L).collect().map(key).sorted.toSeq
    val expected = EventStream.clickPurchaseLeftJoin(
        spark.read.parquet(s"$srcDir/a_events.parquet"), windowMinutes = 60)
      .collect().map(key).sorted.toSeq
    assert(got === expected)
    // unmatched clicks really are present with null purchase columns
    assert(got.count(_._2.isEmpty) > 0)
    assert(got.count(_._2.nonEmpty) > 0)
  }

  test("sessionizeStream: late cross-batch events never rewind sessions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-late-src")
    val base = 1704067200L * 1000000000L  // 2024-01-01 in ns
    def min(m: Long) = base + m * 60L * 1000000000L
    def stage(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-late-tmp")
      rows.map { case (eid, ts, uid) => (eid, ts, uid, "click", 1.0, null: String) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    // batch 1: user 10 at +100min, +105min
    stage("a.parquet", Seq((1L, min(100), 10L), (2L, min(105), 10L)))
    // batch 2 (LATE, inside watermark): +30min (own session) and +103min
    // (merges into the parked [100,105] interval — must not rewind it)
    stage("b.parquet", Seq((3L, min(30), 10L), (4L, min(103), 10L)))
    // sentinels advance the watermark then fire the parked timeout
    stage("c.parquet", Seq((5L, min(100000), 999L)))
    stage("d.parquet", Seq((6L, min(200000), 999L)))

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.sessionizeStream(stream, gapMinutes = 30)
      .writeStream.format("memory").queryName("late_sess")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("late_sess").filter(col("user_id") === 10L)
      .collect().map(r => (r.getAs[Long]("session_start_us"),
        r.getAs[Long]("session_end_us"), r.getAs[Long]("n_events")))
      .sorted.toSeq
    // batch ground truth over the same 4 events: [30] and [100..105]×3
    assert(got === Seq(
      (min(30) / 1000, min(30) / 1000, 1L),
      (min(100) / 1000, min(105) / 1000, 3L)))
    // in particular: end >= start everywhere (the rewind bug inverted them)
    got.foreach { case (s, e, _) => assert(e >= s) }
  }

  test("mergeSink: streamed re-deliveries collapse into an idempotent table") {
    // stage the events file twice → every event delivered twice
    val dupDir = java.nio.file.Files.createTempDirectory("graft-sink-src")
    java.nio.file.Files.copy(normalizedEventsFile,
      dupDir.resolve("a.parquet"))
    java.nio.file.Files.copy(normalizedEventsFile,
      dupDir.resolve("b.parquet"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS t_sink")
    val q = EventStream.mergeSink(
      EventStream.readEvents(spark, dupDir.toString),
      "t_sink.events_merged", Seq("event_id"), ckpt)
    try q.processAllAvailable() finally q.stop()

    val table = spark.table("t_sink.events_merged")
    val distinctIds = spark.read.parquet(s"$dupDir/a.parquet")
      .select("event_id").distinct().count()
    assert(table.count() === distinctIds)          // doubled input, single rows
    assert(table.select("event_id").distinct().count() === distinctIds)
    assert(!spark.catalog.tableExists("t_sink.events_merged__tmp"))
  }

  test("mergeSink: every micro-batch publishes a version behind the view") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sink-batches")
    // move each copy in whole, so the file source never lists a partial file
    def stage(name: String): Unit = {
      val tmp = java.nio.file.Files.createTempFile("graft-sink-stage", ".parquet")
      java.nio.file.Files.copy(normalizedEventsFile, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.move(tmp, srcDir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS t_sink")
    val table = "t_sink.events_batches"
    stage("a.parquet")
    val q = EventStream.mergeSink(
      spark.readStream.schema(EventStream.eventsSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString),
      table, Seq("event_id"), ckpt)
    try {
      q.processAllAvailable()
      // the first batch already writes version 0 behind the view pointer
      assert(spark.catalog.getTable(table).tableType === "VIEW")
      assert(graft.pipeline.Lakehouse.listVersions(spark, table) === Seq(0))
      stage("b.parquet")
      q.processAllAvailable()
    } finally q.stop()

    val distinctIds = spark.read.parquet(s"$srcDir/a.parquet")
      .select("event_id").distinct().count()
    // the second batch re-delivers every event: the upsert collapses them
    assert(spark.table(table).count() === distinctIds)
    assert(graft.pipeline.Lakehouse.listVersions(spark, table) === Seq(0, 1))
  }

  test("sessionizeStream: watermark timeout flushes parked sessions (≡ batch)") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sess-src")
    java.nio.file.Files.copy(normalizedEventsFile,
      srcDir.resolve("a_events.parquet"))
    val batchEvents = spark.read.parquet(s"$srcDir/a_events.parquet")
    val maxTs = batchEvents.agg(max("ts")).head().getLong(0)
    // two sentinel events 10h/20h in the future: timeouts in batch N use
    // the watermark computed from batch N-1, so flushing EVERY real
    // session (including ones ending near the stream tail) needs two
    // extra triggers — the first advances the watermark, the second
    // fires the timeouts it enabled
    // the file stream source lists plain FILES, not write-output
    // directories — stage each sentinel as a single parquet file
    def sentinelFile(name: String, eventId: Long, ts: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sess-sent")
      Seq((eventId, ts, 999999L, "flush", 0.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), srcDir.resolve(name))
    }
    sentinelFile("b_sentinel.parquet", 999999L, maxTs + 36000L * 1000000000L)
    sentinelFile("c_sentinel.parquet", 999998L, maxTs + 72000L * 1000000000L)

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = EventStream.sessionizeStream(stream, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("sess_stream")
      .filter(col("user_id") =!= 999999L)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_start_us"), r.getAs[Long]("session_end_us"),
        r.getAs[Long]("n_events")))
      .sortBy(t => (t._1, t._2)).toSeq
    val expected = EventStream.sessionize(
        batchEvents.select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"),
          coalesce(col("value"), lit(0.0)).as("value")).as[EventStream.Ev],
        gapMinutes = 30)
      .collect().map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got.nonEmpty)
    assert(got === expected)
  }

  test("quotaStream: windowed per-user admissions equal the batch twin") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-quota-src")
    java.nio.file.Files.copy(normalizedEventsFile,
      srcDir.resolve("a_events.parquet"))
    val batchEvents = spark.read.parquet(s"$srcDir/a_events.parquet")
    val maxTs = batchEvents.agg(max("ts")).head().getLong(0)
    // two-sentinel pattern (sessionize timeout spec): the first advances
    // the watermark past every real window end, the second triggers the
    // timeouts that advance enabled. Offsets are computed from the
    // ALIGNED end of maxTs's 24h window plus the 1h watermark delay —
    // fixed offsets from maxTs only work when maxTs happens to fall
    // late in its UTC day.
    val winNs = 24L * 3600 * 1000000000L
    val lastWindowEnd = (maxTs / winNs + 1) * winNs
    def sentinelFile(name: String, eventId: Long, ts: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-quota-sent")
      Seq((eventId, ts, 999999L, "flush", 0.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), srcDir.resolve(name))
    }
    val delayNs = 2L * 3600 * 1000000000L  // watermark delay (1h) + margin
    sentinelFile("b_sentinel.parquet", 999999L, lastWindowEnd + delayNs)
    sentinelFile("c_sentinel.parquet", 999998L, lastWindowEnd + 2 * delayNs)

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = EventStream.quotaStream(stream, maxPerWindow = 2,
        windowHours = 24)
      .writeStream.format("memory").queryName("quota_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getAs[Long]("user_id"),
      r.getAs[Long]("win_start_us"), r.getAs[Long]("ts_us"),
      r.getAs[Long]("event_id"))
    val got = spark.table("quota_stream")
      .filter(col("user_id") =!= 999999L)
      .collect().map(key).sorted.toSeq
    val expected = EventStream.quota(batchEvents, maxPerWindow = 2,
        windowHours = 24)
      .collect().map(key).sorted.toSeq
    assert(got.nonEmpty)
    // quota actually bites: fewer admissions than raw events
    assert(got.length < batchEvents.count())
    assert(got === expected)
  }

  test("attributionStream: per-conversion credit equals the batch twin") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-attr-src")
    java.nio.file.Files.copy(normalizedEventsFile,
      srcDir.resolve("a_events.parquet"))
    val batchEvents = spark.read.parquet(s"$srcDir/a_events.parquet")
    val maxTs = batchEvents.agg(max("ts")).head().getLong(0)
    // sentinel advances the watermark past every real event so the
    // whole buffer finalizes (delay 1h + margin)
    def sentinelFile(name: String, eventId: Long, ts: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-attr-sent")
      Seq((eventId, ts, 999999L, "flush", 0.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), srcDir.resolve(name))
    }
    val delayNs = 2L * 3600 * 1000000000L
    sentinelFile("b_sentinel.parquet", 999999L, maxTs + delayNs)
    sentinelFile("c_sentinel.parquet", 999998L, maxTs + 2 * delayNs)

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = EventStream.attributionStream(stream)
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getAs[Long]("event_id"),
      r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
      Option(r.getAs[String]("prev_type")).getOrElse(""),
      Option(r.getAs[java.lang.Long]("gap_us")).map(_.toLong).getOrElse(-1L))
    val got = spark.table("attr_stream")
      .filter(col("user_id") =!= 999999L)
      .collect().map(key).sorted.toSeq
    val expected = EventStream.attributionBatch(batchEvents)
      .collect().map(key).sorted.toSeq
    assert(got.nonEmpty)
    // conversions with a real predecessor exist (the credit path bites)
    assert(got.exists(_._4.nonEmpty))
    assert(got === expected)
  }

  test("rollingActiveStream: 7-day distinct actives equal the batch twin") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-dau-src")
    java.nio.file.Files.copy(normalizedEventsFile,
      srcDir.resolve("a_events.parquet"))
    val batchEvents = spark.read.parquet(s"$srcDir/a_events.parquet")
    val maxTs = batchEvents.agg(max("ts")).head().getLong(0)
    // the sentinel must clear the 7-day + delay watermark horizon so
    // every real day's window closes; its own contributions land on
    // days beyond the real range and are filtered by day bound below
    def sentinelFile(name: String, eventId: Long, ts: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-dau-sent")
      Seq((eventId, ts, 999999L, "flush", 0.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), srcDir.resolve(name))
    }
    val horizonNs = 10L * 24 * 3600 * 1000000000L
    sentinelFile("b_sentinel.parquet", 999999L, maxTs + horizonNs)
    sentinelFile("c_sentinel.parquet", 999998L, maxTs + 2 * horizonNs)

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = EventStream.rollingActiveStream(stream)
      .writeStream.format("memory").queryName("dau_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // batch twin restricted to days with actual activity; same
    // restriction applied to the streamed rows (and the sentinel days
    // fall outside the real-day bound entirely)
    val batchDau = graft.operators.ProductAnalytics.rollingActiveUsers(
        batchEvents.withColumn("ts_us", expr("ts div 1000"))
          .select("user_id", "ts_us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotAll = spark.table("dau_stream")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = gotAll.filter { case (d, _) => batchDau.contains(d) }
    assert(got.nonEmpty)
    assert(got === batchDau)
  }

  test("sessionizeStream: restart from a durable checkpoint is exactly-once (≡ batch)") {
    import spark.implicits._
    // durable locations shared by BOTH query incarnations
    val srcDir = java.nio.file.Files.createTempDirectory("graft-restart-src")
    val outDir = java.nio.file.Files.createTempDirectory("graft-restart-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-restart-ckpt").toString

    val all = spark.read.parquet(normalizedEventsFile.toString)
    val midTs = all.stat.approxQuantile("ts", Array(0.5), 0.0).head.toLong
    val maxTs = all.agg(max("ts")).head().getLong(0)
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-restart-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), srcDir.resolve(name))
    }
    def run(): Unit = {
      val stream = spark.readStream.schema(EventStream.eventsSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val q = EventStream.sessionizeStream(stream, gapMinutes = 30)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    // phase 1: only the early half of the stream exists; stop mid-stream
    // (open sessions — including every one spanning the split point —
    // are parked in checkpointed state, and the sink has committed
    // whatever closed early)
    stage("a_first.parquet", all.filter(col("ts") <= midTs))
    run()
    // phase 2: a NEW query incarnation on the same checkpoint sees the
    // late half plus two watermark sentinels (timeouts in batch N use
    // the watermark from batch N-1 — two extra triggers flush the tail)
    stage("b_second.parquet", all.filter(col("ts") > midTs))
    stage("c_sentinel.parquet", Seq(
      (999999L, maxTs + 36000L * 1000000000L, 999999L, "flush", 0.0, null: String))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    stage("d_sentinel.parquet", Seq(
      (999998L, maxTs + 72000L * 1000000000L, 999999L, "flush", 0.0, null: String))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    run()

    // exactly-once: the recovered run must neither drop nor duplicate a
    // session, and sessions spanning the restart must merge — byte-equal
    // to the batch twin over the union of both halves
    val got = spark.read.parquet(outDir)
      .filter(col("user_id") =!= 999999L)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_start_us"), r.getAs[Long]("session_end_us"),
        r.getAs[Long]("n_events")))
      .sortBy(t => (t._1, t._2)).toSeq
    val expected = EventStream.sessionize(
        all.select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"),
          coalesce(col("value"), lit(0.0)).as("value")).as[EventStream.Ev],
        gapMinutes = 30)
      .collect().map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got.nonEmpty)
    assert(got === expected)
  }

  test("sessionize splits on gaps and aggregates custom state") {
    import spark.implicits._
    val evs = Seq(
      EventStream.Ev(1, 10L, 0L, "click", 1.0),
      EventStream.Ev(2, 10L, 5L * 60000000L, "click", 1.0),      // +5 min
      EventStream.Ev(3, 10L, 50L * 60000000L, "view", 1.0),      // +45 min → new session
      EventStream.Ev(4, 20L, 0L, "click", 1.0)).toDS()
    val sessions = EventStream.sessionize(evs, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start_us))
    assert(sessions.length === 3)
    assert(sessions(0).user_id === 10L && sessions(0).n_events === 2L)
    assert(sessions(0).session_end_us === 5L * 60000000L)
    assert(sessions(1).n_events === 1L)
    assert(sessions(2).user_id === 20L)
  }

  test("nearDupSink: per-micro-batch lookups equal the batch operator") {
    import graft.operators.Dedup
    import graft.tables.Tables
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val batchDocs = docs.filter(col("doc_id") % 10 >= 8)

    // standing index: caller persists both frames (the contract)
    val raw = Dedup.minHashIndex(corpus, col("text"), col("doc_id"))
    val base = raw.base.persist()
    val banded = raw.banded.persist()
    banded.count() // materialize once, before any micro-batch runs
    val index = raw.copy(base = base, banded = banded)

    // "today's crawl" arrives as two file chunks → two micro-batches
    val inDir = java.nio.file.Files.createTempDirectory("graft-docs-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-docs-out").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-docs-ck").toString
    batchDocs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(inDir.toString + "/c0")
    batchDocs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(inDir.toString + "/c1")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/c*")
    val q = graft.streaming.EventStream.nearDupSink(
      stream, index, "text", "doc_id", outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    base.unpersist(); banded.unpersist()

    val got = spark.read.parquet(outDir)
      .select("new_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Dedup.incrementalNearDups(corpus, batchDocs,
        col("text"), col("doc_id"))
      .select("new_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture should produce at least one near-dup")
  }

  test("standingNearDupSink: batch parity AND a mid-stream index flip moves the next batch to the new version") {
    import graft.operators.{Dedup, StandingIndex}
    import graft.tables.Tables
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    // fixture-informed split: batch 1 (doc_id >= 300) has a near-dup
    // partner (462, doc_id % 10 = 2) that exists ONLY in the v1
    // corpus, so the mid-stream flip is observable; batch 0 keeps a
    // v0-resolvable pair (98 → 290, doc_id % 10 = 0)
    val corpusV0 = docs.filter(col("doc_id") % 10 < 2)
    val corpusV1 = docs.filter(col("doc_id") % 10 < 8)
    val batchDocs = docs.filter(col("doc_id") % 10 >= 8)
    val c0 = batchDocs.filter(col("doc_id") < 300)
    val c1 = batchDocs.filter(col("doc_id") >= 300)

    val v0 = StandingIndex.buildNearDupIndex(spark, corpusV0, col("text"),
      col("doc_id"), nBuckets = 4, name = "stream_neardup")
    assert(v0 === 0)

    val inDir = java.nio.file.Files.createTempDirectory("graft-sidx-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-sidx-out").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sidx-ck").toString
    c0.coalesce(1).write.parquet(inDir.toString + "/c0")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/c*")
    val q = EventStream.standingNearDupSink(stream, "text", "doc_id",
      outDir, ckpt, name = "stream_neardup")
    try {
      q.processAllAvailable()          // batch 0 probes index v0
      // rebuild-and-flip WHILE the stream is running; the next
      // micro-batch must resolve the new version through the manifest
      val v1 = StandingIndex.buildNearDupIndex(spark, corpusV1, col("text"),
        col("doc_id"), nBuckets = 4, name = "stream_neardup")
      assert(v1 === 1)
      c1.coalesce(1).write.parquet(inDir.toString + "/c1")
      q.processAllAvailable()          // batch 1 probes index v1
    } finally q.stop()

    def expected(corpus: org.apache.spark.sql.DataFrame,
                 chunk: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.incrementalNearDups(corpus, chunk, col("text"), col("doc_id"))
        .select("new_id", "dup_of").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e0 = expected(corpusV0, c0)
    val e1 = expected(corpusV1, c1)
    val got = spark.read.parquet(outDir)
      .select("new_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (e0 ++ e1))
    // the flip must be observable: v1's larger corpus yields pairs the
    // v0 index cannot (else the test proves nothing about re-resolution)
    assert((e1 -- expected(corpusV0, c1)).nonEmpty,
      "fixture must distinguish index versions")
    assert(got.nonEmpty)
  }

  test("annProbeSink: batch parity AND a mid-stream frozen-quantizer append moves the next batch to the new version") {
    import graft.operators.{Similarity, StandingIndex}
    import graft.tables.Tables
    val d = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, d)
    val baseSlice = emb.filter(col("vec_id") < 300)   // seeds + corpus v0
    val deltaSlice = emb.filter(col("vec_id") >= 300) // appended at v1
    val queries = emb.filter(col("vec_id") >= 16 && col("vec_id") < 24)
    val c0 = queries.filter(col("vec_id") < 20)
    val c1 = queries.filter(col("vec_id") >= 20)

    val v0 = StandingIndex.buildAnnIndex(spark,
      Similarity.ivfadcTrain(baseSlice, nCells = 16, m = 4,
        ksub = 16, nQueries = 8, iters = 2),
      nBuckets = 4, name = "stream_ann")
    assert(v0 === 0)

    val inDir = java.nio.file.Files.createTempDirectory("graft-sann-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-sann-out").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sann-ck").toString
    c0.coalesce(1).write.parquet(inDir.toString + "/c0")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/c*")
    // nprobe = all cells so the appended vectors are reachable in
    // every query's candidate set — the flip observability needs it
    val q = EventStream.annProbeSink(stream, outDir, ckpt, k = 5,
      nprobe = 16, name = "stream_ann")
    try {
      q.processAllAvailable()          // batch 0 probes index v0
      // frozen-quantizer append WHILE the stream runs; the next
      // micro-batch must resolve the new version through the manifest
      val v1 = StandingIndex.appendAnnIndex(spark, deltaSlice,
        name = "stream_ann")
      assert(v1 === 1)
      c1.coalesce(1).write.parquet(inDir.toString + "/c1")
      q.processAllAvailable()          // batch 1 probes index v1
    } finally q.stop()

    def expected(qs: org.apache.spark.sql.DataFrame): Set[String] =
      StandingIndex.probeAnn(spark, qs, k = 5, nprobe = 16,
        name = "stream_ann").collect().map(_.toString).toSet
    // the live index is now v1: c1's expectation reads it directly;
    // c0's batch ran against v0, whose members are retained one cycle
    val e1 = expected(c1)
    val got = spark.read.parquet(outDir).collect().map(_.toString).toSet
    assert(got.size === 8 * 5)
    assert(e1.subsetOf(got), "batch-1 rows must equal the v1 probe")
    // flip observability: some of batch 1's neighbors are appended
    // vectors, which the v0 index cannot return
    val batch1Neighbors = spark.read.parquet(outDir)
      .filter(col("query_id") >= 20)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(batch1Neighbors.exists(_ >= 300),
      s"appended corpus must be retrievable: ${batch1Neighbors.toSeq}")
    val batch0Neighbors = spark.read.parquet(outDir)
      .filter(col("query_id") < 20)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(batch0Neighbors.forall(_ < 300),
      "batch 0 ran before the append and cannot see delta vectors")
  }

  test("annProbeSink: a mid-stream DELETE and re-append (upsert) move " +
       "each next batch to the right generation") {
    // the round-17 twin of the append-flip test above: the manifest
    // re-resolution must pick up TOMBSTONE publishes too — a live
    // retrieval endpoint honors a GDPR erasure at the next
    // micro-batch, and the generation-stamped re-append (the q217
    // upsert) restores the vectors for the batch after that.
    import graft.operators.{Similarity, StandingIndex}
    import graft.tables.Tables
    val d = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, d)
    val queries = emb.filter(col("vec_id") >= 16 && col("vec_id") < 24)
    val c0 = queries.filter(col("vec_id") < 19)
    val c1 = queries.filter(col("vec_id") >= 19 && col("vec_id") < 22)
    val c2 = queries.filter(col("vec_id") >= 22)

    StandingIndex.buildAnnIndex(spark,
      Similarity.ivfadcTrain(emb, nCells = 16, m = 4,
        ksub = 16, nQueries = 8, iters = 2),
      nBuckets = 4, name = "stream_ann_del")
    def probe(qs: org.apache.spark.sql.DataFrame): Set[String] =
      StandingIndex.probeAnn(spark, qs, k = 5, nprobe = 16,
        name = "stream_ann_del").collect().map(_.toString).toSet
    // the delete slice = batch 0's own neighbors — guarantees the
    // delete is observable (batch 0 returned them; batch 1 must not)
    val e0 = probe(c0)
    val eNever2 = probe(c2) // the never-deleted truth for batch 2
    val delSet = StandingIndex.probeAnn(spark, c0, k = 5, nprobe = 16,
        name = "stream_ann_del")
      .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
    assert(delSet.nonEmpty)
    import spark.implicits._
    val delIds = delSet.toSeq.toDF("vec_id")

    val inDir = java.nio.file.Files.createTempDirectory("graft-sad-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-sad-out").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sad-ck").toString
    c0.coalesce(1).write.parquet(inDir.toString + "/c0")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/c*")
    val q = EventStream.annProbeSink(stream, outDir, ckpt, k = 5,
      nprobe = 16, name = "stream_ann_del")
    try {
      q.processAllAvailable()          // batch 0: full index
      StandingIndex.deleteFromAnnIndex(spark, delIds,
        name = "stream_ann_del")      // tombstone publish mid-stream
      val e1 = probe(c1)               // post-delete truth, pre-upsert
      c1.coalesce(1).write.parquet(inDir.toString + "/c1")
      q.processAllAvailable()          // batch 1: tombstones live
      // upsert: re-append the SAME vectors (frozen quantizers
      // reproduce the codes exactly — the q217 net identity)
      StandingIndex.appendAnnIndex(spark,
        emb.filter(col("vec_id").isInCollection(delSet)),
        name = "stream_ann_del")
      c2.coalesce(1).write.parquet(inDir.toString + "/c2")
      q.processAllAvailable()          // batch 2: re-insert visible

      val out = spark.read.parquet(outDir)
      def neighbors(lo: Long, hi: Long): Seq[Long] =
        out.filter(col("query_id") >= lo && col("query_id") < hi)
          .select("neighbor_id").collect().map(_.getLong(0)).toSeq
      // batch 0 ran pre-delete and returned the soon-deleted ids
      assert(out.filter(col("query_id") < 19).collect()
        .map(_.toString).toSet === e0)
      assert(neighbors(16, 19).exists(delSet), "delete must be observable")
      // batch 1 ran between delete and upsert: no retired id survives
      assert(out.filter(col("query_id") >= 19 && col("query_id") < 22)
        .collect().map(_.toString).toSet === e1)
      assert(!neighbors(19, 22).exists(delSet),
        "a tombstoned vector must not be returned mid-lifecycle")
      // batch 2 ran post-upsert: net identity with the never-deleted
      // index (the q217 law, observed through the streaming endpoint)
      assert(out.filter(col("query_id") >= 22).collect()
        .map(_.toString).toSet === eNever2)
    } finally q.stop()
  }

  test("chunkProbeSink: batch parity AND a mid-stream refcount DELETE " +
       "and re-append (upsert) move each next batch to the right generation") {
    // the chunk-family member of the delete-flip family: the manifest
    // re-resolution must pick up the round-17 refcount tombstone
    // publish — an erasure's digests stop shadowing arriving shards
    // (they REVIVE: chunks that used to drop as corpus dups are kept)
    // one micro-batch after the delete lands, and the
    // generation-stamped re-append restores the screen for the batch
    // after that (the q219 net-identity law through the endpoint).
    import graft.operators.{StandingIndex, TextAnalysis}
    import graft.tables.Tables
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batchAll = docs.filter(col("doc_id") % 10 === 0)
    val c0 = batchAll.filter(col("doc_id") < 200)
    val c1 = batchAll.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val c2 = batchAll.filter(col("doc_id") >= 400)
    assert(c0.limit(1).count() === 1 && c1.limit(1).count() === 1 &&
      c2.limit(1).count() === 1)

    StandingIndex.buildChunkIndex(spark, corpus, col("text"),
      col("doc_id"), chunkTokens = 8, nBuckets = 4,
      name = "stream_chunk_del")
    def probe(slice: org.apache.spark.sql.DataFrame): Set[String] =
      StandingIndex.probeChunks(spark, slice, col("text"), col("doc_id"),
        name = "stream_chunk_del").collect().map(_.toString).toSet
    val e0 = probe(c0)
    val ePre1 = probe(c1)   // what batch 1 would read WITHOUT the delete
    val eNever2 = probe(c2) // the never-deleted truth for batch 2
    // delete slice = every corpus doc sharing a chunk digest with c1:
    // with ALL referencing docs retired, each shared digest dies, so
    // the delete is probe-visible at batch 1 by construction
    def fps(slice: org.apache.spark.sql.DataFrame) =
      TextAnalysis.chunkDocuments(slice, col("text"), col("doc_id"),
        chunkTokens = 8, overlap = 0)
        .select(md5(col("chunk_text")).as("fp"))
    val delIds = TextAnalysis.chunkDocuments(corpus, col("text"),
        col("doc_id"), chunkTokens = 8, overlap = 0)
      .select(md5(col("chunk_text")).as("fp"), col("doc_id"))
      .join(fps(c1), Seq("fp"), "left_semi")
      .select("doc_id").distinct()
    assert(delIds.limit(1).count() === 1,
      "fixture must share a chunk digest between corpus and batch 1")
    val delDocs = corpus.join(delIds, Seq("doc_id"), "left_semi")

    val inDir = java.nio.file.Files.createTempDirectory("graft-scd-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-scd-out").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scd-ck").toString
    c0.coalesce(1).write.parquet(inDir.toString + "/c0")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/c*")
    val q = EventStream.chunkProbeSink(stream, "text", "doc_id",
      outDir, ckpt, name = "stream_chunk_del")
    var e1 = Set.empty[String]         // post-delete truth, pre-upsert
    try {
      q.processAllAvailable()          // batch 0: full index
      StandingIndex.deleteFromChunkIndex(spark, delIds,
        name = "stream_chunk_del")     // refcount tombstones mid-stream
      e1 = probe(c1)
      assert(e1 !== ePre1,
        "the delete must change batch 1's screen (revived digests)")
      c1.coalesce(1).write.parquet(inDir.toString + "/c1")
      q.processAllAvailable()          // batch 1: dead digests revive
      // upsert: re-append the SAME corpus docs (generation stamps
      // exempt the new level; every dead digest re-referenced)
      StandingIndex.appendChunkIndex(spark, delDocs, col("text"),
        col("doc_id"), name = "stream_chunk_del")
      c2.coalesce(1).write.parquet(inDir.toString + "/c2")
      q.processAllAvailable()          // batch 2: screen restored
    } finally q.stop()

    val out = spark.read.parquet(outDir)
    def slice(lo: Long, hi: Long): Set[String] =
      out.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .collect().map(_.toString).toSet
    assert(slice(0, 200) === e0, "batch 0 must equal the pre-delete probe")
    val got1 = slice(200, 400)
    assert(got1 === e1, "batch 1 must equal the post-delete probe")
    assert(got1 !== ePre1,
      "a dead digest must stop shadowing batch 1 (kept, not dropped)")
    assert(slice(400, Long.MaxValue) === eNever2,
      "batch 2 post-upsert must net to the never-deleted truth")
  }

  test("contaminationSink: per-micro-batch screening equals the batch operator over the union") {
    import graft.operators.Curate
    import graft.tables.Tables
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val evalSet = docs.filter(col("doc_id") % 10 >= 8)
    val train = docs.filter(col("doc_id") % 10 < 8)

    val inDir = java.nio.file.Files.createTempDirectory("graft-cont-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-cont-out").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cont-ck").toString
    train.filter(col("doc_id") < 250).coalesce(1)
      .write.parquet(inDir.toString + "/c0")
    train.filter(col("doc_id") >= 250).coalesce(1)
      .write.parquet(inDir.toString + "/c1")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/c*")
    val q = EventStream.contaminationSink(stream, evalSet, "text", "doc_id",
      outDir, ckpt, n = 8)
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_grams", "n_hit", "n_eval_docs", "contaminated")
      .collect().map(_.toSeq).toSet
    val got = rows(spark.read.parquet(outDir))
    val expected = rows(Curate.decontaminate(train, evalSet,
      col("text"), col("doc_id"), n = 8))
    assert(got === expected)
    assert(got.exists(_(4) == true), "fixture must surface contamination")
  }

  test("classifierSink: frozen-model scoring over micro-batches equals the batch classifier") {
    import graft.operators.Classify
    import graft.tables.Tables
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    // the batch operator's own split: train = doc_id % 5 != 0,
    // held-out = doc_id % 5 == 0 — streamed here in two chunks
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test = docs.filter(col("doc_id") % 5 === 0)

    val inDir = java.nio.file.Files.createTempDirectory("graft-cls-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-cls-out").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cls-ck").toString
    test.filter(col("doc_id") < 250).coalesce(1)
      .write.parquet(inDir.toString + "/c0")
    test.filter(col("doc_id") >= 250).coalesce(1)
      .write.parquet(inDir.toString + "/c1")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/c*")
    val q = EventStream.classifierSink(stream, train, "text", "doc_id",
      "lang", outDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_toks", "actual", "predicted", "score", "hit")
      .collect().map(_.toSeq).toSet
    val got = rows(spark.read.parquet(outDir))
    val expected = rows(Classify.centroidClassifier(docs, col("text"),
      col("doc_id"), col("lang")))
    assert(got === expected)
    assert(got.exists(_(5) == true), "fixture must surface correct predictions")
  }

  test("scd2Stream: closed versions equal the batch scd2FromLog history") {
    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .parquet(eventsDir)
    val q = EventStream.scd2Stream(stream)
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val batchClosed = graft.operators.Scd.scd2FromLog(
        spark.read.parquet(eventsDir)
          .withColumn("ts_us", expr("ts div 1000")),
        col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .filter(col("valid_to").isNotNull)
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("ver"),
        r.getAs[String]("state"), r.getAs[Long]("valid_from"),
        r.getAs[Long]("valid_to"))).toSet
    val got = spark.table("scd2_stream").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ver"),
        r.getAs[String]("state"), r.getAs[Long]("valid_from"),
        r.getAs[Long]("valid_to"))).toSet
    assert(got.nonEmpty)
    assert(got === batchClosed)
  }

  test("scd2Stream: cross-batch stragglers cannot split closed history") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2-src")
    val base = 1704067200L * 1000000000L
    def min(m: Long) = base + m * 60L * 1000000000L
    def stage(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scd2-tmp")
      rows.map { case (eid, ts, et) => (eid, ts, 10L, et, 1.0, null: String) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    // batch 1: A@0, A@10, B@20 — closes (ver 1, A, [0, 20))
    stage("a.parquet", Seq((1L, min(0), "A"), (2L, min(10), "A"),
      (3L, min(20), "B")))
    // batch 2: straggler C@15 — older than the open version's start
    // (20): dropped, must NOT close/split anything
    stage("b.parquet", Seq((4L, min(15), "C")))
    // batch 3: C@30 — closes (ver 2, B, [20, 30))
    stage("c.parquet", Seq((5L, min(30), "C")))

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.scd2Stream(stream)
      .writeStream.format("memory").queryName("scd2_late")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("scd2_late").collect()
      .map(r => (r.getAs[Long]("ver"), r.getAs[String]("state"),
        r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"))).sorted.toSeq
    assert(got === Seq(
      (1L, "A", min(0) / 1000, min(20) / 1000),
      (2L, "B", min(20) / 1000, min(30) / 1000)))
  }

  test("targetEncodingSink: incremental state equals the batch encoding") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tenc-src")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-tenc-state")
      .toString + "/state"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tenc-ck").toString
    def stage(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-tenc-t")
      rows.map { case (eid, et, v) =>
        (eid, 1700000000000000000L + eid, 20L, et, v, null: String) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    // three micro-batches shifting both counts and the global prior
    stage("a.parquet", Seq((1L, "view", 1.0), (2L, "view", 0.0),
      (3L, "click", 1.0)))
    stage("b.parquet", Seq((4L, "click", 1.0), (5L, "buy", 0.0)))
    stage("c.parquet", Seq((6L, "view", 1.0), (7L, "buy", 1.0),
      (8L, "click", 0.0)))

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val label = (col("value") >= 0.5).cast("int")
    val q = EventStream.targetEncodingSink(stream, col("event_type"), label,
      stateDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("cat"), r.getAs[Long]("cnt"),
        r.getAs[Long]("pos"), r.getAs[Double]("enc"))).sortBy(_._1).toSeq
    val state = EventStream.latestEncodingState(spark, stateDir).get
    val streamed = rowsOf(graft.operators.Profiling.encodeFromState(
      state.select(col("k").as("cat"), col("cnt"), col("sum_v").as("pos")),
      smoothing = 2L))
    val batch = rowsOf(graft.operators.Profiling.targetEncoding(
      spark.read.parquet(dir.toString), col("event_type"), label, 2L))
    assert(streamed.nonEmpty)
    assert(streamed === batch)
    // pruning keeps the latest version plus ONE superseded one (live
    // lazy readers of the prior latest stay readable) — state size is
    // O(1) in stream length, not O(batches)
    assert(EventStream.committedStateVersions(spark, stateDir).size <= 2)
  }

  test("targetEncodingSink: replayed batchId is a no-op (at-least-once retry)") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft-tenc-retry")
      .toString + "/state"
    val label = (col("value") >= 0.5).cast("int")
    def ev(rows: Seq[(Long, String, Double)]) =
      rows.map { case (eid, et, v) =>
        (eid, 1700000000000000000L + eid, 20L, et, v, null: String) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val b0 = ev(Seq((1L, "view", 1.0), (2L, "view", 0.0), (3L, "click", 1.0)))
    val b1 = ev(Seq((4L, "click", 1.0), (5L, "buy", 0.0)))
    def snapshot() = EventStream.latestEncodingState(spark, stateDir).get
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("cnt"),
        r.getAs[Long]("sum_v"))).sortBy(_._1).toSeq

    EventStream.applyEncodingBatch(b0, 0L, col("event_type"), label, stateDir)
    val after0 = snapshot()
    // retry of batch 0 (failure after state write, before checkpoint
    // commit): must NOT fold the delta in a second time
    EventStream.applyEncodingBatch(b0, 0L, col("event_type"), label, stateDir)
    assert(snapshot() === after0)

    EventStream.applyEncodingBatch(b1, 1L, col("event_type"), label, stateDir)
    val after1 = snapshot()
    EventStream.applyEncodingBatch(b1, 1L, col("event_type"), label, stateDir)
    assert(snapshot() === after1)
    assert(after1 === Seq(("buy", 1L, 0L), ("click", 2L, 2L), ("view", 2L, 1L)))
    // latest + one retained predecessor
    assert(EventStream.committedStateVersions(spark, stateDir).sorted
      === Seq(0L, 1L))
  }

  test("valueCountsSink: streaming drift state equals the batch distribution") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-drift-src")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-drift-state")
      .toString + "/state"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drift-ck").toString
    def stage(name: String, rows: Seq[(Long, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-drift-t")
      rows.map { case (eid, v) =>
        (eid, 1700000000000000000L + eid, 20L, "view", v, null: String) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage("a.parquet", Seq((1L, 0.1), (2L, 0.3), (3L, 0.8)))
    stage("b.parquet", Seq((4L, 0.8), (5L, 0.2)))
    stage("c.parquet", Seq((6L, 0.9), (7L, 0.1), (8L, 0.4)))

    val bucket = floor(col("value") * 4).cast("long")
    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.valueCountsSink(stream, bucket, stateDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    // the monitored state must hold exactly the batch per-bucket counts
    val state = EventStream.latestValueCounts(spark, stateDir).get
      .collect().map(r => r.getAs[Long]("x") -> r.getAs[Long]("c")).toMap
    val batchCounts = spark.read.parquet(dir.toString)
      .groupBy(bucket.as("x")).agg(count(lit(1)).as("c"))
    assert(state === batchCounts.collect()
      .map(r => r.getAs[Long]("x") -> r.getAs[Long]("c")).toMap)
    // and the drift read side over the state equals the batch ksDrift
    // against the same reference distribution
    val ref = Seq((0L, 4L), (1L, 2L), (3L, 2L)).toDF("x", "c")
    def ksRow(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("n1"), r.getAs[Long]("n2"), r.getAs[Long]("d_num"),
        r.getAs[Double]("ks"))).toSeq
    val viaState = ksRow(graft.operators.Profiling.ksDriftFromCounts(
      EventStream.latestValueCounts(spark, stateDir).get, ref))
    val viaBatch = ksRow(graft.operators.Profiling.ksDriftFromCounts(
      batchCounts, ref))
    assert(viaState === viaBatch)
    assert(viaState.head._4 > 0.0)
  }

  test("weightedSampleSink: maintained PPS sample equals the batch sampler " +
      "after every delivery prefix") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wsamp-src")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-wsamp-state")
      .toString + "/state"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-wsamp-ck").toString
    def stage(name: String, rows: Seq[(Long, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-wsamp-t")
      rows.map { case (eid, v) =>
        (eid, 1700000000000000000L + eid, 20L, "view", v, null: String) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    val w = (floor(col("value") * 100) + lit(1)).cast("long")
    val k = 3
    def sampleRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("w"), r.getAs[Long]("cum")))
      .toSet
    def batchSample() = sampleRows(graft.operators.Sampling.systematicSample(
      spark.read.parquet(dir.toString), col("event_id"), w, k))

    stage("a.parquet", Seq((1L, 0.17), (2L, 0.83), (3L, 0.41), (4L, 0.64)))
    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.weightedSampleSink(stream, col("event_id"), w,
      stateDir, ckpt)
    try {
      q.processAllAvailable()
      // prefix 1: the maintained sample == the batch sampler over the
      // rows delivered so far, bit-identical (id, w, cum)
      assert(sampleRows(EventStream.latestWeightedSample(spark, stateDir, k).get)
        === batchSample())
      // two more deliveries (separate triggers via maxFilesPerTrigger=1)
      stage("b.parquet", Seq((5L, 0.92), (6L, 0.05)))
      stage("c.parquet", Seq((7L, 0.33), (8L, 0.71), (9L, 0.58)))
      q.processAllAvailable()
      val maintained = sampleRows(
        EventStream.latestWeightedSample(spark, stateDir, k).get)
      assert(maintained === batchSample())
      assert(maintained.nonEmpty)
    } finally q.stop()
  }

  test("targetEncodingSink: fresh checkpoint over a stale stateDir fails loudly") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft-tenc-stale")
      .toString + "/state"
    val label = (col("value") >= 0.5).cast("int")
    val b = Seq((1L, 1700000000000000000L, 20L, "view", 1.0, null: String))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // a previous stream's life: batches 0..2 committed
    (0L to 2L).foreach(i =>
      EventStream.applyEncodingBatch(b, i, col("event_type"), label, stateDir))
    // new stream, fresh checkpoint ⇒ batchIds restart at 0: the replay
    // skip would silently freeze the state forever — must throw instead
    val e = intercept[IllegalStateException] {
      EventStream.applyEncodingBatch(b, 0L, col("event_type"), label, stateDir)
    }
    assert(e.getMessage.contains("previous checkpoint"))
  }

  test("targetEncodingSink: stream-id mismatch fails loudly at any batchId") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft-tenc-sid")
      .toString + "/state"
    val label = (col("value") >= 0.5).cast("int")
    val b = Seq((1L, 1700000000000000000L, 20L, "view", 1.0, null: String))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // stream A claims the stateDir and commits ONLY version 0 — the
    // batch-id heuristic cannot tell this retired state from a
    // legitimate batch-0 replay; the persisted stream id can
    EventStream.applyEncodingBatch(b, 0L, col("event_type"), label, stateDir,
      streamId = Some("file:/ckpt/A"))
    // same stream resumes fine, any batch
    EventStream.applyEncodingBatch(b, 1L, col("event_type"), label, stateDir,
      streamId = Some("file:/ckpt/A"))
    // a NEW stream (fresh checkpoint) over the same stateDir: batch 0
    // replay AND later batches both throw
    Seq(0L, 5L).foreach { bid =>
      val e = intercept[IllegalStateException] {
        EventStream.applyEncodingBatch(b, bid, col("event_type"), label,
          stateDir, streamId = Some("file:/ckpt/B"))
      }
      assert(e.getMessage.contains("previous checkpoint"))
    }
    // and the state was never contaminated by the rejected stream
    assert(EventStream.latestEncodingState(spark, stateDir).get
      .collect().map(r => r.getAs[Long]("cnt")).sum === 2L)
  }

  test("scd2Stream: equal-timestamp smaller-tie cross-batch event is late") {
    // A cross-batch arrival with ts EQUAL to the open version's
    // valid_from but a smaller event_id precedes the opener in the
    // batch operator's (ts, tie) order — it must be treated as a
    // straggler (dropped), not replayed as if in-order (which would
    // close the open version against itself at zero width and fork
    // the version numbering away from scd2FromLog).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2-tie")
    val base = 1704067200L * 1000000000L
    def min(m: Long) = base + m * 60L * 1000000000L
    def stage(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scd2-tie-t")
      rows.map { case (eid, ts, et) => (eid, ts, 11L, et, 1.0, null: String) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = firstParquet(tmp)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    // batch 1: A@0 (tie 1), B@20 (tie 3) — closes (ver 1, A, [0, 20))
    stage("a.parquet", Seq((1L, min(0), "A"), (3L, min(20), "B")))
    // batch 2: Z@20 with tie 2 < 3 — same ts as the open version's
    // valid_from, earlier (ts, tie) position: dropped
    stage("b.parquet", Seq((2L, min(20), "Z")))
    // batch 3: C@30 — closes (ver 2, B, [20, 30))
    stage("c.parquet", Seq((5L, min(30), "C")))

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.scd2Stream(stream)
      .writeStream.format("memory").queryName("scd2_tie")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("scd2_tie").collect()
      .map(r => (r.getAs[Long]("ver"), r.getAs[String]("state"),
        r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"))).sorted.toSeq
    assert(got === Seq(
      (1L, "A", min(0) / 1000, min(20) / 1000),
      (2L, "B", min(20) / 1000, min(30) / 1000)))
  }
}
