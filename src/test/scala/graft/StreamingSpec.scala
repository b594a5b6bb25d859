package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.model.Event
import graft.sources.Sources
import graft.streaming.StreamingReports

/** Streaming pipeline == batch results on the bounded fixture stream. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  val dir = s"${SparkEntry.FixturesDir}/events_json"

  /** `body`'s result and the microbatches run meanwhile: distinct
    * (runId, batchId) over the QueryProgressEvents a SparkListener sees
    * (the shared listener bus carries every session's streaming events,
    * the replay clones' included; an idle progress event repeats a batch
    * id). A marker job run afterwards is waited for: the bus delivers
    * events in order, so every progress event posted during `body` has
    * arrived once the marker's job start has.
    */
  private def withMicrobatches[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
    val key = "graft.spec.marker"
    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[(java.util.UUID, Long)]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent => batches.add(p.progress.runId -> p.progress.batchId)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) marker.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "marker job never reached the listener")
      (out, batches.size)
    } finally sc.removeSparkListener(listener)
  }

  test("drainMemorySink: rows survive the drain and the sink's temp " +
      "view leaves the catalog (replay-harness hygiene)") {
    // every memory-sink replay (nine *Replay surfaces, the projection
    // twins behind projectionStreamReplay among them) funnels its sink
    // through this one seam — certifying it here certifies their hygiene
    val s = spark.newSession()
    val mem = "graft_drain_spec_sink"
    s.range(5).toDF("v").createOrReplaceTempView(mem)
    assert(s.catalog.tableExists(mem), "precondition: view registered")
    val out = StreamingReports.drainMemorySink(s, mem)
    assert(out.count() == 5L, "drain must materialize the sink rows")
    assert(!s.catalog.tableExists(mem),
      "drain must drop the sink's temp view from the catalog")
    // and the drained frame stays usable AFTER the drop (checkpointed)
    assert(out.agg(sum($"v")).as[Long].head() == 10L)
  }

  test("streaming daily counts == batch groupBy on the same files") {
    val q = StreamingReports.dailyCounts(StreamingReports.eventStream(spark, dir))
      .writeStream.format("memory").queryName("daily_counts")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }

    val streamed = spark.table("daily_counts")
      .select("date", "resourceId", "count").as[(String, String, Long)].collect().toSet
    val batch = Sources.events(spark, dir)
      .select(substring($"processTime", 1, 10).as("date"), $"resourceId")
      .groupBy("date", "resourceId").count()
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("incremental top10 stream: files read once, report converges to the batch job") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val out = Files.createTempDirectory("stream-top10").toString
    val landing = Files.createTempDirectory("stream-landing")
    val res = Sources.resources(spark, s"${SparkEntry.FixturesDir}/resources.json")
    val cats = Sources.categories(spark, s"${SparkEntry.FixturesDir}/categories.json")
    val all = Files.list(Paths.get(dir)).iterator().asScala.toSeq.sortBy(_.toString)
    val (wave1, wave2) = all.splitAt(all.size / 2)
    def arrive(ps: Seq[java.nio.file.Path]): Unit = ps.foreach(p =>
      Files.copy(p, landing.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))

    arrive(wave1)
    val q = StreamingReports.top10Stream(spark, landing.toString, res, cats, out)
    try {
      q.processAllAvailable()
      arrive(wave2)
      q.processAllAvailable()
    } finally q.stop()

    // the file source must NOT re-read already-processed files: summed
    // per-trigger input rows == rows in the landing dir, exactly once
    val inputRows = q.recentProgress.map(_.sources.map(_.numInputRows).sum).sum
    val totalRows = Sources.events(spark, landing.toString).count()
    assert(inputRows == totalRows,
      s"source re-read files: $inputRows input rows vs $totalRows distinct")

    // and the final report equals the batch job over ALL files
    val streamed = spark.read.option("header", "true").option("sep", "|").csv(out)
      .select("position", "categoryId", "resourceId")
      .as[(String, String, String)].collect().toSet
    val batch = graft.jobs.Top10Job.transform(Sources.events(spark, landing.toString), res, cats)
      .select($"position".cast("string"), $"categoryId", $"resourceId")
      .as[(String, String, String)].collect().toSet
    assert(streamed == batch)
    assert(Files.isDirectory(Paths.get(out, "date=2024-04-01")))
  }

  test("update-mode top10 stream: only touched date partitions are rewritten; report converges to batch") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val landing = Files.createTempDirectory("stream-upd-landing")
    val store = Files.createTempDirectory("stream-upd-store").resolve("store").toString
    val report = Files.createTempDirectory("stream-upd-report").resolve("report").toString
    val res = Sources.resources(spark, s"${SparkEntry.FixturesDir}/resources.json")
    val cats = Sources.categories(spark, s"${SparkEntry.FixturesDir}/categories.json")
    val all = Files.list(Paths.get(dir)).iterator().asScala.toSeq
    def arrive(date: String): Unit = all
      .filter(p => Files.readString(p).contains(s""""processTime": "$date"""))
      .foreach(p => Files.copy(p, landing.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))

    arrive("2024-04-01")
    val q = StreamingReports.top10StreamUpdate(
      spark, landing.toString, res, cats, store, report)
    try {
      q.processAllAvailable()
      val d1 = Paths.get(report, "date=2024-04-01")
      assert(Files.isDirectory(d1) && !Files.isDirectory(Paths.get(report, "date=2024-04-02")))
      // snapshot the day-1 partition (names + mtimes): a second trigger
      // that only touches day 2 must leave it byte-for-byte alone
      def snap(p: java.nio.file.Path): Map[String, Long] =
        Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
      val day1Before = snap(d1)

      arrive("2024-04-02")
      q.processAllAvailable()
      assert(Files.isDirectory(Paths.get(report, "date=2024-04-02")))
      assert(snap(d1) == day1Before,
        "an update touching only 2024-04-02 rewrote the 2024-04-01 report partition")
    } finally q.stop()

    // converged report == the batch job over all files
    val streamed = spark.read.option("header", "true").option("sep", "|").csv(report)
      .select($"position".cast("string"), $"categoryId", $"resourceId", $"date".cast("string"))
      .as[(String, String, String, String)].collect().toSet
    val batch = graft.jobs.Top10Job.transform(Sources.events(spark, landing.toString), res, cats)
      .select($"position".cast("string"), $"categoryId", $"resourceId", $"date")
      .as[(String, String, String, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("flatMapGroupsWithState sessionization == batch Sessionize on the replayed stream") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val landing = Files.createTempDirectory("stream-sessions")
    Files.list(Paths.get(dir)).iterator().asScala.foreach(p =>
      Files.copy(p, landing.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))
    def sentinel(n: Int): Unit = Files.writeString(landing.resolve(s"zz-sentinel$n.json"),
      s"""{"eventId": "sent$n", "eventTime": "2030-01-0${n}T00:00:00+00:00", "processTime": "2030-01-0${n}T00:00:00+00:00", "resourceId": "rX", "userId": "__sentinel", "countryCode": "US", "duration": 0, "itemPrice": "0"}""")

    val q = StreamingReports.sessionStream(spark, landing.toString, gapMinutes = 60)
      .toDF().writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // event-time timeouts fire on the NEXT trigger after the
      // watermark advances: two far-future sentinel waves flush every
      // real session deterministically
      sentinel(1); q.processAllAvailable()
      sentinel(2); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sessions")
      .filter($"userId" =!= "__sentinel")
      .select($"userId",
        date_format(timestamp_micros($"startUs"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s"),
        date_format(timestamp_micros($"endUs"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("e"),
        $"nEvents")
      .as[(String, String, String, Long)].collect().toSet

    val batch = graft.operators.Sessionize.sessions(
        Sources.events(spark, dir)
          .withColumn("pts", to_timestamp($"processTime", "yyyy-MM-dd'T'HH:mm:ssXXX"))
          .filter($"userId".isNotNull),
        "userId", "pts", gapMinutes = 60)
      .select($"userId", $"session_start", $"session_end", $"n_events")
      .as[(String, String, String, Long)].collect().toSet

    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("sessionReplay (the q45 surface) == batch Sessionize over the fixture dir") {
    val (replayed, batches) =
      withMicrobatches(StreamingReports.sessionReplay(spark, dir, gapMinutes = 60))
    // data + sentinel in one batch, then the no-data batch firing the timeouts
    assert(batches == 2, s"microbatches run: $batches")
    val streamed = replayed
      .select($"userId", $"startUs", $"endUs", $"nEvents")
      .as[(String, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Sessionize.sessions(
        Sources.events(spark, dir)
          .withColumn("pts", to_timestamp($"processTime", "yyyy-MM-dd'T'HH:mm:ssXXX"))
          .filter($"userId".isNotNull),
        "userId", "pts", gapMinutes = 60)
      .select($"userId",
        unix_micros(to_timestamp($"session_start")).as("s"),
        unix_micros(to_timestamp($"session_end")).as("e"),
        $"n_events")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("replayWaves trigger budget: two waves + one sentinel on the last wave " +
      "run 4 microbatches and flush every user") {
    // wave 1, the no-data batch its watermark move triggers, wave 2 with
    // the sentinel, and the no-data batch that fires every timeout. An
    // extra sentinel round adds batches; no-data microbatches switched
    // off in replaySession leave the users unflushed.
    val s = StreamingReports.replaySession(spark)
    val stages = Seq("view", "click", "signup", "purchase")
    val ev = graft.tables.Corpus.load(s, sf0001, "events")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"), $"event_type")
    val mem = "replay_trigger_budget"
    val q = StreamingReports.replayWaves("graft-trigger-budget",
        Seq(StreamingReports.render("wave1", ev.filter($"event_id" % 2 === 0)),
          StreamingReports.render("wave2", ev.filter($"event_id" % 2 =!= 0),
            sentinel = Some("""{"event_id": -48, "user_id": -1, "ts_us": 1893456000000001, "event_type": "view"}""")))) {
      landing =>
        StreamingReports.funnelStream(s, landing, stages, 0.05, "funnel-v1")
          .toDF().writeStream.format("memory").queryName(mem).outputMode("append").start()
    }
    // an idle progress event repeats a batch id: count the batches run
    val batches = q.recentProgress.map(_.batchId).distinct
    assert(batches.length == 4, s"microbatches run: ${batches.mkString(", ")}")

    val flushed = StreamingReports.drainMemorySink(s, mem)
      .filter($"user_id" =!= -1L).select($"user_id").as[Long].collect().sorted.toSeq
    val users = graft.operators.Sampling.hashSample(ev, $"event_id", 0.05, "funnel-v1")
      .filter($"user_id".isNotNull && $"ts_us".isNotNull && $"event_type".isin(stages: _*))
      .select($"user_id").distinct().as[Long].collect().sorted.toSeq
    assert(flushed == users, "every sampled funnel user must flush exactly once")
    assert(users.nonEmpty)
  }

  test("replayWaves failure path: a throwing start or wave propagates, the " +
      "landing dir is deleted and no query is left active") {
    import java.nio.file.{Files, Path}
    val s = StreamingReports.replaySession(spark)
    val rows = s.range(3).toDF("id")
    var landing: Path = null
    val first: StreamingReports.Lander = l => {
      landing = l
      StreamingReports.render("wave1", rows)(l)
    }
    val failedStart = intercept[IllegalStateException] {
      StreamingReports.replayWaves("graft-fail-start", Seq(first))(_ =>
        throw new IllegalStateException("start failed"))
    }
    assert(failedStart.getMessage == "start failed")
    assert(landing != null && !Files.exists(landing), s"landing dir left behind: $landing")

    landing = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val failedWave = intercept[IllegalStateException] {
      StreamingReports.replayWaves("graft-fail-wave",
          Seq(first, _ => throw new IllegalStateException("wave failed"))) { l =>
        q = s.readStream.schema(rows.schema).json(l).writeStream.format("noop").start()
        q
      }
    }
    assert(failedWave.getMessage == "wave failed")
    assert(landing != null && !Files.exists(landing), s"landing dir left behind: $landing")
    assert(q != null && !q.isActive, "the failing replay's query must be stopped")
    assert(s.streams.active.isEmpty,
      s"queries left active: ${s.streams.active.map(_.id).mkString(", ")}")
  }

  test("a failed start reaches the caller past the cleanup of a dir it never made") {
    // top10ReplayUpdate's shape: its store dir is first written by the
    // first non-empty batch, and its `finally` deletes it
    val store = java.nio.file.Files.createTempDirectory("graft-fail-cleanup").resolve("store")
    val e = intercept[IllegalStateException] {
      try StreamingReports.replayWaves("graft-fail-start",
          Seq(StreamingReports.render("wave1", spark.range(3).toDF("id"))))(_ =>
        throw new IllegalStateException("start failed"))
      finally StreamingReports.deleteRecursively(store)
    }
    assert(e.getMessage == "start failed")
  }

  test("funnelReplay (the q124 surface) == q114_funnel at sf0.001") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"stage".cast("long"), $"n_users").as[(Long, Long)].collect().toSet
    val (replayed, batches) = withMicrobatches(StreamingReports.funnelReplay(spark, sf0001))
    // wave 1, its watermark's no-data batch, wave 2 + sentinel, the flush
    assert(batches == 4, s"microbatches run: $batches")
    val streamed = rows(replayed)
    val batch = rows(SparkEntry.queries("q114_funnel")(spark, sf0001))
    assert(streamed == batch)
    assert(batch.size > 1, s"funnel reaches a single stage only: $batch")
  }

  test("transitionsReplay (the q141 surface) == q128 transitions on non-null users at sf0.001") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("from_state", "to_state", "n").as[(String, String, Long)].collect().toSet
    val (replayed, batches) = withMicrobatches(StreamingReports.transitionsReplay(spark, sf0001))
    assert(batches == 4, s"microbatches run: $batches")
    val streamed = rows(replayed)
    val batch = rows(graft.operators.Profile.transitions(
      graft.tables.Corpus.load(spark, sf0001, "events").filter($"user_id".isNotNull),
      "user_id", Seq($"ts", $"event_id"), $"event_type"))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("mapGroupsWithState running totals converge to batch counts") {
    val q = StreamingReports.runningTotals(
      StreamingReports.eventStream(spark, dir).as[Event])
      .toDF("resourceId", "total")
      .writeStream.format("memory").queryName("running_totals")
      .outputMode("update").start()
    try { q.processAllAvailable() } finally { q.stop() }

    // update mode emits one row per state change; the final value per key
    // must equal the batch count
    val finals = spark.table("running_totals")
      .groupBy("resourceId").agg(max($"total").as("total"))
      .as[(String, Long)].collect().toMap
    val batch = Sources.events(spark, dir)
      .groupBy("resourceId").count().as[(String, Long)].collect().toMap
    assert(finals == batch)
  }

  test("streaming dedup: redelivered events emit exactly once, state is watermark-bounded") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val landing = Files.createTempDirectory("graft-dedup-stream")
    def deliver(wave: Int): Unit =
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .foreach(p => Files.copy(p,
          landing.resolve(s"wave$wave-${p.getFileName}"),
          StandardCopyOption.REPLACE_EXISTING))
    val q = StreamingReports.dedupStream(
        StreamingReports.eventStream(spark, landing.toString))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      deliver(1)
      q.processAllAvailable()
      deliver(2) // full redelivery of every file (at-least-once source)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_stream").select("eventId")
      .as[String].collect().sorted
    val want = Sources.events(spark, dir).select("eventId")
      .distinct().as[String].collect().sorted
    // every event exactly once despite the second delivery of all files
    assert(got.sameElements(want))
  }

  test("stream-stream interval join == the batch interval join on the same files") {
    val q = StreamingReports.followupJoin(spark, dir, windowMinutes = 120)
      .writeStream.format("memory").queryName("followup_join")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("followup_join")
      .select("a_id", "b_id").as[(String, String)].collect().toSet

    val ev = Sources.events(spark, dir)
      .withColumn("pts", to_timestamp($"processTime", "yyyy-MM-dd'T'HH:mm:ssXXX"))
    val a = ev.select($"eventId".as("a_id"), $"userId".as("a_user"), $"pts".as("a_pts"))
    val b = ev.select($"eventId".as("b_id"), $"userId".as("b_user"), $"pts".as("b_pts"))
    val want = a.join(b,
        $"a_user" === $"b_user" && $"b_pts" > $"a_pts" &&
          $"b_pts" <= $"a_pts" + expr("INTERVAL 120 MINUTES"))
      .select("a_id", "b_id").as[(String, String)].collect().toSet

    assert(got == want)
    assert(want.nonEmpty, "fixture has no follow-up pairs — test is vacuous")
    // null-user events never join (SQL null semantics on both paths)
    assert(!got.exists { case (x, y) => x == null || y == null })
  }

  test("streaming CDC upsert: stale changes in later batches are rejected (out-of-order guard)") {
    import graft.streaming.StreamingReports
    val store = java.nio.file.Files.createTempDirectory("graft-cdc-spec").toString
    def batch(rows: Seq[(String, Long, String, String, Long)]) =
      rows.toDF("resourceId", "seq", "eventId", "userId", "duration")
    // batch 0: r1 at seq 100
    StreamingReports.applyCdcBatch(
      batch(Seq(("r1", 100L, "e2", "u1", 10L))), store, 0L)
    // batch 1: STALE change for r1 (seq 50) plus a new key r2 — the
    // stale row must be rejected, the new key inserted
    StreamingReports.applyCdcBatch(
      batch(Seq(("r1", 50L, "e1", "u9", 99L), ("r2", 60L, "e3", "u2", 20L))), store, 1L)
    // batch 2: same seq as stored for r1, larger eventId — tie goes to
    // the larger (seq, eventId), so this one APPLIES
    StreamingReports.applyCdcBatch(
      batch(Seq(("r1", 100L, "e9", "u3", 30L))), store, 2L)
    val fin = spark.read.parquet(s"$store/v000000002")
      .as[(String, Long, String, String, Long)].collect().toSet
    assert(fin == Set(("r1", 100L, "e9", "u3", 30L), ("r2", 60L, "e3", "u2", 20L)))

    // restart idempotency: re-applying a committed batch is a no-op
    StreamingReports.applyCdcBatch(
      batch(Seq(("r1", 999L, "eX", "uX", 1L))), store, 2L)
    val again = spark.read.parquet(s"$store/v000000002")
      .as[(String, Long, String, String, Long)].collect().toSet
    assert(again == fin, "a committed version must not be rewritten on redelivery")

    // crash recovery: a partial version dir (no _SUCCESS) is not served
    // as the snapshot and is replaced by the batch's staged commit
    val partial = new java.io.File(s"$store/v000000003")
    new java.io.File(partial, "sub").mkdirs() // damaged tree, no _SUCCESS
    StreamingReports.applyCdcBatch(
      batch(Seq(("r3", 10L, "e4", "u4", 4L))), store, 3L)
    assert(new java.io.File(partial, "_SUCCESS").exists(), "batch 3 must commit atomically")
    val v3 = spark.read.parquet(s"$store/v000000003")
      .as[(String, Long, String, String, Long)].collect().toSet
    // snapshot basis was v2 (the last COMMITTED version), not the damaged v3
    assert(v3 == fin + (("r3", 10L, "e4", "u4", 4L)))
  }

  test("CDC time travel: committed versions stay readable and diff correctly") {
    import graft.streaming.StreamingReports
    val store = java.nio.file.Files.createTempDirectory("graft-cdc-tt-spec").toString
    def batch(rows: Seq[(String, Long, String, String, Long)]) =
      rows.toDF("resourceId", "seq", "eventId", "userId", "duration")
    StreamingReports.applyCdcBatch(
      batch(Seq(("r1", 100L, "e1", "u1", 1L), ("r2", 50L, "e2", "u2", 2L))), store, 0L)
    StreamingReports.applyCdcBatch(
      batch(Seq(("r1", 200L, "e5", "u1", 9L), ("r3", 70L, "e6", "u3", 3L))), store, 1L)
    assert(StreamingReports.committedCdcVersions(store) == Seq(0L, 1L))

    // as-of v0: the superseded snapshot, exactly as batch 0 left it
    val v0 = StreamingReports.readCdcVersion(spark, store, 0L)
      .as[(String, Long, String, String, Long)].collect().toSet
    assert(v0 == Set(("r1", 100L, "e1", "u1", 1L), ("r2", 50L, "e2", "u2", 2L)))

    // a version is its MANIFEST: a whole-looking tree without one (or a
    // never-written version) must not be served
    intercept[RuntimeException] {
      StreamingReports.readCdcVersion(spark, store, 7L)
    }

    // diff v0 → v1 through the fingerprint machinery: r1 changed
    // (accepted newer seq), r2 unchanged (upsert keeps absent keys),
    // r3 added; `removed` is unreachable for pure upserts
    val d = graft.operators.Diff.diff(
        StreamingReports.readCdcVersion(spark, store, 0L),
        StreamingReports.readCdcVersion(spark, store, 1L),
        "resourceId", Seq("seq", "eventId", "userId", "duration"))
      .select("resourceId", "status").as[(String, String)].collect().toSet
    assert(d == Set(("r1", "changed"), ("r2", "unchanged"), ("r3", "added")))
  }

  test("CDC manifest commit: every crash window replays exactly-once") {
    import graft.streaming.StreamingReports
    val store = java.nio.file.Files.createTempDirectory("graft-cdc-crash").toString
    def batch(rows: Seq[(String, Long, String, String, Long)]) =
      rows.toDF("resourceId", "seq", "eventId", "userId", "duration")
    def snapshot(v: String) = spark.read.parquet(s"$store/$v")
      .as[(String, Long, String, String, Long)].collect().toSet
    def partFiles(v: String) = new java.io.File(s"$store/$v").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.length).toSet

    StreamingReports.applyCdcBatch(batch(Seq(("r1", 100L, "e1", "u1", 1L))), store, 0L)
    assert(new java.io.File(s"$store/_manifest/v000000000.json").exists(),
      "a committed version must be manifested")

    // WINDOW 1 — killed mid-data-write: partial version dir, no Spark
    // _SUCCESS, no manifest. Replay must rebuild it from scratch.
    val v1 = new java.io.File(s"$store/v000000001")
    new java.io.File(v1, "part-junk").mkdirs()
    StreamingReports.applyCdcBatch(batch(Seq(("r2", 50L, "e2", "u2", 2L))), store, 1L)
    assert(snapshot("v000000001") ==
      Set(("r1", 100L, "e1", "u1", 1L), ("r2", 50L, "e2", "u2", 2L)))

    // WINDOW 2 — killed between the data rename and the manifest
    // commit: whole data dir (has _SUCCESS), manifest missing. Replay
    // must re-commit the manifest WITHOUT rewriting the data files.
    StreamingReports.applyCdcBatch(batch(Seq(("r3", 10L, "e3", "u3", 3L))), store, 2L)
    val mf2 = new java.io.File(s"$store/_manifest/v000000002.json")
    val before = partFiles("v000000002")
    assert(mf2.delete(), "simulate the crash by removing the manifest")
    // with v2 unmanifested, the LATEST committed snapshot must be v1 —
    // an unmanifested whole-looking tree is never served
    StreamingReports.applyCdcBatch(batch(Seq(("r3", 10L, "e3", "u3", 3L))), store, 2L)
    assert(mf2.exists(), "replay must re-commit the missing manifest")
    assert(partFiles("v000000002") == before,
      "re-committing an already-whole version must not rewrite its data files")
    assert(snapshot("v000000002") == Set(("r1", 100L, "e1", "u1", 1L),
      ("r2", 50L, "e2", "u2", 2L), ("r3", 10L, "e3", "u3", 3L)))

    // WINDOW 3 — manifest committed, batch redelivered anyway (offset
    // not yet checkpointed): byte-stable no-op even with different rows
    StreamingReports.applyCdcBatch(batch(Seq(("rX", 1L, "eX", "uX", 9L))), store, 2L)
    assert(partFiles("v000000002") == before && snapshot("v000000002").size == 3,
      "a manifested version is immutable under redelivery")

    // orphan manifest tmp from a crashed manifest write is ignored
    java.nio.file.Files.write(
      new java.io.File(s"$store/_manifest/.tmp-dead").toPath, "{}".getBytes)
    StreamingReports.applyCdcBatch(batch(Seq(("r4", 5L, "e4", "u4", 4L))), store, 3L)
    assert(snapshot("v000000003").map(_._1) == Set("r1", "r2", "r3", "r4"))
  }

  test("cdcUpsertReplay equals the batch latest-event-per-resource truth") {
    import graft.streaming.StreamingReports
    val dir = s"${SparkEntry.FixturesDir}/events_json"
    val (replayed, batches) = withMicrobatches(StreamingReports.cdcUpsertReplay(spark, dir))
    assert(batches == 2, s"one microbatch per wave, got $batches")
    val got = replayed.as[(String, Long, String, String, Long)].collect().toSet
    val want = Sources.events(spark, dir)
      .filter($"resourceId".isNotNull)
      .withColumn("seq",
        unix_micros(to_timestamp($"processTime", "yyyy-MM-dd'T'HH:mm:ssXXX")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"resourceId")
          .orderBy($"seq".desc, $"eventId".desc)))
      .filter($"rk" === 1)
      .select($"resourceId", $"seq", $"eventId", $"userId", $"duration")
      .as[(String, Long, String, String, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("crawl ingest: batches dedupe against appended intake; every crash window replays exactly-once") {
    import graft.ext.Dedup
    import graft.streaming.CrawlIngest
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-crash").toString
    val (store, index) = (s"$work/store", s"$work/index")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(
      Dedup.buildMinhashIndex(corpus, "doc_id", "text"), index)
    def lines(rows: String*) = rows.toDF("value")
    def decisions(v: String) = spark.read.parquet(s"$store/$v")
      .select("new_id", "status", "n_idx_matches")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    def partFiles(v: String) = new java.io.File(s"$store/$v").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.length).toSet
    def setsRows(id: Long) = spark.read.parquet(s"$index/sets")
      .filter(col("id") === id).count()

    val novel = "crimson rook vaults nine brass hurdles quickly today"
    CrawlIngest.applyCrawlBatch(lines(
      s"""{"new_id": 101, "text": "alpha beta gamma delta epsilon zeta eta theta"}""",
      s"""{"new_id": 102, "text": "$novel"}""",
      s"""{"new_id": 103, "text": "$novel"}""",
      """{"new_id": broken"""), store, index, 0L)
    assert(decisions("v000000000") == Set(
      (101L, "dup_index", 1L),   // exact corpus re-crawl
      (102L, "ingested", 0L),    // novel, appended to the index
      (103L, "dup_batch", 0L),   // in-batch copy, smaller-id rule
      (-1L, "quarantined", -1L)))
    assert(setsRows(102L) == 1 && setsRows(103L) == 0,
      "only the ingested doc joins the index")

    // WINDOW 1 — killed mid-decision-write: partial version dir, no
    // _SUCCESS, no manifest. Replay rebuilds it; the redelivered doc is
    // flagged against the INTAKE-APPENDED index state, not the corpus.
    new java.io.File(s"$store/v000000001/part-junk").mkdirs()
    CrawlIngest.applyCrawlBatch(
      lines(s"""{"new_id": 201, "text": "$novel"}"""), store, index, 1L)
    assert(decisions("v000000001") == Set((201L, "dup_index", 1L)),
      "dup only via the doc ingested by batch 0")

    // WINDOW 2 — killed between decision commit and manifest: whole
    // data dir, manifest missing. Replay re-commits the manifest
    // WITHOUT rewriting decisions and WITHOUT double-appending.
    val b2 = lines("""{"new_id": 301, "text": "quiet umber lanterns drift beyond twelve harbor stones"}""")
    CrawlIngest.applyCrawlBatch(b2, store, index, 2L)
    val mf2 = new java.io.File(s"$store/_manifest/v000000002.json")
    val before = partFiles("v000000002")
    assert(setsRows(301L) == 1)
    assert(mf2.delete(), "simulate the crash by removing the manifest")
    CrawlIngest.applyCrawlBatch(b2, store, index, 2L)
    assert(mf2.exists(), "replay must re-commit the missing manifest")
    assert(partFiles("v000000002") == before,
      "a whole decision set is never rewritten")
    assert(setsRows(301L) == 1, "the index append is idempotent under replay")

    // WINDOW 3 — manifest committed, batch redelivered with different
    // rows (offset not yet checkpointed): byte-stable no-op.
    CrawlIngest.applyCrawlBatch(
      lines("""{"new_id": 999, "text": "should never be processed at all"}"""),
      store, index, 2L)
    assert(partFiles("v000000002") == before && setsRows(999L) == 0,
      "a manifested batch is immutable under redelivery")
  }

  test("ANN serving batch: replaying a batch overwrites its dir — no duplicated results") {
    import graft.ext.SimSearch
    import graft.streaming.StreamingReports
    val emb = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat - 6f)))
      .toDF("vec_id", "embedding")
    val idx = SimSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 4)
    val out = java.nio.file.Files.createTempDirectory("graft-ann-replay").toString
    val batch = emb.filter(col("vec_id") % 8 === 0)
    StreamingReports.applyAnnProbeBatch(idx, batch, out, 0L)
    val once = spark.read.option("recursiveFileLookup", "true").parquet(out)
      .collect().toSet
    assert(once.nonEmpty, "probe batch must produce results")
    // crash-replay: the SAME batch id applied again must leave the
    // accumulated results byte-identical, not doubled
    StreamingReports.applyAnnProbeBatch(idx, batch, out, 0L)
    val twice = spark.read.option("recursiveFileLookup", "true").parquet(out)
      .collect().toSet
    assert(twice == once, "replayed batch duplicated or changed results")
    // a NEW batch id lands in its own dir alongside
    StreamingReports.applyAnnProbeBatch(idx, emb.filter(col("vec_id") % 8 === 1),
      out, 1L)
    val both = spark.read.option("recursiveFileLookup", "true").parquet(out)
    assert(both.count() > once.size, "second batch must append its own dir")
  }

  test("recrawlReplay == batch recrawlStats; fingerprint state survives the wave boundary") {
    import graft.streaming.StreamingReports
    // u/boundary's ONLY change is round 2 -> 3 — exactly the replay's
    // wave split, so a correct result REQUIRES the carried state;
    // u/hot changes every round, u/cold never, u/single has one fetch
    val hist = (
      Seq(1L, 2L, 3L, 4L).map(r => ("u/boundary", r, if (r <= 2) "a" else "b")) ++
      Seq(1L, 2L, 3L).map(r => ("u/hot", r, s"v$r")) ++
      Seq(1L, 2L, 3L).map(r => ("u/cold", r, "same")) ++
      Seq(("u/single", 1L, "x"))
    ).toDF("url", "r", "fp")
    val got = StreamingReports.recrawlReplay(spark, hist)
      .as[(String, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("u/boundary") == ((4L, 1L, 333333L, "warm")),
      s"the round-2->3 change needs cross-batch state: ${got("u/boundary")}")
    assert(got("u/hot") == ((3L, 2L, 1000000L, "hot")))
    assert(got("u/cold") == ((3L, 0L, 0L, "cold")))
    assert(got("u/single") == ((1L, 0L, 0L, "cold")))
    // and the stream fold equals the batch operator row-for-row
    val batch = graft.ext.UrlCanon.recrawlStats(hist, "url", "r", "fp")
      .as[(String, Long, Long, Long, String)].collect().toSet
    val (replayed, batches) = withMicrobatches(StreamingReports.recrawlReplay(spark, hist))
    // wave 1, wave 2 + sentinel, the no-data batch firing the timeouts
    assert(batches == 3, s"microbatches run: $batches")
    val stream = replayed.as[(String, Long, Long, Long, String)].collect().toSet
    assert(stream == batch, s"stream vs batch: ${stream.diff(batch)}")
  }

  test("semDedup ingest: the per-wave index append is LOAD-BEARING (negative probe)") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    def scaled(k: Float, off: Long, m: Long) = base
      .filter($"vec_id" % m === 0)
      .select(($"vec_id" + off).as("vec_id"),
        transform($"embedding", x => x * lit(k)).as("embedding"))
    val corpus = base
      .unionByName(scaled(2.0f, 100000L, 7L))
      .unionByName(scaled(4.0f, 200000L, 14L))
    val isOld = $"vec_id" % 7 =!= 0 && $"vec_id" < 100000L
    val waveA = $"vec_id" < 200000L
    val (withAppend, batches) = withMicrobatches(
      graft.streaming.StreamingReports.semDedupIngestReplay(
        spark, corpus, isOld, waveA, nlist = 8, tau = 0.9))
    assert(batches == 2, s"one microbatch per wave, got $batches")
    // wave-B members (x4 copies) must merge into their wave-A groups
    val merged = withAppend.filter($"vec_id" >= 200000L)
    assert(merged.count() > 0)
    assert(merged.filter(!$"is_dup").count() == 0,
      "every x4 copy has a wave-A partner and must be a dup")
    // NEGATIVE PROBE: without the append, wave B sees an index that
    // lacks wave A -- its copies have no partners and come back
    // singletons; if this ever PASSES dedup, the append stopped being
    // load-bearing and q316's design claim is stale
    val noAppend = graft.streaming.StreamingReports.semDedupIngestReplay(
      spark, corpus, isOld, waveA, nlist = 8, tau = 0.9,
      appendWaves = false)
    val orphans = noAppend.filter($"vec_id" >= 200000L)
    assert(orphans.filter($"is_dup").count() == 0,
      "no-append run must leave every x4 copy a singleton")
    assert(orphans.filter($"n_members" =!= 1).count() == 0)
  }

  test("hamming ingest: the per-wave store append is LOAD-BEARING (negative probe)") {
    import org.apache.spark.sql.functions._
    import graft.ext.Multimodal
    val hashes = Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_dhash")))
      .toDF()
      .select(regexp_extract($"path", "[^/]+$", 0).as("name"), $"dhash")
    val waveA = !$"name".isin("near1.bmp", "near2.bmp", "near3.bmp")
    val (replayed, batches) = withMicrobatches(graft.streaming.StreamingReports
      .hammingDedupIngestReplay(spark, hashes, "name", "dhash", waveA))
    assert(batches == 2, s"one microbatch per wave, got $batches")
    val withAppend = replayed.select("id_a", "id_b").as[(String, String)].collect().toSet
    // both legs live: (base0,near0) is WITHIN wave A, the other three
    // pairs cross the wave boundary through the store
    assert(withAppend == (0 until 4)
      .map(k => (s"base$k.bmp", s"near$k.bmp")).toSet)
    // NEGATIVE PROBE: drop the append and wave B probes an empty
    // store — the three cross-wave pairs must vanish; if they ever
    // survive, the append stopped being load-bearing and q334's
    // design claim is stale
    val noAppend = graft.streaming.StreamingReports
      .hammingDedupIngestReplay(spark, hashes, "name", "dhash", waveA,
        appendWaves = false)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(noAppend == Set(("base0.bmp", "near0.bmp")))
  }

  test("hamming exactly-once ingest: the batchId guard is LOAD-BEARING") {
    import org.apache.spark.sql.functions._
    import graft.ext.Multimodal
    val hashes = Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_dhash")))
      .toDF()
      .select(regexp_extract($"path", "[^/]+$", 0).as("name"), $"dhash")
    val waveA = !$"name".isin("near1.bmp", "near2.bmp", "near3.bmp")
    // guarded: the wave-A redelivery is invisible — 4 pairs, no dups
    val (replayed, batches) = withMicrobatches(graft.streaming.StreamingReports
      .hammingDedupIngestIdempotentReplay(spark, hashes, "name", "dhash",
        waveA))
    // the redelivery is applied directly after the drain: no microbatch
    assert(batches == 2, s"one microbatch per wave, got $batches")
    val guarded = replayed.select("id_a", "id_b").as[(String, String)].collect()
    assert(guarded.length == 4 && guarded.toSet.size == 4)
    // NEGATIVE PROBE: the same redelivery as a FRESH batch (the
    // unguarded pipeline's view) duplicates wave A's within-wave
    // pair AND re-probes the store — duplicates appear; if this ever
    // comes back clean, the guard stopped being load-bearing
    val unguarded = graft.streaming.StreamingReports
      .hammingDedupIngestIdempotentReplay(spark, hashes, "name", "dhash",
        waveA, redeliverGuarded = false)
      .select("id_a", "id_b").as[(String, String)].collect()
    assert(unguarded.length > unguarded.toSet.size,
      s"unguarded redelivery must duplicate pairs, got ${unguarded.length}")
  }

  test("semDedup exactly-once ingest: the batchId guard is LOAD-BEARING") {
    import org.apache.spark.sql.functions._
    import graft.ext.{Dedup, SimSearch}
    import graft.streaming.StreamingReports
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    def scaled(k: Float, off: Long, m: Long) = base
      .filter($"vec_id" % m === 0)
      .select(($"vec_id" + off).as("vec_id"),
        transform($"embedding", x => x * lit(k)).as("embedding"))
    val corpus = base
      .unionByName(scaled(2.0f, 100000L, 7L))
      .unionByName(scaled(4.0f, 200000L, 14L))
      .localCheckpoint()
    val old = corpus.filter($"vec_id" % 7 =!= 0 && $"vec_id" < 100000L)
    val waveA = corpus.filter(
      ($"vec_id" % 7 === 0 || $"vec_id" >= 100000L) && $"vec_id" < 200000L)
      .localCheckpoint()
    val store = java.nio.file.Files.createTempDirectory("graft-semddi-spec")
    try {
      SimSearch.writeIvfIndex(SimSearch.buildIvfIndex(
        old, "vec_id", "embedding", nlist = 8, seed = 7L, lloydIters = 1),
        s"$store/index")
      Dedup.semDedupWithIndex(
          SimSearch.readIvfIndex(spark, s"$store/index"), old, "vec_id", 0.9)
        .write.mode("overwrite").parquet(s"$store/init-assign")
      StreamingReports.applySemDedupIngestBatch(waveA, store.toString, 0L, 0.9)
      val (idx1, assign1) =
        StreamingReports.semDedupStoreState(spark, store.toString)
      val lists1 = idx1.lists.count()
      val a1 = assign1.orderBy("vec_id").collect().toSeq
      // GUARDED redelivery: the manifest for batchId 0 exists, so the
      // byte-identical wave is a no-op -- store and assignment unchanged
      StreamingReports.applySemDedupIngestBatch(waveA, store.toString, 0L, 0.9)
      val (idx2, assign2) =
        StreamingReports.semDedupStoreState(spark, store.toString)
      assert(idx2.lists.count() == lists1, "guarded redelivery grew the lists")
      assert(assign2.orderBy("vec_id").collect().toSeq == a1)
      // COMPACTION is state-invisible: committed deltas fold into the
      // base tree, the assignment is promoted, versions + manifests
      // drop -- the effective state must be unchanged
      StreamingReports.compactSemDedupStore(spark, store.toString)
      val (idxC, assignC) =
        StreamingReports.semDedupStoreState(spark, store.toString)
      assert(idxC.lists.count() == lists1, "compaction changed the lists")
      assert(assignC.orderBy("vec_id").collect().toSeq == a1)
      assert(!new java.io.File(store.toFile, "_manifest").exists(),
        "compaction must drop the version manifests")
      // NEGATIVE PROBE -- the unguarded pipeline's view: it cannot
      // recognize the wave and folds it as a FRESH batch. The
      // assignment survives (incrementalClusters dedups its node set,
      // by design) but the STORE corrupts: wave A's list rows commit
      // twice, and the probe surface then returns the same neighbor
      // at two ranks. If this ever comes back clean, the guard
      // stopped being load-bearing and q319's design claim is stale.
      StreamingReports.applySemDedupIngestBatch(waveA, store.toString, 2L, 0.9)
      val (idx3, _) = StreamingReports.semDedupStoreState(spark, store.toString)
      val dupListRows = idx3.lists.groupBy($"neighbor_id").count()
        .filter($"count" > 1).count()
      assert(dupListRows > 0, "unguarded double-fold must duplicate list rows")
      val probed = SimSearch.ivfTopKAgainstIndex(
        idx3, waveA.limit(5), "vec_id", "embedding", k = 5, nprobe = 8)
      assert(probed.groupBy($"query_id", $"neighbor_id").count()
        .filter($"count" > 1).count() > 0,
        "the corrupted store must surface duplicate neighbors in top-k")
    } finally {
      val w = java.nio.file.Files.walk(store)
      try w.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    }
  }
}
