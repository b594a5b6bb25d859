package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}

import graft.jobs.Top10Job
import graft.model.{Event, Schemas}
import graft.operators.VersionedStore
import graft.operators.VersionedStore.deleteRecursively

/** Closed user session emitted by `StreamingReports.sessionStream`. */
case class UserSession(userId: String, startUs: Long, endUs: Long, nEvents: Long)

/** Open-session state for `sessionStream` — top-level because encoder
  * codegen cannot instantiate object-nested case classes for state.
  */
case class SessionBuf(startUs: Long, lastUs: Long, n: Long)

/** One buffered funnel event (micros, stage code) for `funnelStream`. */
case class FunnelEv(tsUs: Long, code: Int)

/** Per-user funnel buffer state — top-level for encoder codegen. */
case class FunnelBuf(evs: List[FunnelEv])

/** Final stage emitted per user when the funnel state flushes. */
case class UserStage(user_id: Long, stage: Int)

/** One buffered transition event (micros, id tiebreak, state) for
  * `transitionsStream` — top-level for encoder codegen.
  */
case class TransEv(tsUs: Long, eventId: Long, etype: String)

/** Per-user transition buffer state. */
case class TransBuf(evs: List[TransEv])

/** One consecutive (from → to) pair emitted when a user's state
  * flushes on event-time timeout.
  */
case class TransPair(user_id: Long, from_state: String, to_state: String)

/** Per-url recrawl state: the LAST fingerprint seen plus running
  * counts — O(1) per url, never the history (the whole point of the
  * streaming form: a 100-TB fetch log folds into url-count state).
  */
case class RecrawlBuf(lastFp: String, lastR: Long, n: Long, ch: Long)
case class RecrawlCounts(url: String, n_fetches: Long, n_changes: Long)

/** Streaming flavor of the ingestion + top10 pipeline (SURVEY.md §2.11):
  * the `events/` landing prefix consumed as a Structured Streaming file
  * source instead of scheduled batch — same declared schema, same
  * day-keyed counting, plus watermarked late-data handling the batch
  * reference only approximates via its processTime/eventTime split.
  *
  * Scale: the file source lists incrementally; state for the windowed
  * aggregate is bounded by the watermark (1 day of open windows per
  * key), and the stateful running-total operator keeps one long per
  * resource — both shapes survive an unbounded stream.
  */
object StreamingReports {

  /** S3, streaming form: schema-on-read JSON dir scan. */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Schemas.event).json(dir)

  /** Streaming exact dedup — the streaming member of the dedup family:
    * at-least-once sources (file redelivery, kafka replays) re-deliver
    * events; `dropDuplicatesWithinWatermark` keeps the FIRST arrival
    * per eventId and drops re-deliveries that arrive within the
    * watermark delay, with per-key state EXPIRED once the watermark
    * passes — bounded state on an unbounded stream, unlike plain
    * `dropDuplicates` whose key set grows forever. Rows flow through
    * immediately (dedup is not an aggregation), so append mode emits
    * with no watermark latency.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withColumn("pts", to_timestamp(col("processTime"), "yyyy-MM-dd'T'HH:mm:ssXXX"))
      .withWatermark("pts", "1 day")
      .dropDuplicatesWithinWatermark("eventId")

  /** Stream-stream interval join: each event matched to the same
    * user's FOLLOW-UP events arriving within `windowMinutes` — the
    * attribution/correlation shape (view→purchase, impression→click).
    * Both sides carry a watermark and the join condition bounds b's
    * time from both directions relative to a's, which is what lets
    * Spark expire buffered rows: state per side is bounded by
    * watermark + window, not the stream's lifetime. Inner join, so
    * append mode emits matches as soon as both sides arrive.
    */
  def followupJoin(spark: SparkSession, dir: String, windowMinutes: Int): DataFrame = {
    def side(tag: String): DataFrame =
      eventStream(spark, dir)
        .withColumn("pts", to_timestamp(col("processTime"), "yyyy-MM-dd'T'HH:mm:ssXXX"))
        .select(col("eventId").as(s"${tag}_id"), col("userId").as(s"${tag}_user"),
          col("pts").as(s"${tag}_pts"))
        .withWatermark(s"${tag}_pts", "1 day")
    side("a").join(side("b"),
      col("a_user") === col("b_user") &&
        col("b_pts") > col("a_pts") &&
        col("b_pts") <= col("a_pts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      "inner")
  }

  /** Daily purchase counts per resource over event arrival day
    * (processTime, as the batch top10 keys on), tumbling 1-day windows
    * with a 1-day watermark for late files.
    */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("pts", to_timestamp(col("processTime"), "yyyy-MM-dd'T'HH:mm:ssXXX"))
      .withWatermark("pts", "1 day")
      .groupBy(window(col("pts"), "1 day"), col("resourceId"))
      .count()
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("date"),
        col("resourceId"), col("count"))

  /** Streaming top10 report, incremental: the file source reads each
    * landing file ONCE (it tracks processed files; StreamingSpec asserts
    * per-trigger numInputRows), a streaming aggregation keeps the
    * compacted day-keyed counts as its running state, and each trigger
    * re-ranks only that compact frame — ranking needs a full-partition
    * window, which streaming aggregation can't express, so foreachBatch
    * applies `Top10Job.reportFromCounts` to the emitted aggregate and
    * rewrites the K1 pipe-CSV report.
    *
    * State and output are bounded by the report grain (days ×
    * resources), not the event stream. Complete mode re-emits that
    * grain per trigger — acceptable for a small bounded grain, a
    * scale-killer on a long-lived stream; `top10StreamUpdate` below is
    * the bounded-output variant (upserts changed rows into date
    * partitions and re-ranks only touched dates).
    */
  def top10Stream(
      spark: SparkSession, eventsDir: String,
      resources: DataFrame, categories: DataFrame, outPath: String): StreamingQuery =
    Top10Job.dailyCounts(eventStream(spark, eventsDir))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (counts: DataFrame, _: Long) =>
        Top10Job.write(Top10Job.reportFromCounts(counts, resources, categories), outPath)
      }
      .start()

  /** Update-mode streaming top10 — per-trigger work and output bounded
    * by the DATES TOUCHED in the trigger, not the total report grain:
    *
    *  1. the watermarked day-window aggregation in update mode emits
    *     only (date, resourceId, count) rows whose running count
    *     changed this trigger (state for days older than the watermark
    *     is evicted — bounded state on an unbounded stream);
    *  2. foreachBatch upserts them into a date-partitioned parquet
    *     store: changed rows ∪ (existing rows of the touched dates ∖
    *     changed keys), written with DYNAMIC partition overwrite so
    *     only touched date directories are rewritten;
    *  3. the K1 pipe-CSV report is re-ranked from that merged frame —
    *     which already holds the touched dates' full grain — and
    *     likewise dynamically overwrites only those date partitions.
    *
    * The merged frame is localCheckpointed before writing: it reads
    * the same store path it overwrites, and materializing it first is
    * what makes the read-then-overwrite safe (it is report-grain
    * small — touched dates × resources). A quiet day therefore costs
    * nothing: no emitted rows, no partition rewrites.
    */
  def top10StreamUpdate(
      spark: SparkSession, eventsDir: String,
      resources: DataFrame, categories: DataFrame,
      storePath: String, reportPath: String): StreamingQuery =
    dailyCounts(eventStream(spark, eventsDir))
      .writeStream
      .outputMode("update")
      .foreachBatch { (changed: DataFrame, _: Long) =>
        val ss = changed.sparkSession
        if (!changed.isEmpty) {
          val touched = changed.select("date").distinct()
          val existing =
            if (new java.io.File(storePath).exists())
              ss.read.parquet(storePath)
                // bound: one microbatch's distinct dates
                .join(broadcast(touched), Seq("date"), "left_semi")
            else ss.createDataFrame(ss.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              changed.schema)
          val merged = changed.unionByName(
              existing.join(changed.select("date", "resourceId"),
                Seq("date", "resourceId"), "left_anti"))
            .localCheckpoint(true)
          merged.write.partitionBy("date")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(storePath)
          Top10Job.reportFromCounts(merged, resources, categories)
            .write.partitionBy("date")
            .option("header", "true").option("sep", "|")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").csv(reportPath)
        }
      }
      .start()

  // ── replay plumbing: every bounded replay lands its waves into a
  // fresh landing dir through `replayWaves`, which also cleans the
  // landing dir up, so repeated bench runs don't accumulate temp copies
  // of the fixtures ──

  /** Bounded-replay session: a [[graft.Session.fork]] of `outer`, so a
    * replay's conf stays off the outer session while its generated code
    * is shared. The fork runs without artifact isolation, so its tasks
    * (and those of the clone every `writeStream.start()` makes) use the
    * executor's one classloader, and a replay that generates the same
    * code as the last one hits the codegen cache instead of recompiling
    * it: a warm q124 replay compiled 34 classes on an isolated
    * child session, 5 on the fork.
    *
    * Shuffle/state partitions are sized to the FIXTURE volume (hundreds
    * of rows). Every stateful microbatch commits one state-store file per
    * partition, so 32-wide state on a bounded replay is pure fixed
    * cost — measured ~2x of several replays' wall time (round 6), and
    * 4 → 1 a further −8 % over the 13-replay family (median-of-3
    * A/B, round 20: q324 −17 %, q316 −17 %, q263 −29 %, q190 −13 %;
    * q124 +0.9 s is the one loss — its per-user state fold serializes
    * — accepted against the −5.2 s family total). Production streams
    * set the same dial to their key cardinality; the stream operators
    * themselves are partition-agnostic. The event-time timeout replays
    * rely on no-data microbatches being on (Spark's default) to fire
    * their timeouts once the sentinel has moved the watermark.
    */
  private[graft] def replaySession(outer: SparkSession): SparkSession = {
    val s = graft.Session.fork(outer)
    s.conf.set("spark.sql.shuffle.partitions", "1")
    // Measured and DECLINED (round-20, the §1 discipline): AQE off for
    // the replays cuts job count ~25 % (q319 101→77) but RAISES wall
    // time (q324 8.4→12.4 s, q190 7.2→8.8 s) — the adaptive runtime
    // join conversions and partition coalescing on the fold joins are
    // worth more than the per-stage-job scheduling overhead they cost.
    s
  }

  /** Drain a memory-sink table: materialize the rows (eager
    * localCheckpoint) and DROP the sink's temp view — without this
    * every replay invocation leaked one cached in-memory table into
    * the session catalog for the session lifetime (round-16 ADVICE;
    * the names are UUID-suffixed so it was a leak, never a collision).
    * Downstream transforms run on the checkpointed frame.
    */
  private[graft] def drainMemorySink(spark: SparkSession, mem: String): DataFrame = {
    val out = spark.table(mem).localCheckpoint()
    spark.catalog.dropTempView(mem)
    out
  }

  private def listFixtureFiles(srcDir: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(srcDir))
    try s.iterator().asScala
      .filter(Files.isRegularFile(_))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** One replay wave: puts its files into the landing dir. */
  type Lander = Path => Unit

  /** Lander copying fixture files byte-for-byte (q185's malformed lines
    * must land verbatim), each under its own name plus `suffix`. A file
    * is copied to a hidden name and renamed in, so the file source
    * never lists a half-copied file.
    */
  private def copyFiles(files: Seq[Path], suffix: String = ""): Lander =
    landing => files.foreach { p =>
      val name = p.getFileName.toString + suffix
      Files.move(
        Files.copy(p, landing.resolve(s".$name.tmp"), StandardCopyOption.REPLACE_EXISTING),
        landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

  /** `files` as two copy waves: the first `1/firstOf` of them (at least
    * one), then the rest.
    */
  private def splitFiles(files: Seq[Path], firstOf: Int = 2): Seq[Lander] = {
    val (first, rest) = files.splitAt(math.max(1, files.size / firstOf))
    Seq(copyFiles(first), copyFiles(rest))
  }

  /** Lander rendering `rows` as ONE file `<name>.<format>` (json,
    * parquet or text): one coalesce(1) write to a side dir, then the
    * part file moves in, so the file source never lists a half-written
    * part.
    *
    * Event-time timeout replays pass `sentinel` on their LAST wave: one
    * far-future JSON row of a key of its own, appended to that wave's
    * file so both land in the same microbatch. It cannot change a real
    * key's result: a batch's rows are checked for lateness against the
    * previous batch's watermark, so the wave is accepted exactly as
    * without it; the watermark moves past every open state only after
    * the batch, and Spark's automatic no-data microbatch then fires
    * every timeout. The caller filters the sentinel key back out.
    */
  private[graft] def render(
      name: String, rows: DataFrame, format: String = "json",
      sentinel: Option[String] = None): Lander = landing => {
    val side = Files.createTempDirectory(s"graft-render-$name")
    try {
      rows.coalesce(1).write.mode("overwrite").format(format).save(side.toString)
      movePart(side, landing.resolve(s"$name.$format"), sentinel)
    } finally deleteRecursively(side)
  }

  /** Moves the one part file a `coalesce(1)` write left in `dir` to
    * `to`, `sentinel` appended first. A partitioned write leaves no dir
    * for a value with no rows; that wave lands as a file holding only
    * the sentinel, if any.
    */
  private def movePart(dir: Path, to: Path, sentinel: Option[String]): Unit = {
    val part = Option(dir.toFile.listFiles()).toSeq.flatten
      .find(_.getName.startsWith("part-")).map(_.toPath)
      .getOrElse(Files.createFile(Files.createDirectories(dir).resolve("part-empty")))
    sentinel.foreach(s => Files.writeString(part, s + "\n", StandardOpenOption.APPEND))
    Files.move(part, to)
  }

  /** The ingest replays' two parquet waves: the `waveA` rows, then the rest. */
  private def parquetWaves(rows: DataFrame, waveA: Column): Seq[Lander] =
    Seq(render("waveA", rows.filter(waveA), "parquet"),
      render("waveB", rows.filter(!waveA), "parquet"))

  /** Drives a bounded replay — the one place a replay runs: `waves(0)`
    * lands in a fresh landing dir, `start` is called with that dir, and
    * each wave (the later ones landed in turn) gets one
    * `processAllAvailable()`. Work between waves belongs in the next
    * wave's lander; work after the drain runs after this returns. On
    * the way out, failing or not, the query is stopped and the landing
    * dir deleted; the stopped query is returned (its `recentProgress`
    * stays readable).
    */
  private[graft] def replayWaves(prefix: String, waves: Seq[Lander])(
      start: String => StreamingQuery): StreamingQuery = {
    val landing = Files.createTempDirectory(prefix)
    try {
      waves.head(landing)
      val q = start(landing.toString)
      try waves.indices.foreach { i => if (i > 0) waves(i)(landing); q.processAllAvailable() }
      finally q.stop()
      q
    } finally deleteRecursively(landing)
  }

  /** [[replayWaves]] into a memory sink: `stream` builds the streaming
    * frame over the landing dir, the sink runs in output `mode` under a
    * UUID-suffixed name, and its drained rows are returned.
    */
  private def replayToMemory(
      spark: SparkSession, prefix: String, waves: Seq[Lander], mode: String = "append")(
      stream: String => DataFrame): DataFrame = {
    val mem = prefix.replace('-', '_') + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    replayWaves(prefix, waves)(landing =>
      stream(landing).writeStream.format("memory").queryName(mem).outputMode(mode).start())
    drainMemorySink(spark, mem)
  }

  /** [[replayWaves]] into a parquet spool dir: `start` gets the landing
    * dir and the spool dir its sink writes each batch under. The
    * spooled rows are read back (recursively, so a sink may write one
    * subdir per batch) and checkpointed; the spool dir is deleted on
    * the way out, failing or not.
    */
  private[graft] def replayToSpool(spark: SparkSession, prefix: String, waves: Seq[Lander])(
      start: (String, String) => StreamingQuery): DataFrame = {
    val spool = Files.createTempDirectory(prefix + "-out")
    try {
      replayWaves(prefix, waves)(landing => start(landing, spool.toString))
      // recursiveFileLookup, not a "b*" glob: the glob path triggers a
      // noisy FileStreamSink metadata probe warning on every read
      spark.read.option("recursiveFileLookup", "true").parquet(spool.toString).localCheckpoint()
    } finally deleteRecursively(spool)
  }

  /** `df` re-rooted under the replay session `spark` (frames from the
    * outer session must not join frames planned under the clone):
    * written to a temp dir, read back and checkpointed, the temp dir
    * deleted.
    */
  private def reroot(spark: SparkSession, df: DataFrame): DataFrame = {
    val tmp = Files.createTempDirectory("graft-reroot")
    try {
      df.write.mode("overwrite").parquet(tmp.toString)
      spark.read.parquet(tmp.toString).localCheckpoint()
    } finally deleteRecursively(tmp)
  }

  /** Bounded replay of `dedupStream` — the certified-query surface
    * (q82): the landing files are delivered, a full trigger cycle runs,
    * then every file is RE-DELIVERED under a new name (the at-least-once
    * redelivery the operator exists for — same eventIds, same payloads).
    * dropDuplicatesWithinWatermark must pass each eventId through
    * exactly once and drop the entire second wave. Returns the deduped
    * events as a batch frame; the oracle is a plain DISTINCT over the
    * same JSON files (redelivered payloads are byte-identical, so
    * first-arrival-wins and DISTINCT agree row-for-row).
    */
  def dedupReplay(outer: SparkSession, srcDir: String): DataFrame = {
    val spark = replaySession(outer)
    val files = listFixtureFiles(srcDir)
    // the second wave: same payloads, new filenames
    replayToMemory(spark, "graft-dedup-replay",
        Seq(copyFiles(files), copyFiles(files, ".redelivered.json"))) { landing =>
      dedupStream(eventStream(spark, landing))
        .select("eventId", "userId", "resourceId", "countryCode", "duration")
    }
  }

  /** Bounded replay of `followupJoin` — the certified-query surface
    * (q83). Stream-stream inner interval joins emit a match as soon as
    * both sides have arrived (watermarks only bound state eviction), so
    * a drained replay holds every same-user (a, b) pair with b within
    * `windowMinutes` after a — byte-comparable against the batch
    * self-join SQL over the same files.
    */
  def followupReplay(outer: SparkSession, srcDir: String, windowMinutes: Int): DataFrame = {
    val spark = replaySession(outer)
    replayToMemory(spark, "graft-followup-replay",
        Seq(copyFiles(listFixtureFiles(srcDir)))) { landing =>
      followupJoin(spark, landing, windowMinutes)
        .select(col("a_id"), col("b_id"), col("a_user").as("uid"))
    }
  }

  /** Bounded replay of `top10StreamUpdate` over a directory of landing
    * files — the certified-query surface (q80). Files are delivered in
    * TWO waves with a full trigger cycle between them, so the
    * update-mode machinery is exercised for real across triggers:
    * wave 2's changed (date, resourceId) counts must upsert into the
    * store (changed ∪ untouched rows of touched dates), and the re-rank
    * + dynamic partition overwrite must leave every date's report —
    * touched or not — equal to what a batch run over all files would
    * produce. Update mode emits per trigger (no watermark latency), so
    * no sentinel events are needed, unlike `sessionReplay`'s event-time
    * timeouts. Returns the final report read back from the K1 pipe-CSV
    * store, typed to match the batch report.
    */
  def top10ReplayUpdate(
      outer: SparkSession, srcDir: String,
      resources: DataFrame, categories: DataFrame): DataFrame = {
    val spark = replaySession(outer)
    val work = Files.createTempDirectory("graft-top10-out")
    val (store, report) = (s"$work/store", s"$work/report")
    // the returned frame reads the report CSV lazily — clean the
    // store, keep report/ alive
    try replayWaves("graft-top10-replay", splitFiles(listFixtureFiles(srcDir)))(landing =>
      top10StreamUpdate(spark, landing, resources, categories, store, report))
    finally deleteRecursively(Paths.get(store))
    spark.read.option("header", "true").option("sep", "|").csv(report)
      .select(col("position").cast("bigint").as("position"),
        col("date").cast("string").as("date"),
        col("categoryId"), col("categoryName"),
        col("resourceId"), col("resourceName"))
  }

  /** Gap-based sessionization over the event stream —
    * flatMapGroupsWithState with an EVENT-TIME timeout: per-user state
    * holds only the open session (three longs, bounded regardless of
    * stream length); a session closes and is emitted either when a
    * later event of the same user arrives past the gap, or when the
    * WATERMARK passes sessionEnd + gap (the timeout — so idle users'
    * sessions still flush without any further events from them).
    * Append-mode output: each closed session exactly once. The batch
    * equivalent is `operators/Sessionize`; StreamingSpec asserts they
    * agree on the replayed landing dir. Agreement boundary: events
    * arriving later than the 1-day watermark delay are dropped by the
    * stream (standard watermark semantics) but counted by batch.
    */
  def sessionStream(
      spark: SparkSession, eventsDir: String, gapMinutes: Int): Dataset[UserSession] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    eventStream(spark, eventsDir)
      .withColumn("pts", to_timestamp(col("processTime"), "yyyy-MM-dd'T'HH:mm:ssXXX"))
      // drop null users AND unparseable timestamps: a null pts would NPE
      // inside the state function and kill the query — one bad record
      // must not take down the stream
      .filter(col("userId").isNotNull && col("pts").isNotNull)
      .select(col("userId").as[String], col("pts").as[java.sql.Timestamp])
      // a real watermark delay: with 0 seconds, an event arriving one
      // trigger after a newer event would be silently dropped and the
      // stream would diverge from the batch operator; 1 day tolerates
      // routine cross-file disorder (events later than that are dropped
      // by standard watermark semantics, which IS the documented
      // stream/batch agreement boundary)
      .withWatermark("pts", "1 day")
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionBuf, UserSession](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) { (uid, rows, state) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(UserSession(uid, s.startUs, s.lastUs, s.n))
        } else {
          // events inside one micro-batch can arrive unordered
          val ts = rows
            .map(r => r._2.getTime / 1000L * 1000000L + r._2.getNanos / 1000L)
            .toSeq.sorted
          var closed = List.empty[UserSession]
          var buf = state.getOption.getOrElse(SessionBuf(ts.head, ts.head, 0L))
          ts.foreach { t =>
            if (t - buf.lastUs > gapUs) {
              closed ::= UserSession(uid, buf.startUs, buf.lastUs, buf.n)
              buf = SessionBuf(t, t, 1L)
            } else buf = SessionBuf(buf.startUs, math.max(buf.lastUs, t), buf.n + 1)
          }
          state.update(buf)
          // flush when the watermark passes the end of the open gap
          state.setTimeoutTimestamp(buf.lastUs / 1000L + gapMinutes * 60L * 1000L)
          closed.reverseIterator
        }
      }
  }

  /** Bounded replay of `sessionStream` over a directory of landing
    * files — the certified-query surface (q45): copies the source files
    * into a fresh landing dir, streams them through the
    * flatMapGroupsWithState sessionizer in ONE microbatch together
    * with one far-future sentinel event (the `replayWaves` mechanism):
    * the watermark moves past every real session's gap after that
    * batch, and Spark's automatic no-data microbatch fires the
    * event-time timeouts that flush the open sessions. Returns the
    * closed sessions as a batch DataFrame (userId, startUs, endUs,
    * nEvents) with the sentinel user filtered back out —
    * byte-comparable against the batch sessionization SQL over the
    * same files.
    */
  def sessionReplay(outer: SparkSession, srcDir: String, gapMinutes: Int): DataFrame = {
    val spark = replaySession(outer)
    val wave: Lander = landing => {
      copyFiles(listFixtureFiles(srcDir))(landing)
      Files.writeString(landing.resolve("zz-sentinel.json"),
        """{"eventId": "sent1", "eventTime": "2030-01-01T00:00:00+00:00", "processTime": "2030-01-01T00:00:00+00:00", "resourceId": "rX", "userId": "__sentinel", "countryCode": "US", "duration": 0, "itemPrice": "0"}""")
    }
    replayToMemory(spark, "graft-session-replay", Seq(wave))(landing =>
      sessionStream(spark, landing, gapMinutes).toDF())
      .filter(col("userId") =!= "__sentinel")
  }

  /** Bounded replay of `runningTotals` — the certified-query surface
    * (q84). Files are delivered in two waves so the per-key state must
    * genuinely ACCUMULATE across triggers (a single trigger would never
    * read existing state back). Totals are cumulative and monotone, so
    * the final value per resource is the max over the per-trigger
    * emissions — and must equal the batch per-resource event count.
    */
  def runningTotalsReplay(outer: SparkSession, srcDir: String): DataFrame = {
    val spark = replaySession(outer)
    import spark.implicits._
    replayToMemory(spark, "graft-totals-replay", splitFiles(listFixtureFiles(srcDir)),
        "update")(landing =>
      runningTotals(eventStream(spark, landing).as[Event]).toDF("resourceId", "total"))
      .groupBy("resourceId").agg(max(col("total")).as("total"))
  }

  /** STREAMING CDC UPSERT — the streaming member of the Merge family:
    * each micro-batch of the change stream is compacted to
    * last-op-per-key ([[graft.operators.Merge.compactLog]]) and merged
    * into a parquet snapshot store ([[graft.operators.Merge.merge]])
    * via foreachBatch. The store is maintained as a per-resource
    * "latest event" dimension (key = resourceId, seq = processTime
    * epoch-µs, ties by eventId).
    *
    * Correctness across batches needs the OUT-OF-ORDER GUARD: the file
    * source delivers waves in arrival order, not event order, so a
    * later batch can carry an OLDER change for a key. A change applies
    * only if its (seq, eventId) exceeds the stored row's — without
    * this, replaying waves in a different order changes the result;
    * with it, the final store equals the batch compaction over ALL
    * events regardless of delivery order (which is exactly what the
    * q99 oracle checks, and the replay delivers waves REVERSED to make
    * the guard load-bearing).
    *
    * Store layout: one [[graft.operators.VersionedStore]] version per
    * batch, committed exactly once; each batch reads the latest
    * committed version and writes a new one — never an in-place
    * overwrite of a directory being read. At scale the store would be
    * key-partitioned so a batch rewrites only partitions containing
    * its keys (Merge scaladoc).
    */
  def cdcUpsertStream(
      spark: SparkSession, eventsDir: String, storeRoot: String): StreamingQuery =
    eventStream(spark, eventsDir)
      .filter(col("resourceId").isNotNull)
      .withColumn("seq",
        unix_micros(to_timestamp(col("processTime"), "yyyy-MM-dd'T'HH:mm:ssXXX")))
      .select(col("resourceId"), col("seq"), col("eventId"), col("userId"), col("duration"))
      .writeStream
      .option("checkpointLocation", s"$storeRoot/_chk")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyCdcBatch(batch.toDF(), storeRoot, batchId)
      }
      .start()

  private[graft] def applyCdcBatch(
      batch: DataFrame, storeRoot: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val store = VersionedStore(storeRoot)
    store.commit(batchId) { dir =>
      val compacted = graft.operators.Merge.compactLog(
        batch.withColumn("op", lit("U")), "resourceId", "seq", col("eventId"))
      val merged = store.latest match {
        case None => compacted.drop("op")
        case Some(v) =>
          val snap = spark.read.parquet(store.path(v))
          val guarded = compacted
            .join(snap.select(col("resourceId"),
                struct(col("seq"), col("eventId")).as("__cur")),
              Seq("resourceId"), "left")
            .filter(col("__cur").isNull ||
              struct(col("seq"), col("eventId")) > col("__cur"))
            .drop("__cur")
          graft.operators.Merge.merge(snap, guarded, "resourceId", "op")
      }
      merged.write.mode("errorifexists").parquet(dir)
    }
  }

  /** Replay the landing dir through [[cdcUpsertStream]] in two waves —
    * REVERSED, so the second wave is older than the first and the
    * out-of-order guard must reject its stale changes — then read the
    * final store version. Must equal the batch "latest event per
    * resource" over the same files (q99's oracle).
    */
  def cdcUpsertReplay(outer: SparkSession, srcDir: String): DataFrame = {
    val spark = replaySession(outer)
    val storeRoot = Files.createTempDirectory("graft-cdc-store").toString
    replayWaves("graft-cdc-replay", splitFiles(listFixtureFiles(srcDir).reverse))(landing =>
      cdcUpsertStream(spark, landing, storeRoot))
    val store = VersionedStore(storeRoot)
    val latest = store.path(store.latest.getOrElse(
      sys.error(s"no CDC store version written under $storeRoot")))
    // vacuum: keep only the latest version (the returned frame reads it
    // lazily); superseded versions and the checkpoint would otherwise
    // leak one full snapshot copy per batch per replay into tmp
    Option(new java.io.File(storeRoot).listFiles()).foreach(_.foreach { f =>
      if (f.getPath != latest) deleteRecursively(f.toPath)
    })
    spark.read.parquet(latest)
  }

  /** Streaming dead-letter triage — the batch q182 surface as a
    * running ingest: a `readStream.text` scan through
    * `Quarantine.triageLines`, so malformed lines flow to the
    * quarantine branch of a LIVE pipeline instead of killing it (the
    * FAILFAST failure mode is strictly worse on a stream: one bad line
    * would crash the query and stall ingestion until a human
    * intervenes). The pipeline is a pure per-row map — no watermark,
    * no state — so delivery order cannot matter, which the replay
    * proves by delivering the fixture files in two waves; the result
    * must equal the batch triage of the same directory line-for-line
    * (q182's own oracle).
    */
  def quarantineStreamReplay(outer: SparkSession, srcDir: String): DataFrame = {
    val spark = replaySession(outer)
    replayToMemory(spark, "graft-quar-replay", splitFiles(listFixtureFiles(srcDir)))(landing =>
      graft.sources.Quarantine.triageLines(spark.readStream.text(landing)))
  }

  /** Streaming URL-canonicalization triage — q213's projection on a
    * LIVE ingest: crawl fetch records (doc_id, url JSONL) land in two
    * [[projectionStreamReplay]] waves and stream through
    * UrlCanon.canonicalUrl/Host. A pure stateless per-row map (the
    * canonicalization is regex/string projections — no state store,
    * no watermark), so the
    * accumulated append output must equal the batch projection
    * line-for-line; certified against q213's batch oracle VERBATIM
    * (the q185 discipline). `urls` must have (doc_id, url).
    */
  def urlCanonStreamReplay(outer: SparkSession, urls: DataFrame): DataFrame = {
    import graft.ext.UrlCanon
    projectionStreamReplay(outer, urls, "doc_id", "url", df => df
      .select(col("doc_id"), col("url"),
        UrlCanon.canonicalUrl(col("url")).as("canonical_url"))
      .withColumn("host",
        when(col("canonical_url").isNull, lit(null).cast("string"))
          .otherwise(UrlCanon.canonicalHost(col("canonical_url")))))
  }

  /** Streaming HTTP response triage — q236's parse on a LIVE fetch
    * feed (the q218/q232 stateless-map discipline): raw responses land
    * as JSONL waves (the JSON writer escapes the CRLFs and quotes a
    * wire payload is full of, and the JSON reader restores them
    * byte-exact), every record classifies independently —
    * `HttpRecord.parse` is a pure projection, so no state, no
    * watermark — and two delivery
    * waves must accumulate exactly the batch decision table; q248
    * certifies against q236's oracle VERBATIM. This is the production
    * shape: fetchers append response blobs continuously, and the
    * ok/bad_status/bad_type/bad_encoding/malformed split is available
    * per microbatch instead of per crawl cycle.
    */
  def httpParseStreamReplay(outer: SparkSession, raws: DataFrame): DataFrame =
    projectionStreamReplay(outer, raws, "doc_id", "raw",
      df => graft.ext.HttpRecord.parse(df, "doc_id", "raw"))

  /** Stateless-projection streaming twin harness — the
    * [[httpParseStreamReplay]] shape generalized to ANY pure per-row
    * projection `f` over (id: long, payload: string) rows: replay the
    * rows as two JSONL waves (even ids, then odd; each rendered by
    * `.write.json` and read back by `readStream.json` with the declared
    * (id, payload) schema) through readStream → `f` → memory sink.
    * Because `f` is a projection, the accumulated table must equal the
    * batch `f(rows)` output verbatim — certify by reusing the batch
    * query's oracle SQL unchanged (the identical-oracle discipline). `f` must not shuffle or aggregate:
    * append-mode per-microbatch output only makes sense for
    * row-at-a-time transforms.
    */
  def projectionStreamReplay(
      outer: SparkSession, rows: DataFrame, idCol: String,
      payloadCol: String, f: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = replaySession(outer)
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField(payloadCol, StringType)))
    val wave = rows.select(col(idCol), col(payloadCol))
    replayToMemory(spark, "graft-proj-replay",
        Seq(render("even", wave.filter(col(idCol) % 2 === 0)),
          render("odd", wave.filter(col(idCol) % 2 =!= 0))))(landing =>
      f(spark.readStream.schema(schema).json(landing)))
  }

  /** STATEFUL streaming recrawl estimation — UrlCanon.recrawlStats'
    * lag-over-history as an incremental fold: per url the state is
    * O(1) — the LAST fingerprint plus running (n, changes) counts,
    * never the history (a 100-TB fetch log folds into url-count
    * state; the batch form's window re-reads every revisit). Rows
    * fold in round order inside each batch; the fingerprint carried
    * ACROSS microbatches is what detects a change whose two sides
    * arrive in different waves. Event time is synthesized from the
    * revisit round; the final per-url row emits on event-time timeout
    * after the watermark passes it (the transitionsStream discipline).
    * CONTRACT: per-url rounds arrive non-decreasing across batches
    * (fetchers revisit forward in time).
    */
  def recrawlStream(spark: SparkSession, dir: String): Dataset[RecrawlCounts] = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("url", StringType), StructField("r", LongType),
      StructField("fp", StringType)))
    spark.readStream.schema(schema).json(dir)
      .withColumn("ets", timestamp_micros(col("r") * 60000000L))
      .withWatermark("ets", "40 days")
      .filter(col("url").isNotNull && col("r").isNotNull)
      .select(col("url").as[String], col("r").as[Long], col("fp").as[String],
        col("ets").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[RecrawlBuf, RecrawlCounts](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) { (url, rows, state) =>
        if (state.hasTimedOut) {
          val b = state.get
          state.remove()
          Iterator.single(RecrawlCounts(url, b.n, b.ch))
        } else {
          val sorted = rows.toSeq.sortBy(_._2)
          val init = state.getOption.getOrElse(RecrawlBuf(null, -1L, 0L, 0L))
          val folded = sorted.foldLeft(init) { (b, row) =>
            val chg = if (b.n > 0L && b.lastFp != row._3) 1L else 0L
            RecrawlBuf(row._3, row._2, b.n + 1L, b.ch + chg)
          }
          state.update(folded)
          state.setTimeoutTimestamp(
            sorted.map(_._2).max * 60000L + 60L * 60L * 1000L)
          Iterator.empty
        }
      }
  }

  /** Bounded replay of [[recrawlStream]]: the q246 fetch history in
    * two waves SPLIT MID-HISTORY (rounds 1-2, then 3-5) — the change
    * a period-2 url makes between rounds 2 and 3 is only visible if
    * the fingerprint state survived the wave boundary — with one
    * far-future sentinel row riding the last wave (`replayWaves`), so
    * the no-data microbatch after it fires the timeouts; sentinel url
    * filtered back out; ppm/priority derived by the SAME
    * `withRecrawlDerived` code path the batch operator uses. q256
    * certifies against q246's oracle VERBATIM.
    */
  def recrawlReplay(outer: SparkSession, fetches: DataFrame): DataFrame = {
    val spark = replaySession(outer)
    val rows = fetches.select(col("url"), col("r"), col("fp"))
    graft.ext.UrlCanon.withRecrawlDerived(
      replayToMemory(spark, "graft-recrawl-replay",
          Seq(render("wave1", rows.filter(col("r") <= 2)),
            render("wave2", rows.filter(col("r") > 2),
              sentinel = Some("""{"url": "zz-sentinel", "r": 900001, "fp": "s"}"""))))(landing =>
        recrawlStream(spark, landing).toDF())
        .filter(col("url") =!= "zz-sentinel"))
  }

  /** Streaming HTML main-content extraction — q226's chain on a LIVE
    * ingest (the q218 stateless-map discipline): fetched pages land as
    * JSONL waves (the JSON writer escapes the quotes hostile HTML is
    * full of), every row extracts independently — no state, no
    * watermark — so two delivery waves must accumulate exactly the
    * batch table; q232 certifies against q226's oracle VERBATIM.
    */
  def htmlExtractStreamReplay(outer: SparkSession, pages: DataFrame): DataFrame =
    projectionStreamReplay(outer, pages, "doc_id", "html", df => df
      .select(col("doc_id"),
        graft.ext.HtmlExtract.mainText(col("html")).as("main_text"))
      .withColumn("n_chars_text", length(col("main_text")).cast("long")))

  /** Streaming ANN serving — the stored IVF index probed by a LIVE
    * query stream: query embeddings land as PARQUET waves (bit-exact
    * floats — a JSONL text round-trip could drop ulps) and each
    * microbatch is probed via foreachBatch against the SAME frozen
    * index (stream-static: the index never changes mid-stream), the
    * per-batch results appended to an output dir. Per-query top-k is
    * independent across queries, so the accumulated output must equal
    * the one-shot batch probe — q224 certifies against q88's oracle
    * VERBATIM. This is the production serving shape: the corpus is
    * never re-assigned; a query batch costs O(|batch|·nprobe lists).
    */
  def ivfStreamProbeReplay(outer: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.SimSearch
    val spark = replaySession(outer)
    val emb = graft.tables.Corpus.load(spark, sfDir, "embeddings")
    // the SAME stored index q88 probes (shared content-keyed seam)
    val idx = SimSearch.readIvfIndex(spark,
      SimSearch.ensureStoredIvfIndex(spark, sfDir, nlist = 16))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
    replayToSpool(spark, "graft-ann-stream",
        Seq(render("wave1", queries.filter(col("vec_id") % 100 === 0), "parquet"),
          render("wave2", queries.filter(col("vec_id") % 100 =!= 0), "parquet"))) {
      (landing, spool) =>
        spark.readStream.schema(queries.schema).parquet(landing)
          .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
            applyAnnProbeBatch(idx, batch, spool, batchId)
          }.start()
    }
  }

  /** Apply one ANN-serving microbatch: probe the frozen index, write
    * the results to the batch's OWN overwrite dir — not a blind
    * append — so a replayed batch (restart between write and stream
    * commit) rewrites its dir instead of duplicating rows (the
    * applyCdcBatch/applyCrawlBatch idempotent-replay discipline;
    * StreamingSpec replays a batch twice and counts).
    */
  private[graft] def applyAnnProbeBatch(
      idx: graft.ext.SimSearch.IvfIndex, batch: DataFrame,
      outDir: String, batchId: Long): Unit = {
    graft.ext.SimSearch.ivfTopKAgainstIndex(
        idx, batch, "vec_id", "embedding", k = 5, nprobe = 16)
      .write.mode("overwrite").parquet(f"$outDir/b$batchId%05d")
  }

  /** Replay the landing dir in the same two reversed waves as
    * [[cdcUpsertReplay]], keep every version, then TIME-TRAVEL: diff
    * the first committed snapshot against the last via [[Diff]]'s
    * fingerprint machinery (key + 32-byte hash cross the shuffle,
    * never the payload). Because wave 2 is deliberately STALE, the
    * guard rejects its updates for keys wave 1 already wrote — so the
    * diff must show those keys `unchanged`, and `added` exactly for
    * keys whose every event sits in the older half; any `changed` row
    * means a key's true latest event lives in the older wave and the
    * guard correctly accepted it. The oracle reproduces all of it from
    * the raw files with the same filename split.
    */
  def cdcTimeTravelReplay(outer: SparkSession, srcDir: String): DataFrame = {
    val spark = replaySession(outer)
    val storeRoot = Files.createTempDirectory("graft-cdc-tt-store").toString
    // wave 1 is the lexicographically-largest SIXTH (not half as in
    // cdcUpsertReplay): small enough that some keys' only events sit in
    // the older wave, so the diff exercises `added`, not just
    // `unchanged` (on the 24-file fixture: 4 added / 3 unchanged)
    replayWaves("graft-cdc-tt",
        splitFiles(listFixtureFiles(srcDir).reverse, firstOf = 6))(landing =>
      cdcUpsertStream(spark, landing, storeRoot))
    val store = VersionedStore(storeRoot)
    val versions = store.committed
    require(versions.size >= 2, s"expected >=2 CDC versions, got $versions")
    val v0 = spark.read.parquet(store.path(versions.head)).localCheckpoint()
    val vN = spark.read.parquet(store.path(versions.last)).localCheckpoint()
    // checkpointed above so the frames survive the store vacuum below
    Option(new java.io.File(storeRoot).listFiles())
      .foreach(_.foreach(f => deleteRecursively(f.toPath)))
    graft.operators.Diff.diff(v0, vN, "resourceId",
      Seq("seq", "eventId", "userId", "duration"))
  }

  /** Streaming ordered funnel — q114's sorted-walk fold as a
    * flatMapGroupsWithState state machine: funnel events buffer per
    * user until the event-time timeout fires, then the buffer is
    * sorted (tsUs, code) and folded exactly like the batch operator —
    * so arrival order CANNOT matter, which the replay proves by
    * delivering waves interleaved by event-id parity (maximal
    * disorder). The watermark delay must cover the corpus's time span
    * (40 days here vs the 30-day synthetic window): with the usual
    * 1-day delay, a second delivery wave containing day-1 events would
    * be silently dropped as late once the watermark reached day-29 —
    * the streaming-vs-batch divergence this design exists to rule out.
    * State is the user's FUNNEL events only (the stage-code filter
    * runs before the stateful operator), and the timeout lands 1 h
    * after the user's last buffered event. `events` is a stream of
    * (event_id, user_id, ts_us, event_type) rows from any source.
    */
  def funnelStream(
      events: DataFrame, stages: Seq[String],
      sampleRate: Double, sampleSalt: String): Dataset[UserStage] = {
    val spark = events.sparkSession
    import spark.implicits._
    val code = stages.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (s, i)) => when(col("event_type") === s, lit(i + 1)).otherwise(acc)
    }
    events
      .withColumn("ets", timestamp_micros(col("ts_us")))
      .withWatermark("ets", "40 days")
      .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
      .filter(graft.operators.Sampling.hashUnit(col("event_id"), sampleSalt) <
        lit(graft.operators.Sampling.thresholdHex(sampleRate)))
      .withColumn("code", code).filter(col("code") > 0)
      // the watermarked column itself must reach the stateful operator
      // (Spark refuses event-time timeouts otherwise)
      .select(col("user_id").as[Long], col("ts_us").as[Long], col("code").as[Int],
        col("ets").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelBuf, UserStage](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) { (uid, rows, state) =>
        if (state.hasTimedOut) {
          val evs = state.get.evs
          state.remove()
          var stage = 0
          evs.sortBy(e => (e.tsUs, e.code))
            .foreach(e => if (e.code == stage + 1) stage += 1)
          Iterator.single(UserStage(uid, stage))
        } else {
          val evs = state.getOption.map(_.evs).getOrElse(Nil) ++
            rows.map(r => FunnelEv(r._2, r._3))
          state.update(FunnelBuf(evs))
          state.setTimeoutTimestamp(evs.map(_.tsUs).max / 1000L + 60L * 60L * 1000L)
          Iterator.empty
        }
      }
  }

  /** Bounded replay of streaming n-gram novelty scoring (q208's
    * certified surface): the held-out 1/5 documents are rendered to a
    * JSON landing dir in THREE waves and each MICROBATCH is scored
    * against a PRECOMPUTED reference gram set — the stream-static
    * join shape; re-deriving the set per trigger would re-shuffle the
    * whole reference every batch (TextAnalysis.ngramSet exists for
    * exactly this). Per-doc novelty is delivery-independent (no
    * cross-batch state), so the waves must be INVISIBLE in the rows:
    * the result is certified against q202's identical batch oracle.
    * foreachBatch appends each batch's scores to a parquet spool —
    * processAllAvailable runs each batch exactly once here; the full
    * manifest-commit discipline lives in q190/q99.
    */
  def noveltyStreamReplay(outer: SparkSession, sfDir: String): DataFrame = {
    val spark = replaySession(outer)
    import org.apache.spark.sql.types._
    val docs = graft.tables.Corpus.load(spark, sfDir, "documents")
    val refSet = graft.ext.TextAnalysis.ngramSet(
      docs.filter(col("doc_id") % 5 === 1), "text", 3).localCheckpoint()
    val scored = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    replayToSpool(spark, "graft-novelty-replay",
        (0 to 2).map(k => render(s"wave${k + 1}", scored.filter(col("doc_id") % 3 === k)))) {
      (landing, spool) =>
        spark.readStream.schema(schema).json(landing)
          .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
            graft.ext.TextAnalysis.ngramNoveltyAgainst(
                batch, refSet, "doc_id", "text", n = 3)
              .write.mode("append").parquet(spool)
            ()
          }.start()
    }
  }

  /** Bounded replay of [[funnelStream]] over the parquet events table
    * (q124's certified surface): the events land as TWO interleaved
    * waves (event-id parity — every user's stream is split across
    * waves, maximal disorder) with one far-future sentinel row riding
    * the last ([[parityWaves]]), and are streamed through the state
    * machine one wave per microbatch ([[parityEvents]]): wave 1, wave 2
    * plus the sentinel, then the no-data microbatch that fires every
    * user's event-time timeout — 3 microbatches. Returns (stage,
    * n_users) with the sentinel user filtered out — hash-comparable
    * against q114's batch oracle.
    */
  def funnelReplay(outer: SparkSession, sfDir: String): DataFrame = {
    val spark = replaySession(outer)
    // Sentinel id -48 is chosen to PASS the 5% md5 draw: a sentinel
    // must be a fully valid row, or the sample filter — which the
    // optimizer pushes BELOW the watermark operator — drops it before
    // the event-time stats see it and the watermark never advances
    // (debugged exactly so; the session replay's sentinel survives its
    // filters the same way).
    replayToMemory(spark, "graft-funnel-replay", Seq(parityWaves(spark, sfDir, -48)))(landing =>
      funnelStream(parityEvents(spark, landing),
        Seq("view", "click", "signup", "purchase"), 0.05, "funnel-v1").toDF())
      .filter(col("user_id") >= 0)
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
  }

  /** The funnel/transitions replays' one lander: the events table as
    * two event-id-parity waves, `wave1.json` and `wave2.json`, with a
    * far-future sentinel row of id `sentinelId` and user -1 appended to
    * wave 2. Both render in one write partitioned by parity and land
    * before the query starts; wave 1's modification time is set a
    * second before wave 2's, so [[parityEvents]] (one file per
    * trigger, oldest first) reads wave 1 in batch 0 and wave 2 in
    * batch 1, under the watermark wave 1 set. Landing wave 2 only after
    * wave 1's `processAllAvailable` instead lets the watermark-only
    * batch that wave 1 starts run in between: it fires nothing and
    * costs a full trigger.
    */
  private[graft] def parityWaves(spark: SparkSession, sfDir: String, sentinelId: Long): Lander =
    landing => {
      val side = Files.createTempDirectory("graft-render-parity")
      try {
        graft.tables.Corpus.load(spark, sfDir, "events")
          .filter(col("event_id").isNotNull) // no parity: in neither wave
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_type"), when(col("event_id") % 2 === 0, 1).otherwise(2).as("wave"))
          .coalesce(1).write.mode("overwrite").partitionBy("wave").json(side.toString)
        val wave1 = landing.resolve("wave1.json")
        val wave2 = landing.resolve("wave2.json")
        movePart(side.resolve("wave=1"), wave1, None)
        movePart(side.resolve("wave=2"), wave2, Some(
          s"""{"event_id": $sentinelId, "user_id": -1, "ts_us": 1893456000000001, "event_type": "view"}"""))
        Files.setLastModifiedTime(wave1,
          FileTime.fromMillis(Files.getLastModifiedTime(wave2).toMillis - 1000L))
      } finally deleteRecursively(side)
    }

  /** The funnel/transitions replays' reader over a [[parityWaves]]
    * landing dir: its four JSON fields, ONE file per trigger, so each
    * wave is a microbatch of its own. The throttle belongs to the
    * replay, not to the stream operators: a production source keeps
    * its own options.
    */
  private[graft] def parityEvents(spark: SparkSession, landing: String): DataFrame =
    spark.readStream.schema("event_id BIGINT, user_id BIGINT, ts_us BIGINT, event_type STRING")
      .option("maxFilesPerTrigger", 1).json(landing)

  /** Streaming state-transition mining (q128's batch operator as a
    * stateful stream): per user, buffer (ts_us, event_id, type) until
    * the event-time timeout fires, then sort by the same
    * (ts_us, event_id) TOTAL order the batch lag() uses and emit every
    * consecutive (from → to) pair. Disorder-proof by construction —
    * replay waves can interleave arbitrarily because ordering happens
    * at flush, not at arrival (the funnelStream discipline). `events`
    * has funnelStream's four fields.
    */
  def transitionsStream(events: DataFrame): Dataset[TransPair] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ets", timestamp_micros(col("ts_us")))
      .withWatermark("ets", "40 days")
      .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
      .select(col("user_id").as[Long], col("event_id").as[Long],
        col("ts_us").as[Long], col("event_type").as[String],
        col("ets").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransBuf, TransPair](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) { (uid, rows, state) =>
        if (state.hasTimedOut) {
          val evs = state.get.evs
          state.remove()
          val ordered = evs.sortBy(e => (e.tsUs, e.eventId))
          ordered.iterator.zip(ordered.iterator.drop(1))
            .map { case (a, b) => TransPair(uid, a.etype, b.etype) }
        } else {
          val evs = state.getOption.map(_.evs).getOrElse(Nil) ++
            rows.map(r => TransEv(r._3, r._2, r._4))
          state.update(TransBuf(evs))
          state.setTimeoutTimestamp(evs.map(_.tsUs).max / 1000L + 60L * 60L * 1000L)
          Iterator.empty
        }
      }
  }

  /** Bounded replay of [[transitionsStream]] (the funnelReplay
    * machinery): two event-id-parity interleaved waves landed before
    * start with one far-future sentinel row riding the last
    * ([[parityWaves]]), read one wave per microbatch
    * ([[parityEvents]]), so the no-data microbatch after wave 2 fires
    * every timeout — 3 microbatches. The sentinel user is filtered
    * out and the pairs batch-aggregated to the (from, to, n) matrix —
    * hash-comparable against q128's batch oracle restricted to
    * non-null users.
    */
  def transitionsReplay(outer: SparkSession, sfDir: String): DataFrame = {
    val spark = replaySession(outer)
    // no row filters upstream of the watermark here, but the sentinel
    // still must be a fully-valid row (funnelReplay note)
    replayToMemory(spark, "graft-trans-replay", Seq(parityWaves(spark, sfDir, -41)))(landing =>
      transitionsStream(parityEvents(spark, landing)).toDF())
      .filter(col("user_id") >= 0)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
  }

  /** Custom state: running per-resource event totals via
    * mapGroupsWithState (KeyValueGroupedDataset surface).
    */
  def runningTotals(events: Dataset[Event]): Dataset[(String, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.resourceId)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (resourceId: String, rows: Iterator[Event], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (resourceId, total)
      }
  }

  /** Streaming fetch-decode twin — q308's bytes→text decision table
    * on a LIVE ingest (the q232 stateless-map discipline): raw
    * response records travel BASE64-encoded through
    * [[projectionStreamReplay]]'s JSONL waves (binary cannot ride a
    * text landing zone raw; base64 is byte-exact both ways), each row
    * decodes independently (pure projection → append mode, zero
    * state), so two delivery waves must accumulate the identical table
    * — certified against q308's batch oracle VERBATIM (q311).
    */
  def fetchDecodeStreamReplay(outer: SparkSession, fixture: DataFrame,
      maxBytes: Int): DataFrame =
    projectionStreamReplay(outer,
      fixture.select(col("doc_id"), base64(col("raw")).as("raw_b64")), "doc_id", "raw_b64",
      df => graft.ext.FetchDecode.decodeResponses(
        df.select(col("doc_id"), unbase64(col("raw_b64")).as("raw")), "doc_id", "raw",
        maxBytes))

  /** STREAMING semantic-dedup ingest — the q190 read→fold→append
    * lifecycle on the SemDeDup arc: embedding waves land as PARQUET
    * (bit-exact floats), each microbatch folds into the running
    * assignment via [[graft.ext.Dedup.semDedupIncremental]] against
    * the STORED index and then APPENDS itself to the index, so a
    * later wave's near-dups of an EARLIER wave are found directly
    * through the store. q316's wave split makes that append path
    * LOAD-BEARING, not a redundancy: the pre-stream corpus is pure
    * singletons, wave A carries each dup group's base + ×2 copy, and
    * wave B carries the ×4 copies — B's only partners live in A, so
    * without the append every B row would come back a singleton and
    * the brute-force oracle comparison would fail. The accumulated
    * assignment must equal the one-shot [[graft.ext.Dedup.semDedup]]
    * of the full corpus (q310's oracle VERBATIM).
    *
    * REPLAY CAVEAT (the applyAnnProbeBatch discipline does not apply
    * here): the fold mutates the running assignment, so THIS harness
    * is not idempotent under microbatch re-delivery — it exists to
    * certify the load-bearing append in isolation (q316). The
    * production shape is [[semDedupIngestIdempotentReplay]] /
    * [[applySemDedupIngestBatch]] (q319): folds keyed by batchId
    * under the q99/CDC manifest protocol, redelivery a no-op.
    */
  def semDedupIngestReplay(
      outer: SparkSession, corpus: DataFrame, isOld: Column,
      waveA: Column, nlist: Int, tau: Double,
      appendWaves: Boolean = true): DataFrame = {
    import graft.ext.{Dedup, SimSearch}
    val spark = replaySession(outer)
    val c = reroot(spark, corpus)
    val old = c.filter(isOld)
    val batch = c.filter(!isOld)
    val store = Files.createTempDirectory("graft-semdd-idx")
    try {
      SimSearch.writeIvfIndex(SimSearch.buildIvfIndex(
        old, "vec_id", "embedding", nlist, seed = 7L, lloydIters = 1),
        store.toString)
      var assign = Dedup.semDedupWithIndex(
        SimSearch.readIvfIndex(spark, store.toString), old, "vec_id", tau)
        .localCheckpoint()
      replayWaves("graft-semdd-waves", parquetWaves(batch, waveA))(landing =>
        spark.readStream.schema(batch.schema).parquet(landing)
          .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            if (!b.isEmpty) {
              val idx = SimSearch.readIvfIndex(spark, store.toString)
              // ONE coarse-assignment pass per wave (round-20, the q189
              // one-pass rule): the fold and the index append need the
              // identical argmax rows — appendToIvfIndex would re-read the
              // store and re-run the crossJoin-argmax for the same batch
              val assigned = SimSearch.assignToAnchors(
                b, idx.anchors, "vec_id", "embedding").localCheckpoint()
              assign = Dedup.semDedupIncrementalAssigned(
                idx, assign, assigned, "vec_id", tau).localCheckpoint()
              // appendWaves=false is the StreamingSpec NEGATIVE PROBE: it
              // must break cross-wave dedup, proving the append is
              // load-bearing (the non-vacuous-assertion discipline)
              if (appendWaves)
                assigned.write.mode("append").parquet(store.toString + "/lists")
            }
          }.start())
      assign
    } finally deleteRecursively(store)
  }

  /** STREAMING perceptual-dedup ingest (round 16 — the q190/q316
    * read→probe→append lifecycle on the banded-hamming arc): media
    * fingerprints arrive in waves; each wave emits its WITHIN-wave
    * pairs ([[graft.ext.SimSearch.hammingBandedPairs]]) plus its
    * pairs AGAINST THE STORED corpus
    * ([[graft.ext.SimSearch.hammingBandedPairsAgainst]] — batch-vs-
    * store, never store-vs-store), then appends itself to the store,
    * so a later wave's near-dups of an earlier wave are found through
    * the store. The accumulated pair set must equal the one-shot
    * all-pairs batch result — q334 certifies against q326's oracle
    * VERBATIM. `appendWaves = false` is the StreamingSpec NEGATIVE
    * PROBE: cross-wave pairs vanish, proving the append is
    * load-bearing. Per-wave cost: O(batch + store scan) — the store
    * is a 16-byte-per-row hash table, ~10⁻⁴ of the media bytes it
    * fingerprints; at production scale the same probe runs against a
    * band-bucketed layout.
    */
  def hammingDedupIngestReplay(
      outer: SparkSession, hashes: DataFrame, idCol: String,
      hashCol: String, waveA: Column, maxDist: Int = 3,
      appendWaves: Boolean = true): DataFrame = {
    import graft.ext.SimSearch
    val spark = replaySession(outer)
    val h = reroot(spark, hashes)
    // the store starts EMPTY (schema-only parquet) — the first wave
    // probes nothing and seeds it
    val store = Files.createTempDirectory("graft-hh-store")
    try {
      h.limit(0).write.mode("overwrite").parquet(store.toString)
      var pairs = SimSearch.hammingBandedPairs(h.limit(0), idCol, hashCol,
        maxDist).localCheckpoint() // empty frame with the output schema
      replayWaves("graft-hh-waves", parquetWaves(h, waveA))(landing =>
        spark.readStream.schema(h.schema).parquet(landing)
          .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            if (!b.isEmpty) {
              val bb = b.localCheckpoint()
              val corpus = spark.read.parquet(store.toString).localCheckpoint()
              val p = SimSearch.hammingBandedPairs(bb, idCol, hashCol, maxDist)
                .unionByName(SimSearch.hammingBandedPairsAgainst(
                  bb, corpus, idCol, hashCol, maxDist))
              pairs = pairs.unionByName(p).localCheckpoint()
              if (appendWaves)
                bb.write.mode("append").parquet(store.toString)
            }
          }.start())
      pairs
    } finally deleteRecursively(store)
  }

  /** STREAMING drift-report ingest (round 16 — the mergeable-state
    * discipline live on a stream): embedding waves of the CANDIDATE
    * version fold into a running [[graft.ext.SimSearch.driftState]]
    * via mergeDriftStates (sums of sums — O(dims) state per fold,
    * the cheapest possible streaming aggregate), and after the
    * stream drains the accumulated state reports against the frozen
    * REFERENCE version — q353 certifies the result equals the
    * one-shot q350 report VERBATIM. This is the production shape for
    * continuous embedding QA: the reference state is computed once,
    * each ingest batch folds in constant-size state, and the drift
    * gate runs per microbatch at dims-cost.
    */
  def driftIngestReplay(
      outer: SparkSession, reference: DataFrame, candidate: DataFrame,
      vecCol: String, waveA: Column, flagQUnits: Long): DataFrame = {
    import graft.ext.SimSearch
    val spark = replaySession(outer)
    val refState = SimSearch.driftState(reroot(spark, reference), vecCol).localCheckpoint()
    val cand = reroot(spark, candidate)
    var candState: DataFrame = null
    replayWaves("graft-drift-waves", parquetWaves(cand, waveA))(landing =>
      spark.readStream.schema(cand.schema).parquet(landing)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val st = SimSearch.driftState(b.localCheckpoint(), vecCol)
            candState = (if (candState == null) st
              else SimSearch.mergeDriftStates(candState, st)).localCheckpoint()
          }
        }.start())
    SimSearch.driftFromStates(refState, candState, flagQUnits)
  }

  /** EXACTLY-ONCE perceptual-dedup ingest ([[hammingDedupIngestReplay]]
    * without this guard would double BOTH the within-wave pairs and
    * the store rows on a crash redelivery): each wave commits its
    * hashes as one [[graft.operators.VersionedStore]] version, the
    * effective corpus is the union of COMMITTED versions, and a
    * redelivered batchId no-ops before any fold.
    * After the stream drains, the harness RE-DELIVERS wave A
    * verbatim under its ORIGINAL batchId — the guard must make it
    * invisible and the pair set still equals q326's one-shot oracle
    * VERBATIM (q354). `redeliverGuarded = false` is the StreamingSpec
    * NEGATIVE probe: the same redelivery under a FRESH batchId (the
    * unguarded pipeline's view) duplicates wave A's within-wave
    * pair, proving the guard is load-bearing.
    */
  def hammingDedupIngestIdempotentReplay(
      outer: SparkSession, hashes: DataFrame, idCol: String,
      hashCol: String, waveA: Column, maxDist: Int = 3,
      redeliverGuarded: Boolean = true): DataFrame = {
    import graft.ext.SimSearch
    val spark = replaySession(outer)
    val h = reroot(spark, hashes)
    val storeDir = Files.createTempDirectory("graft-hhx-store")
    val store = VersionedStore(storeDir.toString)
    var pairs = SimSearch.hammingBandedPairs(h.limit(0), idCol, hashCol,
      maxDist).localCheckpoint()
    def applyBatch(b: DataFrame, batchId: Long): Unit = {
      if (store.isCommitted(batchId)) return // redelivery no-op
      if (b.isEmpty) return
      val bb = b.localCheckpoint()
      val dirs = store.committed.map(store.path)
      val corpus = if (dirs.isEmpty) h.limit(0)
        else spark.read.parquet(dirs: _*).localCheckpoint()
      val p = SimSearch.hammingBandedPairs(bb, idCol, hashCol, maxDist)
        .unionByName(SimSearch.hammingBandedPairsAgainst(
          bb, corpus, idCol, hashCol, maxDist))
      pairs = pairs.unionByName(p).localCheckpoint()
      store.commit(batchId)(dir => bb.write.parquet(dir))
    }
    try {
      replayWaves("graft-hhx-waves", parquetWaves(h, waveA))(landing =>
        spark.readStream.schema(h.schema).parquet(landing)
          .writeStream.foreachBatch(applyBatch _).start())
      // the crash-redelivery a checkpoint produces: wave A verbatim,
      // original batchId (guarded) or a fresh one (negative probe)
      applyBatch(h.filter(waveA), if (redeliverGuarded) 0L else 999L)
      pairs
    } finally deleteRecursively(storeDir)
  }

  // ── EXACTLY-ONCE semantic-dedup ingest (round-15 forward item #3:
  // the replay-idempotency caveat on [[semDedupIngestReplay]],
  // closed by committing each wave as a VersionedStore version) ──

  /** Resolve the versioned ingest store: `root/index` holds the
    * frozen quantizer (anchors + the OLD corpus's inverted lists),
    * `root/init-assign` the pre-stream assignment, and each committed
    * [[graft.operators.VersionedStore]] version carries BOTH the
    * folded assignment (`assign/`) and the wave's coarse-assigned list
    * delta (`delta/`), so the effective inverted lists are base ∪
    * committed deltas and the current assignment is the LATEST
    * committed version's.
    */
  private[graft] def semDedupStoreState(
      spark: SparkSession, storeRoot: String)
      : (graft.ext.SimSearch.IvfIndex, DataFrame) = {
    import graft.ext.SimSearch
    val store = VersionedStore(storeRoot)
    val base = SimSearch.readIvfIndex(spark, s"$storeRoot/index")
    val versions = store.committed.map(store.path)
    val deltas = versions.map(v =>
      spark.read.parquet(s"$v/delta")
        .select(col("id").as("neighbor_id"), col("vec").as("__cv2"),
          col("cid").as("__cid")))
    val lists = deltas.foldLeft(base.lists)(_ unionByName _)
    val assign = versions.lastOption
      .map(v => spark.read.parquet(s"$v/assign"))
      .getOrElse(spark.read.parquet(s"$storeRoot/init-assign"))
    (base.copy(lists = lists), assign)
  }

  /** One IDEMPOTENT semantic-dedup ingest fold — the batchId-keyed
    * exactly-once commit the [[semDedupIngestReplay]] caveat named,
    * one [[graft.operators.VersionedStore.commit]] per batchId. The
    * fold ([[graft.ext.Dedup.semDedupIncremental]] against the frozen
    * quantizer + committed deltas) and the wave's index delta
    * ([[graft.ext.SimSearch.assignToAnchors]] — the rows, never a
    * mode-append side effect) are written into the SAME version, so
    * there is no crash window in which one mutation committed and the
    * other did not.
    *
    * 100-TB shape: per wave, O(batch · nlist) assignment + pairs
    * against touched clusters only, one bounded parquet version
    * write; the store grows one delta per wave until
    * [[compactSemDedupStore]] folds it down.
    */
  private[graft] def applySemDedupIngestBatch(
      batch: DataFrame, storeRoot: String, batchId: Long,
      tau: Double): Unit = {
    import graft.ext.{Dedup, SimSearch}
    val spark = batch.sparkSession
    VersionedStore(storeRoot).commit(batchId) { dir =>
      val (idx, prev) = semDedupStoreState(spark, storeRoot)
      // ONE coarse-assignment pass (round-20, the q189 one-pass rule):
      // the fold and the wave's persisted list delta need the identical
      // argmax rows — assign once, checkpoint, feed both (the fold
      // previously re-ran the crossJoin-argmax internally)
      val delta = SimSearch.assignToAnchors(
        batch, idx.anchors, "vec_id", "embedding").localCheckpoint()
      val next = Dedup.semDedupIncrementalAssigned(
        idx, prev, delta, "vec_id", tau)
      next.write.mode("errorifexists").parquet(s"$dir/assign")
      delta.write.mode("errorifexists").parquet(s"$dir/delta")
    }
  }

  /** Compact the versioned semantic-dedup ingest store: fold every
    * COMMITTED wave delta into the base index tree, promote the
    * latest assignment to `init-assign`, and drop the versions — the
    * store returns to its freshly-initialized shape with identical
    * effective state ([[semDedupStoreState]] before == after; the spec
    * pins it), so the per-fold delta-union cost stops growing with
    * wave count. The replacement store is installed by
    * [[graft.operators.VersionedStore.swapTree]], like the index
    * compactions.
    * RETENTION RULE (the Delta/Iceberg VACUUM discipline, scaled
    * down): compaction drops the batchId manifests, so it must run
    * only after the source checkpoint has passed the compacted
    * offsets — a wave redelivered AFTER its manifest is gone would
    * re-fold (assignment-idempotent, but it would duplicate the
    * wave's list rows, the q319 negative-probe corruption).
    */
  private[graft] def compactSemDedupStore(
      spark: SparkSession, storeRoot: String): Unit = {
    import graft.ext.SimSearch
    val (idx, assign) = semDedupStoreState(spark, storeRoot)
    val lists = idx.lists.localCheckpoint()
    val frozen = assign.localCheckpoint()
    VersionedStore.swapTree(spark, storeRoot) { staging =>
      SimSearch.writeIvfIndex(idx.copy(lists = lists), s"$staging/index")
      frozen.write.mode("errorifexists").parquet(s"$staging/init-assign")
    }
  }

  /** [[semDedupIngestReplay]] with the EXACTLY-ONCE fold (q319): the
    * same two-wave ingest, but every wave commits through
    * [[applySemDedupIngestBatch]], and after the stream drains the
    * harness RE-DELIVERS wave A VERBATIM — the crash-redelivery a
    * checkpoint produces. Under its original batchId the manifest
    * guard makes the redelivery a no-op and the accumulated
    * assignment still equals q310's one-shot oracle. The NEGATIVE
    * probe lives in StreamingSpec, which drives
    * [[applySemDedupIngestBatch]] directly: an UNGUARDED pipeline
    * cannot recognize the wave and folds it as fresh data — the
    * assignment survives (incrementalClusters dedups its node set,
    * by design) but the index store corrupts with duplicate list
    * rows, and the PROBE surface then returns the same neighbor at
    * two ranks. The guard is what keeps the store sound.
    *
    * `compactAfterWaveA = true` is the q324 variant: the store is
    * COMPACTED between the waves ([[compactSemDedupStore]] — wave A's
    * delta folds into the base index, the assignment is promoted,
    * versions dropped) and wave B then folds against the compacted
    * store; the redelivery step is skipped (compaction drops the
    * manifests — the retention rule), q319 certifies it separately.
    */
  def semDedupIngestIdempotentReplay(
      outer: SparkSession, corpus: DataFrame, isOld: Column,
      waveA: Column, nlist: Int, tau: Double,
      compactAfterWaveA: Boolean = false): DataFrame = {
    import graft.ext.{Dedup, SimSearch}
    val spark = replaySession(outer)
    val c = reroot(spark, corpus)
    val old = c.filter(isOld)
    val batch = c.filter(!isOld)
    val store = Files.createTempDirectory("graft-semddi-store")
    try {
      SimSearch.writeIvfIndex(SimSearch.buildIvfIndex(
        old, "vec_id", "embedding", nlist, seed = 7L, lloydIters = 1),
        s"$store/index")
      Dedup.semDedupWithIndex(
          SimSearch.readIvfIndex(spark, s"$store/index"), old, "vec_id", tau)
        .write.mode("overwrite").parquet(s"$store/init-assign")
      val Seq(landA, landB) = parquetWaves(batch, waveA)
      replayWaves("graft-semddi-waves", Seq(landA, { landing =>
        // q324: fold wave A's delta down into the base index while the
        // stream is idle between triggers (checkpoint has passed wave
        // A's offsets — the retention rule holds)
        if (compactAfterWaveA) compactSemDedupStore(spark, store.toString)
        landB(landing)
      }))(landing =>
        spark.readStream.schema(batch.schema).parquet(landing)
          .writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
            // no batch checkpoint: the fold consumes the wave exactly once
            // (the assignToAnchors pass inside applySemDedupIngestBatch is
            // the materialization point — round-20)
            if (!b.isEmpty) applySemDedupIngestBatch(
              b, store.toString, batchId, tau)
          }.start())
      // ── the crash-redelivery: wave A again, byte-identical, under
      // its original batchId (0 — wave A was the only file at the
      // first trigger); the manifest guard must no-op it. Skipped on
      // the compaction variant: wave A's manifest was legitimately
      // dropped with its folded-down version. ──
      if (!compactAfterWaveA)
        applySemDedupIngestBatch(batch.filter(waveA), store.toString, 0L, tau)
      val (_, fin) = semDedupStoreState(spark, store.toString)
      fin.localCheckpoint()
    } finally deleteRecursively(store)
  }
}
