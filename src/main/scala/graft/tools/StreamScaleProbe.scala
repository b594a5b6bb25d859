package graft.tools

import java.nio.file.{Files, Path, Paths}

import graft.operators.VersionedStore.deleteRecursively
import graft.sources.Sources
import graft.streaming.StreamingReports

/** Streaming pseudo-scale probe (dev tool, the streaming sibling of
  * [[ScaleProbe]]): measures how the replayed streaming family —
  * q45 sessionization (flatMapGroupsWithState), q80 update-mode top10
  * (upsert store + dynamic partition overwrite), q82 watermarked dedup
  * (dropDuplicatesWithinWatermark) — scales when the EVENT VOLUME grows
  * 10× under a FIXED trigger structure.
  *
  * Why the fixture replays can't answer this: the certified queries
  * replay the 24-event oracle fixture, so their wall time is ~100%
  * microbatch fixed cost (trigger scheduling, state-store commit, file
  * listing) and ~0% data. This probe generates its own landing set at
  * real volume — FILE COUNT FIXED, events-per-file scaled — so both
  * scales run the identical wave/trigger sequence and the ratio
  * isolates the per-event cost: state-store puts (one per user/eventId
  * key), group sorts, and join probes.
  *
  * Scale axis: the user/event KEY SET grows with volume (users =
  * events/8, avg 8 events per user) — the 100 TB posture, where more
  * traffic means more keys, not 10×-longer sessions. Streaming state
  * per trigger is O(keys), so the expected curve is ≤ linear: fixed
  * costs amortize (sub-linear start) and per-key state work is O(1)
  * amortized per event. Super-linear would mean a state-store scan or
  * per-trigger O(keys²) — the failure mode this probe exists to catch.
  *
  * Determinism: an LCG keyed by event index (no Math.random — same
  * landing bytes every run), fixed file names, sorted delivery.
  */
object StreamScaleProbe {

  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Write `nFiles` JSON-lines files of `perFile` events each.
    * Deterministic event shape (Schemas.event fields): users cycle so
    * the user count scales with total volume; each user's events are
    * ~7 min apart with a 2 h jump every 8th so q45 produces multiple
    * sessions per user; every event id is unique (q82's dedup state
    * holds them all, and its second wave re-delivers every payload).
    */
  private def genLanding(dir: Path, nFiles: Int, perFile: Int): Unit = {
    val total = nFiles * perFile
    val nUsers = math.max(1, total / 8)
    val baseUs = 1711929600000000L // 2024-04-01T00:00:00Z, fixture epoch
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'+00:00'")
      .withZone(java.time.ZoneOffset.UTC)
    for (f <- 0 until nFiles) {
      val sb = new StringBuilder(perFile * 200)
      for (i <- 0 until perFile) {
        val idx = f * perFile + i
        val lcg = (idx * 6364136223846793005L + 1442695040888963407L) >>> 11
        val user = idx % nUsers
        val seq = idx / nUsers // this user's seq-th event
        val tUs = baseUs + user * 1000000L + seq * 420000000L +
          (seq / 8) * 7200000000L + (lcg % 60) * 1000000L
        val ts = fmt.format(java.time.Instant.ofEpochSecond(tUs / 1000000L))
        sb.append(s"""{"eventId":"e$idx","eventTime":"$ts","processTime":"$ts","resourceId":"r${(lcg % 8) + 1}","userId":"u$user","countryCode":"US","duration":${(lcg % 300).toInt},"itemPrice":"9.99"}""")
          .append('\n')
      }
      Files.writeString(dir.resolve(f"events-$f%03d.json"), sb.toString)
    }
  }

  def main(args: Array[String]): Unit = {
    val scales = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALES", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    // 20 files × 250 events = 5,000 at 1× — large enough that per-event
    // work is visible over the ~seconds of fixed microbatch cost, small
    // enough that 10× (50,000) still drains in tens of seconds locally
    val (nFiles, basePerFile) = (
      sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES", "20").toInt,
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PERFILE", "250").toInt)
    val fixtures = graft.SparkEntry.FixturesDir
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val resources = Sources.resources(spark, fixtures + "/resources.json")
    val categories = Sources.categories(spark, fixtures + "/categories.json")

    def probe(tag: String, srcDir: String): Map[String, Double] = {
      def run(name: String, wall: => Double): (String, Double) = {
        val t = wall
        println(f"SPROBE $tag $name%-14s $t%8.2f s")
        name -> t
      }
      Map(
        run("q45_sessions", time(
          StreamingReports.sessionReplay(spark, srcDir, gapMinutes = 60).count())),
        run("q80_top10", time(
          StreamingReports.top10ReplayUpdate(spark, srcDir, resources, categories).count())),
        run("q82_dedup", time(
          StreamingReports.dedupReplay(spark, srcDir).count())),
        // CDC upsert: per-trigger cost includes a SNAPSHOT REWRITE
        // (merge into the versioned store), so the expected curve is
        // linear in events + keys·triggers for the rewrite term — at
        // real scale the store is key-partitioned and each batch
        // rewrites only touched partitions (Merge scaladoc); this row
        // watches the unpartitioned local form for super-linear drift
        run("q99_cdc", time(
          StreamingReports.cdcUpsertReplay(spark, srcDir).count())))
    }

    val dirs = scales.map { n =>
      val d = Files.createTempDirectory(s"graft-sprobe-${n}x")
      genLanding(d, nFiles, basePerFile * n)
      n -> d
    }
    try {
      // discarded warm-up at 1×: state-store provider init, codegen,
      // memory-sink classloading — same reasoning as ScaleProbe's
      probe("warm-discard", dirs.head._2.toString)
      val base = probe("1x", dirs.head._2.toString)
      val curve = dirs.tail.map { case (n, d) =>
        val big = probe(s"${n}x", d.toString)
        val ratios = base.keys.toSeq.sorted.map { k =>
          val r = String.format(java.util.Locale.ROOT, "%.1f",
            Double.box(big(k) / base(k)))
          s""""$k":$r"""
        }.mkString("{", ",", "}")
        s""""${n}x":$ratios"""
      }.mkString(",")
      println(s"""{"probe":"stream_scale","files":$nFiles,"base_events":${nFiles * basePerFile},"scales":[${scales.mkString(",")}],"wall_ratio":{$curve}}""")
    } finally {
      dirs.foreach { case (_, d) => deleteRecursively(d) }
      spark.stop()
    }
  }
}
