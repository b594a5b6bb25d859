package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.jobs.{PlatformUsageJob, RoyaltiesJob, Top10Job}
import graft.operators.TopK
import graft.sources.Sources

/** End-to-end report jobs on the authored fixtures: hand-computed
  * expectations, sink round trips (K1-K3), reference tie/dedup/drop
  * semantics.
  */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  val fix = SparkEntry.FixturesDir
  private lazy val events = Sources.events(spark, s"$fix/events_json")
  private lazy val resources = Sources.resources(spark, s"$fix/resources.json")
  private lazy val categories = Sources.categories(spark, s"$fix/categories.json")
  private lazy val countries = Sources.countries(spark, s"$fix/countries.csv")
  private lazy val rates = Sources.ratesDf(spark, s"$fix/rates.json")

  private def tmpDir(name: String): String = {
    val p = Files.createTempDirectory(name)
    p.toFile.deleteOnExit()
    p.toString
  }

  test("Top10Job: counts, dense_rank tie, and left-join null paths") {
    val r = Top10Job.transform(events, resources, categories)
    val rows = r.collect()
    def pos(date: String, cat: String, res: String): Long =
      rows.find(x => x.getAs[String]("date") == date &&
        x.getAs[String]("categoryId") == cat && x.getAs[String]("resourceId") == res)
        .get.getAs[Long]("position")
    // 2024-04-01, Books (3.01): r1 count 3 -> pos 1; r2 count 2 -> pos 2
    assert(pos("2024-04-01", "3.01", "r1") == 1)
    assert(pos("2024-04-01", "3.01", "r2") == 2)
    // 2024-04-01, Music (2.02): r3/r4 TIE at 2 -> both pos 1
    assert(pos("2024-04-01", "2.02", "r3") == 1)
    assert(pos("2024-04-01", "2.02", "r4") == 1)
    // unknown resource r9: null categoryId partition still ranked
    assert(rows.exists(x => x.getAs[String]("resourceId") == "r9" &&
      x.getAs[String]("categoryId") == null))
    // resource with unmatched category: name null
    assert(rows.exists(x => x.getAs[String]("resourceId") == "r6" &&
      x.getAs[String]("categoryId") == "9.9" && x.getAs[String]("categoryName") == null))
    // one row per (date, categoryId, resourceId): the fixture's resource
    // ids are unique, so the compacted grain needs no O2 dedup
    assert(rows.length ==
      r.select("date", "categoryId", "resourceId").distinct().count())
  }

  /** The reference's event-grain plan (top10.py:242-253), kept here as
    * the oracle for `Top10Job.transform`: dims joined onto every event,
    * purchase counts joined back onto the events (J3), dense_rank, then
    * the grain dedup (O2).
    */
  private def referenceTop10(ev: DataFrame, res: DataFrame, cats: DataFrame): DataFrame = {
    val joined = ev.select(substring($"processTime", 1, 10).as("date"), $"resourceId")
      .join(broadcast(Top10Job.cleanResources(res)), Seq("resourceId"), "left")
      .join(broadcast(Top10Job.cleanCategories(cats)), Seq("categoryId"), "left")
    val counts = joined.groupBy("date", "resourceId").count()
    TopK.denseTopK(joined.join(counts, Seq("date", "resourceId"), "left"),
        Seq("date", "categoryId"), $"count".desc, 10)
      .dropDuplicates("date", "categoryId", "resourceId")
      .select("position", "date", "categoryId", "categoryName", "resourceId", "resourceName")
  }

  /** Rows as a sorted multiset: equal reports, duplicates included. */
  private def rowBag(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("Top10Job == reference J3 join-back + O2 dedup plan") {
    // the fixture report holds the rank tie, the unknown resource r9 and
    // the missing category of r6 (pinned by the first Top10Job test)
    assert(rowBag(Top10Job.transform(events, resources, categories)) ==
      rowBag(referenceTop10(events, resources, categories)))

    // every event file delivered twice, and r2's 2024-04-01 file a third
    // time: duplicate events count in both plans (r2 reaches 3 x 2 = 6,
    // tying r1's 2 x 3 = 6, so the duplicates move the ranking)
    val landing = Files.createTempDirectory("top10-dup-landing")
    landing.toFile.deleteOnExit()
    Files.list(Paths.get(fix, "events_json")).forEach { p =>
      val name = p.getFileName.toString
      val copies = if (name == "event-e04.json" || name == "event-e05.json") 3 else 2
      (1 to copies).foreach(i => Files.copy(p, landing.resolve(s"copy$i-$name")))
    }
    val dupEvents = Sources.events(spark, landing.toString)
    val dupCounts = Top10Job.dailyCounts(dupEvents)
      .filter($"date" === "2024-04-01" && $"resourceId".isin("r1", "r2"))
      .select("resourceId", "count").as[(String, Long)].collect().toMap
    assert(dupCounts == Map("r1" -> 6L, "r2" -> 6L))
    val dupJob = rowBag(Top10Job.transform(dupEvents, resources, categories))
    assert(dupJob == rowBag(referenceTop10(dupEvents, resources, categories)))
    assert(dupJob.contains("[1,2024-04-01,3.01,Books,r1,Alpha]"))
    assert(dupJob.contains("[1,2024-04-01,3.01,Books,r2,Beta]"))
  }

  test("Top10Job plan: one events scan, no join between event-derived sides") {
    def isEvents(p: LogicalPlan): Boolean = p match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.endsWith("events_json"))
        case _ => false
      }
      case _ => false
    }
    def eventScans(p: LogicalPlan): Int = p.collectLeaves().count(isEvents)
    def eventJoins(p: LogicalPlan): Seq[LogicalPlan] =
      p.collect { case j: Join if eventScans(j.left) > 0 && eventScans(j.right) > 0 => j }

    val plan = Top10Job.transform(events, resources, categories).queryExecution.optimizedPlan
    assert(eventScans(plan) == 1, plan.treeString)
    assert(eventJoins(plan).isEmpty, plan.treeString)
    // the guard is not vacuous: it flags the reference-shaped join-back
    val ref = referenceTop10(events, resources, categories).queryExecution.optimizedPlan
    assert(eventScans(ref) == 2 && eventJoins(ref).nonEmpty, ref.treeString)
  }

  test("Top10Job plan: two hash shuffles (counts, date), no range sort exchange") {
    // before execution, an adaptive plan's executedPlan is its initial
    // plan: every exchange the planner placed, none coalesced yet
    val plan = Top10Job.transform(events, resources, categories).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(!shuffles.exists(_.isInstanceOf[RangePartitioning]), plan.treeString)
    val hashKeys = shuffles.collect { case h: HashPartitioning =>
      h.expressions.map { case a: Attribute => a.name; case e => e.sql }
    }
    assert(hashKeys.size == shuffles.size, plan.treeString)
    assert(hashKeys.toSet == Set(Seq("date", "resourceId"), Seq("date")), plan.treeString)
  }

  test("K1 sink: pipe-CSV partitioned by date with header") {
    val out = tmpDir("top10csv")
    Top10Job.write(Top10Job.transform(events, resources, categories), out)
    val d1 = Paths.get(out, "date=2024-04-01")
    val d2 = Paths.get(out, "date=2024-04-02")
    assert(Files.isDirectory(d1) && Files.isDirectory(d2))
    val csv = Files.list(d1).filter(_.toString.endsWith(".csv")).findFirst().get()
    val lines = Files.readAllLines(csv)
    assert(lines.get(0) == "position|categoryId|categoryName|resourceId|resourceName")
    // each date is one file, its rows in (categoryId, position) order
    // (a null categoryId is written empty and sorts first, as in Spark)
    val dateDirs = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("date=")).toSeq
    assert(dateDirs.size == 2)
    dateDirs.foreach { d =>
      val parts = Files.list(d).iterator().asScala.filter(_.toString.endsWith(".csv")).toSeq
      assert(parts.size == 1, s"$d holds ${parts.size} csv parts")
      val keys = Files.readAllLines(parts.head).asScala.drop(1).toSeq.map { line =>
        val f = line.split("\\|", -1)
        (f(1), f(0).toInt)
      }
      assert(keys.nonEmpty && keys == keys.sorted, s"$d rows out of order: $keys")
    }
    // read-back equivalence
    val back = spark.read.option("header", "true").option("sep", "|").csv(out)
    assert(back.count() == Top10Job.transform(events, resources, categories).count())
  }

  test("RoyaltiesJob: exact conversion math, promo zeroing, drop-unknown currencies") {
    val r = RoyaltiesJob.transform(events, resources, categories, countries, rates)
    val rows = r.collect()
    def amount(date: String, prov: String, res: String): String =
      rows.find(x => x.getAs[String]("date") == date &&
        x.getAs[String]("providerId") == prov && x.getAs[String]("resourceId") == res)
        .get.getAs[String]("amount")
    // r1/p1, 2024-03: e01 US 3.00 + e02 DE round(3.00*1.08)=3.24 + e11 US 3.00 = 9.24
    assert(amount("2024-03", "p1", "r1") == "9.24")
    // promo resource r2 earns exactly 0 wherever it appears
    assert(rows.filter(_.getAs[String]("resourceId") == "r2")
      .forall(_.getAs[String]("amount") == "0.00"))
    // JP (JPY not in rates), NR (NAR unknown), XX (no country row) all dropped:
    // r5 only ever sold in NR/XX -> no r5 rows at all
    assert(!rows.exists(_.getAs[String]("resourceId") == "r5"))
    // unknown-category resource r6: percent null -> null amount, row kept
    assert(rows.filter(_.getAs[String]("resourceId") == "r6")
      .forall(_.getAs[String]("amount") == null))
  }

  test("K2 sink: JSON-lines round trip") {
    val out = tmpDir("royaltiesjson")
    val report = RoyaltiesJob.transform(events, resources, categories, countries, rates)
    RoyaltiesJob.write(report, out)
    val back = spark.read.json(out)
    assert(back.count() == report.count())
    assert(back.columns.toSet.subsetOf(Set("date", "providerId", "resourceId", "amount")))
  }

  test("O4 preview: show(n) renders the ASCII table with at most n data rows") {
    val report = RoyaltiesJob.transform(events, resources, categories, countries, rates)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      RoyaltiesJob.preview(report, 3)
    }
    val out = buf.toString("UTF-8")
    assert(out.contains("providerId") && out.contains("amount"), out.take(200))
    // header border + header + separator + <=3 rows + footer border
    assert(out.linesIterator.count(_.startsWith("|")) <= 4)
    assert(out.linesIterator.count(_.startsWith("+")) == 3)
  }

  test("PlatformUsageJob: per-month shares sum to 100; tz slice on real offsets") {
    val byTz = PlatformUsageJob.byTimeZone(events)
    val sums = byTz.groupBy("month").agg(sum($"usagePercentTotal").as("s"))
      .select("s").as[Double].collect()
    sums.foreach(s => assert(math.abs(s - 100.0) < 1e-9))
    val tzs = byTz.select("timeZone").distinct().as[String].collect().toSet
    assert(tzs.contains("+09:00") && tzs.contains("-08:00"))
    // relative-within-tz shares sum to 100 per (month, tz)
    PlatformUsageJob.byTimeZone(events)
      .groupBy("month", "timeZone").agg(sum($"usagePercentRelativeTz").as("s"))
      .select("s").as[Double].collect()
      .foreach(s => assert(math.abs(s - 100.0) < 1e-9))
  }

  test("PlatformUsage byCountry == literal join-back formulation (rewrite proof)") {
    val ev = PlatformUsageJob.cleanEvents(events)
    val viaJob = PlatformUsageJob.byCountry(events)
      .select("month", "resourceId", "countryCode", "usagePercentTotal")
    val g = ev.groupBy("month", "countryCode", "resourceId")
      .agg(sum($"duration").as("d"))
    val monthTot = g.groupBy("month").agg(sum($"d").as("mt"))
    val viaJoinBack = g.join(monthTot, Seq("month"))
      .select($"month", $"resourceId", $"countryCode",
        ($"d".cast("double") / $"mt".cast("double") * 100).as("usagePercentTotal"))
    assert(viaJob.except(viaJoinBack).count() == 0)
    assert(viaJoinBack.except(viaJob).count() == 0)
  }

  test("K3 sink: parquet partitioned by month") {
    val out = tmpDir("usageparquet")
    PlatformUsageJob.write(PlatformUsageJob.byCountry(events), out)
    assert(Files.isDirectory(Paths.get(out, "month=2024-03")))
    assert(Files.isDirectory(Paths.get(out, "month=2024-04")))
    val back = spark.read.parquet(out)
    assert(back.count() == PlatformUsageJob.byCountry(events).count())
  }

  test("SQL surface: DSL result == spark.sql over temp views (P6)") {
    events.createOrReplaceTempView("fx_events")
    val sqlDf = spark.sql(
      """SELECT substring(processTime, 1, 10) AS date, resourceId, COUNT(*) AS cnt
        |FROM fx_events GROUP BY 1, 2""".stripMargin)
    val dslDf = events
      .select(substring($"processTime", 1, 10).as("date"), $"resourceId")
      .groupBy("date", "resourceId").agg(count(lit(1)).as("cnt"))
    assert(sqlDf.except(dslDf).count() == 0 && dslDf.except(sqlDf).count() == 0)
  }
}
