package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.sources.Sources

/** S1-S5 source specs over the authored fixtures. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  val fix = SparkEntry.FixturesDir

  test("S3: multi-file JSON scan with declared schema; missing userId -> null") {
    val ev = Sources.events(spark, s"$fix/events_json")
    assert(ev.count() == 24)
    assert(ev.schema("duration").dataType == IntegerType)
    assert(ev.schema("itemPrice").dataType == StringType)
    assert(ev.filter($"userId".isNull).count() == 4)
  }

  test("S2: declared-schema resources dim") {
    val res = Sources.resources(spark, s"$fix/resources.json")
    assert(res.count() == 6)
    assert(res.columns.toSet == Set("id", "name", "categoryId", "providerId", "promotion"))
  }

  test("S1: categories payload parsed driver-side into the declared schema") {
    val cats = Sources.categories(spark, s"$fix/categories.json")
    assert(cats.schema.fieldNames.toSeq == Seq("tenant", "id", "name", "percent"))
    val byId = cats.select("id", "percent").as[(String, String)].collect().toMap
    assert(byId == Map("3.1" -> "15", "2.2" -> "10", "7" -> "20"))
  }

  test("S1: escaped quotes and non-string nested values survive the payload parser") {
    val payload =
      """{"meta": {"nested": {"deep": [1, 2]}},
        | "content": [
        |   {"tenant": "t1", "id": "1.1", "name": "a \"quoted\" cat", "percent": "12"},
        |   {"tenant": "t1", "id": "2.2", "name": "uniçode", "percent": 7,
        |    "extra": {"ignored": true}}
        |]}""".stripMargin
    val cats = Sources.categories(spark, "inline", new graft.sources.Fetcher {
      override def fetch(location: String): String = payload
    })
    val byId = cats.select("id", "name", "percent").as[(String, String, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(byId("1.1")._2 == "a \"quoted\" cat")
    assert(byId("2.2")._2 == "uniçode")
    // numeric percent surfaces as its string form (all-string schema)
    assert(byId("2.2")._3 == "7")
  }

  test("S1/S5: the Fetcher seam injects — consumers never see the transport") {
    // a recording fetcher standing in for the reference's HTTP GET
    var fetched = List.empty[String]
    val viaSeam = new graft.sources.Fetcher {
      override def fetch(location: String): String = {
        fetched ::= location
        graft.sources.FileFetcher.fetch(s"$fix/${location.stripPrefix("https://api.test/")}")
      }
    }
    val cats = Sources.categories(spark, "https://api.test/categories.json", viaSeam)
    val rates = Sources.exchangeRates("https://api.test/rates.json", viaSeam)
    assert(cats.count() == 3)
    assert(rates("EUR") == 1.08)
    assert(fetched.toSet ==
      Set("https://api.test/categories.json", "https://api.test/rates.json"))
  }

  test("S4: CSV with header + declared schema keeps PascalCase columns") {
    val ct = Sources.countries(spark, s"$fix/countries.csv")
    assert(ct.columns.toSeq == Seq("CountryCode", "Country", "Code"))
    assert(ct.count() == 5)
  }

  /** Jobs started on this thread while `body` runs. Jobs are tagged with
    * a local property; a marker job run afterwards is waited for, and
    * the listener bus delivers events in order, so every tagged job
    * start has been counted once the marker's has.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "graft.spec.phase"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(tags.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!tags.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains("marker"), "marker job never reached the listener")
      tags.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("S2/S4: declared-schema dim loads run no Spark job") {
    assert(jobsStartedBy(Sources.resources(spark, s"$fix/resources.json")) == 0)
    assert(jobsStartedBy(Sources.countries(spark, s"$fix/countries.csv")) == 0)
    assert(jobsStartedBy(Sources.countriesVia(spark, s"$fix/countries.csv")) == 0)
    // the counter is not vacuous: the reference's inferring reads run jobs
    assert(jobsStartedBy(spark.read.json(s"$fix/resources.json")) > 0)
    assert(jobsStartedBy(spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$fix/countries.csv")) > 0)
  }

  test("Corpus: declared schemas == the inferred file schemas at sf0.001, sf0.01 and sf0.1") {
    // a declared field the file names or types differently reads as
    // null or fails only when scanned; pin every table at every scale
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")
    for (dir <- dirs; (name, declared) <- graft.tables.Corpus.schemas)
      assert(spark.read.parquet(s"$dir/$name.parquet").schema == declared, s"$dir/$name")
    assert(graft.tables.Corpus.tableNames.size == 10)
  }

  test("Corpus: load runs no Spark job; timestamps surface as TIMESTAMP") {
    import graft.tables.Corpus
    assert(jobsStartedBy(Corpus.tableNames.foreach(Corpus.load(spark, sf0001, _))) == 0)
    // the counter is not vacuous: an inferring parquet read runs a job
    assert(jobsStartedBy(spark.read.parquet(s"$sf0001/events.parquet")) > 0)
    val ts = Seq("events" -> "ts", "orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
      .map { case (n, c) => Corpus.load(spark, sf0001, n).schema(c).dataType }
    assert(ts.forall(_ == org.apache.spark.sql.types.TimestampType), ts)
  }

  test("S2/S4: declared-schema dims == the reference's inferring reads on the fixtures") {
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    val res = Sources.resources(spark, s"$fix/resources.json")
    val resInferred = spark.read.json(s"$fix/resources.json")
    assert(res.columns.toSeq == resInferred.columns.toSeq)
    assert(rows(res) == rows(resInferred))
    val ct = Sources.countries(spark, s"$fix/countries.csv")
    val ctInferred = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$fix/countries.csv")
    assert(ct.columns.toSeq == ctInferred.columns.toSeq)
    assert(rows(ct) == rows(ctInferred))
  }

  test("S2: declared resources schema keeps number/boolean text, drops undeclared fields") {
    val path = java.nio.file.Files.createTempFile("resources-typed", ".json")
    path.toFile.deleteOnExit()
    java.nio.file.Files.writeString(path,
      """{"id": 7, "name": "n", "categoryId": "3.01", "providerId": "p1", "promotion": true, "extra": 1}""")
    val res = Sources.resources(spark, path.toString)
    assert(res.columns.toSeq == Seq("categoryId", "id", "name", "promotion", "providerId"))
    assert(res.select("id", "promotion").as[(String, String)].collect().toSeq == Seq(("7", "true")))
  }

  test("S4: a countries header that differs from the declared names fails the read") {
    val reordered = "Country,CountryCode,Code\nUnited States,US,USD\n"
    val path = java.nio.file.Files.createTempFile("countries-reordered", ".csv")
    path.toFile.deleteOnExit()
    java.nio.file.Files.writeString(path, reordered)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    val fromFile = intercept[Exception](Sources.countries(spark, path.toString).collect())
    assert(messages(fromFile).contains("does not conform"), messages(fromFile))
    val inline = new graft.sources.Fetcher {
      override def fetch(location: String): String = reordered
    }
    val fetched = intercept[Exception](Sources.countriesVia(spark, "inline", inline).collect())
    assert(messages(fetched).contains("does not conform"), messages(fetched))
  }

  test("typed Dataset views round-trip the declared schemas") {
    val ev = Sources.eventsDs(spark, s"$fix/events_json")
    assert(ev.filter(_.userId.isEmpty).count() == 4)
    assert(ev.map(_.duration.getOrElse(0)).reduce(_ + _) > 0)
    val res = Sources.resourcesDs(spark, s"$fix/resources.json")
    assert(res.map(_.providerId).distinct().count() == 3)
    assert(Sources.categoriesDs(spark, s"$fix/categories.json").count() == 3)
  }

  test("S7 consumer side: users dim loads typed (written-but-never-read in the reference)") {
    val u = Sources.users(spark, s"$fix/users.json")
    assert(u.count() == 4)
    val typed = Sources.usersDs(spark, s"$fix/users.json").collect()
    assert(typed.map(_.email).toSet.contains("u2@example.com"))
    assert(typed.find(_.email == "u2@example.com").get.name == "Ben \"BJ\" Jones")
  }

  test("S5: rates map parse + broadcast") {
    val rates = Sources.exchangeRates(s"$fix/rates.json")
    assert(rates == Map("USD" -> 1.0, "EUR" -> 1.08, "GBP" -> 1.27))
    assert(Sources.ratesDf(spark, s"$fix/rates.json").count() == 3)
  }

  test("HttpFetcher: S1/S4/S5 via a local HTTP stub equal the file-backed results") {
    import java.nio.file.{Files, Paths}
    // loopback-only stub serving the same fixture bytes over HTTP —
    // exercises the real java.net.http client without any egress
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, file: String): Unit =
      server.createContext(path, exchange => {
        val bytes = Files.readAllBytes(Paths.get(s"$fix/$file"))
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
    serve("/categories", "categories.json")
    serve("/rates", "rates.json")
    serve("/countries", "countries.csv")
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val http = graft.sources.HttpFetcher
      assert(Sources.categories(spark, s"$base/categories", http).collect().toSet ==
        Sources.categories(spark, s"$fix/categories.json").collect().toSet)
      assert(Sources.exchangeRates(s"$base/rates", http) ==
        Sources.exchangeRates(s"$fix/rates.json"))
      assert(Sources.countriesVia(spark, s"$base/countries", http).collect().toSet ==
        Sources.countries(spark, s"$fix/countries.csv").collect().toSet)
      // non-HTTP locations fall through to the file fetcher
      assert(Sources.exchangeRates(s"$fix/rates.json", http)("EUR") == 1.08)
      // HTTP errors surface, not silently parsed
      val e = intercept[IllegalArgumentException] {
        graft.sources.HttpFetcher.fetch(s"$base/nope")
      }
      assert(e.getMessage.contains("404"))
    } finally server.stop(0)
  }

  test("file lineage: _metadata.file_name rides the scan, no extra I/O") {
    val ev = Sources.eventsWithLineage(spark, s"$fix/events_json")
    assert(ev.count() == 24)
    // one object per file in this landing zone: 24 distinct files
    assert(ev.select("source_file").distinct().count() == 24)
    assert(ev.filter($"source_file".rlike("^event-e\\d+\\.json$")).count() == 24,
      "file_name must be the bare name, not a path")
  }

  test("quarantine: malformed lines are routed with raw text preserved, not dropped/fatal") {
    import graft.sources.Quarantine
    val t = Quarantine.triage(spark, s"$fix/events_jsonl_dirty")
    val byKind = t.groupBy("kind").count().as[(String, Long)].collect().toMap
    assert(byKind == Map("ok" -> 11L, "corrupt" -> 4L))
    // a JSON-null field is a VALID row with a null column, not quarantine
    assert(t.filter($"kind" === "ok" && $"resource_id".isNull).count() == 1)
    // corrupt rows carry a fingerprint of the preserved raw line; ok rows don't
    assert(t.filter($"kind" === "corrupt" && $"line_fp".isNull).count() == 0)
    assert(t.filter($"kind" === "ok" && $"line_fp".isNotNull).count() == 0)
    // the raw text itself survives byte-for-byte in the reader frame —
    // and corrupt-only projections are legal (the text+from_json shape
    // has no QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction)
    val raw = Quarantine.readEventLines(spark, s"$fix/events_jsonl_dirty")
      .filter(col(Quarantine.CorruptCol).isNotNull)
      .select(Quarantine.CorruptCol).as[String].collect()
    assert(raw.contains("this line is not json at all"))
    assert(raw.contains("<xml>not json either</xml>"))
  }

  test("schema evolution: mergeSchema unions dump schemas; old dumps read typed nulls") {
    import graft.sources.Evolving
    val root = java.nio.file.Files.createTempDirectory("graft-dumps-spec").toString
    Seq((1L, 10), (2L, 20)).toDF("doc_id", "n_chars")
      .write.parquet(s"$root/dump=a")
    Seq((3L, 30, 7), (4L, 40, 9)).toDF("doc_id", "n_chars", "quality")
      .write.parquet(s"$root/dump=b")
    val df = Evolving.readDumps(spark, root)
    assert(df.columns.toSet == Set("doc_id", "n_chars", "quality", "dump"))
    // rows from the pre-evolution dump read the new column as null
    assert(df.filter($"dump" === "a" && $"quality".isNull).count() == 2)
    assert(df.filter($"dump" === "b").agg(sum($"quality")).as[Long].head() == 16L)
    // column pruning survives the merged schema: a 1-column projection
    // plans a 1-column (+partition) read schema
    val plan = df.select("n_chars").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<n_chars:int>"), plan)
  }

  test("defaultFetcher honors the graft.fetcher flag (file remains the default)") {
    assert(Sources.defaultFetcher eq graft.sources.FileFetcher)
    System.setProperty("graft.fetcher", "http")
    try assert(Sources.defaultFetcher eq graft.sources.HttpFetcher)
    finally System.clearProperty("graft.fetcher")
  }
}
