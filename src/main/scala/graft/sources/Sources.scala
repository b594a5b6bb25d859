package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, Dataset, Row, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.model.{Category, Event, Resource, Schemas, User}

/** Driver-side payload fetch seam (S1/S5). The reference GETs these
  * tiny payloads over HTTP (top10.py:46, royalties.py:66-68); this
  * build environment is zero-egress, so the default implementation
  * resolves the location as a local file. A production deployment
  * injects an HTTP-client-backed Fetcher — the parsing/DataFrame
  * construction below only ever sees the trait, so the substitution is
  * an injection, not a code edit.
  */
trait Fetcher {
  def fetch(location: String): String
}

/** The zero-egress default: location is a filesystem path. */
object FileFetcher extends Fetcher {
  override def fetch(location: String): String =
    Files.readString(Paths.get(location))
}

/** The production fetcher: GETs http(s) locations with the JDK's own
  * java.net.http client (no extra dependency). Non-HTTP locations fall
  * through to [[FileFetcher]], so mixed configs (local fixtures + live
  * endpoints) need no branching at the call sites. Driver-side only and
  * bounded by contract — these are the reference's tiny dim/rates
  * payloads (top10.py:46, royalties.py:66-68), never data-plane reads.
  */
class HttpFetcher(timeoutSeconds: Long = 30) extends Fetcher {
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds))
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .build()
  override def fetch(location: String): String =
    if (location.startsWith("http://") || location.startsWith("https://")) {
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(location))
        .timeout(java.time.Duration.ofSeconds(timeoutSeconds))
        .GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() >= 200 && resp.statusCode() < 300,
        s"GET $location returned HTTP ${resp.statusCode()}")
      resp.body()
    } else FileFetcher.fetch(location)
}
object HttpFetcher extends HttpFetcher(30)

/** Ingestion tier (SURVEY.md §2.1, S1-S5) re-expressed Spark-first.
  *
  * The reference downloads one JSON blob per event serially onto the
  * driver (top10.py:137-168) — that pattern is deliberately replaced by
  * Spark's native multi-file scan, which parallelizes listing + parsing
  * across executors and is the only shape that survives 100 TB of
  * landing files. Only the genuinely tiny payloads (a categories HTTP
  * body, a rates map) touch the driver, and each is bounded by contract.
  */
object Sources {

  /** Flag-selected default fetcher for the S1/S4/S5 driver-side
    * payloads: `-Dgraft.fetcher=http` (or env GRAFT_FETCHER=http)
    * switches every default-fetcher call site to the HTTP client; the
    * zero-egress default stays file-backed. Explicit injection at a
    * call site always wins over the flag.
    */
  def defaultFetcher: Fetcher =
    if (sys.props.get("graft.fetcher").orElse(sys.env.get("GRAFT_FETCHER")).contains("http"))
      HttpFetcher
    else FileFetcher

  /** S3 — multi-file JSON event scan with the declared schema (replaces
    * the reference's driver download loop). Explicit schema: no
    * inference pass over 100 TB, and missing fields (e.g. userId) become
    * proper nulls.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas.event).json(dir)

  /** S3 + provenance: the same event scan with FILE LINEAGE attached
    * from the scan's hidden `_metadata` column — the file name rides
    * the split (zero extra I/O, no UDF), which is what makes row-level
    * provenance viable on a 100k-file landing zone: "which delivery
    * produced this row" becomes a normal column to group and join on.
    */
  def eventsWithLineage(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.schema(Schemas.event).json(dir)
    df.select(df.col("*"), df.col("_metadata.file_name").as("source_file"))
  }

  /** S2 — resources dim read with the declared all-string
    * `Schemas.resource`. The reference infers it (top10.py:97-114); a
    * declared schema makes the load lazy (no inference job, so every
    * report that reads the dim skips one scan), at the cost recorded in
    * DIVERGENCES.md #13: fields outside the declared set are dropped,
    * and a JSON number or boolean is kept as its text.
    */
  def resources(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.resource).json(path)

  /** S1 — HTTP-JSON dim (categories): the reference GETs a url and
    * builds a DataFrame from the payload's `content` array with an
    * explicit schema (top10.py:35-59). Same mechanism here: a
    * driver-side fetch of a tiny payload through the `Fetcher` seam
    * (file-backed by default), parsed on the driver, then
    * `createDataFrame` with the declared schema. The rows form a local
    * relation, so the planner knows its size and broadcasts it into a
    * join.
    */
  def categories(spark: SparkSession, location: String,
      fetcher: Fetcher = defaultFetcher): DataFrame = {
    val rows = parseCategoryContent(fetcher.fetch(location)).map { m =>
      Row(m.get("tenant").orNull, m.get("id").orNull,
        m.get("name").orNull, m.get("percent").orNull)
    }
    spark.createDataFrame(rows.asJava, Schemas.category)
  }

  /** Typed Dataset views (SURVEY.md §1.3: DataFrame at the edges,
    * Dataset[T] where type safety helps downstream logic).
    */
  def eventsDs(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    events(spark, dir).as[Event]
  }

  def resourcesDs(spark: SparkSession, path: String): Dataset[Resource] = {
    import spark.implicits._
    resources(spark, path).select("id", "name", "categoryId", "providerId", "promotion").as[Resource]
  }

  def categoriesDs(spark: SparkSession, path: String): Dataset[Category] = {
    import spark.implicits._
    categories(spark, path).as[Category]
  }

  /** S7 consumer side — users dim (create_user.py:24-29): the reference
    * writes it keyed by email and never reads it; modeled here so the
    * surface is complete for a migrating consumer. Inferred schema, as
    * the reference's Firestore reads infer.
    */
  def users(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def usersDs(spark: SparkSession, path: String): Dataset[User] = {
    import spark.implicits._
    users(spark, path).select("email", "name", "age").as[User]
  }

  /** S4 — countries CSV read with the declared all-string
    * `Schemas.country`. The reference reads it with header + inferSchema
    * (royalties.py:66-68); the declared schema makes the load lazy (no
    * header or inference job). The header is still checked against the
    * declared names (`enforceSchema=false`): a renamed or reordered
    * header fails the read with "does not conform" instead of labelling
    * columns by position (DIVERGENCES.md #13).
    */
  def countries(spark: SparkSession, path: String): DataFrame =
    countriesReader(spark).csv(path)

  /** S4 over the fetch seam: the reference GETs this CSV from an HTTP
    * endpoint. A tiny bounded dim — fetched driver-side through the
    * seam, then parsed by the same reader as the file path (so the two
    * forms are byte-equivalent on one payload).
    */
  def countriesVia(spark: SparkSession, location: String,
      fetcher: Fetcher = defaultFetcher): DataFrame = {
    import spark.implicits._
    countriesReader(spark).csv(fetcher.fetch(location).linesIterator.toSeq.toDS())
  }

  private def countriesReader(spark: SparkSession): DataFrameReader =
    spark.read.schema(Schemas.country)
      .option("header", "true").option("enforceSchema", "false")

  /** S5 — scalar rates lookup: tiny JSON object fetched driver-side
    * through the `Fetcher` seam, exposed as a Map and as a
    * one-row-per-code DataFrame (the join form, J6).
    */
  def exchangeRates(location: String, fetcher: Fetcher = defaultFetcher): Map[String, Double] =
    parseRates(fetcher.fetch(location))

  def ratesDf(spark: SparkSession, location: String,
      fetcher: Fetcher = defaultFetcher): DataFrame = {
    import spark.implicits._
    exchangeRates(location, fetcher).toSeq.toDF("Code", "rate")
  }

  // ── tiny driver-side JSON parsing (bounded payloads only), via the
  // Jackson that ships with Spark — a real parser, so escaped quotes,
  // nested values, and unicode in payloads are handled for free.

  private val mapper = new ObjectMapper()

  /** Extracts the array of objects under "content"; every scalar field
    * is surfaced as its string form (the declared category schema is
    * all-string, mirroring the reference payload contract).
    */
  private[sources] def parseCategoryContent(json: String): Seq[Map[String, String]] = {
    val content = mapper.readTree(json).path("content")
    require(content.isArray, "categories payload has no \"content\" array")
    content.elements.asScala.map { node =>
      node.fields.asScala
        .filter(_.getValue.isValueNode)
        .map(e => e.getKey -> e.getValue.asText)
        .toMap
    }.toSeq
  }

  /** Extracts the string->double map under "exchange_rate". */
  private[sources] def parseRates(json: String): Map[String, Double] = {
    val rates = mapper.readTree(json).path("exchange_rate")
    require(rates.isObject, "rates payload has no \"exchange_rate\" object")
    rates.fields.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
  }
}
