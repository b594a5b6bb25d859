package graft.model

import org.apache.spark.sql.types._

/** Declared schemas for the reference-domain tables (SURVEY.md §1.2).
  *
  * The events fact keeps its declared string timestamps (the fixed
  * 25-char `yyyy-MM-ddTHH:mm:ss±hh:mm` layout the offset-slicing
  * operator X4 depends on); money stays a string at ingest and is cast
  * to exact DECIMAL at first use — never double (reference declares
  * itemPrice string and does implicit arithmetic on it,
  * top10.py:155-164, royalties.py:232).
  */
object Schemas {

  /** events fact — top10.py:155-164 / process.py:38-47. */
  val event: StructType = StructType(Seq(
    StructField("eventId", StringType),
    StructField("eventTime", StringType),
    StructField("processTime", StringType),
    StructField("resourceId", StringType),
    StructField("userId", StringType),
    StructField("countryCode", StringType),
    StructField("duration", IntegerType),
    StructField("itemPrice", StringType)))

  /** categories dim — the HTTP payload's `content` array, top10.py:50-55. */
  val category: StructType = StructType(Seq(
    StructField("tenant", StringType),
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("percent", StringType)))

  /** resources dim — the `Resource` fields (create_resource.py:27-34),
    * all strings, in the alphabetical order JSON inference produced for
    * the reference's inferred read (top10.py:97-114).
    */
  val resource: StructType = StructType(
    Seq("categoryId", "id", "name", "promotion", "providerId").map(StructField(_, StringType)))

  /** countries dim — the CSV header, in file order (royalties.py:66-68). */
  val country: StructType = StructType(
    Seq("CountryCode", "Country", "Code").map(StructField(_, StringType)))

  /** Money precision used across jobs. */
  val money: DecimalType = DecimalType(12, 2)
}

/** Typed views for the Dataset[T] surface. */
case class Event(
    eventId: String, eventTime: String, processTime: String,
    resourceId: String, userId: Option[String], countryCode: String,
    duration: Option[Int], itemPrice: String)

case class Resource(
    id: String, name: String, categoryId: String,
    providerId: String, promotion: String)

case class Category(tenant: String, id: String, name: String, percent: String)

/** users dim — create_user.py:24-29 (keyed by email; the reference
  * writes it and no job reads it, so it exists for surface
  * completeness: a consumer migrating from the reference can load it).
  */
case class User(email: String, name: String, age: Option[Long])
