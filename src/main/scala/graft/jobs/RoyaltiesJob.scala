package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.ColumnLib._

/** Monthly per-provider royalties in USD (reference `royalties.py`),
  * with the row-at-a-time Python RDD escape hatch (royalties.py:306)
  * replaced by native column math + a broadcast rates join.
  *
  * Implements the reference's *intent* (SURVEY.md §1.4): the declared
  * `convert_to_usd` body converts known currencies via the rates map,
  * passes USD through, and DROPS rows whose currency is unknown — here
  * an inner join against the rates table (F5 drop-unknown semantics;
  * rows with no country match or a currency outside the rates map
  * disappear, exactly like the row fn returning None).
  *
  * Money discipline: itemPrice/percent are strings at ingest, cast once
  * to exact DECIMAL; the /100 percent scale shift is an exact
  * multiplication by 0.01; round(x, 2) half-up; doubles never carry
  * money. Divergence from the reference recorded: amounts are emitted
  * as plain `1234.56` strings (CAST of the exact decimal), not
  * format_number's comma-grouped form — the reference's own
  * `"{:.2f}".format` has no grouping either (royalties.py:247).
  */
object RoyaltiesJob {

  def transform(
      events: DataFrame, resources: DataFrame, categories: DataFrame,
      countries: DataFrame, rates: DataFrame): DataFrame = {

    val cats = categories.select(
      normalizeDottedId(col("id")).as("categoryId"),
      col("percent").cast(DecimalType(5, 2)).as("percent"))
    // resources carry normalized category ids already; only the
    // categories payload needs X1 (mirrors top10.py/royalties.py)
    val res = resources.select(
      col("id").as("resourceId"), col("categoryId"), col("providerId"), col("promotion"))

    val ev = events
      .withColumn("month", substring(col("eventTime"), 1, 7))
      .select("month", "resourceId", "countryCode", "itemPrice")

    val joined = ev
      .join(res, Seq("resourceId"), "left")
      .join(cats, Seq("categoryId"), "left")
      .join(countries, ev("countryCode") === countries("CountryCode"), "left")

    // X5/X6/X7: promo resources earn 0; percent/100 as an exact scale
    // shift; round half-up to cents.
    val withRoyalty = joined.withColumn("royalty",
      when(col("promotion") === "false",
        round(dec2(col("itemPrice")) * col("percent") * lit(0.01).cast(DecimalType(3, 2)), 2))
        .otherwise(lit(0).cast(DecimalType(12, 2))))

    // X8/F5/U2-replacement: inner join on currency code — unknown codes
    // (including countries absent from the dim) are dropped; USD is a
    // rate-1.0 row, so passthrough needs no special case beyond the map
    // containing it.
    val converted = withRoyalty
      .join(rates, Seq("Code"))
      .withColumn("amount", round(col("royalty") * col("rate").cast(DecimalType(8, 4)), 2))

    converted
      .groupBy("month", "providerId", "resourceId")
      .agg(sum(col("amount")).cast(DecimalType(14, 2)).as("amountUsd"))
      .withColumn("amount", col("amountUsd").cast("string"))
      .drop("amountUsd")
      .withColumnRenamed("month", "date")
  }

  /** K2 sink: JSON-lines (royalties.py:317). */
  def write(report: DataFrame, path: String): Unit =
    report.write.mode("overwrite").json(path)

  /** O4 debug surface (royalties.py:312 `selected_df.show(5)`): print
    * the first n report rows as Spark's ASCII table. `show` fetches
    * only n+1 rows (limit pushdown) — safe against a 100-TB frame.
    */
  def preview(report: DataFrame, n: Int = 5): Unit =
    report.show(n)
}
