package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ColumnLib._
import graft.operators.TopK

/** Daily top-10 best-selling resources per category (reference
  * `top10.py`), re-expressed as one declarative plan.
  *
  * Shape: events day key (X2) → purchase counts A1 on (date,
  * resourceId) → left joins J1/J2 of the cleaned dims (P1/P2/X1) →
  * dense_rank top-10 W1/F1 (ties share a position, so >10 rows can
  * survive — the reference's observable semantics) → sort O1.
  *
  * Scale: the events are scanned once and shuffled once, by the counts
  * aggregate; everything after it runs on the compacted (date,
  * resourceId) grain — the same running-count state the streaming
  * top-10 ranks (StreamingReports.top10Stream). The reference instead
  * joins the counts back onto every event (J3) and deduplicates the
  * ranked rows (O2), top10.py:242-253; ranking the compacted grain
  * gives the same report without either step, provided resource ids
  * are unique (resources are documents keyed by id), as are category
  * ids — DIVERGENCES.md #12 lists what differs off that contract. Dims
  * join with plain joins, as in the reference; the planner broadcasts
  * them from their size. The reference's per-day driver
  * loop + full recompute (top10.py:262-278) is replaced by a single
  * partitioned write — one pass, no re-execution.
  *
  * Sort: the counts are repartitioned by date, which already clusters
  * the rank window's (date, categoryId) partitions and the K1 sink's
  * per-date groups, so the reference's global sort O1 (top10.py:253)
  * becomes a sort within each date partition: one exchange instead of
  * the window's plus a range exchange and its sampling job. Each date
  * is written as one file with rows in (categoryId, position) order —
  * the bytes the global sort wrote — but the returned frame is no
  * longer globally ordered (DIVERGENCES.md #13).
  */
object Top10Job {

  def cleanCategories(categories: DataFrame): DataFrame =
    categories.select(
      normalizeDottedId(col("id")).as("categoryId"),
      col("name").as("categoryName"))

  /** Resources store categoryId already normalized — only the categories
    * API payload needs the X1 rewrite (the reference normalizes
    * categories only, top10.py:62-83 vs :118-134).
    */
  def cleanResources(resources: DataFrame): DataFrame =
    resources.select(
      col("id").as("resourceId"),
      col("name").as("resourceName"),
      col("categoryId"))

  /** Day-keyed purchase counts — the compacted grain the report ranks
    * over: (date, resourceId, count). In streaming this grain is the
    * running aggregate state (StreamingReports.top10Stream); in batch
    * it is a plain groupBy.
    */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("date", substring(col("processTime"), 1, 10))
      .groupBy("date", "resourceId").count()

  /** The top-10 report from pre-compacted counts — the batch job
    * (`transform`) and both streaming top-10s rank through here.
    * JobsSpec's "Top10Job == reference J3 join-back + O2 dedup plan"
    * checks it against the reference's event-grain plan.
    */
  def reportFromCounts(counts: DataFrame, resources: DataFrame, categories: DataFrame): DataFrame = {
    val withDims = counts.repartition(col("date"))
      .join(cleanResources(resources), Seq("resourceId"), "left")
      .join(cleanCategories(categories), Seq("categoryId"), "left")
    TopK.denseTopK(withDims, Seq("date", "categoryId"), col("count").desc, 10)
      .sortWithinPartitions("date", "categoryId", "position")
      .select("position", "date", "categoryId", "categoryName", "resourceId", "resourceName")
  }

  def transform(events: DataFrame, resources: DataFrame, categories: DataFrame): DataFrame =
    reportFromCounts(dailyCounts(events), resources, categories)

  /** K1 sink: pipe-separated CSV with header, one directory per date via
    * partitionBy — the single-pass idiom for the reference's per-day
    * output layout (top10.py:271-278).
    */
  def write(report: DataFrame, path: String): Unit =
    report.write
      .partitionBy("date")
      .option("header", "true").option("sep", "|")
      .mode("overwrite")
      .csv(path)
}
