package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._

/** The query catalog's index: every family's specs, checked for distinct
  * names, and the two name-keyed views the drivers read. Each query's
  * body and oracle live together in one `catalog/` family object.
  */
object SparkEntry {

  val FixturesDir: String = Shared.FixturesDir

  val specs: Seq[QuerySpec] = Seq(ReportQueries.specs, AnalyticsQueries.specs,
    OperatorQueries.specs, DedupQueries.specs, AnnQueries.specs, TextQueries.specs,
    UnicodeQueries.specs, CrawlQueries.specs, IntakeQueries.specs,
    MediaQueries.specs).flatten
  require(specs.map(_.name).distinct.size == specs.size,
    s"duplicate query names: ${specs.groupBy(_.name).filter(_._2.size > 1).keys}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.body).toMap

  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap

  /** Flagship query; driver smoke-checks rows>0 (sf dir overridable). */
  def entry(spark: SparkSession): DataFrame =
    queries("q2_top10")(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
}
