package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one session configuration: `Verify`, `Bench`, the tools and the
  * test suites all build their session here, so every probe plans and
  * runs the program the contract measures.
  */
object Session {
  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // corpus events.parquet uses INT64(TIMESTAMP(NANOS)); see Corpus.normalize
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the widest flat aggregate here is 385 bigint fields (q41's LSH
      // signature matrix); the default maxFields=100 silently drops
      // whole-stage codegen for anything wider (measured 4× slower
      // interpreted). 600 covers every plan with headroom.
      .config("spark.sql.codegen.maxFields", "600")
      .config("spark.ui.enabled", "false")
      // the one place the engine's SQL names are bound
      .withExtensions(new GraftExtensions)
}
