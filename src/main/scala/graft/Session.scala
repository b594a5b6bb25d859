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
      // the widest flat aggregate here is 385 bigint fields (q41's LSH
      // signature matrix); the default maxFields=100 silently drops
      // whole-stage codegen for anything wider (measured 4× slower
      // interpreted). 600 covers every plan with headroom.
      .config("spark.sql.codegen.maxFields", "600")
      .config("spark.ui.enabled", "false")
      // the one place the engine's SQL names are bound
      .withExtensions(new GraftExtensions)

  /** A child of `outer` for work scoped off it: its own SQLConf and temp
    * views, the same SparkContext, extensions and builder config.
    *
    * Artifact isolation is off on the child. With it on, the child's
    * tasks run under a classloader keyed by the child's fresh session
    * UUID, and the codegen cache is keyed by (classloader, code), so
    * each child would compile every class it generates again, even
    * when the code is byte-identical to an earlier child's. The engine
    * adds no jars, files or classes to a session, so isolation protects
    * nothing here.
    * The setting is read lazily, so it must be set before the child
    * runs anything; streaming clones of the child copy it.
    */
  def fork(outer: SparkSession): SparkSession = {
    val s = outer.newSession()
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s
  }
}
