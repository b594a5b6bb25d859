package graft.tools

import graft.SparkEntry

/** Plan-audit helper: prints `explain("formatted")` for the named
  * queries (args; default = all) at the given sf dir, so each round's
  * new operators get their physical plans read, not just timed.
  * Usage: runMain graft.tools.Explain q44_sim_topk_ivf_lloyd [more...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n════════ $name ════════")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
