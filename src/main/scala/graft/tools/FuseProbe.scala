package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.FuseCosine
import graft.tables.Corpus

/** Composed-vs-fused cosine measurement (dev tool, ProfileLsh family):
  * the FuseCosine rule is certified bit-invisible (q207, PlansSpec),
  * but "does it PAY, and where?" needs numbers. One query body — the
  * PORTABLE composed cosine (three aggregate/zip_with array folds) —
  * is timed with the rule disarmed and armed on the SAME session
  * (flag toggled between runs; the tool asserts the rewrite actually
  * fired/did not fire in each arm's optimized plan), over the two ANN
  * shapes that score pair products:
  *
  *   - filter_scan: corpus × broadcast(query batch), threshold filter
  *     on the score — pure scoring throughput, nothing else moves;
  *   - topk: same product through the per-query rank window (q19's
  *     shape) — scoring plus the window machinery, showing how much
  *     of a real query the scoring share is.
  *
  * The corpus is N decorrelated rotated copies (ScaleProbe's trick)
  * localCheckpointed flat — nested higher-order lambdas fail Catalyst
  * attribute resolution when self-joined across an N-way union plan
  * (BASELINE.md round-10 note), and a flat relation resolves clean.
  * Median of 3 timed runs per arm, arms alternated so machine drift
  * lands on both.
  */
object FuseProbe {
  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** The portable composed cosine — the CANONICAL SimSearch recipe
    * (the exact expression tree FuseCosine rewrites in production
    * queries; building it from the shared helpers keeps this probe
    * pinned to the real pattern if the recipe ever changes).
    */
  private def composedCos(a: Column, b: Column): Column = {
    import graft.ext.SimSearch
    SimSearch.cosine(SimSearch.dotD(a, b), SimSearch.norm2(a), SimSearch.norm2(b))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_FUSE_COPIES", "25").toInt
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    FuseCosine.install(spark)

    val emb1 = Corpus.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val corpus = (0 until copies).map { i =>
      val k = i % 64
      emb1.select((col("vec_id") + lit(i * 100000000L)).as("vec_id"),
        (if (i == 0) col("embedding")
         else concat(slice(col("embedding"), k + 1, 64 - k),
           slice(col("embedding"), 1, k))).as("embedding"))
    }.reduce(_.unionByName(_))
      .repartition(32).localCheckpoint()
    val queries = corpus.filter(col("vec_id") % 500 === 0).localCheckpoint()
    println(s"corpus=${corpus.count()} queries=${queries.count()} copies=$copies")

    def product(): DataFrame = {
      val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("cv"))
      val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // bound: the query batch, every 500th vector
      c.join(broadcast(q), col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          composedCos(col("cv"), col("qv")).as("cos"))
    }
    def filterScan(): DataFrame = product().filter(col("cos") >= 0.995)
    def topk(): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
      product().withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
    }

    def armed(on: Boolean): Unit =
      spark.conf.set("spark.graft.fuseCosine", on.toString)
    def assertFusion(df: DataFrame, expectFused: Boolean): Unit = {
      val fused = df.queryExecution.optimizedPlan.toString.contains("cosine_sim")
      require(fused == expectFused,
        s"fusion expected=$expectFused observed=$fused — arm mixup")
    }

    val shapes = Seq("filter_scan" -> (() => filterScan()), "topk" -> (() => topk()))
    val results = shapes.map { case (name, mk) =>
      // warm both arms once (codegen/JIT), then 3 alternated timed runs
      armed(false); assertFusion(mk(), expectFused = false); mk().count()
      armed(true); assertFusion(mk(), expectFused = true); mk().count()
      val (c0, f0) = (Array.newBuilder[Double], Array.newBuilder[Double])
      for (_ <- 1 to 3) {
        armed(false); c0 += time(mk().count())
        armed(true); f0 += time(mk().count())
      }
      def med(xs: Array[Double]) = xs.sorted.apply(xs.length / 2)
      val (cm, fm) = (med(c0.result()), med(f0.result()))
      println(f"PROBE fuse $name%-12s composed=$cm%6.2f s fused=$fm%6.2f s speedup=${cm / fm}%4.2f")
      name -> (cm, fm)
    }
    val json = results.map { case (n, (cm, fm)) =>
      f""""$n":{"composed":$cm%.2f,"fused":$fm%.2f}"""
    }.mkString(",")
    println(s"""{"probe":"fuse_cosine","copies":$copies,$json}""")
    spark.stop()
  }
}
