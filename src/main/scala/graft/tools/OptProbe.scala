package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Round-19 optimization probe (dev harness, not part of the driver
  * contract): runs declared queries (args) under a job/stage-counting
  * listener and prints wall seconds + job/stage counts per query, so
  * optimization targets the real sink (fixed per-job/per-round
  * overhead vs compute). With no args it runs the built-in semDedup
  * phase breakdown instead. Run:
  *   sbt "runMain graft.tools.OptProbe [qname...]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var stages = 0
    // SPARK_GRAFT_JOBDUMP=1: per-query histogram of job call sites, so a
    // 100-job replay can be attributed to its actions (round-20)
    val jobDump = sys.env.get("SPARK_GRAFT_JOBDUMP").contains("1")
    val sites = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1
        if (jobDump) {
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          sites.merge(site, 1, (a, b) => a + b)
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = stages += 1
    })
    def time[T](name: String)(f: => T): T = {
      val j0 = jobs; val s0 = stages
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PROF $name%-44s ${dt}%7.2f s  jobs=${jobs - j0}%-4d stages=${stages - s0}")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    if (args.nonEmpty) {
      // warm-up
      try noop(graft.SparkEntry.queries("q1_agg")(spark, sfDir))
      catch { case _: Throwable => () }
      args.foreach {
        case "exp:profile" =>
          val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority")
          val orders = graft.tables.Corpus.load(spark, sfDir, "orders")
          def split(df: org.apache.spark.sql.DataFrame) = {
            // long-buffer aggs (counts + exact distinct) in one Expand
            // pass — hash-aggregable; string-buffer min/max in a second
            // narrow pass with no Expand; crossJoin of two 1-row frames
            val countAggs = cols.flatMap { c =>
              Seq(count(lit(1)).as(s"${c}__rows"),
                (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
                count_distinct(col(c)).as(s"${c}__distinct"))
            }
            val mmAggs = cols.flatMap { c =>
              Seq(min(col(c)).cast("string").as(s"${c}__min"),
                max(col(c)).cast("string").as(s"${c}__max"))
            }
            val wide = df.agg(countAggs.head, countAggs.tail: _*)
              .crossJoin(df.agg(mmAggs.head, mmAggs.tail: _*))
            wide.select(inline(array(cols.map { c =>
              struct(lit(c).as("column_name"),
                col(s"${c}__rows").as("n_rows"),
                col(s"${c}__nulls").as("n_null"),
                col(s"${c}__distinct").as("n_distinct"),
                col(s"${c}__min").as("min_val"),
                col(s"${c}__max").as("max_val"))
            }: _*)))
          }
          (1 to 2).foreach { i =>
            time(s"profile plain#$i")(
              noop(graft.operators.Profile.profile(orders, cols)))
            time(s"profile repart#$i")(
              noop(graft.operators.Profile.profile(
                orders.repartition(col("o_orderkey")), cols)))
            time(s"profile split#$i")(noop(split(orders)))
            time(s"profile split+repart#$i")(
              noop(split(orders.repartition(col("o_orderkey")))))
          }
          split(orders).explain("formatted")
        case name =>
          val fn = graft.SparkEntry.queries(name)
          (1 to 2).foreach { i =>
            System.gc(); Thread.sleep(200)
            sites.clear()
            time(s"$name#$i")(noop(fn(spark, sfDir)))
            if (jobDump && i == 2) {
              import scala.jdk.CollectionConverters._
              sites.asScala.toSeq.sortBy(-_._2)
                .foreach { case (s, n) => println(f"  JOBSITE $n%-4d $s") }
            }
          }
      }
      spark.stop(); return
    }

    import graft.ext.{ConnectedComponents, Dedup, SimSearch}
    val emb = graft.tables.Corpus.load(spark, sfDir, "embeddings")
    def scaled(k: Float, off: Long, m: Long) = emb
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % m === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => x * lit(k)).as("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(scaled(2.0f, 100000L, 7L))
      .unionByName(scaled(4.0f, 200000L, 14L))
      .repartition(32, col("vec_id"))

    // warm-up
    noop(corpus)

    (1 to 2).foreach { round =>
      println(s"── round $round ──")
      val idx = time("buildIvfIndex(nlist=8)") {
        val i = SimSearch.buildIvfIndex(corpus, "vec_id", "embedding", 8,
          seed = 7L, lloydIters = 1)
        noop(i.lists)
        i
      }
      val members = time("lists localCheckpoint") {
        idx.lists
          .select(col("__cid"), col("neighbor_id").as("__id"), col("__cv2").as("__v"))
          .localCheckpoint()
      }
      val pairs = time("pair-gen (cluster self-join + cos)") {
        val p = members.as("a")
          .join(members.as("b"),
            col("a.__cid") === col("b.__cid") && col("a.__id") < col("b.__id"))
          .select(col("a.__id").as("src"), col("b.__id").as("dst"),
            SimSearch.cosineSim(col("a.__v"), col("b.__v")).as("__cos"))
          .filter(col("__cos") >= 0.9)
          .select("src", "dst")
          .localCheckpoint()
        println(s"   pairs=${p.count()}")
        p
      }
      time("connectedComponents") {
        noop(ConnectedComponents.connectedComponents(pairs, "src", "dst"))
      }
      time("dedupClusters (full)") {
        noop(ConnectedComponents.dedupClusters(
          corpus.select(col("vec_id")), "vec_id", pairs, "src", "dst"))
      }
      time("semDedupWithIndex (end to end)") {
        noop(Dedup.semDedupWithIndex(idx, corpus, "vec_id", 0.9))
      }
      time("q310 semDedup (end to end)") {
        noop(Dedup.semDedup(corpus, "vec_id", "embedding", nlist = 8, tau = 0.9))
      }
    }
    spark.stop()
  }
}
