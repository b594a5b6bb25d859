package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, SparkEntry}
import graft.jobs.{PlatformUsageJob, RoyaltiesJob, Top10Job}
import graft.sources.Sources

/** One operation of a workload: `build` returns the result frame (for a
  * catalog query this runs its eager checkpoints and replays) and `sink`
  * writes it where the output check reads it. */
final case class Op(name: String, build: () => DataFrame, sink: DataFrame => Unit)

/** The benchmark's engine side: one closed-loop client on the driver
  * thread runs a workload's operations one after another, and writes
  * `result.json` (and `spans.json` when traced) into the run directory.
  * Output checks run afterwards, outside the JVM.
  *
  * Set-up is JVM and session start plus two untimed warm-up passes; then
  * passes repeat for the run's seconds and the end-to-end metrics are
  * medians over them, so one slow pass on a shared machine does not set
  * a run's figure.
  *
  * Arguments: --workload --trace 0|1 --cores --run-dir --inputs
  * --spawn-ms --seed --seconds.
  */
object Harness {
  val Workloads: Map[String, Seq[String]] = Map(
    "reports" -> Seq("top10", "royalties", "usage_by_country", "usage_by_time_zone"),
    "corpus" -> Seq("q18_dedup_minhash", "q124_funnel_stream"))

  private def reportOps(spark: SparkSession, in: String, out: String): Seq[Op] = {
    def ev = Sources.events(spark, s"$in/events")
    def res = Sources.resources(spark, s"$in/resources.json")
    def cats = Sources.categories(spark, s"$in/categories.json")
    def op(name: String, build: () => DataFrame, write: (DataFrame, String) => Unit) =
      Op(name, build, df => write(df, s"$out/$name"))
    Seq(
      op("top10", () => Top10Job.transform(ev, res, cats), Top10Job.write),
      op("royalties", () => RoyaltiesJob.transform(ev, res, cats,
        Sources.countries(spark, s"$in/countries.csv"), Sources.ratesDf(spark, s"$in/rates.json")),
        RoyaltiesJob.write),
      op("usage_by_country", () => PlatformUsageJob.byCountry(ev), PlatformUsageJob.write),
      op("usage_by_time_zone", () => PlatformUsageJob.byTimeZone(ev), PlatformUsageJob.write))
  }

  /** Catalog queries write one parquet result per query next to its
    * oracle SQL (graft.Verify's action, in the layout tools/check.py
    * reads), so the measured outputs are the checked ones. */
  private def catalogOps(spark: SparkSession, names: Seq[String], dir: String, out: String): Seq[Op] =
    names.map { name =>
      Op(name, () => SparkEntry.queries(name)(spark, dir), df => {
        df.repartition(1).write.mode("overwrite").parquet(s"$out/$name/$name")
        Files.writeString(Paths.get(s"$out/$name/oracle_sql.json"),
          s"{${Bench.jstr(name)}: ${Bench.jstr(SparkEntry.oracleSql(name))}}")
      })
    }

  /** One pass; `layer` is filled when the pass is traced. `opTimes` holds
    * (operation, build s, action s); `stolen` is the share of the
    * machine's non-idle CPU time the hypervisor stole during the pass. */
  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, stolen: Double,
      layer: Map[String, Double], opTimes: Seq[(String, Double, Double)]) {
    /** The pass's time with the stolen time taken out. */
    def runS: Double = wallS * (1 - stolen)
  }

  private val WarmupPasses = 2
  private val MinPasses = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes Spark's code generator has compiled (codegen cache misses). */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** (stolen, busy) CPU ticks of the machine from /proc/stat; busy is
    * user + nice + system + irq + softirq. */
  private def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f(0) + f(1) + f(2) + f(5) + f(6))
  }

  /** Share of the machine's non-idle CPU time stolen between two readings. */
  private def stolenShare(t0: (Long, Long), t1: (Long, Long)): Double = {
    val stolen = t1._1 - t0._1
    val total = stolen + t1._2 - t0._2
    if (total > 0) stolen.toDouble / total else 0.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Resident high-water mark of this JVM, in MB (Linux /proc). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${Bench.jstr(k)}: $v" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val mainTicks = cpuTicks()
    val mainMs = System.currentTimeMillis()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val runDir = a("run-dir")
    val out = s"$runDir/out"

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "600")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/tmp")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    if (trace) builder.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val ops = workload match {
      case "reports" => reportOps(spark, a("inputs"), out)
      case w => catalogOps(spark, Workloads(w), a("inputs"), out)
    }

    val spans = new Spans(java.util.UUID.randomUUID().toString)
    Collector.spans = spans
    val rootId = spans.nextId()
    val runStartMs = System.currentTimeMillis()
    var attempted, failed = 0
    val errors = ArrayBuffer.empty[String]

    def runPass(index: Int, traced: Boolean): Pass = {
      // A full GC before every pass, outside the timed window, and a short
      // settle so Spark's asynchronous cleaner does not land inside it.
      System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(100)
      if (traced) {
        Collector.reset()
        sc.addSparkListener(Collector.Jobs)
        Collector.active = true
      }
      def span[T](name: String, parent: Long)(body: Long => T): T =
        if (!traced) body(-1L)
        else spans.record(name, parent) { id =>
          sc.setLocalProperty(Collector.SpanKey, id.toString)
          try body(id) finally sc.setLocalProperty(Collector.SpanKey, parent.toString)
        }
      def timed[T](body: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
      }
      val opTimes = ArrayBuffer.empty[(String, Double, Double)]
      val gc0 = gcMs(); val jit0 = jitMs(); val cg0 = codegenCompiles()
      val ticks0 = cpuTicks(); val cpu0 = cpuNs(); val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      span(s"pass $index", rootId) { passId =>
        ops.foreach { op =>
          attempted += 1
          span(s"op ${op.name}", passId) { opId =>
            try {
              val (df, buildS) = timed(span("build", opId)(_ => op.build()))
              val (_, actionS) = timed(span("action", opId)(_ => op.sink(df)))
              opTimes += ((op.name, buildS, actionS))
            } catch {
              case NonFatal(e) =>
                failed += 1
                errors += s"${op.name}: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
            }
          }
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9
      val stolen = stolenShare(ticks0, cpuTicks())
      val gc = (gcMs() - gc0) / 1000.0
      val layer =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.perfbench.Bus.drain(sc)
          Collector.active = false
          sc.removeSparkListener(Collector.Jobs)
          Collector.snapshot(startMs, System.currentTimeMillis(), cores) +
            ("gc.jvm_s" -> gc) + ("jit.compile_s" -> (jitMs() - jit0) / 1000.0) +
            ("codegen.compiles" -> (codegenCompiles() - cg0).toDouble)
        }
      Pass(traced, wall, cpu, stolen, layer, opTimes.toSeq)
    }

    // Times are reported with the hypervisor's stolen time taken out. On a
    // shared virtual machine the host deschedules busy vCPUs for stretches
    // (steal in /proc/stat): on a 4-vCPU machine, a pass during which over
    // half of the machine's non-idle CPU time was stolen took 2.4 times as
    // long as a quiet one. A time is its wall time × (1 − stolen share), the time
    // it takes on vCPUs that are never descheduled; the raw wall times
    // are recorded beside it.
    //
    // Set-up: JVM and session start, then untimed warm-up passes that pay
    // class loading, code generation and the steepest JIT warm-up.
    val warmup = (1 to WarmupPasses).map(i => runPass(-i, traced = false))
    val setupWallS = (System.currentTimeMillis() - a("spawn-ms").toLong) / 1000.0
    val setupS = (mainMs - a("spawn-ms").toLong) / 1000.0 +
      (System.currentTimeMillis() - mainMs) / 1000.0 * (1 - stolenShare(mainTicks, cpuTicks()))
    // Timed passes until their times, stolen time taken out, add up to the
    // run's seconds, and at least MinPasses of them: so a run makes the
    // same number of passes however much time the host steals, and the
    // medians do not slide along the JIT's warm-up trend with it. A
    // traced run alternates untraced and traced passes: the per-layer
    // metrics come from the last traced pass, the listeners' overhead
    // from the medians of both kinds.
    val seconds = a("seconds").toDouble
    val passes = ArrayBuffer.empty[Pass]
    while (passes.size < MinPasses || passes.map(_.runS).sum < seconds)
      passes += runPass(passes.size + 1, traced = trace && passes.size % 2 == 1)
    val plain = passes.filterNot(_.traced).toSeq
    val measured = passes.filter(_.traced).lastOption.getOrElse(passes.last)
    val overhead =
      if (!trace) 0.0
      else {
        val u = median(plain.map(_.runS))
        (median(passes.filter(_.traced).map(_.runS).toSeq) - u) / u
      }
    val kernels: Map[String, Double] =
      if (trace && workload == "corpus") Kernels.measure(a("seed").toLong) else Map.empty
    val peakRss = peakRssMb()
    spans.done.add(Span(rootId, -1L, s"run $workload", runStartMs, System.currentTimeMillis()))

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (median(plain.map(_.runS)), "s"),
      "cpu_s" -> (median(plain.map(_.cpuS)), "s"),
      "peak_rss_mb" -> (peakRss, "MB"))
    val layer: Seq[(String, (Double, String))] =
      if (!trace) Nil
      else {
        val spark = measured.layer.toSeq.sorted.map { case (k, v) => k -> (v, Units(k)) }
        val perOp = Workloads.values.flatten.toSeq.sorted.map { name =>
          val ts = measured.opTimes.collect { case (`name`, b, act) => b + act }
          s"op.${name}_s" -> (ts.sum, "s")
        }
        val catalog = Seq(
          "catalog.build_s" -> (measured.opTimes.map(_._2).sum, "s"),
          "catalog.action_s" -> (measured.opTimes.map(_._3).sum, "s"),
          "trace.overhead_frac" -> (overhead, "frac"))
        val kernel = Kernels.Names.map(k => k -> ((kernels.getOrElse(k, 0.0), "MB/s")))
        spark ++ perOp ++ catalog ++ kernel
      }

    def metrics(ms: Seq[(String, (Double, String))]) = obj(ms.map { case (k, (v, u)) =>
      k -> s"""{"value": ${num(v)}, "unit": ${Bench.jstr(u)}}""" })
    val info = obj(Seq(
      "workload" -> Bench.jstr(workload),
      "ops" -> ops.map(o => Bench.jstr(o.name)).mkString("[", ", ", "]"),
      "spark_version" -> Bench.jstr(spark.version), "local_n" -> cores.toString,
      "jvm_args" -> Bench.jstr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")).mkString(" ")),
      "trace_id" -> Bench.jstr(spans.traceId),
      "setup_wall_s" -> num(setupWallS),
      "warmup_wall_s" -> warmup.map(p => num(p.wallS)).mkString("[", ", ", "]"),
      "pass_wall_s" -> passes.map(p => num(p.wallS)).mkString("[", ", ", "]"),
      "pass_cpu_s" -> passes.map(p => num(p.cpuS)).mkString("[", ", ", "]"),
      "pass_stolen_share" -> passes.map(p => num(p.stolen)).mkString("[", ", ", "]"),
      "pass_run_s" -> passes.map(p => num(p.runS)).mkString("[", ", ", "]"),
      "pass_traced" -> passes.map(_.traced).mkString("[", ", ", "]"),
      "op_median_s" -> obj(ops.map { o =>
        o.name -> num(median(plain.flatMap(_.opTimes.collect { case (o.name, b, act) => b + act }))) })))
    val json = obj(Seq(
      "info" -> info, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "errors" -> errors.map(Bench.jstr).mkString("[", ", ", "]"),
      "end_to_end" -> metrics(e2e), "per_layer" -> metrics(layer)))
    Files.writeString(Paths.get(s"$runDir/result.json"), json + "\n")

    if (trace) {
      val self = spans.selfMs
      val rows = spans.done.asScala.toSeq.sortBy(s => (s.startMs, s.id)).map { s =>
        obj(Seq("trace" -> Bench.jstr(spans.traceId), "id" -> s.id.toString,
          "parent" -> s.parent.toString, "name" -> Bench.jstr(s.name),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "self_ms" -> self(s.id).toString))
      }
      Files.write(Paths.get(s"$runDir/spans.json"), rows.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  /** Units of the Spark-side per-layer metrics. */
  private val Units: Map[String, String] = Map(
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "plan.executions" -> "count", "plan.exchanges" -> "count", "plan.broadcast_joins" -> "count",
    "plan.smj" -> "count", "codegen.compiles" -> "count", "sched.jobs" -> "count",
    "sched.stages" -> "count", "sched.tasks" -> "count", "sched.stages_skipped" -> "count",
    "sched.checkpoint_jobs" -> "count", "sched.driver_gap_s" -> "s", "exec.run_s" -> "s",
    "exec.cpu_s" -> "s", "exec.deser_s" -> "s", "exec.busy_frac" -> "frac",
    "gc.task_s" -> "s", "gc.jvm_s" -> "s", "jit.compile_s" -> "s",
    "spill.mem_mb" -> "MB", "spill.disk_mb" -> "MB",
    "scan.input_mb" -> "MB", "scan.input_rows" -> "count", "shuffle.write_mb" -> "MB",
    "shuffle.read_mb" -> "MB", "shuffle.records" -> "count", "shuffle.write_s" -> "s",
    "shuffle.fetch_wait_s" -> "s", "write.output_mb" -> "MB", "write.output_rows" -> "count",
    "write.files" -> "count", "write.bytes_per_input_byte" -> "ratio",
    "stream.triggers" -> "count", "stream.jobs_per_trigger" -> "count",
    "stream.trigger_p50_ms" -> "ms", "stream.trigger_max_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.state_commit_ms" -> "ms", "stream.state_rows" -> "count")
}
