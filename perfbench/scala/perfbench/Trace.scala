package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `parent` is -1 for the root. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long)

/** In-memory span store: spans stay here until the run writes them out. */
final class Spans(val traceId: String) {
  private val ids = new AtomicLong(0)
  val done = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record[T](name: String, parent: Long)(body: Long => T): T = {
    val id = nextId()
    val start = System.currentTimeMillis()
    try body(id)
    finally done.add(Span(id, parent, name, start, System.currentTimeMillis()))
  }

  /** Self time as the span duration minus the part of it that child
    * spans cover (children may overlap one another, so their union). */
  def selfMs: Map[Long, Long] = {
    val all = done.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.endMs - s.startMs - Collector.unionLength(iv))
    }.toMap
  }
}

/** Spark-side counters for one traced pass, fed by a SparkListener and a
  * QueryExecutionListener that only the benchmark registers. The driver
  * thread resets it before a pass and snapshots it after the listener
  * bus has drained, so every event lands in the pass that caused it.
  */
object Collector {
  /** Local property carrying the harness span that submitted a job. */
  val SpanKey = "perfbench.span"
  private val StreamQueryKey = "sql.streaming.queryId"

  @volatile var active = false
  @volatile var spans: Spans = _
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val triggerMs = mutable.ArrayBuffer.empty[Double]
  private val stateRows = mutable.Map.empty[String, Double]
  /** Open jobs: stage ids, parent span, start, call site, stages submitted for it. */
  private val jobs = mutable.Map.empty[Int, (Seq[Int], Long, Long, String, mutable.Set[Int])]

  def reset(): Unit = synchronized {
    c.clear(); taskIntervals.clear(); triggerMs.clear(); stateRows.clear()
    jobs.clear()
  }

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer values for the pass that ran from `startMs` to `endMs`. */
  def snapshot(startMs: Long, endMs: Long, cores: Int): Map[String, Double] = synchronized {
    val wall = (endMs - startMs) / 1000.0
    val busy = unionLength(taskIntervals.toSeq.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter { case (a, b) => b > a })
    val mb = 1024.0 * 1024.0
    val triggers = triggerMs.size.toDouble
    Map(
      "plan.analysis_ms" -> c("analysis"), "plan.optimization_ms" -> c("optimization"),
      "plan.planning_ms" -> c("planning"), "plan.executions" -> c("executions"),
      "plan.exchanges" -> c("exchanges"), "plan.broadcast_joins" -> c("bhj"),
      "plan.smj" -> c("smj"),
      "sched.jobs" -> c("jobs"), "sched.stages" -> c("stages"), "sched.tasks" -> c("tasks"),
      "sched.stages_skipped" -> c("skipped"), "sched.checkpoint_jobs" -> c("checkpointJobs"),
      "sched.driver_gap_s" -> (wall - busy / 1000.0),
      "exec.run_s" -> c("runMs") / 1000, "exec.cpu_s" -> c("cpuNs") / 1e9,
      "exec.deser_s" -> c("deserMs") / 1000,
      "exec.busy_frac" -> (if (wall > 0) c("runMs") / 1000 / (wall * cores) else 0.0),
      "gc.task_s" -> c("gcMs") / 1000, "spill.mem_mb" -> c("spillMem") / mb,
      "spill.disk_mb" -> c("spillDisk") / mb,
      "scan.input_mb" -> c("inBytes") / mb, "scan.input_rows" -> c("inRows"),
      "shuffle.write_mb" -> c("shwBytes") / mb, "shuffle.read_mb" -> c("shrBytes") / mb,
      "shuffle.records" -> c("shwRecords"), "shuffle.write_s" -> c("shwNs") / 1e9,
      "shuffle.fetch_wait_s" -> c("fetchWaitMs") / 1000,
      "write.output_mb" -> c("outBytes") / mb, "write.output_rows" -> c("outRows"),
      "write.files" -> c("files"),
      "write.bytes_per_input_byte" -> (if (c("inBytes") > 0) c("outBytes") / c("inBytes") else 0.0),
      "stream.triggers" -> triggers,
      "stream.jobs_per_trigger" -> (if (triggers > 0) c("streamJobs") / triggers else 0.0),
      "stream.trigger_p50_ms" -> median(triggerMs.toSeq),
      "stream.trigger_max_ms" -> (if (triggerMs.isEmpty) 0.0 else triggerMs.max),
      "stream.add_batch_ms" -> c("addBatch"), "stream.query_planning_ms" -> c("queryPlanning"),
      "stream.wal_commit_ms" -> c("walCommit"), "stream.latest_offset_ms" -> c("latestOffset"),
      "stream.state_commit_ms" -> c("stateCommit"), "stream.state_rows" -> stateRows.values.sum)
  }

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Collector.synchronized {
      add("jobs", 1)
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(-1L)
      if (props.exists(_.getProperty(StreamQueryKey) != null)) add("streamJobs", 1)
      // the result stage carries the job's call site, e.g. "localCheckpoint at Dedup.scala:120"
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      if (site.toLowerCase.contains("checkpoint")) add("checkpointJobs", 1)
      jobs(e.jobId) = (e.stageIds, parent, e.time, site, mutable.Set.empty[Int])
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Collector.synchronized {
      jobs.remove(e.jobId).foreach { case (stages, parent, start, site, ran) =>
        // a stage whose shuffle output already exists is never submitted
        add("skipped", stages.count(s => !ran.contains(s)))
        if (spans != null)
          spans.done.add(Span(spans.nextId(), parent, s"job ${e.jobId}: $site", start, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Collector.synchronized {
      val id = e.stageInfo.stageId
      jobs.values.foreach { case (stages, _, _, _, ran) => if (stages.contains(id)) ran += id }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Collector.synchronized {
      add("stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Collector.synchronized {
      add("tasks", 1)
      taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        add("runMs", m.executorRunTime); add("cpuNs", m.executorCpuTime)
        add("deserMs", m.executorDeserializeTime); add("gcMs", m.jvmGCTime)
        add("spillMem", m.memoryBytesSpilled); add("spillDisk", m.diskBytesSpilled)
        add("inBytes", m.inputMetrics.bytesRead); add("inRows", m.inputMetrics.recordsRead)
        add("shwBytes", m.shuffleWriteMetrics.bytesWritten)
        add("shwRecords", m.shuffleWriteMetrics.recordsWritten)
        add("shwNs", m.shuffleWriteMetrics.writeTime)
        add("shrBytes", m.shuffleReadMetrics.totalBytesRead)
        add("fetchWaitMs", m.shuffleReadMetrics.fetchWaitTime)
        add("outBytes", m.outputMetrics.bytesWritten); add("outRows", m.outputMetrics.recordsWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => Collector.synchronized {
        val d = p.progress.durationMs.asScala
        def ms(k: String): Double = d.get(k).map(_.doubleValue).getOrElse(0.0)
        triggerMs += ms("triggerExecution")
        add("addBatch", ms("addBatch")); add("queryPlanning", ms("queryPlanning"))
        add("walCommit", ms("walCommit")); add("latestOffset", ms("latestOffset"))
        add("stateCommit", p.progress.stateOperators.map(_.commitTimeMs.toDouble).sum)
        stateRows(p.progress.id.toString) = p.progress.stateOperators.map(_.numRowsTotal.toDouble).sum
      }
      case _ =>
    }
  }

  /** Counts final-plan shape; descends through AQE wrappers and stages. */
  private def shape(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => shape(a.executedPlan)
    case s: QueryStageExec => shape(s.plan)
    case other =>
      other match {
        case _: ShuffleExchangeLike => add("exchanges", 1)
        case _: BroadcastHashJoinExec => add("bhj", 1)
        case _: SortMergeJoinExec => add("smj", 1)
        case w: DataWritingCommandExec =>
          add("files", w.cmd.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
        case _ =>
      }
      other.children.foreach(shape)
      other.subqueries.foreach(shape)
  }

  def onQuery(qe: QueryExecution): Unit = if (active) Collector.synchronized {
    add("executions", 1)
    qe.tracker.phases.foreach { case (phase, s) => add(phase, s.durationMs.toDouble) }
    shape(qe.executedPlan)
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session the engine clones (the streaming replays run on their own)
  * reports here too. Inert unless a traced pass is running. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Collector.onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Collector.onQuery(qe)
}
