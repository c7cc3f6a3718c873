package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Spans around every layer call the benchmark makes, kept in memory and
  * summarised when the run ends.
  *
  * A span has a name (`<layer>.<call>`), a start and end, a parent and the
  * id of the timed operation it belongs to. While a span is open its id is
  * the Spark local property [[SpanKey]], so the listeners below attribute
  * each job, stage, task and SQL execution to the span that caused it.
  * With tracing off, [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = 0
  private var timed = false

  /** Spans opened from now on belong to the timed phase; stream progress
    * is counted from here on.
    */
  def startTimed(): Unit = {
    if (enabled) {
      org.apache.spark.sql.perfbench.Shim.drainListeners(sc)
      StreamProgress.reset()
    }
    timed = true
  }
  def stopTimed(): Unit = timed = false
  /** Spans opened from now on belong to timed operation `n`. */
  def setOp(n: Int): Unit = op = n

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0),
        op, timed, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  // ------------------------------------------------------------ listeners

  private val engine = new EngineListener
  if (enabled) sc.addSparkListener(engine)

  /** Per-layer figures of the run: every name in [[PerLayer]], zero where
    * the workload does not reach that layer. `ops` is the number of timed
    * operations, `resultRows` the rows they returned, `extra` the figures
    * the workload measured itself (counts, first-call costs).
    */
  def summary(ops: Int, resultRows: Long, extra: Map[String, Double]): Map[String, Double] = {
    org.apache.spark.sql.perfbench.Shim.drainListeners(sc)
    val out = mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach(out(_) = 0.0)
    val timedSpans = spans.filter(s => s.timed && s.endNs > 0)
    def durMs(s: Span) = (s.endNs - s.startNs) / 1e6
    // `<span name>_ms`: mean per call over the timed phase, or over set-up
    // for the calls only set-up makes (fact-frame build, config store)
    spans.filter(_.endNs > 0).groupBy(_.name).foreach { case (name, all) =>
      val ss = if (all.exists(_.timed)) all.filter(_.timed) else all
      val key = name + "_ms"
      if (out.contains(key)) out(key) = ss.map(durMs).sum / ss.size
    }
    // self time per layer: a span's duration less its children's
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    timedSpans.foreach(s => if (s.parent != 0) childMs(s.parent) += durMs(s))
    timedSpans.foreach { s =>
      val k = s"${s.name.takeWhile(_ != '.')}.self_ms"
      out(k) = out.getOrElse(k, 0.0) + durMs(s) - childMs(s.id)
    }
    val opSpans = timedSpans.filter(_.parent == 0)
    val opMs = opSpans.map(durMs).sum
    out("trace.spans") = timedSpans.size
    // engine figures: all Spark work caused by timed spans, per timed op
    val n = math.max(1, ops).toDouble
    val timedIds = timedSpans.map(_.id).toSet
    val e = engine.totals(timedIds)
    Seq("jobs", "stages", "tasks", "sched_delay_ms", "task_ms", "cpu_ms", "gc_ms",
      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
      "exchanges", "reused_exchanges", "smj", "bhj", "generate_rows",
      "scan_rows", "analysis_ms", "optimization_ms", "planning_ms",
      "task_failures").foreach(k => out(s"spark.$k") = e.getOrElse(k, 0.0) / n)
    out("spark.peak_exec_mem_mb") = e.getOrElse("peak_exec_mem_bytes", 0.0) / 1e6
    out("spark.rows_per_result") = resultRows / n
    val st = StreamProgress.totals
    out("streaming.batches") = st.getOrElse("batches", 0.0)
    val nb = math.max(1.0, st.getOrElse("batches", 0.0))
    Seq("batch_ms" -> "triggerExecution", "addbatch_ms" -> "addBatch",
      "walcommit_ms" -> "walCommit", "planning_ms" -> "queryPlanning")
      .foreach { case (k, src) => out(s"streaming.$k") = st.getOrElse(src, 0.0) / nb }
    extra.foreach { case (k, v) => if (out.contains(k)) out(k) = v }
    // how much of the timed phase's traced wall time no layer span covers:
    // the self time of the benchmark's own operation spans
    val opSelf = opSpans.filter(_.name == "bench.op").map(s => durMs(s) - childMs(s.id)).sum
    out("trace.unattributed_pct") = if (opMs > 0) 100.0 * opSelf / opMs else 0.0
    out.toMap
  }

  /** Every span, for the trace file written when the run ends. */
  def spanRows: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "timed" -> s.timed, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      timed: Boolean, startNs: Long) { var endNs: Long = 0L }

  val Layers: Seq[String] =
    Seq("bench", "promql", "spark", "ops", "ingest", "repair", "queries")

  /** The per-layer metric names, in the order BENCHMARK.json lists them. */
  val PerLayer: Seq[String] = Seq(
    "promql.parse_ms", "promql.eval_build_ms", "promql.build_ms",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_ms",
    "spark.task_ms", "spark.cpu_ms", "spark.gc_ms",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.peak_exec_mem_mb", "spark.exchanges", "spark.reused_exchanges",
    "spark.smj", "spark.bhj", "spark.generate_rows", "spark.scan_rows",
    "spark.rows_per_result", "spark.task_failures",
    "ops.ticks", "ops.due_ms", "ops.runs", "ops.execute_ms", "ops.retries",
    "ops.failed_runs", "ops.audit_ms", "ops.config_ms",
    "ingest.fact_build_ms", "ingest.write_ms", "ingest.rows_written",
    "ingest.files_written", "ingest.bytes_per_row",
    "repair.plan_ms", "repair.run_ms", "repair.compute_ms", "repair.days",
    "repair.records", "repair.retention_ms", "repair.retention_rows",
    "sources.cached_frames", "sources.cached_mb", "sources.warm_ms",
    "streaming.batches", "streaming.batch_ms", "streaming.addbatch_ms",
    "streaming.walcommit_ms", "streaming.planning_ms",
    "queries.dedup_s", "queries.ann_s", "queries.embed_s", "queries.stream_s") ++
    Layers.map(l => s"$l.self_ms") ++
    Seq("trace.spans", "trace.unattributed_pct")

  /** Job, stage, task and SQL-execution figures keyed by the span that
    * was open when the work was submitted.
    */
  private final class EngineListener extends SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val execSpan = mutable.Map.empty[Long, Int]
    private val bySpan = mutable.Map.empty[Int, mutable.Map[String, Double]]
    private val execStats = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]

    private def add(span: Int, k: String, v: Double): Unit = {
      val m = bySpan.getOrElseUpdate(span, mutable.Map.empty[String, Double])
      m(k) = m.getOrElse(k, 0.0) + v
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(0)
      e.stageIds.foreach(stageSpan(_) = span)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.getOrElseUpdate(id.toLong, span))
      add(span, "jobs", 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      add(stageSpan.getOrElse(e.stageInfo.stageId, 0), "stages", 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val span = stageSpan.getOrElse(e.stageId, 0)
      add(span, "tasks", 1)
      if (e.reason != org.apache.spark.Success) add(span, "task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        add(span, "task_ms", m.executorRunTime.toDouble)
        add(span, "cpu_ms", m.executorCpuTime / 1e6)
        add(span, "gc_ms", m.jvmGCTime.toDouble)
        add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        val total = info.finishTime - info.launchTime
        add(span, "sched_delay_ms", math.max(0L, total - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime).toDouble)
        val pm = bySpan(span)
        pm("peak_exec_mem_bytes") =
          math.max(pm.getOrElse("peak_exec_mem_bytes", 0.0), m.peakExecutionMemory.toDouble)
      }
    }

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.perfbench.Shim.queryExecution(e).foreach { qe =>
          val stats = planStats(qe)
          synchronized { execStats += (e.executionId -> stats) }
        }
      case _ =>
    }

    def totals(spanIds: Set[Int]): Map[String, Double] = synchronized {
      val out = mutable.Map.empty[String, Double]
      def merge(m: collection.Map[String, Double]): Unit = m.foreach { case (k, v) =>
        out(k) = if (k == "peak_exec_mem_bytes") math.max(out.getOrElse(k, 0.0), v)
          else out.getOrElse(k, 0.0) + v
      }
      bySpan.foreach { case (s, m) => if (spanIds(s)) merge(m) }
      execStats.foreach { case (id, m) => if (spanIds(execSpan.getOrElse(id, 0))) merge(m) }
      out.toMap
    }
  }

  /** Catalyst phase times and the final (post-AQE) plan's shape and row
    * counts of one finished SQL execution.
    */
  private def planStats(qe: QueryExecution): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning")(phase))
        out(s"${phase}_ms") += s.durationMs.toDouble
    }
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => out("reused_exchanges") += 1
      case other =>
        other match {
          case _: ShuffleExchangeExec => out("exchanges") += 1
          case _: SortMergeJoinExec => out("smj") += 1
          case _: BroadcastHashJoinExec => out("bhj") += 1
          case g: GenerateExec => out("generate_rows") += rows(g)
          case s @ (_: FileSourceScanExec | _: InMemoryTableScanExec | _: BatchScanExec) =>
            out("scan_rows") += rows(s)
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => }
    out.toMap
  }
}

/** Micro-batch progress events of every streaming query, summed. The stream
  * gates run in sessions of their own, so this listener is installed through
  * `spark.sql.streaming.streamingQueryListeners`, which every session of the
  * context instantiates; the instances share these sums.
  */
final class StreamProgress extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    StreamProgress.add(e.progress.durationMs)
}

object StreamProgress {
  private val sums = mutable.Map.empty[String, Double]

  def add(durations: java.util.Map[String, java.lang.Long]): Unit = synchronized {
    sums("batches") = sums.getOrElse("batches", 0.0) + 1
    durations.forEach((k, v) => sums(k) = sums.getOrElse(k, 0.0) + v.doubleValue)
  }
  def totals: Map[String, Double] = synchronized(sums.toMap)
  def reset(): Unit = synchronized(sums.clear())
}
