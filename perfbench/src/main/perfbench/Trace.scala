package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A span: op, build, action, job or micro-batch. Times are epoch
  * microseconds so spans line up with listener event times. */
final case class Span(id: Int, parent: Int, kind: String, op: String,
                      startUs: Long, endUs: Long) {
  def us: Long = endUs - startUs
}

/** The traced run. Spans come from the benchmark's own code (op, and the
  * build and action inside it), from job start/end events (jobs carry the
  * op id as their job group) and from streaming progress events. Counters
  * are read at the same boundaries through public Spark hooks: a
  * SparkListener, a QueryExecutionListener (`qe.tracker`), deltas of
  * `RuleExecutor.getCurrentMetrics` and of the codegen compile counters.
  * The hooks are registered only between [[attach]] and [[detach]], so the
  * untraced passes between traced ones pay for none of them. Everything
  * stays in memory until [[report]]. */
final class Trace(spark: SparkSession, moduleOf: String => String) {

  /** Counters of one op. */
  final class C {
    var jobs, stages, tasks, retries, cpuNs, runMs, gcMs = 0L
    var shRead, shWrite, shWriteNs, fetchWaitMs, spill, input, output = 0L
    var actions, analysisMs, optimizationMs, planningMs = 0L
    var ruleNs, ruleRuns, ruleEffective, compileNs, compiles = 0L
    var batches, batchMs, drainNs = 0L
  }

  private val counters = mutable.LinkedHashMap.empty[String, C]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val meta = mutable.LinkedHashMap.empty[String, (String, String, Double, Boolean)]
  private val jobOwner = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOwner = mutable.Map.empty[Int, String]
  @volatile private var currentOp = ""
  @volatile private var currentSpan = -1
  private var nOps = 0

  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  private def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  private def c(op: String): C = counters.getOrElseUpdate(op, new C)

  private def span(kind: String, op: String, parent: Int, s: Long, e: Long): Int =
    synchronized { spans += Span(spans.size, parent, kind, op, s, e); spans.size - 1 }

  /** Events from threads the benchmark does not tag (the stream execution
    * thread sets its own job group) belong to the op in flight: ops run one
    * at a time and the bus is drained at every op boundary. */
  private def owner(group: String): String =
    if (group != null && counters.contains(group)) group else currentOp

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val op = owner(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      jobOwner(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOwner(_) = op)
      c(op).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      for (op <- jobOwner.get(e.jobId) if op.nonEmpty; s <- jobStart.get(e.jobId))
        span("job", op, -1, s * 1000, e.time * 1000)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageOwner.get(e.stageInfo.stageId).foreach(c(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val x = c(stageOwner.getOrElse(e.stageId, currentOp))
      x.tasks += 1
      if (e.taskInfo.attemptNumber > 0) x.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        x.cpuNs += m.executorCpuTime
        x.runMs += m.executorRunTime
        x.gcMs += m.jvmGCTime
        x.shRead += m.shuffleReadMetrics.totalBytesRead
        x.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        x.shWrite += m.shuffleWriteMetrics.bytesWritten
        x.shWriteNs += m.shuffleWriteMetrics.writeTime
        x.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        x.input += m.inputMetrics.bytesRead
        x.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        val x = c(currentOp)
        x.actions += 1
        val ph = qe.tracker.phases
        x.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        x.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        x.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        if (p.numInputRows > 0 && currentOp.nonEmpty) {
          val x = c(currentOp)
          x.batches += 1
          x.batchMs += ms
          val end = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000 + ms * 1000
          span("batch", currentOp, currentSpan, end - ms * 1000, end)
        }
      }
  }

  private var attached = false

  /** Registers the hooks: a traced pass starts. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Waits for the listener bus to deliver what is queued, then removes the
    * hooks: a traced pass ends. */
  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Runs one op under its own span and job group; `body` gets the wrapper
    * for the build and action spans. The op's time includes waiting for the
    * listener bus to deliver the op's events, which tracing adds. */
  def op(o: Op, body: ((String, () => Any) => Any) => Sample): Sample = {
    nOps += 1
    val id = s"op$nOps"
    synchronized(c(id))
    val sc = spark.sparkContext
    val r0 = RuleExecutor.getCurrentMetrics()
    val comp0 = CodeGenerator.compileTime
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setJobGroup(id, o.name, interruptOnCancel = false)
    currentOp = id
    val s0 = nowUs
    val opSpan = span("op", id, -1, s0, s0)
    val sample = body { (kind, f) =>
      val a = nowUs
      val sid = span(kind, id, opSpan, a, a)
      currentSpan = sid
      try f() finally {
        val e = nowUs
        synchronized(spans(sid) = spans(sid).copy(endUs = e))
      }
    }
    val d0 = System.nanoTime()
    PerfbenchBus.drain(sc)
    val drainNs = System.nanoTime() - d0
    val e0 = nowUs
    sc.clearJobGroup()
    val r = RuleExecutor.getCurrentMetrics() - r0
    val traced = sample.copy(ms = sample.ms + drainNs / 1e6)
    synchronized {
      spans(opSpan) = spans(opSpan).copy(endUs = e0)
      val x = c(id)
      x.drainNs += drainNs
      x.ruleNs += r.time
      x.ruleRuns += r.numRuns
      x.ruleEffective += r.numEffectiveRuns
      x.compileNs += CodeGenerator.compileTime - comp0
      x.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
      meta(id) = (o.name, o.kind, traced.ms, traced.ok)
    }
    currentOp = ""
    traced
  }

  /** Writes every span as one JSON line: id, parent, kind, op id, op name
    * and epoch-microsecond start and end. */
  def writeSpans(path: String): Unit = synchronized {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val pw = new java.io.PrintWriter(f)
    try spans.foreach { x =>
      pw.println(Json.obj("id" -> x.id, "parent" -> x.parent, "kind" -> x.kind,
        "op" -> x.op, "name" -> meta.get(x.op).map(_._1).getOrElse(""),
        "start_us" -> x.startUs, "end_us" -> x.endUs))
    } finally pw.close()
  }

  /** Length of the union of `ivs` clipped to [s, e]. */
  private def covered(ivs: Seq[(Long, Long)], s: Long, e: Long): Long = {
    var total = 0L
    var reach = s
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Per-layer metrics over the ok traced ops: per-op means (a counter
    * divided by the ok op count), span self times, ratios, and per-module
    * build/action splits; plus notes naming the ratios' bases. */
  def report(cores: Int): (Map[String, Double], Map[String, Any]) = synchronized {
    val ok = meta.filter(_._2._4).keys.toSeq
    val n = math.max(1, ok.size).toDouble
    def total(f: C => Long): Double = ok.map(id => f(counters(id)).toDouble).sum
    def perOp(f: C => Long): Double = total(f) / n
    val byOp = spans.groupBy(_.op)
    var gapUs, buildSelf, actionSelf, opSelf, jobUs = 0.0
    val module = mutable.LinkedHashMap.empty[String, Array[Double]]
    ok.foreach { id =>
      val ss = byOp.getOrElse(id, Nil)
      val jobs = ss.filter(_.kind == "job").map(j => (j.startUs, j.endUs)).toSeq
      val opS = ss.find(_.kind == "op").get
      def one(kind: String) = ss.filter(_.kind == kind)
      val build = one("build"); val action = one("action")
      gapUs += opS.us - covered(jobs, opS.startUs, opS.endUs)
      jobUs += covered(jobs, opS.startUs, opS.endUs)
      buildSelf += build.map(b => b.us - covered(jobs, b.startUs, b.endUs)).sum
      actionSelf += action.map(a => a.us - covered(jobs, a.startUs, a.endUs)).sum
      opSelf += opS.us - build.map(_.us).sum - action.map(_.us).sum
      val m = module.getOrElseUpdate(moduleOf(meta(id)._1), Array(0.0, 0.0, 0.0))
      m(0) += build.map(_.us).sum / 1000.0
      m(1) += action.map(_.us).sum / 1000.0
      m(2) += 1
    }
    val wallMs = ok.map(meta(_)._3).sum
    val compileMs = total(_.compileNs) / 1e6
    val executorMs = total(_.cpuNs) / 1e6 + total(_.shWriteNs) / 1e6 + total(_.fetchWaitMs)
    val batches = total(_.batches)
    val layers = Map[String, Double](
      "catalyst.rule_ms" -> perOp(_.ruleNs) / 1e6,
      "catalyst.effective_rule_ratio" -> total(_.ruleEffective) / math.max(1.0, total(_.ruleRuns)),
      "catalyst.analysis_ms" -> perOp(_.analysisMs),
      "catalyst.optimization_ms" -> perOp(_.optimizationMs),
      "catalyst.planning_ms" -> perOp(_.planningMs),
      "codegen.compile_ms" -> compileMs / n,
      "codegen.compiles" -> perOp(_.compiles),
      "scheduler.actions" -> perOp(_.actions),
      "scheduler.jobs" -> perOp(_.jobs),
      "scheduler.stages" -> perOp(_.stages),
      "scheduler.tasks" -> perOp(_.tasks),
      "scheduler.driver_gap_ms" -> gapUs / 1000 / n,
      "executor.cpu_ms" -> perOp(_.cpuNs) / 1e6,
      "executor.gc_ms" -> perOp(_.gcMs),
      "executor.busy_ratio" -> total(_.runMs) / math.max(1.0, wallMs * cores),
      "executor.task_retries" -> total(_.retries),
      "shuffle.read_bytes" -> perOp(_.shRead),
      "shuffle.write_bytes" -> perOp(_.shWrite),
      "shuffle.spill_bytes" -> perOp(_.spill),
      "shuffle.fetch_wait_ms" -> perOp(_.fetchWaitMs),
      "io.input_bytes" -> perOp(_.input),
      "io.output_bytes" -> perOp(_.output),
      "graft.streaming.batches" -> batches,
      "graft.streaming.batch_ms" -> (if (batches == 0) 0.0 else total(_.batchMs) / batches),
      "share.planning" -> (total(_.ruleNs) / 1e6 + compileMs) / math.max(1e-9, wallMs),
      "share.executor" -> executorMs / math.max(1e-9, wallMs),
      "span.op_ms" -> wallMs / n,
      "span.job_ms" -> jobUs / 1000 / n,
      "span.build_self_ms" -> buildSelf / 1000 / n,
      "span.action_self_ms" -> actionSelf / 1000 / n,
      "span.op_self_ms" -> opSelf / 1000 / n,
      "trace.drain_ms" -> perOp(_.drainNs) / 1e6) ++
      module.flatMap { case (mod, v) => Seq(
        s"$mod.build_ms" -> v(0) / v(2), s"$mod.action_ms" -> v(1) / v(2),
        s"$mod.ops" -> v(2)) }
    val notes = Map[String, Any](
      "ops_traced" -> ok.size, "spans" -> spans.size,
      "share.planning.base" -> "(catalyst rule ms + codegen compile ms) / op wall ms",
      "share.executor.base" -> "(executor cpu ms + shuffle write ms + shuffle fetch wait ms) / op wall ms; tasks run on all cores, so it can exceed 1",
      "executor.busy_ratio.base" -> s"task run ms / (op wall ms x $cores cores)",
      "per_op" -> "counters and times are means per ok op unless named a ratio or total")
    (layers, notes)
  }
}
