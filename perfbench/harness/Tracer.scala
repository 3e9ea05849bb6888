package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import Json._

object Tracer {
  /** Local properties that tag every job, stage and task with the op and
    * phase that caused it (inherited by stream-execution threads). */
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  private val FlushKey = "perfbench.flush"

  /** Plan-shape counts of one executed plan tree. */
  def planCounts(p: SparkPlanInfo): Map[String, Int] = {
    val c = mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(n: SparkPlanInfo): Unit = {
      val k = n.nodeName
      if (k == "Exchange" || k == "BroadcastExchange") c("exchanges") += 1
      if (k == "ReusedExchange") c("reused_exchanges") += 1
      if (k.startsWith("SortMergeJoin")) c("smj") += 1
      if (k.startsWith("BroadcastHashJoin")) c("bhj") += 1
      if (k.startsWith("ShuffledHashJoin")) c("shj") += 1
      if (k.startsWith("WholeStageCodegen")) c("wscg") += 1
      n.children.foreach(walk)
    }
    walk(p)
    c.toMap
  }

  /** Compilations and their total milliseconds so far, from Spark's
    * CodegenMetrics. The histogram keeps a 1028-sample reservoir: exact
    * while fewer compilations happened, mean x count beyond that. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val s = h.getSnapshot
    (n, if (n <= s.size) s.getValues.sum.toDouble else s.getMean * n)
  }

  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
}

/** The traced run's recorder: one SparkListener on the SparkContext
  * (which also receives the SQL and streaming events of `Events`' child
  * sessions), op and phase spans from the driver thread, and JVM /
  * codegen counters read at pass boundaries. Everything stays in memory
  * until [[writeSpans]] at the end of the run. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private final class StageAgg(val id: Int, val op: String, val phase: String, val name: String) {
    var submitMs = 0L; var endMs = 0L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufWrite = 0L; var shufRead = 0L; var spill = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L; var outRows = 0L
  }
  private final case class JobRec(id: Int, op: String, phase: String, execId: Option[Long],
                                  startMs: Long, var endMs: Long)
  private final case class ExecRec(id: Long, startMs: Long, var endMs: Long, var plan: SparkPlanInfo)
  private final case class Progress(atMs: Long, runId: String, triggerMs: Long, addBatchMs: Long,
                                    stateRows: Long, commitMs: Long, inputRows: Long)

  // listener-thread state; read by the driver only after flush()
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val execs = mutable.Map.empty[Long, ExecRec]
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val flushJobs = mutable.Map.empty[Int, String]
  private val flushed = new ConcurrentLinkedQueue[String]()

  /** Set by the driver between a traced pass's flushes. While it is off
    * the listener drops stage, task, SQL and streaming events before
    * taking its lock and keeps only the flush markers among job events,
    * so an untraced pass pays next to nothing for the registered listener. */
  @volatile private var enabled = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      prop(FlushKey) match {
        case Some(tag) => flushJobs(e.jobId) = tag
        case None if !enabled =>
        case None =>
          e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
          jobs(e.jobId) = JobRec(e.jobId, prop(OpKey).getOrElse(""), prop(PhaseKey).getOrElse(""),
            prop("spark.sql.execution.id").map(_.toLong), e.time, 0L)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      flushJobs.remove(e.jobId).foreach(flushed.add)
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      if (prop(FlushKey).isEmpty) {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId,
          new StageAgg(e.stageInfo.stageId, prop(OpKey), prop(PhaseKey), e.stageInfo.name))
        s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) Tracer.this.synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.endMs =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) Tracer.this.synchronized {
      for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = ExecRec(s.executionId, s.time, 0L, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          execs.get(u.executionId).foreach(_.plan = u.sparkPlanInfo)
        case x: SparkListenerSQLExecutionEnd =>
          execs.get(x.executionId).foreach(_.endMs = x.time)
        case q: StreamingQueryListener.QueryProgressEvent =>
          val pr = q.progress
          val d = pr.durationMs
          def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          progress += Progress(java.time.Instant.parse(pr.timestamp).toEpochMilli, pr.runId.toString,
            dur("triggerExecution"), dur("addBatch"),
            pr.stateOperators.map(_.numRowsTotal).sum, pr.stateOperators.map(_.commitTimeMs).sum,
            pr.numInputRows)
        case _ =>
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  // ---- driver-thread state
  private final case class OpSpan(id: String, pass: Int, startMs: Long, var res: Harness.OpResult)
  private val ops = mutable.ArrayBuffer.empty[OpSpan]
  private final case class PassSnap(jit: Double, gc: Double, cg: (Long, Double))
  private val passSnaps = mutable.Map.empty[Int, (PassSnap, PassSnap, Long, Long)]
  private var passStartSnap: PassSnap = _

  private def snap() = PassSnap(jitMs(), gcMs(), codegen())

  def opStart(id: String): Unit =
    ops += OpSpan(id, id.takeWhile(_ != ':').toInt, System.currentTimeMillis(), null)
  def opEnd(r: Harness.OpResult): Unit = ops.last.res = r
  /** Called outside the pass's timing: drain the events of earlier,
    * untraced work, then start recording. */
  def passStart(): Unit = {
    flush()
    enabled = true
    passStartSnap = snap()
  }
  /** Called outside the pass's timing: take the counters, wait for the
    * pass's last events, then stop recording. */
  def passEnd(pass: Int, wallNs: Long, cpuNs: Long): Unit = {
    passSnaps(pass) = (passStartSnap, snap(), wallNs, cpuNs)
    flush()
    enabled = false
  }

  /** Wait until the listener has seen every event posted so far: a
    * marker job's end is delivered after all earlier events. */
  def flush(): Unit = {
    val sc = spark.sparkContext
    val tag = s"flush-${System.nanoTime()}"
    sc.setLocalProperty(FlushKey, tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FlushKey, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!flushed.contains(tag) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** The op running at an epoch-ms instant: ops never overlap, since
    * the single client issues each one after the previous completed. */
  private def opAt(ms: Long): Option[String] =
    ops.find(o => o.res != null && ms >= o.startMs && ms <= o.res.endMs).map(_.id)

  /** The op of a SQL execution: the op its jobs were tagged with, else
    * the op running when it started (executions without jobs). */
  private def execOwner(x: ExecRec): Option[String] =
    jobs.values.collectFirst { case j if j.execId.contains(x.id) && j.op.nonEmpty => j.op }
      .orElse(opAt(x.startMs))

  private def passOf(opId: String): Int =
    if (opId.isEmpty) -1 else opId.takeWhile(_ != ':').toInt

  /** Per-layer metrics of each traced pass. Call after the last [[passEnd]]. */
  def layers(): Map[Int, Map[String, Double]] = synchronized {
    passSnaps.toMap.map { case (pass, (s0, s1, wallNs, cpuNs)) =>
      val pOps = ops.filter(o => o.pass == pass && o.res != null).map(_.res)
      val pJobs = jobs.values.filter(j => passOf(j.op) == pass)
      val pStages = stages.values.filter(s => passOf(s.op) == pass)
      val actStages = pStages.filter(_.phase == "action")
      val pExecs = execs.values.filter(x => execOwner(x).exists(passOf(_) == pass))
      val plan = pExecs.toSeq.map(x => planCounts(x.plan))
      def planSum(k: String) = plan.map(_.getOrElse(k, 0)).sum.toDouble
      val pProg = progress.filter(p => opAt(p.atMs).exists(passOf(_) == pass))
      val actionS = pOps.map(_.actionNs).sum / 1e9
      val taskCpuS = pStages.map(_.cpuNs).sum / 1e9
      val mb = 1048576.0
      pass -> Map(
        "tables.construct_ms" -> pOps.map(_.constructNs).sum / 1e6,
        "tables.construct_jobs" -> pJobs.count(_.phase == "construct").toDouble,
        "catalyst.plan_ms" -> pOps.map(_.planNs).sum / 1e6,
        "catalyst.exchanges" -> planSum("exchanges"),
        "catalyst.reused_exchanges" -> planSum("reused_exchanges"),
        "catalyst.smj" -> planSum("smj"),
        "catalyst.bhj" -> planSum("bhj"),
        "catalyst.shj" -> planSum("shj"),
        "catalyst.wscg" -> planSum("wscg"),
        "codegen.compile_ms" -> (s1.cg._2 - s0.cg._2),
        "codegen.classes" -> (s1.cg._1 - s0.cg._1).toDouble,
        "jvm.jit_ms" -> (s1.jit - s0.jit),
        "jvm.gc_ms" -> (s1.gc - s0.gc),
        "exec.action_ms" -> actionS * 1e3,
        "exec.jobs" -> pJobs.size.toDouble,
        "exec.stages" -> pStages.size.toDouble,
        "exec.tasks" -> pStages.map(_.tasks).sum.toDouble,
        "exec.task_cpu_s" -> taskCpuS,
        "exec.task_run_s" -> pStages.map(_.runMs).sum / 1e3,
        "exec.core_busy_share" ->
          (if (actionS > 0) actStages.map(_.runMs).sum / 1e3 / (actionS * cores) else 0.0),
        "exec.gc_s" -> pStages.map(_.gcMs).sum / 1e3,
        "shuffle.write_mb" -> pStages.map(_.shufWrite).sum / mb,
        "shuffle.read_mb" -> pStages.map(_.shufRead).sum / mb,
        "spill.mb" -> pStages.map(_.spill).sum / mb,
        "scan.input_mb" -> pStages.map(_.inBytes).sum / mb,
        "scan.input_rows" -> pStages.map(_.inRows).sum.toDouble,
        "output.mb" -> pStages.map(_.outBytes).sum / mb,
        "output.rows" -> pStages.map(_.outRows).sum.toDouble,
        "driver.cpu_s" -> (cpuNs / 1e9 - taskCpuS),
        "streaming.queries" -> pProg.map(_.runId).distinct.size.toDouble,
        "streaming.batches" -> pProg.size.toDouble,
        "streaming.trigger_ms" -> pProg.map(_.triggerMs).sum.toDouble,
        "streaming.add_batch_ms" -> pProg.map(_.addBatchMs).sum.toDouble,
        "streaming.machinery_ms" -> pProg.map(p => p.triggerMs - p.addBatchMs).sum.toDouble,
        "streaming.state_rows" ->
          pProg.groupBy(_.runId).values.map(_.map(_.stateRows).max).sum.toDouble,
        "streaming.state_commit_ms" -> pProg.map(_.commitMs).sum.toDouble)
    }
  }

  /** All spans as JSON lines: op -> construct/plan/action -> job -> stage,
    * plus SQL executions and streaming triggers under their op. */
  def writeSpans(path: String): Unit = synchronized {
    val out = mutable.ArrayBuffer.empty[String]
    def span(id: String, parent: String, kind: String, name: String, start: Double, end: Double,
             extra: (String, String)*): Unit =
      out += obj(Seq("id" -> str(id), "parent" -> str(parent), "kind" -> str(kind),
        "name" -> str(name), "start_ms" -> num(start), "end_ms" -> num(end)) ++ extra: _*)
    for (o <- ops if o.res != null) {
      val r = o.res
      span(o.id, "", "op", r.name, o.startMs, r.endMs, "ok" -> bool(r.ok))
      val c = o.startMs + r.constructNs / 1e6
      val p = c + r.planNs / 1e6
      span(s"${o.id}/construct", o.id, "construct", r.name, o.startMs, c)
      span(s"${o.id}/plan", o.id, "plan", r.name, c, p)
      span(s"${o.id}/action", o.id, "action", r.name, p, r.endMs)
    }
    for (j <- jobs.values.toSeq.sortBy(_.id))
      span(s"job${j.id}", if (j.op.isEmpty) "" else s"${j.op}/${j.phase}", "job", s"job ${j.id}",
        j.startMs, j.endMs)
    for (s <- stages.values.toSeq.sortBy(_.id))
      span(s"stage${s.id}", stageJob.get(s.id).map(j => s"job$j").getOrElse(""), "stage", s.name,
        s.submitMs, s.endMs, "tasks" -> num(s.tasks.toDouble),
        "task_cpu_ms" -> num(s.cpuNs / 1e6), "task_run_ms" -> num(s.runMs.toDouble))
    for (x <- execs.values.toSeq.sortBy(_.id)) {
      val pc = planCounts(x.plan)
      span(s"sql${x.id}", execOwner(x).getOrElse(""), "sql", s"execution ${x.id}", x.startMs, x.endMs,
        pc.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v.toDouble) }: _*)
    }
    for ((p, i) <- progress.zipWithIndex)
      span(s"trigger$i", opAt(p.atMs).getOrElse(""), "trigger", p.runId, p.atMs, p.atMs + p.triggerMs,
        "add_batch_ms" -> num(p.addBatchMs.toDouble), "state_rows" -> num(p.stateRows.toDouble))
    Files.write(Paths.get(path), out.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
