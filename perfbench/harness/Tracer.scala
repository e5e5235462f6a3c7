package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing for the traced run, kept entirely in the benchmark.
  *
  * Spans `run → pass → query|table → build|execute → job → stage` are kept
  * in memory and written at the end. The pass, unit, build and execute
  * spans are timed around the calls into the program; job and stage spans
  * and all counters come from a `SparkListener` and a
  * `QueryExecutionListener` registered only for traced passes. The listener
  * bus is drained at each unit boundary, so every event lands on the unit
  * that caused it; that drain is part of the measured tracing overhead.
  */
final class Tracer(cpus: Int) {
  import Tracer.Span
  @volatile var enabled = false
  private var spark: SparkSession = _

  private val spans = ArrayBuffer.empty[Span]
  private def open(parent: Int, kind: String, name: String, start: Double = nowMs): Span = {
    val s = Span(spans.size + 1, parent, kind, name, start, Double.NaN)
    spans += s
    s
  }
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Everything the listeners saw while one unit (a query or a table) ran. */
  final class UnitRec(val name: String, val span: Span) {
    var build: Span = _
    var exec: Span = _
    var builtAt = Double.MaxValue
    @volatile var done = false
    val jobs = ArrayBuffer.empty[(Int, Long, Long)] // id, submitted, completed
    val stages = ArrayBuffer.empty[StageInfo]
    val tasks = ArrayBuffer.empty[(Int, TaskInfo, TaskMetrics)] // stage id, info, metrics
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var exchanges, codegen, unpartitionedWindows, evicted = 0
    var cachedMb, pinsLeft = 0.0
  }
  final class PassRec(val index: Int, val span: Span) {
    val units = ArrayBuffer.empty[UnitRec]
    var gcMs, jitMs, classes = 0L
  }
  private val passes = ArrayBuffer.empty[PassRec]
  @volatile private var current: UnitRec = _
  private var run: Span = _

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def classes = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): scala.Unit = Option(current).foreach { u =>
      u.jobs += ((e.jobId, e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): scala.Unit = Option(current).foreach { u =>
      val i = u.jobs.indexWhere(_._1 == e.jobId)
      if (i >= 0) u.jobs(i) = u.jobs(i).copy(_3 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): scala.Unit =
      Option(current).foreach(_.stages += e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): scala.Unit = Option(current).foreach { u =>
      if (e.taskMetrics != null) u.tasks += ((e.stageId, e.taskInfo, e.taskMetrics))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): scala.Unit =
      Option(current).foreach { u =>
        val b = e.blockUpdatedInfo
        // an RDD block leaving memory while its query still runs: evicted
        // under memory pressure, or released by the operator itself
        if (b.blockId.isRDD && !b.storageLevel.useMemory && !u.done) u.evicted += 1
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): scala.Unit =
      Option(current).foreach { u =>
        qe.tracker.phases.foreach { case (phase, s) => u.phases(phase) += s.durationMs / 1e3 }
        planNodes(qe.executedPlan).foreach {
          case _: ShuffleExchangeLike => u.exchanges += 1
          case _: WholeStageCodegenExec => u.codegen += 1
          case w: WindowExec if w.partitionSpec.isEmpty => u.unpartitionedWindows += 1
          case _ =>
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): scala.Unit = ()
  }

  /** The final plan, looking through adaptive wrappers, query stages and subqueries. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def attach(s: SparkSession): scala.Unit = {
    spark = s
    run = open(0, "run", "run")
  }

  private def drain(): scala.Unit = org.apache.spark.BusDrain.drain(spark.sparkContext)

  def beginPass(index: Int): scala.Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val p = new PassRec(index, open(run.id, "pass", s"pass_$index"))
    p.gcMs = gcMs; p.jitMs = jitMs; p.classes = classes
    passes += p
  }

  /** `kind` is `query` or `table`. */
  def beginUnit(name: String, kind: String): scala.Unit = if (enabled) {
    drain() // the previous unit's cache release stays with it
    val p = passes.last
    val u = new UnitRec(name, open(p.span.id, kind, name))
    u.build = open(u.span.id, "build", name)
    p.units += u
    current = u
  }

  def built(): scala.Unit = if (enabled) {
    val u = current
    u.builtAt = nowMs
    u.build.end = u.builtAt
    u.exec = open(u.span.id, "execute", u.name, u.builtAt)
  }

  def endUnit(): scala.Unit = if (enabled) {
    if (current.exec == null) built() // the build threw
    val u = current
    val t = nowMs
    u.exec.end = t
    u.span.end = t
    drain()
    u.done = true
    val sc = spark.sparkContext
    u.pinsLeft = sc.getPersistentRDDs.size.toDouble
    u.cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
  }

  def endPass(): scala.Unit = if (enabled) {
    drain()
    current = null
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val p = passes.last
    p.span.end = nowMs
    run.end = p.span.end
    p.gcMs = gcMs - p.gcMs; p.jitMs = jitMs - p.jitMs; p.classes = classes - p.classes
    // job and stage spans, parented by time to the unit's build or execute span
    p.units.foreach { u =>
      val stageJob = mutable.Map.empty[Int, Int]
      u.jobs.foreach { case (id, sub, done) =>
        val parent = if (sub < u.builtAt) u.build else u.exec
        val j = open(parent.id, "job", s"job_$id", sub.toDouble)
        j.end = if (done >= 0) done.toDouble else j.start
        u.stages.filter(st => st.submissionTime.exists(t => t >= sub && (done < 0 || t <= done)))
          .foreach(st => stageJob.getOrElseUpdate(st.stageId, j.id))
      }
      u.stages.foreach { st =>
        val sub = st.submissionTime.getOrElse(0L).toDouble
        val s = open(stageJob.getOrElse(st.stageId, u.exec.id), "stage", s"stage_${st.stageId}", sub)
        s.end = st.completionTime.map(_.toDouble).getOrElse(sub)
      }
    }
  }

  /** Per-layer counters over a set of units (one query, or a whole pass). */
  def metrics(units: Seq[UnitRec]): Seq[(String, Double)] = {
    val tasks = units.flatMap(_.tasks)
    val stages = units.flatMap(_.stages)
    def sumT(f: TaskMetrics => Long) = tasks.map(t => f(t._3)).sum.toDouble
    val busyMs = tasks.map(_._2.duration).sum.toDouble
    val wallMs = units.map(u => u.span.end - u.span.start).sum
    val delayMs = tasks.map { case (_, i, m) =>
      math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime
        else 0L))
    }.sum.toDouble
    val skew = tasks.groupBy(_._1).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_._2.duration.toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }
    val single = stages.filter(_.numTasks == 1).map { st =>
      (st.completionTime.getOrElse(0L) - st.submissionTime.getOrElse(0L)).toDouble
    }.sum
    Seq(
      "queries.build_s" -> units.map(u => u.build.end - u.build.start).sum / 1e3,
      "queries.eager_jobs" -> units.map(u => u.jobs.count(_._2 < u.builtAt)).sum.toDouble,
      "planner.analysis_s" -> units.map(_.phases("analysis")).sum,
      "planner.optimization_s" -> units.map(_.phases("optimization")).sum,
      "planner.planning_s" -> units.map(_.phases("planning")).sum,
      "plan.exchanges" -> units.map(_.exchanges).sum.toDouble,
      "plan.codegen_stages" -> units.map(_.codegen).sum.toDouble,
      "plan.unpartitioned_windows" -> units.map(_.unpartitionedWindows).sum.toDouble,
      "scheduler.jobs" -> units.map(_.jobs.size).sum.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.task_run_s" -> sumT(_.executorRunTime) / 1e3,
      "scheduler.task_cpu_s" -> sumT(_.executorCpuTime) / 1e9,
      "scheduler.sched_delay_s" -> delayMs / 1e3,
      "scheduler.idle_core_s" -> math.max(0.0, cpus * wallMs - busyMs) / 1e3,
      "scheduler.single_task_stage_s" -> single / 1e3,
      "scheduler.stage_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "shuffle.write_mb" -> sumT(_.shuffleWriteMetrics.bytesWritten) / 1e6,
      "shuffle.read_mb" -> sumT(m => m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / 1e6,
      "shuffle.records" -> sumT(_.shuffleWriteMetrics.recordsWritten),
      "shuffle.fetch_wait_s" -> sumT(_.shuffleReadMetrics.fetchWaitTime) / 1e3,
      "memory.spill_mb" -> sumT(_.diskBytesSpilled) / 1e6,
      "memory.peak_exec_mb" -> (if (tasks.isEmpty) 0.0
        else tasks.map(_._3.peakExecutionMemory).max / 1e6),
      "storage.cached_peak_mb" -> (if (units.isEmpty) 0.0 else units.map(_.cachedMb).max),
      "storage.blocks_evicted" -> units.map(_.evicted).sum.toDouble,
      "storage.pins_left" -> units.map(_.pinsLeft).sum,
      "sources.input_mb" -> sumT(_.inputMetrics.bytesRead) / 1e6,
      "sources.input_rows" -> sumT(_.inputMetrics.recordsRead),
      "pipeline.output_mb" -> sumT(_.outputMetrics.bytesWritten) / 1e6,
      "pipeline.output_rows" -> sumT(_.outputMetrics.recordsWritten),
      "driver.result_mb" -> sumT(_.resultSize) / 1e6) ++
      Tracer.starTables.map { t =>
        s"pipeline.write_s.$t" -> units.filter(_.name == t)
          .map(u => u.exec.end - u.exec.start).sum / 1e3
      }
  }

  /** Per pass, the layer metrics of the whole pass and of each unit. */
  def layersJson(staging: Seq[Double], sessionStart: Seq[Double]): String = {
    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val perPass = passes.map { p =>
      val jvm = Seq("jvm.gc_s" -> p.gcMs / 1e3, "jvm.jit_s" -> p.jitMs / 1e3,
        "jvm.classes_loaded" -> p.classes.toDouble)
      val units = p.units.map(u => s"${Json.str(u.name)}:${obj(metrics(Seq(u)))}")
      s"""{"index":${p.index},"metrics":${obj(metrics(p.units.toSeq) ++ jvm)},""" +
        s""""units":${units.mkString("{", ",", "}")}}"""
    }
    s"""{"staging_s":${Json.nums(staging)},"session_start_s":${Json.nums(sessionStart)},""" +
      s""""passes":${perPass.mkString("[", ",", "]")}}"""
  }

  /** One span per line, with its self time: its duration less the part of
    * it that its children cover.
    */
  def spansJsonl: String = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val end = if (s.end.isNaN) s.start else s.end
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(if (c.end.isNaN) c.start else c.end, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
        }._1
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.start},"end_ms":$end,""" +
        s""""self_ms":${end - s.start - covered}}"""
    }.mkString("", "\n", "\n")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        start: Double, var end: Double)

  val starTables: Seq[String] = Seq("DIM_Peak", "DIM_Expedition", "DIM_Date",
    "DIM_CountryIndicator", "FACT_MemberExpedition")
}
