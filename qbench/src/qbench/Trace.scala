package qbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.qbenchbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval. `parent` is -1 for an op's root span. Times are
  * epoch microseconds, so benchmark spans and Spark's millisecond event
  * times share one clock. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startUs: Long, endUs: Long)

/** Spark counters of one op, filled by the listeners. */
final class OpCounters {
  val jobs = mutable.Map[Int, (Long, Long)]() // job id -> (start, end) ms
  val stageJob = mutable.Map[Int, Int]()
  val stages = mutable.Map[Int, (Long, Long)]() // completed stages, ms
  val taskRunMs = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
  var tasks, runMs, cpuNs, gcMs, delayMs = 0L
  var inRecords, inBytes, shuffleWrite, shuffleRead, spill = 0L
  val pinnedRdds = mutable.Set[Int]()
  val pinnedBlocks = mutable.Set[String]()
  var pinBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
}

/** Records spans around the benchmark's calls into each layer, and job,
  * stage and task counters from a `SparkListener`, for traced ops only.
  * Jobs are tied to an op through its job group. Nothing here reaches
  * into the library: every span wraps a call made by the benchmark. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val offsetUs =
    System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = offsetUs + System.nanoTime() / 1000

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[(Int, String, String, Long)] = Nil
  private var op = -1
  private var counters = new OpCounters
  private var compileNs0, compiles0 = 0L

  def active: Boolean = op >= 0

  /** Runs `f` inside a span of `layer` when an op is traced, else just
    * runs it. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!active) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, layer, nowUs) :: stack
      try f
      finally {
        val (_, n, l, start) = stack.head
        stack = stack.tail
        spans += Span(id, parent, op, n, l, start, nowUs)
      }
    }

  private val listener = new SparkListener {
    private def group(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counters.synchronized {
        if (group(e.properties).contains(Tracer.group(op))) {
          counters.jobs(e.jobId) = (e.time, e.time)
          e.stageIds.foreach(s =>
            counters.stageJob.getOrElseUpdate(s, e.jobId))
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      counters.synchronized {
        counters.jobs.get(e.jobId).foreach { case (s, _) =>
          counters.jobs(e.jobId) = (s, e.time)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.synchronized {
        val i = e.stageInfo
        if (counters.stageJob.contains(i.stageId))
          for (s <- i.submissionTime; c <- i.completionTime)
            counters.stages(i.stageId) = (s, c)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      counters.synchronized {
        val m = e.taskMetrics
        if (counters.stageJob.contains(e.stageId) && m != null) {
          val c = counters
          val info = e.taskInfo
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
          c.inRecords += m.inputMetrics.recordsRead
          c.inBytes += m.inputMetrics.bytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
            .append(m.executorRunTime.toDouble)
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      counters.synchronized {
        val b = e.blockUpdatedInfo
        b.blockId match {
          case RDDBlockId(rdd, _) if b.storageLevel.isValid &&
              counters.pinnedBlocks.add(b.blockId.name) =>
            counters.pinnedRdds += rdd
            counters.pinBytes += b.memSize + b.diskSize
          case _ =>
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = counters.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      counters.analysisMs += ms("analysis")
      counters.optimizationMs += ms("optimization")
      counters.planningMs += ms("planning")
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Opens op `i`'s root span and attaches the listeners. */
  def beginOp(i: Int): Unit = {
    Bus.drain(sc)
    counters = new OpCounters
    op = i
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    stack = (nextId, "op", "op", nowUs) :: Nil
    nextId += 1
  }

  /** Closes the root span, waits for every event of the op, detaches the
    * listeners, and returns the op's per-layer figures plus its
    * `extra` figures reported by the workload. */
  def endOp(extra: Map[String, Double]): Map[String, Double] = {
    val (rootId, _, _, rootStart) = stack.last
    val rootEnd = nowUs
    stack = Nil
    spans += Span(rootId, -1, op, "op", "op", rootStart, rootEnd)
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val compileNs = CodeGenerator.compileTime - compileNs0
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val c = counters
    val opSpans = spans.filter(_.op == op).toSeq
    // jobs and stages become spans under the innermost benchmark span
    // open when they started
    def innermost(t: Long): Int = opSpans
      .filter(s => s.startUs <= t && t < s.endUs)
      .sortBy(s => s.endUs - s.startUs).headOption.map(_.id).getOrElse(rootId)
    val jobSpans = c.jobs.toSeq.sortBy(_._1).map { case (j, (s, e)) =>
      val sp = Span(nextId, innermost(s * 1000), op, s"job $j", "scheduler",
        s * 1000, e * 1000)
      nextId += 1
      j -> sp
    }.toMap
    val stageSpans = c.stages.toSeq.sortBy(_._1).map { case (st, (s, e)) =>
      val sp = Span(nextId, jobSpans(c.stageJob(st)).id, op, s"stage $st",
        "executor", s * 1000, e * 1000)
      nextId += 1
      sp
    }
    spans ++= jobSpans.values ++= stageSpans
    val all = opSpans ++ jobSpans.values ++ stageSpans
    val m = Tracer.layerFigures(all, rootId, c, cores, compileNs / 1e9,
      compiles) ++ extra
    op = -1
    m
  }
}

object Tracer {
  def group(op: Int): String = s"qbench-op-$op"

  /** Per-layer figures of one op from its spans (root `rootId`) and
    * counters. Pure, so it is tested on fixed span sets. */
  def layerFigures(all: Seq[Span], rootId: Int, c: OpCounters,
      cores: Int, compileS: Double, compiles: Long): Map[String, Double] = {
    val root = all.find(_.id == rootId).get
    val wallS = (root.endUs - root.startUs) / 1e6
    val children = all.groupBy(_.parent)
    def dur(s: Span) = (s.endUs - s.startUs) / 1e6
    def selfS(s: Span) = Stats.selfTime(s.startUs, s.endUs,
      children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))) / 1e6
    def named(n: String) = all.filter(_.name == n)
    def sumDur(n: String) = named(n).map(dur).sum
    def jobsUnder(ss: Seq[Span]) = ss.map(s => children.getOrElse(s.id, Nil)
      .count(_.layer == "scheduler")).sum
    def layerSelf(l: String) = all.filter(_.layer == l).map(selfS).sum
    val operators = all.filter(_.layer == "operators")
    val jobs = all.filter(_.layer == "scheduler")
    val driverOnly = Stats.driverOnly(root.startUs, root.endUs,
      jobs.map(j => (j.startUs, j.endUs))) / 1e6
    val runS = c.runMs / 1e3
    val catalystS = (c.analysisMs + c.optimizationMs + c.planningMs) / 1e3
    Map(
      "quackio.construct_s" -> sumDur("quackio.read"),
      "quackio.construct_jobs" -> jobsUnder(named("quackio.read")).toDouble,
      "quackio.write_s" -> sumDur("quackio.write"),
      "quackio.readback_s" -> sumDur("quackio.readback"),
      "parquet_metadata.read_s" -> sumDur("parquet_metadata.read"),
      "operators.construct_s" -> operators.map(dur).sum,
      "operators.construct_jobs" -> jobsUnder(operators).toDouble,
      "checkpoints.pins" -> c.pinnedRdds.size.toDouble,
      "checkpoints.pin_bytes" -> c.pinBytes.toDouble,
      "catalyst.analysis_s" -> c.analysisMs / 1e3,
      "catalyst.optimization_s" -> c.optimizationMs / 1e3,
      "catalyst.planning_s" -> c.planningMs / 1e3,
      "codegen.compile_s" -> compileS,
      "codegen.compiles" -> compiles.toDouble,
      "scheduler.jobs" -> c.jobs.size.toDouble,
      "scheduler.stages" -> c.stages.size.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble,
      "scheduler.delay_s" -> c.delayMs / 1e3,
      "scheduler.driver_only_s" -> driverOnly,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> c.cpuNs / 1e9,
      "executor.gc_s" -> c.gcMs / 1e3,
      "executor.core_util" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "executor.input_records" -> c.inRecords.toDouble,
      "executor.input_bytes" -> c.inBytes.toDouble,
      "executor.task_skew" -> Stats.taskSkew(c.taskRunMs.values.map(_.toSeq)),
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.spill_bytes" -> c.spill.toDouble,
      "op.self_s" -> selfS(root),
      "quackio.self_s" -> layerSelf("quackio"),
      "synthdocs.self_s" -> layerSelf("synthdocs"),
      "operators.self_s" -> layerSelf("operators"),
      "catalyst.self_s" -> layerSelf("catalyst"),
      "action.self_s" -> layerSelf("action"),
      "scheduler.self_s" -> layerSelf("scheduler"),
      "executor.self_s" -> layerSelf("executor"),
      "share.fixed_overhead" -> (if (wallS > 0)
        (catalystS + compileS + driverOnly) / wallS else 0.0),
      "share.executor_run" -> (if (wallS > 0) runS / wallS else 0.0),
      "op.wall_s" -> wallS)
  }
}
