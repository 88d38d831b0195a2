package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the traced artifact: `parent` and `op` are span / op ids,
  * -1 for none. Times are epoch milliseconds. */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

/** Per-layer counters for the traced run. Everything is observed from
  * outside the engine: Spark's job / stage / task / block events, the SQL
  * execution listener (planning phases, scan metrics), the streaming
  * progress events, Hadoop FileSystem statistics and the JVM's GC and
  * memory beans. Attach with [[attach]], detach with [[detach]]; the
  * harness brackets the timed part of every op with [[beginOp]] /
  * [[endOp]], and only what happens inside a bracket is counted: the
  * harness's own staging and output checks run outside it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val streamState = mutable.Map.empty[String, (Double, Double)]
  private var opTriggerMs = 0.0
  private var curOp = -1
  private var curSpan = -1
  private var opStart = 0L
  /** Plan phases of the most recent SQL execution (an op's last one is
    * its materialization), for the per-query breakdown. */
  @volatile var lastPlanMs = 0.0
  /** Inside an op bracket. Events arrive on the listener bus's threads;
    * the bus is drained before the flag flips, so every event lands on
    * the side of the bracket it was posted on. */
  @volatile private var active = false

  def add(k: String, v: Double): Unit = synchronized {
    if (active) counters(k) = counters.getOrElse(k, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (active) jobStart(e.jobId) = e.time
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      if (active) jobStart.remove(e.jobId).foreach { s =>
        jobIntervals += ((s, e.time))
        spans += Span(s"job ${e.jobId}", s, e.time, curSpan, curOp)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null && active) {
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("exec.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        add("exec.stages", 1)
        val ts = stageTaskMs.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty[Long])
        val stageS = ts.sum / 1e3
        if (ts.size == 1) add("exec.single_task_stage_s", stageS)
        if (ts.size > 1) {
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).toDouble
          if (med > 0) skews += sorted.last / med
        }
        innermost(info.details, OperatorFrame).foreach { m =>
          add(s"operators.$m.stage_s", stageS)
        }
        if (innermost(info.details, PipelinesFrame).nonEmpty)
          add("pipelines.Pipelines.stage_s", stageS)
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        add("exec.persist_mb", (b.memSize + b.diskSize) / MB)
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      lastPlanMs = ms("analysis") + ms("optimization") + ms("planning")
      add("plans.analysis_s", ms("analysis") / 1e3)
      add("plans.optimization_s", ms("optimization") / 1e3)
      add("plans.planning_s", ms("planning") / 1e3)
      val nodes = planNodes(qe.executedPlan)
      add("plans.graft_nodes", nodes.count(_.getClass.getName.startsWith("graft.")).toDouble)
      if (active) nodes.foreach {
        case s: FileSourceScanExec =>
          def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          val read = metric("numFiles")
          add("sources.files_read", read)
          add("sources.scan_mb", metric("filesSize") / MB)
          add("sources.scan_s", (metric("scanTime") + metric("metadataTime")) / 1e3)
          val listed =
            if (s.metrics.contains("staticFilesNum")) metric("staticFilesNum")
            else s.relation.location.inputFiles.length.toDouble
          add("sources.files_pruned", math.max(0.0, listed - read))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        add("streaming.triggers", 1)
        add("streaming.input_rows", p.numInputRows.toDouble)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        val trig = d.getOrElse("triggerExecution", 0.0)
        add("streaming.trigger_s", trig)
        opTriggerMs += trig
        for (ph <- StreamPhases) add(s"streaming.${ph}_s", d.getOrElse(ph, 0.0))
        val ops = p.stateOperators
        add("streaming.state_commit_s", ops.map(_.commitTimeMs).sum / 1e3)
        if (active) streamState(p.id.toString) = (ops.map(_.numRowsTotal).sum.toDouble,
          ops.map(_.memoryUsedBytes).sum / MB)
      }
  }

  private var gc0 = 0L
  private var fs0: FsStats = FsStats(0, 0)

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    BusShim.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  def beginOp(op: Int, name: String): Unit = {
    // deliver what the harness ran since the last op before counting
    BusShim.drain(sc)
    synchronized {
      curOp = op
      opTriggerMs = 0.0
      lastPlanMs = 0.0
      streamState.clear()
      jobIntervals.clear()
      gc0 = gcMs
      fs0 = FsStats.now
      heapPools.foreach(_.resetPeakUsage())
      active = true
      opStart = System.currentTimeMillis()
      spans += Span(name, opStart, opStart, -1, op)
      curSpan = spans.size - 1
    }
  }

  /** A child span of the current op, e.g. construct or materialize. */
  def span(name: String, start: Long, end: Long): Unit = synchronized {
    spans += Span(name, start, end, curSpan, curOp)
  }

  /** Closes the current op after the listener bus has delivered its
    * events; returns nothing, the counters carry the result. */
  def endOp(constructEndMs: Long): Unit = {
    val end = System.currentTimeMillis()
    val gc = gcMs
    val fs = FsStats.now
    BusShim.drain(sc)
    synchronized {
      spans(curSpan) = spans(curSpan).copy(end = end)
      add("jvm.gc_s", (gc - gc0) / 1e3)
      add("fs.bytes_read_mb", (fs.bytesRead - fs0.bytesRead) / MB)
      add("fs.bytes_written_mb", (fs.bytesWritten - fs0.bytesWritten) / MB)
      val peak = heapPools.map(_.getPeakUsage.getUsed).sum / MB
      counters("jvm.heap_peak_mb") = math.max(peak, counters.getOrElse("jvm.heap_peak_mb", 0.0))
      val wall = (end - opStart).toDouble
      add("driver.op_wall_s", wall / 1e3)
      add("driver.gap_s", (wall - union(jobIntervals.toSeq, opStart, end)) / 1e3)
      add("queries.construct_jobs",
        jobIntervals.count(_._1 < constructEndMs).toDouble +
          jobStart.values.count(_ < constructEndMs))
      if (opTriggerMs > 0) add("streaming.lifecycle_s", (wall / 1e3) - opTriggerMs)
      add("streaming.state_rows", streamState.values.map(_._1).sum)
      add("streaming.state_mb", streamState.values.map(_._2).sum)
      active = false
    }
  }

  /** Median over stages of the max / median task time. */
  def skew: Double = synchronized {
    if (skews.isEmpty) 1.0 else skews.sorted.apply(skews.size / 2)
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0
  /** Operator modules whose stage time is a per-layer metric: the ones
    * that run Spark jobs from their own frames in some workload. The
    * others never own a stage's call site here: expression-only kernels
    * such as TextOps run in stages the harness's own save submits, the
    * driver-side TableLog commits run no jobs, and LogTable and the other
    * modules have no op in the mixes. Every module's stage time is in the
    * artifact's counters. */
  val OperatorModules: Seq[String] = Seq("DedupOps", "MergeOps")
  val StreamPhases: Seq[String] = Seq("addBatch", "getBatch", "latestOffset",
    "queryPlanning", "walCommit", "commitOffsets")
  private val OperatorFrame = """graft\.operators\.([A-Za-z]+)""".r
  private val PipelinesFrame = """graft\.pipelines\.(Pipelines)\$""".r

  /** First (innermost) frame of a long call site matching `re`. */
  private def innermost(details: String, re: scala.util.matching.Regex): Option[String] =
    details.linesIterator.flatMap(l => re.findFirstMatchIn(l).map(_.group(1))).nextOption()

  /** Every node of an executed plan, through adaptive and stage wrappers
    * and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var reach = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, reach)
      val e = math.min(e0, hi)
      if (e > s) { covered += e - s; reach = e }
    }
    covered.toDouble
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  final case class FsStats(bytesRead: Long, bytesWritten: Long)
  object FsStats {
    @annotation.nowarn("cat=deprecation")
    def now: FsStats = {
      val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      FsStats(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
    }
  }
}
