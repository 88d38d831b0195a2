package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, JsonUtil}

/** One closed-loop benchmark run of one workload, in one JVM.
  *
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --data <tables dir> --work <scratch dir> --out <result json>
  *     --t0 <epoch ms the run started> [--size full|smoke]
  *
  * Set-up (session start, input generation and one untimed warm-up pass
  * that also writes every query result for the oracle compare) is followed
  * by the measured window: whole cycles of the workload's ops, one client,
  * at least [[MinCycles]] and until at least S seconds have passed.
  * With `--trace 1` cycles alternate between untraced and traced, so the
  * tracing overhead is an interleaved same-JVM difference, and the
  * per-layer counters come from the traced cycles only.
  */
object Harness {

  /** Fewest measured cycles of a run (untraced and traced alike). */
  val MinCycles = 3

  /** The output check of one op: an error text for a wrong result, None
    * when it checked out. */
  type Check = () => Option[String]
  val NoCheck: Check = () => None

  /** One operation of a cycle. `stage` makes its input (generator work,
    * staged files); `run` is the timed part and returns the op's output
    * check. Staging and the check run outside the op's timing and
    * tracing bracket, so neither counts in any metric. `kind` is read or
    * write. */
  final case class Op(name: String, kind: String, run: Probe => Check,
                      stage: Probe => Unit = _ => ())

  /** Stages, runs and checks `op` outside any measurement (warm-up). */
  def once(op: Op): Option[String] = {
    val p = new Probe(None)
    guarded { op.stage(p); op.run(p)() }
  }

  private def guarded(body: => Option[String]): Option[String] =
    try body catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }

  /** Timing hooks an op calls around its construction and
    * materialization. */
  final class Probe(val tracer: Option[Tracer]) {
    var constructEnd = 0L
    var constructS = 0.0
    /** Raw entries, staged input bytes and HTTP request time of a sync. */
    var entries = 0L
    var stagedBytes = 0L
    var requestS = 0.0
    def construct[T](body: => T): T = timed("construct", body, s => constructS += s)
    def materialize[T](body: => T): T = timed("materialize", body, _ => ())
    private def timed[T](name: String, body: => T, acc: Double => Unit): T = {
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body finally {
        acc((System.nanoTime() - n0) / 1e9)
        val t1 = System.currentTimeMillis()
        if (name == "construct") constructEnd = t1
        tracer.foreach(_.span(name, t0, t1))
      }
    }
  }

  /** One completed op. `slotS` adds the clean-up after it, so the slots
    * of a window sum to the window. `error` holds a failure or a failed
    * output check. */
  final case class Sample(name: String, kind: String, seconds: Double, slotS: Double,
                          constructS: Double, planS: Double, error: Option[String],
                          traced: Boolean, entries: Long, stagedBytes: Long,
                          requestS: Double)

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val smoke = a.get("size").contains("smoke")
    val work = Paths.get(a("work")).toAbsolutePath
    val t0 = a("t0").toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.tune(SparkSession.builder().master(s"local[$cores]"),
      cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (workload == "train") return train(spark, a("data"), work)
    val out = mutable.LinkedHashMap.empty[String, String]
    // set-up phases, seconds after the runner started
    out("setup_phases") = JsonOut.obj(Seq(
      "jvm_start" -> (ManagementFactory.getRuntimeMXBean.getStartTime - t0) / 1e3,
      "session_ready" -> (System.currentTimeMillis() - t0) / 1e3))
    val wl = Workloads(workload, spark, a("data"), work, seed, smoke,
      a.getOrElse("inject-wrong", "-"))
    try {
      val prepared = wl.prepare()
      out("checks") = prepared
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val samples = mutable.ArrayBuffer.empty[Sample]
      val firstOp = System.currentTimeMillis()
      val window0 = System.nanoTime()
      var paused = 0.0
      var cycle = 0
      def elapsed = (System.nanoTime() - window0) / 1e9 - paused
      // whole cycles only, at least MinCycles, so every run measures the
      // same op mix and every op's median has several samples; a traced
      // run brackets each traced cycle with untraced ones, so JIT warming
      // over the window does not bias the tracing overhead
      while (elapsed < seconds || cycle < MinCycles) {
        val traced = trace && cycle % 2 == 1
        if (traced) tracer.get.attach()
        for (op <- wl.cycle(cycle)) {
          val probe = new Probe(if (traced) tracer else None)
          val u0 = System.nanoTime()
          val staged = guarded { op.stage(probe); None }
          if (traced) tracer.get.beginOp(samples.size, op.name)
          val s0 = System.nanoTime()
          var check = NoCheck
          val err = staged.orElse(guarded { check = op.run(probe); None })
          val s = (System.nanoTime() - s0) / 1e9
          if (traced) tracer.get.endOp(probe.constructEnd)
          val plan = if (traced) tracer.get.lastPlanMs / 1e3 else 0.0
          val wrong = err.orElse(guarded(check()))
          val b0 = System.nanoTime()
          wl.betweenOps()
          val b1 = System.nanoTime()
          // staging, tracer bookkeeping and the check are outside the window
          paused += (b0 - u0) / 1e9 - s
          samples += Sample(op.name, op.kind, s, s + (b1 - b0) / 1e9, probe.constructS, plan,
            wrong, traced, probe.entries, probe.stagedBytes, probe.requestS)
        }
        if (traced) tracer.get.detach()
        cycle += 1
      }
      val windowS = elapsed
      out("setup_s") = ((firstOp - t0) / 1e3).toString
      out("window_s") = windowS.toString
      out("cycles") = cycle.toString
      val untraced = samples.filterNot(_.traced)
      out("metrics") = JsonOut.obj(endToEnd(untraced.toSeq))
      if (trace) {
        val tr = tracer.get
        val traced = samples.filter(_.traced).toSeq
        out("traced_metrics") = JsonOut.obj(endToEnd(traced))
        out("per_layer") = JsonOut.obj(perLayer(tr, traced, cores))
        out("spans") = tr.spans.map(s =>
          s"""{"name":${JsonUtil.jstr(s.name)},"start":${s.start},"end":${s.end},"parent":${s.parent},"op":${s.op}}""")
          .mkString("[", ",", "]")
        out("counters") = JsonOut.obj(tr.counters.toSeq)
        out("breakdown") = wl.breakdown(tr, traced)
      }
      out("ops") = samples.map(s =>
        s"""{"name":${JsonUtil.jstr(s.name)},"kind":"${s.kind}","s":${s.seconds},"construct_s":${s.constructS},"traced":${s.traced},"error":${s.error.map(JsonUtil.jstr).getOrElse("null")}}""")
        .mkString("[", ",", "]")
      out("jvm_flags") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .map(JsonUtil.jstr).mkString("[", ",", "]")
      out("cores") = cores.toString
    } finally {
      wl.close()
      Files.writeString(Paths.get(a("out")),
        out.map { case (k, v) => s"${JsonUtil.jstr(k)}:$v" }.mkString("{", ",", "}"))
      spark.stop()
    }
  }

  /** The class-loading training run the build records its class-data
    * sharing archive from: every workload's warm-up at its smoke size. */
  private def train(spark: SparkSession, data: String, work: java.nio.file.Path): Unit =
    try Seq("query_mix", "clickup_sync").foreach { w =>
      val wl = Workloads(w, spark, data, work.resolve(w), 1L, smoke = true, "-")
      try wl.prepare() finally wl.close()
    } finally spark.stop()

  /** q-quantile (nearest rank) of sorted values. */
  private def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(q * sorted.size).toInt - 1)))

  /** The highest percentile with at least 10 samples beyond it. */
  private def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n <= 10) (quantile(sorted, 0.5), 50.0)
    else {
      val p = math.floor(100.0 * (n - 10) / n)
      (quantile(sorted, p / 100.0), p)
    }
  }

  private def endToEnd(samples: Seq[Sample]): Seq[(String, Double)] = {
    val ok = samples.filter(_.error.isEmpty)
    val lat = ok.map(_.seconds).sorted
    def kind(k: String) = ok.filter(_.kind == k).map(_.seconds).sorted
    // geometric mean over op types of each type's median latency: every
    // op type weighs the same, and it moves smoothly when any op does
    def gmean(k: Option[String]) = {
      val meds = ok.filter(s => k.forall(_ == s.kind)).groupBy(_.name).values
        .map(v => quantile(v.map(_.seconds).sorted, 0.5)).filter(_ > 0)
      if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
    }
    val (tl, tp) = tail(lat)
    val (rt, rp) = tail(kind("read"))
    val (wt, wp) = tail(kind("write"))
    Seq(
      "ops_per_s" -> samples.size / samples.map(_.slotS).sum,
      "op_gmean_s" -> gmean(None), "read_gmean_s" -> gmean(Some("read")),
      "write_gmean_s" -> gmean(Some("write")),
      "latency_p50_s" -> quantile(lat, 0.5),
      "latency_tail_s" -> tl, "latency_tail_pct" -> tp,
      "read_p50_s" -> quantile(kind("read"), 0.5),
      "read_tail_s" -> rt, "read_tail_pct" -> rp,
      "write_p50_s" -> quantile(kind("write"), 0.5),
      "write_tail_s" -> wt, "write_tail_pct" -> wp,
      "sync_entries_per_s" -> {
        val syncs = ok.filter(_.entries > 0)
        val secs = syncs.map(_.seconds).sum
        if (secs > 0) syncs.map(_.entries).sum / secs else 0.0
      },
      "attempted" -> samples.size.toDouble,
      "failed" -> samples.count(_.error.nonEmpty).toDouble)
  }

  private def perLayer(tr: Tracer, traced: Seq[Sample],
                       cores: Int): Seq[(String, Double)] = {
    val n = math.max(1, traced.size).toDouble
    val c = tr.counters
    def get(k: String) = c.getOrElse(k, 0.0)
    val wall = traced.map(_.slotS).sum
    val perOp = Seq("queries.construct_jobs", "plans.analysis_s", "plans.optimization_s",
      "plans.planning_s", "exec.jobs", "exec.stages", "exec.tasks",
      "exec.task_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.single_task_stage_s",
      "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.shuffle_records",
      "exec.spill_mb", "exec.persist_mb", "driver.gap_s", "sources.scan_s",
      "sources.scan_mb", "sources.files_read", "sources.files_pruned") ++
      Tracer.OperatorModules.map(m => s"operators.$m.stage_s") ++
      Seq("pipelines.Pipelines.stage_s", "streaming.triggers", "streaming.input_rows",
        "streaming.trigger_s") ++ Tracer.StreamPhases.map(p => s"streaming.${p}_s") ++
      Seq("streaming.lifecycle_s", "streaming.state_rows", "streaming.state_mb",
        "streaming.state_commit_s", "fs.bytes_written_mb", "fs.bytes_read_mb",
        "jvm.gc_s")
    // staged input: the raw JSON a sync ingests, else the bytes scanned
    val staged = traced.map(_.stagedBytes).sum / Tracer.MB match {
      case s if s > 0 => s
      case _ => get("sources.scan_mb")
    }
    Seq("queries.construct_s" -> traced.map(_.constructS).sum / n) ++
      perOp.map(k => k -> get(k) / n) ++
      Seq(
        "exec.busy_frac" -> (if (wall > 0) get("exec.task_s") / (wall * cores) else 0.0),
        "exec.skew" -> tr.skew,
        "driver.gap_frac" -> (if (get("driver.op_wall_s") > 0)
          get("driver.gap_s") / get("driver.op_wall_s") else 0.0),
        "pipelines.request_s" -> traced.map(_.requestS).sum / n,
        "fs.write_amp" -> (if (staged > 0) get("fs.bytes_written_mb") / staged else 0.0),
        "jvm.heap_peak_mb" -> get("jvm.heap_peak_mb"))
  }
}

/** Tiny JSON writer for flat numeric objects. */
object JsonOut {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${JsonUtil.jstr(k)}:${num(v)}" }.mkString("{", ",", "}")
}
