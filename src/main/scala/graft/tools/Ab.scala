package graft.tools

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum, xxhash64}
import org.apache.spark.sql.graftshim.ListenerShim

import graft.{GraftSession, SparkEntry}

/** Same-JVM interleaved A/B of SQL-conf variants over registered queries:
  *
  * {{{ Ab <name-prefixes> [label:conf=value[,conf=value]]... }}}
  *
  * `name-prefixes` is a comma-separated list matched against
  * [[SparkEntry.queries]]; the fixture dir is `SPARK_GRAFT_SF_DIR` and the
  * session width `SPARK_GRAFT_CPUS`, as for the other mains. Variant
  * `base` sets no confs; every other variant sets its confs around query
  * construction and materialization, then restores them.
  *
  * A warm pass hashes each result order-independently (the sum of
  * `xxhash64` over all columns). A variant whose hash differs from
  * `base` is reported as `MISMATCH` and is not timed. Then [[Passes]]
  * timed passes run, the variant order alternating pass to pass so host
  * drift cancels. A run is construction (eager checkpoints included)
  * plus a `noop`-sink save; persisted RDDs are dropped between runs. For
  * each run one listener records the job count, the summed job time and
  * the driver gap: wall time no job covers (planning, LogTable manifest
  * and commit I/O, streaming trigger bookkeeping), and the generated
  * classes compiled during the run (Spark's `CodegenMetrics` count): a
  * warm pass that still compiles is missing the codegen cache.
  */
object Ab {
  type Query = (SparkSession, String) => DataFrame

  final case class Variant(label: String, confs: Seq[(String, String)])
  final case class Run(wallS: Double, jobs: Int, jobS: Double, gapS: Double,
      compiles: Long)
  /** One (query, variant) cell; `status` is "ok", "MISMATCH" or the
    * warm-pass failure, and only "ok" cells carry runs. */
  final case class Cell(query: String, variant: String, hash: Option[Long],
      status: String, runs: Vector[Run])

  val Passes = 3
  val Base = Variant("base", Nil)

  def parseVariant(arg: String): Variant = {
    def split(s: String, sep: Char) = s.indexOf(sep) match {
      case i if i > 0 => (s.take(i), s.drop(i + 1))
      case _ => throw new IllegalArgumentException(
        s"variant must be label:conf=value[,conf=value], got '$arg'")
    }
    val (label, confs) = split(arg, ':')
    Variant(label, confs.split(',').toSeq.map(split(_, '=')))
  }

  private def hashOf(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(coalesce(sum(col("h")), lit(0L))).head().getLong(0)

  /** Job spans (start, end) in epoch ms, as the scheduler stamped them. */
  private final class JobSpans extends SparkListener {
    private val starts = TrieMap.empty[Int, Long]
    private val spans = TrieMap.empty[Int, (Long, Long)]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      starts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      starts.remove(e.jobId).foreach(s => spans.put(e.jobId, (s, e.time)))
    def take(): Seq[(Long, Long)] = {
      val out = spans.values.toSeq
      spans.clear()
      out
    }
  }

  private def measure(spark: SparkSession, jobs: JobSpans)(body: => Unit): Run = {
    val sc = spark.sparkContext
    ListenerShim.waitUntilEmpty(sc)
    jobs.take()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    body
    val wallS = (System.nanoTime() - t0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    ListenerShim.waitUntilEmpty(sc)
    val spans = jobs.take()
    // union of the (possibly concurrent) job spans
    val (coveredMs, _) = spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, end), (s, e)) =>
        (acc + math.max(0L, e - math.max(s, end)), math.max(end, e))
    }
    Run(wallS, spans.size, spans.map { case (s, e) => e - s }.sum / 1e3,
      math.max(0.0, wallS - coveredMs / 1e3), compiles)
  }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Warm pass, then [[Passes]] interleaved timed passes; one cell per
    * (query, variant), `base` first. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      variants: Seq[Variant]): Seq[Cell] = {
    require(variants.forall(_.label != Base.label),
      s"variant label '${Base.label}' is reserved for the unchanged session")
    val all = Base +: variants
    val hashes = (for ((name, q) <- queries; v <- all) yield {
      val h = try Right(GraftSession.withConfs(spark, v.confs)(
          hashOf(q(spark, sfDir))))
        catch { case e: Exception =>
          Left(s"FAILED ${e.getClass.getSimpleName}: ${e.getMessage}".take(200)) }
      unpersistAll(spark)
      (name, v.label) -> h
    }).toMap
    def status(name: String, label: String): String =
      (hashes((name, label)), hashes((name, Base.label))) match {
        case (Left(err), _) => err
        case (_, Left(_)) => "FAILED base"
        case (Right(a), Right(b)) => if (a == b) "ok" else "MISMATCH"
      }
    val runs = mutable.Map.empty[(String, String), Vector[Run]]
      .withDefaultValue(Vector.empty)
    val jobs = new JobSpans
    spark.sparkContext.addSparkListener(jobs)
    try for (pass <- 1 to Passes; (name, q) <- queries;
             v <- if (pass % 2 == 1) all else all.reverse
             if status(name, v.label) == "ok") {
      runs((name, v.label)) :+= measure(spark, jobs) {
        GraftSession.withConfs(spark, v.confs)(
          q(spark, sfDir).write.format("noop").mode("overwrite").save())
      }
      unpersistAll(spark)
    } finally spark.sparkContext.removeSparkListener(jobs)
    for ((name, _) <- queries; v <- all) yield Cell(name, v.label,
      hashes((name, v.label)).toOption, status(name, v.label),
      runs((name, v.label)))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One line per cell: medians of wall, jobs, job time, gap and
    * compiled classes, and the median per-pass wall ratio against
    * `base`. */
  def report(cells: Seq[Cell]): Seq[String] = {
    val base = cells.filter(_.variant == Base.label).map(c => c.query -> c).toMap
    cells.map { c =>
      val head = f"AB ${c.query}%-32s ${c.variant}%-10s " +
        s"hash=${c.hash.map(_.toString).getOrElse("-")}"
      if (c.runs.isEmpty) s"$head ${c.status}"
      else {
        val ratio = median(c.runs.zip(base(c.query).runs)
          .map { case (v, b) => v.wallS / b.wallS })
        f"$head wall=${median(c.runs.map(_.wallS))}%.3fs " +
          f"jobs=${median(c.runs.map(_.jobs.toDouble))}%.0f " +
          f"jobTime=${median(c.runs.map(_.jobS))}%.3fs " +
          f"gap=${median(c.runs.map(_.gapS))}%.3fs " +
          f"compiles=${median(c.runs.map(_.compiles.toDouble))}%.0f " +
          f"ratio=$ratio%.3f"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Ab <name-prefixes> [label:conf=value[,conf=value]]...")
    val prefixes = args.head.split(',').map(_.trim).filter(_.nonEmpty)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    require(queries.nonEmpty, s"no registered query matches ${args.head}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a fixture directory"))
    val spark = GraftSession.local()
    try report(run(spark, sfDir, queries, args.tail.toSeq.map(parseVariant)))
      .foreach(println)
    finally spark.stop()
  }
}
