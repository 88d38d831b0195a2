package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{JsonUtil, SparkEntry}
import graft.operators.{LogTable, TableLog}
import graft.pipelines.HttpApi

import Harness.{NoCheck, Op, Probe, Sample}

/** A workload: its ops, its untimed warm-up and output check, and the
  * workload-specific parts of its metrics. */
abstract class Workloads(val spark: SparkSession, val work: Path, val seed: Long) {
  /** Untimed set-up after the session is up; returns the check record
    * (JSON) the runner finishes. */
  def prepare(): String
  /** The ops of cycle `i`. */
  def cycle(i: Int): Seq[Op]
  /** Per-query construct / plan / execute split, noop against count(). */
  def breakdown(tr: Tracer, traced: Seq[Sample]): String = "{}"

  def betweenOps(): Unit =
    // drop the finished op's checkpoint / persist blocks outside its
    // timing, as the engine's own bench does
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  def close(): Unit = ()
}

object Workloads {
  /** The declared queries one cycle of `query_mix` runs. An op of graft
    * costs 0.4-2 s on 4 cores at any input size (fixed planning, job and
    * checkpoint cost) and twice that the first time in a JVM, and every
    * run must fit a fixed time budget with at least three cycles, so the
    * mix keeps one or two ops per layer: reference reads (the hierarchy
    * walk, a join the engine's optimizer rule rewrites, a conditional
    * aggregate), the hourly aggregate as a streaming drain (available-now,
    * run inside construction), the compute-heavy extension operators
    * (MinHash LSH near-dup with its eager checkpoints, and the
    * expression-only embedding quantizer), and the load layer's
    * Scala-API refresh MERGE. */
  val QueryMixOps: Seq[(String, String)] = Seq("s2_hierarchy_walk",
    "j9_rule_rewritten_join", "a3_conditional_agg", "st1_stream_hourly_agg",
    "x2_minhash_lsh_neardup", "x14_embed_norm_quant")
    .map(_ -> "read") :+ ("m1_merge_refresh" -> "write")

  def apply(name: String, spark: SparkSession, data: String, work: Path, seed: Long,
            smoke: Boolean, injectWrong: String): Workloads = name match {
    case "query_mix" => new QueryMix(spark, data, work, seed, QueryMixOps)
    case "clickup_sync" => new ClickUpSync(spark, work, seed, smoke, injectWrong)
    case other => sys.error(s"unknown workload $other")
  }

  /** Order-independent checksum of a frame, as [[Checksum.of]] computes
    * it for the model's rows. */
  def checksum(df: DataFrame, cols: Seq[String]): Checksum = {
    val line = concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
    val r = df.select(count(lit(1)), coalesce(sum(crc32(line.cast("binary"))), lit(0L)))
      .head()
    Checksum(r.getLong(0), r.getLong(1))
  }
}

/** A mix of declared queries, each materialized in full through the noop
  * sink. The warm-up pass writes every result as parquet for the oracle
  * compare the runner does in DuckDB. */
class QueryMix(spark: SparkSession, data: String, work: Path, seed: Long,
               ops: Seq[(String, String)]) extends Workloads(spark, work, seed) {
  private val fns = SparkEntry.queries

  override def prepare(): String = {
    val dir = work.resolve("check")
    Files.createDirectories(dir)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val warmS = mutable.LinkedHashMap.empty[String, Double]
    for ((name, _) <- ops) {
      val t0 = System.nanoTime()
      try fns(name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(name).toString)
      catch {
        case e: Throwable => errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      warmS(name) = (System.nanoTime() - t0) / 1e9
      betweenOps()
    }
    val oracles = SparkEntry.oracleSql.filter(kv => ops.exists(_._1 == kv._1))
    Files.writeString(dir.resolve("oracle_sql.json"), oracles
      .map { case (k, v) => s"${JsonUtil.jstr(k)}:${JsonUtil.jstr(v)}" }.mkString("{", ",", "}"))
    s"""{"dir":${JsonUtil.jstr(dir.toString)},"names":${ops.map(o => JsonUtil.jstr(o._1)).mkString("[", ",", "]")},""" +
      s""""warmup_s":${JsonOut.obj(warmS.toSeq)},""" +
      s""""errors":{${errors.map { case (k, v) => s"${JsonUtil.jstr(k)}:${JsonUtil.jstr(v)}" }.mkString(",")}}}"""
  }

  private def op(name: String, kind: String): Op = Op(name, kind, p => {
    val df = p.construct(fns(name)(spark, data))
    p.materialize(df.write.format("noop").mode("overwrite").save())
    NoCheck
  })

  override def cycle(i: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + i).shuffle(ops).map { case (n, k) => op(n, k) }

  override def breakdown(tr: Tracer, traced: Seq[Sample]): String = {
    val byName = traced.filter(_.error.isEmpty).groupBy(_.name)
    ops.map(_._1).filter(byName.contains).map { name =>
      val noop = byName(name).head
      betweenOps()
      val c0 = System.nanoTime()
      val df = fns(name)(spark, data)
      val construct = (System.nanoTime() - c0) / 1e9
      tr.attach()
      val a0 = System.nanoTime()
      df.count()
      val countS = (System.nanoTime() - a0) / 1e9
      tr.detach()
      val plan = tr.lastPlanMs / 1e3
      val noopPlan = noop.planS
      s"""${JsonUtil.jstr(name)}:{"noop":{"construct_s":${noop.constructS},"plan_s":$noopPlan,""" +
        s""""execute_s":${noop.seconds - noop.constructS - noopPlan}},""" +
        s""""count":{"construct_s":$construct,"plan_s":$plan,"execute_s":${countS - plan}}}"""
    }.mkString("{", ",", "}")
  }
}

/** The ClickUp sync service driven over HTTP (HttpApi on an ephemeral
  * port, one shared session): a full reindex, then refreshes with the
  * clock advancing a day at a time and the four dimension syncs, with the
  * downstream reads after each refresh. Every sync and read is checked
  * against the [[ClickUp]] model.
  *
  * The traffic follows the reference's recorded volumes (BASELINE.md):
  * 200-300 entries per 60-day refresh (233 in the measured production
  * run) and 1,000-2,000 for a full reindex (a 1,899-entry backfill). So
  * the generator makes about 4 entries a day over 475 days of history:
  * about 1,900 entries in the reindex and about 240 in each refresh
  * window. */
class ClickUpSync(spark: SparkSession, work: Path, seed: Long, smoke: Boolean,
                  injectWrong: String) extends Workloads(spark, work, seed) {
  private val days = 60
  private val src = new ClickUp(seed, if (smoke) 2 else 4, if (smoke) 150 else 475)
  private val rawDims = work.resolve("raw/dims")
  private var server: com.sun.net.httpserver.HttpServer = _
  private var port = 0
  private var wh: Path = _
  private var step = 0
  private var clock: LocalDate = _

  override def prepare(): String = {
    src.writeDims(rawDims)
    server = HttpApi.start(spark, 0)
    port = server.getAddress.getPort
    // the warm-up loads the warehouse the measured cycles keep refreshing:
    // a full reindex, the dimension syncs and the reads, then one refresh
    // and the reads again
    val warm = fullLoad() ++ (refresh() +: reads())
    val errs = warm.flatMap(o => Harness.once(o).map(o.name -> _))
    betweenOps()
    s"""{"warmup_ops":${warm.size},"errors":{${errs.map { case (k, v) =>
      s"${JsonUtil.jstr(k)}:${JsonUtil.jstr(v)}" }.mkString(",")}}}"""
  }

  override def close(): Unit = if (server != null) server.stop(0)

  /** A refresh with the clock one day on and the reads after it, then the
    * dimension syncs (the next cycle's reads follow them too). */
  override def cycle(i: Int): Seq[Op] = refresh() +: (reads() ++ dims())

  private def fullLoad(): Seq[Op] = {
    wh = work.resolve("warehouse")
    syncOp("full_reindex", () => {
      clock = src.today0
      src.advance(clock, days)
      val fetched = src.fetch(LocalDate.parse("2000-01-01"), clock)
      (fetched, Map.empty, () => src.modelFullReindex(fetched))
    }) +: (dims() ++ reads())
  }

  private def refresh(): Op = syncOp("refresh", () => {
    clock = clock.plusDays(1)
    src.advance(clock, days)
    val (lo, today) = (clock.minusDays(days.toLong), clock)
    val fetched = src.fetch(lo, today)
    (fetched, Map("days" -> days.toString, "today" -> today.toString),
      () => src.modelRefresh(fetched, lo, today))
  })

  /** One fact sync. Staging advances the source with `fetch`, which
    * returns what the API serves, the request's parameters and the model
    * update, and writes the fetch as raw JSON; the op POSTs it; the check
    * applies the model and compares the fact table with it. */
  private def syncOp(cmd: String,
                     fetch: () => (Seq[src.Entry], Map[String, String], () => Unit)): Op = {
    var in: Path = null
    var params = Map.empty[String, String]
    var model: () => Unit = null
    Op(cmd, "write", stage = p => {
      val (fetched, ps, m) = fetch()
      step += 1
      in = work.resolve(f"raw/step-$step%05d")
      p.stagedBytes = src.writeEntries(in, fetched)
      p.entries = fetched.size.toLong
      params = ps + ("in" -> in.toString) + ("stamp" -> f"s$step%05d")
      model = m
    }, run = p => {
      post(p, cmd, params)
      () => {
        model()
        deleteTree(in)
        val got = Workloads.checksum(table("fact_time_entries"), Seq("id", "duration_ms",
          "start_date_oslo", "task_id", "user_id", "task_location_list_id"))
        if (got == src.factChecksum) None
        else Some(s"fact_time_entries: $got, model ${src.factChecksum}")
      }
    })
  }

  private def dims(): Seq[Op] = Seq("lists", "tasks", "accounts", "apps").map { d =>
    Op(d, "write",
      stage = p => p.stagedBytes = Files.size(rawDims.resolve(d).resolve("part-0.json")),
      run = p => { post(p, d, Map("in" -> rawDims.toString)); NoCheck })
  }

  /** POSTs one sync request; throws on a failed one. */
  private def post(p: Probe, cmd: String, params: Map[String, String]): Unit = {
    val q = (params + ("warehouse" -> wh.toString)).map { case (k, v) =>
      s"$k=${URLEncoder.encode(v, StandardCharsets.UTF_8)}" }.mkString("&")
    val t0 = System.nanoTime()
    val c = URI.create(s"http://localhost:$port/sync/$cmd?$q").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    val code = c.getResponseCode
    val body = new String((if (code == 200) c.getInputStream else c.getErrorStream)
      .readAllBytes(), StandardCharsets.UTF_8)
    c.disconnect()
    p.requestS += (System.nanoTime() - t0) / 1e9
    if (code != 200 || !body.contains("\"success\""))
      throw new IllegalStateException(s"HTTP $code: ${body.take(300)}")
  }

  /** A warehouse table: LogTable.read for a LogTable directory, a parquet
    * read otherwise. */
  private def table(name: String): DataFrame = {
    val p = wh.resolve(name).toString
    if (TableLog.currentVersion(spark, p) > 0L) LogTable.read(spark, p)
    else spark.read.parquet(p)
  }

  private def read(name: String, build: () => DataFrame, cols: Seq[String],
                   model: () => Checksum): Op = Op(name, "read", p => {
    val df = p.construct(build())
    p.materialize(df.write.format("noop").mode("overwrite").save())
    () => {
      val got = Workloads.checksum(df, cols)
      val want = if (name == injectWrong) model().copy(rows = -1) else model()
      if (got == want) None else Some(s"$name: $got, model $want")
    }
  })

  private def reads(): Seq[Op] = Seq(
    read("hours_per_list", () => table("fact_time_entries")
      .groupBy(col("task_location_list_id").as("list_id"))
      .agg(sum("duration_ms").as("ms"), count(lit(1)).as("n"))
      .join(table("dim_lists"), "list_id")
      .select("list_id", "list_name", "space_name", "ms", "n"),
      Seq("list_id", "list_name", "space_name", "ms", "n"), () => src.hoursPerList),
    read("estimate_vs_actual", () => table("dim_tasks")
      .select(col("task_id"), round(col("time_estimate_hrs") * 100).cast("bigint").as("est"))
      .join(table("fact_time_entries").groupBy("task_id")
        .agg(sum("duration_ms").as("ms")), "task_id"),
      Seq("task_id", "est", "ms"), () => src.estimateVsActual),
    read("user_counts", () => table("fact_time_entries").groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(when(col("billable"), 1).otherwise(0)).as("nb"),
        countDistinct("task_id").as("nt")),
      Seq("user_id", "n", "nb", "nt"), () => src.userCounts))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
