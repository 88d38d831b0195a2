package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query doesn't absorb JIT +
    // session-init cost (otherwise whichever query runs first reads ~4 s
    // slower than steady state); count() over every benchmark table also
    // pulls the parquet into the page cache, so the first query touching a
    // table isn't charged for cold disk reads the rest never pay
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    // A crashed query must FAIL the bench visibly, not masquerade as a fast
    // row: failures record -1 (never a valid duration) plus the error text,
    // and are excluded from the total.
    //
    // Median-of-N (default 3): the host reclaims page cache aggressively,
    // so single-run sf0.1 totals swing ~3× with DIFFERENT queries inflating
    // each run (measurements in PERF.md). Per-query medians across whole-
    // suite passes (pass-major order, so a query's samples are minutes
    // apart and don't share one cache eviction) land inside the steady-state
    // envelope reproducibly; a single pass cannot.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(passes >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $passes")
    val defaultOut = "/root/repo/BENCH_FULL.json"
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    // Throwaway warm pass for the cache-mode-sensitive family (r6 VERDICT
    // item 4): the streaming micro-batch queries (st*) and the
    // checkpoint-heavy near-dup/cluster queries read 1.5-2.5x slower on
    // their FIRST run after something else (a test suite, Verify) has
    // churned the page cache — which made the official artifact depend on
    // what ran before it (driver r6: +20% vs the same HEAD run clean).
    // One untimed pass re-primes their file/checkpoint I/O paths before
    // any measured pass; median-of-N then sees only steady-state samples.
    val warmFirst = named.filter { case (name, _) =>
      name.startsWith("st") || Set("x4_simhash_neardup",
        "x13_neardup_clusters", "x13b_neardup_clusters_star",
        "x17_training_selection").contains(name)
    }
    for ((_, fn) <- warmFirst) {
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map[String, String]()
    for (_ <- 1 to passes; (name, fn) <- named) {
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(200))
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      err match {
        case Some(e) => errors(name) = e
        case None    => samples(name) = elapsed :: samples(name)
      }
      // between queries (outside the timed window): drop the finished
      // query's localCheckpoint/persist blocks. The async ContextCleaner
      // only reclaims them after a GC notices the dropped references, so
      // across 60+ queries orphaned blocks otherwise accumulate and the
      // late heavy queries pay for the whole suite's memory pressure.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // a query that failed in ANY pass reports -1: a flaky crash must not
    // hide behind the passes that succeeded
    val results = named.map { case (name, _) =>
      if (errors.contains(name)) (name, -1.0, Some(errors(name)))
      else (name, median(samples(name)), None)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect {
      case (k, _, Some(e)) => "\"" + k + "\":" + JsonUtil.jstr(e)
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val nFailed = results.count(_._3.nonEmpty)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    // Host-noise self-calibration (r9 verdict #8): the driver host's
    // speed drifts round over round (±40% observed), so raw totals
    // mislead. noise_factor = median per-query ratio of THIS run against
    // the previous artifact at outPath, over queries both runs completed
    // in ≥ 0.5 s (sub-second rows are overhead-dominated and would
    // dominate a ratio median). ~1.0 ⇒ same-speed host; readers divide
    // the total by it before calling a regression. null when there is no
    // prior artifact or no comparable query.
    val noiseFactor: Option[Double] = try {
      val prev = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outPath)), java.nio.charset.StandardCharsets.UTF_8)
      val start = prev.indexOf("\"queries\":{")
      if (start < 0) None else {
        val body = prev.substring(start + 11, prev.indexOf('}', start))
        val prevQ = """"([^"]+)":(-?[0-9][0-9.eE+-]*)""".r
          .findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val ratios = results.collect {
          case (name, v, None) if v >= 0.5 &&
            prevQ.get(name).exists(_ >= 0.5) => v / prevQ(name)
        }.sorted
        if (ratios.isEmpty) None
        else Some(math.round(median(ratios.toList) * 1000.0) / 1000.0)
      }
    } catch { case _: Throwable => None }
    val nf = noiseFactor.map(_.toString).getOrElse("null")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$nFailed,"noise_factor":$nf,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // Also persist the full artifact: the driver captures a TAIL of stdout,
    // and with 90+ queries the single JSON line can lose its head there
    // (BENCH_r05 lost the first ~40 queries' timings, blinding round-over-
    // round comparison). The file always carries every query.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
