package graft

import org.apache.spark.sql.SparkSession

/** Engine session factory. Pins the semantics every operator relies on:
  *   - session time zone UTC (timestamps are instants; Oslo civil dates are
  *     derived explicitly via `from_utc_timestamp`, SURVEY.md §2.4 C2);
  *   - ANSI off: the reference's coercers are lenient (`safe_int("abc")` →
  *     None, fetch_clickup_data.py:793-801), so casts must yield null, not
  *     throw;
  *   - shuffle partitions sized to the local core count (the 100 TB deploy
  *     would size this to ~2-3× total executor cores and rely on AQE
  *     coalescing, which stays enabled);
  *   - a generated-code cache that holds a sync cycle's working set
  *     ([[CodegenCacheEntries]]);
  *   - `file:` bound to [[NoForkLocalFileSystem]] (`FileSystem`) and
  *     [[NoForkLocalFs]] (`FileContext`), which spawn no `chmod` or
  *     `readlink` per file. Hadoop caches `FileSystem` instances by
  *     scheme and user, not by conf: a `file:` instance created in this
  *     JVM before the session keeps Hadoop's class.
  */
object GraftSession {
  /** Entries in Spark's generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100; a static conf,
    * so [[tune]] sets it on the builder). A long-lived session such as
    * the sync service re-plans the same queries every request, and the
    * cache is an LRU keyed by generated source: when one cycle of work
    * compiles more distinct classes than the cache holds, every cycle
    * evicts the classes the next one needs and recompiles them (Janino,
    * about 25 ms a class).
    *
    * Sized from measurement: the `CodegenMetrics` compile count over a
    * full perfbench run (`--seconds 15`, 4 cores) with a cache large
    * enough that nothing is evicted. `clickup_sync` compiles 148
    * distinct classes (116 in set-up, then 8 a cycle: the four stages
    * whose plans carry the moved refresh-window literal, each compiled
    * for the driver's and the executor's class loader), `query_mix` 159
    * (111 in set-up, then 14-18 a cycle). 256 leaves 1.6x headroom over the
    * larger; a cycle's literal-bearing classes go stale after it and are
    * the LRU's first victims. At 100 a warm `clickup_sync` cycle
    * recompiled 73-97 classes; at 256 it compiles 8. Neither heap nor
    * metaspace grows measurably: `jvm.heap_peak_mb` 905 (100) and 775
    * (256) in one traced run each, metaspace 41-47 MB either way. */
  val CodegenCacheEntries = 256

  def tune(b: SparkSession.Builder, cpus: String): SparkSession.Builder = b
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    // AQE coalescing stays "parallelism first" (the default): measured at
    // sf0.1 (PERF.md r9), parallelismFirst=false — coalesce purely by the
    // 64 MB advisory size — serialized every compute-heavy mid-size
    // shuffle (triangle wedge join 13.6→33.2 s, k-core 13.8→20.5 s, the
    // md5-hashing near-dup family +30-70%) because a few-MB exchange of
    // expensive rows collapsed to one task on a 32-core box. Bytes are
    // the wrong proxy for work when per-row cost is high; at 100 TB real
    // shuffles exceed the advisory size and coalesce identically either
    // way, so the default costs nothing there.
    .config("spark.sql.adaptive.enabled", "true")
    // events.parquet stores TIMESTAMP(NANOS) which Spark cannot read
    // natively; read as long and convert at the source boundary
    // (QuerySpec.t truncates ns → µs, matching DuckDB/pandas readers).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    // `file:` without a child process per file (NoForkRawLocalFileSystem)
    .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[NoForkLocalFs].getName)
    .config("spark.ui.enabled", "false")

  /** Run `body` with each of `confs` set on the session, then restore
    * every touched key to its prior value (or unset it when it had
    * none), also when `body` throws: a shared session must not keep a
    * scoped setting. */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])
                  (body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
