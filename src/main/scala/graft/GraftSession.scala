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
  *     coalescing, which stays enabled).
  */
object GraftSession {
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
