package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded query: a Spark plan + (optionally) the equivalent ANSI SQL the
  * driver runs in DuckDB over the same parquet tables. Naming convention:
  * `<opId>_<slug>` where opId is the SURVEY.md §2 operator id (s1…, t1…,
  * c1…, d1, e1, j1…, a1…, m1…) or x1… for the LLM-pipeline extensions.
  *
  * Determinism rules (both sides): every query ends in a total ORDER BY;
  * every derived double is `round`-ed; every derived integer is cast to
  * BIGINT; floating thresholds sit in empirically-verified gaps of the data
  * distribution so float32-vs-float64 noise cannot flip a row.
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QuerySpec {
  /** Read one of the driver's test tables. `events.ts` varies by generator
    * vintage — TIMESTAMP(NANOS) (long under nanosAsLong, truncated to µs)
    * or TIMESTAMP(MICROS, NTZ) (reinterpreted as a UTC instant) —
    * normalized to TimestampType at this source boundary so every query
    * sees the same values DuckDB/pandas readers see.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") graft.streaming.Streams.normalizeTs(df)
    else df
  }

  /** [[t]] plus a scale-adaptive scan fan-out (r18, guide §2.5 "input
    * skew: one huge unsplittable file — repartition immediately after
    * the read"): the fixture tables are single-file, SINGLE-ROW-GROUP
    * parquet, so every scan stage plans ONE task and per-row-heavy map
    * work fused to it (tokenization, hashing, chunking, shingling,
    * bootstrap weight derivation) ran on one core of the session —
    * measured 4-6× on the CDC pair and 2-3× on the bootstrap CI
    * (tools/ProfileScanPar). Round-robins to the session's default
    * parallelism ONLY when the scan plans fewer partitions: at cluster
    * scale inputs span many files/row groups, the guard sees ≥ cores
    * partitions and this is a NO-OP — nothing tuned to local mode.
    * Filters and column pruning push through the round-robin exchange
    * (plan-verified: PushedFilters/ReadSchema reach the scan unchanged,
    * tools/ProfilePushdown).
    *
    * Used ONLY by queries whose pre-first-shuffle math is EXACT
    * (integer/string/md5 arithmetic — BIGINT sums, integer-ratio
    * roundings, hash boundaries): for those, row-to-partition
    * assignment provably cannot move the result. A blanket fan-out in
    * [[t]] was tried and REVERTED: queries whose lineage crosses a
    * cross-row FLOAT fold (k-means centroid means feeding the ANN
    * family, double LTV sums) flipped marginal roundings at sf0.001
    * (x51/x145 0.3479→0.3478, x99 2/786 rows) because their float
    * accumulation order follows scan partitioning — those stay on the
    * order-stable single-split read.
    */
  def tw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = t(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    // planning-free partition count (r19, verdict #6): the previous
    // `raw.rdd.getNumPartitions` compiled the physical plan once per
    // query construction just to count scan tasks; the estimate reads
    // the relation's cached file listing through Spark's own split
    // arithmetic instead. Falls back to planning only for non-file
    // relations (never the case for [[t]]'s parquet reads).
    val planned = org.apache.spark.sql.graftshim.ScanShim
      .estimatedScanPartitions(raw)
      .getOrElse(raw.rdd.getNumPartitions)
    if (planned >= target) raw
    else raw.repartition(target)
  }

  /** Per-sf scratch dir for sink-roundtrip queries (M3–M6). */
  def sinkDir(sfDir: String, name: String): String = {
    val sf = new java.io.File(sfDir).getName
    val d = s"/tmp/graft_sink/$sf/$name"
    new java.io.File(d).getParentFile.mkdirs()
    d
  }
}
