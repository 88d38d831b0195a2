package graft

import java.nio.file.{Files, Paths}

import graft.operators.{LogTable, TableLog}
import graft.pipelines.Main

/** End-to-end CLI test: fixture JSON in, warehouse LogTables out, through the
  * same entry points a user of the reference would call (main.py:22-207).
  * Includes the BUG_FIX_SUMMARY.md:68-71 integration sequence: full
  * backfill → 60-day refresh → historical rows survive.
  */
class CliPipelineSpec extends SparkSpec {

  private def writeFixture(dir: String, name: String, lines: Seq[String]): Unit = {
    val d = Paths.get(dir, name)
    Files.createDirectories(d)
    Files.writeString(d.resolve("part-0.json"), lines.mkString("\n"))
  }

  private val dims = Seq("lists", "tasks", "accounts", "apps")

  /** Raw JSON for the four dimension syncs. */
  private def writeDims(in: String): Unit = {
    writeFixture(in, "spaces", Seq("""{"id":"s1","name":"S","archived":false}"""))
    writeFixture(in, "folders", Seq("""{"id":"f1","name":"F","space_id":"s1","archived":false}"""))
    writeFixture(in, "lists", Seq(
      """{"id":"l1","name":"L","space_id":"s1","folder_id":"f1","archived":false}""",
      """{"id":"l2","name":"Root","space_id":"s1","folder_id":"","archived":false}"""))
    writeFixture(in, "tasks", Seq(
      """{"id":"t1","name":"T","time_estimate":"3600000","status":{"status":"open","type":"open"},"space_id":"s1","space_name":"S","folder_id":"","folder_name":"","list_id":"l1","list_name":"L"}"""))
    writeFixture(in, "accounts", Seq(
      """{"id":"a1","name":"Acme","status":{"status":"active","type":"open"},"custom_fields":[{"id":"00aeeab8-926e-4c46-8299-99f973287b6e","value":"l1, l2"}]}"""))
    writeFixture(in, "apps", Seq(
      """{"id":"app1","name":"Portal","custom_item_id":1005,"status":{"status":"live","type":"open"},"custom_fields":[]}""",
      """{"id":"x","name":"NotApp","custom_item_id":1}"""))
  }

  private def entry(id: String, startMs: Long, atMs: Long, durMs: Long) =
    s"""{"id":"$id","start":"$startMs","end":"${startMs + durMs}","duration":"$durMs",
       |"at":"$atMs","billable":true,"description":"work","source":"clickup",
       |"task":{"id":"t1","name":"Task","status":{"status":"open","color":"#fff","type":"open","orderindex":"0"}},
       |"user":{"id":"u1","username":"jane","email":"jane@example.com","color":"#f00","initials":"J","profilePicture":""},
       |"task_location":{"list_id":"l1","folder_id":"f1","space_id":"s1"}}
       |""".stripMargin.replaceAll("\n", "")

  private val jan1 = 1704103200000L // 2024-01-01 10:00:00Z
  private val feb25 = 1708855200000L // 2024-02-25 10:00:00Z
  private val feb27 = 1709028000000L // 2024-02-27 10:00:00Z

  /** Backfill `hist` (Jan 1) and `r1` (Feb 25) into a fresh warehouse.
    * Returns (raw input dir, warehouse dir). */
  private def backfill(): (String, String) = {
    val in = Files.createTempDirectory("graft_cli_in").toString
    val wh = Files.createTempDirectory("graft_cli_wh").toString
    writeFixture(in, "time_entries", Seq(
      entry("hist", jan1, jan1, 3600000L),
      entry("r1", feb25, feb25, 3600000L)))
    Main.run(spark, "full_reindex", Map("in" -> in, "warehouse" -> wh))
    assert(fact(wh).count() == 2)
    (in, wh)
  }

  /** Refresh with a 7-day window at 2024-03-01: r1 updated (duration
    * doubled, later `at`), r2 new, `hist` absent from staging but
    * outside the window. */
  private def refresh(wh: String): Unit = {
    val in2 = Files.createTempDirectory("graft_cli_in2").toString
    writeFixture(in2, "time_entries", Seq(
      entry("r1", feb25, feb25 + 1000, 7200000L),
      entry("r2", feb27, feb27, 1800000L)))
    Main.run(spark, "refresh", Map("in" -> in2, "warehouse" -> wh,
      "days" -> "7", "today" -> "2024-03-01"))
  }

  private def fact(wh: String, asOf: Option[Long] = None) =
    LogTable.read(spark, s"$wh/fact_time_entries", asOf)

  private def hoursById(wh: String): Map[String, Double] =
    fact(wh).collect().map(r =>
      r.getAs[String]("id") -> r.getAs[Double]("duration_hours")).toMap

  test("full_reindex then refresh preserves history (BUG_FIX integration)") {
    val (_, wh) = backfill()
    refresh(wh)
    assert(hoursById(wh) == Map("hist" -> 1.0, "r1" -> 2.0, "r2" -> 0.5))
    // CSV backup written (M5)
    assert(Files.walk(Paths.get(wh, "csv_backups", "time_entries"))
      .anyMatch(p => p.toString.endsWith(".csv")))
  }

  test("a refresh failing at its commit point keeps the last commit") {
    val (_, wh) = backfill()
    TableLog.dmlCommitHook = a => if (a == "merge") sys.error("crash at commit")
    try intercept[RuntimeException](refresh(wh))
    finally TableLog.dmlCommitHook = _ => ()
    assert(hoursById(wh) == Map("hist" -> 1.0, "r1" -> 1.0))
    refresh(wh) // the retry commits
    assert(hoursById(wh) == Map("hist" -> 1.0, "r1" -> 2.0, "r2" -> 0.5))
  }

  test("a plain-parquet fact from before LogTable is adopted with history") {
    val (_, wh) = backfill()
    val legacy = Files.createTempDirectory("graft_cli_legacy").toString
    fact(wh).write.parquet(s"$legacy/fact_time_entries")
    refresh(legacy)
    assert(hoursById(legacy) == Map("hist" -> 1.0, "r1" -> 2.0, "r2" -> 0.5))
    // the adopted files are version 1 and still time-travel
    assert(fact(legacy, Some(1L)).collect().map(_.getAs[String]("id"))
      .sorted.toSeq == Seq("hist", "r1"))
  }

  test("timestamped CSV backups retain history across runs (C13 retention)") {
    val in = Files.createTempDirectory("graft_bk_in").toString
    val wh = Files.createTempDirectory("graft_bk_wh").toString
    val jan1 = 1704103200000L
    writeFixture(in, "time_entries", Seq(entry("e1", jan1, jan1, 3600000L)))
    // two runs with distinct stamps — the reference keeps a file per run
    // (fetch_clickup_data.py:1780); both backups must survive
    for (s <- Seq("20240101_100000", "20240101_160000"))
      Main.run(spark, "full_reindex",
        Map("in" -> in, "warehouse" -> wh, "stamp" -> s))
    val base = Paths.get(wh, "csv_backups", "time_entries")
    val stamps = Files.list(base).filter(Files.isDirectory(_))
      .map[String](_.getFileName.toString).sorted().toArray.toSeq
    assert(stamps == Seq("20240101_100000", "20240101_160000"))
    for (s <- stamps.map(_.toString))
      assert(Files.list(base.resolve(s)).anyMatch(_.toString.endsWith(".csv")))
  }

  test("dimension pipelines write all four dims; health reports them") {
    val in = Files.createTempDirectory("graft_dim_in").toString
    val wh = Files.createTempDirectory("graft_dim_wh").toString
    writeDims(in)
    for (c <- dims)
      Main.run(spark, c, Map("in" -> in, "warehouse" -> wh))

    def n(t: String) = LogTable.read(spark, s"$wh/$t").count()
    assert(n("dim_lists") == 2)
    assert(n("dim_tasks") == 1)
    assert(n("dim_accounts") == 2) // exploded
    assert(n("dim_apps") == 1)     // filtered
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Main.run(spark, "health", Map("warehouse" -> wh)))
    assert(out.toString.trim == "healthy fact_time_entries=absent " +
      "dim_lists=2 dim_tasks=1 dim_accounts=2 dim_apps=1")
  }

  test("a warm sync cycle reuses the previous cycle's generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit,
      round, sum, when}
    val in = Files.createTempDirectory("graft_warm_in").toString
    val wh = Files.createTempDirectory("graft_warm_wh").toString
    writeDims(in)
    val day = 86400000L
    writeFixture(in, "time_entries", (0 until 12).map(i =>
      entry(s"e$i", feb25 - 6 * day + i * day, feb25, 3600000L)))
    Main.run(spark, "full_reindex", Map("in" -> in, "warehouse" -> wh))
    def table(t: String) = LogTable.read(spark, s"$wh/$t")
    // the sync service's request mix: a refresh, the four dimension
    // syncs, and the benchmark's three downstream reads
    def cycle(today: String): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Main.run(spark, "refresh", Map("in" -> in, "warehouse" -> wh,
        "days" -> "7", "today" -> today))
      for (c <- dims) Main.run(spark, c, Map("in" -> in, "warehouse" -> wh))
      Seq(
        table("fact_time_entries")
          .groupBy(col("task_location_list_id").as("list_id"))
          .agg(sum("duration_ms").as("ms"), count(lit(1)).as("n"))
          .join(table("dim_lists"), "list_id"),
        table("dim_tasks")
          .select(col("task_id"),
            round(col("time_estimate_hrs") * 100).cast("bigint").as("est"))
          .join(table("fact_time_entries").groupBy("task_id")
            .agg(sum("duration_ms").as("ms")), "task_id"),
        table("fact_time_entries").groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("billable"), 1).otherwise(0)).as("nb"),
            countDistinct("task_id").as("nt"))
      ).foreach(_.write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val cold = cycle("2024-03-01")
    val warm = cycle("2024-03-02")
    // only the refresh plans that carry the moved window literal
    // compile again: four codegen stages (the pinned update keys, the
    // merge probe, and the survivor and update halves of the staged
    // write), each compiled once for the driver's class loader and once
    // for the executor's
    assert(warm <= 8L, s"warm cycle compiled $warm classes (cold $cold)")
  }
}
