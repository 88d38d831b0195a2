package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graftshim.ListenerShim

import graft.operators.{LogTable, TableLog}
import graft.pipelines.Main
import graft.streaming.Streams

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

  /** Command lines of the child processes this JVM starts while `body`
    * runs (JFR's `jdk.ProcessStart`). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val f = Files.createTempFile("graft_spawns", ".jfr")
      try {
        rec.dump(f)
        jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
          .map(_.getString("command"))
      } finally Files.delete(f)
    } finally rec.close()
  }

  private def tree(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala.toSeq

  /** No Spark job of a finished `Main.run` is still running, and no
    * staged write is left under `wh`. */
  private def assertSettled(wh: String): Unit = {
    ListenerShim.waitUntilEmpty(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    val stages = tree(wh).filter(_.getFileName.toString
      .startsWith(".stage_append_"))
    assert(stages.isEmpty, s"stage dirs left: $stages")
  }

  test("file: binds to the no-fork local file system; a dimension sync " +
      "and a streaming drain start no process") {
    import org.apache.hadoop.fs.{FileContext, FileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    import org.apache.spark.sql.functions.{count, lit}
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new java.net.URI("file:///"), conf).getClass ==
      classOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[NoForkLocalFs])
    val in = Files.createTempDirectory("graft_nofork_in").toString
    val wh = Files.createTempDirectory("graft_nofork_wh").toString
    // a shared-group warehouse: setgid, which every directory made
    // below it inherits and must keep
    def mode(p: Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    def octal(s: String) = Integer.parseInt(s, 8)
    Files.setAttribute(Paths.get(wh), "unix:mode", Integer.valueOf(octal("2700")))
    writeDims(in)
    val events = Files.createTempDirectory("graft_nofork_ev").toString
    Files.writeString(Paths.get(events, "part-0.json"),
      (0 until 20).map(i => s"""{"k":"k${i % 3}"}""").mkString("\n"))
    // the JVM's one-time spawn: Spark's process-tree metrics ask
    // `getconf PAGESIZE` once, from the first executor heartbeat (about
    // 10 s into the JVM, so inside the count when this test runs alone);
    // their private[spark] singleton is built here instead
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter")
      .getMethod("pTreeInfo").invoke(null)
    // a first sync, so the counted pass is warm
    Main.run(spark, "tasks", Map("in" -> in, "warehouse" -> wh))
    var drained = Map.empty[String, Long]
    val spawned = processStarts {
      Main.run(spark, "tasks", Map("in" -> in, "warehouse" -> wh))
      // an aggregating drain: offsets, commits and state-store deltas
      // all write through FileContext
      drained = Streams.drain(spark.readStream.schema("k STRING")
          .json(events).groupBy("k").agg(count(lit(1)).as("n")), "complete")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(spawned.isEmpty, s"${spawned.size} processes: " + spawned
      .groupBy(_.takeWhile(_ != ' ')).map { case (c, n) => s"$c ${n.size}" }
      .mkString(", "))
    assert(drained == Map("k0" -> 7L, "k1" -> 7L, "k2" -> 6L))
    assert(TableLog.currentVersion(spark, s"$wh/dim_tasks") == 2L)
    assert(LogTable.read(spark, s"$wh/dim_tasks").count() == 1)
    // the bits Hadoop's create and mkdirs ask for: its defaults under the
    // conf's umask, as before
    val umask = FsPermission.getUMask(conf)
    def posix(p: FsPermission) =
      java.nio.file.attribute.PosixFilePermissions.fromString(p.toString)
    val filePerm = posix(FsPermission.getFileDefault.applyUMask(umask))
    val dirPerm = posix(FsPermission.getDirDefault.applyUMask(umask))
    val written = tree(wh).filterNot(_ == Paths.get(wh))
    assert(written.exists(_.toString.endsWith(".csv")))
    written.foreach { p =>
      val want = if (Files.isDirectory(p)) dirPerm else filePerm
      assert(Files.getPosixFilePermissions(p) == want, p.toString)
      // a directory keeps the setgid it inherited, as `chmod 0755`
      // leaves it; a file has none
      assert(((mode(p) & octal("2000")) != 0) == Files.isDirectory(p),
        f"$p ${mode(p) & octal("7777")}%o")
    }
    assert(written.exists(p => Files.isDirectory(p) &&
      p.getFileName.toString == "_graft_log"))
    // an explicit mode lands bit for bit on a file; a directory also
    // keeps its setgid, and takes a sticky bit
    val f = new org.apache.hadoop.fs.Path(s"$wh/mode_probe")
    val fs = f.getFileSystem(conf)
    fs.create(f).close()
    fs.setPermission(f, new FsPermission("640"))
    assert((mode(Paths.get(wh, "mode_probe")) & octal("7777")) == octal("640"))
    val d = new org.apache.hadoop.fs.Path(s"$wh/mode_probe_dir")
    fs.mkdirs(d)
    fs.setPermission(d, new FsPermission("1750"))
    assert((mode(Paths.get(wh, "mode_probe_dir")) & octal("7777")) ==
      octal("3750"))
  }

  test("a dimension sync whose backup fails throws and keeps the " +
      "dimension's last version") {
    val in = Files.createTempDirectory("graft_bkfail_in").toString
    val wh = Files.createTempDirectory("graft_bkfail_wh").toString
    writeDims(in)
    def sync(stamp: String): Unit = Main.run(spark, "tasks",
      Map("in" -> in, "warehouse" -> wh, "stamp" -> stamp))
    sync("20240101_100000")
    val v = TableLog.currentVersion(spark, s"$wh/dim_tasks")
    // a regular file where the backups' directory goes
    val backups = Paths.get(wh, "csv_backups", "tasks")
    tree(backups.toString).reverse.foreach(Files.delete)
    Files.writeString(backups, "not a directory")
    intercept[Exception](sync("20240101_110000"))
    assert(TableLog.currentVersion(spark, s"$wh/dim_tasks") == v)
    assertSettled(wh)
    Files.delete(backups)
    sync("20240101_120000") // the retry commits
    assert(TableLog.currentVersion(spark, s"$wh/dim_tasks") == v + 1)
  }

  test("a refresh whose staging load fails keeps the fact's last version") {
    val (_, wh) = backfill()
    val factV = TableLog.currentVersion(spark, s"$wh/fact_time_entries")
    // a staging table the new rows cannot overwrite: its `id` is a
    // bigint, the staged rows' a string (retypes are refused after the
    // rows are staged)
    val stagingDir = Paths.get(wh, "staging_time_entries")
    tree(stagingDir.toString).reverse.foreach(Files.delete)
    LogTable.init(spark.range(1).toDF("id"), stagingDir.toString, "")
    val e = intercept[IllegalArgumentException](refresh(wh))
    assert(e.getMessage.contains("changes type"), e.getMessage)
    assert(TableLog.currentVersion(spark, s"$wh/fact_time_entries") == factV)
    assert(hoursById(wh) == Map("hist" -> 1.0, "r1" -> 1.0))
    assertSettled(wh)
  }
}
