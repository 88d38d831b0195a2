package graft.pipelines

import java.time.LocalDate
import java.util.concurrent.{CompletableFuture, Executors}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.Futures.await
import graft.operators.{LogTable, MergeOps, TableLog}
import graft.schemas.ClickUpSchemas

/** CLI mirroring the reference's six endpoints (main.py:22-207) and its
  * argparse surface (fetch_clickup_data.py:1679-1719), minus the HTTP
  * wrapper: ingestion is file-based (raw ClickUp-shaped JSON, FIXTURES.md
  * §A) instead of REST — the REST fetch/retry loop (S6) is an ingestion
  * concern outside the engine (SURVEY.md §2.1).
  *
  * Usage:
  *   graft.pipelines.Main <command> --in <rawDir> --warehouse <dir>
  *     [--days N] [--today YYYY-MM-DD]
  *   command ∈ refresh | full_reindex | lists | tasks | accounts | apps |
  *             health | describe
  *
  * Layout written under --warehouse (unpartitioned LogTables, every
  * sync one manifest commit; CSV backups per M5):
  *   staging_time_entries/ fact_time_entries/ dim_lists/ dim_tasks/
  *   dim_accounts/ dim_apps/ csv_backups/<pipeline>/
  * A table directory written before the warehouse moved onto LogTable
  * (plain parquet, no `_graft_log`) is adopted in place on its next
  * sync. Old versions stay on disk until [[LogTable.vacuum]]; the
  * service itself never vacuums.
  *
  * A sync's sinks overlap and its commits keep the reference's order:
  * each sink starts as soon as its input exists (the CSV backup beside
  * the table write; for the fact syncs the backup, the staging load and
  * the fact write, all from one pinned frame), and each commit is gated
  * on the sinks before it, so a failure at any point leaves a prefix of
  * backup → staging → fact committed. Every started sink is awaited
  * before `run` returns or throws, and only the calling thread prints.
  */
object Main {

  /** Sink threads. A cached pool: a commit gate blocked on an earlier
    * sink never holds a thread that sink needs, as a small fixed pool
    * (or `ForkJoinPool.commonPool`) could. Idle threads exit after a
    * minute. */
  private val sinkPool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-sync-sink")
    t.setDaemon(true)
    t
  }

  /** Start `body` on a sink thread, with the caller's session and Spark
    * local properties. */
  private def start[T](spark: SparkSession)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], sinkPool)(body)

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "describe") { println(describe); return }
    val cmd = args(0)
    val opts = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = GraftSession.local()
    try run(spark, cmd, opts)
    finally spark.stop()
  }

  def run(spark: SparkSession, cmd: String, opts: Map[String, String]): Unit = {
    val in = opts.getOrElse("in", "raw")
    val wh = opts.getOrElse("warehouse", "warehouse")
    val days = opts.getOrElse("days", "60").toInt
    val today = opts.get("today").map(LocalDate.parse)
      .getOrElse(LocalDate.now(java.time.ZoneId.of("Europe/Oslo")))
    // timestamped backups (fetch_clickup_data.py:1780 '%Y%m%d_%H%M%S'):
    // each run's CSV backup is retained under its own stamp; --stamp
    // overrides the clock for reproducible runs/tests
    val stamp = opts.getOrElse("stamp",
      java.time.LocalDateTime.now(java.time.ZoneId.of("Europe/Oslo"))
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")))

    def raw(name: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.read.schema(schema).json(s"$in/$name")

    /** The LogTable at `path`'s current version (0 when absent); a
      * plain parquet table written before the move onto LogTable is
      * adopted in place first, so its rows stay live and vacuum never
      * reclaims them. */
    def adopt(path: String, statsCols: Seq[String] = Seq.empty): Long = {
      val v = TableLog.currentVersion(spark, path)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (v == 0L && fs.exists(p) && fs.listStatus(p).exists(st =>
          st.isFile && !st.getPath.getName.matches("[._].*")))
        LogTable.convert(spark, path, "", statsCols)
      else v
    }

    /** M5 CSV backup beside the M3/M4 truncate-and-load of `table`: one
      * overwrite commit, gated on the backup. Returns the version. */
    def load(backup: String, table: String, df: DataFrame): Long = {
      val backedUp = start(spark)(MergeOps.csvBackup(df,
        s"$wh/csv_backups/$backup", stamp = Some(stamp)))
      try {
        adopt(s"$wh/$table")
        LogTable.overwrite(spark, s"$wh/$table", df, "",
          commitGate = () => await(backedUp))
      } finally Try(backedUp.join())
    }

    /** A dimension sync: `dim_<name>`, backed up under `<name>`. */
    def dim(name: String, df: DataFrame): Unit =
      println(s"dim_$name: version ${load(name, s"dim_$name", df)}")

    cmd match {
      case "refresh" | "full_reindex" =>
        // fact pipeline: flatten → dedup → CSV backup → staging → merge
        // (fetch_clickup_data.py:1738-1797)
        // materialize once: CSV backup, staging load, and the merge all
        // consume this frame — re-executing the flatten+dedup shuffle three
        // times would triple the cost and let at/start_utc ties resolve
        // differently per sink
        val staging = Pipelines.timeEntryPipeline(
          raw("time_entries", ClickUpSchemas.rawTimeEntry)).localCheckpoint(true)
        val staged = start(spark)(
          load("time_entries", "staging_time_entries", staging))
        // M1 is MergeOps.mergeRefresh's semantics as one merge commit
        // that rewrites only the files holding matched or in-window rows;
        // M2 (and M1 over an empty fact) is one overwrite. The fact write
        // runs beside the staging load and commits after it
        val fact = s"$wh/fact_time_entries"
        val window = MergeOps.refreshWindow(col("start_date_oslo"), days, today)
        val rows = if (cmd == "refresh") staging.filter(window) else staging
        val afterStaging = () => { await(staged); () }
        val v =
          try {
            if (adopt(fact, Seq("start_date_oslo")) == 0L) {
              await(staged)
              LogTable.init(rows, fact, "", statsCols = Seq("start_date_oslo"))
            } else if (cmd == "refresh")
              LogTable.merge(spark, fact, rows, Seq("id"), "",
                deleteUnmatchedCond = Some(window), commitGate = afterStaging)
            else LogTable.overwrite(spark, fact, rows, "",
              commitGate = afterStaging)
          } finally Try(staged.join())
            .foreach(sv => println(s"staging_time_entries: version $sv"))
        println(s"$cmd: fact_time_entries version $v")

      case "lists" =>
        dim("lists", Pipelines.denormalizeLists(
          raw("spaces", ClickUpSchemas.rawSpace),
          raw("folders", ClickUpSchemas.rawFolder),
          raw("lists", ClickUpSchemas.rawList)))

      case "tasks" =>
        dim("tasks",
          Pipelines.transformTasks(raw("tasks", ClickUpSchemas.rawTask)))

      case "accounts" =>
        dim("accounts",
          Pipelines.transformAccounts(raw("accounts", ClickUpSchemas.rawTask)))

      case "apps" =>
        dim("apps",
          Pipelines.transformApps(raw("apps", ClickUpSchemas.rawTask)))

      case "health" =>
        // main.py:210-222 analog: session + warehouse reachability
        val tables = Seq("fact_time_entries", "dim_lists", "dim_tasks",
          "dim_accounts", "dim_apps")
        val status = tables.map { t =>
          val n =
            if (TableLog.currentVersion(spark, s"$wh/$t") == 0L) "absent"
            else LogTable.read(spark, s"$wh/$t").count().toString
          s"$t=$n"
        }
        println(s"healthy ${status.mkString(" ")}")

      case other => sys.error(s"unknown command: $other\n$describe")
    }
  }

  /** main.py:225-280 analog: self-describing surface. */
  val describe: String =
    """graft pipelines — Spark re-expression of hours-api-clickup
      |  refresh      windowed upsert of time entries (M1; --days, --today)
      |  full_reindex full rebuild of the fact table (M2)
      |  lists        dim_lists hierarchy walk (S2, M3)
      |  tasks        dim_tasks walk + derivations (S3, M3)
      |  accounts     dim_accounts custom fields + explode (S4, E1, M3)
      |  apps         dim_apps filtered team scan (S5, M3)
      |  health       warehouse reachability probe
      |  describe     this text
      |options: --in <rawDir> --warehouse <dir> --days N --today YYYY-MM-DD
      |         --stamp yyyyMMdd_HHmmss (backup stamp; defaults to now)""".stripMargin
}
