package graft.pipelines

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftSession
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
  */
object Main {

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

    /** M5 CSV backup, then the M3/M4 truncate-and-load of `table`: one
      * overwrite commit. */
    def load(backup: String, table: String, df: DataFrame): Unit = {
      MergeOps.csvBackup(df, s"$wh/csv_backups/$backup", stamp = Some(stamp))
      adopt(s"$wh/$table")
      println(s"$table: version ${LogTable.overwrite(spark, s"$wh/$table", df, "")}")
    }

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
        load("time_entries", "staging_time_entries", staging)
        // M1 is MergeOps.mergeRefresh's semantics as one merge commit
        // that rewrites only the files holding matched or in-window rows;
        // M2 (and M1 over an empty fact) is one overwrite
        val fact = s"$wh/fact_time_entries"
        val window = MergeOps.refreshWindow(col("start_date_oslo"), days, today)
        val rows = if (cmd == "refresh") staging.filter(window) else staging
        val v =
          if (adopt(fact, Seq("start_date_oslo")) == 0L)
            LogTable.init(rows, fact, "", statsCols = Seq("start_date_oslo"))
          else if (cmd == "refresh")
            LogTable.merge(spark, fact, rows, Seq("id"), "",
              deleteUnmatchedCond = Some(window))
          else LogTable.overwrite(spark, fact, rows, "")
        println(s"$cmd: fact_time_entries version $v")

      case "lists" =>
        load("lists", "dim_lists", Pipelines.denormalizeLists(
          raw("spaces", ClickUpSchemas.rawSpace),
          raw("folders", ClickUpSchemas.rawFolder),
          raw("lists", ClickUpSchemas.rawList)))

      case "tasks" =>
        load("tasks", "dim_tasks",
          Pipelines.transformTasks(raw("tasks", ClickUpSchemas.rawTask)))

      case "accounts" =>
        load("accounts", "dim_accounts",
          Pipelines.transformAccounts(raw("accounts", ClickUpSchemas.rawTask)))

      case "apps" =>
        load("apps", "dim_apps",
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
