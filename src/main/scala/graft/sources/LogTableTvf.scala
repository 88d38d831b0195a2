package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

import graft.operators.LogTable

/** SQL table-valued entry point for [[LogTable]] — what an analyst
  * writes (r13 directive #8: the engine had SparkSessionExtensions but
  * LogTable was API-only):
  *
  * {{{
  *   SELECT * FROM logtable('/path/to/table')                 -- latest
  *   SELECT * FROM logtable('/path/to/table', 3)              -- VERSION AS OF
  *   SELECT * FROM logtable('/path', '2024-06-01 12:00:00')   -- TIMESTAMP AS OF
  * }}}
  *
  * Registered through `SparkSessionExtensions.injectTableFunction`
  * ([[graft.GraftExtensions]]), the public hook Spark resolves
  * table-function references with. The plan returned is
  * [[LogTable.read]]'s — a manifest-backed Catalyst FileIndex —
  * so ordinary SQL `WHERE` predicates on declared stats columns prune
  * FILES via zone maps at physical-plan time, partition predicates
  * prune directories, and deletion vectors apply: SQL users get
  * exactly the Column-API read path, time travel included.
  *
  * Arguments must be literals (the SQL-surface contract of a TVF):
  * arg 1 the table root path; optional arg 2 either an integral
  * version (`VERSION AS OF`) or a `'yyyy-MM-dd HH:mm:ss'` /
  * `'yyyy-MM-dd'` timestamp string resolved through
  * [[LogTable.versionAsOf]] (`TIMESTAMP AS OF`).
  */
object LogTableTvf {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"logtable(): $msg")

  private def asVersion(spark: SparkSession, path: String,
                        e: Expression): Long = e match {
    case l: Literal if l.value != null => l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        l.value.asInstanceOf[Number].longValue()
      case StringType =>
        // parsed through the SESSION timezone (ADVICE r14: the old
        // java.sql.Timestamp.valueOf used the JVM default zone, so the
        // same literal could resolve to a different version under
        // spark.sql.session.timeZone)
        val s = l.value.toString
        val ts =
          try LogTableSource.parseSessionTs(spark, s)
          catch {
            case _: IllegalArgumentException => fail(
              s"'$s' is neither an integral version nor a " +
                "'yyyy-MM-dd[ HH:mm:ss]' timestamp")
          }
        LogTable.versionAsOf(spark, path, ts)
      case other => fail(s"unsupported AS OF argument type " +
        s"${other.simpleString} — pass an integral version or a " +
        "timestamp string")
    }
    case _ => fail("AS OF argument must be a literal")
  }

  private def pathArg(args: Seq[Expression], fn: String): String =
    args.head match {
      case l: Literal if l.value != null && l.dataType == StringType =>
        l.value.toString
      case _ => throw new IllegalArgumentException(
        s"$fn(): the table path must be a string literal")
    }

  /** An options-map second argument (r14 verdict #8 — the common
    * knobs reachable without new function names):
    * `logtable('/p', map('versionAsOf', '3'))` /
    * `map('timestampAsOf', '2024-06-01 12:00:00')`. Entries must be
    * string literals; unknown keys fail loudly. */
  private def optionsArg(e: Expression): Option[Map[String, String]] =
    e match {
      case cm: org.apache.spark.sql.catalyst.expressions.CreateMap =>
        Some(cm.children.grouped(2).map {
          case Seq(k: Literal, v: Literal)
              if k.value != null && v.value != null =>
            k.value.toString -> v.value.toString
          case other => fail("option-map entries must be string " +
            s"literals, got $other")
        }.toMap)
      case _ => None
    }

  private def asOfFromOptions(spark: SparkSession, path: String,
                              opts: Map[String, String]): Option[Long] = {
    val known = Set("versionAsOf", "timestampAsOf")
    val unknown = opts.keySet -- known
    if (unknown.nonEmpty)
      fail(s"unknown options ${unknown.toSeq.sorted.mkString(",")} — " +
        s"supported: ${known.toSeq.sorted.mkString(",")}")
    if (opts.contains("versionAsOf") && opts.contains("timestampAsOf"))
      fail("versionAsOf and timestampAsOf are mutually exclusive")
    opts.get("versionAsOf").map { s =>
      try s.trim.toLong catch {
        case _: NumberFormatException =>
          fail(s"versionAsOf must be an integral version, got '$s'")
      }
    }.orElse(opts.get("timestampAsOf").map(s =>
      LogTable.versionAsOf(spark, path,
        LogTableSource.parseSessionTs(spark, s))))
  }

  val registration: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("logtable"),
    new ExpressionInfo(LogTableTvf.getClass.getName, "logtable"),
    (args: Seq[Expression]) => {
      if (args.isEmpty || args.size > 2)
        fail(s"expects (path [, version | timestamp | options map]), " +
          s"got ${args.size} arguments")
      val spark = SparkSession.active
      val path = pathArg(args, "logtable")
      val asOf = args.lift(1).flatMap(a => optionsArg(a) match {
        case Some(opts) => asOfFromOptions(spark, path, opts)
        case None => Some(asVersion(spark, path, a))
      })
      org.apache.spark.sql.graftshim.PlanShim.logical(
        LogTable.read(spark, path, asOf))
    })

  /** The change-data feed as a SQL table function —
    * `SELECT * FROM logtable_changes('/path', 1, 3)` returns
    * [[LogTable.changes]]' net multiset diff (the table's columns +
    * `_change_type` + `n_rows`): O(files changed between the
    * versions), never O(table). Version arguments accept integral
    * literals or timestamp strings (each resolved through
    * [[LogTable.versionAsOf]]), so
    * `logtable_changes('/p', '2024-06-01', '2024-06-02')` is "what
    * changed that day" in one SQL line. */
  val changesRegistration: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("logtable_changes"),
    new ExpressionInfo(LogTableTvf.getClass.getName, "logtable_changes"),
    (args: Seq[Expression]) => {
      if (args.size != 3)
        fail(s"logtable_changes expects (path, fromVersion, toVersion), " +
          s"got ${args.size} arguments")
      val spark = SparkSession.active
      val path = pathArg(args, "logtable_changes")
      val fromV = asVersion(spark, path, args(1))
      val toV = asVersion(spark, path, args(2))
      org.apache.spark.sql.graftshim.PlanShim.logical(
        LogTable.changes(spark, path, fromV, toV))
    })

  /** [[changesRegistration]] with Delta-CDF row classification —
    * `SELECT * FROM logtable_changes_keyed('/p', 1, 3, 'id')`: keys
    * appearing on both sides of the net diff become
    * `update_preimage`/`update_postimage` pairs, one-sided keys stay
    * insert/delete ([[LogTable.changesKeyed]]). The key list is a
    * comma-separated string literal. */
  val changesKeyedRegistration: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("logtable_changes_keyed"),
    new ExpressionInfo(LogTableTvf.getClass.getName,
      "logtable_changes_keyed"),
    (args: Seq[Expression]) => {
      if (args.size != 4)
        fail("logtable_changes_keyed expects (path, fromVersion, " +
          s"toVersion, 'k1[,k2…]'), got ${args.size} arguments")
      val spark = SparkSession.active
      val path = pathArg(args, "logtable_changes_keyed")
      val fromV = asVersion(spark, path, args(1))
      val toV = asVersion(spark, path, args(2))
      val keys = args(3) match {
        case l: Literal if l.value != null && l.dataType == StringType =>
          l.value.toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        case _ => fail("logtable_changes_keyed: the key list must be " +
          "a comma-separated string literal")
      }
      org.apache.spark.sql.graftshim.PlanShim.logical(
        LogTable.changesKeyed(spark, path, fromV, toV, keys))
    })

  /** The commit log as a SQL table function — the `DESCRIBE HISTORY`
    * role: `SELECT * FROM logtable_history('/path')` returns one row
    * per retained version (version, op, raw action, commit_ts, files
    * added/removed). Driver-side O(retained versions) metadata reads
    * ([[LogTable.history]]). */
  val historyRegistration: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("logtable_history"),
    new ExpressionInfo(LogTableTvf.getClass.getName, "logtable_history"),
    (args: Seq[Expression]) => {
      if (args.size != 1)
        fail(s"logtable_history expects (path), got ${args.size} " +
          "arguments")
      val spark = SparkSession.active
      val path = pathArg(args, "logtable_history")
      org.apache.spark.sql.graftshim.PlanShim.logical(
        LogTable.history(spark, path))
    })
}
