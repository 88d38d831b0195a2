package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Coercers._
import graft.operators.{Dedup, LogTable, MergeOps}
import graft.queries.QuerySpec.{sinkDir, t}

/** Reference-parity query corpus: one graded query per SURVEY.md §2 operator
  * (sources, projection/flatten, filters, scalar functions, explode, dedup,
  * joins, aggregations, merge, sinks), expressed over the driver's test
  * tables with a DuckDB oracle each. See COVERAGE.md for the op → query map.
  */
object ParityQueries {

  /** Timestamp literal helper for date-window predicates. */
  private val tsLit = (s: String) => lit(s).cast("timestamp")

  /** Deterministic "dirty" coercer inputs manufactured from lineitem —
    * shared by c7/c8 (numeric strings) and c10/e1 (csv strings). The
    * DuckDB oracles carry the same CASE expressions verbatim; edit both
    * together.
    */
  private def dirtyNumStr: org.apache.spark.sql.Column = {
    val m = col("l_linenumber") % 5
    when(m === 0, lit("3.7")).when(m === 1, col("l_quantity").cast("string"))
      .when(m === 2, lit("abc")).when(m === 3, lit("-2.9")).otherwise(lit(""))
  }
  private def dirtyCsv: org.apache.spark.sql.Column = {
    val m = col("l_linenumber") % 4
    when(m === 0, lit("a, b ,c,"))
      .when(m === 1, concat(col("l_returnflag"), lit(","), col("l_linestatus"), lit(" , ")))
      .when(m === 2, lit("")).otherwise(lit(",,,"))
  }

  /** Shared by m1_merge_refresh and st4_stream_merge_incremental: the
    * batch MERGE and its sliced-stream replay have ONE output contract,
    * so both are graded against the identical oracle.
    */
  private val m1OracleSql: String =
    """WITH fact AS (SELECT event_id id, ts,
      |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) d,
      |    event_type, value v FROM events WHERE ts < TIMESTAMP '2024-01-28'),
      |sw AS (SELECT event_id id, ts,
      |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) d,
      |    event_type, value*2 v FROM events
      |  WHERE event_type <> 'error'
      |    AND CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE)
      |      BETWEEN DATE '2024-01-23' AND DATE '2024-01-30'),
      |m AS (SELECT * FROM sw
      |  UNION ALL
      |  SELECT f.* FROM fact f
      |  WHERE f.id NOT IN (SELECT id FROM sw)
      |    AND f.d NOT BETWEEN DATE '2024-01-23' AND DATE '2024-01-30')
      |SELECT id, ts, CAST(d AS VARCHAR) start_date_oslo, event_type, v AS "value"
      |FROM m ORDER BY id""".stripMargin

  /** Shared body of st4/st4b/st4c: M1 semantics with staging replayed
    * as a sliced micro-batch stream (maxFilesPerTrigger=1 over a 2-file
    * staging dump) onto a [[graft.operators.LogTable]] fact through
    * Streams.runStreamingLogTableMergeAvailableNow — per-batch
    * idempotent copy-on-write merge + manifest-commit windowed sweep,
    * graded against the m1 oracle. The three queries differ only in
    * what the fact's `LogTable.init` declares, so each grades a
    * different merge-candidate probe: zone maps on `id` (st4), a bloom
    * sidecar on `id` (st4b), or nothing (st4c). The closing read is a
    * plain [[graft.operators.LogTable.read]]: manifest-planned files
    * are immutable, so reader isolation is structural.
    *
    * Fixture accounting: the pre-merge fact and the sliced staging dump
    * build ONCE per process into a read-only template (per sfDir and
    * declaration); each graded run merges into its own local-fs copy of
    * the fact.
    */
  private val stMergeLtTemplates =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Seq[String], Seq[String]), String]()
  private def stMergeLogTable(s: org.apache.spark.sql.SparkSession,
                              d: String, statsCols: Seq[String] = Nil,
                              bloomCols: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val key = (d, statsCols, bloomCols)
    val tpl = stMergeLtTemplates.computeIfAbsent(key, _ => {
      val ev = t(s, d, "events")
      val fact = ev.filter(col("ts") < tsLit("2024-01-28"))
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"), col("event_type"),
          col("value"))
      val staging = ev.filter(col("event_type") =!= "error")
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"), col("event_type"),
          (col("value") * 2).as("value"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stmergelt_tpl").toString
      graft.operators.LogTable.init(fact, s"$dir/fact",
        statsCols = statsCols, bloomCols = bloomCols)
      staging.repartition(2).write.parquet(s"$dir/staging")
      dir
    })
    val base = java.nio.file.Files.createTempDirectory("graft_stmergelt")
      .toString
    val baseP = new org.apache.hadoop.fs.Path(base)
    val fs = baseP.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$tpl/fact"), fs,
      new org.apache.hadoop.fs.Path(s"$base/fact"), false, conf)
    val factRoot = s"$base/fact"
    val stagingSchema = s.read.parquet(s"$tpl/staging").schema
    val stream = s.readStream.schema(stagingSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tpl/staging")
    graft.streaming.Streams.runStreamingLogTableMergeAvailableNow(s,
      stream, factRoot, s"$base/seen_ids", days = 7,
      todayOslo = LocalDate.parse("2024-01-30"),
      checkpoint = s"$base/ckpt")
    val out = graft.operators.LogTable.read(s, factRoot)
      .select("id", "ts", "start_date_oslo", "event_type", "value")
      .localCheckpoint(true)
    fs.delete(baseP, true)
    out.withColumn("start_date_oslo", col("start_date_oslo").cast("string"))
      .orderBy("id")
  }

  val all: Seq[QuerySpec] = Seq(

    // ── S: sources ────────────────────────────────────────────────────────
    QuerySpec("s1_time_range_scan",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate").between(tsLit("1996-01-01"), tsLit("1996-12-31")))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
             |FROM lineitem
             |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QuerySpec("s2_hierarchy_walk", (s, d) => {
      // space=region, folder=nation, list=customer; folder-less branch
      // mirrors fetch_clickup_data.py:255-272 with the '' sentinel.
      val sp = t(s, d, "region").select(
        col("r_regionkey").cast("string").as("space_id"), col("r_name").as("space_name"))
      val fo = t(s, d, "nation").select(
        col("n_nationkey").cast("string").as("folder_id"), col("n_name").as("folder_name"),
        col("n_regionkey").cast("string").as("space_id"))
      val inFolder = t(s, d, "customer")
        .select(col("c_custkey").cast("string").as("list_id"), col("c_name").as("list_name"),
          col("c_nationkey").cast("string").as("folder_id"))
        .join(broadcast(fo), Seq("folder_id"))
      val folderLess = fo.select(col("space_id"), col("folder_id").as("list_id"),
        col("folder_name").as("list_name"))
        .withColumn("folder_id", lit("")).withColumn("folder_name", lit(""))
      inFolder.unionByName(folderLess.select(inFolder.columns.map(col).toSeq: _*))
        .join(broadcast(sp), Seq("space_id"))
        .select("space_id", "space_name", "folder_id", "folder_name", "list_id", "list_name")
        .orderBy("space_id", "folder_id", "list_id")
    },
      Some("""SELECT * FROM (
             |  SELECT CAST(r_regionkey AS VARCHAR) space_id, r_name space_name,
             |         CAST(n_nationkey AS VARCHAR) folder_id, n_name folder_name,
             |         CAST(c_custkey AS VARCHAR) list_id, c_name list_name
             |  FROM customer JOIN nation ON c_nationkey=n_nationkey
             |  JOIN region ON n_regionkey=r_regionkey
             |  UNION ALL
             |  SELECT CAST(r_regionkey AS VARCHAR), r_name, '', '',
             |         CAST(n_nationkey AS VARCHAR), n_name
             |  FROM nation JOIN region ON n_regionkey=r_regionkey
             |) ORDER BY space_id, folder_id, list_id""".stripMargin)),

    QuerySpec("s3_archived_axis", (s, d) => {
      val o = t(s, d, "orders")
      o.filter(col("o_orderstatus") =!= "F").withColumn("archived", lit(false))
        .unionByName(o.filter(col("o_orderstatus") === "F").withColumn("archived", lit(true)))
        .select("o_orderkey", "o_orderstatus", "archived")
        .orderBy("o_orderkey")
    },
      Some("""SELECT * FROM (
             |  SELECT o_orderkey, o_orderstatus, false archived FROM orders WHERE o_orderstatus <> 'F'
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, true FROM orders WHERE o_orderstatus = 'F'
             |) ORDER BY o_orderkey""".stripMargin)),

    QuerySpec("s4_list_scoped_scan",
      (s, d) => t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin)),

    QuerySpec("s5_const_filter",
      (s, d) => t(s, d, "part").filter(col("p_size") === 15)
        .select("p_partkey", "p_name", "p_brand", "p_size").orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_brand, p_size FROM part
             |WHERE p_size = 15 ORDER BY p_partkey""".stripMargin)),

    // ── T: projection / flatten ──────────────────────────────────────────
    QuerySpec("t1_flatten_json",
      (s, d) => t(s, d, "events").select(col("event_id"), col("user_id"),
        from_json(col("props"), new StructType().add("k", LongType))
          .getField("k").as("prop_k"))
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
             |  TRY_CAST(regexp_extract(props, '"k":\s*(-?\d+(?:\.\d+)?)', 1) AS BIGINT) prop_k
             |FROM events ORDER BY event_id""".stripMargin)),

    QuerySpec("t2_nullif_ids",
      (s, d) => t(s, d, "lineitem").select(strOrNull(
          when(col("l_returnflag") === "N", "").otherwise(col("l_returnflag")))
          .as("flag_or_null"))
        .groupBy("flag_or_null").agg(count(lit(1)).as("n"))
        .orderBy(col("flag_or_null").asc_nulls_first),
      Some("""SELECT CASE WHEN l_returnflag='N' THEN NULL ELSE l_returnflag END flag_or_null,
             |count(*) n FROM lineitem GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin)),

    QuerySpec("t3_field_lookup",
      (s, d) => t(s, d, "lineitem").filter(col("l_orderkey") <= 50)
        .select(col("l_orderkey"), col("l_linenumber"),
          map_from_entries(array(
            struct(lit("qty").as("k"), col("l_quantity").as("v")),
            struct(lit("price").as("k"), col("l_extendedprice").as("v"))))
            .getItem("price").as("price_val"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice price_val
             |FROM lineitem WHERE l_orderkey <= 50 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ── F: filters ───────────────────────────────────────────────────────
    QuerySpec("f2_derived_bool",
      (s, d) => t(s, d, "orders").withColumn("closed", col("o_orderstatus") === "F")
        .groupBy("closed").agg(count(lit(1)).as("n"),
          countDistinct("o_custkey").as("nd_cust"))
        .orderBy("closed"),
      Some("""SELECT o_orderstatus='F' closed, count(*) n, count(DISTINCT o_custkey) nd_cust
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("f4_in_filter",
      (s, d) => t(s, d, "lineitem").filter(col("l_suppkey").isin(1, 3, 5, 7))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey, count(*) n, round(sum(l_quantity),2) sum_qty
             |FROM lineitem WHERE l_suppkey IN (1,3,5,7) GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("f6_declared_filters",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_returnflag") === "N" && col("l_linestatus") === "O" &&
          col("l_shipdate") >= tsLit("1998-01-01"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty")),
      Some("""SELECT count(*) n, round(sum(l_quantity),2) sum_qty FROM lineitem
             |WHERE l_returnflag='N' AND l_linestatus='O'
             |  AND l_shipdate >= TIMESTAMP '1998-01-01'""".stripMargin)),

    // ── C: scalar functions ──────────────────────────────────────────────
    QuerySpec("c1_epoch_ms_roundtrip",
      (s, d) => t(s, d, "events").select(col("event_id"),
        unix_millis(col("ts")).as("ms"),
        timestamp_millis(unix_millis(col("ts"))).as("ts_ms"))
        .orderBy("event_id"),
      Some("""SELECT event_id, epoch_ms(ts) ms, epoch_ms(epoch_ms(ts)) ts_ms
             |FROM events ORDER BY event_id""".stripMargin)),

    QuerySpec("c2_oslo_civil_date",
      // date emitted as ISO string: DATE-typed columns round-trip
      // differently through pandas/duckdb readers (midnight-datetime vs
      // date), which would false-fail the value compare.
      (s, d) => t(s, d, "events")
        .select(osloDate(col("ts")).cast("string").as("oslo_date"))
        .groupBy("oslo_date").agg(count(lit(1)).as("n")).orderBy("oslo_date"),
      Some("""SELECT CAST(CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) AS VARCHAR) oslo_date,
             |count(*) n FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("c3_ms_to_hours", (s, d) => {
      val ms = when(col("event_type") === "error", lit(null).cast("long"))
        .otherwise(floor(col("value") * 3600000).cast("long"))
      t(s, d, "events").select(col("event_id"), ms.as("ms"),
        round(msToHours(ms), 4).as("hrs")).orderBy("event_id")
    },
      Some("""SELECT event_id, ms, round(coalesce(ms/3600000.0, 0.0), 4) hrs FROM (
             |  SELECT event_id, CASE WHEN event_type='error' THEN NULL
             |    ELSE CAST(floor(value*3600000) AS BIGINT) END ms FROM events
             |) ORDER BY event_id""".stripMargin)),

    QuerySpec("c4_ms_rounded_hours", (s, d) => {
      val ms = when(col("event_type") === "error", lit(null).cast("long"))
        .otherwise(floor(col("value") * 3600000).cast("long"))
      t(s, d, "events").select(col("event_id"), msToRoundedHours(ms).as("hours_2dp"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id, round(ms/3600000.0, 2) hours_2dp FROM (
             |  SELECT event_id, CASE WHEN event_type='error' THEN NULL
             |    ELSE CAST(floor(value*3600000) AS BIGINT) END ms FROM events
             |) ORDER BY event_id""".stripMargin)),

    QuerySpec("c5_sha256_email", (s, d) => {
      val email = when(col("c_custkey") % 10 === 0, lit(""))
        .otherwise(concat(lower(translate(col("c_name"), "#", "_")), lit("@example.com")))
      t(s, d, "customer").select(col("c_custkey"), email.as("email"),
        sha256OrNull(email).as("email_sha256")).orderBy("c_custkey")
    },
      Some("""SELECT c_custkey, email,
             |  CASE WHEN length(email) > 0 THEN sha256(email) END email_sha256
             |FROM (SELECT c_custkey, CASE WHEN c_custkey % 10 = 0 THEN ''
             |  ELSE lower(translate(c_name,'#','_')) || '@example.com' END email
             |  FROM customer) ORDER BY c_custkey""".stripMargin)),

    QuerySpec("c6_safe_bool", (s, d) => {
      val raw = (col("l_linenumber") % 7)
      val rawStr = when(raw === 0, "true").when(raw === 1, "YES")
        .when(raw === 2, " on ").when(raw === 3, "1").when(raw === 4, "0")
        .when(raw === 5, "false").otherwise("junk")
      t(s, d, "lineitem").select(rawStr.as("raw"), safeBoolStr(rawStr).as("b_str"),
        col("l_discount"))
        .groupBy("raw", "b_str")
        .agg(count(lit(1)).as("n"),
          sum(when(safeBoolNum(col("l_discount")), 1L).otherwise(0L)).as("n_num_true"))
        .orderBy("raw")
    },
      Some("""WITH t AS (SELECT CASE l_linenumber % 7 WHEN 0 THEN 'true' WHEN 1 THEN 'YES'
             |  WHEN 2 THEN ' on ' WHEN 3 THEN '1' WHEN 4 THEN '0' WHEN 5 THEN 'false'
             |  ELSE 'junk' END raw, l_discount FROM lineitem)
             |SELECT raw, coalesce(lower(trim(raw)) IN ('true','1','yes','on'), false) b_str,
             |  count(*) n,
             |  CAST(sum(CASE WHEN coalesce(l_discount <> 0, false) THEN 1 ELSE 0 END) AS BIGINT) n_num_true
             |FROM t GROUP BY 1,2 ORDER BY 1""".stripMargin)),

    QuerySpec("c7_safe_int", (s, d) => {
      val raw = dirtyNumStr
      t(s, d, "lineitem").filter(col("l_orderkey") <= 300)
        .select(col("l_orderkey"), col("l_linenumber"), raw.as("raw"),
          safeInt(raw).as("si"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      Some("""WITH t AS (SELECT l_orderkey, l_linenumber,
             |  CASE l_linenumber % 5 WHEN 0 THEN '3.7' WHEN 1 THEN CAST(l_quantity AS VARCHAR)
             |    WHEN 2 THEN 'abc' WHEN 3 THEN '-2.9' ELSE '' END raw
             |  FROM lineitem WHERE l_orderkey <= 300)
             |SELECT l_orderkey, l_linenumber, raw,
             |  CASE WHEN TRY_CAST(raw AS DOUBLE) IS NOT NULL AND NOT isnan(TRY_CAST(raw AS DOUBLE))
             |    THEN CAST(trunc(TRY_CAST(raw AS DOUBLE)) AS BIGINT) END si
             |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QuerySpec("c8_safe_float", (s, d) => {
      val raw = dirtyNumStr
      t(s, d, "lineitem").filter(col("l_orderkey") <= 300)
        .select(col("l_orderkey"), col("l_linenumber"), raw.as("raw"),
          safeFloat(raw).as("sf_null"), safeFloatDefault(raw, 0.0).as("sf_def"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      Some("""WITH t AS (SELECT l_orderkey, l_linenumber,
             |  CASE l_linenumber % 5 WHEN 0 THEN '3.7' WHEN 1 THEN CAST(l_quantity AS VARCHAR)
             |    WHEN 2 THEN 'abc' WHEN 3 THEN '-2.9' ELSE '' END raw
             |  FROM lineitem WHERE l_orderkey <= 300),
             |c AS (SELECT *, CASE WHEN TRY_CAST(raw AS DOUBLE) IS NOT NULL
             |    AND NOT isnan(TRY_CAST(raw AS DOUBLE)) THEN TRY_CAST(raw AS DOUBLE) END sf_null
             |  FROM t)
             |SELECT l_orderkey, l_linenumber, raw, sf_null, coalesce(sf_null, 0.0) sf_def
             |FROM c ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QuerySpec("c9_checkbox_bool", (s, d) => {
      val m = col("l_linenumber") % 3
      val raw = when(m === 0, lit("true")).when(m === 1, lit("false"))
        .otherwise(lit(null).cast("string"))
      t(s, d, "lineitem").select(raw.as("raw"), checkboxBool(raw).as("cb"))
        .groupBy("raw", "cb").agg(count(lit(1)).as("n"))
        .orderBy(col("raw").asc_nulls_first)
    },
      Some("""WITH t AS (SELECT CASE l_linenumber % 3 WHEN 0 THEN 'true' WHEN 1 THEN 'false' END raw
             |  FROM lineitem)
             |SELECT raw, coalesce(raw = 'true', false) cb, count(*) n
             |FROM t GROUP BY 1,2 ORDER BY 1 NULLS FIRST""".stripMargin)),

    QuerySpec("c10_split_trim_sentinel", (s, d) => {
      val arr = splitTrimDropEmpty(dirtyCsv)
      t(s, d, "lineitem")
        .select(array_join(arr, "|").as("toks"), size(arr).cast("long").as("n_toks"))
        .groupBy("toks", "n_toks").agg(count(lit(1)).as("n"))
        .orderBy("toks", "n_toks")
    },
      Some("""WITH t AS (SELECT CASE l_linenumber % 4 WHEN 0 THEN 'a, b ,c,'
             |    WHEN 1 THEN l_returnflag || ',' || l_linestatus || ' , '
             |    WHEN 2 THEN '' ELSE ',,,' END raw FROM lineitem),
             |c AS (SELECT list_filter(list_transform(str_split(coalesce(raw,''), ','),
             |    x -> trim(x)), x -> length(x) > 0) cleaned FROM t),
             |f AS (SELECT CASE WHEN len(cleaned)=0 THEN [''] ELSE cleaned END final FROM c)
             |SELECT array_to_string(final,'|') toks, CAST(len(final) AS BIGINT) n_toks, count(*) n
             |FROM f GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    QuerySpec("c11_array_join_ids",
      (s, d) => t(s, d, "lineitem").filter(col("l_orderkey") <= 500)
        .groupBy("l_orderkey")
        .agg(array_join(transform(array_sort(collect_list(col("l_linenumber"))),
          x => x.cast("string")), ", ").as("line_ids"))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey,
             |  string_agg(CAST(l_linenumber AS VARCHAR), ', ' ORDER BY l_linenumber) line_ids
             |FROM lineitem WHERE l_orderkey <= 500 GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("c12_names_join",
      (s, d) => t(s, d, "customer").filter(col("c_custkey") <= 200)
        .groupBy("c_nationkey")
        .agg(array_join(array_sort(collect_list(col("c_name"))), ", ").as("name_list"))
        .orderBy("c_nationkey"),
      Some("""SELECT c_nationkey, string_agg(c_name, ', ' ORDER BY c_name) AS name_list
             |FROM customer WHERE c_custkey <= 200 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── D1 dedup + A9 window order ───────────────────────────────────────
    QuerySpec("d1_dedup_latest",
      (s, d) => Dedup.latestByKey(t(s, d, "events"), Seq("user_id"), "ts", "event_id")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id"),
      Some("""SELECT user_id, event_id, ts, event_type, value FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id
             |  ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) = 1
             |ORDER BY user_id""".stripMargin)),

    // ── E1 explode with sentinel ─────────────────────────────────────────
    QuerySpec("e1_explode_sentinel", (s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") <= 100)
        .select(explode(splitTrimDropEmpty(dirtyCsv)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n")).orderBy("tok")
    },
      Some("""WITH t AS (SELECT CASE l_linenumber % 4 WHEN 0 THEN 'a, b ,c,'
             |    WHEN 1 THEN l_returnflag || ',' || l_linestatus || ' , '
             |    WHEN 2 THEN '' ELSE ',,,' END raw FROM lineitem WHERE l_orderkey <= 100),
             |c AS (SELECT list_filter(list_transform(str_split(coalesce(raw,''), ','),
             |    x -> trim(x)), x -> length(x) > 0) cleaned FROM t),
             |e AS (SELECT unnest(CASE WHEN len(cleaned)=0 THEN [''] ELSE cleaned END) tok FROM c)
             |SELECT tok, count(*) n FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── J: joins ─────────────────────────────────────────────────────────
    QuerySpec("j1_fact_dim_left_join",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate").between(tsLit("1997-01-01"), tsLit("1997-01-31")))
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"), "left")
        .select("l_orderkey", "l_linenumber", "l_partkey", "p_brand", "p_type")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, p_brand, p_type
             |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
             |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-01-31'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QuerySpec("j2_fact_dim_key_join",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate").between(tsLit("1996-06-01"), tsLit("1996-06-30")))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"), "left")
        .select("l_orderkey", "l_linenumber", "l_suppkey", "s_name", "s_nationkey")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_suppkey, s_name, s_nationkey
             |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
             |WHERE l_shipdate BETWEEN TIMESTAMP '1996-06-01' AND TIMESTAMP '1996-06-30'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QuerySpec("j3_estimate_vs_actual",
      (s, d) => t(s, d, "part")
        .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left")
        .groupBy("p_partkey", "p_name", "p_retailprice")
        .agg(round(sum("l_extendedprice"), 2).as("actual_value"))
        .withColumn("variance_value", round(col("actual_value") - col("p_retailprice"), 2))
        .filter(col("p_retailprice").isNotNull)
        .orderBy(col("variance_value").desc_nulls_last, col("p_partkey")),
      Some("""WITH g AS (SELECT p_partkey, p_name, p_retailprice,
             |    round(sum(l_extendedprice),2) actual_value
             |  FROM part LEFT JOIN lineitem ON p_partkey = l_partkey GROUP BY 1,2,3)
             |SELECT p_partkey, p_name, p_retailprice, actual_value,
             |  round(actual_value - p_retailprice, 2) variance_value
             |FROM g WHERE p_retailprice IS NOT NULL
             |ORDER BY variance_value DESC NULLS LAST, p_partkey""".stripMargin)),

    QuerySpec("j4_merge_match_fullouter", (s, d) => {
      val o = t(s, d, "orders")
      val tt = o.filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_totalprice").as("tp"))
      val ss = o.filter(col("o_orderkey").between(1001, 3000))
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("sp"))
      tt.join(ss, Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          when(col("tp").isNotNull && col("sp").isNotNull, "matched")
            .when(col("tp").isNull, "insert").otherwise("delete").as("cat"),
          round(coalesce(col("sp"), col("tp")), 2).as("price"))
        .orderBy("o_orderkey")
    },
      Some("""WITH t AS (SELECT o_orderkey, o_totalprice tp FROM orders WHERE o_orderkey <= 2000),
             |s AS (SELECT o_orderkey, o_totalprice*2 sp FROM orders
             |  WHERE o_orderkey BETWEEN 1001 AND 3000)
             |SELECT coalesce(t.o_orderkey, s.o_orderkey) o_orderkey,
             |  CASE WHEN t.tp IS NOT NULL AND s.sp IS NOT NULL THEN 'matched'
             |    WHEN t.tp IS NULL THEN 'insert' ELSE 'delete' END cat,
             |  round(coalesce(s.sp, t.tp), 2) price
             |FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
             |ORDER BY 1""".stripMargin)),

    // ── A: aggregations ──────────────────────────────────────────────────
    QuerySpec("a1_count_grouped",
      (s, d) => t(s, d, "orders").groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n")).orderBy("o_orderpriority", "o_orderstatus"),
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) n FROM orders
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    QuerySpec("a2_sum_grouped",
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) sum_qty,
             |  round(sum(l_extendedprice),2) sum_base,
             |  round(sum(l_extendedprice*(1-l_discount)),2) sum_disc,
             |  round(avg(l_quantity),4) avg_qty, count(*) n
             |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    QuerySpec("a3_conditional_agg",
      (s, d) => t(s, d, "orders").groupBy("o_orderpriority")
        .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) n_f,
             |  CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) n_o,
             |  count(*) n
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("a4_count_distinct",
      (s, d) => t(s, d, "orders").groupBy("o_orderstatus")
        .agg(countDistinct("o_custkey").as("nd_cust"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) nd_cust, count(*) n
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("a5_min_max_dates",
      (s, d) => t(s, d, "orders").groupBy("o_orderstatus")
        .agg(min("o_orderdate").as("min_d"), max("o_orderdate").as("max_d"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, min(o_orderdate) min_d, max(o_orderdate) max_d
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("a6_a7_having",
      (s, d) => t(s, d, "lineitem").groupBy("l_partkey")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(max("l_quantity"), 2).as("max_qty"))
        .withColumn("spread", round(col("sum_qty") - col("max_qty"), 2))
        .filter(col("sum_qty") > 300)
        .orderBy("l_partkey"),
      Some("""SELECT l_partkey, round(sum(l_quantity),2) sum_qty,
             |  round(max(l_quantity),2) max_qty,
             |  round(round(sum(l_quantity),2) - round(max(l_quantity),2), 2) spread
             |FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity),2) > 300
             |ORDER BY 1""".stripMargin)),

    QuerySpec("a8_multi_order_by",
      (s, d) => t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy(col("c_mktsegment"), col("c_acctbal").desc, col("c_custkey")),
      Some("""SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
             |WHERE c_custkey <= 500
             |ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin)),

    QuerySpec("a45_health_scan",
      (s, d) => t(s, d, "events").agg(count(lit(1)).as("n"),
        countDistinct("user_id").as("nd_users"),
        min("ts").as("min_ts"), max("ts").as("max_ts")),
      Some("""SELECT count(*) n, count(DISTINCT user_id) nd_users,
             |min(ts) min_ts, max(ts) max_ts FROM events""".stripMargin)),

    // A10: ROLLUP subtotals — detail rows, per-returnflag subtotals and the
    // grand total in one pass (Spark plans grouping sets as a single
    // Expand + hash aggregate, not one job per level). grouping_id()
    // disambiguates a NULL group value from a subtotal row; DuckDB's
    // GROUPING(a, b) uses the identical bitmask convention (verified:
    // detail 0, per-a 1, grand 3).
    QuerySpec("a10_rollup",
      (s, d) => t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) sum_qty,
             |  count(*) n, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) gid
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // A11: PIVOT — order counts and total price (exact cents: the
    // double→cents fold is floor(x*100), identical IEEE ops in both
    // engines, then an exact BIGINT sum) by priority × status, status
    // values pinned explicitly so the plan is a single hash aggregate
    // (no values-discovery pre-pass, the 100 TB-safe form).
    QuerySpec("a11_pivot",
      (s, d) => t(s, d, "orders").groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  CAST(sum(CASE WHEN o_orderstatus='O'
             |    THEN CAST(floor(o_totalprice*100) AS BIGINT) END) AS BIGINT) AS "O",
             |  CAST(sum(CASE WHEN o_orderstatus='F'
             |    THEN CAST(floor(o_totalprice*100) AS BIGINT) END) AS BIGINT) AS "F",
             |  CAST(sum(CASE WHEN o_orderstatus='P'
             |    THEN CAST(floor(o_totalprice*100) AS BIGINT) END) AS BIGINT) AS "P"
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A12: analytic window functions — rank / lag / lead / ntile in one
    // window pass (one Exchange on the partition key, one sort). Ordering
    // is made TOTAL (cents desc, then key) so rank and ntile are
    // deterministic and the lag/lead neighbors are pinned; prices fold to
    // exact BIGINT cents, so no float comparisons anywhere.
    QuerySpec("a12_window_funcs",
      (s, d) => {
        val base = t(s, d, "orders").filter(col("o_orderkey") <= 2000)
          .select(col("o_orderkey"), col("o_orderpriority"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("cents").desc, col("o_orderkey"))
        base.select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
            rank().over(w).as("rnk"),
            lag("cents", 1).over(w).as("prev_cents"),
            lead("cents", 1).over(w).as("next_cents"),
            ntile(4).over(w).as("quartile"))
          .orderBy("o_orderpriority", "rnk")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority,
             |    CAST(floor(o_totalprice*100) AS BIGINT) cents
             |  FROM orders WHERE o_orderkey <= 2000)
             |SELECT o_orderkey, o_orderpriority, cents,
             |  CAST(rank() OVER w AS INT) rnk,
             |  lag(cents, 1) OVER w prev_cents,
             |  lead(cents, 1) OVER w next_cents,
             |  CAST(ntile(4) OVER w AS INT) quartile
             |FROM o WINDOW w AS (PARTITION BY o_orderpriority
             |  ORDER BY cents DESC, o_orderkey)
             |ORDER BY o_orderpriority, rnk""".stripMargin)),

    // A13: set operations — INTERSECT and EXCEPT (both DISTINCT-semantics)
    // over the customer-key sets of two order-status slices. Spark plans
    // these as hash aggregates + joins, no sort-based distinct.
    QuerySpec("a13_setops",
      (s, d) => {
        val o = t(s, d, "orders")
        val fCust = o.filter(col("o_orderstatus") === "F").select("o_custkey")
        val oCust = o.filter(col("o_orderstatus") === "O").select("o_custkey")
        val both = fCust.intersect(oCust).agg(count(lit(1)).as("n"))
          .withColumn("tag", lit("both"))
        val fOnly = fCust.except(oCust).agg(count(lit(1)).as("n"))
          .withColumn("tag", lit("f_only"))
        val oOnly = oCust.except(fCust).agg(count(lit(1)).as("n"))
          .withColumn("tag", lit("o_only"))
        both.unionByName(fOnly).unionByName(oOnly)
          .select("tag", "n").orderBy("tag")
      },
      Some("""WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus='F'),
             |o AS (SELECT o_custkey FROM orders WHERE o_orderstatus='O')
             |SELECT 'both' tag,
             |  (SELECT count(*) FROM (SELECT * FROM f INTERSECT SELECT * FROM o)) n
             |UNION ALL SELECT 'f_only',
             |  (SELECT count(*) FROM (SELECT * FROM f EXCEPT SELECT * FROM o))
             |UNION ALL SELECT 'o_only',
             |  (SELECT count(*) FROM (SELECT * FROM o EXCEPT SELECT * FROM f))
             |ORDER BY tag""".stripMargin)),

    // A14: exact grouped median — Spark's exact `median` aggregate (not
    // percentile_approx) over BIGINT cents; the midpoint of an even group
    // is (a+b)/2 on exact integers in both engines, so the doubles agree
    // bitwise with DuckDB's quantile_cont-backed median.
    QuerySpec("a14_grouped_median",
      (s, d) => t(s, d, "orders").groupBy("o_orderpriority")
        .agg(median(floor(col("o_totalprice") * 100).cast("long"))
            .as("median_cents"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  median(CAST(floor(o_totalprice*100) AS BIGINT)) median_cents,
             |  count(*) n
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // J8: semi/anti joins — the EXISTS / NOT EXISTS shapes (Spark's
    // left_semi/left_anti never materialize right columns, so the probe
    // side streams map-side against the built key set).
    QuerySpec("j8_semi_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        val ok = t(s, d, "orders").select("o_custkey")
        val withOrders = c.join(ok, c("c_custkey") === ok("o_custkey"), "left_semi")
          .agg(count(lit(1)).as("n")).withColumn("tag", lit("with_orders"))
        val noOrders = c.join(ok, c("c_custkey") === ok("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")).withColumn("tag", lit("no_orders"))
        withOrders.unionByName(noOrders).select("tag", "n").orderBy("tag")
      },
      Some("""SELECT 'no_orders' tag, count(*) n FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
             |UNION ALL
             |SELECT 'with_orders', count(*) FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
             |ORDER BY tag""".stripMargin)),

    // ── M: merge + sinks ─────────────────────────────────────────────────
    QuerySpec("m1_merge_refresh", (s, d) => {
      val ev = t(s, d, "events")
      // Oslo civil dates (C2), not UTC dates: the windowed-delete guard is
      // defined in Oslo days (fetch_clickup_data.py:1281-1282), and events
      // between 23:00Z and midnight land on the NEXT Oslo date — the exact
      // boundary the M1 parity check must exercise.
      val fact = ev.filter(col("ts") < tsLit("2024-01-28"))
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"), col("event_type"), col("value"))
      val staging = ev.filter(col("event_type") =!= "error")
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"), col("event_type"),
          (col("value") * 2).as("value"))
      MergeOps.mergeRefresh(fact, staging, days = 7,
        todayOslo = LocalDate.parse("2024-01-30"))
        .withColumn("start_date_oslo", col("start_date_oslo").cast("string"))
        .orderBy("id")
    },
      Some(m1OracleSql)),

    // M1 as PURE SQL MERGE on a named logtable (r15 verdict #5): the
    // reference's refresh statement ports VERBATIM — hand-listed
    // UPDATE SET assignments (fetch_clickup_data.py:1286-1316),
    // INSERT, and the windowed `WHEN NOT MATCHED BY SOURCE AND
    // start_date_oslo BETWEEN ... THEN DELETE` guard (:1318-1321) —
    // and commits ATOMICALLY through the manifest merge. Graded
    // against the IDENTICAL oracle as m1_merge_refresh: the SQL
    // surface must not change a byte of the Scala API's output.
    QuerySpec("m1b_merge_refresh_sql", (s, d) => {
      val ev = t(s, d, "events")
      val fact = ev.filter(col("ts") < tsLit("2024-01-28"))
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"),
          col("event_type"), col("value"))
      val staging = ev.filter(col("event_type") =!= "error")
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"), col("event_type"),
          (col("value") * 2).as("value"))
      val base = java.nio.file.Files.createTempDirectory("graft_m1b")
        .toString + "/t"
      graft.operators.LogTable.init(fact, base)
      s.sql("DROP TABLE IF EXISTS graft_m1b")
      s.sql(s"CREATE TABLE graft_m1b USING logtable LOCATION '$base'")
      // the reference's USING subquery: staging windowed to
      // [today - days, today] in Oslo civil days
      staging.filter(col("start_date_oslo").between(
          lit("2024-01-23").cast("date"), lit("2024-01-30").cast("date")))
        .createOrReplaceTempView("graft_m1b_src")
      s.sql(
        """MERGE INTO graft_m1b T USING graft_m1b_src S
          |ON T.id = S.id
          |WHEN MATCHED THEN UPDATE SET
          |  ts = S.ts, start_date_oslo = S.start_date_oslo,
          |  event_type = S.event_type, value = S.value
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE
          |  AND T.start_date_oslo BETWEEN DATE '2024-01-23'
          |                            AND DATE '2024-01-30'
          |THEN DELETE""".stripMargin)
      val out = s.sql(
        """SELECT id, ts, CAST(start_date_oslo AS STRING) start_date_oslo,
          |  event_type, value FROM graft_m1b ORDER BY id""".stripMargin)
        .localCheckpoint(true)
      s.sql("DROP TABLE graft_m1b")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    }, Some(m1OracleSql)),

    // GENERIC SQL MERGE (r16 verdict #3): conditional matched DELETE,
    // conditional PARTIAL SET (ts / start_date_oslo keep the target's
    // values; the condition reads BOTH sides), first-match-wins
    // clause order (an in-window 'error' row deletes even where the
    // update condition also holds), and a conditional INSERT — one
    // atomic manifest commit, graded against a DuckDB oracle that
    // re-derives the same classification relationally (DuckDB 1.0 has
    // no MERGE syntax).
    QuerySpec("m1c_merge_generic_sql", (s, d) => {
      val ev = t(s, d, "events")
      val fact = ev.filter(col("ts") < tsLit("2024-01-28"))
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"),
          col("event_type"), col("value"))
      val base = java.nio.file.Files.createTempDirectory("graft_m1c")
        .toString + "/t"
      graft.operators.LogTable.init(fact, base)
      s.sql("DROP TABLE IF EXISTS graft_m1c")
      s.sql(s"CREATE TABLE graft_m1c USING logtable LOCATION '$base'")
      ev.filter(osloDate(col("ts")).between(
          lit("2024-01-23").cast("date"), lit("2024-01-30").cast("date")))
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"), col("event_type"),
          (col("value") * 2).as("value"))
        .createOrReplaceTempView("graft_m1c_src")
      s.sql(
        """MERGE INTO graft_m1c T USING graft_m1c_src S
          |ON T.id = S.id
          |WHEN MATCHED AND S.event_type = 'error' THEN DELETE
          |WHEN MATCHED AND S.value > T.value + 5 THEN UPDATE SET
          |  value = S.value, event_type = S.event_type
          |WHEN NOT MATCHED AND S.event_type <> 'error'
          |THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE
          |  AND T.start_date_oslo BETWEEN DATE '2024-01-20'
          |                            AND DATE '2024-01-30'
          |THEN UPDATE SET event_type = concat(T.event_type, '_stale')""".stripMargin)
      val out = s.sql(
        """SELECT id, ts, CAST(start_date_oslo AS STRING) start_date_oslo,
          |  event_type, value FROM graft_m1c ORDER BY id""".stripMargin)
        .localCheckpoint(true)
      s.sql("DROP TABLE graft_m1c")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    }, Some(
      """WITH fact AS (SELECT event_id id, ts,
        |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) d,
        |    event_type, value v FROM events
        |  WHERE ts < TIMESTAMP '2024-01-28'),
        |sw AS (SELECT event_id id, ts,
        |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) d,
        |    event_type, value*2 v FROM events
        |  WHERE CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE)
        |    BETWEEN DATE '2024-01-23' AND DATE '2024-01-30'),
        |m AS (
        |  SELECT f.id, f.ts, f.d,
        |    CASE WHEN s.v > f.v + 5 THEN s.event_type
        |         ELSE f.event_type END event_type,
        |    CASE WHEN s.v > f.v + 5 THEN s.v ELSE f.v END v
        |  FROM fact f JOIN sw s USING (id)
        |  WHERE s.event_type <> 'error'
        |  UNION ALL
        |  SELECT f.id, f.ts, f.d,
        |    CASE WHEN f.d BETWEEN DATE '2024-01-20' AND DATE '2024-01-30'
        |         THEN f.event_type || '_stale' ELSE f.event_type END,
        |    f.v FROM fact f
        |  WHERE f.id NOT IN (SELECT id FROM sw)
        |  UNION ALL
        |  SELECT s.id, s.ts, s.d, s.event_type, s.v FROM sw s
        |  WHERE s.event_type <> 'error'
        |    AND s.id NOT IN (SELECT id FROM fact))
        |SELECT id, ts, CAST(d AS VARCHAR) start_date_oslo, event_type,
        |  v AS "value"
        |FROM m ORDER BY id""".stripMargin)),

    // M1d — MERGE WITH SCHEMA EVOLUTION (r17 verdict missing #2): the
    // source carries a NEW column (src_tag) the target lacks; the
    // star-shaped actions widen add-only, pre-existing rows null-fill
    // it, and the CONDITIONAL matched clause routes the merge down the
    // generic keyed-upsert path (rewrite only files holding touched
    // keys) — graded against an independent relational DuckDB
    // re-derivation modeling the POST-evolution schema.
    QuerySpec("m1d_merge_schema_evolution", (s, d) => {
      val ev = t(s, d, "events")
      val fact = ev.filter(col("ts") < tsLit("2024-01-28"))
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"),
          col("event_type"), col("value"))
      val base = java.nio.file.Files.createTempDirectory("graft_m1d")
        .toString + "/t"
      graft.operators.LogTable.init(fact, base)
      s.sql("DROP TABLE IF EXISTS graft_m1d")
      s.sql(s"CREATE TABLE graft_m1d USING logtable LOCATION '$base'")
      ev.filter(osloDate(col("ts")).between(
          lit("2024-01-23").cast("date"), lit("2024-01-30").cast("date")))
        .select(col("event_id").as("id"), col("ts"),
          osloDate(col("ts")).as("start_date_oslo"), col("event_type"),
          (col("value") * 2).as("value"),
          concat(lit("t_"), col("event_type")).as("src_tag"))
        .createOrReplaceTempView("graft_m1d_src")
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft_m1d T
          |USING graft_m1d_src S ON T.id = S.id
          |WHEN MATCHED AND S.event_type <> 'error'
          |THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = s.sql(
        """SELECT id, ts, CAST(start_date_oslo AS STRING) start_date_oslo,
          |  event_type, value, src_tag FROM graft_m1d ORDER BY id"""
          .stripMargin)
        .localCheckpoint(true)
      s.sql("DROP TABLE graft_m1d")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    }, Some(
      """WITH fact AS (SELECT event_id id, ts,
        |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) d,
        |    event_type, value v FROM events
        |  WHERE ts < TIMESTAMP '2024-01-28'),
        |sw AS (SELECT event_id id, ts,
        |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) d,
        |    event_type, value*2 v, 't_' || event_type tag FROM events
        |  WHERE CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE)
        |    BETWEEN DATE '2024-01-23' AND DATE '2024-01-30'),
        |m AS (
        |  SELECT f.id, f.ts, f.d,
        |    CASE WHEN s.event_type <> 'error' THEN s.event_type
        |         ELSE f.event_type END event_type,
        |    CASE WHEN s.event_type <> 'error' THEN s.v ELSE f.v END v,
        |    CASE WHEN s.event_type <> 'error' THEN s.tag END tag
        |  FROM fact f JOIN sw s USING (id)
        |  UNION ALL
        |  SELECT f.id, f.ts, f.d, f.event_type, f.v, NULL FROM fact f
        |  WHERE f.id NOT IN (SELECT id FROM sw)
        |  UNION ALL
        |  SELECT s.id, s.ts, s.d, s.event_type, s.v, s.tag FROM sw s
        |  WHERE s.id NOT IN (SELECT id FROM fact))
        |SELECT id, ts, CAST(d AS VARCHAR) start_date_oslo, event_type,
        |  v AS "value", tag AS src_tag
        |FROM m ORDER BY id""".stripMargin)),

    // ST4 — the SAME M1 semantics with staging replayed as a sliced
    // micro-batch stream (maxFilesPerTrigger=1 over a 2-file staging dump)
    // onto a LogTable fact: each micro-batch is ONE idempotent
    // copy-on-write LogTable.merge (txnId = st4c:<batchId> — a replayed
    // batch is a commit-level no-op, crash-replay spec in DedupMergeSpec)
    // and the windowed delete lands as manifest commits touching only
    // stale window partitions. Graded against the IDENTICAL DuckDB
    // oracle as m1_merge_refresh — the proof that the reference's
    // incremental MERGE semantics survive micro-batch slicing
    // byte-for-byte. st4's fact declares zone maps on `id`, so each
    // merge probes only the files whose id range can hold a batch key.
    QuerySpec("st4_stream_merge_incremental",
      (s, d) => stMergeLogTable(s, d, statsCols = Seq("id")),
      Some(m1OracleSql)),

    // ST4b — the st4 run with a bloom sidecar on `id` instead of zone
    // maps: each merge bloom-probes the live files for the batch's
    // exact keys and reads only those that may hold one. Same oracle:
    // the probe must not change a byte of the output.
    QuerySpec("st4b_stream_merge_indexed",
      (s, d) => stMergeLogTable(s, d, bloomCols = Seq("id")),
      Some(m1OracleSql)),

    // ST4c — the st4 run with nothing declared: each merge probes every
    // live file. Same oracle as m1/st4/st4b.
    QuerySpec("st4c_stream_merge_logtable",
      (s, d) => stMergeLogTable(s, d), Some(m1OracleSql)),

    // T4 — JSON-lines source round-trip: the reference's raw payloads are
    // JSON (api.clickup.com responses); re-expressed as the Spark `json`
    // data source. A deterministic events slice is written as JSON lines
    // and read back with an explicit schema + microsecond timestampFormat
    // (the default format truncates micros — a silent precision loss this
    // query would catch as a hash mismatch). Oracle reads the same slice
    // straight from parquet: the JSON hop must be value-exact.
    QuerySpec("t4_json_source", (s, d) => {
      val ev = t(s, d, "events").filter(col("event_id") % 100 === 0)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = java.nio.file.Files.createTempDirectory("graft_json").toString + "/ev"
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      ev.write.option("timestampFormat", fmt).json(dir)
      val back = s.read.schema(ev.schema).option("timestampFormat", fmt)
        .json(dir).localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      back.orderBy("event_id")
    },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE event_id % 100 = 0 ORDER BY event_id""".stripMargin)),

    // T5: ORC source round-trip — same slice and oracle as t4 (the oracle
    // reads the original parquet, so the check is that ORC write+read is
    // lossless, timestamps included: ORC carries nanos, micros survive).
    QuerySpec("t5_orc_source", (s, d) => {
      val ev = t(s, d, "events").filter(col("event_id") % 100 === 0)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/ev"
      ev.write.orc(dir)
      val back = s.read.schema(ev.schema).orc(dir).localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      back.orderBy("event_id")
    },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE event_id % 100 = 0 ORDER BY event_id""".stripMargin)),

    // T6: Avro source round-trip — same slice and oracle as t4/t5. The
    // spark-avro DataSource module is not resolvable offline, so the
    // engine carries its own Avro source on avro-mapred (AvroSource);
    // the check is that the Avro hop is value-exact, timestamps at
    // microsecond precision via the timestamp-micros logical type.
    QuerySpec("t6_avro_source", (s, d) => {
      val ev = t(s, d, "events").filter(col("event_id") % 100 === 0)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = java.nio.file.Files.createTempDirectory("graft_avro").toString + "/ev"
      graft.sources.AvroSource.write(ev, dir)
      val back = graft.sources.AvroSource.read(s, dir, ev.schema)
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      back.orderBy("event_id")
    },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events WHERE event_id % 100 = 0 ORDER BY event_id""".stripMargin)),

    // T7: schema evolution across parquet file generations — older files
    // lack a column that newer files carry (the reference's tables gained
    // columns across deployments, e.g. BUG_FIX_SUMMARY.md's explicit
    // INSERT-column fix exists because schemas drifted). mergeSchema
    // reconciles at read time; old rows surface the new column as NULL.
    // Oracle derives the same null pattern from the slice predicate.
    QuerySpec("t7_schema_evolution", (s, d) => {
      val ev = t(s, d, "events").filter(col("event_id") % 100 === 0)
      val dir = java.nio.file.Files.createTempDirectory("graft_evol").toString + "/ev"
      // generation 1: two columns; generation 2: adds `value`
      ev.filter(col("event_id") % 200 === 0)
        .select("event_id", "user_id").write.parquet(dir)
      ev.filter(col("event_id") % 200 === 100)
        .select("event_id", "user_id", "value")
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
      val back = s.read.option("mergeSchema", "true").parquet(dir)
        .select("event_id", "user_id", "value")
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      back.orderBy("event_id")
    },
      Some("""SELECT event_id, user_id,
             |  CASE WHEN event_id % 200 = 100 THEN "value" END AS "value"
             |FROM events WHERE event_id % 100 = 0 ORDER BY event_id""".stripMargin)),

    QuerySpec("m2_merge_full_reindex", (s, d) => {
      val ev = t(s, d, "events")
      val fact = ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id").as("id"), col("event_type"), (col("value") + 1).as("value"))
      val staging = ev.filter(col("event_id") % 5 =!= 0)
        .select(col("event_id").as("id"), col("event_type"), col("value"))
      MergeOps.mergeFullReindex(fact, staging).orderBy("id")
    },
      Some("""SELECT event_id id, event_type, value FROM events
             |WHERE event_id % 5 <> 0 ORDER BY id""".stripMargin)),

    QuerySpec("m3_m6_dim_truncate_load", (s, d) => {
      val dim = t(s, d, "nation")
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
      val path = java.nio.file.Files.createTempDirectory("graft_m3_dim").toString + "/t"
      LogTable.overwrite(s, path, dim.limit(0), "") // M6: create, declared schema
      LogTable.overwrite(s, path, dim, "")          // M3: WRITE_TRUNCATE
      LogTable.read(s, path).orderBy("n_nationkey")
    },
      Some("""SELECT n_nationkey, n_name, r_name FROM nation
             |JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey""".stripMargin)),

    QuerySpec("m4_staging_load", (s, d) => {
      val staging = Dedup.latestByKey(t(s, d, "events"), Seq("user_id"), "ts", "event_id")
      val path = java.nio.file.Files.createTempDirectory("graft_m4_staging").toString + "/t"
      LogTable.overwrite(s, path, staging, "")
      LogTable.read(s, path).groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      Some("""WITH dd AS (SELECT * FROM events QUALIFY row_number() OVER (
             |  PARTITION BY user_id ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) = 1)
             |SELECT event_type, count(*) n FROM dd GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("m5_csv_roundtrip", (s, d) => {
      val agg = t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      val path = sinkDir(d, "m5_csv")
      MergeOps.csvBackup(agg, path)
      s.read.option("header", "true")
        .schema(new StructType().add("l_returnflag", StringType)
          .add("n", LongType).add("sum_qty", DoubleType))
        .csv(path).orderBy("l_returnflag")
    },
      Some("""SELECT l_returnflag, count(*) n, round(sum(l_quantity),2) sum_qty
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // M7: SCD Type 2 — the dimension-history sibling of M3's truncate-load
    // (the reference truncate-loads its dims, losing history; Type 2 is
    // what a warehouse that must answer "what segment was this customer in
    // last quarter" runs instead). Updates: %11 keys change segment (close
    // + insert), %5 keys arrive identical (no-op — no empty version
    // chains), +1000000 keys are brand new. The oracle derives the
    // resulting version table directly from the update predicates, not
    // from the engine's join.
    QuerySpec("m7_scd2_dimension", (s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("cust_id"),
          col("c_mktsegment").as("segment"))
      val dim = cust
        .withColumn("valid_from", lit(java.sql.Date.valueOf("2020-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val updates = cust.filter(col("cust_id") % 11 === 0)
        .withColumn("segment", lit("PLATINUM"))
        .unionByName(cust.filter(col("cust_id") % 5 === 0 &&
          col("cust_id") % 11 =!= 0)) // identical attrs → must be a no-op
        .unionByName(cust.filter(col("cust_id") % 13 === 0)
          .select((col("cust_id") + 1000000).as("cust_id"),
            lit("NEWBIE").as("segment")))
      // dates projected as strings: a NULLable date column round-trips
      // through pandas as object-dtype datetime.date while the DuckDB df
      // surfaces datetime64 — same value, different repr (c2 precedent)
      MergeOps.scd2Apply(dim, updates, "cust_id", Seq("segment"),
        java.sql.Date.valueOf("2024-06-01"))
        .withColumn("valid_from", col("valid_from").cast("string"))
        .withColumn("valid_to", col("valid_to").cast("string"))
        .orderBy("cust_id", "valid_from")
    },
      Some("""WITH cust AS (SELECT c_custkey cust_id, c_mktsegment segment
             |    FROM customer),
             |closed AS (SELECT cust_id, segment, '2020-01-01' valid_from,
             |    CASE WHEN cust_id % 11 = 0 THEN '2024-06-01' END valid_to,
             |    cust_id % 11 <> 0 is_current FROM cust),
             |ins AS (SELECT cust_id, 'PLATINUM' segment,
             |    '2024-06-01' valid_from, CAST(NULL AS VARCHAR) valid_to,
             |    true is_current FROM cust WHERE cust_id % 11 = 0
             |  UNION ALL SELECT cust_id + 1000000, 'NEWBIE',
             |    '2024-06-01', NULL, true FROM cust
             |  WHERE cust_id % 13 = 0)
             |SELECT * FROM closed UNION ALL SELECT * FROM ins
             |ORDER BY cust_id, valid_from""".stripMargin)),

    // M8: snapshot diff (CDC derivation) — recover the insert/delete/update
    // delta between two full dumps, the inverse of M1/M2's delta-apply.
    // Snapshots are two deterministic slices of orders with %7 keys
    // repriced; the oracle is an independent FULL OUTER JOIN + IS DISTINCT
    // FROM rendering.
    QuerySpec("m8_snapshot_diff", (s, d) => {
      val o = t(s, d, "orders")
      val before = o.filter(col("o_orderkey") % 3 =!= 0)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val after = o.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      MergeOps.snapshotDiff(before, after, "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    },
      Some("""WITH b AS (SELECT o_orderkey, o_totalprice, o_orderstatus
             |    FROM orders WHERE o_orderkey % 3 <> 0),
             |a AS (SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
             |      ELSE o_totalprice END o_totalprice, o_orderstatus
             |  FROM orders WHERE o_orderkey % 5 <> 0)
             |SELECT coalesce(b.o_orderkey, a.o_orderkey) o_orderkey,
             |  CASE WHEN b.o_orderkey IS NULL THEN 'insert'
             |    WHEN a.o_orderkey IS NULL THEN 'delete'
             |    ELSE 'update' END change_type,
             |  CASE WHEN b.o_orderkey IS NULL OR a.o_orderkey IS NULL THEN ''
             |    ELSE array_to_string(list_filter([
             |      CASE WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
             |        THEN 'o_totalprice' END,
             |      CASE WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
             |        THEN 'o_orderstatus' END], x -> x IS NOT NULL), ',')
             |  END changed_cols
             |FROM b FULL JOIN a ON b.o_orderkey = a.o_orderkey
             |WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
             |  OR b.o_totalprice IS DISTINCT FROM a.o_totalprice
             |  OR b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
             |ORDER BY o_orderkey""".stripMargin)),

    // A15: the classic star-schema analytics shape (TPC-H Q3) — two
    // selective dim filters, a 3-way join into the fact, grouped revenue,
    // top-20. Exercises what a15 is FOR at scale: Catalyst broadcasts the
    // filtered customer dim, pushes both date predicates into the scans,
    // and TakeOrderedAndProject bounds the driver to 20 rows. Revenue is
    // an exact integer product (cents × discount-% — both 2-decimal) so
    // the double sum order cannot flip the hash.
    QuerySpec("a15_star_join_q3", (s, d) => {
      val cutoff = lit("1995-03-15").cast("date")
      val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = t(s, d, "orders").filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = t(s, d, "lineitem").filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100.0).cast("long") *
            (lit(100L) - round(col("l_discount") * 100.0).cast("long")))
            .as("rev_e4"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("rev_e4")).cast("double") / 10000.0, 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(20)
    },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  round(CAST(CAST(sum(CAST(round(l_extendedprice*100.0) AS BIGINT) *
             |    (100 - CAST(round(l_discount*100.0) AS BIGINT))) AS BIGINT)
             |    AS DOUBLE) / 10000.0, 2) revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < DATE '1995-03-15'
             |  AND l_shipdate > DATE '1995-03-15'
             |GROUP BY 1, 2, 3
             |ORDER BY revenue DESC, o_orderdate, l_orderkey
             |LIMIT 20""".stripMargin)),

    // A16: CUBE — all four grouping-set combinations in one pass (the
    // sibling of a10's ROLLUP), quantities summed as exact cents.
    QuerySpec("a16_cube",
      (s, d) => t(s, d, "lineitem").cube("l_returnflag", "l_linestatus")
        .agg((sum(round(col("l_quantity") * 100.0).cast("long"))
          .cast("double") / 100.0).as("sum_qty"),
          count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(CAST(sum(CAST(round(l_quantity*100.0) AS BIGINT)) AS BIGINT)
             |    AS DOUBLE) / 100.0 sum_qty,
             |  count(*) n, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) gid
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin))
  )
}
