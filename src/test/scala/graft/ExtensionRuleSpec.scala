package graft

import org.apache.spark.sql.functions._

/** [[graft.plans.IntervalJoinRule]]: the optimizer extension that rewrites
  * naive abs-tolerance joins into the bucketed equi-join shape.
  */
class ExtensionRuleSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq((1L, 100L), (2L, 250L), (3L, -40L), (4L, 1000L))
    .toDF("lid", "lk")
  private def right = Seq((10L, 120L), (20L, 260L), (30L, -35L),
    (40L, 400L), (50L, 100L)).toDF("rid", "rk")

  private def absJoin(delta: Long) =
    left.join(right, abs($"lk" - $"rk") <= lit(delta))

  test("abs-tolerance join is rewritten: no nested-loop/cartesian, " +
    "bucket equi-join + explode in the plan") {
    val plan = absJoin(25L).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate explode"), plan)
  }

  test("rewritten join returns exactly the brute-force pairs " +
    "(boundary inclusive, negatives, zero-straddling buckets)") {
    val got = absJoin(25L).select("lid", "rid")
      .as[(Long, Long)].collect().toSet
    val l = left.as[(Long, Long)].collect()
    val r = right.as[(Long, Long)].collect()
    val want = (for {
      (lid, lk) <- l; (rid, rk) <- r if math.abs(lk - rk) <= 25L
    } yield (lid, rid)).toSet
    // sanity on the fixture: boundary (100 vs 120 at delta 25 -> in;
    // 250 vs 260 in; -40 vs -35 in; 100 vs 100 exact; 1000 matches none)
    assert(want == Set((1L, 10L), (1L, 50L), (2L, 20L), (3L, 30L)))
    assert(got == want)
  }

  test("orientation and delta=0 edge: lit >= abs(...) matches too; " +
    "delta 0 keeps only exact equality") {
    val got = left.join(right, lit(0L) >= abs($"lk" - $"rk"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 50L))) // 100 == 100 only
  }

  test("ordinary equi joins are untouched (no Generate injected)") {
    val plan = left.join(right, $"lk" === $"rk").queryExecution
      .executedPlan.toString
    assert(!plan.contains("Generate"), plan)
  }

  test("non-canonical tolerance conditions fall through unrewritten " +
    "but still produce correct results") {
    // extra conjunct -> v1 scope leaves it alone (top node is And)
    val df = left.join(right,
      abs($"lk" - $"rk") <= lit(25L) && $"lid" =!= $"rid")
    assert(df.select("lid", "rid").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (1L, 50L), (2L, 20L), (3L, 30L)))
  }

  test("BETWEEN spelling is rewritten (plan) and equals brute force") {
    val j = left.join(right, $"lk".between($"rk" - 25L, $"rk" + 25L))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(j.select("lid", "rid").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (1L, 50L), (2L, 20L), (3L, 30L)))
  }

  test("timestamp abs-interval spelling is rewritten (plan) and equals " +
    "brute force") {
    val lt = Seq((1L, 1000000L), (2L, 60000000L), (3L, 61500000L))
      .toDF("lid", "us").select($"lid", timestamp_micros($"us").as("lts"))
    val rt = Seq((10L, 2500000L), (20L, 59000000L), (30L, 100000000L))
      .toDF("rid", "us").select($"rid", timestamp_micros($"us").as("rts"))
    val j = lt.join(rt, abs($"lts" - $"rts") <= expr("INTERVAL 2 SECONDS"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate explode"), plan)
    // |1.0-2.5|=1.5s in; |60-59|=1s in; |61.5-59|=2.5s out; 100s isolated
    assert(j.select("lid", "rid").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)))
  }

  test("property: all three spellings equal brute force on randomized " +
    "frames, nulls included") {
    val rnd = new scala.util.Random(4207)
    for (trial <- 1 to 3) {
      val delta = Seq(1L, 7L, 1000L)(trial - 1)
      def mk(n: Int, tag: String) = (1 to n).map { i =>
        val k: java.lang.Long =
          if (rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rnd.nextLong() % (delta * 20))
        (i.toLong, k)
      }.toDF(s"${tag}id", s"${tag}k")
      val l = mk(60, "l")
      val r = mk(60, "r")
      val lRows = l.collect().map(x =>
        (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getLong(1))))
      val rRows = r.collect().map(x =>
        (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getLong(1))))
      val want = (for {
        (lid, Some(lk)) <- lRows; (rid, Some(rk)) <- rRows
        if math.abs(lk - rk) <= delta
      } yield (lid, rid)).toSet
      val viaAbs = l.join(r, abs($"lk" - $"rk") <= lit(delta))
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val viaBetween = l.join(r, $"lk".between($"rk" - delta, $"rk" + delta))
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val pad = f"${delta}%06d" // delta micros as fractional seconds
      val viaTs = l.select($"lid", timestamp_micros($"lk").as("lts"))
        .join(r.select($"rid", timestamp_micros($"rk").as("rts")),
          abs($"lts" - $"rts") <= expr(s"INTERVAL '0 00:00:00.$pad' DAY TO SECOND"))
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(viaAbs == want, s"abs trial $trial")
      assert(viaBetween == want, s"between trial $trial")
      assert(viaTs == want, s"ts trial $trial")
    }
  }

  test("RunningSumExec (injected planner strategy): equals the global " +
    "window form, plans the custom exec with a range exchange and no " +
    "SinglePartition, boundary-invariant across partition counts") {
    import org.apache.spark.sql.expressions.{Window => W}
    import graft.plans.NativeRunningSum
    val df = spark.range(0, 500).select(col("id").as("rid"),
      ((col("id") * 17) % 89).as("v"))
    val w = W.orderBy(col("v").desc, col("rid").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val reference = df.withColumn("__cum", sum(col("v")).over(w))
      .orderBy("rid").collect().map(_.toSeq).toSeq
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (parts <- Seq(1, 4, 16)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val got = NativeRunningSum.attach(df,
            Seq("v" -> false, "rid" -> true), "v")
          .orderBy("rid").collect().map(_.toSeq).toSeq
        assert(got == reference, s"parts=$parts diverged from window form")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    val plan = NativeRunningSum.attach(df,
        Seq("v" -> false, "rid" -> true), "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("RunningSum"), plan) // nodeName strips "Exec"
    assert(plan.contains("rangepartitioning") ||
      plan.contains("RangePartitioning") || plan.contains("range"), plan)
    assert(!plan.contains("SinglePartition") && !plan.contains("Window"),
      s"must not gather or window:\n$plan")
    // null sum values add 0 (the kernel's null-skipping contract)
    val withNulls = spark.range(0, 10).select(col("id").as("rid"),
      when(col("id") % 3 === 0, lit(null).cast("long")).otherwise(col("id"))
        .as("v"))
    val gotN = NativeRunningSum.attach(withNulls, Seq("rid" -> true),
        "v").orderBy("rid")
      .select("__cum").as[Long].collect().toSeq
    val expN = (0L until 10L).scanLeft(0L)((acc, i) =>
      acc + (if (i % 3 == 0) 0L else i)).tail
    assert(gotN == expN)
  }

  test("RunningSumExec r11 forms: grouped rank+sum equals the " +
    "window-per-group form across partition counts (groups spanning " +
    "partitions), double sums accumulate IEEE-sequentially, no Window or " +
    "SinglePartition in the plan") {
    import org.apache.spark.sql.expressions.{Window => W}
    import graft.plans.NativeRunningSum
    // 3 groups × ~170 rows each: at 16 partitions every group spans
    // several partitions, exercising the boundary-carry protocol
    val df = spark.range(0, 500).select(
      concat(lit("g"), (col("id") % 3).cast("string")).as("g"),
      col("id").as("rid"),
      ((col("id") * 13) % 97).as("v"),
      (((col("id") * 29) % 83).cast("double") / 7.0).as("d"))
    val w = W.partitionBy(col("g")).orderBy(col("v").asc, col("rid").asc)
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    val reference = df
      .withColumn("__rank", row_number().over(w).cast("long"))
      .withColumn("__cv", sum(col("v")).over(cum))
      .withColumn("__cd", sum(col("d")).over(cum))
      .orderBy("rid").collect().map(_.toSeq).toSeq
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (parts <- Seq(1, 4, 16)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val got = NativeRunningSum.attachAll(df, Seq("g"),
            Seq("v" -> true, "rid" -> true),
            Seq((None: Option[String]) -> "__rank",
              (Some("v"): Option[String]) -> "__cv",
              (Some("d"): Option[String]) -> "__cd"))
          .orderBy("rid").collect().map(_.toSeq).toSeq
        assert(got == reference, s"parts=$parts grouped diverged")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    val plan = NativeRunningSum.attachAll(df, Seq("g"),
        Seq("v" -> true, "rid" -> true),
        Seq((None: Option[String]) -> "__rank"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("RunningSum"), plan)
    assert(!plan.contains("SinglePartition") && !plan.contains("Window"),
      s"must not gather or window:\n$plan")
  }

  test("RunningSumExec min/max monoid form: reverse cumulative min over " +
    "a descending order equals the window form across partition counts; " +
    "an all-null prefix reports null") {
    import org.apache.spark.sql.expressions.{Window => W}
    import graft.plans.NativeRunningSum
    val df = spark.range(1, 401).select(col("id").as("rid"),
      (((col("id") * 53) % 211).cast("double") / 7.0).as("v"))
    val w = W.orderBy(col("rid").desc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val reference = df
      .withColumn("__cmin", min(col("v")).over(w))
      .withColumn("__cmax", max(col("v")).over(w))
      .orderBy("rid").collect().map(_.toSeq).toSeq
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (parts <- Seq(1, 5, 16)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val got = NativeRunningSum.attachAgg(df, Nil, Seq("rid" -> false),
            Seq((Some("v"): Option[String], "min", "__cmin"),
              (Some("v"): Option[String], "max", "__cmax")))
          .orderBy("rid").collect().map(_.toSeq).toSeq
        assert(got == reference, s"parts=$parts monoid diverged")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    // null handling: min over a prefix with no values yet is null
    val withNulls = spark.range(0, 6).select(col("id").as("rid"),
      when(col("id") < 2, lit(null).cast("double"))
        .otherwise(col("id").cast("double")).as("v"))
    val gotN = NativeRunningSum.attachAgg(withNulls, Nil,
        Seq("rid" -> true),
        Seq((Some("v"): Option[String], "min", "__m")))
      .orderBy("rid").select("__m")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(gotN.toSeq == Seq(None, None, Some(2.0), Some(2.0), Some(2.0),
      Some(2.0)))
  }

  test("GlobalRankRewrite: a SQL global row_number plans as the native " +
    "exec (no Window, no SinglePartition), values identical; " +
    "partitioned and non-row_number windows are untouched") {
    val df = spark.range(0, 300).select(col("id").as("rid"),
      ((col("id") * 23) % 71).as("v"))
    df.createOrReplaceTempView("grr_t")
    val sql = "SELECT rid, v, row_number() OVER (ORDER BY v DESC, rid) " +
      "AS rnk FROM grr_t"
    val got = spark.sql(sql)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("RunningSum"), plan)
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"),
      s"global row_number must not gather:\n$plan")
    // values equal the window semantics (computed via the exec-free
    // sort-and-zip reference)
    val ref = df.orderBy(col("v").desc, col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).zipWithIndex
      .map { case ((rid, v), i) => (rid, v, i + 1) }.toSeq
    assert(got.orderBy(col("v").desc, col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq == ref)
    // a PARTITIONED row_number keeps Spark's window machinery
    val p = spark.sql("SELECT rid, row_number() OVER (PARTITION BY v % 2 " +
      "ORDER BY rid) AS r FROM grr_t")
    assert(p.queryExecution.executedPlan.toString.contains("Window"))
    // a global SUM window keeps Spark's window machinery
    val sm = spark.sql("SELECT rid, sum(v) OVER (ORDER BY v, rid ROWS " +
      "UNBOUNDED PRECEDING) AS s FROM grr_t")
    assert(sm.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("ScaleOps kernels route through the native exec by default and " +
    "produce identical results to the DataFrame choreography") {
    val df = spark.range(0, 400).select(
      concat(lit("s"), (col("id") % 4).cast("string")).as("g"),
      col("id").as("rid"), ((col("id") * 31) % 101).as("n"))
    def viaConf[T](on: Boolean)(body: => T): T = {
      spark.conf.set("spark.graft.nativeRunningSum", on.toString)
      try body finally spark.conf.unset("spark.graft.nativeRunningSum")
    }
    val nativeG = viaConf(true)(graft.operators.ScaleOps.groupedRank(
        df, "g", Seq(col("n").asc, col("rid").asc))
      .orderBy("rid").collect().map(_.toSeq).toSeq)
    val legacyG = viaConf(false)(graft.operators.ScaleOps.groupedRank(
        df, "g", Seq(col("n").asc, col("rid").asc))
      .orderBy("rid").collect().map(_.toSeq).toSeq)
    assert(nativeG == legacyG, "groupedRank native != legacy")
    val nativeP = viaConf(true)(graft.operators.ScaleOps.tokenBudgetPack(
        df, "n", "n", "rid", budget = 5000L)
      .orderBy("rid").collect().map(_.toSeq).toSeq)
    val legacyP = viaConf(false)(graft.operators.ScaleOps.tokenBudgetPack(
        df, "n", "n", "rid", budget = 5000L)
      .orderBy("rid").collect().map(_.toSeq).toSeq)
    assert(nativeP == legacyP, "tokenBudgetPack native != legacy")
    val planStr = viaConf(true)(graft.operators.ScaleOps.groupedRank(
        df, "g", Seq(col("n").asc, col("rid").asc))
      .queryExecution.executedPlan.toString)
    assert(planStr.contains("LocalTableScan") ||
      planStr.contains("Scan ExistingRDD") || planStr.nonEmpty)
  }

  // ---- LogTable FileIndex: zone skipping through ordinary filters ----

  /** Files the executed scan actually planned (the numFiles metric of
    * every FileSourceScanExec, through AQE wrappers). Call ONCE per
    * frame: every Dataset action resets plan metrics, but numFiles is a
    * driver-side metric re-added only when the scan\u2019s lazy
    * selectedPartitions is first forced \u2014 a second action on the same
    * frame would read back 0. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan) // AQE stages are leaves; the subtree is .plan
      case o => o.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  test("LogTable.readIndexed (manifest FileIndex, r12 #4): a plain " +
    ".filter prunes files via zone maps at physical-plan time — 1-D " +
    "and conjunctive 2-D planned-file counts equal readSkipping / " +
    "readSkippingAll, values equal the full scan, and the partition " +
    "column prunes directories") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_lfidx")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    def quadrant(vLo: Int, xLo: Int, d: java.sql.Date) =
      spark.range(0, 10).select(
        concat(lit(s"q$vLo$xLo"), $"id").as("id"),
        ($"id" + vLo).cast("double").as("value"),
        ($"id" + xLo).as("x"),
        lit(d).as("start_date_oslo")).repartition(1)
    // four files tiling (value, x) ∈ {[1,10],[11,20]}² in d1, plus one
    // file in d2 (partition-pruning probe)
    LogTable.init(quadrant(1, 1, d1), root, statsCols = Seq("value", "x"))
    LogTable.append(spark, root, quadrant(1, 11, d1))
    LogTable.append(spark, root, quadrant(11, 1, d1))
    LogTable.append(spark, root, quadrant(11, 11, d1))
    LogTable.append(spark, root, quadrant(1, 1, d2))
    // 1-D: value ∈ [2, 3] admits the two vLo=1 files of d1 + the d2 file
    val oneD = LogTable.read(spark, root)
      .filter($"value".between(2.0, 3.0))
    val oneDSkip = LogTable.read(spark, root,
      scanPreds = Seq(LogTable.NumRange("value", 2.0, 3.0)))
    val oneDPlanned = plannedFiles(oneD)
    assert(oneDPlanned == oneDSkip.inputFiles.length.toLong,
      s"$oneDPlanned != ${oneDSkip.inputFiles.length}")
    assert(oneDPlanned == 3L)
    assert(oneD.select("id").as[String].collect().sorted.toSeq ==
      oneDSkip.filter($"value".between(2.0, 3.0))
        .select("id").as[String].collect().sorted.toSeq)
    // conjunctive 2-D: value ∈ [2,3] ∧ x ∈ [12,13] admits exactly the
    // (vLo=1, xLo=11) quadrant file — tighter than either 1-D probe
    val twoD = LogTable.read(spark, root)
      .filter($"value".between(2.0, 3.0) && $"x".between(12L, 13L))
    val twoDSkip = LogTable.read(spark, root, scanPreds = Seq(
      LogTable.NumRange("value", 2.0, 3.0), LogTable.NumRange("x", 12.0, 13.0)))
    val twoDPlanned = plannedFiles(twoD)
    assert(twoDPlanned == twoDSkip.inputFiles.length.toLong)
    assert(twoDPlanned == 1L, s"2-D probe planned $twoDPlanned files")
    assert(twoD.count() == 2L) // (value 2, x 12) and (value 3, x 13)
    // partition pruning: the dateCol filter plans only d2's file
    val partPruned = LogTable.read(spark, root)
      .filter($"start_date_oslo" === lit(d2))
    assert(plannedFiles(partPruned) == 1L)
    assert(partPruned.count() == 10L)
    // columns follow the recorded schema's order
    assert(LogTable.read(spark, root).columns.toSeq ==
      Seq("id", "value", "x", "start_date_oslo"))
    assert(LogTable.read(spark, root).count() == 50L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable bloom sidecars (r15): per-file membership filters " +
    "prune point lookups on SCATTERED columns zone maps cannot — " +
    "id = k / IN probes plan a strict subset through the FileIndex, " +
    "values always equal the full scan, appends and compaction carry " +
    "fresh sidecars, the DML probe narrows, declareBloomCols " +
    "enables/drops on a live table, checkpoints carry the pointer, " +
    "and vacuum sweeps unreferenced sidecar dirs") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_bloom")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      $"id",
      concat(lit("u"), $"id").as("name"),
      ($"id" % 7).cast("double").as("value"),
      lit(d).as("start_date_oslo"))
      .repartition(8) // round-robin: every file spans ~the full id range
    LogTable.init(rows(0L, 800L), root, statsCols = Seq("id"),
      bloomCols = Seq("id", "name"))
    def liveFiles(): Long = LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root))
      .parts.values.map(_.size.toLong).sum
    assert(liveFiles() == 8L)
    // like plannedFiles, but counting only the TABLE's scans — after
    // the DV delete below, the anti-join adds a sidecar parquet scan
    // that must not pollute the file counts
    def tablePlanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f)
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => scans(q.plan)
          case o => o.children.flatMap(scans)
        }
      scans(df.queryExecution.executedPlan)
        .filter(_.relation.location
          .isInstanceOf[graft.sources.LogTableFileIndex])
        .map(_.metrics("numFiles").value).sum
    }
    def probe(c: org.apache.spark.sql.Column): (Long, Seq[Long]) = {
      val df = LogTable.read(spark, root).filter(c)
      val vals = LogTable.read(spark, root).filter(c)
        .select("id").as[Long].collect().sorted.toSeq
      (tablePlanned(df), vals)
    }
    // zones are useless here (every file's id zone spans ~[0,800)) —
    // the ZONE-only planned count is all files; the bloom probe is
    // what narrows
    val (eqPlanned, eqVals) = probe($"id" === 123L)
    assert(eqVals == Seq(123L))
    assert(eqPlanned < 8L, s"bloom must narrow a point probe: $eqPlanned")
    val (namePlanned, nameVals) = probe($"name" === "u77")
    assert(nameVals == Seq(77L))
    assert(namePlanned < 8L, s"string bloom: $namePlanned")
    val (inPlanned, inVals) = probe($"id".isin(5L, 105L))
    assert(inVals == Seq(5L, 105L))
    assert(inPlanned < 8L, s"IN probe: $inPlanned")
    // an OR is not a conjunctive probe: prunes nothing, misses nothing
    val (orPlanned, orVals) = probe($"id" === 5L || $"id" === 700L)
    assert(orVals == Seq(5L, 700L))
    assert(orPlanned == 8L)
    // a definitely-absent value: (near-)empty plan, zero rows
    val (absPlanned, absVals) = probe($"id" === 999999L)
    assert(absVals.isEmpty)
    assert(absPlanned <= 1L, s"absent probe planned $absPlanned")
    // appended files get their own sidecars (pointer carried through
    // the head's declaration, no re-declare needed)
    LogTable.append(spark, root, rows(800L, 900L))
    val m2 = LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root))
    assert(m2.bloomCols == Seq("id", "name"))
    assert(m2.parts.values.flatten.forall(_.bloom.isDefined))
    val (ePlanned2, eVals2) = probe($"id" === 850L)
    assert(eVals2 == Seq(850L))
    assert(ePlanned2 < liveFiles(), s"post-append probe: $ePlanned2")
    // the DML probe narrows through the same blooms: a point DELETE
    // plans strictly fewer candidate files than the table holds
    val mD = LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root))
    val cand = LogTable.dmlCandidateFiles(spark, mD, $"id" === 123L,
      tableRoot = Some(root))
    assert(cand.size.toLong < liveFiles(),
      s"DML probe ${cand.size} of ${liveFiles()}")
    // ...and the COW merge probe collects a narrow key set and
    // bloom-probes it: candidates ⊂ the zone-only candidates (the
    // keys' [min,max] box admits whole ranges the blooms rule out)
    val updRows = Seq((7L, "u7", 0.0d),
      (850L, "u850", 0.0d)).toDF("id", "name", "value")
      .withColumn("start_date_oslo", lit(d))
    val candM = LogTable.mergeCandidateFiles(spark, root, mD,
      updRows, Seq("id")).get
    spark.conf.set("spark.graft.logtable.bloomPrune", "false")
    val candZoneOnly = LogTable.mergeCandidateFiles(spark, root, mD,
      updRows, Seq("id")).get
    spark.conf.set("spark.graft.logtable.bloomPrune", "true")
    assert(candM.size < candZoneOnly.size,
      s"merge bloom probe: ${candM.size} !< ${candZoneOnly.size}")
    LogTable.delete(spark, root, $"id" === 123L)
    assert(LogTable.read(spark, root).filter($"id" === 123L).count() == 0L)
    // deletion keeps the (superset-valid) old sidecar: the dead id
    // still bloom-hits, which only widens planning — and rows stay
    // correct
    val (_, postDel) = probe($"id" === 123L)
    assert(postDel.isEmpty)
    // checkpoint carry: pointer survives reconstruction through a
    // parquet checkpoint (+1 commit so the read path crosses it)
    LogTable.checkpoint(spark, root)
    LogTable.append(spark, root, rows(900L, 920L))
    val (cpPlanned, cpVals) = probe($"id" === 77L)
    assert(cpVals == Seq(77L))
    assert(cpPlanned < liveFiles(), s"post-checkpoint probe: $cpPlanned")
    // the zone-only baseline for the same probe (id zones DO prune
    // the disjoint-range appends; blooms narrow WITHIN the remainder)
    // — also exercises the kill-switch conf
    spark.conf.set("spark.graft.logtable.bloomPrune", "false")
    val (zoneOnly, zVals) = probe($"id" === 77L)
    spark.conf.set("spark.graft.logtable.bloomPrune", "true")
    assert(zVals == Seq(77L))
    assert(cpPlanned < zoneOnly,
      s"blooms must narrow beyond zones: $cpPlanned vs $zoneOnly")
    // drop the declaration: probes fall back to zone-only planning
    // (and stop reading sidecars), values unchanged
    LogTable.declareBloomCols(spark, root, Seq.empty)
    val (offPlanned, offVals) = probe($"id" === 77L)
    assert(offVals == Seq(77L))
    assert(offPlanned == zoneOnly, s"dropped blooms: $offPlanned")
    // re-declare (id only): full rebuild re-enables pruning
    LogTable.declareBloomCols(spark, root, Seq("id"))
    val (onPlanned, onVals) = probe($"id" === 77L)
    assert(onVals == Seq(77L))
    assert(onPlanned < zoneOnly)
    // name lost its filter under the narrower declaration: no pruning,
    // correct rows
    val (namePlanned2, nameVals2) = probe($"name" === "u88")
    assert(nameVals2 == Seq(88L))
    assert(namePlanned2 == liveFiles())
    // compaction rewrites into fresh bloom'd files
    LogTable.compact(spark, root, targetBytes = 512L * 1024 * 1024)
    val mC = LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root))
    assert(mC.parts.values.flatten.forall(_.bloom.isDefined))
    val (cPlanned, cVals) = probe($"id" === 850L)
    assert(cVals == Seq(850L))
    assert(cPlanned <= liveFiles())
    // vacuum sweeps sidecar dirs no retained manifest references —
    // but minAgeMs shields young ones (a lock-free append writes its
    // sidecar BEFORE the commit CAS, so an in-flight dir is
    // unreferenced until the commit lands)
    val before = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$root/${LogTable.BloomDirName}")).length
    assert(before > 1)
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 3600000L)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$root/${LogTable.BloomDirName}")).length == before,
      "minAgeMs must shield young unreferenced sidecar dirs")
    LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    val referenced = LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root))
      .parts.values.flatten.flatMap(_.bloom).toSet
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$root/${LogTable.BloomDirName}")).map(_.getPath.getName).toSet
    assert(after == referenced, s"$after != $referenced")
    val (vPlanned, vVals) = probe($"id" === 850L)
    assert(vVals == Seq(850L))
    assert(vPlanned <= liveFiles())
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable.convert (r15, the CONVERT TO DELTA role): an existing " +
    "Hive-partitioned parquet dir is adopted in place as v1 — zero " +
    "data files move, stats come from the SCAN path even under " +
    "footerStats=true (foreign writer), reads/pruning/DML/time-travel " +
    "all work afterwards, and non-Hive layouts fail loudly") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_conv")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    // a FOREIGN writer's layout: plain partitionBy parquet, including
    // a NaN-infected double (the footer-contract hazard)
    spark.range(0, 40).select(
      $"id".as("k"),
      when($"id" % 11 === 4, lit(Double.NaN))
        .otherwise($"id" * 2.0).as("v"),
      when($"id" < 20, lit(d1)).otherwise(lit(d2))
        .as("start_date_oslo"))
      .repartition(2)
      .write.partitionBy("start_date_oslo").parquet(root)
    val filesBefore = fs.listStatus(new org.apache.hadoop.fs.Path(
      root, s"start_date_oslo=$d1"))
      .filter(_.isFile).filterNot(_.getPath.getName.startsWith("_"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSet
    spark.conf.set("spark.graft.logtable.footerStats", "true")
    try {
      assert(LogTable.convert(spark, root,
        statsCols = Seq("k", "v")) == 1L)
    } finally spark.conf.unset("spark.graft.logtable.footerStats")
    // adopted, not rewritten
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(
      root, s"start_date_oslo=$d1"))
      .filter(_.isFile).filterNot(_.getPath.getName.startsWith("_"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSet ==
      filesBefore, "convert must not touch data files")
    // content and schema
    assert(LogTable.read(spark, root).count() == 40L)
    assert(LogTable.read(spark, root)
      .filter($"k" === 7L).select("v").as[Double].collect().toSeq ==
      Seq(14.0))
    // NaN-infected foreign files must have NO v-zone (the scan path's
    // NaN census — the footer path could not promise this for a
    // foreign writer, which is why convert forces the scan), so a
    // one-sided probe above the clean range still returns every NaN
    // row through the pruned plan
    val m1 = LogTable.manifest(spark, root, 1L)
    assert(m1.action == "convert")
    assert(m1.parts.values.flatten.exists(f => !f.zones.contains("v")),
      "no adopted file dropped its v zone — NaN census missing")
    assert(m1.parts.values.flatten.forall(_.zones.contains("k")))
    val nanProbe = LogTable.read(spark, root)
      .filter($"v" >= 1000.0).select("k").as[Long].collect().sorted
    assert(nanProbe.toSeq ==
      LogTable.read(spark, root).filter($"v" >= 1000.0)
        .select("k").as[Long].collect().sorted.toSeq)
    assert(nanProbe.nonEmpty, "the NaN rows must survive pruning")
    // partition pruning through the adopted layout
    val d2Scan = LogTable.read(spark, root)
      .filter($"start_date_oslo" === lit(d2))
    assert(d2Scan.count() == 20L)
    // the table is now an ordinary logtable: append + DV delete +
    // time travel
    LogTable.append(spark, root, Seq((100L, 1.0, d1))
      .toDF("k", "v", "start_date_oslo"))
    LogTable.delete(spark, root, $"k" === 3L)
    assert(LogTable.read(spark, root).count() == 40L) // +1 −1
    assert(LogTable.read(spark, root, Some(1L)).count() == 40L)
    // loud contracts: double convert, and a non-Hive layout
    intercept[IllegalArgumentException] {
      LogTable.convert(spark, root)
    }
    val flat = java.nio.file.Files.createTempDirectory("graft_convflat")
      .toString + "/t"
    spark.range(0, 5).select($"id".as("k"), lit(d1).as("start_date_oslo"))
      .write.parquet(flat) // NOT partitioned: files sit at the root
    intercept[Exception] {
      LogTable.convert(spark, flat)
    }
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
    fs.delete(new org.apache.hadoop.fs.Path(flat).getParent, true)
  }

  test("LogTable.readIndexed prunes on DATE zone predicates (typed " +
    "zones through the FileIndex): a date between-filter plans exactly " +
    "the files readSkippingStr plans") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_lfidxd")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def month(m: Int, tag: String) = spark.range(1, 11).select(
      concat(lit(tag), $"id").as("id"),
      date_add(lit(f"2024-$m%02d-01").cast("date"),
        ($"id" - 1).cast("int")).as("event_date"),
      lit(d).as("start_date_oslo")).repartition(1)
    LogTable.init(month(1, "a"), root, statsCols = Seq("event_date"))
    LogTable.append(spark, root, month(2, "b"))
    LogTable.append(spark, root, month(3, "c"))
    val feb = LogTable.read(spark, root)
      .filter($"event_date".between(
        lit("2024-02-01").cast("date"), lit("2024-02-28").cast("date")))
    val febSkip = LogTable.read(spark, root, scanPreds = Seq(
      LogTable.StrRange("event_date", "2024-02-01", "2024-02-28")))
    val febPlanned = plannedFiles(feb)
    assert(febPlanned == febSkip.inputFiles.length.toLong)
    assert(febPlanned == 1L, s"date zones planned $febPlanned files")
    assert(feb.count() == 10L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable.read generality (r13 #5) + scoped DV anti-join " +
    "(r13 #3): an empty version returns the schema'd empty frame, a " +
    "non-default partition column works, and scanPreds shrink the " +
    "deletion-vector scan with the file set — identical rows, fewer " +
    "planned files") {
    import graft.operators.LogTable
    import graft.operators.LogTable.NumRange
    val root = java.nio.file.Files.createTempDirectory("graft_lfigen")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d1 = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = spark.range(lo, hi + 1).select(
      $"id".cast("long").as("k"),
      $"id".cast("double").as("value"),
      lit(d1).as("event_date")).repartition(1)
    // non-default partition column end to end
    LogTable.init(batch(1, 10), root, dateCol = "event_date",
      statsCols = Seq("k"))
    LogTable.append(spark, root, batch(11, 20), dateCol = "event_date")
    LogTable.append(spark, root, batch(21, 30), dateCol = "event_date")
    assert(LogTable.read(spark, root).count() == 30L)
    // two deletes -> two per-file vectors (file2's and file3's)
    LogTable.delete(spark, root, col("k") === 15L)
    LogTable.delete(spark, root, col("k") === 25L)
    val m = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
    assert(m.parts.values.flatten.count(_.dv.isDefined) == 2)
    // scanPreds admit only the middle file -> only ITS vector rides
    val scoped = graft.sources.LogTableScan.admittedParts(m,
      Seq(NumRange("k", 11.0, 20.0)))
    assert(scoped.values.flatten.map(_.file).toSeq.size == 1)
    assert(scoped.values.flatten.flatMap(_.dv).toSeq.size == 1)
    // end to end: same rows as the classic path, strictly fewer
    // planned files (base scan prunes EITHER way via the pushed
    // filter; only the DV side differs)
    val unscoped = LogTable.read(spark, root)
      .filter($"k".between(11L, 20L))
    val withPreds = LogTable.read(spark, root,
      scanPreds = Seq(NumRange("k", 11.0, 20.0)))
      .filter($"k".between(11L, 20L))
    assert(withPreds.select("k").as[Long].collect().sorted.toSeq ==
      unscoped.select("k").as[Long].collect().sorted.toSeq)
    val (pU, pS) = (plannedFiles(unscoped), plannedFiles(withPreds))
    assert(pS < pU, s"scoped DV scan must plan fewer files ($pS !< $pU)")
    // preds that admit nothing: the schema'd empty frame
    assert(LogTable.read(spark, root,
      scanPreds = Seq(NumRange("k", 500.0, 600.0))).count() == 0L)
    // a fully-emptied version reads as the schema'd empty frame
    LogTable.removePartitions(spark, root,
      Seq("event_date=2024-01-01"))
    val empty = LogTable.read(spark, root)
    assert(empty.columns.toSeq == Seq("k", "value", "event_date"))
    assert(empty.count() == 0L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("logtable()/logtable_changes() SQL table functions (r13 #8): " +
    "VERSION and TIMESTAMP AS OF resolve through pure SQL, the feed " +
    "equals the Column-API changes, and malformed calls fail loudly") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_tvf")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def batch(lo: Int, hi: Int) = spark.range(lo, hi + 1).select(
      $"id".as("k"), ($"id" * 2).as("v"),
      lit(d).as("start_date_oslo")).repartition(1)
    LogTable.init(batch(1, 5), root, statsCols = Seq("k"))
    Thread.sleep(5)
    val tMid = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(5)
    LogTable.append(spark, root, batch(6, 10))
    LogTable.delete(spark, root, col("k") === 7L)
    // latest, VERSION AS OF, TIMESTAMP AS OF — all pure SQL
    assert(spark.sql(s"SELECT count(*) FROM logtable('$root')")
      .collect().head.getLong(0) == 9L)
    assert(spark.sql(s"SELECT count(*) FROM logtable('$root', 1)")
      .collect().head.getLong(0) == 5L)
    assert(spark.sql(
      s"SELECT count(*) FROM logtable('$root', '$tMid')")
      .collect().head.getLong(0) == 5L)
    // WHERE on the TVF pushes into the FileIndex like LogTable.read
    assert(spark.sql(
      s"SELECT sum(v) FROM logtable('$root') WHERE k BETWEEN 2 AND 4")
      .collect().head.getLong(0) == 18L)
    // the SQL feed equals the Column-API feed
    val sqlFeed = spark.sql(
      s"""SELECT k, _change_type, n_rows FROM logtable_changes('$root', 2, 3)
         |ORDER BY k""".stripMargin).collect().toSeq
    val apiFeed = LogTable.changes(spark, root, 2L, 3L)
      .select("k", "_change_type", "n_rows").orderBy("k")
      .collect().toSeq
    assert(sqlFeed == apiFeed)
    assert(sqlFeed.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((7L, "delete")))
    // options-map second argument (r14 #8): the same knobs without
    // positional guessing
    assert(spark.sql(
      s"SELECT count(*) FROM logtable('$root', map('versionAsOf', '1'))")
      .collect().head.getLong(0) ==
      spark.sql(s"SELECT count(*) FROM logtable('$root', 1)")
        .collect().head.getLong(0))
    assert(spark.sql(
      s"""SELECT count(*) FROM
         |logtable('$root', map('timestampAsOf', '$tMid'))"""
        .stripMargin).collect().head.getLong(0) == 5L)
    intercept[Exception] { // unknown option key
      spark.sql(s"SELECT * FROM logtable('$root', map('nope', '1'))")
        .collect()
    }
    intercept[Exception] { // mutually exclusive knobs
      spark.sql(s"SELECT * FROM logtable('$root', " +
        "map('versionAsOf', '1', 'timestampAsOf', '2024-01-01'))")
        .collect()
    }
    // loud failures: wrong arity, non-literal path, bad timestamp
    intercept[Exception] {
      spark.sql(s"SELECT * FROM logtable('$root', 1, 2, 3)").collect()
    }
    intercept[Exception] {
      spark.sql(s"SELECT * FROM logtable('$root', 'not-a-time')")
        .collect()
    }
    intercept[Exception] {
      spark.sql(s"SELECT * FROM logtable_changes('$root', 1)").collect()
    }
    // the commit log through SQL (r15): one row per retained version,
    // ops and file deltas as committed, txn tags ride `action`
    val hist = spark.sql(
      s"""SELECT version, op, n_added_files, n_removed_files
         |FROM logtable_history('$root') ORDER BY version""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(hist == Seq((1L, "init", 1L, 0L), (2L, "append", 1L, 0L),
      (3L, "delete", 1L, 1L)), hist)
    // commit timestamps are non-decreasing and real
    val ts = spark.sql(
      s"SELECT commit_ts FROM logtable_history('$root') ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    assert(ts == ts.sorted && ts.forall(_ > 0L))
    // a txn-tagged commit surfaces its raw action
    LogTable.append(spark, root, batch(11, 12), txnId = Some("h1"))
    assert(spark.sql(
      s"SELECT action FROM logtable_history('$root') WHERE version = 4")
      .collect().head.getString(0) == "append:txn=h1")
    intercept[Exception] { // wrong arity
      spark.sql(s"SELECT * FROM logtable_history('$root', 1)").collect()
    }
    // keyed CDF classification through SQL (r15): the k=7 DV delete
    // between v2 and v3 is a one-sided key — a plain delete
    val keyedSql = spark.sql(
      s"""SELECT k, _change_type
         |FROM logtable_changes_keyed('$root', 2, 3, 'k')"""
        .stripMargin).collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq
    assert(keyedSql == Seq((7L, "delete")), keyedSql)
    intercept[Exception] { // key list must be a string literal
      spark.sql(s"SELECT * FROM logtable_changes_keyed('$root', 2, 3, 7)")
        .collect()
    }
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("bloom pruning reaches the writer option and the by-name SQL " +
    "surface (r15): df.write.option(bloomCols) declares filters at " +
    "create, and a catalog table's WHERE id = k plans a pruned scan " +
    "through the shared FileIndex") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_blsql")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    spark.range(0, 400).select($"id",
      lit(d).as("start_date_oslo"))
      .repartition(8)
      .write.format("logtable").option("bloomCols", "id").save(root)
    val m = LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root))
    assert(m.bloomCols == Seq("id"))
    assert(m.parts.values.flatten.forall(_.bloom.isDefined))
    spark.sql("DROP TABLE IF EXISTS graft_blsql")
    spark.sql(s"CREATE TABLE graft_blsql USING logtable LOCATION '$root'")
    val q = spark.sql("SELECT id FROM graft_blsql WHERE id = 123")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(123L))
    assert(plannedFiles(spark.sql(
      "SELECT id FROM graft_blsql WHERE id = 123")) < 8L,
      "by-name SQL point probe must prune through the blooms")
    spark.sql("DROP TABLE graft_blsql")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("logtable DataSource + catalog surface (r14 directive #1): " +
    "format('logtable') reads plan the manifest FileIndex (pruned " +
    "numFiles), AS OF options time-travel, writes route through the " +
    "manifest, CREATE TABLE ... USING logtable + INSERT INTO/" +
    "OVERWRITE + SELECT by name all work, DV'd snapshots read " +
    "exactly, and misuse fails loudly") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_dsrc")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-02-01")
    def slice(tag: String, d: java.sql.Date, lo: Long) =
      spark.range(0, 10).select(
        concat(lit(tag), $"id").as("id"),
        ($"id" + lo).as("v"),
        lit(d).as("start_date_oslo")).repartition(1)
    // writer path: first write inits (with stats option), appends add
    slice("a", d1, 1L).write.format("logtable")
      .option("statsCols", "v").mode("append").save(root)
    slice("b", d2, 11L).write.format("logtable").mode("append").save(root)
    assert(TableLog.currentVersion(spark, root) == 2L)
    // reader path: values = the API read, AS OF options work
    val viaDs = spark.read.format("logtable").load(root)
    assert(viaDs.count() == 20L)
    assert(viaDs.columns.sorted.toSeq ==
      LogTable.read(spark, root).columns.sorted.toSeq)
    assert(spark.read.format("logtable").option("versionAsOf", "1")
      .load(root).count() == 10L)
    // timestampAsOf rendered IN THE SESSION ZONE (ADVICE r14: the JVM
    // default zone must not leak in), one day ahead → latest version
    val sessZone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val tFut = java.time.LocalDateTime.ofInstant(
      java.time.Instant.now.plusSeconds(86400), sessZone).format(
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    assert(spark.read.format("logtable")
      .option("timestampAsOf", tFut).load(root).count() == 20L)
    // the parse itself is session-zone semantics: the same literal
    // moves by the zone offset
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = graft.sources.LogTableSource
        .parseSessionTs(spark, "2024-06-01 12:00:00")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val ny = graft.sources.LogTableSource
        .parseSessionTs(spark, "2024-06-01 12:00:00")
      assert(ny - utc == 4L * 3600 * 1000, // EDT = UTC-4 in June
        s"session timezone must drive TIMESTAMP AS OF: $utc vs $ny")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
    intercept[Exception] {
      spark.read.format("logtable").option("versionAsOf", "1")
        .option("timestampAsOf", "2024-01-01").load(root).collect()
    }
    intercept[Exception] { // no path
      spark.read.format("logtable").load()
    }
    // WHERE pruning through the DataSource: one file of two
    val pruned = viaDs.filter($"v" >= 12L)
    assert(plannedFiles(pruned) == 1L,
      "pushed WHERE must prune via zone maps through format('logtable')")
    // catalog surface: named table + SQL DML
    spark.sql("DROP TABLE IF EXISTS graft_cat_t")
    spark.sql(s"CREATE TABLE graft_cat_t USING logtable LOCATION '$root'")
    assert(spark.sql("SELECT count(*) FROM graft_cat_t")
      .head.getLong(0) == 20L)
    spark.sql("INSERT INTO graft_cat_t VALUES " +
      s"('x1', 100, DATE'2024-03-01')")
    assert(TableLog.currentVersion(spark, root) == 3L,
      "INSERT INTO must commit through the manifest")
    assert(spark.sql("SELECT v FROM graft_cat_t WHERE id = 'x1'")
      .head.getLong(0) == 100L)
    // pruned SELECT by name (the x219 shape, through the catalog)
    val byName = spark.sql("SELECT id FROM graft_cat_t WHERE v >= 100")
    byName.collect()
    assert(spark.sql("SELECT count(*) FROM graft_cat_t")
      .head.getLong(0) == 21L)
    // a bare-parquet bypass would have left the manifest at v3 with
    // invisible files; prove reads come from the manifest alone
    assert(LogTable.read(spark, root).count() == 21L)
    // DV'd snapshot by name: delete two rows, the rule discharges the
    // anti-join — values equal LogTable.read
    LogTable.delete(spark, root, $"v".isin(3L, 13L))
    assert(spark.read.format("logtable").load(root).count() == 19L)
    assert(spark.sql("SELECT count(*) FROM graft_cat_t")
      .head.getLong(0) == 19L)
    assert(spark.table("graft_cat_t").select("id").as[String]
      .collect().sorted.toSeq ==
      LogTable.read(spark, root).select("id").as[String]
        .collect().sorted.toSeq)
    // INSERT OVERWRITE = one atomic manifest swap
    spark.sql("INSERT OVERWRITE graft_cat_t VALUES " +
      "('z1', 7, DATE'2024-04-01'), ('z2', 8, DATE'2024-04-02')")
    assert(spark.table("graft_cat_t").select("id").as[String]
      .collect().sorted.toSeq == Seq("z1", "z2"))
    // ... and the pre-overwrite state still time-travels
    val vPrev = TableLog.currentVersion(spark, root) - 1
    assert(LogTable.read(spark, root, Some(vPrev)).count() == 19L)
    // overwrite via the writer API too
    slice("w", d1, 1L).write.format("logtable").mode("overwrite")
      .save(root)
    assert(spark.table("graft_cat_t").count() == 10L)
    // CTAS: CREATE TABLE ... USING logtable ... AS SELECT — the
    // CreatableRelationProvider path seeds a fresh manifest table
    val root2 = root + "_ctas"
    spark.sql("DROP TABLE IF EXISTS graft_cat_ctas")
    spark.sql(s"CREATE TABLE graft_cat_ctas USING logtable " +
      s"LOCATION '$root2' AS SELECT * FROM graft_cat_t WHERE v <= 5")
    assert(TableLog.currentVersion(spark, root2) == 1L,
      "CTAS must land as a manifest init")
    assert(spark.table("graft_cat_ctas").count() ==
      spark.table("graft_cat_t").filter($"v" <= 5L).count())
    assert(LogTable.read(spark, root2).columns.sorted.toSeq ==
      spark.table("graft_cat_t").columns.sorted.toSeq)
    spark.sql("DROP TABLE graft_cat_ctas")
    spark.sql("DROP TABLE graft_cat_t")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("SQL row-level DML on a named logtable (r15): DELETE FROM / " +
    "UPDATE / MERGE INTO rewrite into the manifest DML ops with " +
    "Column-API-exact semantics, time travel sees every pre-DML " +
    "state, and unsupported shapes fail loudly") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_sqldml")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    val rows = spark.range(0, 10).select(
      concat(lit("e"), $"id").as("id"), $"id".as("v"),
      lit(d).as("start_date_oslo"))
    LogTable.init(rows.repartition(2), root, statsCols = Seq("v"))
    spark.sql("DROP TABLE IF EXISTS graft_dml_t")
    spark.sql(s"CREATE TABLE graft_dml_t USING logtable LOCATION '$root'")
    // DELETE: a DV commit, rows gone by name AND by API
    spark.sql("DELETE FROM graft_dml_t WHERE v >= 8")
    assert(TableLog.currentVersion(spark, root) == 2L)
    assert(spark.table("graft_dml_t").count() == 8L)
    assert(LogTable.read(spark, root).count() == 8L)
    // UPDATE: atomic DV + re-insert; expression over table columns
    spark.sql("UPDATE graft_dml_t SET v = v + 100 WHERE id = 'e1'")
    assert(spark.sql(
      "SELECT v FROM graft_dml_t WHERE id = 'e1'").head.getLong(0)
      == 101L)
    assert(spark.table("graft_dml_t").count() == 8L)
    // MERGE INTO: keyed upsert, SET * / INSERT * — e2 updates, n1
    // inserts
    spark.sql("DROP VIEW IF EXISTS graft_dml_src")
    Seq(("e2", 222L, d), ("n1", 500L, d))
      .toDF("id", "v", "start_date_oslo")
      .createOrReplaceTempView("graft_dml_src")
    spark.sql(
      """MERGE INTO graft_dml_t t USING graft_dml_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft_dml_t").count() == 9L)
    assert(spark.sql(
      "SELECT v FROM graft_dml_t WHERE id = 'e2'").head.getLong(0)
      == 222L)
    assert(spark.sql(
      "SELECT v FROM graft_dml_t WHERE id = 'n1'").head.getLong(0)
      == 500L)
    // equality with the Column-API state
    assert(spark.table("graft_dml_t").select("id", "v")
      .as[(String, Long)].collect().toSet ==
      LogTable.read(spark, root).select("id", "v")
        .as[(String, Long)].collect().toSet)
    // every pre-DML version still time-travels
    assert(LogTable.read(spark, root, Some(1L)).count() == 10L)
    assert(LogTable.read(spark, root, Some(2L)).count() == 8L)
    // unsupported shapes fail loudly, and the table is untouched
    val vStable = TableLog.currentVersion(spark, root)
    intercept[Exception] { // subquery condition
      spark.sql("DELETE FROM graft_dml_t WHERE v IN " +
        "(SELECT v FROM graft_dml_src)")
    }
    intercept[Exception] { // non-equality ON
      spark.sql(
        """MERGE INTO graft_dml_t t USING graft_dml_src s
          |ON t.v < s.v
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(TableLog.currentVersion(spark, root) == vStable)
    spark.sql("DROP TABLE graft_dml_t")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("SQL MERGE, reference-M1 shape (r15 verdict #5): explicit " +
    "source-only UPDATE assignments, INSERT *, and WHEN NOT MATCHED " +
    "BY SOURCE AND <window> THEN DELETE land as ONE atomic commit — " +
    "matched-in-window rows replace (never delete), unmatched " +
    "in-window rows drop, out-of-window rows survive; a non-DELETE " +
    "not-matched-by-source action fails loudly") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_m1sql")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val din = java.sql.Date.valueOf("2024-01-05")  // inside the window
    val dout = java.sql.Date.valueOf("2024-02-01") // outside
    // e1: matched, in window  → replaced by the UPDATE assignments
    // e2: unmatched, in window → deleted by the windowed guard
    // e3: unmatched, outside   → survives
    // n1: source-only          → inserted
    Seq(("e1", 1L, din), ("e2", 2L, din), ("e3", 3L, dout))
      .toDF("id", "v", "start_date_oslo")
      .createOrReplaceTempView("graft_m1sql_seed")
    LogTable.init(spark.table("graft_m1sql_seed").repartition(1), root,
      statsCols = Seq("v"))
    spark.sql("DROP TABLE IF EXISTS graft_m1sql_t")
    spark.sql(s"CREATE TABLE graft_m1sql_t USING logtable " +
      s"LOCATION '$root'")
    Seq(("e1", 100L, din), ("n1", 500L, din))
      .toDF("id", "v", "start_date_oslo")
      .createOrReplaceTempView("graft_m1sql_src")
    val vPre = TableLog.currentVersion(spark, root)
    spark.sql(
      """MERGE INTO graft_m1sql_t T USING graft_m1sql_src S
        |ON T.id = S.id
        |WHEN MATCHED THEN UPDATE SET
        |  v = S.v + 1, start_date_oslo = S.start_date_oslo
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE
        |  AND T.start_date_oslo BETWEEN DATE '2024-01-01'
        |                            AND DATE '2024-01-31'
        |THEN DELETE""".stripMargin)
    // ONE commit: upsert + windowed delete are atomic
    assert(TableLog.currentVersion(spark, root) == vPre + 1,
      "the tri-action MERGE must be a single commit")
    val got = spark.table("graft_m1sql_t").select("id", "v")
      .as[(String, Long)].collect().toMap
    assert(got == Map("e1" -> 101L, "e3" -> 3L, "n1" -> 500L), got)
    // the pre-merge state still time-travels
    assert(LogTable.read(spark, root, Some(vPre))
      .select("id").as[String].collect().toSet ==
      Set("e1", "e2", "e3"))
    // partial SET, target-referencing assignments and NMBS UPDATE are
    // SUPPORTED since r17 (the generic-MERGE spec below exercises
    // them); the remaining loud rejection here: an NMBS assignment
    // reading the SOURCE row (there is none on that side)
    val vStable = TableLog.currentVersion(spark, root)
    intercept[Exception] {
      spark.sql(
        """MERGE INTO graft_m1sql_t T USING graft_m1sql_src S
          |ON T.id = S.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = S.v""".stripMargin)
    }
    assert(TableLog.currentVersion(spark, root) == vStable,
      "rejected statements must not commit")
    spark.sql("DROP TABLE graft_m1sql_t")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("SQL MERGE generic forms (r16 verdict #3): conditional " +
    "matched UPDATE and DELETE, PARTIAL SET keeping target values, " +
    "target-referencing assignments, first-match-wins across " +
    "multiple clauses, conditional INSERT — one atomic commit, " +
    "unclassified rows untouched") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_gmrg")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d1 = java.sql.Date.valueOf("2024-01-05")
    val d2 = java.sql.Date.valueOf("2024-02-01")
    // e1: matched, S.v > T.v      → conditional partial UPDATE
    // e2: matched, S.v < 0        → conditional DELETE
    // e3: matched, neither true   → UNTOUCHED
    // e4: matched, BOTH true      → first clause (DELETE) wins
    // n1: unmatched, S.v > 100    → conditional INSERT
    // n2: unmatched, S.v <= 100   → NOT inserted
    Seq(("e1", 1L, d1), ("e2", 2L, d1), ("e3", 300L, d2),
      ("e4", -10L, d1))
      .toDF("id", "v", "start_date_oslo")
      .createOrReplaceTempView("graft_gmrg_seed")
    LogTable.init(spark.table("graft_gmrg_seed").repartition(1), root,
      statsCols = Seq("v"))
    spark.sql("DROP TABLE IF EXISTS graft_gmrg_t")
    spark.sql(s"CREATE TABLE graft_gmrg_t USING logtable " +
      s"LOCATION '$root'")
    Seq(("e1", 100L, d1), ("e2", -1L, d1), ("e3", 5L, d1),
      ("e4", -5L, d1), ("n1", 500L, d1), ("n2", 7L, d1))
      .toDF("id", "v", "start_date_oslo")
      .createOrReplaceTempView("graft_gmrg_src")
    val vPre = TableLog.currentVersion(spark, root)
    spark.sql(
      """MERGE INTO graft_gmrg_t T USING graft_gmrg_src S
        |ON T.id = S.id
        |WHEN MATCHED AND S.v < 0 THEN DELETE
        |WHEN MATCHED AND S.v > T.v THEN UPDATE SET v = S.v + T.v
        |WHEN NOT MATCHED AND S.v > 100 THEN INSERT *""".stripMargin)
    assert(TableLog.currentVersion(spark, root) == vPre + 1,
      "the generic MERGE must land as ONE atomic commit")
    val got = spark.table("graft_gmrg_t")
      .select("id", "v", "start_date_oslo")
      .as[(String, Long, java.sql.Date)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      "e1" -> ((101L, d1)), // partial SET: v updated, date kept
      "e3" -> ((300L, d2)), // matched, no clause true → untouched
      "n1" -> ((500L, d1))  // conditional insert
    ), got.toString)
    // first-match-wins: e4 satisfied BOTH clauses and was deleted
    assert(!got.contains("e4") && !got.contains("e2") &&
      !got.contains("n2"))
    // the pre-merge state still time-travels
    assert(LogTable.read(spark, root, Some(vPre))
      .select("id").as[String].collect().toSet ==
      Set("e1", "e2", "e3", "e4"))
    // a second identical merge is a no-op on the matched side (e1's
    // S.v=100 is no longer > T.v=101) and re-inserts nothing
    spark.sql(
      """MERGE INTO graft_gmrg_t T USING graft_gmrg_src S
        |ON T.id = S.id
        |WHEN MATCHED AND S.v < 0 THEN DELETE
        |WHEN MATCHED AND S.v > T.v THEN UPDATE SET v = S.v + T.v
        |WHEN NOT MATCHED AND S.v > 100 THEN INSERT *""".stripMargin)
    val got2 = spark.table("graft_gmrg_t").select("id", "v")
      .as[(String, Long)].collect().toMap
    // e2/e4 unmatched now; n1 matched with S.v=500 == T.v=500 → no
    // clause fires; e1: 100 > 101 false → untouched
    assert(got2 == Map("e1" -> 101L, "e3" -> 300L, "n1" -> 500L), got2)
    // NOT MATCHED BY SOURCE on the generic path (r17 review): a
    // matched row whose conditional clauses all failed is UNTOUCHED,
    // not "unmatched" — the windowed delete must claim only rows with
    // NO source match (e5, target-only, in window)
    spark.sql(
      "INSERT INTO graft_gmrg_t VALUES ('e5', 9, DATE '2024-01-05')")
    spark.sql(
      """MERGE INTO graft_gmrg_t T USING graft_gmrg_src S
        |ON T.id = S.id
        |WHEN MATCHED AND S.v > T.v THEN UPDATE SET v = S.v
        |WHEN NOT MATCHED BY SOURCE
        |  AND T.start_date_oslo = DATE '2024-01-05'
        |THEN DELETE""".stripMargin)
    val got3 = spark.table("graft_gmrg_t").select("id", "v")
      .as[(String, Long)].collect().toMap
    // e1/n1 are matched-in-window with no fired clause — they SURVIVE
    // untouched; e5 (unmatched, in window) is deleted
    assert(got3 == Map("e1" -> 101L, "e3" -> 300L, "n1" -> 500L),
      s"matched-but-unclassified rows must survive the windowed " +
        s"delete: $got3")
    // NMBS UPDATE (r17): unmatched-by-source rows can be REWRITTEN,
    // and clause ORDER composes first-match-wins — e7 satisfies both
    // NMBS clauses and takes the UPDATE (listed first); e6 satisfies
    // only the DELETE
    spark.sql(
      "INSERT INTO graft_gmrg_t VALUES " +
        "('e6', 50, DATE '2024-01-05'), ('e7', 60, DATE '2024-01-05')")
    spark.sql(
      """MERGE INTO graft_gmrg_t T USING graft_gmrg_src S
        |ON T.id = S.id
        |WHEN MATCHED AND S.v > T.v THEN UPDATE SET v = S.v
        |WHEN NOT MATCHED BY SOURCE AND T.v > 55
        |  THEN UPDATE SET v = T.v + 1000
        |WHEN NOT MATCHED BY SOURCE
        |  AND T.start_date_oslo = DATE '2024-01-05'
        |THEN DELETE""".stripMargin)
    val got4 = spark.table("graft_gmrg_t").select("id", "v")
      .as[(String, Long)].collect().toMap
    assert(got4 == Map("e1" -> 101L, "e3" -> 300L, "n1" -> 500L,
      "e7" -> 1060L),
      s"NMBS update/delete first-match-wins: $got4")
    // delete-only MERGE with a KEYS-ONLY source (no update/insert
    // clause): the source carries nothing but the key, and the write
    // frame must take the TARGET's shape
    Seq("e1").toDF("id").createOrReplaceTempView("graft_gmrg_delsrc")
    spark.sql(
      """MERGE INTO graft_gmrg_t T USING graft_gmrg_delsrc S
        |ON T.id = S.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.table("graft_gmrg_t").select("id").as[String]
      .collect().toSet == Set("e3", "n1", "e7"),
      "keys-only delete-only MERGE must drop exactly its key")
    // key reassignment still fails loudly
    val vStable = TableLog.currentVersion(spark, root)
    intercept[Exception] {
      spark.sql(
        """MERGE INTO graft_gmrg_t T USING graft_gmrg_src S
          |ON T.id = S.id
          |WHEN MATCHED THEN UPDATE SET id = concat(S.id, '_x')
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(TableLog.currentVersion(spark, root) == vStable)
    spark.sql("DROP TABLE graft_gmrg_t")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("MERGE NOT MATCHED BY SOURCE generalizes to N clauses (r17 " +
    "verdict #7): two conditional UPDATEs + a DELETE compose " +
    "first-match-wins in ONE commit, and the per-column fold keeps " +
    "columns the claiming clause does not assign") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_nmbs")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-05")
    // m1: matched            → matched UPDATE
    // u1: NMBS, v > 1500     → clause A (v += 1); ALSO satisfies B —
    //                          first-match-wins, so w stays
    // u2: NMBS, 800 < v      → clause B (w += 5); v stays
    // u3: NMBS, v < 650      → clause C DELETE
    // u4: NMBS, none true    → untouched
    Seq(("m1", 10L, 100L, d), ("u1", 2000L, 100L, d),
      ("u2", 1000L, 100L, d), ("u3", 600L, 100L, d),
      ("u4", 700L, 100L, d))
      .toDF("id", "v", "w", "start_date_oslo")
      .createOrReplaceTempView("graft_nmbs_seed")
    LogTable.init(spark.table("graft_nmbs_seed").repartition(1), root,
      statsCols = Seq("v"))
    spark.sql("DROP TABLE IF EXISTS graft_nmbs_t")
    spark.sql(s"CREATE TABLE graft_nmbs_t USING logtable " +
      s"LOCATION '$root'")
    Seq(("m1", 999L, 100L, d))
      .toDF("id", "v", "w", "start_date_oslo")
      .createOrReplaceTempView("graft_nmbs_src")
    val vPre = TableLog.currentVersion(spark, root)
    spark.sql(
      """MERGE INTO graft_nmbs_t T USING graft_nmbs_src S
        |ON T.id = S.id
        |WHEN MATCHED AND S.v > T.v THEN UPDATE SET v = S.v
        |WHEN NOT MATCHED BY SOURCE AND T.v > 1500
        |  THEN UPDATE SET v = T.v + 1
        |WHEN NOT MATCHED BY SOURCE AND T.v > 800
        |  THEN UPDATE SET w = T.w + 5
        |WHEN NOT MATCHED BY SOURCE AND T.v < 650
        |THEN DELETE""".stripMargin)
    assert(TableLog.currentVersion(spark, root) == vPre + 1,
      "N-clause NMBS must land as ONE atomic commit")
    val got = spark.table("graft_nmbs_t").select("id", "v", "w")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      "m1" -> ((999L, 100L)),  // matched update
      "u1" -> ((2001L, 100L)), // clause A; B suppressed, w kept
      "u2" -> ((1000L, 105L)), // clause B; v kept
      "u4" -> ((700L, 100L))   // unclaimed → untouched
    ), got.toString)
    // pre-merge state still time-travels
    assert(LogTable.read(spark, root, Some(vPre))
      .select("id").as[String].collect().toSet ==
      Set("m1", "u1", "u2", "u3", "u4"))
    spark.sql("DROP TABLE graft_nmbs_t")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("ALTER TABLE ADD COLUMNS on a logtable (r18): a METADATA-ONLY " +
    "commit evolves the schema add-only — no file is touched, old " +
    "rows null-fill, inserts with the new column work, time travel " +
    "keeps the old schema, and duplicate / NOT NULL columns are " +
    "rejected loudly") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_alter")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-05")
    LogTable.init(Seq(("e1", 1L, d), ("e2", 2L, d))
      .toDF("id", "v", "start_date_oslo").repartition(1), root)
    spark.sql("DROP TABLE IF EXISTS graft_alter_t")
    spark.sql(s"CREATE TABLE graft_alter_t USING logtable " +
      s"LOCATION '$root'")
    val vPre = TableLog.currentVersion(spark, root)
    def liveFiles(): Set[String] =
      LogTable.manifest(spark, root,
          TableLog.currentVersion(spark, root))
        .parts.toSeq.flatMap { case (p, fl) =>
          fl.map(f => s"$p/${f.file}") }.toSet
    val filesPre = liveFiles()
    spark.sql(
      "ALTER TABLE graft_alter_t ADD COLUMNS (note STRING, n BIGINT)")
    assert(TableLog.currentVersion(spark, root) == vPre + 1,
      "ALTER must land as ONE commit")
    assert(liveFiles() == filesPre,
      "ALTER must be metadata-only — no file re-pointed or written")
    // old rows null-fill through the by-name read (catalog followed)
    val got = spark.sql(
      "SELECT id, v, note, n FROM graft_alter_t ORDER BY id")
      .as[(String, Long, Option[String], Option[Long])].collect().toSeq
    assert(got == Seq(("e1", 1L, None, None), ("e2", 2L, None, None)),
      got.toString)
    // inserts may now carry the new columns
    // the evolved catalog schema orders the partition column LAST
    // (data schema ++ partition schema) — positional VALUES follow it
    spark.sql("INSERT INTO graft_alter_t VALUES " +
      "('e3', 3, 'x', 30, DATE '2024-01-05')")
    val got2 = spark.sql(
      "SELECT note, n FROM graft_alter_t WHERE id = 'e3'")
      .as[(Option[String], Option[Long])].collect().toSeq
    assert(got2 == Seq((Some("x"), Some(30L))), got2.toString)
    // time travel still reads the PRE-alter schema
    assert(LogTable.read(spark, root, Some(vPre)).columns.toSeq ==
      Seq("id", "v", "start_date_oslo"))
    // duplicate column → loud, nothing committed
    val vStable = TableLog.currentVersion(spark, root)
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE graft_alter_t ADD COLUMNS (v BIGINT)"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    // NOT NULL → loud (existing files null-fill, so nullable only;
    // Spark's own v1 ALTER path already rejects it upstream, and the
    // rule's guard backstops any path that slips through)
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE graft_alter_t ADD COLUMNS (m BIGINT NOT NULL)"))
    assert(e2.getMessage.contains("nullable") ||
      e2.getMessage.contains("NOT NULL"), e2.getMessage)
    assert(TableLog.currentVersion(spark, root) == vStable)
    // a non-logtable table keeps Spark's own handling (parquet is
    // whitelisted there — the statement must still work)
    spark.sql("DROP TABLE IF EXISTS graft_alter_pq")
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft_alter_pq").toString + "/p"
    spark.sql(s"CREATE TABLE graft_alter_pq (a INT) USING parquet " +
      s"LOCATION '$pqDir'")
    spark.sql("ALTER TABLE graft_alter_pq ADD COLUMNS (b STRING)")
    assert(spark.table("graft_alter_pq").columns.toSeq ==
      Seq("a", "b"))
    spark.sql("DROP TABLE graft_alter_pq")
    spark.sql("DROP TABLE graft_alter_t")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
    fs.delete(new org.apache.hadoop.fs.Path(pqDir).getParent, true)
  }

  test("SQL MERGE lost-race attempts free their checkpoint blocks " +
    "(r16 directive #5 spec-pin): a forced CAS retry leaves exactly " +
    "as many persistent RDDs as an unraced merge, and " +
    "freeLocalCheckpoint is a no-op on a non-checkpointed plan") {
    import graft.operators.{LogTable, TableLog}
    // no-op on a plan that is not a LogicalRDD checkpoint
    org.apache.spark.sql.graftshim.PlanShim.freeLocalCheckpoint(
      Seq(1).toDF("x")) // must not throw
    val d = java.sql.Date.valueOf("2024-01-05")
    def mkTable(tag: String): String = {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_race_$tag").toString + "/t"
      LogTable.init(Seq(("e1", 1L, d), ("e2", 2L, d))
        .toDF("id", "v", "start_date_oslo").repartition(1), root)
      spark.sql(s"DROP TABLE IF EXISTS graft_race_$tag")
      spark.sql(s"CREATE TABLE graft_race_$tag USING logtable " +
        s"LOCATION '$root'")
      root
    }
    // conditional clause → the generic path, which pins its
    // classification frames with localCheckpoint(true)
    def mergeSql(tag: String): String =
      s"""MERGE INTO graft_race_$tag T USING graft_race_src S
         |ON T.id = S.id
         |WHEN MATCHED AND S.v > T.v THEN UPDATE SET v = S.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    Seq(("e1", 100L, d), ("n1", 5L, d))
      .toDF("id", "v", "start_date_oslo")
      .createOrReplaceTempView("graft_race_src")
    def persisted(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    // unraced baseline: how many blocks one clean attempt leaves
    val rootA = mkTable("a")
    val beforeA = persisted()
    spark.sql(mergeSql("a"))
    val deltaA = (persisted() -- beforeA).size
    // raced: a one-shot hook lands a concurrent append between the
    // merge's snapshot and its commit → CAS conflict → one stale
    // attempt that must free updates/mCls/iCls AND the aborted
    // merge's own key-frame pins
    val rootB = mkTable("b")
    val beforeB = persisted()
    @volatile var fired = false
    TableLog.dmlCommitHook = { action =>
      if (!fired && action.startsWith("merge")) {
        fired = true
        LogTable.append(spark, rootB, Seq(("x9", 9L, d))
          .toDF("id", "v", "start_date_oslo"))
      }
    }
    try spark.sql(mergeSql("b"))
    finally TableLog.dmlCommitHook = _ => ()
    assert(fired, "the race-window hook must have fired")
    // unpersist is async (blocking = false): poll until converged
    val deadline = System.currentTimeMillis() + 20000L
    var deltaB = (persisted() -- beforeB).size
    while (deltaB > deltaA && System.currentTimeMillis() < deadline) {
      Thread.sleep(100L); deltaB = (persisted() -- beforeB).size
    }
    assert(deltaB == deltaA,
      s"the raced merge must not leak stale-attempt checkpoint " +
        s"blocks: raced delta $deltaB vs clean delta $deltaA")
    // and the retry converged on the RIGHT result: clause semantics
    // applied on the post-append head, the raced row intact
    val got = spark.table("graft_race_b").select("id", "v")
      .as[(String, Long)].collect().toMap
    assert(got == Map("e1" -> 100L, "e2" -> 2L, "n1" -> 5L,
      "x9" -> 9L), got.toString)
    Seq("a", "b").foreach(t => spark.sql(s"DROP TABLE graft_race_$t"))
    Seq(rootA, rootB).foreach { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
    }
  }

  test("SQL time travel on named logtables (r15 verdict missing #4): " +
    "VERSION AS OF and TIMESTAMP AS OF resolve through the manifest " +
    "FileIndex with zone pruning intact, a DV'd head still applies " +
    "its vectors, a shadowing temp view falls through to Spark's own " +
    "error, and a pre-history timestamp fails loudly") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_sqltt")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    def rows(lo: Int, hi: Int) = spark.range(lo, hi).select(
      concat(lit("e"), $"id").as("id"), $"id".as("v"),
      lit(d).as("start_date_oslo"))
    LogTable.init(rows(0, 10).repartition(1), root,
      statsCols = Seq("v"))                                     // v1
    LogTable.append(spark, root, rows(10, 20).repartition(1))   // v2
    spark.sql("DROP TABLE IF EXISTS graft_tt_t")
    spark.sql(s"CREATE TABLE graft_tt_t USING logtable LOCATION '$root'")
    spark.sql("DELETE FROM graft_tt_t WHERE v >= 15")           // v3
    // every state by name + temporal syntax
    assert(spark.sql("SELECT count(*) FROM graft_tt_t VERSION AS OF 1")
      .head.getLong(0) == 10L)
    assert(spark.sql("SELECT count(*) FROM graft_tt_t VERSION AS OF 2")
      .head.getLong(0) == 20L)
    assert(spark.sql("SELECT count(*) FROM graft_tt_t").head.getLong(0)
      == 15L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_tt_t TIMESTAMP AS OF '2099-01-01'")
      .head.getLong(0) == 15L, "a future timestamp reads the head " +
        "(with its deletion vectors applied)")
    // zone pruning survives the temporal path: a band probe on the
    // stats column plans ONE of v2's two files
    val banded = spark.sql(
      "SELECT count(*) AS n FROM graft_tt_t VERSION AS OF 2 " +
        "WHERE v BETWEEN 12 AND 13")
    assert(banded.collect().head.getLong(0) == 2L)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(f)
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case o => o.children.flatMap(scans)
      }
    assert(scans(banded.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum == 1L,
      "zone maps must prune through VERSION AS OF")
    // a temp view shadowing the name falls through to Spark's own
    // (loud) handling — the rule must not reach past the view
    spark.range(3).createOrReplaceTempView("graft_tt_shadow")
    intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_tt_shadow VERSION AS OF 1").collect()
    }
    // a timestamp before the oldest retained commit fails loudly
    intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_tt_t TIMESTAMP AS OF '1999-01-01'")
        .collect()
    }
    spark.sql("DROP TABLE graft_tt_t")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("LogTable multi-column partitioning (r14 verdict missing #4): " +
    "a region/date two-level layout prunes directories on BOTH " +
    "columns through the FileIndex (numFiles-asserted), zone maps " +
    "stay orthogonal, readIndexed ≡ read+filter, and DV-backed " +
    "delete + merge key rows by the FULL partition path") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_mlpart")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    // "eu west" exercises Spark's path escaping on the string level
    def slice(r: String, d: java.sql.Date, vLo: Long) =
      spark.range(0, 10).select(
        concat(lit(s"$r/$d/"), $"id").as("id"),
        ($"id" + vLo).as("v"),
        lit(r).as("region"),
        lit(d).as("start_date_oslo")).repartition(1)
    val pc = "region,start_date_oslo"
    LogTable.init(slice("eu west", d1, 1L), root, dateCol = pc,
      statsCols = Seq("v"))
    LogTable.append(spark, root, slice("eu west", d2, 11L), dateCol = pc)
    LogTable.append(spark, root, slice("us", d1, 21L), dateCol = pc)
    LogTable.append(spark, root, slice("us", d2, 31L), dateCol = pc)
    // the manifest keys are two-level col=value paths
    val m = LogTable.manifest(spark, root,
      graft.operators.TableLog.currentVersion(spark, root))
    assert(m.parts.keySet == Set(
      s"region=eu west/start_date_oslo=$d1",
      s"region=eu west/start_date_oslo=$d2",
      s"region=us/start_date_oslo=$d1",
      s"region=us/start_date_oslo=$d2"), m.parts.keySet.toString)
    def all = LogTable.read(spark, root)
    assert(all.count() == 40L)
    // directory pruning, level 1: one region → 2 of 4 files
    assert(plannedFiles(all.filter($"region" === "eu west")) == 2L)
    // both levels → exactly 1 file
    val one = all.filter($"region" === "us" &&
      $"start_date_oslo" === lit(d2))
    assert(plannedFiles(one) == 1L)
    // zone maps stay orthogonal to the directory levels: v ∈ [22, 23]
    // admits only the (us, d1) file by zones alone
    assert(plannedFiles(all.filter($"v".between(22L, 23L))) == 1L)
    // a pruned scan ≡ the filter over an unpruned (checkpointed) scan
    // on a mixed predicate
    val p = $"region" === "eu west" && $"v" >= 12L
    assert(all.filter(p).select("id").as[String].collect().sorted.toSeq
      == all.localCheckpoint().filter(p).select("id").as[String]
        .collect().sorted.toSeq)
    // DV delete on a multi-level table: identities carry the full
    // partition path (a 2-segment tail would collide across regions)
    LogTable.delete(spark, root, $"v" % 10L === 5L) // one row per file
    assert(LogTable.read(spark, root).count() == 36L)
    // merge replaces a matched row in its (region, date) leaf only
    val upd = slice("us", d2, 31L).filter($"id".endsWith("/3"))
      .withColumn("v", lit(999L))
    val vBefore = graft.operators.TableLog.currentVersion(spark, root)
    LogTable.merge(spark, root, upd, Seq("id"), dateCol = pc)
    val got = LogTable.read(spark, root)
      .filter($"id" === s"us/$d2/3").select("v").as[Long].collect()
    assert(got.toSeq == Seq(999L))
    assert(LogTable.read(spark, root).count() == 36L)
    // time travel still sees the pre-merge state
    assert(LogTable.read(spark, root, Some(vBefore))
      .filter($"id" === s"us/$d2/3").select("v").as[Long]
      .collect().toSeq == Seq(34L))
    // vacuum sweeps retired files out of the nested layout and keeps
    // every live leaf intact
    val (_, reclaimed) = LogTable.vacuum(spark, root, keepLast = 1, minAgeMs = 0L)
    assert(reclaimed >= 1, s"vacuum reclaimed $reclaimed")
    assert(LogTable.read(spark, root).count() == 36L)
    assert(LogTable.read(spark, root)
      .filter($"region" === "eu west").count() == 18L)
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("MERGE WITH SCHEMA EVOLUTION (r17 verdict missing #2): a new " +
    "source column evolves the table add-only — star shape widens, " +
    "survivors and pre-existing files null-fill, the generic " +
    "conditional path sees the new column as __t_ null, and the " +
    "keyword-less merge still rejects extra columns loudly") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_mse")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    LogTable.init((1 to 6).map(i => (s"e$i", i * 10L, d))
      .toDF("id", "cents", "start_date_oslo"), root)
    spark.sql("DROP TABLE IF EXISTS graft_mse")
    spark.sql(s"CREATE TABLE graft_mse USING logtable LOCATION '$root'")
    // source carries a NEW column `note`
    Seq(("e2", 999L, d, "upd"), ("e9", 90L, d, "new"))
      .toDF("id", "cents", "start_date_oslo", "note")
      .createOrReplaceTempView("graft_mse_src")
    // without the keyword: loud reject, table untouched
    val e = intercept[Exception](spark.sql(
      """MERGE INTO graft_mse T USING graft_mse_src S ON T.id = S.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("column") ||
      e.getMessage.contains("SCHEMA"), e.getMessage)
    assert(LogTable.read(spark, root).columns.toSeq ==
      Seq("id", "cents", "start_date_oslo"))
    // star shape + evolution: matched row takes the source note,
    // unmatched-by-source survivors null-fill it, insert lands whole
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft_mse T
        |USING graft_mse_src S ON T.id = S.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(
      "SELECT id, cents, note FROM graft_mse ORDER BY id")
      .as[(String, Long, Option[String])].collect().toSeq
    assert(got == Seq(("e1", 10L, None), ("e2", 999L, Some("upd")),
      ("e3", 30L, None), ("e4", 40L, None), ("e5", 50L, None),
      ("e6", 60L, None), ("e9", 90L, Some("new"))), got.toString)
    // pre-evolution versions still read with their own schema
    assert(LogTable.read(spark, root, Some(1L)).columns.toSeq ==
      Seq("id", "cents", "start_date_oslo"))
    // explicit lists stay STRICT even under the keyword: an
    // assignment KEY naming a not-yet-existing column is rejected by
    // Spark's own resolver (assignment-key evolution is DSv2-only)
    Seq(("e3", 333L, d, Option.empty[String], true),
        ("e2", 1L, d, Some("x"), true))
      .toDF("id", "cents", "start_date_oslo", "note", "flag")
      .createOrReplaceTempView("graft_mse_src2")
    val e2 = intercept[Exception](spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft_mse T
        |USING graft_mse_src2 S ON T.id = S.id
        |WHEN MATCHED THEN UPDATE SET bogus = S.flag""".stripMargin))
    assert(e2.getMessage.toLowerCase.contains("bogus"), e2.getMessage)
    // generic CONDITIONAL star + a SECOND new column (flag): the
    // conditional clause routes down the generic path, the condition
    // reads the first-round-evolved column's __t_ side (null-filled
    // for rows whose files predate it), and the star widens to flag
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft_mse T
        |USING graft_mse_src2 S ON T.id = S.id
        |WHEN MATCHED AND T.note IS NULL THEN UPDATE SET *""".stripMargin)
    val got2 = spark.sql(
      "SELECT id, cents, note, flag FROM graft_mse ORDER BY id")
      .as[(String, Long, Option[String], Option[Boolean])].collect()
      .toSeq
    assert(got2 == Seq(
      ("e1", 10L, None, None),
      ("e2", 999L, Some("upd"), None), // note set -> condition false
      ("e3", 333L, None, Some(true)),  // updated + evolved flag
      ("e4", 40L, None, None), ("e5", 50L, None, None),
      ("e6", 60L, None, None), ("e9", 90L, Some("new"), None)),
      got2.toString)
    // idempotent re-merge with the keyword and NO new columns: plain
    // merge semantics, no spurious schema commit
    val ddlBefore = LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root)).schemaDdl
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft_mse T
        |USING graft_mse_src2 S ON T.id = S.id
        |WHEN MATCHED AND T.note IS NULL THEN UPDATE SET *""".stripMargin)
    assert(LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root)).schemaDdl == ddlBefore)
    spark.sql("DROP TABLE graft_mse")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }

  test("SQL maintenance TVFs (r17 verdict missing #1): compact / " +
    "zorder / vacuum / restore run by NAME or path, return receipt " +
    "rows, EXPLAIN never executes them, and a non-logtable name " +
    "fails loudly") {
    import graft.operators.{LogTable, TableLog}
    val root = java.nio.file.Files.createTempDirectory("graft_sqlmnt")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    // x decorrelated from value: correlated axes collapse onto the
    // curve diagonal and fill fewer cells than filesPerPartition
    def slice(m: Int) = (1 to 40).filter(_ % 4 == m)
      .map(i => (s"e$i", (i * 17L) % 40L, i.toDouble, d))
      .toDF("id", "x", "value", "start_date_oslo")
    LogTable.init(slice(0).repartition(1), root,
      statsCols = Seq("value", "x"))
    (1 to 3).foreach(m =>
      LogTable.append(spark, root, slice(m).repartition(1)))
    spark.sql("DROP TABLE IF EXISTS graft_sqlmnt")
    spark.sql(s"CREATE TABLE graft_sqlmnt USING logtable LOCATION '$root'")
    val before = LogTable.read(spark, root).select("id").as[String]
      .collect().toSet
    def liveFiles(): Int = LogTable.manifest(spark, root,
      TableLog.currentVersion(spark, root)).parts.values.map(_.size).sum
    assert(liveFiles() == 4)
    // EXPLAIN constructs the command but must NOT run it
    val v0 = TableLog.currentVersion(spark, root)
    spark.sql("EXPLAIN SELECT * FROM logtable_compact('graft_sqlmnt', 8)")
      .collect()
    assert(TableLog.currentVersion(spark, root) == v0,
      "EXPLAIN must not execute maintenance")
    // compact BY NAME: 4 small files pack to 1; receipt = the version
    val cv = spark.sql(
      "SELECT * FROM logtable_compact('graft_sqlmnt', 8)")
      .as[Long].collect()
    assert(cv.toSeq == Seq(v0 + 1) && liveFiles() == 1)
    // zorder BY PATH with explicit bits: files carry tight zones
    val zv = spark.sql(
      s"SELECT * FROM logtable_zorder('$root', 'value,x', 4, 6)")
      .as[Long].collect()
    assert(zv.toSeq == Seq(v0 + 2) && liveFiles() == 4)
    assert(LogTable.read(spark, root,
      scanPreds = Seq(LogTable.NumRange("value", 2.0, 3.0)))
      .inputFiles.length < 4, "zorder must tighten value zones")
    // restore to the compacted state (a NEW commit; nothing deleted)
    val rv = spark.sql(
      s"SELECT * FROM logtable_restore('graft_sqlmnt', ${v0 + 1})")
      .as[Long].collect()
    assert(rv.toSeq == Seq(v0 + 3) && liveFiles() == 1)
    assert(LogTable.read(spark, root).select("id").as[String]
      .collect().toSet == before)
    // vacuum with the age shield disabled: only the live file remains
    // physically; receipt = (dropped versions, deleted files)
    val vac = spark.sql(
      "SELECT * FROM logtable_vacuum('graft_sqlmnt', 1, 0)")
      .as[(Long, Long)].collect()
    assert(vac.length == 1 && vac.head._1 == (v0 + 2) &&
      vac.head._2 >= 4, s"vacuum receipt: ${vac.toSeq}")
    val physical = fs.listStatus(new org.apache.hadoop.fs.Path(root,
      s"start_date_oslo=$d")).count(st =>
      !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
    assert(physical == 1, s"physical files after vacuum: $physical")
    assert(LogTable.read(spark, root).select("id").as[String]
      .collect().toSet == before)
    // a name that is not a logtable fails loudly, not as a mis-read
    spark.range(1).createOrReplaceTempView("graft_sqlmnt_view")
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM logtable_compact('graft_sqlmnt_view', 8)").collect())
    assert(e.getMessage.contains("logtable"), e.getMessage)
    spark.sql("DROP TABLE graft_sqlmnt")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }
}
