package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{LogTable, Multimodal}
import graft.streaming.Streams

/** Structured-Streaming re-expression of the refresh loop and the
  * multimodal binary plumbing.
  */
class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed agg over a bounded file stream equals the batch agg") {
    val dir = Files.createTempDirectory("graft_stream_in").toString
    val events = Seq(
      (1L, "2024-01-01 10:10:00", "click", 1.0),
      (2L, "2024-01-01 10:40:00", "click", 2.0),
      (3L, "2024-01-01 11:05:00", "view", 3.0),
      (4L, "2024-01-01 11:20:00", "click", 4.0)
    ).toDF("event_id", "ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    events.write.mode("overwrite").parquet(dir)

    val out = Streams.runWindowedAggAvailableNow(spark, dir, "*.parquet",
      events.schema)
      .orderBy("window_start", "event_type")
      .select($"window_start".cast("string"), $"event_type", $"n", $"total_value")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("2024-01-01 10:00:00", "click", 2L, 3.0),
      ("2024-01-01 11:00:00", "click", 1L, 4.0),
      ("2024-01-01 11:00:00", "view", 1L, 3.0)))
  }

  test("streaming seasonal anomaly: hourly stream counts + static baseline " +
    "gate equal the hand computation") {
    val dir = Files.createTempDirectory("graft_stream_in").toString
    // train: Mondays Jan 1 + Jan 8 at 10h, two events each (base_n=4,
    // n_days=2); eval: Monday Jan 15 10h ×5 (5·2 > 2·4 → anomaly) and
    // 11h ×1 (unseen bucket on trained dow → anomaly)
    val events = Seq(
      (1L, "2024-01-01 10:05:00", 1.0), (2L, "2024-01-01 10:35:00", 1.0),
      (3L, "2024-01-08 10:05:00", 1.0), (4L, "2024-01-08 10:35:00", 1.0),
      (5L, "2024-01-15 10:01:00", 1.0), (6L, "2024-01-15 10:02:00", 1.0),
      (7L, "2024-01-15 10:03:00", 1.0), (8L, "2024-01-15 10:04:00", 1.0),
      (9L, "2024-01-15 10:05:00", 1.0),
      (10L, "2024-01-15 11:01:00", 1.0)
    ).toDF("event_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    events.write.mode("overwrite").parquet(dir)
    val out = Streams.runSeasonalAnomalyAvailableNow(spark, dir, "*.parquet",
      events.schema, events, "2024-01-15 00:00:00", 2)
      .orderBy("window_start")
      .select($"window_start".cast("string"), $"n", $"base_n", $"n_days",
        $"is_anomaly")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      ("2024-01-15 10:00:00", 5L, 4L, 2L, true),
      ("2024-01-15 11:00:00", 1L, 0L, 2L, true)))
  }

  test("streaming PSI: identical live/baseline mixes score 0; day with a " +
    "novel bin reports it skipped") {
    val dir = Files.createTempDirectory("graft_stream_in").toString
    // baseline (before Jan 15): values 10 ×2, 30 ×2 → bins 0,1
    // day 1 (Jan 15): same mix → psi 0, used 2, skipped 0
    // day 2 (Jan 16): 10, 50 → bin 2 novel (skipped), bin 1 ref-only
    val events = Seq(
      (1L, "2024-01-10 10:00:00", 10.0), (2L, "2024-01-10 11:00:00", 10.0),
      (3L, "2024-01-11 10:00:00", 30.0), (4L, "2024-01-11 11:00:00", 30.0),
      (5L, "2024-01-15 10:00:00", 10.0), (6L, "2024-01-15 11:00:00", 10.0),
      (7L, "2024-01-15 12:00:00", 30.0), (8L, "2024-01-15 13:00:00", 30.0),
      (9L, "2024-01-16 10:00:00", 10.0), (10L, "2024-01-16 11:00:00", 50.0)
    ).toDF("event_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    events.write.mode("overwrite").parquet(dir)
    val out = Streams.runWindowedPsiAvailableNow(spark, dir, "*.parquet",
      events.schema, events, loCents = 0L, widthCents = 2000L, nBins = 18,
      cutoff = "2024-01-15 00:00:00")
      .orderBy("window_start")
      .select($"window_start".cast("string"), $"n_ref", $"n_cur",
        $"n_bins_used", $"n_bins_skipped", $"psi")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("2024-01-15 00:00:00", 4L, 4L, 2L, 0L, 0.0),
      // day 2: bin0 both (t≠0), bin1 ref-only, bin2 live-only → 2 skipped
      ("2024-01-16 00:00:00", 4L, 2L, 1L, 2L,
        BigDecimal((0.5 - 0.5) * math.log(1.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("stream-stream LEFT OUTER join: matches emit, old unmatched flush, young unmatched hold") {
    val dir = Files.createTempDirectory("graft_ssjo_in").toString
    val rows = Seq(
      // purchase with a view 10 min earlier -> matched, emits regardless of age
      (1L, "2024-01-01 10:00:00", 7L, "view", 1.0),
      (2L, "2024-01-01 10:10:00", 7L, "purchase", 5.0),
      // old unmatched purchase: watermark (max ts - 1h) passes it -> null row
      (3L, "2024-01-01 09:00:00", 8L, "purchase", 2.0),
      // young unmatched purchase within the last hour -> verdict held back
      (4L, "2024-01-01 11:50:00", 9L, "purchase", 3.0),
      // late view advancing the clock on both inputs
      (5L, "2024-01-01 12:00:00", 6L, "view", 0.5)
    ).map { case (id, ts, u, t0, v) => (id, ts, u, t0, v, "{}") }
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.write.mode("append").parquet(dir)
    val out = Streams.runStreamStreamJoinAvailableNow(spark, dir, "*.parquet",
      rows.schema, lookbackMinutes = 30,
      joinType = "leftOuter", watermarkDelay = "1 hour")
      .select($"purchase_id", $"view_id")
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
    // wm = min(max purchase 11:50, max view 12:00) - 1h = 10:50:
    // p2 matched (emits), p3 (09:00) < wm -> null row, p4 (11:50) held
    assert(out == Seq((2L, Some(1L)), (3L, None)))
  }

  test("streaming histogram percentiles equal the batch sketch on the same data") {
    val dir = Files.createTempDirectory("graft_hist_in").toString
    val rows = ((1 to 500).map(i => (i.toLong, "2024-01-01 10:05:00", i.toLong)) ++
      (1 to 300).map(i => (500L + i, "2024-01-01 11:15:00", (2 * i).toLong)))
      .map { case (id, ts, v) => (id, ts, 1L, "e", v / 100.0, "{}") }
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.write.mode("append").parquet(dir)
    val cents = floor(col("value") * 100).cast("long")
    val got = Streams.runWindowedPercentilesAvailableNow(spark, dir,
      "*.parquet", rows.schema, cents, 0L, 8L, 128,
      Seq(("p50", 0.5), ("p90", 0.9)))
      .orderBy("window_start")
      .select($"window_start".cast("string"), $"n_rows", $"p50", $"p90")
      .as[(String, Long, Long, Long)].collect().toSeq
    val batch = spark.read.parquet(dir)
      .select(date_trunc("hour", $"ts").as("w"), cents.as("c"))
    val exp = graft.operators.Analytics.approxPercentilesBinned(
      batch, Seq("w"), $"c", nBins = 128, Seq(("p50", 0.5), ("p90", 0.9)))
    // NOTE: the batch operator derives width from global min/max ((600-1)/128+1
    // = 5, not the stream's fixed 8) — so compare against percentilesFromHist
    // over the same fixed domain instead, the exact contract st10 grades
    val hist = batch
      .select($"w", expr("least(greatest(c - 0L, 0L) div 8L, 127L)").as("__bin"))
      .groupBy($"w", $"__bin").agg(count(lit(1)).as("__cnt"))
    val exp2 = graft.operators.Analytics.percentilesFromHist(hist, Seq("w"),
      0L, 8L, Seq(("p50", 0.5), ("p90", 0.9)))
      .orderBy("w")
      .select($"w".cast("string"), $"n_rows", $"p50", $"p90")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == exp2)
    // uniform 1..500 cents in hour 10: p50 within one 8-cent bin of 250
    assert(math.abs(got.head._3 - 250L) <= 8)
    assert(exp.count() == 2) // the batch variant still runs on this shape
  }

  test("streaming CMS registers equal the batch count table; estimates bound exact") {
    val dir = Files.createTempDirectory("graft_cms_in").toString
    val rows = ((1 to 60).map(i => (i.toLong, "2024-01-01 10:05:00", (i % 7).toLong)) ++
      (1 to 40).map(i => (100L + i, "2024-01-01 11:15:00", (i % 3).toLong)))
      .map { case (id, ts, u) => (id, ts, u, "e", 1.0, "{}") }
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.write.mode("append").parquet(dir)
    val probes = Seq(0L, 1L, 2L, 6L)
    val got = Streams.runWindowedCmsAvailableNow(spark, dir, "*.parquet",
      rows.schema, col("user_id"), depth = 3, width = 64, probes)
      .orderBy("window_start", "probe_key")
      .select($"window_start".cast("string"), $"probe_key", $"cms_count")
      .as[(String, Long, Long)].collect().toSeq
    // every (window, probe) cell present, incl. zero rows (user 6 in h11)
    assert(got.size == 8)
    val exact = rows.filter($"user_id".isin(probes: _*))
      .groupBy(date_trunc("hour", $"ts").cast("string").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    got.foreach { case (w, k, est) =>
      val ex = exact.getOrElse((w, k), 0L)
      assert(est >= ex, s"($w,$k): est=$est < exact=$ex")
    }
    // user 6 never appears in hour 11 -> its estimate can only be collisions
    val h11u6 = got.find(t => t._1.startsWith("2024-01-01 11") && t._2 == 6L).get
    assert(h11u6._3 <= 40L)
  }

  test("streaming HLL registers equal the batch sketch and finalize identically") {
    val dir = Files.createTempDirectory("graft_hll_in").toString
    // two hourly windows, duplicated ids across files (at-least-once
    // redelivery): the register max must absorb replays
    val mk = (ids: Seq[Long], ts: String) => ids.map(i => (i, ts, "e", 1.0))
      .toDF("event_id", "ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val f1 = mk(1L to 2000L, "2024-01-01 10:10:00")
    val f2 = mk(1000L to 3000L, "2024-01-01 10:40:00") // overlap 1000-2000
      .union(mk(1L to 2000L, "2024-01-01 11:20:00"))
    f1.write.mode("append").parquet(dir)
    f2.write.mode("append").parquet(dir)
    val est = Streams.runWindowedHllAvailableNow(spark, dir, "*.parquet",
      f1.schema, "event_id", 9)
      .orderBy("window_start")
      .select($"window_start".cast("string"), $"hll_distinct")
      .as[(String, Double)].collect().toSeq
    val batch = spark.read.parquet(dir)
      .select(date_trunc("hour", $"ts").as("w"), $"event_id")
    val exp = graft.operators.Analytics.hllDistinct(batch, Seq("w"), "event_id", 9)
      .orderBy("w").select($"w".cast("string"), $"hll_distinct")
      .as[(String, Double)].collect().toSeq
    assert(est == exp)
    assert(est.map(_._1) == Seq("2024-01-01 10:00:00", "2024-01-01 11:00:00"))
    // sanity (both windows above the 2.5m raw-HLL floor): 3000 and 2000
    assert(math.abs(est(0)._2 - 3000) / 3000.0 < 0.19)
    assert(math.abs(est(1)._2 - 2000) / 2000.0 < 0.19)
  }

  test("streaming dedup drops duplicate keys across a bounded stream") {
    val dir = Files.createTempDirectory("graft_dedup_in").toString
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 5.0),
      (1L, "2024-01-01 10:00:00", 5.0), // exact duplicate
      (1L, "2024-01-01 10:05:00", 6.0), // same KEY, different ts — still a dup
      (2L, "2024-01-01 11:00:00", 7.0)
    ).toDF("id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    events.write.mode("overwrite").parquet(dir)
    val ckpt = Files.createTempDirectory("graft_ckpt3").toString
    val q = Streams.streamingDedup(
        spark.readStream.schema(events.schema).parquet(dir), Seq("id"), "ts")
      .writeStream.format("memory").queryName("graft_dedup_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("graft_dedup_sink").orderBy("id")
      .select($"id", $"value").as[(Long, Double)].collect().toSeq
    spark.catalog.dropTempView("graft_dedup_sink")
    // exactly one survivor per key; WHICH same-key row survives follows
    // arrival order within the batch (nondeterministic across partitions)
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(Set(5.0, 6.0).contains(out(0)._2))
    assert(out(1)._2 == 7.0)
  }

  test("event-time sessionization equals batch SQL under maxFilesPerTrigger=1") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_et_in")
    def eventsDf(rows: Seq[(Long, String, Long, Double)]) =
      rows.toDF("event_id", "ts_s", "user_id", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    // file 1: user 7 starts a session; user 9 a session that will stay
    // file 2: extends user 7's open session ACROSS the batch boundary
    //         (10:30 is within the 60 m gap of 10:00) and starts a new one
    // file 3: sentinel far in the future — seals everything
    val f1 = eventsDf(Seq((1L, "2024-01-01 10:00:00", 7L, 1.0),
      (4L, "2024-01-01 09:00:00", 9L, 8.0)))
    val f2 = eventsDf(Seq((2L, "2024-01-01 10:30:00", 7L, 2.0),
      (3L, "2024-01-01 12:00:00", 7L, 4.0)))
    val f3 = eventsDf(Seq((99L, "2024-01-03 00:00:00", -1L, 0.0)))
    for ((df, i) <- Seq(f1, f2, f3).zipWithIndex) {
      val sub = dir.resolve(s"f$i").toString
      df.coalesce(1).write.parquet(sub)
      // file source processes oldest-mtime first: pin the order
      val part = new java.io.File(sub).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      part.setLastModified(1700000000000L + i * 10000L)
    }
    val ckpt = Files.createTempDirectory("graft_ckpt_et").toString
    val stream = spark.readStream.schema(f1.schema)
      .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true")
      .parquet(dir.toString)
    val q = Streams.sessionizeEventTime(spark, stream, gapMinutes = 60,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("graft_et_sink")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("graft_et_sink")
      .filter($"user_id" =!= -1L)
      .orderBy("user_id", "session_id")
      .select($"user_id", $"session_id", $"n", $"total_value")
      .as[(Long, Int, Long, Double)].collect().toSeq
    spark.catalog.dropTempView("graft_et_sink")
    // equals the single-batch (= batch SQL) sessionization of the same data
    val batch = Streams.sessionize(spark,
      f1.unionByName(f2), gapMinutes = 60)
      .orderBy("user_id", "session_id")
      .select($"user_id", $"session_id", $"n", $"total_value")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out == batch)
    assert(out == Seq((7L, 1, 2L, 3.0), (7L, 2, 1L, 4.0), (9L, 1, 1L, 8.0)))
  }

  test("event-time sessionization runner: multi-file input with cross-file " +
    "out-of-order events still equals batch SQL (sentinel published only " +
    "after the real files drain)") {
    val dir = Files.createTempDirectory("graft_et2_in")
    def eventsDf(rows: Seq[(Long, String, Long, Double)]) =
      rows.toDF("event_id", "ts_s", "user_id", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    // file A (processed first): LATER events; file B: EARLIER events for
    // the same user — if the sentinel shared a batch with file A, the
    // watermark would jump and file B's events would be dropped as late
    val fA = eventsDf(Seq((3L, "2024-01-01 12:00:00", 7L, 4.0),
      (4L, "2024-01-01 11:00:00", 8L, 8.0)))
    val fB = eventsDf(Seq((1L, "2024-01-01 10:00:00", 7L, 1.0),
      (2L, "2024-01-01 10:30:00", 7L, 2.0)))
    for ((df, i) <- Seq(fA, fB).zipWithIndex) {
      val sub = dir.resolve(s"g$i")
      df.coalesce(1).write.parquet(sub.toString)
      val part = new java.io.File(sub.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = dir.resolve(s"ev$i.parquet")
      Files.move(part.toPath, dest)
      dest.toFile.setLastModified(1700000000000L + i * 10000L)
    }
    val ckpt = Files.createTempDirectory("graft_ckpt_et2").toString
    val out = Streams.runSessionizeEventTimeAvailableNow(spark, dir.toString,
      "ev*.parquet", fA.schema, gapMinutes = 60, "graft_et2_sink", ckpt)
      .orderBy("user_id", "session_id")
      .select($"user_id", $"session_id", $"n", $"total_value")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out == Seq((7L, 1, 2L, 3.0), (7L, 2, 1L, 4.0), (8L, 1, 1L, 8.0)))
  }

  test("event-time sessionization with a production watermark delay seals " +
    "sessions MID-STREAM (bounded state, no sentinel)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_et3_in")
    def eventsDf(rows: Seq[(Long, String, Long, Double)]) =
      rows.toDF("event_id", "ts_s", "user_id", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    // user 7's session ends 10:10; by file f2 the watermark (10 min delay)
    // is far past 10:10 + gap, so 7 must emit while f3 is still unread.
    // user 9's session (14:00) is never sealed by the watermark → stays in
    // state, proving retention is (delay + gap)-bounded, not stream-length.
    val files = Seq(
      eventsDf(Seq((1L, "2024-01-01 10:00:00", 7L, 1.0),
        (2L, "2024-01-01 10:10:00", 7L, 2.0))),
      eventsDf(Seq((3L, "2024-01-01 12:00:00", 8L, 4.0))),
      eventsDf(Seq((4L, "2024-01-01 12:05:00", 8L, 1.0))),
      eventsDf(Seq((5L, "2024-01-01 14:00:00", 9L, 8.0))))
    for ((df, i) <- files.zipWithIndex) {
      val sub = dir.resolve(s"f$i").toString
      df.coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      part.setLastModified(1700000000000L + i * 10000L)
    }
    val ckpt = Files.createTempDirectory("graft_ckpt_et3").toString
    val stream = spark.readStream.schema(files.head.schema)
      .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true")
      .parquet(dir.toString)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Long)]()
    val q = Streams.sessionizeEventTime(spark, stream, gapMinutes = 60,
        watermarkDelay = "10 minutes")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val rows = batch.select($"user_id", $"session_id", $"n")
          .as[(Long, Int, Long)].collect()
        emitted.synchronized {
          emitted ++= rows.map(r => (batchId, r._1, r._2, r._3))
        }
        ()
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = emitted.synchronized(emitted.toList)
    val maxBatch = out.map(_._1).max
    val u7 = out.filter(_._2 == 7L)
    // user 7 sealed and emitted mid-stream: strictly before the last batch
    // that produced output, with the correct merged span (n = 2)
    assert(u7 == List((u7.head._1, 7L, 1, 2L)))
    assert(u7.head._1 < maxBatch,
      s"user 7 should seal mid-stream, not in the final batch ($out)")
    // user 9 is younger than (delay + gap): held open, never emitted
    assert(!out.exists(_._2 == 9L))
  }

  test("stateful sessionization: gap splits, per-user numbering, value sums") {
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 7L, 1.0),
      (2L, "2024-01-01 10:30:00", 7L, 2.0),  // same session (gap 30m ≤ 60m)
      (3L, "2024-01-01 12:00:00", 7L, 4.0),  // gap 90m → new session
      (4L, "2024-01-01 09:00:00", 9L, 8.0)   // other user
    ).toDF("event_id", "ts_s", "user_id", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = Streams.sessionize(spark, events, gapMinutes = 60)
      .orderBy("user_id", "session_id")
      .select($"user_id", $"session_id", $"n", $"total_value")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out == Seq((7L, 1, 2L, 3.0), (7L, 2, 1L, 4.0), (9L, 1, 1L, 8.0)))
  }

  test("multimodal: media wrap, blob features, stub decode, resize") {
    val df = Seq((1L, "hello world, this is binary payload text"),
      (2L, "x")).toDF("doc_id", "text")
    val media = Multimodal.asMedia(df, "text", "text/plain")
    assert(media.schema("media_meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val feats = Multimodal.blobFeatures(media, "media_bytes", stride = 10, maxFrames = 3)
      .orderBy("doc_id").collect()
    assert(feats(0).getAs[Long]("n_bytes") == 40L)
    assert(feats(0).getAs[scala.collection.Seq[String]]("frame_sample").length == 3)
    assert(feats(1).getAs[scala.collection.Seq[String]]("frame_sample").toSeq == Seq("78")) // hex('x')
    val decoded = Multimodal.stubDecode(media, features = 4)
    val v = decoded.orderBy("doc_id").collect()(0)
      .getAs[scala.collection.Seq[Double]]("decoded_features")
    assert(v.length == 4)
    assert(v.forall(x => x > 0 && x < 256))
    val resized = Multimodal.resizeFeatures(decoded, "decoded_features", 2)
      .orderBy("doc_id").collect()(0)
      .getAs[scala.collection.Seq[Double]]("decoded_features_resized")
    assert(resized.length == 2)
  }

  test("PPM codec: parseP6 reads a hand-built image exactly, tolerates " +
    "header comments, and rejects malformed blobs") {
    // 2x1 image: pixels (10,20,30), (40,50,60) — means (25, 35, 45)
    val good = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    assert(Multimodal.parseP6(good) == Some((2, 1, 255, 25.0, 35.0, 45.0)))
    // netpbm comment lines inside the header
    val commented = "P6\n# a comment\n2 1 # trailing\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    assert(Multimodal.parseP6(commented) == Some((2, 1, 255, 25.0, 35.0, 45.0)))
    // high bytes read unsigned (200,210,220)
    val high = "P6\n1 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](200.toByte, 210.toByte, 220.toByte)
    assert(Multimodal.parseP6(high) == Some((1, 1, 255, 200.0, 210.0, 220.0)))
    assert(Multimodal.parseP6(null).isEmpty)
    assert(Multimodal.parseP6("P5\n1 1\n255\n\u0000".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.parseP6("P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3)).isEmpty) // truncated payload
    assert(Multimodal.parseP6("P6\n1 1\n65535\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4, 5, 6)).isEmpty) // 2-byte samples rejected
    assert(Multimodal.parseP6("P6\n0 1\n255\n".getBytes("US-ASCII")).isEmpty)
  }

  test("PPM codec: synthPpm output is a decodable spec-conformant P6 and " +
    "decodePpm nulls out corrupt blobs instead of failing") {
    val ids = Seq(3L, 12L, 40L).toDF("doc_id")
    val out = Multimodal.decodePpm(Multimodal.synthPpm(ids, "doc_id"))
      .orderBy("doc_id").collect()
    for (r <- out) {
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("ppm_width") == (1 + id % 8).toInt)
      assert(r.getAs[Int]("ppm_height") == (1 + id % 6).toInt)
      assert(r.getAs[Int]("ppm_maxval") == 255)
    }
    // formula check for doc_id=3: w=4, h=4, byte k = (21 + 13k) % 256
    val r3 = out(0)
    val n = 4 * 4
    def mean(ch: Int) = (0 until n).map(i => (21 + 13 * (3 * i + ch)) % 256)
      .sum.toDouble / n
    assert(r3.getAs[Double]("r_mean") == mean(0))
    assert(r3.getAs[Double]("g_mean") == mean(1))
    assert(r3.getAs[Double]("b_mean") == mean(2))
    // corrupt blob → null features, job survives
    val bad = Seq((1L, "not a ppm".getBytes("US-ASCII"))).toDF("doc_id", "media_bytes")
    val badOut = Multimodal.decodePpm(bad).collect().head
    assert(badOut.isNullAt(badOut.fieldIndex("ppm_width")))
    assert(badOut.isNullAt(badOut.fieldIndex("r_mean")))
  }

  test("phash: tiny variants hash identical, heavy variants far, corrupt " +
    "blobs null out, and hammingPairs equals exhaustive popcount") {
    import graft.operators.DedupOps
    val ids = Seq(0L, 2L, 7L, 15L, 40L).toDF("doc_id")
    val base = ids.select(col("doc_id"), col("doc_id").as("img_id"),
      lit("base").as("variant"))
    val tiny = ids.select(col("doc_id"), (col("doc_id") + 100L).as("img_id"),
      lit("tiny").as("variant"))
    val heavy = ids.select(col("doc_id"), (col("doc_id") + 200L).as("img_id"),
      lit("heavy").as("variant"))
    val hashed = Multimodal.decodePpmPhash(Multimodal.synthPpmVariant(
      base.unionByName(tiny).unionByName(heavy), "doc_id", "variant"))
    val byImg = hashed.select("img_id", "phash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (id <- Seq(0L, 2L, 7L, 15L, 40L)) {
      // tiny = last-pixel touch: sampled grid (63 of 64 cells) never sees
      // it, so the perceptual hash is IDENTICAL
      assert(ham(byImg(id), byImg(id + 100)) == 0, s"tiny $id")
      // heavy = every-7th-byte +128: far beyond any near-dup threshold
      assert(ham(byImg(id), byImg(id + 200)) > 3, s"heavy $id")
      // 63-bit hash: the BIGINT sign bit stays clear in any engine
      assert(byImg(id) >= 0L)
    }
    // hammingPairs (chunk-blocked) == exhaustive all-pairs popcount
    val pairs = DedupOps.hammingPairs(hashed, "img_id", "phash", 63, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = byImg.toSeq
    val want = (for {
      (a, ha) <- all; (b, hb) <- all if a < b && ham(ha, hb) <= 3
    } yield (a, b, ham(ha, hb))).toSet
    assert(pairs == want)
    assert(pairs.nonEmpty)
    // corrupt blob → null phash, dropped from pairing instead of failing
    val bad = Seq((1L, "nope".getBytes("US-ASCII"))).toDF("img_id", "media_bytes")
    val badOut = Multimodal.decodePpmPhash(bad).collect().head
    assert(badOut.isNullAt(badOut.fieldIndex("phash")))
    assert(DedupOps.hammingPairs(
      Multimodal.decodePpmPhash(bad), "img_id", "phash", 63, 3).count() == 0)
  }

  test("M3/M6: overwrite creates, truncate-loads, and survives a failed load") {
    val path = Files.createTempDirectory("graft_dim").toString + "/dim"
    val dim = Seq((1, "a"), (2, "b")).toDF("k", "v")
    LogTable.overwrite(spark, path, dim.limit(0), "") // M6: create, declared schema
    assert(LogTable.read(spark, path).count() == 0)
    assert(LogTable.read(spark, path).columns.toSeq == Seq("k", "v"))
    LogTable.overwrite(spark, path, dim, "")
    LogTable.overwrite(spark, path, Seq((3, "c")).toDF("k", "v"), "") // WRITE_TRUNCATE
    assert(LogTable.read(spark, path).as[(Int, String)].collect().toSeq == Seq((3, "c")))
    // a load whose job fails in a task throws and leaves the old rows
    val failing = spark.range(4, 5).select(col("id").cast("int").as("k"),
      raise_error(lit("load failed")).cast("string").as("v"))
    intercept[Exception](LogTable.overwrite(spark, path, failing, ""))
    assert(LogTable.read(spark, path).as[(Int, String)].collect().toSeq == Seq((3, "c")))
  }

  test("stream-static enrich over per-file micro-batches equals the batch join") {
    val base = Files.createTempDirectory("graft_enrich").toString
    val events = (1L to 20L).map(i => (i, i % 4, s"e$i"))
      .toDF("event_id", "user_id", "tag")
    events.repartition(5).write.parquet(s"$base/in")
    val dim = Seq((0L, "seg_a"), (1L, "seg_b"), (2L, "seg_c"), (3L, "seg_d"))
      .toDF("user_id", "segment")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val got = Streams.runStreamStaticEnrichAvailableNow(stream, dim,
      "user_id")
      .orderBy("event_id")
      .select("event_id", "segment")
      .as[(Long, String)].collect().toSeq
    val want = events.join(dim, Seq("user_id")).orderBy("event_id")
      .select("event_id", "segment").as[(Long, String)].collect().toSeq
    assert(got == want) // stateless per batch — slicing cannot change the set
  }

  test("a bounded drain removes its sink view and checkpoint dir whether " +
    "a batch fails or the drain succeeds") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // QueryStartedEvent reaches spark.streams listeners synchronously
    // inside start(), so the drain's sink name is known before it fails
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.add(e.name)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val base = Files.createTempDirectory("graft_drain_cleanup").toString
    val events = (1L to 6L).map(i => (i, i % 2)).toDF("event_id", "user_id")
    events.repartition(2).write.parquet(s"$base/in")
    val dim = Seq((0L, "even"), (1L, "odd")).toDF("user_id", "parity")
    def stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val boom = udf { (id: Long) =>
      if (id == 4L) throw new IllegalStateException("injected batch failure")
      id
    }
    // what a drain may leave behind: its memory-sink view, and a temp
    // checkpoint dir whose name starts with the sink name
    def leftovers(sink: String): Seq[String] =
      Seq(sink).filter(spark.catalog.tableExists) ++
        new java.io.File(System.getProperty("java.io.tmpdir")).list()
          .filter(_.startsWith(s"${sink}_"))
    spark.streams.addListener(listener)
    try {
      val err = intercept[Exception](Streams.runStreamStaticEnrichAvailableNow(
        stream.withColumn("event_id", boom(col("event_id"))), dim, "user_id"))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage)
          .contains("injected batch failure")), err)
      val failed = started.poll()
      assert(failed != null, "the failing drain never started a query")
      assert(leftovers(failed).isEmpty, s"failed drain left $failed behind")
      val ok = Streams.runStreamStaticEnrichAvailableNow(stream, dim, "user_id")
      assert(ok.count() == 6L)
      val succeeded = started.poll()
      assert(succeeded != null && succeeded != failed)
      assert(leftovers(succeeded).isEmpty,
        s"successful drain left $succeeded behind")
    } finally {
      spark.streams.removeListener(listener)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("streaming simhash near-dup equals the batch pair set under " +
    "1-file micro-batch slicing; per-row signature equals the groupBy form") {
    import graft.operators.DedupOps
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest tonight"
    val docs = Seq(
      (1L, base), (2L, base + " quietly"),
      (3L, "completely different words appear here with no overlap " +
        "whatsoever in any shingle of this sentence at all today"),
      (4L, base), (5L, "")
    ).toDF("doc_id", "text")
    // per-row HOF signature ≡ vectorized groupBy signature, doc by doc
    val rowSigs = docs
      .withColumn("__hs", DedupOps.shingleHashArray(col("text"), 3))
      .select(col("doc_id"), DedupOps.simhashSigFromHashes(col("__hs")).as("sig"))
      .filter(col("sig").isNotNull)
      .as[(Long, Long)].collect().toMap
    val batchSigs = DedupOps.simhashSignatures(docs, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(rowSigs == batchSigs) // empty doc 5 absent from both
    // streaming pairs over 1-file micro-batches ≡ batch simhashPairs
    val dir = Files.createTempDirectory("graft_stsim_test").toString
    docs.repartition(4).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val drained = Streams.runStreamingSimhashAvailableNow(stream,
      "doc_id", "text", shingleWords = 3, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    val got = drained.toSet
    val want = DedupOps.simhashPairs(docs, "doc_id", "text", 3, 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want && got.contains((1L, 4L, 0)))
    // docs 1 and 4 share every chunk: only their first shared chunk's
    // bucket may emit the pair
    assert(drained.size == got.size, s"duplicate pairs: $drained")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("streaming checksum equals the batch digest under 1-file " +
    "micro-batch slicing (xor state is merge-invariant)") {
    import graft.operators.Analytics
    val rows = Seq(
      (1L, Some("x"), Some("p1")), (2L, Some("y"), None),
      (17L, None, Some("p2")), (18L, Some("z"), Some("p3")),
      (33L, Some("x"), Some("p1"))
    ).toDF("k", "s", "p")
    val dir = Files.createTempDirectory("graft_stck_test").toString
    rows.repartition(4).write.parquet(s"$dir/in")
    val got = Streams.runStreamingChecksumAvailableNow(spark, s"$dir/in",
      "*.parquet", rows.schema, "k", Seq("k", "s", "p"), buckets = 16)
      .orderBy("bucket").as[(Long, Long, Long)].collect().toSeq
    val want = Analytics.tableChecksum(rows, "k", Seq("k", "s", "p"), 16)
      .orderBy("bucket").as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    // buckets 1 (k=1,17,33) and 2 (k=2,18) both present with right counts
    assert(got.map(r => r._1 -> r._2).toMap == Map(1L -> 3L, 2L -> 2L))
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("streaming centroid routing: map-side argmax over static " +
    "centroids, tie breaks to smallest id, fixed-point mean") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),   // centroid 0
      (1L, Seq(0.0f, 1.0f)),   // centroid 1
      (2L, Seq(1.0f, 1.0f)),   // centroid 2
      (3L, Seq(3.0f, 0.0f)),   // → c0, sim 1.0
      (4L, Seq(0.0f, 2.0f)),   // → c1, sim 1.0
      (5L, Seq(0.0f, 5.0f)),   // → c1, sim 1.0
      (6L, Seq(1.0f, 0.5f))    // → c2: 0.9487 beats c0's 0.8944
    ).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_stroute_test").toString
    vecs.repartition(3).write.parquet(s"$dir/in")
    val got = Streams.runStreamingCentroidRouteAvailableNow(spark,
      s"$dir/in", "*.parquet", vecs.schema, "vec_id", "embedding", k = 3)
      .orderBy("centroid_id").as[(Long, Long, Double)].collect().toSeq
    // c2 mean: (10000 + 9487) / 2 / 1e4 = 0.9744 (round HALF_UP)
    assert(got == Seq((0L, 2L, 1.0), (1L, 3L, 1.0), (2L, 2L, 0.9744)))
    // tie case: (1,1) against centroids (1,0) and (0,1) — equal 0.7071
    // rounded sims must route to the SMALLEST centroid id
    val tied = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (9L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    tied.coalesce(1).write.parquet(s"$dir/in2")
    val got2 = Streams.runStreamingCentroidRouteAvailableNow(spark,
      s"$dir/in2", "*.parquet", tied.schema, "vec_id", "embedding", k = 2)
      .orderBy("centroid_id").as[(Long, Long, Double)].collect().toSeq
    // c0: itself (1.0) + the tied vector (0.7071) → mean 0.8536
    assert(got2 == Seq((0L, 2L, 0.8536), (1L, 1L, 1.0)))
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("census-state streaming twins: each of the 25 statistics drained " +
    "one file per trigger through its batch operator's state builder and " +
    "finalizer equals the batch operator on the same rows") {
    import graft.operators.{Analytics => A, ScaleOps, TextOps}
    import org.apache.spark.sql.DataFrame
    // one wide fixture serves most statistics: three groups, a null
    // group row, a null value row, complete (bl, g) blocks but one
    val wide = (0 until 36).map { i =>
      (if (i == 35) None else Some(Seq("a", "b", "c")(i % 3)),
        if (i == 34) None else Some((i * 7 % 11 + i % 3 * 2).toLong),
        (i % 5).toLong, (i * 3 % 7).toLong, i.toLong, i % 2 == 0,
        i * 5 % 3 == 0, (i % 4).toLong, (i / 3).toLong)
    }.toDF("g", "v", "x", "y", "id", "side", "ok", "w", "bl")
    // the k-anonymity rows pin a hand-checked summary below
    val kaRows = Seq(
      ("a", "x", Some(1)), ("a", "x", Some(2)), ("a", "x", Some(1)),
      ("a", "y", Some(1)), ("a", "y", Some(1)),
      ("b", "x", None: Option[Int])
    ).toDF("q1", "q2", "sv")
    // out-of-range scores land in the edge bins, never a negative bin
    val calRows = Seq(-0.3, -0.001, 0.4, 1.7, 0.05, 0.15, 0.55, 0.95, 1.0,
      0.42).zipWithIndex.map { case (p, i) => (Option(p), i % 2 == 0) }
      .:+((None: Option[Double], true)).toDF("p", "y")
    val kappaRows = Seq(("x", "x"), ("x", "y"), ("y", "y"), ("z", "z"),
      ("y", "x"), (null, "x"), ("z", "z"), ("x", "x")).toDF("a", "b")
    // every key null: the census (the stream state) is empty
    val kappaEmpty = Seq((null: String, "x"), (null, "y"), (null, "z"))
      .toDF("a", "b")
    val fleissRows = (for (item <- 1 to 6; r <- 1 to 3)
      yield (item.toLong, s"r$r", Seq("x", "y", "z")(item * r % 3)))
      .toDF("item", "rater", "cat")
    val docs = Seq("a b c", "a a d", "e f", "b c c", null, "g  h a")
      .toDF("text")
    def twoSample(f: (DataFrame, DataFrame, String) => DataFrame)
        : DataFrame => DataFrame =
      df => f(df.filter(!col("side")), df.filter(col("side")), "v")
    def twin(census: DataFrame => DataFrame,
             fin: DataFrame => DataFrame): DataFrame => DataFrame =
      src => Streams.drain(census(src), "complete", fin)
    val qi = Seq("q1", "q2")
    // (statistic, rows, streaming twin over the file stream, batch operator)
    val cases: Seq[(String, DataFrame, DataFrame => DataFrame,
        DataFrame => DataFrame)] = Seq(
      ("kAnonymity", kaRows,
        twin(A.kAnonymityCells(_, qi, "sv"), A.kAnonymityFromCells(_, qi, 3)),
        A.kAnonymity(_, qi, "sv", 3)),
      ("keySkew", wide, twin(ScaleOps.keySkewCensus(_, "g"),
        ScaleOps.keySkewFromCensus(_, "g")), ScaleOps.keySkewAudit(_, "g")),
      ("calibration", calRows, twin(A.calibrationStats(_, "p", "y", 10),
        A.calibrationFromStats), A.calibrationCurve(_, "p", "y", 10)),
      ("kappa", kappaRows, twin(A.kappaCells(_, "a", "b"), A.kappaFromCells),
        A.cohensKappa(_, "a", "b")),
      ("kappa (empty state)", kappaEmpty, twin(A.kappaCells(_, "a", "b"),
        A.kappaFromCells), A.cohensKappa(_, "a", "b")),
      ("fleiss", fleissRows, twin(A.fleissCells(_, "item", "rater", "cat"),
        A.fleissFromCells), A.fleissKappa(_, "item", "rater", "cat")),
      ("weightedPercentiles", wide,
        twin(ScaleOps.weightedPercentilesCensus(_, "g", "v", "w"),
          ScaleOps.weightedPercentilesFromCensus(_, "g", "v",
            Seq(0.5, 0.9))),
        ScaleOps.groupedWeightedPercentiles(_, "g", "v", "w", Seq(0.5, 0.9))),
      ("mad", wide, twin(A.valueCensus(_, "g", "v"),
        ScaleOps.madFromCensus(_, "g")), ScaleOps.groupedMad(_, "g", "v")),
      ("conformal", wide,
        twin(ScaleOps.conformalCensus(_, "g", "v", "id", "cf1:"),
          ScaleOps.conformalFromCensus(_, "g", 0.8)),
        ScaleOps.conformalIntervals(_, "g", "v", "id", "cf1:", 0.8)),
      ("ols2", wide, twin(A.ols2Stats(_, "g", "x", "y", "v"),
        A.olsFromStats(_, "g")), A.groupedOls2(_, "g", "x", "y", "v")),
      ("mutualInformation", wide, twin(A.mutualInformationCells(_, "g", "x"),
        A.mutualInformationFromCells), A.mutualInformation(_, "g", "x")),
      ("anova", wide, twin(A.anovaStats(_, "g", "v"), A.anovaFromStats),
        A.oneWayAnova(_, "g", "v")),
      ("kruskal", wide, twin(A.valueCensus(_, "g", "v"),
        A.kwFromCensus(_, "g")), A.kruskalWallis(_, "g", "v")),
      ("brownForsythe", wide, twin(A.valueCensus(_, "g", "v"),
        A.bfFromCensus(_, "g")), A.brownForsythe(_, "g", "v")),
      ("kendall", wide, twin(A.ktCensus(_, "x", "y"),
        A.ktFromCensus(_, 8192)), A.kendallTau(_, "x", "y", 8192)),
      ("welch", wide, twin(A.welchStats(_, "g", "v", "a", "b"),
        A.welchFromStats(_, "a", "b")), A.welchT(_, "g", "v", "a", "b")),
      ("richness", docs, twin(TextOps.richnessCensus(_, "text"),
        TextOps.richnessFromCensus), TextOps.vocabularyRichness(_, "text")),
      ("mcnemar", wide, twin(A.mcnemarCells(_, "side", "ok"),
        A.mcnemarFromCells), A.mcnemar(_, "side", "ok")),
      ("wilcoxon", wide, twin(A.wsrCensus(_, "x", "y"), A.wsrFromCensus),
        A.wilcoxonSignedRank(_, "x", "y")),
      ("cochranArmitage", wide, twin(A.caCensus(_, "x", "ok"),
        A.caFromCensus), A.cochranArmitage(_, "x", "ok")),
      ("jonckheere", wide, twin(A.jtCensus(_, "x", "v"),
        A.jtFromCensus(_, 8192)), A.jonckheereTerpstra(_, "x", "v")),
      ("friedman", wide, twin(A.friedmanCells(_, "bl", "g", "v"),
        A.friedmanFromCells), A.friedman(_, "bl", "g", "v")),
      ("cvm", wide, twin(A.sideCensus(_, "v", "side"), A.cvmFromCensus),
        twoSample(A.cramerVonMises)),
      ("effectSizes", wide, twin(A.sideCensus(_, "v", "side"),
        A.esFromCensus), twoSample(A.effectSizes)),
      ("brunnerMunzel", wide, twin(A.sideCensus(_, "v", "side"),
        A.bmFromCensus), twoSample(A.brunnerMunzel)),
      ("moodMedian", wide, twin(A.sideCensus(_, "v", "side"),
        A.mmFromCensus), twoSample(A.moodMedian)))
    assert(cases.map(_._1).distinct.size == 26) // 25 statistics + empty κ
    val dir = Files.createTempDirectory("graft_twins").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def norm(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    val got = cases.zipWithIndex.map { case ((name, rows, stream, batch), i) =>
      // three files, one per trigger: cross-batch state is exercised
      val in = s"$dir/c$i"
      val all = rows.collect().toSeq
      for (k <- 0 until 3)
        spark.createDataFrame(java.util.Arrays.asList(
            all.zipWithIndex.filter(_._2 % 3 == k).map(_._1): _*),
            rows.schema)
          .coalesce(1).write.mode("append").parquet(in)
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(in))
        .count(_.getPath.getName.endsWith(".parquet")) == 3, name)
      val src = Streams.fileStream(spark, in, "*.parquet", rows.schema,
        onePerTrigger = true)
      val (s, b) = (norm(stream(src)), norm(batch(rows)))
      assert(b.nonEmpty, name)
      assert(s == b, s"$name: stream $s != batch $b")
      name -> s
    }.toMap
    assert(got("kAnonymity") == Seq("6|3|1|2|3|2"))
    assert(got("calibration").map(_.split('|').head.toLong)
      .forall(b => b >= 0 && b <= 9))
    // empty input: n_items 0, n_agree NULL, as the batch operator reports
    assert(got("kappa (empty state)").map(_.split('|').take(2).toSeq) ==
      Seq(Seq("0", "null")))
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("synthPpmVideo + frameSample: every-kth frame extracted intact " +
    "(decodePpm agrees with the per-frame formula), corruption truncates " +
    "the walk without losing earlier frames") {
    val ids = Seq(3L, 10L).toDF("doc_id")
    val video = Multimodal.synthPpmVideo(ids, "doc_id", nFrames = 5)
    // every=1: all five frames; every=2: indices 0,2,4
    val all = Multimodal.frameSample(video, "media_bytes", every = 1)
    assert(all.groupBy("doc_id").count().collect()
      .forall(_.getLong(1) == 5L))
    val sampled = Multimodal.decodePpm(
      Multimodal.frameSample(video, "media_bytes", every = 2), "frame_bytes")
      .select(col("doc_id"), col("frame_idx"), col("ppm_width"),
        col("ppm_height"))
      .as[(Long, Int, Int, Int)].collect().toSeq.sorted
    val expect = for (id <- Seq(3L, 10L); f <- Seq(0, 2, 4)) yield {
      val e = id * 31 + f
      (id, f, (1 + e % 8).toInt, (1 + e % 6).toInt)
    }
    assert(sampled == expect.sorted)
    // cut the container mid-frame-3: frames 0-2 survive, 3+ are dropped
    val cut = video.as[(Long, Array[Byte])].map { case (id, bytes) =>
      val lens = (0 until 5).map { f =>
        val e = id * 31 + f
        val w = (1 + e % 8).toInt; val h = (1 + e % 6).toInt
        s"P6\n$w $h\n255\n".getBytes("US-ASCII").length + w * h * 3
      }
      (id, bytes.take(lens.take(3).sum + 4))
    }.toDF("doc_id", "media_bytes")
    val truncated = Multimodal.frameSample(cut, "media_bytes", every = 1)
      .groupBy("doc_id").count().collect()
    assert(truncated.forall(_.getLong(1) == 3L))
  }
}
