package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Coercers._

/** Property-style checks: ScalaCheck-generated inputs evaluated in one
  * Spark pass against a Scala reference implementation of the Python
  * coercer semantics (fetch_clickup_data.py:782-801).
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** `n` draws of `g`; draw i of the `seed`-th batch uses Seed(seed * n + i),
    * so loops that pass their loop variable test a fresh input each turn. */
  private def samples[A](g: Gen[A], n: Int, seed: Long = 0L): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed * n + i)))

  test("safe_int property: matches int(float(x)) over generated numeric strings") {
    val gen = Gen.oneOf(
      Gen.chooseNum(-1e9, 1e9).map(d => f"$d%.3f"),
      Gen.chooseNum(-100000L, 100000L).map(_.toString),
      Gen.alphaStr.map(_.take(8)),
      Gen.const(""), Gen.const("NaN"))
    val in = samples(gen, 300)
    def ref(s: String): Option[Long] =
      try {
        val d = s.trim.toDouble
        if (d.isNaN) None else Some(d.toLong)
      } catch { case _: Throwable => None }
    val got = in.toDF("x").select(safeInt(col("x")).as("i")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    in.zip(got).foreach { case (s, g) =>
      assert(g == ref(s), s"safe_int('$s')")
    }
  }

  test("safe_float property: matches float(x)-or-default semantics") {
    val gen = Gen.oneOf(
      Gen.chooseNum(-1e12, 1e12).map(_.toString),
      Gen.alphaStr.map(_.take(6)), Gen.const(""))
    val in = samples(gen, 300)
    def ref(s: String): Option[Double] =
      try {
        val d = s.trim.toDouble
        if (d.isNaN) None else Some(d)
      } catch { case _: Throwable => None }
    val got = in.toDF("x")
      .select(safeFloat(col("x")).as("f"), safeFloatDefault(col("x"), 0.0).as("fd"))
      .collect()
    in.zip(got).foreach { case (s, r) =>
      val exp = ref(s)
      assert((if (r.isNullAt(0)) None else Some(r.getDouble(0))) == exp, s"safe_float('$s')")
      assert(r.getDouble(1) == exp.getOrElse(0.0), s"safe_float_default('$s')")
    }
  }

  test("split-trim sentinel property: output is never empty, tokens never blank unless sentinel") {
    val gen = Gen.listOf(Gen.oneOf("a", " b ", "", "c,d", ",", " ")).map(_.mkString(","))
    val in = samples(gen, 200)
    val got = in.toDF("x").select(splitTrimDropEmpty(col("x")).as("a")).collect()
      .map(_.getSeq[String](0).toSeq)
    in.zip(got).foreach { case (s, arr) =>
      val ref0 = s.split(",", -1).map(_.trim).filter(_.nonEmpty).toSeq
      val ref = if (ref0.isEmpty) Seq("") else ref0
      assert(arr == ref, s"split('$s')")
    }
  }

  test("jaccard bounds property: pair scores are in (0,1] and symmetric under id swap") {
    val docs = samples(Gen.listOfN(12,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon")).map(_.mkString(" ")), 30)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").withColumn("blk", lit(1))
    val out = graft.operators.DedupOps
      .ngramJaccardPairs(docs, "doc_id", "text", "blk", 2, 0.01).collect()
    out.foreach { r =>
      val j = r.getDouble(2)
      assert(j > 0.0 && j <= 1.0)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("two-sample stat properties on random frames: KS symmetric in " +
    "[0,1], MWU rank-biserial antisymmetric, PSI self-drift zero, " +
    "MWU identity exchangeable") {
    import graft.operators.Analytics
    val gen = Gen.listOfN(40, Gen.chooseNum(-50.0, 50.0))
    for (seed <- 0 until 3) {
      val Seq(x0, y0) = samples(gen, 2, seed)
      val xs = x0.map(v => math.rint(v * 100) / 100)
      val ys = y0.map(_ + seed * 3.0).map(v => math.rint(v * 100) / 100)
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      val kab = Analytics.ksStatistic(a, b, "v").collect().head.getDouble(2)
      val kba = Analytics.ksStatistic(b, a, "v").collect().head.getDouble(2)
      assert(kab == kba && kab >= 0.0 && kab <= 1.0)
      val rab = Analytics.mannWhitneyU(a, b, "v").collect().head.getDouble(3)
      val rba = Analytics.mannWhitneyU(b, a, "v").collect().head.getDouble(3)
      assert(math.abs(rab + rba) < 1e-9)
      assert(Analytics.mannWhitneyU(a, a, "v").collect().head.getDouble(3)
        == 0.0)
      val self = Analytics.psi(a, a, "v", -60.0, 10.0, 12).collect().head
      assert(self.getDouble(4) == 0.0 && self.getLong(3) == 0L)
    }
  }

  test("maintainGroupedAgg equals a full recompute over random CDC " +
    "cycles (inserts, deletes, updates, group moves)") {
    import graft.operators.MergeOps
    import org.apache.spark.sql.functions.{count => fcount, floor => ffloor, lit => flit, sum => fsum}
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy($"g")
      .agg(fcount(flit(1)).as("n"),
        fsum(ffloor($"v" * 100).cast("long")).as("sum_cents"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val rowGen = Gen.zip(Gen.chooseNum(0L, 60L),
      Gen.oneOf("g1", "g2", "g3", "g4"), Gen.chooseNum(-30.0, 90.0))
    for (seed <- 0 until 3) {
      val before = samples(Gen.listOfN(40, rowGen), 1, seed).flatten
        .groupBy(_._1).map(_._2.head).toSeq  // unique keys
      // next snapshot: drop ~1/3, mutate ~1/3 (value and/or group), add new
      val after = before.zipWithIndex.collect {
        case ((k, g, v), i) if i % 3 == 0 => (k, g, v)            // kept
        case ((k, g, v), i) if i % 3 == 1 =>
          (k, if (i % 2 == 0) g else "g_moved", math.rint(v) + 0.25)
      } ++ Seq((1000L + seed, "g_new", 7.5), (2000L + seed, "g1", 1.0))
      val (bDF, aDF) = (before.toDF("k", "g", "v"), after.toDF("k", "g", "v"))
      val maintained = MergeOps.maintainGroupedAgg(agg(bDF), bDF, aDF,
        "k", "g", "v")
      assert(canon(maintained) == canon(agg(aDF)), s"seed $seed")
    }
  }

  test("cusum window form equals the sequential recursion on random " +
    "count series (surge and drop sides, random gaps)") {
    import graft.operators.Analytics
    import java.sql.Timestamp
    val gen = Gen.listOfN(25, Gen.chooseNum(0, 12))
    for (seed <- 0 until 3) {
      // counts per day offset; ~1/4 of days dropped entirely (gap days)
      val counts = samples(gen, 1, seed).flatten.zipWithIndex
        .filter { case (_, i) => (i + seed) % 4 != 0 || i == 0 }
      val rows = counts.flatMap { case (c, i) =>
        (0 until c).map(j =>
          ("g", Timestamp.valueOf(f"2024-02-${i + 1}%02d 0${j % 9 + 1}:00:00")))
      }
      val present = counts.filter(_._1 > 0).map(_._2)
      if (present.nonEmpty) {
        val (k, h) = (4L, 6L)
        val got = Analytics.cusumAlarms(rows.toDF("g", "ts"), "g", "ts", k, h)
          .orderBy("day").collect()
          .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        // sequential reference over the DENSE span of days WITH events
        // (the operator's span is [first event day, last event day])
        val byDay = counts.map { case (c, i) => i -> c }.toMap
        val lo = present.min
        val hi = present.max
        var s = 0L; var t = 0L
        val ref = (lo to hi).map { i =>
          val x = byDay.getOrElse(i, 0).toLong
          s = math.max(0L, s + (x - k)); t = math.max(0L, t + (k - x))
          (f"2024-02-${i + 1}%02d", x, s, t)
        }
        assert(got.toSeq == ref, s"seed $seed")
      }
    }
  }

  test("dedupResolution invariants on random pair graphs: one keeper per " +
    "cluster, keeper is a member with the max score, canonical points at " +
    "the keeper, singletons self-resolve") {
    import graft.operators.DedupOps
    val pairGen = Gen.listOfN(20, Gen.zip(Gen.chooseNum(0, 14), Gen.chooseNum(0, 14)))
    for (seed <- 0 until 3) {
      val pairs = samples(pairGen, 1, seed).flatten
        .collect { case (x, y) if x != y => (x.toLong, y.toLong) }
      val universe = (0L to 14L).map(i => (i, ((i * 7 + seed) % 5).toDouble))
      val got = DedupOps.dedupResolution(
        pairs.toDF("a", "b"), "a", "b",
        universe.toDF("id", "q"), "id", "q")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(got.length == universe.size) // every doc resolved exactly once
      val q = universe.toMap
      got.groupBy(_._2).foreach { case (root, members) =>
        val keepers = members.filter(_._4)
        assert(keepers.length == 1, s"cluster $root keepers")
        val keeper = keepers.head
        // keeper has the cluster-max score; canonical = keeper for all
        assert(members.forall(m => q(m._1) <= q(keeper._1)))
        assert(members.forall(_._3 == keeper._1))
      }
      // ids in no pair are their own cluster and keep themselves
      val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      got.filter(r => !paired.contains(r._1)).foreach { r =>
        assert(r._2 == r._1 && r._3 == r._1 && r._4)
      }
    }
  }

  test("triangle counts are invariant under edge direction, duplication, " +
    "and row order on random graphs") {
    import graft.operators.GraphOps
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(0, 11), Gen.chooseNum(0, 11)))
    for (seed <- 0 until 3) {
      val edges = samples(edgeGen, 1, seed).flatten
        .map { case (x, y) => (s"n$x", s"n$y") }
      val base = GraphOps.triangleCounts(edges.toDF("s", "t"), "s", "t")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val mangled = scala.util.Random.shuffle(
        edges ++ edges.map(_.swap) ++ edges)
      val again = GraphOps.triangleCounts(mangled.toDF("s", "t"), "s", "t")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(base == again)
    }
  }

  test("groupedRank property: equals the window-per-group form on random " +
    "(group, value) frames at every partition count") {
    import org.apache.spark.sql.expressions.{Window => W}
    import graft.operators.ScaleOps
    val rowGen = Gen.listOfN(120,
      Gen.zip(Gen.chooseNum(0, 4), Gen.chooseNum(-50, 50)))
    for (seed <- 0 until 4) {
      val rows = samples(rowGen, 1, seed).flatten.zipWithIndex
        .map { case ((g, v), i) => (s"g$g", v.toLong, i.toLong) }
      val df = rows.toDF("g", "v", "rid")
      val w = W.partitionBy(col("g")).orderBy(col("v").asc, col("rid").asc)
      val ref = df.withColumn("__rank", row_number().over(w).cast("long"))
        .orderBy("rid").collect().map(_.toSeq).toSeq
      for (parts <- Seq(1, 3, 7)) {
        val got = ScaleOps.groupedRank(df, "g",
            Seq(col("v").asc, col("rid").asc), partitions = parts)
          .select("g", "v", "rid", "__rank")
          .orderBy("rid").collect().map(_.toSeq).toSeq
        assert(got == ref, s"seed=$seed parts=$parts")
      }
    }
  }

  test("containmentPairs property: matches brute-force set containment " +
    "on random corpora; containment always >= jaccard; direction " +
    "consistency") {
    import graft.operators.DedupOps
    val wordGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    val docGen = Gen.listOfN(10, wordGen.map(_.mkString(" ")))
    for (seed <- 0 until 3) {
      val texts = samples(docGen, 1, seed).flatten
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
      val df = docs.toDF("doc_id", "text", "lang")
      val tau = 0.6
      def shingles3(t: String): Set[String] = {
        val ws = t.trim.split("\\s+").toSeq
        if (ws.size < 3) Set.empty
        else ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val brute = (for {
        (ta, ia) <- texts.zipWithIndex; (tb, ib) <- texts.zipWithIndex
        if ia < ib
        sa = shingles3(ta); sb = shingles3(tb)
        if sa.nonEmpty && sb.nonEmpty
        inter = (sa intersect sb).size
        ca = math.rint(inter.toDouble / sa.size * 1e4) / 1e4
        cb = math.rint(inter.toDouble / sb.size * 1e4) / 1e4
        if math.max(ca, cb) >= tau
      } yield (ia.toLong, ib.toLong) -> ((ca, cb))).toMap
      val got = DedupOps.containmentPairs(df, "doc_id", "text", "lang",
          shingleWords = 3, threshold = tau)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      assert(got.keySet == brute.keySet, s"seed=$seed pair sets differ")
      got.foreach { case (k, (ca, cb, j)) =>
        assert((ca, cb) == brute(k), s"seed=$seed $k containments")
        assert(j <= ca + 1e-9 && j <= cb + 1e-9,
          s"seed=$seed $k jaccard must lower-bound both containments")
      }
    }
  }

  test("bandedCandidates property: first-shared-band emission equals the " +
    "distinct plain band join, self and cross-frame, each pair once") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.DataFrame
    def plainJoin(l: DataFrame, r: DataFrame, self: Boolean): Set[(Long, Long)] = {
      def ex(df: DataFrame) =
        df.select(col("id"), posexplode(col("ks")).as(Seq("band", "bkey")))
      val on = col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey")
      ex(l).as("l").join(ex(r).as("r"), if (self) on && col("l.id") < col("r.id") else on)
        .select(col("l.id"), col("r.id")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    for (bands <- Seq(1, 3, 5)) {
      // three key values per band: most pairs share several bands
      val rows = samples(Gen.listOfN(bands, Gen.choose(0L, 2L)), 30 + bands)
        .zipWithIndex.map { case (ks, i) => (i.toLong, ks, i * 10L) }
      val keys = rows.toDF("id", "ks", "p")
      val self = DedupOps.bandedCandidates(keys, bands)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(self.size == self.toSet.size, s"bands=$bands self pair emitted twice")
      assert(self.map(r => (r._1, r._2)).toSet == plainJoin(keys, keys, self = true),
        s"bands=$bands self")
      assert(self.forall(r => r._3 == r._1 * 10 && r._4 == r._2 * 10),
        s"bands=$bands payload columns follow their rows")
      val (l, r) = (keys.filter(col("id") % 2 === 0).drop("p"),
        keys.filter(col("id") % 2 === 1).drop("p"))
      val cross = DedupOps.bandedCandidates(l, bands, Some(r))
        .as[(Long, Long)].collect().toSeq
      assert(cross.size == cross.toSet.size, s"bands=$bands cross pair emitted twice")
      assert(cross.toSet == plainJoin(l, r, self = false), s"bands=$bands cross")
      assert(self.size > 0 && cross.size > 0)
    }
  }

  test("calibrationCurve property: bins partition the rows exactly and " +
    "every mean prediction lies inside its bin") {
    import graft.operators.Analytics
    val gen = Gen.listOfN(200,
      Gen.zip(Gen.chooseNum(0.0, 1.0), Gen.oneOf(true, false)))
    for (seed <- 0 until 3) {
      val rows = samples(gen, 1, seed).flatten
        .map { case (p, y) => (math.rint(p * 1e4) / 1e4, y) }
      val df = rows.toDF("p", "y")
      val out = Analytics.calibrationCurve(df, "p", "y", nBins = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      assert(out.map(_._2).sum == rows.size, s"seed=$seed rows partition")
      out.foreach { case (bin, _, meanPred) =>
        assert(meanPred >= bin / 10.0 - 1e-9 &&
          (meanPred <= (bin + 1) / 10.0 + 1e-9 || bin == 9L),
          s"seed=$seed bin $bin mean $meanPred outside bin")
      }
    }
  }

  test("calibrationCurve clamps out-of-range scores into the edge bins " +
    "instead of emitting phantom bin ids") {
    import graft.operators.Analytics
    val df = Seq((-0.3, false), (-0.001, true), (0.4, true), (1.7, false))
      .toDF("p", "y")
    val out = Analytics.calibrationCurve(df, "p", "y", nBins = 10)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(0L, 4L, 9L), s"bins: ${out.toSeq}")
    // the raw (impossible) mean survives in the edge bin, exposing the
    // out-of-range scorer rather than hiding it
    assert(out.head._2 == 2L && out.head._3 < 0.0)
    assert(out.last._3 > 1.0)
  }

  test("changepoint property: (split_t, score, means) equal a driver-side " +
    "replica computing BS(k) with the identical IEEE expression shape " +
    "over random integer series; earliest-t ties") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round4(x: Double): Double = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(vals: Seq[Long]): (Long, Long, Double, Double, Double) = {
      val n = vals.length.toLong
      val prefix = vals.scanLeft(0L)(_ + _).tail
      val sn = prefix.last
      var bestScore = Double.NegativeInfinity
      var bestK = 0L
      var k = 1L
      while (k < n) {
        val sk = prefix((k - 1).toInt)
        val num = (n * sk - k * sn).toDouble
        val score = num * num / (n * k * (n - k)).toDouble
        if (score > bestScore) { bestScore = score; bestK = k } // > keeps earliest
        k += 1
      }
      val sk = prefix((bestK - 1).toInt)
      (n, bestK, round6(sk.toDouble / bestK.toDouble),
        round6((sn - sk).toDouble / (n - bestK).toDouble),
        round4(bestScore))
    }
    // ties are common on purpose: small value range + short series (a
    // symmetric series has equal BS at mirrored splits)
    val gen = Gen.chooseNum(2, 40).flatMap(len =>
      Gen.listOfN(len, Gen.chooseNum(-5L, 5L)))
    for (seed <- 0 until 40) {
      val vals = samples(gen, 1, seed).flatten.toIndexedSeq
      val df = vals.zipWithIndex
        .map { case (v, i) => ("g", i.toLong, v) }.toDF("g", "t", "v")
      val got = Analytics.changepoint(df, "g", "t", "v").collect().head
      val (n, bestK, ml, mr, sc) = ref(vals)
      assert(got.getLong(1) == n, s"seed=$seed n_points")
      assert(got.getLong(2) == bestK - 1,
        s"seed=$seed split_t: got ${got.getLong(2)}, ref t=${bestK - 1}")
      assert(got.getDouble(3) == ml, s"seed=$seed mean_left")
      assert(got.getDouble(4) == mr, s"seed=$seed mean_right")
      assert(got.getDouble(5) == sc, s"seed=$seed score")
    }
  }

  test("groupedOls2 property: coefficients and R2 equal a driver-side " +
    "Cramer solve with the identical IEEE cofactor order over random " +
    "integer frames; singular groups NULL on both sides") {
    import graft.operators.Analytics
    def round8(x: Double): Double = BigDecimal(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(rows: Seq[(Long, Long, Long)])
        : (Long, Option[Double], Option[Double], Option[Double],
           Option[Double]) = {
      val n = rows.size.toLong
      val s1 = rows.map(_._1).sum; val s2 = rows.map(_._2).sum
      val sy = rows.map(_._3).sum
      val s11 = rows.map(r => r._1 * r._1).sum
      val s22 = rows.map(r => r._2 * r._2).sum
      val s12 = rows.map(r => r._1 * r._2).sum
      val s1y = rows.map(r => r._1 * r._3).sum
      val s2y = rows.map(r => r._2 * r._3).sum
      val syy = rows.map(r => r._3 * r._3).sum
      val (nd, s1d, s2d, syd) = (n.toDouble, s1.toDouble, s2.toDouble,
        sy.toDouble)
      val (s11d, s22d, s12d) = (s11.toDouble, s22.toDouble, s12.toDouble)
      val (s1yd, s2yd, syyd) = (s1y.toDouble, s2y.toDouble, syy.toDouble)
      val det = nd * (s11d * s22d - s12d * s12d) -
        s1d * (s1d * s22d - s12d * s2d) + s2d * (s1d * s12d - s11d * s2d)
      if (det == 0.0) (n, None, None, None, None) else {
        val d0 = syd * (s11d * s22d - s12d * s12d) -
          s1d * (s1yd * s22d - s12d * s2yd) +
          s2d * (s1yd * s12d - s11d * s2yd)
        val d1 = nd * (s1yd * s22d - s12d * s2yd) -
          syd * (s1d * s22d - s12d * s2d) +
          s2d * (s1d * s2yd - s1yd * s2d)
        val d2 = nd * (s11d * s2yd - s1yd * s12d) -
          s1d * (s1d * s2yd - s1yd * s2d) + syd * (s1d * s12d - s11d * s2d)
        val (b0, b1, b2) = (d0 / det, d1 / det, d2 / det)
        val sse = syyd - (b0 * syd + b1 * s1yd + b2 * s2yd)
        val sst = syyd - syd * syd / nd
        (n, Some(round8(b0)), Some(round8(b1)), Some(round8(b2)),
          if (sst > 0.0) Some(round6(1.0 - sse / sst)) else None)
      }
    }
    // small ranges make singular groups (constant or collinear columns)
    // common on purpose
    val genGroup = for {
      len <- Gen.chooseNum(1, 25)
      rows <- Gen.listOfN(len, for {
        x1 <- Gen.chooseNum(-9L, 9L)
        x2 <- Gen.chooseNum(-9L, 9L)
        y <- Gen.chooseNum(-50L, 50L)
      } yield (x1, x2, y))
    } yield rows
    for (seed <- 0 until 30) {
      val groups = (0 until 4).map { gi =>
        s"g$gi" -> genGroup.apply(Gen.Parameters.default,
          Seed((seed * 31 + gi).toLong)).get
      }
      val df = groups.flatMap { case (g, rs) =>
        rs.map(r => (g, r._1, r._2, r._3)) }.toDF("g", "x1", "x2", "y")
      val got = Analytics.groupedOls2(df, "g", "x1", "x2", "y")
        .orderBy("g").collect()
      groups.zip(got).foreach { case ((g, rs), row) =>
        val (n, b0, b1, b2, r2) = ref(rs)
        def opt(i: Int): Option[Double] =
          if (row.isNullAt(i)) None else Some(row.getDouble(i))
        assert(row.getString(0) == g && row.getLong(1) == n,
          s"seed=$seed group=$g n")
        assert((opt(2), opt(3), opt(4), opt(5)) == ((b0, b1, b2, r2)),
          s"seed=$seed group=$g coefficients")
      }
    }
  }

  test("kendallTau property: (n, concordant, discordant, tau_b) equal a " +
    "driver-side replica of the census concordance identity with the " +
    "identical IEEE division tree over random tied integer pairs") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(rows: Seq[(Long, Long)])
        : (Long, Long, Long, Option[Double]) = {
      val census = rows.groupBy(identity).map { case ((x, y), g) =>
        (x, y, g.size.toLong) }.toSeq
      var c = 0L; var d = 0L
      for ((x1, y1, c1) <- census; (x2, y2, c2) <- census if x1 < x2) {
        if (y1 < y2) c += c1 * c2
        else if (y1 > y2) d += c1 * c2
      }
      val n = rows.size.toLong
      val tx2 = census.groupBy(_._1).map(_._2.map(_._3).sum)
        .map(t => t * (t - 1L)).sum
      val ty2 = census.groupBy(_._2).map(_._2.map(_._3).sum)
        .map(t => t * (t - 1L)).sum
      val n02 = n * (n - 1L)
      val dx = (n02 - tx2).toDouble / 2.0
      val dy = (n02 - ty2).toDouble / 2.0
      val tau = if (dx > 0.0 && dy > 0.0)
        Some(round6((c - d).toDouble / (math.sqrt(dx) * math.sqrt(dy))))
      else None
      (n, c, d, tau)
    }
    // heavy ties on purpose: tiny value range exercises both tie
    // corrections; degenerate frames (all-equal x or y) exercise NULL
    val gen = Gen.chooseNum(1, 60).flatMap(len =>
      Gen.listOfN(len, Gen.zip(Gen.chooseNum(-2L, 2L), Gen.chooseNum(-2L, 2L))))
    for (seed <- 0 until 30) {
      val rows = samples(gen, 1, seed).flatten.toIndexedSeq
      val df = rows.toDF("x", "y")
      val got = Analytics.kendallTau(df, "x", "y").collect().head
      val (n, c, d, tau) = ref(rows)
      assert(got.getLong(0) == n, s"seed=$seed n")
      assert(got.getLong(2) == c, s"seed=$seed concordant")
      assert(got.getLong(3) == d, s"seed=$seed discordant")
      val gotTau = if (got.isNullAt(4)) None else Some(got.getDouble(4))
      assert(gotTau == tau, s"seed=$seed tau_b: got $gotTau, ref $tau")
    }
  }

  test("kruskalWallis property: (n, k, h, h_tie) equal a driver-side " +
    "replica of the doubled-midrank identity (2cb + t + 1 rank-sums, " +
    "group-sorted IEEE fold, tie correction) over random tied frames") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(rows: Seq[(String, Long)])
        : (Long, Long, Option[Double], Option[Double]) = {
      val census = rows.groupBy(identity).map { case ((g, v), l) =>
        (g, v, l.size.toLong) }.toSeq
      val global = census.groupBy(_._2).map { case (v, cs) =>
        v -> cs.map(_._3).sum }.toSeq.sortBy(_._1)
      val r2 = {
        var cb = 0L
        global.map { case (v, t) =>
          val r = 2L * cb + t + 1L; cb += t; v -> r }.toMap
      }
      val grp = census.groupBy(_._1).map { case (g, cs) =>
        val ng = cs.map(_._3).sum
        val r2g = cs.map(c => c._3 * r2(c._2)).sum
        (g, ng, (r2g.toDouble / 2.0) * (r2g.toDouble / 2.0) / ng.toDouble)
      }.toSeq
      val n = grp.map(_._2).sum
      val k = grp.size.toLong
      // the operator folds terms in (group, term)-struct sort order
      val fold = grp.sortBy(g => (g._1, g._3)).map(_._3)
        .foldLeft(0.0)(_ + _)
      val st = global.map { case (_, t) => t * t * t - t }.sum
      val nd = n.toDouble
      val h0 = 12.0 / (nd * (nd + 1.0)) * fold - 3.0 * (nd + 1.0)
      val cc = 1.0 - st.toDouble / (nd * nd * nd - nd)
      val h = if (k > 1 && n > 1) Some(round6(h0)) else None
      val ht = if (k > 1 && n > 1 && cc > 0.0) Some(round6(h0 / cc))
        else None
      (n, k, h, ht)
    }
    val gen = Gen.chooseNum(2, 50).flatMap(len =>
      Gen.listOfN(len, Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.chooseNum(-3L, 3L))))
    for (seed <- 0 until 30) {
      val rows = samples(gen, 1, seed).flatten.toIndexedSeq
      val df = rows.toDF("g", "v")
      val got = Analytics.kruskalWallis(df, "g", "v").collect().head
      val (n, k, h, ht) = ref(rows)
      assert(got.getLong(0) == n, s"seed=$seed n")
      assert(got.getLong(1) == k, s"seed=$seed k")
      val gotH = if (got.isNullAt(2)) None else Some(got.getDouble(2))
      val gotHt = if (got.isNullAt(3)) None else Some(got.getDouble(3))
      assert(gotH == h, s"seed=$seed h: got $gotH, ref $h")
      assert(gotHt == ht, s"seed=$seed h_tie: got $gotHt, ref $ht")
    }
  }

  test("welchT property: t, Welch-Satterthwaite df, Cohen's d and " +
    "Hedges' g equal a driver-side replica with the identical IEEE " +
    "trees over random integer levels; degenerate variances NULL") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(as: Seq[Long], bs: Seq[Long])
        : (Option[Double], Option[Double], Option[Double], Option[Double]) = {
      val (na, nb) = (as.size.toLong, bs.size.toLong)
      val (sa, sb) = (as.sum, bs.sum)
      val (ssa, ssb) = (as.map(v => v * v).sum, bs.map(v => v * v).sum)
      val ma = sa.toDouble / na.toDouble
      val mb = sb.toDouble / nb.toDouble
      val va = if (na > 1)
        Some((ssa.toDouble - na.toDouble * ma * ma) / (na - 1).toDouble)
        else None
      val vb = if (nb > 1)
        Some((ssb.toDouble - nb.toDouble * mb * mb) / (nb - 1).toDouble)
        else None
      val sea = va.map(_ / na.toDouble)
      val seb = vb.map(_ / nb.toDouble)
      val se2 = for (x <- sea; y <- seb) yield x + y
      val t = se2.filter(_ > 0.0)
        .map(s2 => round6((ma - mb) / math.sqrt(s2)))
      val df = se2.filter(_ > 0.0).map(s2 => round6(s2 * s2 /
        (sea.get * sea.get / (na - 1).toDouble +
          seb.get * seb.get / (nb - 1).toDouble)))
      val sp = if (na + nb > 2) for (x <- va; y <- vb) yield
        math.sqrt(((na - 1).toDouble * x + (nb - 1).toDouble * y) /
          (na + nb - 2).toDouble) else None
      val d = sp.filter(_ > 0.0).map(s => (ma - mb) / s)
      val g = d.map(dd => round6(dd * (1.0 - 3.0 /
        (4.0 * (na + nb).toDouble - 9.0))))
      (t, df, d.map(round6), g)
    }
    val gen = for {
      na <- Gen.chooseNum(1, 30); nb <- Gen.chooseNum(1, 30)
      as <- Gen.listOfN(na, Gen.chooseNum(-4L, 4L))
      bs <- Gen.listOfN(nb, Gen.chooseNum(-4L, 4L))
    } yield (as, bs)
    for (seed <- 0 until 30) {
      val (as, bs) = samples(gen, 1, seed).head
      val df = (as.map(("a", _)) ++ bs.map(("b", _))).toDF("lvl", "v")
      val got = Analytics.welchT(df, "lvl", "v", "a", "b").collect().head
      val (t, dfw, d, g) = ref(as, bs)
      def opt(i: Int) = if (got.isNullAt(i)) None else Some(got.getDouble(i))
      assert(opt(4) == t, s"seed=$seed t: got ${opt(4)}, ref $t")
      assert(opt(5) == dfw, s"seed=$seed df: got ${opt(5)}, ref $dfw")
      assert(opt(6) == d, s"seed=$seed d: got ${opt(6)}, ref $d")
      assert(opt(7) == g, s"seed=$seed g: got ${opt(7)}, ref $g")
    }
  }

  test("theilSen property: the lower-median pairwise slope equals a " +
    "driver-side replica over random series (heavy slope ties), " +
    "single-point groups NULL") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(pts: Seq[(Long, Long)]): (Long, Long, Option[Double]) = {
      val slopes = for {
        (t1, v1) <- pts; (t2, v2) <- pts if t1 < t2
      } yield ((v2 - v1).toDouble / (t2 - t1).toDouble, t1, t2)
      val p = slopes.size.toLong
      val med = if (p == 0) None else {
        val sorted = slopes.sortBy(identity)
        Some(round6(sorted((math.ceil(p / 2.0) - 1).toInt)._1))
      }
      (pts.size.toLong, p, med)
    }
    // distinct t per group by construction (t = index)
    val gen = Gen.chooseNum(1, 25).flatMap(len =>
      Gen.listOfN(len, Gen.chooseNum(-3L, 3L)))
    for (seed <- 0 until 30) {
      val vals = samples(gen, 1, seed).flatten.toIndexedSeq
      val pts = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = pts.map { case (t, v) => ("g", t, v) }.toDF("g", "t", "v")
      val got = Analytics.theilSen(df, "g", "t", "v").collect().head
      val (n, p, med) = ref(pts)
      assert(got.getLong(1) == n && got.getLong(2) == p, s"seed=$seed")
      val gotS = if (got.isNullAt(3)) None else Some(got.getDouble(3))
      assert(gotS == med, s"seed=$seed slope: got $gotS, ref $med")
    }
  }

  test("wilcoxonSignedRank property: (n_pairs, n_nonzero, W+, z) equal " +
    "a driver-side replica of the doubled-midrank identity over random " +
    "tied pairs; all-tie frames NULL z") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(pairs: Seq[(Long, Long)])
        : (Long, Long, Double, Option[Double]) = {
      val nz = pairs.map { case (a, b) => a - b }.filter(_ != 0L)
      val census = nz.groupBy(math.abs).toSeq.sortBy(_._1)
      var cb = 0L; var w2 = 0L; var st = 0L; var n = 0L
      census.foreach { case (_, ds) =>
        val t = ds.size.toLong
        val cp = ds.count(_ > 0L).toLong
        w2 += cp * (2L * cb + t + 1L)
        st += t * t * t - t; n += t; cb += t
      }
      val z = if (n > 0)
        Some(round6((2L * w2 - n * (n + 1L)).toDouble / 4.0 /
          math.sqrt((2L * n * (n + 1L) * (2L * n + 1L) - st).toDouble /
            48.0)))
      else None
      (pairs.size.toLong, n, w2.toDouble / 2.0, z)
    }
    // tiny value range -> heavy |d| ties, frequent zero differences
    val gen = Gen.chooseNum(1, 40).flatMap(len =>
      Gen.listOfN(len, Gen.zip(Gen.chooseNum(-3L, 3L),
        Gen.chooseNum(-3L, 3L))))
    for (seed <- 0 until 30) {
      val pairs = samples(gen, 1, seed).flatten.toIndexedSeq
      val got = Analytics.wilcoxonSignedRank(
        pairs.toDF("a", "b"), "a", "b").collect().head
      val (np, n, w, z) = ref(pairs)
      assert(got.getLong(0) == np && got.getLong(1) == n, s"seed=$seed n")
      assert(got.getDouble(2) == w, s"seed=$seed w_plus")
      val gotZ = if (got.isNullAt(3)) None else Some(got.getDouble(3))
      assert(gotZ == z, s"seed=$seed z: got $gotZ, ref $z")
    }
  }

  test("jonckheereTerpstra property: (n, k, cells, J, z) equal a " +
    "driver-side replica of the census-product 2J and Hollander-Wolfe " +
    "variance over random tied frames; one-group frames NULL") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(rows: Seq[(Long, Long)])
        : (Long, Long, Long, Double, Option[Double]) = {
      val census = rows.groupBy(identity).toSeq
        .map { case ((g, v), l) => (g, v, l.size.toLong) }
      var j2 = 0L
      for ((g1, v1, c1) <- census; (g2, v2, c2) <- census if g1 < g2) {
        if (v1 < v2) j2 += 2L * c1 * c2
        else if (v1 == v2) j2 += c1 * c2
      }
      val ngs = rows.groupBy(_._1).values.map(_.size.toLong).toSeq
      val nn = ngs.sum
      val sn2 = ngs.map(n => n * n).sum
      val ga = ngs.map(n => n * (n - 1L) * (2L * n + 5L)).sum
      val gb = ngs.map(n => n * (n - 1L) * (n - 2L)).sum
      val gc = ngs.map(n => n * (n - 1L)).sum
      val tss = rows.groupBy(_._2).values.map(_.size.toLong).toSeq
      val ta = tss.map(t => t * (t - 1L) * (2L * t + 5L)).sum
      val tb = tss.map(t => t * (t - 1L) * (t - 2L)).sum
      val tc = tss.map(t => t * (t - 1L)).sum
      val k = ngs.size.toLong
      val vr = (nn * (nn - 1L) * (2L * nn + 5L) - ga - ta).toDouble / 72.0 +
        gb.toDouble * tb.toDouble /
          (36.0 * (nn * (nn - 1L) * (nn - 2L)).toDouble) +
        gc.toDouble * tc.toDouble / (8.0 * (nn * (nn - 1L)).toDouble)
      val z = if (k > 1L && vr > 0.0)
        Some(round6((2L * j2 - (nn * nn - sn2)).toDouble / 4.0 /
          math.sqrt(vr)))
      else None
      (nn, k, census.size.toLong, j2.toDouble / 2.0, z)
    }
    val gen = Gen.chooseNum(5, 40).flatMap(len =>
      Gen.listOfN(len, Gen.zip(Gen.chooseNum(-2L, 2L),
        Gen.chooseNum(-3L, 3L))))
    for (seed <- 0 until 30) {
      val rows = samples(gen, 1, seed).flatten.toIndexedSeq
      val got = Analytics.jonckheereTerpstra(
        rows.toDF("g", "v"), "g", "v").collect().head
      val (nn, k, cells, j, z) = ref(rows)
      assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
        ((nn, k, cells)), s"seed=$seed census")
      assert(got.getDouble(3) == j, s"seed=$seed j_stat")
      val gotZ = if (got.isNullAt(4)) None else Some(got.getDouble(4))
      assert(gotZ == z, s"seed=$seed z: got $gotZ, ref $z")
    }
  }

  test("friedman property: (n_blocks, k, chi2) equal a driver-side " +
    "replica of the within-block doubled-midrank Conover form over " +
    "random cell frames with replicates and incomplete blocks") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(rows: Seq[(Long, Long, Long)])
        : (Long, Long, Option[Double]) = {
      val cells = rows.groupBy(r => (r._1, r._2)).toSeq.map {
        case ((b, t), l) =>
          (b, t, l.map(_._3).sum.toDouble / l.size.toDouble)
      }
      val k = cells.map(_._2).distinct.size.toLong
      val byBlock = cells.groupBy(_._1)
        .filter(_._2.size.toLong == k)
      val nb = byBlock.size.toLong
      if (k < 2L || nb == 0L) return (nb, k, None)
      // 2r = 2*(1 + #strictly-less) + #peers - 1 within the block
      val ranked = byBlock.values.toSeq.flatMap { bc =>
        bc.map { case (_, t, v) =>
          val less = bc.count(_._3 < v).toLong
          val tie = bc.count(_._3 == v).toLong
          (t, 2L * (less + 1L) + tie - 1L)
        }
      }
      val sr2 = ranked.map(r => r._2 * r._2).sum
      val den = sr2 - nb * k * (k + 1L) * (k + 1L)
      val num = ranked.groupBy(_._1).values.map(_.map(_._2).sum)
        .map(rr => (rr - nb * (k + 1L)) * (rr - nb * (k + 1L))).sum
      val chi2 = if (den > 0L)
        Some(round6((k - 1L).toDouble * num.toDouble / den.toDouble))
      else None
      (nb, k, chi2)
    }
    val gen = Gen.chooseNum(5, 50).flatMap(len =>
      Gen.listOfN(len, Gen.zip(Gen.chooseNum(0L, 4L),
        Gen.chooseNum(0L, 2L), Gen.chooseNum(-3L, 3L))))
    for (seed <- 0 until 30) {
      val rows = samples(gen, 1, seed).flatten.toIndexedSeq
        .map(t => (t._1, t._2, t._3))
      val got = Analytics.friedman(
        rows.toDF("bl", "tr", "v"), "bl", "tr", "v").collect().head
      val (nb, k, chi2) = ref(rows)
      assert((got.getLong(0), got.getLong(1)) == ((nb, k)),
        s"seed=$seed blocks/k")
      val gotC = if (got.isNullAt(2)) None else Some(got.getDouble(2))
      assert(gotC == chi2, s"seed=$seed chi2: got $gotC, ref $chi2")
    }
  }

  test("cramerVonMises property: (n_a, n_b, T) equal a driver-side " +
    "BigInt replica of the pooled-census identity over random tied " +
    "samples; empty sides NULL") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(a: Seq[Long], b: Seq[Long]): (Long, Long, Option[Double]) = {
      val n = a.size.toLong; val m = b.size.toLong
      if (n == 0L || m == 0L) return (n, m, None)
      val vs = (a ++ b).distinct.sorted
      var num = BigInt(0)
      vs.foreach { v =>
        val av = a.count(_ <= v).toLong; val bv = b.count(_ <= v).toLong
        val cv = (a.count(_ == v) + b.count(_ == v)).toLong
        val d = BigInt(av * m - bv * n)
        num += d * d * cv
      }
      (n, m, Some(round6(num.toDouble /
        (n.toDouble * m.toDouble * (n + m).toDouble * (n + m).toDouble))))
    }
    val gen = Gen.zip(
      Gen.chooseNum(0, 25).flatMap(l => Gen.listOfN(l, Gen.chooseNum(-4L, 4L))),
      Gen.chooseNum(0, 25).flatMap(l => Gen.listOfN(l, Gen.chooseNum(-4L, 4L))))
    for (seed <- 0 until 30) {
      val (a, b) = samples(gen, 1, seed).head
      val got = Analytics.cramerVonMises(
        a.toDF("v"), b.toDF("v"), "v").collect().head
      val (n, m, t) = ref(a, b)
      assert((got.getLong(0), got.getLong(1)) == ((n, m)), s"seed=$seed n")
      val gotT = if (got.isNullAt(2)) None else Some(got.getDouble(2))
      assert(gotT == t, s"seed=$seed T: got $gotT, ref $t")
    }
  }

  test("effectSizes property: (n_a, n_b, d, g, delta) equal a " +
    "driver-side replica of the exact-moment and census-dominance " +
    "identities over random tied samples") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(a: Seq[Long], b: Seq[Long])
        : (Long, Long, Option[Double], Option[Double], Option[Double]) = {
      val n = a.size.toLong; val m = b.size.toLong
      val dOpt = if (n > 0 && m > 0 && n + m > 2) {
        val (sa, sb) = (a.sum, b.sum)
        val qa = a.map(v => BigInt(v) * v).sum
        val qb = b.map(v => BigInt(v) * v).sum
        val ssa = qa.toDouble - sa.toDouble * sa.toDouble / n.toDouble
        val ssb = qb.toDouble - sb.toDouble * sb.toDouble / m.toDouble
        val s2 = (ssa + ssb) / (n + m - 2L).toDouble
        if (s2 > 0.0)
          Some((sa.toDouble / n.toDouble - sb.toDouble / m.toDouble) /
            math.sqrt(s2))
        else None
      } else None
      val delta = if (n > 0 && m > 0) {
        val gt = a.map(x => b.count(_ < x).toLong).sum
        val lt = a.map(x => b.count(_ > x).toLong).sum
        Some(round6((gt - lt).toDouble / (n.toDouble * m.toDouble)))
      } else None
      (n, m, dOpt.map(round6),
        dOpt.map(d => round6(d *
          (1.0 - 3.0 / (4.0 * (n + m).toDouble - 9.0)))), delta)
    }
    val gen = Gen.zip(
      Gen.chooseNum(0, 25).flatMap(l => Gen.listOfN(l, Gen.chooseNum(-4L, 4L))),
      Gen.chooseNum(0, 25).flatMap(l => Gen.listOfN(l, Gen.chooseNum(-4L, 4L))))
    for (seed <- 0 until 30) {
      val (a, b) = samples(gen, 1, seed).head
      val got = Analytics.effectSizes(
        a.toDF("v"), b.toDF("v"), "v").collect().head
      val (n, m, d, g, delta) = ref(a, b)
      assert((got.getLong(0), got.getLong(1)) == ((n, m)), s"seed=$seed n")
      def opt(i: Int) = if (got.isNullAt(i)) None else Some(got.getDouble(i))
      assert(opt(2) == d, s"seed=$seed d: got ${opt(2)}, ref $d")
      assert(opt(3) == g, s"seed=$seed g: got ${opt(3)}, ref $g")
      assert(opt(4) == delta, s"seed=$seed delta: got ${opt(4)}, ref $delta")
    }
  }

  test("brunnerMunzel property: (n_a, n_b, p_hat, W) equal a " +
    "driver-side midrank replica over random tied samples") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def mid(all: Seq[Long], v: Long): Double =
      all.count(_ < v).toDouble + (all.count(_ == v).toDouble + 1.0) / 2.0
    def ref(a: Seq[Long], b: Seq[Long])
        : (Long, Long, Option[Double], Option[Double]) = {
      val n = a.size.toLong; val m = b.size.toLong
      if (n == 0L || m == 0L) return (n, m, None, None)
      val pool = a ++ b
      // engine float trees: means from the doubled rank sums, variances
      // from the 2n-scaled integer deviations — replicate exactly
      val sra = a.map(v => math.round(2.0 * mid(pool, v))).sum
      val srb = b.map(v => math.round(2.0 * mid(pool, v))).sum
      val ma = sra.toDouble / (2.0 * n.toDouble)
      val mb = srb.toDouble / (2.0 * m.toDouble)
      val pHat = Some(round6((mb - (m + 1L).toDouble / 2.0) / n.toDouble))
      if (n < 2L || m < 2L) return (n, m, pHat, None)
      def q(s: Seq[Long], sr: Long, ng: Long): BigInt =
        s.map { v =>
          val t = BigInt(ng) * (math.round(2.0 * mid(pool, v)) -
            math.round(2.0 * mid(s, v))) - sr + ng * (ng + 1L)
          t * t
        }.sum
      val s2a = q(a, sra, n).toDouble /
        ((n - 1L).toDouble * 4.0 * n.toDouble * n.toDouble)
      val s2b = q(b, srb, m).toDouble /
        ((m - 1L).toDouble * 4.0 * m.toDouble * m.toDouble)
      val den = math.sqrt(n.toDouble * s2a + m.toDouble * s2b)
      val w = if (den > 0.0)
        Some(round6(n.toDouble * m.toDouble * (mb - ma) /
          ((n + m).toDouble * den)))
      else None
      (n, m, pHat, w)
    }
    val gen = Gen.zip(
      Gen.chooseNum(0, 25).flatMap(l => Gen.listOfN(l, Gen.chooseNum(-4L, 4L))),
      Gen.chooseNum(0, 25).flatMap(l => Gen.listOfN(l, Gen.chooseNum(-4L, 4L))))
    for (seed <- 0 until 30) {
      val (a, b) = samples(gen, 1, seed).head
      val got = Analytics.brunnerMunzel(
        a.toDF("v"), b.toDF("v"), "v").collect().head
      val (n, m, p, w) = ref(a, b)
      assert((got.getLong(0), got.getLong(1)) == ((n, m)), s"seed=$seed n")
      def opt(i: Int) = if (got.isNullAt(i)) None else Some(got.getDouble(i))
      assert(opt(2) == p, s"seed=$seed p_hat: got ${opt(2)}, ref $p")
      assert(opt(3) == w, s"seed=$seed W: got ${opt(3)}, ref $w")
    }
  }

  test("logRank property: (counts, z, chi2) equal a driver-side " +
    "risk-set replica with the identical picopoint term trees over " +
    "random censored two-group frames") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pico(x: Double): Long = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def ref(rows: Seq[(Long, Boolean, Boolean)])
        : (Long, Long, Long, Long, Option[Double]) = {
      val na = rows.count(!_._3).toLong; val nb = rows.count(_._3).toLong
      val ea = rows.count(r => r._2 && !r._3).toLong
      val eb = rows.count(r => r._2 && r._3).toLong
      val times = rows.map(_._1).distinct.sorted
      var so = 0L; var sv = 0L
      times.foreach { t =>
        val d1 = rows.count(r => r._1 == t && r._2 && r._3).toLong
        val d0 = rows.count(r => r._1 == t && r._2 && !r._3).toLong
        val n1 = rows.count(r => r._1 >= t && r._3).toLong
        val n0 = rows.count(r => r._1 >= t && !r._3).toLong
        val (dt, n) = (d1 + d0, n1 + n0)
        so += pico((d1.toDouble -
          dt.toDouble * n1.toDouble / n.toDouble) * 1e12)
        if (n > 1L)
          sv += pico(dt.toDouble * n1.toDouble * n0.toDouble *
            (n - dt).toDouble /
            (n.toDouble * n.toDouble * (n - 1L).toDouble) * 1e12)
      }
      val z = if (sv > 0L)
        Some((so.toDouble / 1e12) / math.sqrt(sv.toDouble / 1e12))
      else None
      (na, nb, ea, eb, z)
    }
    val gen = Gen.chooseNum(4, 40).flatMap(len =>
      Gen.listOfN(len, Gen.zip(Gen.chooseNum(0L, 6L),
        Gen.oneOf(true, false), Gen.oneOf(true, false))))
    for (seed <- 0 until 30) {
      val rows = samples(gen, 1, seed).flatten.toIndexedSeq
        .map(t => (t._1, t._2, t._3))
      val got = Analytics.logRank(
        rows.toDF("t", "e", "g"), "t", "e", "g").collect().head
      val (na, nb, ea, eb, z) = ref(rows)
      assert((got.getLong(0), got.getLong(1), got.getLong(2),
        got.getLong(3)) == ((na, nb, ea, eb)), s"seed=$seed counts")
      val gotZ = if (got.isNullAt(4)) None else Some(got.getDouble(4))
      assert(gotZ == z.map(round6), s"seed=$seed z: got $gotZ, ref $z")
      val gotC = if (got.isNullAt(5)) None else Some(got.getDouble(5))
      assert(gotC == z.map(zz => round6(zz * zz)), s"seed=$seed chi2")
    }
  }

  test("moodMedian property: (counts, median, chi2) equal a " +
    "driver-side order-statistic replica over random tied samples") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(a: Seq[Long], b: Seq[Long])
        : (Long, Long, Long, Long, Long, Option[Double]) = {
      val n = a.size.toLong; val m = b.size.toLong
      if (n + m == 0L) return (0L, 0L, 0L, 0L, 0L, None)
      val med = (a ++ b).sorted.apply(((n + m + 1L) / 2L - 1L).toInt)
      val aa = a.count(_ > med).toLong; val bb = b.count(_ > med).toLong
      val den = n.toDouble * m.toDouble * (aa + bb).toDouble *
        ((n - aa) + (m - bb)).toDouble
      val chi2 = if (n > 0 && m > 0 && den > 0.0) {
        val x = BigInt(aa * (m - bb) - (n - aa) * bb)
        Some(round6((BigInt(n + m) * x * x).toDouble / den))
      } else None
      (n, m, med, aa, bb, chi2)
    }
    val gen = Gen.zip(
      Gen.chooseNum(1, 25).flatMap(l => Gen.listOfN(l, Gen.chooseNum(-4L, 4L))),
      Gen.chooseNum(1, 25).flatMap(l => Gen.listOfN(l, Gen.chooseNum(-4L, 4L))))
    for (seed <- 0 until 30) {
      val (a, b) = samples(gen, 1, seed).head
      val got = Analytics.moodMedian(
        a.toDF("v"), b.toDF("v"), "v").collect().head
      val (n, m, med, aa, bb, chi2) = ref(a, b)
      assert((got.getLong(0), got.getLong(1), got.getLong(2),
        got.getLong(3), got.getLong(4)) == ((n, m, med, aa, bb)),
        s"seed=$seed cells")
      val gotC = if (got.isNullAt(5)) None else Some(got.getDouble(5))
      assert(gotC == chi2, s"seed=$seed chi2: got $gotC, ref $chi2")
    }
  }

  test("cochranArmitage property: (n, k, n_success, z_trend) equal a " +
    "driver-side replica of the cross-multiplied BIGINT identity over " +
    "random dose frames; no-contrast NULL") {
    import graft.operators.Analytics
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(rows: Seq[(Long, Boolean)])
        : (Long, Long, Long, Option[Double]) = {
      val c = rows.groupBy(_._1).map { case (s, l) =>
        (s, l.size.toLong, l.count(_._2).toLong) }.toSeq
      val nn = c.map(_._2).sum; val rr = c.map(_._3).sum
      val k = c.size.toLong
      val sr = c.map(x => x._1 * x._3).sum
      val sn = c.map(x => x._1 * x._2).sum
      val ssn = c.map(x => x._1 * x._1 * x._2).sum
      val a = (nn * sr - rr * sn).toDouble
      val b = (nn * ssn - sn * sn).toDouble
      val z = if (k > 1 && rr > 0 && rr < nn && b > 0.0)
        Some(round6(a / math.sqrt(rr.toDouble * (nn - rr).toDouble * b /
          nn.toDouble)))
      else None
      (nn, k, rr, z)
    }
    // negative doses exercise the sign algebra; p(success) ~ 1/2
    val gen = Gen.chooseNum(1, 40).flatMap(len =>
      Gen.listOfN(len, Gen.zip(Gen.chooseNum(-2L, 3L),
        Gen.oneOf(true, false))))
    for (seed <- 0 until 30) {
      val rows = samples(gen, 1, seed).flatten.toIndexedSeq
      val got = Analytics.cochranArmitage(
        rows.toDF("dose", "ok"), "dose", "ok").collect().head
      val (nn, k, rr, z) = ref(rows)
      assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
        ((nn, k, rr)), s"seed=$seed census")
      val gotZ = if (got.isNullAt(3)) None else Some(got.getDouble(3))
      assert(gotZ == z, s"seed=$seed z: got $gotZ, ref $z")
    }
  }

  test("adversarial tie structures (r12 #8): all-tied and single-" +
    "distinct-value censuses hit each two-sample finalizer's documented " +
    "degenerate contract — NULL where variance algebra collapses (wsr " +
    "z, BM W, Mood chi2), exact zero where the statistic is genuinely " +
    "zero (CvM T), never NaN-by-accident") {
    import graft.operators.Analytics
    // wilcoxonSignedRank — every pair ties: n_nonzero = 0, W+ = 0, z NULL
    val allTiePairs = Seq.fill(12)((5L, 5L)).toDF("a", "b")
    val wsr = Analytics.wilcoxonSignedRank(allTiePairs, "a", "b")
      .collect().head
    assert(wsr.getLong(0) == 12L && wsr.getLong(1) == 0L &&
      wsr.getDouble(2) == 0.0 && wsr.isNullAt(3), wsr.toString)
    // wilcoxonSignedRank — single distinct nonzero difference (one
    // census cell, all positive): W+ = n(n+1)/2, z defined and positive
    val oneDiff = Seq.fill(8)((7L, 4L)).toDF("a", "b")
    val wsr1 = Analytics.wilcoxonSignedRank(oneDiff, "a", "b")
      .collect().head
    assert(wsr1.getLong(1) == 8L && wsr1.getDouble(2) == 36.0 &&
      !wsr1.isNullAt(3) && wsr1.getDouble(3) > 0.0, wsr1.toString)
    // cramerVonMises — both samples one shared value: T = 0 exactly
    val one = Seq.fill(6)(3L).toDF("v")
    val cvm = Analytics.cramerVonMises(one, one, "v").collect().head
    assert(cvm.getLong(0) == 6L && cvm.getLong(1) == 6L &&
      !cvm.isNullAt(2) && cvm.getDouble(2) == 0.0, cvm.toString)
    // brunnerMunzel — zero rank variance (all values tied): the W
    // variance is undefined; the DOCUMENTED contract is NULL W with
    // p_hat = 0.5 (stochastic equality), not NaN
    val bm = Analytics.brunnerMunzel(one, one, "v").collect().head
    assert(bm.getLong(0) == 6L && bm.getLong(1) == 6L, bm.toString)
    assert(bm.getDouble(2) == 0.5, s"p_hat ${bm.getDouble(2)}")
    assert(bm.isNullAt(3), s"W must be NULL at zero variance, got $bm")
    // brunnerMunzel — single distinct value PER SIDE, different values:
    // still zero within-group rank variance → W NULL, p_hat extreme
    val lowSide = Seq.fill(5)(1L).toDF("v")
    val highSide = Seq.fill(5)(9L).toDF("v")
    val bm2 = Analytics.brunnerMunzel(lowSide, highSide, "v")
      .collect().head
    assert(bm2.getDouble(2) == 1.0 && bm2.isNullAt(3), bm2.toString)
    // moodMedian — single distinct value: every row AT the median,
    // above margins zero → chi2 NULL by the margin guard (never 0/0)
    val mood = Analytics.moodMedian(one, one, "v").collect().head
    assert(mood.getLong(0) == 6L && mood.getLong(1) == 6L &&
      mood.getLong(3) == 0L && mood.getLong(4) == 0L &&
      mood.isNullAt(5), mood.toString)
    assert(mood.getLong(2) == 3L, s"median ${mood.get(2)}")
  }

  test("ZoneFilters property (r13 #6): over random predicate trees " +
    "(And/Or/Not, all comparison ops, IN lists, stats and non-stats " +
    "columns, nulls, deletion vectors) readIndexed.filter returns " +
    "EXACTLY read.filter's rows — pruning is always a superset — and " +
    "supported shapes do measurably prune") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft_zfprop")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = java.sql.Date.valueOf("2024-01-01")
    // 6 sorted files of 10 rows: k 0..59, s "s000".."s059" (every 7th
    // null), dt walks 2024-01-01.., v2 a NaN-infected stats double
    // (every 11th — Spark orders NaN ABOVE everything, the r14
    // zone-creation fix), value non-stats double
    def slice(lo: Int) = spark.range(lo, lo + 10).select(
      $"id".as("rid"),
      $"id".as("k"),
      when($"id" % 7 === 3, lit(null).cast("string"))
        .otherwise(format_string("s%03d", $"id")).as("s"),
      date_add(lit(d), ($"id" / 2).cast("int")).as("dt"),
      when($"id" % 11 === 4, lit(Double.NaN))
        .otherwise($"id" * 2.0).as("v2"),
      ($"id" * 1.5).as("value"),
      lit(d).as("start_date_oslo")).repartition(1)
    // bloom sidecars on k and s (r15): the same random trees now also
    // exercise bloom admission — equality/IN leaves under And prune
    // through the filters, Or/Not-wrapped ones must extract NOTHING
    // (a bloom miss under negation would wrongly prune), and the
    // pruned ≡ unpruned invariant polices both directions
    LogTable.init(slice(0), root, statsCols = Seq("k", "s", "dt", "v2"),
      bloomCols = Seq("k", "s"))
    (1 to 5).foreach(i => LogTable.append(spark, root, slice(i * 10)))
    // deletion vectors in play: both paths must hide the same rows
    LogTable.delete(spark, root, col("rid").isin(14L, 27L, 50L))
    val totalFiles = LogTable.read(spark, root).inputFiles.length.toLong
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
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
      df.collect() // force ONE action so numFiles is populated
      scans(df.queryExecution.executedPlan)
        .filterNot(_.relation.location.rootPaths.exists(
          _.toString.contains("_graft_dv"))) // the base scan only
        .map(_.metrics("numFiles").value).sum
    }
    val rnd = new scala.util.Random(421L)
    def leaf(): org.apache.spark.sql.Column = rnd.nextInt(7) match {
      case 0 =>
        val (c, l) = (col("k"), lit(rnd.nextInt(70).toLong))
        Seq(c > l, c >= l, c < l, c <= l, c === l)(rnd.nextInt(5))
      case 1 =>
        val (c, l) = (col("s"), lit(f"s${rnd.nextInt(70)}%03d"))
        Seq(c > l, c >= l, c < l, c <= l, c === l)(rnd.nextInt(5))
      case 2 =>
        val (c, l) = (col("dt"), lit(java.sql.Date.valueOf(
          java.time.LocalDate.parse("2024-01-01")
            .plusDays(rnd.nextInt(35).toLong))))
        Seq(c > l, c >= l, c < l, c <= l, c === l)(rnd.nextInt(5))
      case 3 =>
        col("k").isin(Seq.fill(1 + rnd.nextInt(4))(
          rnd.nextInt(70).toLong): _*)
      case 4 => // non-stats column: never prunes, must stay correct
        col("value") <= lit(rnd.nextInt(100).toDouble)
      case 5 => col("s").isNotNull
      case 6 => // NaN-infected stats double, sometimes probed AT NaN
        val l =
          if (rnd.nextInt(5) == 0) lit(Double.NaN)
          else lit(rnd.nextInt(140).toDouble)
        val c = col("v2")
        Seq(c > l, c >= l, c < l, c <= l, c === l)(rnd.nextInt(5))
    }
    def tree(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => tree(depth - 1) && tree(depth - 1)
        case 1 => tree(depth - 1) || tree(depth - 1)
        case 2 => !tree(depth - 1)
      }
    var prunedSome = 0
    // a checkpointed full scan: filters above it never reach the index
    val unpruned = LogTable.read(spark, root).localCheckpoint()
    (1 to 35).foreach { i =>
      val cond = tree(2 + rnd.nextInt(2))
      val viaIndex = LogTable.read(spark, root).filter(cond)
      val exact = unpruned.filter(cond)
        .select("rid").as[Long].collect().sorted.toSeq
      val got = viaIndex.select("rid").as[Long].collect().sorted.toSeq
      assert(got == exact,
        s"tree #$i: the pruned scan returned ${got.size} rows, " +
          s"the unpruned one ${exact.size} — $cond")
      if (plannedFiles(viaIndex) < totalFiles) prunedSome += 1
    }
    assert(prunedSome >= 5,
      s"only $prunedSome/35 trees pruned — generator too weak to " +
        "exercise the translation")
    fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
  }
}
