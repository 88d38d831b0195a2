package graft

import org.apache.spark.sql.functions._

import graft.functions.{CosineSimilarity => NativeCos}
import graft.operators.{ClusterOps, ScaleOps, SimilarityOps}

/** Native codegen cosine expression + shuffle-shape utilities. */
class ScaleNativeSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(-1.0f, 0.5f, 2.5f)),
    (3L, Array(0.0f, 0.0f, 0.0f)), (4L, Array(0.1f, 0.2f, 0.3f))
  ).toDF("id", "v")

  test("native cosine is bitwise-identical to the HOF reference implementation") {
    val out = vecs.crossJoin(vecs.select($"id".as("id2"), $"v".as("v2")))
      .select(NativeCos($"v", $"v2").as("native"),
        SimilarityOps.cosine($"v", $"v2").as("ref"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native cosine matches HOF semantics for null array elements (0.0)") {
    val df = spark.sql(
      "SELECT array(1.0F, cast(null as float), 3.0F) a, array(1.0F, 2.0F, 3.0F) b")
    val r = df.select(NativeCos($"a", $"b").as("native"),
      SimilarityOps.cosine($"a", $"b").as("ref")).collect()(0)
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("native cosine is registered in SQL via GraftExtensions") {
    vecs.createOrReplaceTempView("nv")
    val r = spark.sql(
      "SELECT graft_cosine(a.v, b.v) c FROM nv a JOIN nv b ON a.id=1 AND b.id=4")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-9) // parallel vectors
    // zero-norm guard
    val z = spark.sql(
      "SELECT graft_cosine(a.v, b.v) c FROM nv a JOIN nv b ON a.id=1 AND b.id=3")
      .collect()(0).getDouble(0)
    assert(z == 0.0)
  }

  test("salted aggregation equals plain aggregation") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val salted = ScaleOps.saltedSumCount(df, Seq("k"), "v", saltBuckets = 8)
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(plain.toSeq == salted.toSeq)
  }

  test("salted join equals plain inner join") {
    val left = (1 to 500).map(i => (s"k${i % 5}", i)).toDF("k", "lv")
    val right = Seq(("k0", "a"), ("k1", "b"), ("k2", "c")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).orderBy("k", "lv")
      .collect().map(_.toSeq)
    val salted = ScaleOps.saltedJoin(left, right, "k", saltBuckets = 4)
      .select("k", "lv", "rv").orderBy("k", "lv").collect().map(_.toSeq)
    assert(plain.toSeq == salted.toSeq)
  }

  test("AQE skew join splits the hot partition (final plan shows skewed " +
    "reader) and result equals the plain join") {
    import graft.operators.ScaleOps
    // 2/3 of rows share key 1 — one reducer partition dwarfs the median
    val fact = (1 to 20000)
      .map(i => (if (i % 3 != 0) 1L else (i % 50) + 2L, i.toLong))
      .toDF("k", "v")
    // dim MATERIALIZED before the join: OptimizeSkewedJoin only matches a
    // sort-merge join whose children are sorts DIRECTLY over shuffle
    // stages — an aggregate fused between the dim's shuffle and its sort
    // hides the stage and silently disables the skew split
    val dim = fact.groupBy("k").agg(count(lit(1)).as("n_k")).localCheckpoint(true)
    // aggregate on a DIFFERENT shape than the join key: a groupBy on k
    // right after the join would REQUIRE the join's hash partitioning,
    // and AQE refuses to split partitions whose distribution is needed
    // downstream — the global agg leaves the join free to split
    val want = fact.join(dim, "k")
      .agg(sum($"v").as("sv"), sum($"n_k").as("sn"))
      .collect().map(_.toSeq).toSeq
    val (got, plan) = ScaleOps.withAqeSkewJoin(spark,
      thresholdBytes = 16 * 1024, advisoryBytes = 8 * 1024) {
      val joined = fact.join(dim, "k")
        .agg(sum($"v").as("sv"), sum($"n_k").as("sn"))
      val rows = joined.collect().map(_.toSeq).toSeq // materialize: AQE final plan
      (rows, joined.queryExecution.executedPlan.toString)
    }
    assert(got == want)
    // the skewed side's shuffle reader must mark split partitions
    assert(plan.contains("skew=true") || plan.contains("isSkew=true") ||
      plan.contains("skewed"), plan)
  }

  // exact all-pairs cosine near-dups of the seed corpus, and the LSH pair
  // set of one plane family in the recall-1 regime (2-bit bands, 16 bands)
  private def rhpExactAndLsh(plane: (Int, Int) => Array[Double])
      : (Set[(Long, Long, Double)], Set[(Long, Long, Double)]) = {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("score", round(NativeCos(col("a.embedding"), col("b.embedding")), 4))
      .filter(col("score") >= 0.44)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = SimilarityOps.rhpNearDupPairs(emb, "vec_id", "embedding",
      dims = 64, rowsPerBand = 2, bands = 16, plane = plane, threshold = 0.44)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    (exact, lsh)
  }

  test("rhpNearDupPairs matches exact all-pairs cosine near-dups (no false " +
    "positives by construction; full recall on the seed corpus)") {
    // the rhpPlane family of x5b/x5c
    val (exact, lsh) = rhpExactAndLsh(SimilarityOps.rhpPlane)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    assert(lsh == exact, s"missed pairs (recall < 1 on this corpus): ${exact -- lsh}")
    assert(exact.nonEmpty, "corpus should contain at least one near-dup pair")
  }

  test("rhpNearDupPairsBanded: no false positives, full recall on the seed " +
    "corpus, and decorrelated planes") {
    // the decorrelated rhpPlaneV2 family of x5d (the former
    // rhpNearDupPairsBanded, now rhpNearDupPairs with plane = rhpPlaneV2)
    val (exact, lsh) = rhpExactAndLsh(SimilarityOps.rhpPlaneV2)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    assert(lsh == exact, s"missed pairs: ${exact -- lsh}")
    assert(exact.nonEmpty)
    // the V2 planes must be distinct across indices and roughly centered
    val p0 = SimilarityOps.rhpPlaneV2(0, 64)
    val p1 = SimilarityOps.rhpPlaneV2(1, 64)
    assert(!p0.sameElements(p1))
    assert(math.abs(p0.sum / 64) < 0.1 && math.abs(p1.sum / 64) < 0.1)
  }

  test("IVF shipped operating point holds the recall floor: mean " +
    "recall@10 >= 0.9 at (kmeans iters=2, nlist=16, nprobe=12), and the " +
    "rejected r9 default (nprobe=4) stays below it") {
    // executable form of the PERF.md floor (r10 VERDICT directive #2):
    // x140's oracle recomputes recall WITH the query's own parameters, so
    // a silent operating-point regression would stay hash-green — this
    // assertion is the gate that goes red if nprobe is ever dropped back.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val init = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cents = ClusterOps.kmeansFit(emb, "vec_id", "embedding", init,
      "cid", "cvec", iters = 2)
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") >= 16 && col("vec_id") % 10 =!= 0)
    def meanRecall(nprobe: Int): Double =
      SimilarityOps.annRecallAudit(queries, "vec_id", "embedding",
          corpus, "vec_id", "embedding", cents, "cid", "cvec",
          k = 10, nprobe = nprobe)
        .agg(avg(col("recall"))).head().getDouble(0)
    val shipped = meanRecall(12)
    assert(shipped >= 0.9,
      f"shipped operating point regressed: mean recall@10 = $shipped%.4f")
    val rejected = meanRecall(4)
    assert(rejected < 0.9,
      f"nprobe=4 now measures $rejected%.4f — floor assertion is no " +
        "longer discriminating, re-derive the operating point")
  }

  test("clustered fixture: IVF prunes 4x deeper than the isotropic " +
    "operating point at full recall, and the probe is partition pruning") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mog = SimilarityOps.mixtureEmbeddings(emb, "vec_id", "embedding",
      nClusters = 8, eps = 0.05, salt = "mog:")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"))
    val queries = mog.filter(col("vec_id") % 10 === 0)
    val corpus = mog.filter(col("vec_id") % 10 =!= 0)
    // the mixture really is clustered: every row assigns to its
    // generative center
    val assigned = SimilarityOps.ivfAssign(corpus, "vec_id", "embedding",
      cents, "cid", "cvec")
    assert(assigned.filter(col("centroid") =!= col("vec_id") % 8)
      .count() == 0L)
    // recall floor at a 4x deeper prune than the isotropic 12/16 point —
    // even nprobe=1 of 8 holds it (same-cluster neighbors dominate top-10)
    def meanRecall(nprobe: Int): Double =
      SimilarityOps.annRecallAudit(queries, "vec_id", "embedding",
          corpus, "vec_id", "embedding", cents, "cid", "cvec",
          k = 10, nprobe = nprobe)
        .agg(avg(col("recall"))).head().getDouble(0)
    val r2 = meanRecall(2)
    assert(r2 >= 0.9, f"clustered recall@10 at nprobe=2 = $r2%.4f")
    val r1 = meanRecall(1)
    assert(r1 >= 0.9, f"clustered recall@10 at nprobe=1 = $r1%.4f")
    // the probe reaches the at-rest layout as PARTITION pruning: 2 of 8
    // directories scanned, I/O elimination not post-scan filtering
    val dir = java.nio.file.Files.createTempDirectory("graft_mog").toString
    val schema = SimilarityOps.ivfWritePartitioned(assigned, dir)
    val q = mog.filter(col("vec_id") === 10).select("embedding")
      .head().getSeq[Float](0)
    val atRest = SimilarityOps.ivfProbeAtRest(spark, dir, schema, "vec_id",
      "embedding", cents, "cid", "cvec", q, k = 10, nprobe = 2)
    assert(atRest.count() == 10L)
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case other => other.collect { case f: FileSourceScanExec => f }
    }
    val scan = scans(atRest.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
      .getOrElse(fail("no FileSourceScan over the at-rest table"))
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 of 8 partitions, scanned " +
        s"${scan.selectedPartitions.partitionCount}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("PQ recall floor is executable (r12 directive #5): on the " +
    "clustered fixture the RESIDUAL quantizer's recall@10 at the shipped " +
    "(m=4, dsub=16, k=16) point holds >= 0.27 when trained (iters=2), an " +
    "untrained codebook (iters=0) falls below it, and the quantization " +
    "MSE is monotone non-increasing in Lloyd's iterations") {
    // x62/x63 hash-match oracles that RECOMPUTE with the same codebooks,
    // so a degraded codebook passes both sides — this is the independent
    // gate that goes red if pqTrain stops training. Raw PQ on a tight
    // mixture cannot discriminate (within-cluster distances sit below
    // the 16-codeword resolution; measured recall DROPS with training);
    // the residual path is where Lloyd's iterations genuinely pay
    // (Jegou et al. 2011 SIV — residuals cluster around zero), and it is
    // the path IVF-PQ (x63) ships. Everything below is deterministic
    // (md5 jitter, first-k init, fixed IEEE trees), so the thin measured
    // margin (0.2875 trained vs 0.2250 untrained) cannot flake.
    import graft.functions.{L2DistanceSq => NativeL2}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mog = SimilarityOps.mixtureEmbeddings(emb, "vec_id", "embedding",
      nClusters = 8, eps = 0.05, salt = "mog:").localCheckpoint(true)
    val corpus = mog.filter(col("vec_id") >= 16)
    val cents = mog.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"))
      .localCheckpoint(true)
    val centArr = cents.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val resid = SimilarityOps.l2AssignResiduals(corpus, "vec_id",
      "embedding", cents, "cid", "cvec").localCheckpoint(true)
    val rv = resid.select(col("vec_id"),
      transform(col("residual"), x => x.cast("float")).as("residual"))
      .localCheckpoint(true)
    val rinit = rv.filter(col("vec_id") < 32)
    def codebook(iters: Int) = SimilarityOps.pqTrain(rv, "vec_id",
      "residual", rinit, m = 4, dsub = 16, iters = iters)
    def mse(cb: org.apache.spark.sql.DataFrame): Double = {
      val codes = SimilarityOps.pqEncode(rv, "vec_id", "residual", cb,
        m = 4, dsub = 16)
      // reconstruction error = squared L2 between each subvector and its
      // assigned codeword, averaged over (vector, subspace)
      rv.select(col("vec_id").as("id"), col("residual"))
        .join(codes, Seq("id"))
        .select(col("id"), posexplode(col("codes")).as(Seq("sub", "cid")),
          col("residual"))
        .join(broadcast(cb), Seq("sub", "cid"))
        .select(NativeL2(slice(col("residual"),
          col("sub") * 16 + lit(1), lit(16)), col("cvec")).as("e"))
        .agg(avg(col("e"))).head().getDouble(0)
    }
    def meanRecall(cb: org.apache.spark.sql.DataFrame): Double = {
      val codes = SimilarityOps.pqEncode(rv, "vec_id", "residual", cb,
        m = 4, dsub = 16).localCheckpoint(true)
      val recalls = (0L until 16L).map { qid =>
        val qrow = mog.filter(col("vec_id") === qid).select("embedding")
          .head().getSeq[Float](0)
        val qd = qrow.map(_.toDouble)
        val (bc, bv) = centArr.minBy { case (_, cv) =>
          qd.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum }
        val qres = qd.zip(bv).map { case (a, b) => (a - b).toFloat }
        val exact = corpus
          .withColumn("__d", NativeL2(col("embedding"),
            lit(qrow.toArray.map(_.toDouble))))
          .orderBy(col("__d"), col("vec_id")).limit(10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val approx = SimilarityOps.pqTopK(
          codes.join(resid.filter(col("centroid") === bc)
            .select(col("vec_id").as("id")), Seq("id"), "left_semi"),
          cb, qres, m = 4, dsub = 16, k = 10)
          .select("id").collect().map(_.getLong(0)).toSet
        (exact & approx).size.toDouble / 10.0
      }
      recalls.sum / recalls.size.toDouble
    }
    val cb0 = codebook(0)
    val cb2 = codebook(2)
    val (r0, r2) = (meanRecall(cb0), meanRecall(cb2))
    assert(r2 >= 0.27,
      f"trained residual recall@10 regressed: $r2%.4f < 0.27")
    assert(r0 < 0.27,
      f"untrained codebook now measures $r0%.4f — the floor no longer " +
        "discriminates, re-derive the operating point")
    val (e0, e2) = (mse(cb0), mse(cb2))
    assert(e2 < e0,
      f"Lloyd's iterations failed to reduce quantization MSE: " +
        f"iters=2 $e2%.6f vs iters=0 $e0%.6f")
  }

  test("annJoin equals per-query ivfTopK and plans without a cartesian") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") >= 16 && col("vec_id") % 10 =!= 0)
    val joined = SimilarityOps.annJoin(queries, "vec_id", "embedding",
      corpus, "vec_id", "embedding", cents, "cid", "cvec", k = 3, nprobe = 4)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // only k rows per query survive — Spark prunes each group to k BEFORE
    // the final rank (WindowGroupLimit), the plan shape the operator is for
    assert(plan.contains("WindowGroupLimit"), plan)
    val got = joined.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // the batched join must return exactly what the single-query ivfTopK
    // returns for each query, rank included
    val assigned = SimilarityOps.ivfAssign(corpus, "vec_id", "embedding",
      cents, "cid", "cvec")
    val want = queries.select("vec_id", "embedding").collect().flatMap { qr =>
      val qid = qr.getLong(0)
      val qv = qr.getSeq[Float](1)
      SimilarityOps.ivfTopK(assigned, "vec_id", "embedding", cents, "cid",
        "cvec", qv, k = 3, nprobe = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), r.getDouble(2), (i + 1).toLong) }
    }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("embeddingNearDupPairs (retired x5 demo) equals brute-force within " +
    "label blocks") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("score", round(NativeCos(col("a.embedding"), col("b.embedding")), 4))
      .filter(col("score") >= 0.44)
      .select(col("a.label"), col("a.vec_id").as("id_a"),
        col("b.vec_id").as("id_b"), col("score"))
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val blocked = SimilarityOps.embeddingNearDupPairs(emb, "vec_id",
      "embedding", blockCol = "label", threshold = 0.44)
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(blocked == exact)
  }

  test("AvroSource round-trips nullable columns, nulls and µs timestamps") {
    import graft.sources.AvroSource
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_t").toString + "/d"
    val ts = java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")
    val in = Seq(
      (1L, Some(ts), Some("a"), Some(1.5)),
      (2L, None, None, None))
      .toDF("id", "ts", "s", "v")
    AvroSource.write(in, dir)
    val back = AvroSource.read(spark, dir, in.schema)
    assert(rows(back.orderBy("id")) == rows(in.orderBy("id")))
    assert(back.filter(col("id") === 1).head().getTimestamp(1) == ts)
  }

  test("asofJoin: inclusive boundary, latest-wins, left-outer nulls") {
    import graft.operators.AsOfJoin
    def df(rows: Seq[(Long, Long, String, Double)]) =
      rows.toDF("id", "k", "ts_s", "v")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val left = df(Seq(
      (1L, 1L, "2024-01-01 10:00:00", 1.0),  // equal-ts right must match
      (2L, 1L, "2024-01-01 11:00:00", 2.0),  // latest of two earlier rights
      (3L, 2L, "2024-01-01 09:00:00", 3.0))) // no earlier right → nulls
    val right = df(Seq(
      (10L, 1L, "2024-01-01 10:00:00", 5.0),
      (11L, 1L, "2024-01-01 10:30:00", 7.0),
      (12L, 2L, "2024-01-01 09:30:00", 9.0)))
      .select(col("k"), col("ts"), col("id").as("rid"), col("v").as("rv"))
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("rid", "rv"))
      .orderBy("id")
      .select($"id", $"asof_rid", $"asof_rv")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(out == Seq(
      (1L, Some(10L), Some(5.0)),
      (2L, Some(11L), Some(7.0)),
      (3L, None, None)))
  }

  test("asofJoin: null payload columns in the matched row survive (no " +
    "backfill from older rows, no cross-row column mixing)") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 1L, "2024-01-01 11:00:00"))
      .toDF("id", "k", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    // matched row (10:30) has rv=null and rname set; the OLDER row (10:00)
    // has rv=5.0 and rname=null — a per-column ignoreNulls fill would
    // produce the mixed (5.0, "b") phantom row
    val right = Seq(
      (10L, 1L, "2024-01-01 10:00:00", Some(5.0), None: Option[String]),
      (11L, 1L, "2024-01-01 10:30:00", None: Option[Double], Some("b")))
      .toDF("rid", "k", "ts_s", "rv", "rname")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("rid", "rv", "rname"))
      .select($"id", $"asof_rid", $"asof_rv", $"asof_rname")
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 11L, "must match the 10:30 row")
    assert(r.isNullAt(2), "matched row's null rv must survive, not backfill 5.0")
    assert(r.getString(3) == "b")
  }

  test("asofJoin: duplicate (key, ts) right rows pick one whole row " +
    "deterministically (greatest first right column)") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 1L, "2024-01-01 11:00:00"))
      .toDF("id", "k", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val right = Seq(
      (10L, 1L, "2024-01-01 10:30:00", Some(5.0)),
      (11L, 1L, "2024-01-01 10:30:00", None: Option[Double]))
      .toDF("rid", "k", "ts_s", "rv")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val r = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("rid", "rv"))
      .select($"asof_rid", $"asof_rv").collect().head
    // greatest rid (11) wins — and its null rv comes WITH it (whole-row pick)
    assert(r.getLong(0) == 11L)
    assert(r.isNullAt(1), "winner's own null rv must ride along, not rid=10's 5.0")
  }

  test("asofJoin: direction and allowExactMatches match merge_asof semantics") {
    import graft.operators.AsOfJoin
    def df(rows: Seq[(Long, Long, String)]) = rows.toDF("id", "k", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val left = df(Seq((1L, 1L, "2024-01-01 10:00:00")))
    val right = df(Seq(
      (10L, 1L, "2024-01-01 09:00:00"),
      (11L, 1L, "2024-01-01 10:00:00"),
      (12L, 1L, "2024-01-01 11:00:00")))
      .select(col("k"), col("ts"), col("id").as("rid"))
    def run(dir: String, exact: Boolean): Option[Long] = {
      val r = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts", Seq("rid"),
        direction = dir, allowExactMatches = exact)
        .select($"asof_rid").collect().head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    assert(run("backward", true) == Some(11L))  // equal ts matches
    assert(run("backward", false) == Some(10L)) // strictly earlier
    assert(run("forward", true) == Some(11L))   // equal ts matches
    assert(run("forward", false) == Some(12L))  // strictly later
    // forward with no later right row → left-outer null
    val lateLeft = df(Seq((2L, 1L, "2024-01-01 12:00:00")))
    val r2 = AsOfJoin.asofJoin(lateLeft, right, Seq("k"), "ts", "ts",
      Seq("rid"), direction = "forward").select($"asof_rid").collect().head
    assert(r2.isNullAt(0))
  }

  test("range join: bucketized pairs equal the brute-force non-equi join, " +
    "boundary inclusive, cross-bucket matches found") {
    import graft.operators.RangeJoin
    def df(rows: Seq[(Long, String)]) = rows.toDF("id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val left = df(Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:20:00")))
    val right = df(Seq(
      (10L, "2024-01-01 10:04:59"),  // inside
      (11L, "2024-01-01 10:05:00"),  // exactly tolerance — inclusive
      (12L, "2024-01-01 10:26:00"),  // outside (6 min)
      (13L, "2024-01-01 09:55:30"))) // inside, in the PREVIOUS bucket
      .select(col("ts"), col("id").as("rid"))
    val got = RangeJoin.withinTolerance(left, right, "ts", "ts",
      toleranceMs = 5 * 60000L, Seq("rid"))
      .select($"id", $"near_rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 11L), (1L, 13L)))
    // brute force agreement on a bigger random set
    val rnd = new scala.util.Random(11)
    def rts(i: Int) = f"2024-01-01 ${10 + rnd.nextInt(3)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
    val bigL = df((1 to 60).map(i => (i.toLong, rts(i))))
    val bigR = df((1 to 60).map(i => (1000L + i, rts(i))))
      .select(col("ts"), col("id").as("rid"))
    val bucketed = RangeJoin.withinTolerance(bigL, bigR, "ts", "ts",
      toleranceMs = 7 * 60000L, Seq("rid"))
      .select($"id", $"near_rid").as[(Long, Long)].collect().toSet
    val brute = bigL.crossJoin(bigR.select($"rid", $"ts".as("rts")))
      .filter(abs(unix_micros($"ts") - unix_micros($"rts")) <= 7 * 60000000L)
      .select($"id", $"rid").as[(Long, Long)].collect().toSet
    assert(bucketed == brute)
  }

  test("tokenBudgetPack equals the single-partition window form and plans " +
    "no SinglePartition exchange") {
    import graft.operators.TextOps
    import org.apache.spark.sql.expressions.{Window => W}
    val scored = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.qualityScore(col("text"), Seq("the", "a", "value", "data",
          "row", "table")).as("q"))
    val w = W.orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val reference = scored.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= 5000)
      .select("doc_id", "n_tok", "q", "cum_tok").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    // several partition counts: output must be boundary-invariant
    for (parts <- Seq(1, 3, 8)) {
      val packed = ScaleOps.tokenBudgetPack(scored, "n_tok", "q", "doc_id",
        budget = 5000L, partitions = parts)
        .select("doc_id", "n_tok", "q", "cum_tok").orderBy("doc_id")
      assert(packed.collect().map(_.toSeq).toSeq == reference,
        s"parts=$parts diverged from the global-window reference")
    }
    val plan = ScaleOps.tokenBudgetPack(scored, "n_tok", "q", "doc_id", 5000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"scale form must not gather to one partition:\n$plan")
    // null-token docs cluster under the range order (nulls last): a
    // partition holding ONLY nulls must contribute a zero offset, not NPE
    // the driver-side prefix sum
    val nulls = spark.range(9001, 9021).selectExpr("id AS doc_id",
      "CAST(null AS BIGINT) AS n_tok", "CAST(null AS DOUBLE) AS q")
    val packedN = ScaleOps.tokenBudgetPack(scored.unionByName(nulls),
      "n_tok", "q", "doc_id", budget = 5000L, partitions = 8)
      .select("doc_id", "n_tok", "q", "cum_tok").orderBy("doc_id")
    assert(packedN.collect().map(_.toSeq).toSeq == reference,
      "null-token rows must drop out (null running sum) without changing the packed set")
  }

  test("corpusStats approx path stays within the GK rank-error bound of exact") {
    import graft.operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextOps.tokenCount(col("text")).cast("double").as("n_tok"))
      .repartition(7) // sketch merge order must not matter for the bound
    val n = docs.count()
    val accuracy = 10000
    val exact = ScaleOps.corpusStats(docs, "n_tok", "tokens", exact = true).collect()(0)
    val approx = ScaleOps.corpusStats(docs, "n_tok", "tokens", exact = false,
      accuracy = accuracy).collect()(0)
    // non-percentile columns are identical by construction
    assert(exact.getLong(0) == approx.getLong(0))
    assert(exact.getDouble(1) == approx.getDouble(1))
    assert(exact.getDouble(4) == approx.getDouble(4))
    assert(exact.getDouble(5) == approx.getDouble(5))
    // percentile columns: the GK guarantee is on RANK, not value — check
    // that each approx value's true rank is within n/accuracy (+1 for the
    // exact path's interpolation) of the target rank
    val sorted = docs.orderBy("n_tok").collect().map(_.getDouble(0))
    val tol = n.toDouble / accuracy + 1
    for ((p, idx) <- Seq(0.5 -> 2, 0.95 -> 3)) {
      val v = approx.getDouble(idx)
      val lo = sorted.count(_ < v) // ranks the value could occupy
      val hi = sorted.count(_ <= v)
      val target = p * n
      assert(target >= lo - tol && target <= hi + tol,
        s"approx p$p=$v rank window [$lo,$hi] vs target $target (tol $tol)")
    }
  }

  test("hashUniform is deterministic, salt-sensitive, in [0,1); " +
    "balancedSample equalizes skewed groups and is run-stable") {
    val u = (1L to 200L).toDF("id")
      .select(ScaleOps.hashUniform(col("id"), "s1:").as("u"),
        ScaleOps.hashUniform(col("id"), "s2:").as("u2"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(u.forall { case (a, b) => a >= 0.0 && a < 1.0 && b >= 0.0 && b < 1.0 })
    assert(u.count { case (a, b) => a != b } > 190) // salts decorrelate
    // skewed groups: 160 'big' + 40 'small'
    val docs = (1L to 200L).map(i => (i, if (i <= 160) "big" else "small"))
      .toDF("id", "src")
    val kept = ScaleOps.balancedSample(docs, "src", "id", "mix:")
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(kept("small") == 40L) // rate 1.0 keeps everything
    // big sampled at 0.25: expectation 40, binomial sd ≈ 5.5
    assert(kept("big") > 20L && kept("big") < 60L, s"got ${kept("big")}")
    // deterministic: a second run keeps the identical id set
    val a = ScaleOps.balancedSample(docs, "src", "id", "mix:")
      .select("id").as[Long].collect().toSet
    val b = ScaleOps.balancedSample(docs, "src", "id", "mix:")
      .select("id").as[Long].collect().toSet
    assert(a == b)
  }

  test("gapFillHourly zero-fills interior gaps per key, spans are per-key") {
    import graft.operators.Resample
    val ev = Seq(
      (7L, "2024-01-01 10:15:00", 1.0),
      (7L, "2024-01-01 10:45:00", 2.0), // same bucket as above
      (7L, "2024-01-01 13:05:00", 4.0), // leaves 11:00 and 12:00 empty
      (9L, "2024-01-01 03:00:00", 8.0)  // single-bucket key: no gap rows
    ).toDF("user_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = Resample.gapFillHourly(ev, "user_id", "ts", "value")
      .orderBy("user_id", "hour")
      .select(col("user_id"), date_format(col("hour"), "HH").cast("int").as("h"),
        col("n_events"), col("sum_value"))
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out == Seq(
      (7L, 10, 2L, 3.0), (7L, 11, 0L, 0.0), (7L, 12, 0L, 0.0),
      (7L, 13, 1L, 4.0), (9L, 3, 1L, 8.0)))
  }

  test("gopherQualityFlags plans shuffle-free (pure map-side expressions); " +
    "topDuplicatedPassages plans partial aggregation + TakeOrdered, " +
    "never a global Sort") {
    import graft.operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val flags = TextOps.gopherQualityFlags(docs, "doc_id", "text")
    assert(flags.count() > 0)
    val fPlan = flags.queryExecution.executedPlan.toString
    assert(!fPlan.contains("Exchange"),
      s"quality gates must run at scan speed, no shuffle:\n$fPlan")
    val top = TextOps.topDuplicatedPassages(docs, "doc_id", "text",
      gramWords = 4, k = 10)
    top.collect()
    val tPlan = top.queryExecution.executedPlan.toString
    assert(tPlan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered (bounded driver result), not a global " +
        s"sort:\n$tPlan")
    assert(tPlan.contains("HashAggregate"),
      s"expected hash aggregation with map-side partials:\n$tPlan")
    assert(!tPlan.contains("Sort ["),
      s"no full Sort node should appear for a top-k:\n$tPlan")
  }

  test("classSeparability: well-separated labels score high margin; a " +
    "label straddling both clusters scores negative margin vs its " +
    "nearest confuser") {
    import graft.operators.SimilarityOps
    val vecs = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(0.9f, 0.1f)),
      (1, Array(0.0f, 1.0f)), (1, Array(0.1f, 0.9f)),
      // label 2 sits on top of label 0's cluster: confusable
      (2, Array(1.0f, 0.05f)), (2, Array(0.95f, 0.0f))
    ).toDF("label", "embedding")
    val got = SimilarityOps.classSeparability(vecs, "embedding", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == Set(0L, 1L, 2L))
    assert(got(0L)._1 == 2L)
    // labels 0 and 2 are nearly identical clusters: max inter ~1, margin ~0
    assert(got(0L)._3 > 0.99 && got(0L)._4 < 0.01)
    // label 1 is orthogonal to both: high cohesion, low confusability
    assert(got(1L)._2 > 0.99 && got(1L)._3 < 0.2 && got(1L)._4 > 0.8)
  }

  test("quantileNormalize: sources land on identical corpus statistics; " +
    "single source is the identity; outputs are real corpus values") {
    import graft.operators.ScaleOps
    val df = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 4L, 10.0), ("b", 5L, 20.0), ("b", 6L, 30.0)
    ).toDF("src", "id", "v")
    val got = ScaleOps.quantileNormalize(df, "src", "v", "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // N=6; rank r of 3 maps to corpus rank ceil(6r/3) = 2r ->
    // corpus values at ranks 2,4,6 = 2.0, 10.0, 30.0 for BOTH sources
    assert(got == Map(1L -> 2.0, 2L -> 10.0, 3L -> 30.0,
      4L -> 2.0, 5L -> 10.0, 6L -> 30.0))
    // single source: ns = N, target rank = own rank -> identity
    val one = Seq(("s", 1L, 5.0), ("s", 2L, 7.0), ("s", 3L, 6.0))
      .toDF("src", "id", "v")
    val gotOne = ScaleOps.quantileNormalize(one, "src", "v", "id")
      .collect().map(r => r.getDouble(2) -> r.getDouble(3))
    assert(gotOne.forall { case (v, nv) => v == nv })
  }

  test("bucketed join plans without an Exchange on either side") {
    for (t <- Seq("bkt_a", "bkt_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "av")
    val b = (1 to 100).map(i => (i.toLong, s"b$i")).toDF("k", "bv")
    ScaleOps.writeBucketed(a, "bkt_a", "k", buckets = 4)
    ScaleOps.writeBucketed(b, "bkt_b", "k", buckets = 4)
    // force a sort-merge join (tiny test tables would otherwise broadcast)
    // to observe the bucketing effect: no shuffle Exchange on either side
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = ScaleOps.bucketedJoin(spark, "bkt_a", "bkt_b", "k")
      assert(joined.count() == 100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should be shuffle-free:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan should use buckets:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("asofJoin nearest: picks the closer side, ties go backward, " +
    "exact match is distance zero") {
    import graft.operators.AsOfJoin
    def ts(c: String) = col(c).cast("timestamp")
    val left = Seq(
      (1L, 1L, "2024-01-01 10:00:00"), // 09:30 vs 10:20 → forward closer
      (2L, 2L, "2024-01-01 10:10:00"), // 10:00 vs 10:30 → backward closer
      (3L, 3L, "2024-01-01 10:00:00"), // 09:50 vs 10:10 tie → backward
      (4L, 4L, "2024-01-01 10:00:00"), // exact right at 10:00 wins
      (5L, 5L, "2024-01-01 10:00:00")) // no right rows → nulls
      .toDF("id", "k", "ts_s").withColumn("ts", ts("ts_s")).drop("ts_s")
    val right = Seq(
      (10L, 1L, "2024-01-01 09:30:00"), (11L, 1L, "2024-01-01 10:20:00"),
      (12L, 2L, "2024-01-01 10:00:00"), (13L, 2L, "2024-01-01 10:30:00"),
      (14L, 3L, "2024-01-01 09:50:00"), (15L, 3L, "2024-01-01 10:10:00"),
      (16L, 4L, "2024-01-01 10:00:00"), (17L, 4L, "2024-01-01 09:00:00"))
      .toDF("rid", "k", "ts_s").withColumn("ts", ts("ts_s")).drop("ts_s")
      .select(col("k"), col("ts"), col("rid"))
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts", Seq("rid"),
      direction = "nearest")
      .orderBy("id")
      .select(col("id"), col("asof_rid"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(out == Seq((1L, Some(11L)), (2L, Some(12L)), (3L, Some(14L)),
      (4L, Some(16L)), (5L, None)))
  }

  test("asofJoin nearest: allowExactMatches=false skips the same-ts row " +
    "on both sides") {
    import graft.operators.AsOfJoin
    def ts(c: String) = col(c).cast("timestamp")
    val left = Seq((1L, 1L, "2024-01-01 10:00:00"))
      .toDF("id", "k", "ts_s").withColumn("ts", ts("ts_s")).drop("ts_s")
    val right = Seq(
      (10L, 1L, "2024-01-01 10:00:00"),  // excluded: exact
      (11L, 1L, "2024-01-01 10:05:00"))
      .toDF("rid", "k", "ts_s").withColumn("ts", ts("ts_s")).drop("ts_s")
      .select(col("k"), col("ts"), col("rid"))
    val r = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts", Seq("rid"),
      direction = "nearest", allowExactMatches = false)
      .select(col("asof_rid")).collect().head
    assert(r.getLong(0) == 11L)
  }

  test("intervalOverlap matches the naive cross-filter join, each pair once") {
    import graft.operators.RangeJoin
    // deterministic intervals with touching endpoints, nesting, long spans
    // crossing many buckets, and one degenerate (end < start) row per side
    val left = (1 to 40).map { i =>
      (i.toLong, (i * 13 % 50).toLong * 10, (i * 13 % 50).toLong * 10 + (i % 7).toLong * 25)
    }.toDF("lid", "ls", "le")
    val right = (1 to 40).map { j =>
      (100L + j, (j * 17 % 50).toLong * 10, (j * 17 % 50).toLong * 10 + (j % 5).toLong * 30)
    }.toDF("rid", "rs", "re")
    val lBad = Seq((99L, 100L, 50L)).toDF("lid", "ls", "le")
    val rBad = Seq((199L, 100L, 50L)).toDF("rid", "rs", "re")
    val got = RangeJoin.intervalOverlap(left.union(lBad), right.union(rBad),
        "ls", "le", "rs", "re", bucketUnits = 40L, Seq("rid"))
      .select(col("lid"), col("ov_rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = left.crossJoin(right)
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select(col("lid"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == got.toSet.size, "pairs must be emitted exactly once")
    assert(got.toSet == expected.toSet)
    assert(expected.nonEmpty)
  }

  test("NfcNormalize composes decomposed accents, is identity on ASCII, " +
    "and registers in SQL") {
    import graft.functions.NfcNormalize
    val df = Seq(
      ("cafe\u0301", "caf\u00e9"),        // e + combining acute → é
      ("nai\u0308ve", "na\u00efve"),      // i + combining diaeresis → ï
      ("plain ascii", "plain ascii"),
      ("", "")).toDF("raw", "want")
    val out = df.select(NfcNormalize(col("raw")).as("got"), col("want")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
    // registration check goes through a view: Spark's chr() is mod-256 so
    // combining marks can't be spelled as SQL literals portably
    df.createOrReplaceTempView("nfc_t")
    val viaSql = spark.sql("SELECT graft_nfc(raw) = want FROM nfc_t").collect()
    viaSql.foreach(r => assert(r.getBoolean(0)))
    val n = df.select(NfcNormalize(lit(null).cast("string"))).collect().head
    assert(n.isNullAt(0))
    // arity errors are descriptive, not NoSuchElementException / silent drop
    for (bad <- Seq("SELECT graft_nfc()", "SELECT graft_nfc('a', 'b')")) {
      val e = intercept[Exception](spark.sql(bad).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("exactly 1 argument")), s"for $bad: $e")
    }
  }

  test("asofJoin nearest is type-generic over numeric ts and rejects " +
    "unsupported/mismatched ts types up front") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 1L, 100L), (2L, 1L, 205L)).toDF("id", "k", "t")
    val right = Seq((10L, 1L, 90L), (11L, 1L, 210L))
      .toDF("rid", "k", "rt").select("k", "rt", "rid")
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rid"),
      direction = "nearest")
      .orderBy("id").select("id", "asof_rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // t=100: |100-90|=10 < |210-100|=110 → 10; t=205: 115 vs 5 → 11
    assert(out == Seq((1L, 10L), (2L, 11L)))
    val sLeft = left.withColumn("t", col("t").cast("string"))
    val sRight = right.withColumn("rt", col("rt").cast("string"))
    val e1 = intercept[IllegalArgumentException](
      AsOfJoin.asofJoin(sLeft, sRight, Seq("k"), "t", "rt", Seq("rid"),
        direction = "nearest"))
    assert(e1.getMessage.contains("timestamp, date or numeric"))
    val e2 = intercept[IllegalArgumentException](
      AsOfJoin.asofJoin(left, sRight, Seq("k"), "t", "rt", Seq("rid"),
        direction = "nearest"))
    assert(e2.getMessage.contains("types must match"))
  }

  test("stratifiedSplit: exact per-stratum proportions, disjoint cover, " +
    "deterministic, tiny-stratum remainder goes to the last split") {
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      Seq((1001L, "tiny"))).toDF("id", "g")
    def run() = ScaleOps.stratifiedSplit(df, "g", "id", "s1:",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("id"), col("g"), col("split"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val out = run()
    assert(out.length == 101, "splits must cover every row exactly once")
    val big = out.filter(_._2 == "big").groupBy(_._3).view.mapValues(_.size).toMap
    assert(big == Map("train" -> 80, "val" -> 10, "test" -> 10))
    // n=1 stratum: floor(0.8*1)=floor(cum2*1)=0 → the remainder split
    assert(out.filter(_._2 == "tiny").map(_._3).toSeq == Seq("test"))
    assert(run().toSeq == out.toSeq, "assignment must be deterministic")
  }

  test("temperatureQuotaSample: exact sqrt-damped quotas, deterministic") {
    val df = ((1 to 16).map(i => (i.toLong, "big")) ++
      (101 to 104).map(i => (i.toLong, "small"))).toDF("id", "g")
    def run() = ScaleOps.temperatureQuotaSample(df, "g", "id", "tq:", 2.0)
      .select(col("id"), col("g")).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val out = run()
    // big: min(16, floor(sqrt(16)*2)) = 8; small: min(4, floor(2*2)) = 4 (all)
    assert(out.count(_._2 == "big") == 8)
    assert(out.count(_._2 == "small") == 4)
    assert(run() == out, "selection must be deterministic across runs")
  }

  test("removeDuplicateSpans deletes only cross-doc n-gram spans") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "z z a b c d q"),
      (3L, "unique words only here"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.removeDuplicateSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // "a b c d" is the only 4-gram in ≥2 docs: doc1 loses tokens 0-3,
    // doc2 loses tokens 2-5; intra-doc repetition (z z) is untouched
    assert(out == Seq(
      (1L, "e f", 4L),
      (2L, "z z q", 4L),
      (3L, "unique words only here", 0L),
      (4L, "", 0L)))
  }

  test("sequencePack: contiguous bins, partition-boundary invariant") {
    val docs = (1 to 40).map(i => (i.toLong, (i % 7 + 1).toLong * 30))
      .toDF("doc_id", "n_tok")
    def run(parts: Int) =
      ScaleOps.sequencePack(docs, "n_tok", "doc_id", seqLen = 200L, partitions = parts)
        .select(col("doc_id"), col("cum_tok"), col("bin_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val one = run(1)
    assert(run(7) == one, "bin assignment must not depend on partitioning")
    // reference: plain running sum on the driver
    var cum = 0L
    val want = (1 to 40).map { i =>
      val tok = (i % 7 + 1).toLong * 30
      cum += tok
      (i.toLong, cum, (cum - tok) / 200L)
    }.toSet
    assert(one == want)
  }

  test("removeDuplicateSpans: hashGrams scale form equals the string form") {
    import graft.operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(h: Boolean) =
      TextOps.removeDuplicateSpans(docs, "doc_id", "text", n = 4, hashGrams = h)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val str = run(false)
    assert(run(true) == str)
    assert(str.exists(_._3 > 0), "fixture corpus should contain removable spans")
  }

  test("incrementalDedup: exact precedence, near via cross-frame LSH, " +
    "null text is new") {
    import graft.operators.DedupOps
    val corpus = Seq(
      (1L, Some("a b c d e f g h")),
      (2L, Some("totally different words over here now ok fine yes")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, Some("a b c d e f g h")),         // exact dup of 1
      (11L, Some("a b c d e f g h extra")),   // near dup of 1 (J = 0.8)
      (12L, Some("nothing shared with anyone at all whatsoever right")),
      (13L, None: Option[String]))            // null text -> new
      .toDF("doc_id", "text")
    val out = DedupOps.incrementalDedup(corpus, batch, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toSeq
    assert(out == Seq(
      (10L, "exact_dup", Some(1L), 1L),
      (11L, "near_dup", Some(1L), 1L),
      (12L, "new", None, 0L),
      (13L, "new", None, 0L)))
  }

  test("streamIntervalJoin: pairs form ACROSS micro-batches and equal the " +
    "batch join under file slicing") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj_t").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // views early, purchases late — with maxFilesPerTrigger=1 the matching
    // sides arrive in DIFFERENT micro-batches
    val views = Seq((100L, 1L, ts(0), "view"), (101L, 1L, ts(20), "view"),
      (102L, 2L, ts(5), "view"))
    val purchases = Seq((200L, 1L, ts(25), "purchase"),
      (201L, 2L, ts(50), "purchase")) // 45 min after the view: outside 30m
    import spark.implicits._
    views.toDF("event_id", "user_id", "ts", "event_type")
      .repartition(2).write.mode("overwrite").parquet(dir)
    purchases.toDF("event_id", "user_id", "ts", "event_type")
      .repartition(2).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val l = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val r = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
    val joined = graft.streaming.Streams.streamIntervalJoin(
      l, r, "user_id", "p_ts", "v_ts", lookbackMinutes = 30,
      watermarkDelay = "30 days")
      .select("purchase_id", "view_id")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssj_ck").toString
    val q = joined.writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ssj_t").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    spark.catalog.dropTempView("ssj_t")
    // batch reference: purchase 200 matches views 100 (25m back) and 101
    // (5m back); purchase 201's only view is 45m back -> no match
    assert(got == Set((200L, 100L), (200L, 101L)))
  }

  test("zScoreByGroup: exact z on a hand-computable group; n=1 group → null") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("h", 7.0))
      .toDF("grp", "v")
    val out = ScaleOps.zScoreByGroup(df, "grp", "v", "z")
      .orderBy("grp", "v")
      .select($"grp", $"v", $"z")
      .as[(String, Double, Option[Double])].collect().toSeq
    // g: mean 2, sample sd 1 → z = -1, 0, 1 (exact — integer cents)
    assert(out == Seq(
      ("g", 1.0, Some(-1.0)), ("g", 2.0, Some(0.0)), ("g", 3.0, Some(1.0)),
      ("h", 7.0, None)))
  }

  test("zScoreByGroup: constant group (sd=0) → null, not Inf/NaN") {
    val df = Seq(("g", 5.0), ("g", 5.0), ("g", 5.0)).toDF("grp", "v")
    val out = ScaleOps.zScoreByGroup(df, "grp", "v", "z")
      .select($"z").as[Option[Double]].collect().toSeq
    assert(out == Seq(None, None, None))
  }

  test("winsorizeByGroup clips at the ceil(p·n) order statistics per group") {
    val df = ((1 to 100).map(i => ("g", i.toDouble)) :+ ("h", 42.0))
      .toDF("grp", "v")
    val out = ScaleOps.winsorizeByGroup(df, "grp", "v", "w",
      pLo = 0.05, pHi = 0.95)
    val g = out.filter($"grp" === "g").select($"v", $"w")
      .as[(Double, Double)].collect().toMap
    // cut ranks: ceil(100·0.05)=5 → lo=5.0; ceil(100·0.95)=95 → hi=95.0
    assert(g(1.0) == 5.0 && g(4.0) == 5.0 && g(5.0) == 5.0)
    assert(g(50.0) == 50.0)
    assert(g(95.0) == 95.0 && g(96.0) == 95.0 && g(100.0) == 95.0)
    // singleton group: lo = hi = the value → unchanged
    val h = out.filter($"grp" === "h").select($"w").as[Double].collect().toSeq
    assert(h == Seq(42.0))
  }

  test("zScoreByGroup: null values don't dilute the census; their z is null") {
    val df = Seq(("g", Some(1.0)), ("g", Some(3.0)), ("g", Option.empty[Double]))
      .toDF("grp", "v")
    val out = ScaleOps.zScoreByGroup(df, "grp", "v", "z")
      .orderBy($"v".asc_nulls_last)
      .select($"v", $"z")
      .as[(Option[Double], Option[Double])].collect().toSeq
    // census over the 2 non-null values: mean 2, sd sqrt(2) -> z = ∓1/√2;
    // a count(*) census would have divided by n=3 and skewed both
    val e = 1.0 / math.sqrt(2.0)
    assert(out(0)._2.exists(z => math.abs(z + e) < 1e-12))
    assert(out(1)._2.exists(z => math.abs(z - e) < 1e-12))
    assert(out(2) == (None, None))
  }

  test("winsorizeByGroup: null values pass through null and don't shift " +
    "the cut ranks") {
    val df = (Seq.tabulate(100)(i => ("g", Some(i + 1.0))) ++
      Seq.fill(50)(("g", Option.empty[Double]))).toDF("grp", "v")
    val out = ScaleOps.winsorizeByGroup(df, "grp", "v", "w",
      pLo = 0.05, pHi = 0.95)
    // ranks computed over the 100 non-null values only: cuts 5.0 / 95.0
    val nn = out.filter($"v".isNotNull).select($"v", $"w")
      .as[(Double, Double)].collect().toMap
    assert(nn(1.0) == 5.0 && nn(95.0) == 95.0 && nn(100.0) == 95.0)
    val nulls = out.filter($"v".isNull).select($"w")
      .as[Option[Double]].collect().toSeq
    assert(nulls.length == 50 && nulls.forall(_.isEmpty))
  }

  test("winsorizeByGroup with duplicate values at the cut is deterministic") {
    // ties at the cut rank: the VALUE at rank ceil(p·n) is well-defined
    // regardless of which physical row takes the rank
    val df = Seq.fill(10)(("g", 1.0)).++(Seq.fill(10)(("g", 2.0)))
      .toDF("grp", "v")
    val out = ScaleOps.winsorizeByGroup(df, "grp", "v", "w",
      pLo = 0.25, pHi = 0.75)
    // lo rank 5 → 1.0, hi rank 15 → 2.0: nothing actually clips
    assert(out.filter($"v" =!= $"w").count() == 0)
  }

  test("cmsJoinSizeEstimate upper-bounds the exact join size; exact for one key") {
    // skewed keys: key 1 x 20 rows, key 2 x 5, keys 3..12 x 1
    val rows = Seq.fill(20)(1L) ++ Seq.fill(5)(2L) ++ (3L to 12L)
    val df = rows.toDF("k")
    val exact = 20L * 20 + 5L * 5 + 10 // Σ n_k² = 435
    val est = ScaleOps.cmsJoinSizeEstimate(df, $"k", df, $"k",
      depth = 3, width = 256).head.getLong(0)
    assert(est >= exact, s"est=$est")          // collision terms only add
    assert(est <= rows.size.toLong * rows.size) // trivial upper bound
    // single key: no collisions possible -> estimate is exact
    val one = Seq.fill(7)(42L).toDF("k")
    val estOne = ScaleOps.cmsJoinSizeEstimate(one, $"k", one, $"k",
      depth = 3, width = 256).head.getLong(0)
    assert(estOne == 49L)
    // nulls are excluded (cannot equi-join)
    val withNull = df.union(Seq[java.lang.Long](null).toDF("k"))
    val estN = ScaleOps.cmsJoinSizeEstimate(withNull, $"k", withNull, $"k",
      depth = 3, width = 256).head.getLong(0)
    assert(estN == est)
    intercept[IllegalArgumentException] {
      ScaleOps.cmsCountTable(df, $"k", depth = 3, width = 300)
    }
  }

  test("bloom filter: zero false negatives, bounded bitmap, null-safe probe") {
    val build = (1L to 50L).map(i => i * 7).toDF("k")
    val words = ScaleOps.bloomBitmapBuild(build, $"k", mBits = 1024, kHashes = 3)
    assert(words.length == 16) // 1024 bits = 16 longs
    // every member passes — the no-false-negative contract
    val members = build.filter(ScaleOps.bloomProbe($"k", words, 1024, 3)).count()
    assert(members == 50L)
    // non-members mostly fail; with 150 set bits of 1024 the FP rate is
    // (150/1024)^3 ~ 0.3% — assert well under half leak through
    val nonMembers = (1L to 1000L).map(i => i * 7 + 1).toDF("k")
    val fp = nonMembers.filter(ScaleOps.bloomProbe($"k", words, 1024, 3)).count()
    assert(fp < 100, s"fp=$fp")
    // null keys fail the probe (cannot equi-join anyway)
    val withNull = Seq[java.lang.Long](7L, null).toDF("k")
    assert(withNull.filter(ScaleOps.bloomProbe($"k", words, 1024, 3)).count() == 1L)
    intercept[IllegalArgumentException] {
      ScaleOps.bloomBitmapBuild(build, $"k", mBits = 1000, kHashes = 3)
    }
  }

  test("NativeL2 squared distance matches the HOF reference bitwise; null element maximally far") {
    import graft.functions.{L2DistanceSq => NativeL2}
    val df = Seq(
      (Array(1.0f, 2.0f, -3.5f), Array(0.5, -1.25, 4.0)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.1, 0.2, 0.3))
    ).toDF("a", "b")
    val hof = aggregate(
      zip_with($"a", $"b", (x, y) => {
        val d = x.cast("double") - y; d * d
      }), lit(0.0), (acc, x) => acc + x)
    assert(df.filter(NativeL2($"a", $"b") =!= hof).count() == 0)
    // length mismatch: tail counts as distance from zero
    val lm = Seq((Array(3.0f), Array(0.0, 4.0))).toDF("a", "b")
      .select(NativeL2($"a", $"b")).head.getDouble(0)
    assert(lm == 25.0)
    // null element → MaxValue (never wins an argmin)
    val ne = Seq((Array[java.lang.Float](1.0f, null), Array(1.0, 1.0)))
      .toDF("a", "b").select(NativeL2($"a", $"b")).head.getDouble(0)
    assert(ne == Double.MaxValue)
  }

  test("PQ: encode picks nearest codewords; ADC top-k finds the planted neighbor") {
    // corpus of 4-dim vectors in two subspaces of 2 dims; codewords are
    // trained from the first 4 vectors (1 Lloyd's round)
    val vecs = Seq(
      (0L, Array(0f, 0f, 10f, 10f)), (1L, Array(5f, 5f, 0f, 0f)),
      (2L, Array(0f, 1f, 10f, 9f)), (3L, Array(5f, 4f, 0f, 1f)),
      (10L, Array(0.1f, 0.4f, 9.8f, 9.7f)),   // near codeword bundle {0,2}
      (11L, Array(5.2f, 4.4f, 0.3f, 0.4f)),   // near bundle {1,3}
      (12L, Array(0.2f, 0.6f, 0.2f, 0.9f))    // mixed: sub0~{0,2}, sub1~{1,3}
    ).toDF("vec_id", "v")
    val init = vecs.filter($"vec_id" < 4)
    val corpus = vecs.filter($"vec_id" >= 10)
    val cb = SimilarityOps.pqTrain(corpus, "vec_id", "v", init,
      m = 2, dsub = 2, iters = 1)
    // codebook covers both subspaces, codes reference existing codewords
    val cbRows = cb.collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(cbRows.map(_._1).toSet == Set(0, 1))
    val codes = SimilarityOps.pqEncode(corpus, "vec_id", "v", cb, m = 2, dsub = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.forall(_.length == 2))
    val valid = cbRows.toSet
    assert(codes.values.flatten.forall(c =>
      valid.exists(_._2 == c)), codes.toString)
    // 12's subspaces disagree: sub0 near the {0,2} word, sub1 near {1,3}
    assert(codes(12L)(0) != codes(12L)(1))
    // ADC: query right on top of vector 10 must rank it first
    val top = SimilarityOps.pqTopK(codes.keys.toSeq.sorted
      .map(k => (k, codes(k))).toDF("id", "codes"), cb,
      Seq(0.1f, 0.4f, 9.8f, 9.7f), m = 2, dsub = 2, k = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top.head == 10L, top.toString)
  }

  test("IVF-PQ residuals: assignment, residual math, probe restriction") {
    // two far-apart centroid cones; residuals must be vector - OWN centroid
    val cents = Seq((0L, Array(10.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 10.0, 0.0, 0.0)))
      .toDF("cid", "cvec")
    val vecs = Seq(
      (10L, Array(9.0f, 1.0f, 0.5f, 0.0f)),
      (11L, Array(1.0f, 9.0f, 0.0f, 0.5f)),
      (12L, Array(11.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val ar = SimilarityOps.l2AssignResiduals(vecs, "vec_id", "embedding",
      cents, "cid", "cvec")
    val got = ar.select("vec_id", "centroid", "residual")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2))).toMap
    assert(got(10L)._1 == 0L && got(11L)._1 == 1L && got(12L)._1 == 0L)
    // residual = x - centroid, element-wise, double-exact
    assert(got(10L)._2 == Seq(-1.0, 1.0, 0.5, 0.0))
    assert(got(12L)._2 == Seq(1.0, 0.0, 0.0, 1.0))
    // PQ over residuals reconstructs neighbors within the probed cone:
    // train 1 round with the vectors themselves as init codewords
    val cb = SimilarityOps.pqTrain(ar, "vec_id", "residual",
      ar.select(col("vec_id"), col("residual")), m = 2, dsub = 2, iters = 1)
    val codes = SimilarityOps.pqEncode(ar, "vec_id", "residual", cb, m = 2, dsub = 2)
    assert(codes.count() == 3)
    // every vector's code decodes to a codeword of the right subspace
    val valid = cb.select("sub", "cid").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    codes.collect().foreach { r =>
      val cs = r.getSeq[Long](1)
      cs.zipWithIndex.foreach { case (c, s) => assert(valid.contains((s, c))) }
    }
  }

  test("zorderValue interleaves bits with column 0 most significant") {
    val df = Seq((3L, 1L)).toDF("x", "y") // x=0b11, y=0b01
    // bit layout (bits=2, n=2): x0→pos1, x1→pos3, y0→pos0, y1→pos2
    // x=11, y=01 → positions 3,1 set from x; 0 from y → 0b1011 = 11
    val z = df.select(ScaleOps.zorderValue(Seq($"x", $"y"), 2)).head.getLong(0)
    assert(z == 11L)
    // order flip: zorder(y,x) puts y's bits high → 0b0111 = 7
    val z2 = df.select(ScaleOps.zorderValue(Seq($"y", $"x"), 2)).head.getLong(0)
    assert(z2 == 7L)
    intercept[IllegalArgumentException] {
      ScaleOps.zorderValue(Seq($"x"), 2)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.zorderValue(Seq($"x", $"y"), 32)
    }
  }

  test("zorderWrite narrows per-file ranges of the NON-leading column") {
    // 64x64 grid; 16 files. Linear sort by x: each file spans the full y
    // range (0..63). Z-order: each file covers a ~16x16 tile, so the
    // per-file y-range is ~16 — the data-skipping win for y-predicates.
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
      .toDF("x", "y")
    val zDir = java.nio.file.Files.createTempDirectory("graft_zord").toString
    val linDir = java.nio.file.Files.createTempDirectory("graft_lin").toString
    ScaleOps.zorderWrite(grid, Seq("x", "y"), 6, zDir, numFiles = 16)
    grid.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(linDir)
    def avgYSpan(path: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max($"y") - min($"y")).as("span"))
        .collect().map(_.getAs[Int]("span").toDouble)
      spans.sum / spans.length
    }
    val zSpan = avgYSpan(zDir)
    val linSpan = avgYSpan(linDir)
    assert(linSpan > 60.0, s"linear layout should span ~full y, got $linSpan")
    assert(zSpan <= 20.0, s"z-order file y-span should be ~tile-sized, got $zSpan")
    Seq(zDir, linDir).foreach { d0 =>
      val p = new org.apache.hadoop.fs.Path(d0)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("hardNegatives: equals brute-force different-label top-k at full " +
    "probe; excludes self; null label is its own class") {
    val vs = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.9f, 0.1f), "a"),
      (3L, Array(0.8f, 0.2f), "b"), (4L, Array(0.0f, 1.0f), "b"),
      (5L, Array(0.7f, 0.3f), null.asInstanceOf[String]),
      (6L, Array(0.6f, 0.4f), null.asInstanceOf[String])
    ).toDF("id", "v", "lbl")
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cid", "cvec")
    // nprobe = nlist ⇒ ANN candidates = whole corpus ⇒ equals brute force
    val got = SimilarityOps.hardNegatives(vs, "id", "v", "lbl",
      cents, "cid", "cvec", k = 2, nprobe = 2)
      .select("query_id", "neighbor_id", "nn_rank")
      .as[(Long, Long, Long)].collect().toSet
    val rows = Seq((1L, Array(1.0, 0.0), Option("a")),
      (2L, Array(0.9, 0.1), Option("a")), (3L, Array(0.8, 0.2), Option("b")),
      (4L, Array(0.0, 1.0), Option("b")), (5L, Array(0.7, 0.3), None),
      (6L, Array(0.6, 0.4), None))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = rows.flatMap { case (qi, qv, ql) =>
      rows.filter { case (ni, _, nl) => ni != qi && nl != ql }
        .map { case (ni, nv, _) => (qi, ni, cos(qv, nv)) }
        .sortBy { case (_, ni, s) => (-s, ni) }.take(2).zipWithIndex
        .map { case ((q, n, _), ix) => (q, n, ix + 1L) }
    }.toSet
    assert(got == expect)
    // null-labeled 5 and 6 never appear as each other's negatives
    assert(!got.contains((5L, 6L, 1L)) && !got.contains((5L, 6L, 2L)))
    assert(!got.exists { case (q, n, _) => q == n })
  }

  test("weightedSample (A-ES): matches a driver-side replica, exact k, " +
    "excludes non-positive/null weights") {
    val rows = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", (i % 7 + 1).toDouble)) ++
      Seq((41L, "a", 0.0), (42L, "a", -3.0))
    val df = rows.toDF("id", "grp", "w")
      .unionByName(Seq((43L, "b", null.asInstanceOf[java.lang.Double]))
        .toDF("id", "grp", "w"))
    val got = ScaleOps.weightedSample(df, "grp", "id", "w", "t:", k = 5)
      .select("id", "grp", "es_key", "rk")
      .collect().map(r => (r.getString(1), r.getLong(3)) ->
        (r.getLong(0), r.getDouble(2))).toMap
    // driver-side replica of the key chain
    def key(id: Long, w: Double): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"t:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble * 2 + 1) /
        8589934592.0
      BigDecimal(math.log(u) / w).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val expect = rows.filter(_._3 > 0)
      .map { case (i, g, w) => (g, i, key(i, w)) }
      .groupBy(_._1).flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case ((_, i, k0), ix) => (g, ix + 1L) -> (i, k0) }
      }
    assert(got == expect)
    // exactly k per group; excluded ids never sampled
    assert(got.keys.count(_._1 == "a") == 5 && got.keys.count(_._1 == "b") == 5)
    assert(!got.values.exists(v => Seq(41L, 42L, 43L).contains(v._1)))
  }

  test("groupedRank equals the window-per-group form, is partition-" +
    "boundary-invariant, and splits every group across partitions") {
    import org.apache.spark.sql.expressions.{Window => W}
    val df = spark.range(0, 300).select(
      (col("id") % 3).as("g"), col("id").as("rid"),
      ((col("id") * 37) % 101).as("s"))
    val w = W.partitionBy(col("g")).orderBy(col("s").asc, col("rid").asc)
    val reference = df.withColumn("__rank", row_number().over(w).cast("long"))
      .orderBy("rid").collect().map(_.toSeq).toSeq
    for (parts <- Seq(1, 4, 8)) {
      val out = ScaleOps.groupedRank(df, "g",
        Seq(col("s").asc, col("rid").asc), partitions = parts)
        .select("g", "rid", "s", "__rank")
        .orderBy("rid").collect().map(_.toSeq).toSeq
      assert(out == reference, s"parts=$parts diverged from window form")
    }
    // the scale evidence (the r9 permutationTest straggler flag): under
    // the kernel's range layout every group spans >1 physical partition —
    // no task ever holds a group's full row set (the output plan itself
    // is a checkpoint scan, so the layout is asserted directly)
    val spread = df
      .repartitionByRange(8, col("g").asc, col("s").asc, col("rid").asc)
      .withColumn("__pid", spark_partition_id())
      .groupBy("g").agg(countDistinct(col("__pid")).as("np"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spread.size == 3 && spread.values.forall(_ > 1),
      s"groups must span multiple partitions: $spread")
  }

  test("groupedPercentiles: order statistic at ceil(q*n) per group, " +
    "duplicates weighted through the census") {
    val df = ((1L to 10L).map(v => ("a", v)) ++
      Seq(("b", 1L), ("b", 1L), ("b", 1L), ("b", 9L))).toDF("g", "v")
    val got = ScaleOps.groupedPercentiles(df, "g", "v")
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 10L, 5L, 9L, 10L), ("b", 4L, 1L, 9L, 9L)))
  }

  test("groupedWeightedPercentiles: mass moves the percentile where the " +
    "unweighted one stays put; zero/negative weights carry no mass") {
    // 9 rows of value 1 (weight 1 each) + 1 row of value 100 (weight 91):
    // unweighted median 1; weighted median 100 (the heavy row holds 91
    // of 100 mass)
    val df = ((1 to 9).map(_ => ("a", 1L, 1L)) ++
      Seq(("a", 100L, 91L), ("a", 7L, 0L), ("a", 8L, -3L)))
      .toDF("g", "v", "w")
    val got = ScaleOps.groupedWeightedPercentiles(df, "g", "v", "w",
        Seq(0.5)).as[(String, Long, Long)].collect().head
    assert(got == ("a", 100L, 100L)) // total weight 100, p50_w = 100
    val un = ScaleOps.groupedPercentiles(df.select("g", "v"), "g", "v",
        Seq(0.5)).as[(String, Long, Long)].collect().head
    assert(un._3 == 1L) // unweighted median: the nine 1s dominate
  }

  test("groupedMad: robust center and scale immune to one huge outlier") {
    // values 10,12,14,16,18 + outlier 1000: median 15? ceil-convention:
    // sorted 10,12,14,16,18,1000, n=6, ceil(3)=3rd -> 14; |v-14| =
    // 4,2,0,2,4,986 -> sorted 0,2,2,4,4,986 -> mad = 3rd = 2
    val df = Seq(10L, 12L, 14L, 16L, 18L, 1000L).map(("a", _)).toDF("g", "v")
    val got = ScaleOps.groupedMad(df, "g", "v")
      .as[(String, Long, Long, Long)].collect().head
    assert(got == ("a", 6L, 14L, 2L))
  }

  test("robustZOutliers: only the planted outlier crosses 3.5 MAD; the " +
    "gate is unmoved by the outlier's own magnitude") {
    // base cluster 10..18 (median 14, MAD 2): cutoff |v-14| > 7
    val df = (Seq(10L, 12L, 14L, 16L, 18L, 1000L)).map(("a", _))
      .toDF("g", "v")
    val got = ScaleOps.robustZOutliers(df, "g", "v")
      .orderBy("v").as[(String, Long, Boolean)].collect().toSeq
    assert(got.map(_._3) == Seq(false, false, false, false, false, true))
    // same decision if the outlier is 10x larger — a mean±kσ gate would
    // have moved (σ inflates with the outlier), the robust gate does not
    val df2 = (Seq(10L, 12L, 14L, 16L, 18L, 10000L)).map(("a", _))
      .toDF("g", "v")
    val got2 = ScaleOps.robustZOutliers(df2, "g", "v")
      .orderBy("v").as[(String, Long, Boolean)].collect().toSeq
    assert(got2.map(_._3) == got.map(_._3))
  }

  test("conformalIntervals matches a driver-side replica: md5 coin, " +
    "conformal rank, held-out coverage; tiny group carries NULL qhat") {
    // group a: 200 ids with a deterministic sawtooth value; group b:
    // 6 ids — its calibration half is < 9 rows, so the conformal rank
    // ceil(0.9*(n_cal+1)) exceeds n_cal and qhat/coverage are NULL
    val rows = (1L to 200L).map(i => (i, "a", (i * 37) % 100)) ++
      (201L to 206L).map(i => (i, "b", i % 10))
    val df = rows.toDF("id", "g", "v")
    val got = ScaleOps.conformalIntervals(df, "g", "v", "id", "cf:")
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    // driver-side replica of the whole chain
    def u32(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(md.digest(s"cf:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    }
    def kth(sorted: Seq[Long], k: Long): Long = sorted((k - 1).toInt)
    val expect = rows.groupBy(_._2).toSeq.sortBy(_._1).flatMap {
      case (g, rs) =>
        val (cal, tst) = rs.partition(r => u32(r._1) < 2147483648L)
        if (cal.isEmpty || tst.isEmpty) None else {
          val cv = cal.map(_._3).sorted
          val med = kth(cv, math.ceil(0.5 * cv.size).toLong)
          val resid = cal.map(r => math.abs(r._3 - med)).sorted
          val k2 = math.ceil(0.9 * (cv.size + 1)).toLong
          val qhat = if (k2 <= cv.size) Some(kth(resid, k2)) else None
          val cvg = qhat.map { q =>
            val c = tst.count(r => math.abs(r._3 - med) <= q)
            BigDecimal(c.toDouble / tst.size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          }
          Some((g, cal.size.toLong, tst.size.toLong, qhat, cvg))
        }
    }
    assert(got == expect)
    // the large group's interval must exist and cover near the level
    val a = got.find(_._1 == "a").get
    assert(a._4.isDefined && a._5.exists(c => c > 0.7 && c <= 1.0))
  }

  test("winsorize: tails clipped to exact [p5, p95] cutoffs, interior " +
    "rows untouched, nulls preserved") {
    val df = ((1L to 100L).map(v => (v, Some(v))) :+
      (101L, None: Option[Long])).toDF("id", "v")
    val got = ScaleOps.winsorize(df, "v", loQ = 0.05, hiQ = 0.95)
      .orderBy("id").as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(got.filter(_._1 <= 4L).forall(_._3.contains(5L)))
    assert(got.filter(r => r._1 >= 5L && r._1 <= 95L)
      .forall(r => r._3 == r._2))
    assert(got.filter(r => r._1 >= 96L && r._1 <= 100L)
      .forall(_._3.contains(95L)))
    assert(got.last._3.isEmpty)
  }

  test("effectiveSampleSize: uniform weights give ess = n and design " +
    "effect 1; one dominant weight collapses the ess") {
    val uni = Seq(5L, 5L, 5L, 5L).toDF("w")
    val u = ScaleOps.effectiveSampleSize(uni, "w")
      .as[(Long, Long, Double, Double)].collect().head
    assert(u == (4L, 20L, 4.0, 1.0))
    val skewed = Seq(1L, 1L, 1L, 97L, 0L).toDF("w") // 0 excluded
    val s0 = ScaleOps.effectiveSampleSize(skewed, "w")
      .as[(Long, Long, Double, Double)].collect().head
    assert(s0 == (4L, 100L, 1.0625, 3.7648))
  }

  test("globalRankAndSum attaches rank AND running sum matching the " +
    "global-window form in one pass, any partitioning") {
    import org.apache.spark.sql.expressions.{Window => W}
    val df = spark.range(0, 200).select(col("id").as("rid"),
      ((col("id") * 13) % 47).as("c"))
    val ord = W.orderBy(col("c").desc, col("rid").asc)
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    val reference = df
      .withColumn("__rank", row_number().over(ord).cast("long"))
      .withColumn("__cum", sum(col("c")).over(cum))
      .orderBy("rid").collect().map(_.toSeq).toSeq
    for (parts <- Seq(1, 5, 8)) {
      val out = ScaleOps.globalRankAndSum(df, "c",
        Seq(col("c").desc, col("rid").asc), partitions = parts)
        .select("rid", "c", "__rank", "__cum")
        .orderBy("rid").collect().map(_.toSeq).toSeq
      assert(out == reference, s"parts=$parts diverged from window form")
    }
  }

  test("planning-free scan-partition estimate equals the planned scan's " +
    "partition count for every fixture table, scale and split size") {
    import org.apache.spark.sql.graftshim.ScanShim
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val cases = for (sf <- Seq("sf0.001", "sf0.01", "sf0.1");
                     split <- Seq("128m", "64k", "8k");
                     t <- tables) yield (s"/root/testdata/$sf", split, t)
    try cases.foreach { case (dir, split, t) =>
      spark.conf.set(key, split)
      val df = graft.queries.QuerySpec.t(spark, dir, t)
      assert(ScanShim.estimatedScanPartitions(df)
          .contains(df.rdd.getNumPartitions), s"$dir/$t at $split")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(cases.size == 90)
  }
}
