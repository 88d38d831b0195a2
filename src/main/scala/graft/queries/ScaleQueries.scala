package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Analytics, ClusterOps, Dedup, DedupOps, GraphOps, Multimodal, SimilarityOps, TextOps}
import graft.queries.QuerySpec.{t, tw}
import graft.streaming.Streams

/** LLM-training-data-pipeline queries over `documents`/`embeddings`/`events`
  * (x1…x12) + the Structured-Streaming re-expression of the windowed agg.
  * Thresholds sit in empirically-measured gaps of the seed=42 data (3-gram
  * Jaccard: near-dup pairs ≥0.95, next candidate ≤0.06; within-label cosine:
  * top pairs ≈0.47, next ≈0.41 → τ=0.44), so float noise cannot flip rows.
  * Engine-internal hashes never leak into an un-checkable output: minhash
  * (xxhash64) is candidate-generation only — exact verification keeps x2
  * oracle-checkable — and simhash derives its 60-bit signature from md5 so
  * the oracle can rebuild it digit-by-digit (x4).
  */
object ScaleQueries {

  /** Replay `input` as a bounded stream sliced one file per trigger:
    * write it under a temp dir as one parquet file group per entry of
    * `fileGroups` (each group `repartition`ed to that many files), run
    * `runner` over the file stream, pin its result, and delete the dir. */
  private def replayFiles(s: org.apache.spark.sql.SparkSession,
      input: org.apache.spark.sql.DataFrame, fileGroups: Int*)(
      runner: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val in = java.nio.file.Files.createTempDirectory("graft_replay").toString
    try {
      fileGroups.foreach(n => input.repartition(n).write
        .mode(org.apache.spark.sql.SaveMode.Append).parquet(in))
      runner(Streams.fileStream(s, in, "*.parquet", input.schema,
        onePerTrigger = true)).localCheckpoint(true)
    } finally {
      val p = new org.apache.hadoop.fs.Path(in)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  private val stopwords = Seq("the", "a", "value", "data", "row", "table")

  /** IVF coarse centroids for the graded ANN family (x7/x7b/x51/x59/x63/
    * x140): k-means-trained (ClusterOps.kmeansFit, iters = 2) from the
    * deterministic first-`k`-by-id init. The r9 recall audit (x140)
    * measured recall@10 = 0.47 with first-k RAW vectors as centroids at
    * nprobe=4/nlist=16; the shipped operating point — trained centroids,
    * nlist=16, nprobe=12 — measures 0.936 (sf0.01) / 0.934 (sf0.1)
    * (PERF.md r10). The fit is deterministic, so the
    * k×64 rounded-double result is cached per (sfDir, k) and re-planted as
    * a local frame — each graded query pays the two Lloyd's rounds at most
    * once per process, and the collect is metadata scale.
    */
  private val centCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Array[(Long, Seq[Double])]]()

  /** Per-process pristine LogTable templates (the st4 fixture-template
    * pattern): each LogTable query's PRE-mutation table builds once per
    * (sfDir, query) — manifests store only root-relative file names, so
    * the directory is position-independent — and every graded pass
    * either reads the template directly (read-only queries) or mutates
    * its own local-fs copy. Bench's
    * median-of-3 passes then price the OPERATOR, not three rebuilds of
    * the same deterministic fixture. */
  private val logTableTemplates =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def logTableTemplate(s: org.apache.spark.sql.SparkSession,
      d: String, name: String)(build: String => Unit): String =
    logTableTemplates.computeIfAbsent((d, name), _ => {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_lt_tpl_$name").toString + "/t"
      build(dir)
      dir
    })
  private def logTableCopy(s: org.apache.spark.sql.SparkSession,
      d: String, name: String)(build: String => Unit): String = {
    val tpl = logTableTemplate(s, d, name)(build)
    val base = java.nio.file.Files.createTempDirectory("graft_lt_run")
      .toString + "/t"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(tpl), fs,
      new org.apache.hadoop.fs.Path(base), false, conf)
    base
  }
  private def trainedCents(s: org.apache.spark.sql.SparkSession, d: String,
                           k: Int): org.apache.spark.sql.DataFrame = {
    val rows = centCache.computeIfAbsent((d, k), _ => {
      val emb = t(s, d, "embeddings")
      val init = emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      ClusterOps.kmeansFit(emb, "vec_id", "embedding", init, "cid", "cvec",
          iters = 2)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    })
    val schema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cvec", ArrayType(DoubleType), nullable = false)))
    val data = rows.map { case (cid, cv) =>
      org.apache.spark.sql.Row(cid, cv) }
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
      java.util.Arrays.asList(data: _*)), schema)
  }

  /** DuckDB CTE chain mirroring [[trainedCents]] (kmeansFit, iters = 2,
    * init = first `k` by vec_id, components rounded to 6 dp after every
    * M-step — the x55 cross-engine convention). Terminates in
    * `cent(cid, cvec)` with DOUBLE components; splice as the first WITH
    * entry. Downstream comparisons against `cvec` must cast the float
    * embedding to double (`list_transform(e, x -> CAST(x AS DOUBLE))`)
    * exactly as x55 does.
    */
  private def kmeansCentSql(k: Int): String =
    s"""__c0 AS (SELECT CAST(vec_id AS BIGINT) cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cvec
       |  FROM embeddings WHERE vec_id < $k),
       |__a0 AS (SELECT e.vec_id, e.embedding, c.cid
       |  FROM embeddings e CROSS JOIN __c0 c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
       |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1),
       |__m0 AS (SELECT cid, generate_subscripts(embedding, 1) pos,
       |    CAST(unnest(embedding) AS DOUBLE) val FROM __a0),
       |__c1 AS (SELECT cid, list(round(m, 6) ORDER BY pos) cvec
       |  FROM (SELECT cid, pos, avg(val) m FROM __m0 GROUP BY cid, pos)
       |  GROUP BY cid),
       |__a1 AS (SELECT e.vec_id, e.embedding, c.cid
       |  FROM embeddings e CROSS JOIN __c1 c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
       |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1),
       |__m1 AS (SELECT cid, generate_subscripts(embedding, 1) pos,
       |    CAST(unnest(embedding) AS DOUBLE) val FROM __a1),
       |cent AS (SELECT cid, list(round(m, 6) ORDER BY pos) cvec
       |  FROM (SELECT cid, pos, avg(val) m FROM __m1 GROUP BY cid, pos)
       |  GROUP BY cid)""".stripMargin

  /** Shared by x13 (hash-to-min) and x13b (large-star/small-star): the two
    * clustering implementations have one output contract, so they are
    * graded against the identical recursive-CTE oracle.
    */
  private val x13OracleSql: Option[String] =
    Some("""WITH RECURSIVE toks AS (SELECT doc_id, lang,
           |    regexp_split_to_array(trim(text), '\s+') tk
           |  FROM documents WHERE length(trim(text)) > 0),
           |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
           |    range(0, greatest(len(tk)-2, 0)),
           |    i -> array_to_string(tk[i+1:i+3], ' '))) s FROM toks),
           |inv AS (SELECT doc_id, lang, unnest(s) tok FROM sh WHERE len(s) > 0),
           |sizes AS (SELECT doc_id, len(s) n FROM sh),
           |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
           |  FROM inv a JOIN inv b ON a.tok = b.tok AND a.lang = b.lang
           |    AND a.doc_id < b.doc_id GROUP BY 1,2),
           |pairs AS (SELECT id_a, id_b
           |  FROM inter JOIN sizes sa ON id_a = sa.doc_id
           |  JOIN sizes sb ON id_b = sb.doc_id
           |  WHERE round(i*1.0/(sa.n + sb.n - i), 4) >= 0.5),
           |edges AS (SELECT id_a a, id_b b FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |reach(src, dst) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
           |SELECT src doc_id, least(src, min(dst)) cluster_root,
           |  least(src, min(dst)) = src is_canonical
           |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)
  /** Shared by x4 (batch SimHash) and st14 (streaming SimHash): one
    * output contract — canonical (id_a < id_b, hamming ≤ 3) pairs over
    * the whole documents table — so both grade against the identical
    * digit-by-digit signature rebuild (the st4b-vs-m1 pattern: the
    * streaming form must not change the answer).
    */
  private val simhashOracleSql: String = {
    val bitSums = (0 until DedupOps.SimhashBits)
      .map(b => s"sum((h >> $b) & 1) s$b").mkString(", ")
    val sigTerms = (0 until DedupOps.SimhashBits)
      .map(b => s"(CASE WHEN 2*s$b >= n THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') tk
       |  FROM documents WHERE length(trim(text)) > 0),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(0, greatest(len(tk)-2, 0)),
       |    i -> array_to_string(tk[i+1:i+3], ' '))) s FROM toks),
       |inv AS (SELECT doc_id, unnest(s) tok FROM sh WHERE len(s) > 0),
       |hh AS (SELECT doc_id, list_reduce(list_transform(range(1, 16),
       |    i -> CAST(strpos('0123456789abcdef',
       |      substr(md5(tok), CAST(i AS INT), 1)) - 1 AS BIGINT)),
       |    (a, b) -> a*16 + b) h FROM inv),
       |bits AS (SELECT doc_id, count(*) n, $bitSums FROM hh GROUP BY doc_id),
       |sg AS (SELECT doc_id, $sigTerms sig FROM bits)
       |SELECT a.doc_id id_a, b.doc_id id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) hamming
       |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  /** The x5c corpus: embeddings (as double) plus derived near-duplicates —
    * every 25th vector blended with its successor at α ∈ {0, 0.2, 0.4},
    * ids offset by 1,000,000. The DuckDB oracle re-derives the identical
    * rows (same double ops, same order), so the selective-τ query has
    * real accept AND reject cases despite the base corpus's max natural
    * pair cosine of ~0.51.
    */
  private def augmentedEmbeddings(s: org.apache.spark.sql.SparkSession,
                                  d: String): org.apache.spark.sql.DataFrame = {
    val base = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val nxt = base.select((col("vec_id") - 1).as("vec_id"),
      col("embedding").as("emb2"))
    base.unionByName(
      base.join(nxt, Seq("vec_id")).filter(col("vec_id") % 25 === 0)
        .withColumn("__a", col("vec_id") % 75 / lit(25) * lit(0.2))
        .select((col("vec_id") + 1000000L).as("vec_id"),
          zip_with(col("embedding"), col("emb2"),
            (x, y) => x * (lit(1.0) - col("__a")) + y * col("__a"))
            .as("embedding")))
  }

  /** Shared by x28 (string grams) and x28b (xxhash64 grams): one output
    * contract — the hash key never leaks into the result — so both forms
    * are graded against the identical DuckDB reconstruction.
    */
  private val x28OracleSql: Option[String] =
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
           |  FROM documents WHERE length(trim(text)) > 0),
           |g AS (SELECT doc_id, unnest(list_transform(
           |    range(0, greatest(len(tk)-3, 0)),
           |    i -> {'i': i, 'g': array_to_string(tk[i+1:i+4], ' ')})) s FROM toks),
           |ge AS (SELECT doc_id, s.i i, s.g g FROM g),
           |dup AS (SELECT g FROM ge GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
           |cov AS (SELECT DISTINCT doc_id, unnest(range(i, i+4)) p
           |  FROM ge JOIN dup USING (g)),
           |tp AS (SELECT doc_id, unnest(list_transform(range(0, len(tk)),
           |    j -> {'p': j, 't': tk[j+1]})) s FROM toks),
           |tpe AS (SELECT doc_id, s.p p, s.t t FROM tp),
           |kept AS (SELECT tpe.* FROM tpe ANTI JOIN cov USING (doc_id, p)),
           |agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY p) tc
           |  FROM kept GROUP BY doc_id),
           |rem AS (SELECT doc_id, count(*) nr FROM cov GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(a.tc, '') text_clean,
           |  CAST(coalesce(r.nr, 0) AS BIGINT) n_removed
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |LEFT JOIN rem r USING (doc_id)
           |ORDER BY doc_id""".stripMargin)

  private val langProfiles = Seq(
    "alpha" -> Seq("table", "row", "scan"),
    "beta" -> Seq("join", "merge", "hash"),
    "gamma" -> Seq("window", "batch", "stream"))

  /** Char-trigram profiles for x10b (langIdNgram): each language's
    * characteristic trigrams — the trigram decomposition of the same
    * marker words as [[langProfiles]], so the two lang-ID variants are
    * comparable on the same corpus.
    */
  private val langNgramProfiles = Seq(
    "alpha" -> Seq("tab", "abl", "ble", "row", "sca", "can"),
    "beta" -> Seq("joi", "oin", "mer", "erg", "rge", "has", "ash"),
    "gamma" -> Seq("win", "ind", "dow", "bat", "atc", "tch", "eam"))

  /** Shared by x126 (batch k-anonymity) and st21 (streaming census): one
    * output contract — the single-row privacy summary over customer QI
    * (nation, segment) with the credit-sign sensitive attribute — so both
    * grade against the identical oracle.
    */
  /** Shared by x129 (batch) and st27 (streaming): one output contract —
    * the embedding scree plot (per-dim variance rank + fixed-point
    * cumulative share) — so both grade against the identical oracle.
    */
  private val varianceSpectrumOracleSql: String =
    """WITH m AS (SELECT generate_subscripts(embedding, 1) - 1 p,
      |    CAST(unnest(embedding) AS DOUBLE) v
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |d AS (SELECT CAST(p AS BIGINT) dim, CAST(count(*) AS BIGINT) n,
      |    round(avg(v*v) - avg(v)*avg(v), 6) variance
      |  FROM m GROUP BY 1),
      |f AS (SELECT dim, n, variance,
      |    CAST(round(variance*1e6, 0) AS BIGINT) v6 FROM d),
      |t AS (SELECT CAST(sum(v6) AS BIGINT) tot FROM f)
      |SELECT dim, n, variance,
      |  CAST(row_number() OVER (ORDER BY variance DESC, dim ASC)
      |    AS BIGINT) rnk,
      |  round(CAST(sum(v6) OVER (ORDER BY variance DESC, dim ASC
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
      |    CAST(tot AS DOUBLE), 6) cum_share
      |FROM f CROSS JOIN t ORDER BY rnk""".stripMargin

  /** Shared by x12b (batch) and st28 (streaming): one output contract —
    * per-image P6 header + RGB-mean features recomputed from the
    * generating formula — so both grade against the identical oracle.
    */
  private val ppmDecodeOracleSql: String =
    """WITH dims AS (SELECT doc_id, 1 + doc_id % 8 w, 1 + doc_id % 6 h
      |  FROM documents),
      |m AS (SELECT doc_id, w, h,
      |  list_sum(list_transform(range(0, w*h),
      |    i -> (doc_id*7 + (3*i)*13) % 256)) rs,
      |  list_sum(list_transform(range(0, w*h),
      |    i -> (doc_id*7 + (3*i+1)*13) % 256)) gs,
      |  list_sum(list_transform(range(0, w*h),
      |    i -> (doc_id*7 + (3*i+2)*13) % 256)) bs
      |  FROM dims)
      |SELECT doc_id, CAST(w AS INT) ppm_width, CAST(h AS INT) ppm_height,
      |  round(CAST(rs AS DOUBLE)/(w*h), 6) r_mean,
      |  round(CAST(gs AS DOUBLE)/(w*h), 6) g_mean,
      |  round(CAST(bs AS DOUBLE)/(w*h), 6) b_mean
      |FROM m ORDER BY doc_id""".stripMargin

  /** Shared by x148 (batch) and st29 (streaming): one output contract —
    * the per-priority Poisson-bootstrap mean CI over orders — so both
    * grade against the identical oracle.
    */
  private val bootstrapOracleSql: String =
    """WITH base AS (SELECT o_orderpriority g, o_orderkey id,
      |    CAST(round(o_totalprice*100, 0) AS BIGINT) c
      |  FROM orders WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL),
      |ur AS (SELECT g, id, c, r,
      |    CAST(list_reduce(list_transform(range(1, 9),
      |      i -> CAST(strpos('0123456789abcdef',
      |        substr(md5('boot:' || CAST(id AS VARCHAR) || '#' ||
      |          CAST(r AS VARCHAR)), CAST(i AS INT), 1)) - 1
      |        AS BIGINT)),
      |      (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 u
      |  FROM base, unnest(range(0, 32)) t(r)),
      |wr AS (SELECT g, r, c,
      |    CASE WHEN u < 0.36787944117144233 THEN 0
      |         WHEN u < 0.7357588823428847 THEN 1
      |         WHEN u < 0.9196986029286058 THEN 2
      |         WHEN u < 0.9810118431238463 THEN 3
      |         WHEN u < 0.9963401531726563 THEN 4 ELSE 5 END w
      |  FROM ur),
      |reps AS (SELECT g, r, CAST(sum(w) AS BIGINT) sw,
      |    CAST(sum(w*c) AS BIGINT) swx FROM wr
      |  GROUP BY 1, 2 HAVING sum(w) > 0),
      |m AS (SELECT g, r, CAST(swx AS DOUBLE) /
      |    (CAST(sw AS DOUBLE) * 100.0) m FROM reps),
      |rk AS (SELECT g, r, m, row_number() OVER (PARTITION BY g
      |    ORDER BY m ASC, r ASC) rk FROM m),
      |ci AS (SELECT g, CAST(count(*) AS BIGINT) n_replicas,
      |    min(CASE WHEN rk = 2 THEN m END) lo,
      |    min(CASE WHEN rk = 31 THEN m END) hi FROM rk GROUP BY 1),
      |pt AS (SELECT g, CAST(count(*) AS BIGINT) n_rows,
      |    CAST(sum(c) AS BIGINT) sc FROM base GROUP BY 1)
      |SELECT pt.g o_orderpriority, n_rows,
      |  round(CAST(sc AS DOUBLE) /
      |    (CAST(n_rows AS DOUBLE) * 100.0), 6) mean,
      |  round(lo, 6) ci_lo, round(hi, 6) ci_hi, n_replicas
      |FROM pt JOIN ci ON pt.g = ci.g
      |ORDER BY o_orderpriority""".stripMargin

  /** x9's quality-score computation as a (doc_id, score) subquery —
    * shared by x151 (fair top-k ranks on round-4 quality).
    */
  private val qualityScoreOracleSub: String =
    """SELECT doc_id, round(
      |  0.5 * least(CAST(len(tok) AS DOUBLE)/100.0, 1.0) +
      |  0.3 * (CASE WHEN len(tok) > 0 THEN least(
      |    (CAST(len(list_filter(tok, x -> list_contains(
      |      ['the','a','value','data','row','table'], x))) AS DOUBLE) /
      |     CAST(len(tok) AS DOUBLE))*5.0, 1.0) ELSE 0.0 END) +
      |  0.2 * (1.0 - (CASE WHEN length(text) > 0
      |    THEN least((CAST(length(regexp_replace(text,
      |      '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) /
      |      length(text))*10.0, 1.0) ELSE 0.0 END)), 4) score
      |FROM (SELECT doc_id, text,
      |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END tok
      |  FROM documents)""".stripMargin

  /** Shared by x21 (batch) and st26 (streaming): one output contract —
    * per-candidate-doc distinct contaminated 4-gram counts against the
    * doc_id % 97 benchmark slice — so both grade against the identical
    * oracle.
    */
  private val decontamOracleSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      |  FROM documents WHERE length(trim(text)) > 0),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |    range(0, greatest(len(tk)-3, 0)),
      |    i -> array_to_string(tk[i+1:i+4], ' '))) s FROM toks),
      |bench AS (SELECT DISTINCT unnest(s) g FROM sh WHERE doc_id % 97 = 0),
      |cand AS (SELECT doc_id, unnest(s) g FROM sh WHERE doc_id % 97 <> 0)
      |SELECT doc_id, count(*) n_hits FROM cand JOIN bench USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared by x134 (batch) and st25 (streaming): one output contract —
    * the o_custkey skew report over `orders` — so both grade against the
    * identical oracle.
    */
  private val keySkewOracleSql: String =
    """WITH c AS (SELECT o_custkey k, CAST(count(*) AS BIGINT) c
      |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
      |r AS (SELECT c, row_number() OVER (ORDER BY c ASC,
      |    CAST(k AS VARCHAR) ASC) r, count(*) OVER () n FROM c)
      |SELECT CAST(max(n) AS BIGINT) n_keys,
      |  CAST(sum(c) AS BIGINT) n_rows,
      |  CAST(max(c) AS BIGINT) max_key_rows,
      |  CAST(min(CASE WHEN r = CAST(ceil(0.5*n) AS BIGINT)
      |    THEN c END) AS BIGINT) p50_key_rows,
      |  CAST(min(CASE WHEN r = CAST(ceil(0.9*n) AS BIGINT)
      |    THEN c END) AS BIGINT) p90_key_rows,
      |  CAST(min(CASE WHEN r = CAST(ceil(0.99*n) AS BIGINT)
      |    THEN c END) AS BIGINT) p99_key_rows,
      |  round(CAST(max(c) AS DOUBLE) /
      |    (CAST(sum(c) AS DOUBLE) / CAST(max(n) AS DOUBLE)), 4)
      |    skew_factor,
      |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
      |    top1_share
      |FROM r""".stripMargin

  /** Shared by x128 (batch) and st24 (streaming): one output contract —
    * blocked Levenshtein-1 linkage pairs over `customer` — so both grade
    * against the identical oracle.
    */
  private val linkageOracleSql: String =
    """WITH r AS (SELECT c_custkey id, c_name nm, c_mktsegment seg,
      |    substr(c_name, 1, 16) blk FROM customer
      |  WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
      |    AND c_mktsegment IS NOT NULL)
      |SELECT l.id id_a, r2.id id_b, l.nm name_a, r2.nm name_b,
      |  CAST(levenshtein(l.nm, r2.nm) AS BIGINT) dist
      |FROM r l JOIN r r2 ON l.seg = r2.seg AND l.blk = r2.blk
      |  AND l.id < r2.id
      |WHERE levenshtein(l.nm, r2.nm) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  /** Shared by x133 (batch) and st23 (streaming): one output contract —
    * the 64-multiple bucket (docs, real/padded tokens, efficiency) census
    * over `documents` — so both grade against the identical oracle.
    */
  private val paddingOracleSql: String =
    """WITH d AS (SELECT len(list_filter(
      |      regexp_split_to_array(trim(text), '\s+'),
      |      x -> length(x) > 0)) n
      |  FROM documents WHERE text IS NOT NULL),
      |b AS (SELECT CAST(((n + 63) // 64) * 64 AS BIGINT) bucket_cap,
      |    CAST(n AS BIGINT) n FROM d WHERE n > 0)
      |SELECT bucket_cap, CAST(count(*) AS BIGINT) n_docs,
      |  CAST(sum(n) AS BIGINT) real_tokens,
      |  CAST(count(*) * bucket_cap AS BIGINT) padded_tokens,
      |  round(CAST(sum(n) AS DOUBLE) /
      |    CAST(count(*) * bucket_cap AS DOUBLE), 6) efficiency
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by x131 (batch) and st22 (streaming): one output contract —
    * the md5-routed 8-shard (rows, bytes, byte share) census over
    * `documents` — so both grade against the identical oracle.
    */
  /** Shared by x156 (batch) and st31 (streaming): one output contract —
    * Cohen's kappa over the md5-degraded second rater — so both grade
    * against the identical oracle.
    */
  private val kappaOracleSql: String =
    """WITH r AS (SELECT event_type a, CASE WHEN
      |    CAST(list_reduce(list_transform(range(1, 9),
      |      i -> CAST(strpos('0123456789abcdef',
      |        substr(md5('kappa:' || CAST(event_id AS VARCHAR)),
      |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (x, y) -> x*16 + y) AS DOUBLE) / 4294967296.0 < 0.7
      |    THEN event_type ELSE 'other' END b
      |  FROM events WHERE event_type IS NOT NULL),
      |ma AS (SELECT a l, CAST(count(*) AS BIGINT) na FROM r GROUP BY 1),
      |mb AS (SELECT b l, CAST(count(*) AS BIGINT) nb FROM r GROUP BY 1),
      |pe AS (SELECT CAST(coalesce(sum(na*nb), 0) AS BIGINT) pe
      |  FROM ma JOIN mb USING (l)),
      |ag AS (SELECT CAST(count(*) AS BIGINT) n,
      |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) g
      |  FROM r)
      |SELECT n n_items, g n_agree,
      |  round(CAST(g AS DOUBLE) / n, 6) p_observed,
      |  round(CAST(pe AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6)
      |    p_expected,
      |  CASE WHEN n*n = pe THEN NULL
      |    ELSE round(CAST(n*g - pe AS DOUBLE) /
      |      CAST(n*n - pe AS DOUBLE), 6) END kappa
      |FROM ag CROSS JOIN pe""".stripMargin

  /** Shared by x157 (batch) and st30 (streaming): one output contract —
    * the calibration curve of cosine-to-query rescaled to [0,1] — so
    * both grade against the identical oracle.
    */
  private val calibrationOracleSql: String =
    """WITH q AS (SELECT list_transform(embedding,
      |    x -> CAST(x AS DOUBLE)) qv, "label" ql
      |  FROM embeddings WHERE vec_id = 0),
      |sc AS (SELECT CAST(round(round((CAST(
      |      list_cosine_similarity(list_transform(embedding,
      |        x -> CAST(x AS DOUBLE)), qv) AS DOUBLE) + 1) / 2, 4)
      |      * 10000, 0) AS BIGINT) p4,
      |    CAST(e."label" = ql AS BIGINT) y
      |  FROM embeddings e CROSS JOIN q
      |  WHERE vec_id <> 0 AND embedding IS NOT NULL
      |    AND e."label" IS NOT NULL)
      |SELECT least(p4 * 10 // 10000, 9) bin,
      |  CAST(count(*) AS BIGINT) n,
      |  CAST(sum(y) AS BIGINT) n_pos,
      |  round(CAST(sum(p4) AS DOUBLE) / (count(*) * 10000), 6)
      |    mean_pred,
      |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) obs_rate,
      |  round(CAST(sum(y) AS DOUBLE) / count(*) -
      |    CAST(sum(p4) AS DOUBLE) / (count(*) * 10000), 6) gap,
      |  round(CAST(sum((p4 - y*10000)*(p4 - y*10000)) AS DOUBLE)
      |    / 100000000.0, 6) sq_err
      |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin

  /** Shared by x169 (batch) and st32 (streaming): one output contract —
    * the per-event-type daily-count changepoint — so both grade against
    * the identical oracle.
    */
  private val changepointOracleSql: String =
    """WITH dd AS (SELECT event_type g,
      |    CAST(CAST(ts AS DATE) AS VARCHAR) dy,
      |    CAST(count(*) AS BIGINT) v FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |r AS (SELECT g, dy, v,
      |    CAST(row_number() OVER (PARTITION BY g ORDER BY dy)
      |      AS BIGINT) k,
      |    CAST(sum(v) OVER (PARTITION BY g ORDER BY dy)
      |      AS BIGINT) sk,
      |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) n,
      |    CAST(sum(v) OVER (PARTITION BY g) AS BIGINT) sn
      |  FROM dd),
      |sc AS (SELECT g, dy, k, sk, n, sn,
      |    CAST(n*sk - k*sn AS DOUBLE) * CAST(n*sk - k*sn AS DOUBLE)
      |      / CAST(n*k*(n-k) AS DOUBLE) s
      |  FROM r WHERE k < n),
      |best AS (SELECT g, n, sn, dy, k, sk, s FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY g
      |    ORDER BY s DESC, k ASC) = 1)
      |SELECT g event_type, n n_points, dy split_t,
      |  round(CAST(sk AS DOUBLE) / k, 6) mean_left,
      |  round(CAST(sn - sk AS DOUBLE) / (n - k), 6) mean_right,
      |  round(s, 4) score
      |FROM best ORDER BY event_type""".stripMargin

  private val shardBalanceOracleSql: String =
    """WITH h AS (SELECT CAST(list_reduce(list_transform(range(1, 9),
      |      i -> CAST(strpos('0123456789abcdef',
      |        substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
      |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a*16 + b) % 8 AS BIGINT) shard,
      |    CAST(n_chars AS BIGINT) sz
      |  FROM documents),
      |g AS (SELECT shard, CAST(count(*) AS BIGINT) n_rows,
      |    CAST(sum(sz) AS BIGINT) bytes FROM h GROUP BY 1),
      |t AS (SELECT CAST(sum(bytes) AS BIGINT) tot FROM g)
      |SELECT shard, n_rows, bytes,
      |  round(CAST(bytes AS DOUBLE) / CAST(tot AS DOUBLE), 6) byte_share
      |FROM g CROSS JOIN t ORDER BY shard""".stripMargin

  private val x126OracleSql: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) n,
      |    count(DISTINCT c_acctbal > 0) d FROM customer GROUP BY 1, 2)
      |SELECT CAST(sum(n) AS BIGINT) n_rows,
      |  CAST(count(*) AS BIGINT) n_groups,
      |  CAST(min(n) AS BIGINT) min_group_size,
      |  CAST(count(*) FILTER (n < 10) AS BIGINT) n_violating_groups,
      |  CAST(coalesce(sum(n) FILTER (n < 10), 0) AS BIGINT) rows_at_risk,
      |  CAST(count(*) FILTER (d <= 1) AS BIGINT) n_low_diversity_groups
      |FROM g""".stripMargin

  val all: Seq[QuerySpec] = Seq(

    QuerySpec("x1_exact_dedup",
      (s, d) => DedupOps.exactDedup(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("dup_count").cast("long").as("dup_count"))
        .orderBy("doc_id"),
      Some("""SELECT min(doc_id) doc_id, CAST(count(*) AS BIGINT) dup_count
             |FROM documents
             |GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             |ORDER BY doc_id""".stripMargin)),

    // NOTE: the engine side is probabilistic (LSH candidate generation)
    // while the oracle is exhaustive. 8 bands x 2 rows gives catch
    // probability 1-(1-j^2)^8: >0.999 for j>=0.75 and ~1 for the seed-42
    // corpus whose pair Jaccards sit at >=0.95 with the next candidate at
    // 0.06. A regenerated corpus with pairs in the (0.5, 0.7) band would
    // need more bands (recall) or the exact x3 operator instead.
    QuerySpec("x2_minhash_lsh_neardup",
      // r19: fan-out reverted — interleaved A/B lost 0.87× (plans/r19/
      // fanout_ab_run1.log), the added exchange costs more than the
      // single-task scan here (same criterion as r18's x106/x149/x196)
      (s, d) => DedupOps.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        shingleWords = 5, numHashes = 16, bands = 8, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-4, 0)),
             |    i -> array_to_string(tk[i+1:i+5], ' '))) s FROM toks),
             |inv AS (SELECT doc_id, unnest(s) tok FROM sh WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1,2)
             |SELECT id_a, id_b, round(i*1.0/(sa.n + sb.n - i), 4) jaccard
             |FROM inter JOIN sizes sa ON id_a = sa.doc_id
             |JOIN sizes sb ON id_b = sb.doc_id
             |WHERE round(i*1.0/(sa.n + sb.n - i), 4) >= 0.5
             |ORDER BY 1,2""".stripMargin)),

    QuerySpec("x3_ngram_jaccard_neardup",
      // r19: fan-out reverted — interleaved A/B lost 0.79× (plans/r19/
      // fanout_ab_run1.log)
      (s, d) => DedupOps.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        blockCol = "lang", shingleWords = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-2, 0)),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) s FROM toks),
             |inv AS (SELECT doc_id, lang, unnest(s) tok FROM sh WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM inv a JOIN inv b ON a.tok = b.tok AND a.lang = b.lang
             |    AND a.doc_id < b.doc_id GROUP BY 1,2)
             |SELECT id_a, id_b, round(i*1.0/(sa.n + sb.n - i), 4) jaccard
             |FROM inter JOIN sizes sa ON id_a = sa.doc_id
             |JOIN sizes sb ON id_b = sb.doc_id
             |WHERE round(i*1.0/(sa.n + sb.n - i), 4) >= 0.5
             |ORDER BY 1,2""".stripMargin)),

    QuerySpec("x13_neardup_clusters", (s, d) => {
      val pairs = DedupOps.ngramJaccardPairs(tw(s, d, "documents"),
        "doc_id", "text", blockCol = "lang", shingleWords = 3, threshold = 0.5)
      DedupOps.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_root"), col("is_canonical"))
        .orderBy("doc_id")
    },
      x13OracleSql),

    // Same clustering, computed by the O(log n)-round large-star/
    // small-star formulation — the deep-graph scale path graded against
    // the identical recursive-CTE oracle (both implementations share one
    // output contract).
    QuerySpec("x13b_neardup_clusters_star", (s, d) => {
      val pairs = DedupOps.ngramJaccardPairs(tw(s, d, "documents"),
        "doc_id", "text", blockCol = "lang", shingleWords = 3, threshold = 0.5)
      DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_root"), col("is_canonical"))
        .orderBy("doc_id")
    },
      x13OracleSql),

    // The oracle rebuilds the 60-bit md5-derived signature digit-by-digit
    // (base-16 fold over the first 15 hex chars — the reason SimhashBits
    // is 60) and pairs exhaustively; the engine's chunk blocking is
    // pigeonhole-lossless for hamming ≤ 3, so both sides must emit the
    // identical pair set. The per-bit SUM columns are generated, not
    // hand-written.
    QuerySpec("x4_simhash_neardup",
      (s, d) => DedupOps.simhashPairs(tw(s, d, "documents"), "doc_id", "text",
        shingleWords = 3, maxHamming = 3)
        .orderBy("id_a", "id_b"),
      Some(simhashOracleSql)),

    // x5 (label-blocked cosine near-dup demo) retired in r6: quadratic
    // within a block, carried weak since r2. The operator survives as the
    // oracle-exact demo, asserted against brute force in ScaleNativeSpec;
    // the graded family is x5b (recall-1 regime) + x5c (selective regime).

    // Scale-safe twin of x5: the block key is a banded random-hyperplane
    // signature instead of the data-dependent label, so bucket sizes are
    // bounded by construction (no quadratic-within-block stage). The
    // planes are deterministic (SimilarityOps.rhpPlane), so the oracle
    // re-derives the exact band keys from plane literals generated by the
    // same Scala function — candidate generation AND verification are both
    // hash-checked, not just rows-only.
    QuerySpec("x5b_embed_rhp_neardup",
      (s, d) => SimilarityOps.rhpNearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", dims = 64, rowsPerBand = 2, bands = 16,
        plane = SimilarityOps.rhpPlane, threshold = 0.44)
        .orderBy("id_a", "id_b"),
      Some {
        val dims = 64; val nbits = 32; val nBands = 16; val rows = nbits / nBands
        def planeLit(b: Int): String =
          SimilarityOps.rhpPlane(b, dims).mkString("[", ", ", "]")
        val projCols = (0 until nbits).map(b =>
          s"list_reduce(list_transform(range(1, ${dims + 1}), " +
            s"j -> e[j] * (${planeLit(b)})[j]), (x, y) -> x + y) p$b")
          .mkString(", ")
        val bitList = (0 until nbits)
          .map(b => s"CASE WHEN p$b >= 0 THEN 1 ELSE 0 END")
          .mkString("[", ", ", "]")
        val bkeyExpr = (0 until rows)
          .map(r => s"bv[i*$rows + ${r + 1}] * ${1L << r}").mkString(" + ")
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
           |  FROM embeddings),
           |pj AS (SELECT vec_id, $projCols FROM v),
           |bt AS (SELECT vec_id, $bitList bv FROM pj),
           |bnd AS (SELECT vec_id, i band, $bkeyExpr bkey FROM bt, range(0, $nBands) t(i)),
           |cand AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b
           |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bkey = b.bkey
           |    AND a.vec_id < b.vec_id)
           |SELECT id_a, id_b, round(CAST(list_cosine_similarity(ea.embedding,
           |    eb.embedding) AS DOUBLE), 4) score
           |FROM cand JOIN embeddings ea ON id_a = ea.vec_id
           |JOIN embeddings eb ON id_b = eb.vec_id
           |WHERE round(CAST(list_cosine_similarity(ea.embedding,
           |    eb.embedding) AS DOUBLE), 4) >= 0.44
           |ORDER BY 1, 2""".stripMargin
      }),

    // x5c — the PRODUCTION regime of the RHP family (r5 VERDICT item 3):
    // high threshold (τ=0.92), 9-bit band keys (7 bands × 9 rhpPlane
    // planes → 512 buckets per band), where LSH actually prunes: candidates ≪
    // all-pairs (measured in PERF.md). The base corpus's max pair cosine
    // is ~0.51, so near-duplicates are DERIVED deterministically in both
    // engines: every 25th vector blended with its successor at
    // α ∈ {0, 0.2, 0.4} (pair cosine ≈ 1.0 / 0.97 / ≤0.855) — the α=0.4
    // blends exercise verify-reject below τ. τ=0.92 sits in an
    // empirically-verified gap (no pair score in [0.87, 0.955] at sf0.01
    // or sf0.1). All blend arithmetic is double with identical operation
    // order in both engines.
    QuerySpec("x5c_embed_rhp_selective",
      (s, d) => SimilarityOps.rhpNearDupPairs(augmentedEmbeddings(s, d),
        "vec_id", "embedding", dims = 64, rowsPerBand = 9, bands = 7,
        plane = SimilarityOps.rhpPlane, threshold = 0.92)
        .orderBy("id_a", "id_b"),
      Some {
        val dims = 64; val nbits = 63; val nBands = 7; val rows = nbits / nBands
        def planeLit(b: Int): String =
          SimilarityOps.rhpPlane(b, dims).mkString("[", ", ", "]")
        val projCols = (0 until nbits).map(b =>
          s"list_reduce(list_transform(range(1, ${dims + 1}), " +
            s"j -> e[j] * (${planeLit(b)})[j]), (x, y) -> x + y) p$b")
          .mkString(", ")
        val bitList = (0 until nbits)
          .map(b => s"CASE WHEN p$b >= 0 THEN 1 ELSE 0 END")
          .mkString("[", ", ", "]")
        val bkeyExpr = (0 until rows)
          .map(r => s"bv[i*$rows + ${r + 1}] * ${1L << r}").mkString(" + ")
        s"""WITH ebase AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
           |  FROM embeddings),
           |pert AS (SELECT a.vec_id + 1000000 vec_id,
           |    list_transform(range(1, ${dims + 1}),
           |      j -> a.e[j] * (1 - (a.vec_id % 75)/25*0.2)
           |        + b.e[j] * ((a.vec_id % 75)/25*0.2)) e
           |  FROM ebase a JOIN ebase b ON b.vec_id = a.vec_id + 1
           |  WHERE a.vec_id % 25 = 0),
           |v AS (SELECT * FROM ebase UNION ALL SELECT * FROM pert),
           |pj AS (SELECT vec_id, $projCols FROM v),
           |bt AS (SELECT vec_id, $bitList bv FROM pj),
           |bnd AS (SELECT vec_id, i band, $bkeyExpr bkey FROM bt, range(0, $nBands) t(i)),
           |cand AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b
           |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bkey = b.bkey
           |    AND a.vec_id < b.vec_id)
           |SELECT id_a, id_b, round(CAST(list_cosine_similarity(va.e,
           |    vb.e) AS DOUBLE), 4) score
           |FROM cand JOIN v va ON id_a = va.vec_id
           |JOIN v vb ON id_b = vb.vec_id
           |WHERE round(CAST(list_cosine_similarity(va.e,
           |    vb.e) AS DOUBLE), 4) >= 0.92
           |ORDER BY 1, 2""".stripMargin
      }),

    // x5d — the PRUNING-RECOVERED regime (r6 VERDICT item 1): same
    // augmented corpus and τ=0.92 as x5c, but (a) planes drawn from the
    // splitmix64-mixed rhpPlaneV2 family — x5c's Long.hashCode planes are
    // mutually CORRELATED (mean |bit corr| 0.21 vs 0.087), which is what
    // collapsed its pruning to 26× — and (b) 12-bit band keys (4096
    // buckets/band × 10 bands = 120 planes). Same operator as x5b/x5c,
    // only the plane family and band shape differ. Measured with the
    // oracle's own cand CTE: ~267×/~265× candidate pruning vs all-pairs at
    // sf0.01/sf0.1 with FULL recall (every pair ≥ τ caught — x5c itself
    // misses one at sf0.01). PERF.md r7 has the numbers.
    QuerySpec("x5d_embed_rhp_banded",
      (s, d) => SimilarityOps.rhpNearDupPairs(augmentedEmbeddings(s, d),
        "vec_id", "embedding", dims = 64, rowsPerBand = 12, bands = 10,
        plane = SimilarityOps.rhpPlaneV2, threshold = 0.92)
        .orderBy("id_a", "id_b"),
      Some {
        val dims = 64; val rows = 12; val nBands = 10; val nbits = rows * nBands
        def planeLit(b: Int): String =
          SimilarityOps.rhpPlaneV2(b, dims).mkString("[", ", ", "]")
        val projCols = (0 until nbits).map(b =>
          s"list_reduce(list_transform(range(1, ${dims + 1}), " +
            s"j -> e[j] * (${planeLit(b)})[j]), (x, y) -> x + y) p$b")
          .mkString(", ")
        val bitList = (0 until nbits)
          .map(b => s"CASE WHEN p$b >= 0 THEN 1 ELSE 0 END")
          .mkString("[", ", ", "]")
        val bkeyExpr = (0 until rows)
          .map(r => s"bv[i*$rows + ${r + 1}] * ${1L << r}").mkString(" + ")
        s"""WITH ebase AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
           |  FROM embeddings),
           |pert AS (SELECT a.vec_id + 1000000 vec_id,
           |    list_transform(range(1, ${dims + 1}),
           |      j -> a.e[j] * (1 - (a.vec_id % 75)/25*0.2)
           |        + b.e[j] * ((a.vec_id % 75)/25*0.2)) e
           |  FROM ebase a JOIN ebase b ON b.vec_id = a.vec_id + 1
           |  WHERE a.vec_id % 25 = 0),
           |v AS (SELECT * FROM ebase UNION ALL SELECT * FROM pert),
           |pj AS (SELECT vec_id, $projCols FROM v),
           |bt AS (SELECT vec_id, $bitList bv FROM pj),
           |bnd AS (SELECT vec_id, i band, $bkeyExpr bkey FROM bt, range(0, $nBands) t(i)),
           |cand AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b
           |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bkey = b.bkey
           |    AND a.vec_id < b.vec_id)
           |SELECT id_a, id_b, round(CAST(list_cosine_similarity(va.e,
           |    vb.e) AS DOUBLE), 4) score
           |FROM cand JOIN v va ON id_a = va.vec_id
           |JOIN v vb ON id_b = vb.vec_id
           |WHERE round(CAST(list_cosine_similarity(va.e,
           |    vb.e) AS DOUBLE), 4) >= 0.92
           |ORDER BY 1, 2""".stripMargin
      }),

    QuerySpec("x6_cosine_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      SimilarityOps.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, 10)
    },
      Some("""SELECT vec_id, round(CAST(list_cosine_similarity(embedding,
             |    (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS DOUBLE), 4) score
             |FROM embeddings WHERE vec_id <> 0
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    QuerySpec("x7_ann_ivf_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = trainedCents(s, d, 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val assigned = SimilarityOps.ivfAssign(emb.filter(col("vec_id") >= 16),
        "vec_id", "embedding", cents, "cid", "cvec")
      SimilarityOps.ivfTopK(assigned, "vec_id", "embedding", cents, "cid", "cvec",
        q, k = 10, nprobe = 12)
    },
      Some(s"""WITH ${kmeansCentSql(16)},
             |q AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0),
             |probes AS (SELECT cid FROM cent, q
             |  ORDER BY list_cosine_similarity(cvec, list_transform(qe,
             |    x -> CAST(x AS DOUBLE))) DESC, cid LIMIT 12),
             |assign AS (SELECT e.vec_id, e.embedding, c.cid centroid
             |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 16
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1)
             |SELECT a.vec_id, a.centroid,
             |  round(CAST(list_cosine_similarity(a.embedding, (SELECT qe FROM q)) AS DOUBLE), 4) score
             |FROM assign a JOIN probes p ON a.centroid = p.cid
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    // Batched ANN join (x51, r6 VERDICT item 3): every 10th vector is a
    // query, searched against the rest of the corpus in ONE job — shared
    // centroid assignment, per-query probe lists collapsed map-side, equi
    // join on the probed centroid (no cartesian), per-query top-k window
    // (only k rows per query survive). The oracle mirrors the IVF
    // computation exactly (assignment argmax, nprobe probe list, rounded
    // score + id tie-break) — the x7 convention, since IVF search is
    // approximate by design and the approximation must be reproducible.
    QuerySpec("x51_ann_join", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = trainedCents(s, d, 16)
      val queries = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") >= 16 && col("vec_id") % 10 =!= 0)
      SimilarityOps.annJoin(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", cents, "cid", "cvec",
        k = 5, nprobe = 12)
        .orderBy("query_id", "nn_rank")
    },
      Some(s"""WITH ${kmeansCentSql(16)},
             |qs AS (SELECT vec_id qid, embedding qe FROM embeddings
             |  WHERE vec_id % 10 = 0),
             |corpus AS (SELECT vec_id, embedding FROM embeddings
             |  WHERE vec_id >= 16 AND vec_id % 10 <> 0),
             |assign AS (SELECT co.vec_id, co.embedding, c.cid centroid
             |  FROM corpus co CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY co.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(co.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC,
             |      c.cid) = 1),
             |probes AS (SELECT q.qid, c.cid FROM qs q CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |    ORDER BY list_cosine_similarity(c.cvec, list_transform(q.qe,
             |      x -> CAST(x AS DOUBLE))) DESC,
             |      c.cid) <= 12),
             |scored AS (SELECT p.qid query_id, a.vec_id neighbor_id,
             |    round(CAST(list_cosine_similarity(a.embedding, q.qe)
             |      AS DOUBLE), 4) score
             |  FROM probes p JOIN assign a ON a.centroid = p.cid
             |  JOIN qs q ON q.qid = p.qid)
             |SELECT query_id, neighbor_id, score, CAST(rk AS BIGINT) nn_rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY score DESC, neighbor_id) rk FROM scored)
             |WHERE rk <= 5 ORDER BY query_id, nn_rank""".stripMargin)),

    // IVF probing AT REST (x7b): same search as x7, but the assigned
    // vectors are first written partitioned by centroid and the probe is a
    // literal IN over the partition column — the scan's PartitionFilters
    // prune to nprobe of nlist directories (plan-asserted in
    // TextDedupSpec), which is the 100 TB scale story: probing is I/O
    // elimination, not a post-scan join. Same oracle as x7 — the layout
    // must not change the answer.
    QuerySpec("x7b_ann_ivf_pruned", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = trainedCents(s, d, 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val assigned = SimilarityOps.ivfAssign(emb.filter(col("vec_id") >= 16),
        "vec_id", "embedding", cents, "cid", "cvec")
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rest").toString
      val schema = SimilarityOps.ivfWritePartitioned(assigned, dir)
      val out = SimilarityOps.ivfProbeAtRest(s, dir, schema, "vec_id",
        "embedding", cents, "cid", "cvec", q, k = 10, nprobe = 12)
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    },
      Some(s"""WITH ${kmeansCentSql(16)},
             |q AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0),
             |probes AS (SELECT cid FROM cent, q
             |  ORDER BY list_cosine_similarity(cvec, list_transform(qe,
             |    x -> CAST(x AS DOUBLE))) DESC, cid LIMIT 12),
             |assign AS (SELECT e.vec_id, e.embedding, c.cid centroid
             |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 16
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1)
             |SELECT a.vec_id, a.centroid,
             |  round(CAST(list_cosine_similarity(a.embedding, (SELECT qe FROM q)) AS DOUBLE), 4) score
             |FROM assign a JOIN probes p ON a.centroid = p.cid
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    // Incremental IVF index maintenance (x59): the index is built from
    // 6/7 of the corpus, the remaining 1/7 arrives later and is APPENDED
    // (ivfAppend — assignment against the frozen centroids, new files
    // only under touched centroid dirs), then probed at rest. Because
    // assignment depends only on the centroids, append-then-probe must
    // EXACTLY equal the full rebuild — so this runs against the x7/x7b
    // oracle verbatim. Base-files-byte-identical is asserted in
    // TextDedupSpec; here the driver grades the answer.
    QuerySpec("x59_ann_ivf_append", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = trainedCents(s, d, 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val base = emb.filter(col("vec_id") >= 16 && col("vec_id") % 7 =!= 0)
      val delta = emb.filter(col("vec_id") >= 16 && col("vec_id") % 7 === 0)
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
      val schema = SimilarityOps.ivfWritePartitioned(
        SimilarityOps.ivfAssign(base, "vec_id", "embedding", cents, "cid", "cvec"), dir)
      SimilarityOps.ivfAppend(
        SimilarityOps.ivfAssign(delta, "vec_id", "embedding", cents, "cid", "cvec"), dir)
      val out = SimilarityOps.ivfProbeAtRest(s, dir, schema, "vec_id",
        "embedding", cents, "cid", "cvec", q, k = 10, nprobe = 12)
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    },
      Some(s"""WITH ${kmeansCentSql(16)},
             |q AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0),
             |probes AS (SELECT cid FROM cent, q
             |  ORDER BY list_cosine_similarity(cvec, list_transform(qe,
             |    x -> CAST(x AS DOUBLE))) DESC, cid LIMIT 12),
             |assign AS (SELECT e.vec_id, e.embedding, c.cid centroid
             |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 16
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1)
             |SELECT a.vec_id, a.centroid,
             |  round(CAST(list_cosine_similarity(a.embedding, (SELECT qe FROM q)) AS DOUBLE), 4) score
             |FROM assign a JOIN probes p ON a.centroid = p.cid
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    // Product-quantization ANN (x62, Jégou et al. 2011 — the memory half
    // of IVF-PQ): 64-dim floats → 4 codeword ids (64× compression when
    // packed to bytes), searched WITHOUT decompression via a per-query
    // 4×16 lookup table (asymmetric distance). The oracle replays the
    // whole pipeline — per-subspace Lloyd's round, encoding, LUT, ordered
    // ADC sum — with the subspace as DATA (range(0,4)), not unrolled SQL.
    // Every distance is a sequential sum of identical doubles in both
    // engines, so argmins and the final ranking agree exactly.
    QuerySpec("x62_pq_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val init = emb.filter(col("vec_id") < 16)
      val corpus = emb.filter(col("vec_id") >= 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val cb = SimilarityOps.pqTrain(corpus, "vec_id", "embedding",
        init, m = 4, dsub = 16, iters = 1)
      val codes = SimilarityOps.pqEncode(corpus, "vec_id", "embedding",
        cb, m = 4, dsub = 16)
      SimilarityOps.pqTopK(codes, cb, q, m = 4, dsub = 16, k = 10)
        .withColumnRenamed("id", "vec_id")
    },
      Some("""WITH ss AS (SELECT unnest(range(0, 4)) s),
             |v AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) e
             |  FROM embeddings),
             |sub AS (SELECT vec_id, s, list_slice(e, s*16+1, s*16+16) sv
             |  FROM v, ss),
             |c0 AS (SELECT s, CAST(vec_id AS BIGINT) cid, sv cvec FROM sub
             |  WHERE vec_id < 16),
             |corp AS (SELECT * FROM sub WHERE vec_id >= 16),
             |a0 AS (SELECT co.vec_id, co.s, co.sv, c.cid
             |  FROM corp co JOIN c0 c ON co.s = c.s
             |  QUALIFY row_number() OVER (PARTITION BY co.vec_id, co.s
             |    ORDER BY list_sum(list_transform(range(1, 17),
             |      i -> (co.sv[i] - c.cvec[i])*(co.sv[i] - c.cvec[i]))),
             |      c.cid) = 1),
             |m0 AS (SELECT s, cid, generate_subscripts(sv, 1) pos,
             |    unnest(sv) val FROM a0),
             |c1 AS (SELECT s, cid, list(round(mn, 6) ORDER BY pos) cvec
             |  FROM (SELECT s, cid, pos, avg(val) mn FROM m0
             |    GROUP BY s, cid, pos) GROUP BY s, cid),
             |enc AS (SELECT co.vec_id, co.s, c.cid
             |  FROM corp co JOIN c1 c ON co.s = c.s
             |  QUALIFY row_number() OVER (PARTITION BY co.vec_id, co.s
             |    ORDER BY list_sum(list_transform(range(1, 17),
             |      i -> (co.sv[i] - c.cvec[i])*(co.sv[i] - c.cvec[i]))),
             |      c.cid) = 1),
             |q AS (SELECT s, sv qv FROM sub WHERE vec_id = 0),
             |lut AS (SELECT c.s, c.cid, list_sum(list_transform(range(1, 17),
             |    i -> (q.qv[i] - c.cvec[i])*(q.qv[i] - c.cvec[i]))) qd
             |  FROM c1 c JOIN q ON c.s = q.s),
             |sc0 AS (SELECT e.vec_id, list(l.qd ORDER BY e.s) ds
             |  FROM enc e JOIN lut l ON e.s = l.s AND e.cid = l.cid
             |  GROUP BY e.vec_id)
             |SELECT vec_id, round(list_sum(ds), 4) approx_dist
             |FROM sc0 ORDER BY approx_dist, vec_id LIMIT 10""".stripMargin)),

    // IVF-PQ capstone (x63): the complete billion-scale ANN architecture
    // composed from graded parts — L2 coarse quantizer (partition/prune),
    // RESIDUAL encoding (vector − centroid, what the codebook actually
    // quantizes — Jégou §IV), per-subspace PQ codebooks, and probing that
    // touches only nprobe centroids' codes with a per-probe LUT built
    // from the query's residual against THAT centroid. Probe selection is
    // driver math on 8 metadata rows (sequential double sums — bitwise
    // equal to the oracle's list_sum). Corpus floats are read once at
    // build; search reads codes only.
    QuerySpec("x63_ivfpq_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      // r10: coarse quantizer is k-means-trained (the x140 directive) —
      // the L2 residual story is unchanged, only the centroid positions
      // improve; kmeansFit already emits array<double> cvec.
      val cents = trainedCents(s, d, 8)
      val corpus = emb.filter(col("vec_id") >= 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val ar = SimilarityOps.l2AssignResiduals(corpus, "vec_id", "embedding",
        cents, "cid", "cvec")
        .localCheckpoint(true) // reused by train, encode, and cent lookup
      val initR = ar.filter(col("vec_id") < 32)
        .select(col("vec_id"), col("residual"))
      val cb = SimilarityOps.pqTrain(ar, "vec_id", "residual", initR,
        m = 4, dsub = 16, iters = 1)
      val codes = SimilarityOps.pqEncode(ar, "vec_id", "residual",
        cb, m = 4, dsub = 16)
      // probe: 2 nearest centroids to q by L2 — 8 metadata rows on the
      // driver, same sequential arithmetic as the oracle's list_sum
      val centRows = cents.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      def l2(a: Seq[Float], b: Seq[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d0 = a(i).toDouble - b(i); s += d0 * d0; i += 1 }
        s
      }
      val probes = centRows.sortBy { case (cid, cv) => (l2(q, cv), cid) }.take(2)
      val lut = probes.map { case (pc, pcv) =>
        val qr = q.indices.map(i => q(i).toDouble - pcv(i)).toArray
        cb.select(lit(pc).as("centroid"), col("sub"), col("cid"),
          graft.functions.L2DistanceSq(
            slice(lit(qr), col("sub") * 16 + lit(1), lit(16)),
            col("cvec")).as("__qd"))
      }.reduce(_.unionByName(_))
      codes.join(ar.select(col("vec_id").as("id"), col("centroid")), "id")
        .filter(col("centroid").isin(probes.map(_._1): _*))
        .select(col("id"), col("centroid"), posexplode(col("codes")).as(Seq("sub", "cid")))
        .join(broadcast(lut), Seq("centroid", "sub", "cid"))
        .groupBy(col("id"))
        .agg(array_sort(collect_list(struct(col("sub"), col("__qd")))).as("ds"))
        .select(col("id").as("vec_id"),
          round(aggregate(transform(col("ds"), x => x.getField("__qd")),
            lit(0.0), (a, x) => a + x), 4).as("approx_dist"))
        .orderBy(col("approx_dist"), col("vec_id"))
        .limit(10)
    },
      Some(s"""WITH ${kmeansCentSql(8)},
             |ss AS (SELECT unnest(range(0, 4)) s),
             |v AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) e
             |  FROM embeddings),
             |centv AS (SELECT cid, cvec cv FROM cent),
             |corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 16),
             |ca AS (SELECT co.vec_id, co.e, c.cid cent,
             |    list_transform(range(1, 65), i -> co.e[i] - c.cv[i]) r
             |  FROM corp co JOIN centv c ON true
             |  QUALIFY row_number() OVER (PARTITION BY co.vec_id
             |    ORDER BY list_sum(list_transform(range(1, 65),
             |      i -> (co.e[i] - c.cv[i])*(co.e[i] - c.cv[i]))), c.cid) = 1),
             |sub AS (SELECT vec_id, cent, s, list_slice(r, s*16+1, s*16+16) sv
             |  FROM ca, ss),
             |c0 AS (SELECT s, CAST(vec_id AS BIGINT) cid, sv cvec FROM sub
             |  WHERE vec_id < 32),
             |a0 AS (SELECT su.vec_id, su.s, su.sv, c.cid
             |  FROM sub su JOIN c0 c ON su.s = c.s
             |  QUALIFY row_number() OVER (PARTITION BY su.vec_id, su.s
             |    ORDER BY list_sum(list_transform(range(1, 17),
             |      i -> (su.sv[i] - c.cvec[i])*(su.sv[i] - c.cvec[i]))),
             |      c.cid) = 1),
             |m0 AS (SELECT s, cid, generate_subscripts(sv, 1) pos,
             |    unnest(sv) val FROM a0),
             |c1 AS (SELECT s, cid, list(round(mn, 6) ORDER BY pos) cvec
             |  FROM (SELECT s, cid, pos, avg(val) mn FROM m0
             |    GROUP BY s, cid, pos) GROUP BY s, cid),
             |enc AS (SELECT su.vec_id, su.cent, su.s, c.cid
             |  FROM sub su JOIN c1 c ON su.s = c.s
             |  QUALIFY row_number() OVER (PARTITION BY su.vec_id, su.s
             |    ORDER BY list_sum(list_transform(range(1, 17),
             |      i -> (su.sv[i] - c.cvec[i])*(su.sv[i] - c.cvec[i]))),
             |      c.cid) = 1),
             |qv AS (SELECT e qe FROM v WHERE vec_id = 0),
             |probes AS (SELECT c.cid cent, list_transform(range(1, 65),
             |    i -> q.qe[i] - c.cv[i]) qr
             |  FROM centv c, qv q
             |  ORDER BY list_sum(list_transform(range(1, 65),
             |    i -> (q.qe[i] - c.cv[i])*(q.qe[i] - c.cv[i]))), c.cid
             |  LIMIT 2),
             |lut AS (SELECT p.cent, c.s, c.cid,
             |    list_sum(list_transform(range(1, 17),
             |      i -> (list_slice(p.qr, c.s*16+1, c.s*16+16)[i] - c.cvec[i])
             |        *(list_slice(p.qr, c.s*16+1, c.s*16+16)[i] - c.cvec[i]))) qd
             |  FROM c1 c, probes p),
             |sc0 AS (SELECT e.vec_id, list(l.qd ORDER BY e.s) ds
             |  FROM enc e JOIN lut l
             |    ON e.cent = l.cent AND e.s = l.s AND e.cid = l.cid
             |  GROUP BY e.vec_id)
             |SELECT vec_id, round(list_sum(ds), 4) approx_dist
             |FROM sc0 ORDER BY approx_dist, vec_id LIMIT 10""".stripMargin)),

    // Distributed k-means fit (x55): Lloyd's over the embedding corpus —
    // the trainer the IVF coarse quantizer (x7/x7b/x51) was missing; until
    // now centroids were arbitrary corpus vectors. Two full (assign,
    // re-mean) rounds from a deterministic first-k init, then a final
    // assignment for member stats. The oracle unrolls both iterations as
    // CTEs; cross-engine float safety comes from rounding centroid
    // components to 6 dp after every M-step (both engines then feed
    // bit-identical doubles to the next E-step) and from per-centroid
    // SCALAR outputs only (the x14 convention — no float arrays in the
    // hash). Assignment argmax ties break on lowest cid in both engines.
    QuerySpec("x55_kmeans_fit", (s, d) => {
      val emb = t(s, d, "embeddings")
      val init = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val cents = ClusterOps.kmeansFit(emb, "vec_id", "embedding",
        init, "cid", "cvec", iters = 2)
      val assigned = SimilarityOps.ivfAssign(emb, "vec_id", "embedding",
        cents, "cid", "cvec")
      val stats = assigned.groupBy(col("centroid").as("cid"))
        .agg(count(lit(1)).as("n_members"),
          round(avg(col("centroid_sim")), 4).as("avg_sim"))
      val scalars = cents.select(col("cid"),
        round(sqrt(aggregate(col("cvec"), lit(0.0), (a, x) => a + x * x)), 4)
          .as("centroid_norm"),
        round(aggregate(col("cvec"), lit(0.0), (a, x) => a + x) /
          size(col("cvec")), 6).as("centroid_mean"))
      stats.join(scalars, "cid").orderBy("cid")
    },
      Some("""WITH c0 AS (SELECT CAST(vec_id AS BIGINT) cid,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cvec
             |  FROM embeddings WHERE vec_id < 8),
             |a0 AS (SELECT e.vec_id, e.embedding, c.cid
             |  FROM embeddings e CROSS JOIN c0 c
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1),
             |m0 AS (SELECT cid, generate_subscripts(embedding, 1) pos,
             |    CAST(unnest(embedding) AS DOUBLE) val FROM a0),
             |c1 AS (SELECT cid, list(round(m, 6) ORDER BY pos) cvec
             |  FROM (SELECT cid, pos, avg(val) m FROM m0 GROUP BY cid, pos)
             |  GROUP BY cid),
             |a1 AS (SELECT e.vec_id, e.embedding, c.cid
             |  FROM embeddings e CROSS JOIN c1 c
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1),
             |m1 AS (SELECT cid, generate_subscripts(embedding, 1) pos,
             |    CAST(unnest(embedding) AS DOUBLE) val FROM a1),
             |c2 AS (SELECT cid, list(round(m, 6) ORDER BY pos) cvec
             |  FROM (SELECT cid, pos, avg(val) m FROM m1 GROUP BY cid, pos)
             |  GROUP BY cid),
             |af AS (SELECT e.vec_id, c.cid,
             |    round(CAST(list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) AS DOUBLE), 4) sim
             |  FROM embeddings e CROSS JOIN c2 c
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1),
             |sc AS (SELECT cid,
             |    round(sqrt(list_sum(list_transform(cvec, x -> x*x))), 4) centroid_norm,
             |    round(list_sum(cvec)/len(cvec), 6) centroid_mean FROM c2)
             |SELECT f.cid, CAST(count(*) AS BIGINT) n_members,
             |  round(avg(f.sim), 4) avg_sim, sc.centroid_norm, sc.centroid_mean
             |FROM af f JOIN sc USING (cid)
             |GROUP BY f.cid, sc.centroid_norm, sc.centroid_mean
             |ORDER BY f.cid""".stripMargin)),

    // Semantic dedup (x56, SemDeDup — Abbas et al. 2023): k-means clusters
    // as the blocking structure, then keep-lowest-id within each cluster
    // for pairs with cosine >= tau. One trained M-step (iters=1) keeps the
    // unrolled oracle readable while still exercising fit -> dedup
    // composition; tau=0.45 sits on the 4 dp-rounded sims both engines
    // agree on exactly. Output is one row per vector with its verdict and
    // the shadowing doc — the auditable form (a bare keep-list hides WHY a
    // doc was dropped).
    QuerySpec("x56_semantic_dedup", (s, d) => {
      val emb = t(s, d, "embeddings")
      val init = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val cents = ClusterOps.kmeansFit(emb, "vec_id", "embedding",
        init, "cid", "cvec", iters = 1)
      ClusterOps.semanticDedup(emb, "vec_id", "embedding",
        cents, "cid", "cvec", tau = 0.45)
        .orderBy("vec_id")
    },
      Some("""WITH c0 AS (SELECT CAST(vec_id AS BIGINT) cid,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cvec
             |  FROM embeddings WHERE vec_id < 8),
             |a0 AS (SELECT e.vec_id, e.embedding, c.cid
             |  FROM embeddings e CROSS JOIN c0 c
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1),
             |m0 AS (SELECT cid, generate_subscripts(embedding, 1) pos,
             |    CAST(unnest(embedding) AS DOUBLE) val FROM a0),
             |c1 AS (SELECT cid, list(round(m, 6) ORDER BY pos) cvec
             |  FROM (SELECT cid, pos, avg(val) m FROM m0 GROUP BY cid, pos)
             |  GROUP BY cid),
             |af AS (SELECT e.vec_id, e.embedding, c.cid centroid
             |  FROM embeddings e CROSS JOIN c1 c
             |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(e.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1),
             |shadows AS (SELECT b.vec_id sid, min(a.vec_id) dup_of
             |  FROM af a JOIN af b ON a.centroid = b.centroid
             |    AND a.vec_id < b.vec_id
             |  WHERE round(CAST(list_cosine_similarity(
             |      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |      list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
             |    AS DOUBLE), 4) >= 0.45
             |  GROUP BY b.vec_id)
             |SELECT f.vec_id, f.centroid, s.dup_of IS NULL kept, s.dup_of
             |FROM af f LEFT JOIN shadows s ON f.vec_id = s.sid
             |ORDER BY f.vec_id""".stripMargin)),

    // Bloom-filter join pruning (x65): the big side (orders) is filtered
    // by a bit-test expression over an 8192-bit bitmap built from the
    // selective side (nation-3 customers) BEFORE any shuffle — the
    // self-built, gradeable twin of Spark's runtime bloom filter. The
    // oracle rebuilds every md5 bit position, so n_bloom_pass grades the
    // bitmap math itself (false positives included), while n_matched /
    // sum_cents grade the exact join the filter feeds — proving no false
    // negatives. All-integer output.
    QuerySpec("x65_bloom_join_prune", (s, d) => {
      val orders = t(s, d, "orders")
      val cust = t(s, d, "customer").filter(col("c_nationkey") === 3)
      val mBits = 8192; val kH = 3
      val words = graft.operators.ScaleOps.bloomBitmapBuild(
        cust, col("c_custkey"), mBits, kH)
      val pass = orders.filter(graft.operators.ScaleOps.bloomProbe(
        col("o_custkey"), words, mBits, kH))
        .localCheckpoint(true)
      val matched = pass.join(cust.select(col("c_custkey")),
        pass("o_custkey") === col("c_custkey"))
      matched.agg(
        count(lit(1)).as("n_matched"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .crossJoin(orders.agg(count(lit(1)).as("n_probe")))
        .crossJoin(pass.agg(count(lit(1)).as("n_bloom_pass")))
        .select("n_probe", "n_bloom_pass", "n_matched", "sum_cents")
    },
      Some("""WITH bk AS (SELECT DISTINCT c_custkey k FROM customer
             |  WHERE c_nationkey = 3),
             |js AS (SELECT unnest(range(0, 3)) j),
             |bits AS (SELECT DISTINCT list_reduce(list_transform(range(1, 9),
             |    i -> CAST(strpos('0123456789abcdef', substr(md5('bloom' ||
             |      CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)),
             |      CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) % 8192 bt
             |  FROM bk, js),
             |op AS (SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
             |    list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef', substr(md5('bloom' ||
             |        CAST(js.j AS VARCHAR) || ':' || CAST(o.o_custkey AS VARCHAR)),
             |        CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) % 8192 p
             |  FROM orders o, js),
             |pass AS (SELECT o_orderkey, any_value(o_custkey) o_custkey,
             |    any_value(o_totalprice) o_totalprice
             |  FROM op LEFT JOIN bits b ON op.p = b.bt
             |  GROUP BY o_orderkey HAVING count(b.bt) = 3),
             |m AS (SELECT p.* FROM pass p JOIN bk ON p.o_custkey = bk.k)
             |SELECT (SELECT count(*) FROM orders) n_probe,
             |  (SELECT count(*) FROM pass) n_bloom_pass,
             |  count(*) n_matched,
             |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) sum_cents
             |FROM m""".stripMargin)),

    // Join-size estimation from count sketches (x67): the self-join size
    // of orders on o_custkey — a genuinely many-to-many shape — estimated
    // from two depth×width count tables WITHOUT executing the join (the
    // statistic a planner needs for broadcast/skew/shuffle decisions),
    // beside the exact answer Σ n_k². md5 bucket positions make the
    // estimate itself oracle-rebuildable (splitmix64's wrapping multiply
    // is not expressible in DuckDB — the x46 CMS grades by exact-verify
    // for exactly that reason); everything is integer arithmetic, and
    // the estimate upper-bounds the exact size by construction.
    QuerySpec("x67_join_size_estimate", (s, d) => {
      val orders = t(s, d, "orders")
      val est = graft.operators.ScaleOps.cmsJoinSizeEstimate(
        orders, col("o_custkey"), orders, col("o_custkey"),
        depth = 3, width = 65536)
      val exact = orders.groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).as("exact_join_size"))
      exact.crossJoin(est)
    },
      Some("""WITH ks AS (SELECT o_custkey k, count(*) n FROM orders GROUP BY 1),
             |ds AS (SELECT unnest(range(0, 3)) d),
             |pos AS (SELECT d, list_reduce(list_transform(range(1, 9),
             |    i -> CAST(strpos('0123456789abcdef', substr(md5('cms' ||
             |      CAST(d AS VARCHAR) || ':' || CAST(k AS VARCHAR)),
             |      CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) % 65536 j, n
             |  FROM ks, ds),
             |ct AS (SELECT d, j, sum(n) cnt FROM pos GROUP BY d, j),
             |ip AS (SELECT d, sum(cnt*cnt) ip FROM ct GROUP BY d)
             |SELECT (SELECT CAST(sum(n*n) AS BIGINT) FROM ks) exact_join_size,
             |  (SELECT CAST(min(ip) AS BIGINT) FROM ip) cms_join_size""".stripMargin)),

    // Linear probe / quality-classifier training (x64): batch perceptron
    // on labeled embeddings (label 2 vs rest), two epochs, then corpus
    // scoring — the cheap-linear-head primitive of LLM data curation.
    // Weights round to 6 dp per epoch (the kmeans contract) and every
    // margin is a sequential dot over identical doubles, so sign
    // decisions agree bitwise cross-engine; outputs are confusion COUNTS
    // (integers) plus one rounded norm. The oracle unrolls both epochs;
    // epoch 1 from w=0 reduces to the positive-class mean (sign(0) = −1).
    QuerySpec("x64_linear_probe", (s, d) => {
      val emb = t(s, d, "embeddings")
      val y = when(col("label") === 2, lit(1.0)).otherwise(lit(-1.0))
      val (w, errs) = ClusterOps.linearProbeTrain(emb, "embedding", y,
        dims = 64, epochs = 2)
      val margin = ClusterOps.linearMargin(col("embedding"), w)
      val pred = when(margin > 0, lit(1.0)).otherwise(lit(-1.0))
      val wNorm = BigDecimal(math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      emb.agg(
        count(when(y === 1.0, 1)).as("n_pos"),
        count(when(y === -1.0, 1)).as("n_neg"),
        count(when(pred === 1.0 && y === 1.0, 1)).as("tp"),
        count(when(pred === 1.0 && y === -1.0, 1)).as("fp"),
        count(when(pred === -1.0 && y === -1.0, 1)).as("tn"),
        count(when(pred === -1.0 && y === 1.0, 1)).as("fn"))
        .withColumn("err_e1", lit(errs.head))
        .withColumn("err_e2", lit(errs(1)))
        .withColumn("w_norm", lit(wNorm))
    },
      Some("""WITH v AS (SELECT vec_id,
             |    CASE WHEN label = 2 THEN 1.0 ELSE -1.0 END y,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) e
             |  FROM embeddings),
             |p1 AS (SELECT generate_subscripts(e, 1) pos, unnest(e) val
             |  FROM v WHERE y = 1.0),
             |w1 AS (SELECT list(round(g, 6) ORDER BY pos) w FROM (
             |    SELECT pos, avg(val) g FROM p1 GROUP BY pos)),
             |m2 AS (SELECT v.vec_id, v.y, v.e,
             |    list_sum(list_transform(range(1, 65),
             |      i -> v.e[i] * w1.w[i])) mg FROM v, w1),
             |e2 AS (SELECT generate_subscripts(e, 1) pos, y * unnest(e) yv
             |  FROM m2 WHERE (CASE WHEN mg > 0 THEN 1.0 ELSE -1.0 END) <> y),
             |g2 AS (SELECT pos, avg(yv) g FROM e2 GROUP BY pos),
             |w2 AS (SELECT list(round(w1.w[g2.pos] + g2.g, 6)
             |    ORDER BY g2.pos) w FROM g2, w1),
             |m3 AS (SELECT v.y, list_sum(list_transform(range(1, 65),
             |    i -> v.e[i] * w2.w[i])) mg FROM v, w2)
             |SELECT
             |  (SELECT count(*) FROM v WHERE y = 1.0) n_pos,
             |  (SELECT count(*) FROM v WHERE y = -1.0) n_neg,
             |  count(*) FILTER (m3.mg > 0 AND m3.y = 1.0) tp,
             |  count(*) FILTER (m3.mg > 0 AND m3.y = -1.0) fp,
             |  count(*) FILTER (m3.mg <= 0 AND m3.y = -1.0) tn,
             |  count(*) FILTER (m3.mg <= 0 AND m3.y = 1.0) fn,
             |  (SELECT count(*) FROM v WHERE y = 1.0) err_e1,
             |  (SELECT count(*) FROM m2
             |    WHERE (CASE WHEN mg > 0 THEN 1.0 ELSE -1.0 END) <> y) err_e2,
             |  (SELECT round(sqrt(list_sum(list_transform(w, x -> x*x))), 4)
             |    FROM w2) w_norm
             |FROM m3""".stripMargin)),

    // Edit-distance similarity join (x54, Ed-Join): all supplier-name
    // pairs within levenshtein 1, generated via the rarest-first q-gram
    // prefix index — NOT the n² cross join. The blocking is lossless
    // (pigeonhole on q·d+1 prefix grams + short-string fallback block), so
    // the oracle is the brute-force definition: any blocking bug shows up
    // as missing rows. The length-difference pre-filter appears on both
    // sides (it is part of the metric's contract, |len Δ| ≤ d).
    QuerySpec("x54_edit_distance_join", (s, d) => {
      val sup = t(s, d, "supplier")
      DedupOps.editDistancePairs(sup, "s_suppkey", "s_name", maxDist = 1)
        .orderBy("id_a", "id_b")
    },
      Some("""SELECT a.s_suppkey id_a, b.s_suppkey id_b,
             |  CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) dist
             |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
             |  AND abs(length(a.s_name) - length(b.s_name)) <= 1
             |WHERE levenshtein(a.s_name, b.s_name) <= 1
             |ORDER BY id_a, id_b""".stripMargin)),

    // Z-order curve (x57): the multi-dimensional clustering key for
    // data-skipping layouts (zorderWrite range-partitions on it so each
    // file owns a curve segment — the ~sqrt(files) per-file range
    // narrowing is quantified in ScaleNativeSpec). Graded on the curve
    // VALUE math: the oracle rebuilds the 20-bit interleave bit-by-bit
    // with SQL shift/and/or, and the bucket aggregation (count/sum/min/
    // max over zval >> 12) makes every single bit of every row's curve
    // value hash-visible without dumping 60k rows.
    QuerySpec("x57_zorder_curve", (s, d) => {
      val o = t(s, d, "orders")
      val x = col("o_custkey") % 1024
      val y = datediff(col("o_orderdate").cast("date"), lit("1970-01-01")) % 1024
      val z = graft.operators.ScaleOps.zorderValue(Seq(x, y), 10)
      o.select(z.as("zval"))
        .select(shiftright(col("zval"), 12).as("zbucket"), col("zval"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"), sum(col("zval")).as("sum_z"),
          min(col("zval")).as("min_z"), max(col("zval")).as("max_z"))
        .orderBy("zbucket")
    }, {
      val xTerms = (0 until 10).map(b => s"(((xv >> $b) & 1) << ${2 * b + 1})")
        .mkString(" | ")
      val yTerms = (0 until 10).map(b => s"(((yv >> $b) & 1) << ${2 * b})")
        .mkString(" | ")
      Some(s"""WITH base AS (SELECT o_custkey % 1024 xv,
             |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 1024 yv
             |  FROM orders),
             |zv AS (SELECT CAST(($xTerms) | ($yTerms) AS BIGINT) zval FROM base)
             |SELECT CAST(zval >> 12 AS BIGINT) zbucket,
             |  CAST(count(*) AS BIGINT) n_rows, CAST(sum(zval) AS BIGINT) sum_z,
             |  min(zval) min_z, max(zval) max_z
             |FROM zv GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    // Approximate percentiles (x61): single-pass fixed-bin histogram +
    // integer within-bin interpolation — the scale path where exact
    // percentiles (a14) need a full sort per group. Deliberately ALL
    // integer after the scan (bin ids, cumulative counts, `div`
    // interpolation), so the oracle reproduces every intermediate with
    // `//` and there is no float-rounding boundary anywhere. Error is
    // bounded by one bin width; nBins is the knob.
    QuerySpec("x61_approx_percentiles", (s, d) => {
      val li = t(s, d, "lineitem")
      Analytics.approxPercentilesBinned(li, Seq("l_returnflag"),
        floor(col("l_extendedprice") * 100).cast("long"), nBins = 1024,
        Seq(("p50_cents", 0.5), ("p95_cents", 0.95), ("p99_cents", 0.99)))
        .orderBy("l_returnflag")
    },
      Some("""WITH c AS (SELECT l_returnflag g,
             |    CAST(floor(l_extendedprice*100) AS BIGINT) c FROM lineitem),
             |w AS (SELECT min(c) mn, (max(c) - min(c)) // 1024 + 1 wd FROM c),
             |h0 AS (SELECT g, (c - (SELECT mn FROM w)) // (SELECT wd FROM w) bin,
             |    count(*) cnt FROM c GROUP BY 1, 2),
             |h AS (SELECT g, bin, cnt, sum(cnt) OVER (PARTITION BY g
             |    ORDER BY bin ROWS UNBOUNDED PRECEDING) cum FROM h0),
             |n AS (SELECT g, max(cum) n FROM h GROUP BY g),
             |p50 AS (SELECT h.g, (SELECT mn FROM w) + (SELECT wd FROM w)*bin +
             |    ((CAST(ceil(0.50*n.n) AS BIGINT) - (cum - cnt))
             |      * (SELECT wd FROM w)) // (cnt + 1) v
             |  FROM h JOIN n ON h.g = n.g
             |  WHERE cum >= CAST(ceil(0.50*n.n) AS BIGINT)
             |  QUALIFY row_number() OVER (PARTITION BY h.g ORDER BY bin) = 1),
             |p95 AS (SELECT h.g, (SELECT mn FROM w) + (SELECT wd FROM w)*bin +
             |    ((CAST(ceil(0.95*n.n) AS BIGINT) - (cum - cnt))
             |      * (SELECT wd FROM w)) // (cnt + 1) v
             |  FROM h JOIN n ON h.g = n.g
             |  WHERE cum >= CAST(ceil(0.95*n.n) AS BIGINT)
             |  QUALIFY row_number() OVER (PARTITION BY h.g ORDER BY bin) = 1),
             |p99 AS (SELECT h.g, (SELECT mn FROM w) + (SELECT wd FROM w)*bin +
             |    ((CAST(ceil(0.99*n.n) AS BIGINT) - (cum - cnt))
             |      * (SELECT wd FROM w)) // (cnt + 1) v
             |  FROM h JOIN n ON h.g = n.g
             |  WHERE cum >= CAST(ceil(0.99*n.n) AS BIGINT)
             |  QUALIFY row_number() OVER (PARTITION BY h.g ORDER BY bin) = 1)
             |SELECT n.g l_returnflag, CAST(n.n AS BIGINT) n_rows,
             |  CAST(p50.v AS BIGINT) p50_cents, CAST(p95.v AS BIGINT) p95_cents,
             |  CAST(p99.v AS BIGINT) p99_cents
             |FROM n JOIN p50 ON n.g = p50.g JOIN p95 ON n.g = p95.g
             |JOIN p99 ON n.g = p99.g
             |ORDER BY 1""".stripMargin)),

    // HLL distinct sketch (x60): the cross-engine-checkable twin of
    // approx_count_distinct — registers derived from md5 so the oracle
    // rebuilds the whole sketch (index digits, leading-zero rho, register
    // max, harmonic sum). The estimate is BIT-deterministic: sum of
    // 2^(-M_j) is exact binary fractions within a 53-bit span, so
    // summation order cannot change it, and no ln()-based small-range
    // correction is used (libm rounding is the one op not pinned across
    // engines). Graded against the exact distinct count in the same row —
    // rel_err makes the accuracy visible in the artifact.
    QuerySpec("x60_hll_distinct", (s, d) => {
      val li = t(s, d, "lineitem")
      val est = Analytics.hllDistinct(li, Seq("l_returnflag"), "l_orderkey")
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("n_exact"))
      exact.join(est, "l_returnflag")
        .withColumn("rel_err",
          round(abs(col("hll_distinct") - col("n_exact")) / col("n_exact"), 4))
        .orderBy("l_returnflag")
    },
      Some("""WITH h AS (SELECT l_returnflag g,
             |    md5(CAST(l_orderkey AS VARCHAR)) hx FROM lineitem),
             |b AS (SELECT g,
             |    list_reduce(list_transform(range(1, 4),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(hx, CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) % 512 idx,
             |    substr(hx, 4, 16) rest FROM h),
             |r AS (SELECT g, idx, length(regexp_extract(rest, '^0*')) z,
             |    substr(rest, length(regexp_extract(rest, '^0*')) + 1, 1) c1
             |  FROM b),
             |rr AS (SELECT g, idx, CASE WHEN z = 16 THEN 65 ELSE z*4 +
             |    (CASE WHEN c1 = '1' THEN 3 WHEN c1 IN ('2','3') THEN 2
             |          WHEN c1 IN ('4','5','6','7') THEN 1 ELSE 0 END) + 1
             |  END rho FROM r),
             |reg AS (SELECT g, idx, max(rho) M FROM rr GROUP BY g, idx),
             |est AS (SELECT g, sum(pow(2.0, -M)) + (512 - count(*)) S
             |  FROM reg GROUP BY g),
             |ex AS (SELECT l_returnflag g, count(DISTINCT l_orderkey) n_exact
             |  FROM lineitem GROUP BY 1)
             |SELECT ex.g l_returnflag, ex.n_exact,
             |  round(0.7213/(1.0 + 1.079/512)*512*512/S, 2) hll_distinct,
             |  round(abs(round(0.7213/(1.0 + 1.079/512)*512*512/S, 2)
             |    - n_exact)/n_exact, 4) rel_err
             |FROM ex JOIN est ON ex.g = est.g ORDER BY 1""".stripMargin)),

    QuerySpec("x8_text_stats", (s, d) => {
      val docs = t(s, d, "documents")
      val toks = TextOps.tokens(col("text"))
      docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        TextOps.subwordCount(col("text"), 4).cast("long").as("n_subwords"))
        .orderBy("doc_id")
    },
      Some("""WITH t AS (SELECT doc_id, text,
             |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |    ELSE regexp_split_to_array(trim(text), '\s+') END tok FROM documents)
             |SELECT doc_id, CAST(len(tok) AS BIGINT) n_tokens,
             |  CAST(length(text) AS BIGINT) n_chars_calc,
             |  CAST(len(list_distinct(tok)) AS BIGINT) n_types,
             |  CAST(coalesce(list_sum(list_transform(tok,
             |    x -> CAST(ceil(length(x)/4.0) AS BIGINT))), 0) AS BIGINT) n_subwords
             |FROM t ORDER BY doc_id""".stripMargin)),

    QuerySpec("x9_quality_score",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextOps.qualityScore(col("text"), stopwords).as("quality"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END tok
             |  FROM documents),
             |m AS (SELECT doc_id, text, CAST(len(tok) AS DOUBLE) n,
             |    CAST(len(list_filter(tok, x -> list_contains(
             |      ['the','a','value','data','row','table'], x))) AS DOUBLE) nstop,
             |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) npunct
             |  FROM t)
             |SELECT doc_id, round(
             |  0.5 * least(n/100.0, 1.0) +
             |  0.3 * (CASE WHEN n > 0 THEN least((nstop/n)*5.0, 1.0) ELSE 0.0 END) +
             |  0.2 * (1.0 - (CASE WHEN length(text) > 0
             |    THEN least((npunct/length(text))*10.0, 1.0) ELSE 0.0 END)), 6) quality
             |FROM m ORDER BY doc_id""".stripMargin)),

    QuerySpec("x10_lang_id",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextOps.langId(col("text"), langProfiles).as("predicted"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END tok
             |  FROM documents),
             |sc AS (SELECT doc_id, [
             |  {'hits': len(list_filter(tok, x -> list_contains(['table','row','scan'], x))),
             |   'lang': 'alpha'},
             |  {'hits': len(list_filter(tok, x -> list_contains(['join','merge','hash'], x))),
             |   'lang': 'beta'},
             |  {'hits': len(list_filter(tok, x -> list_contains(['window','batch','stream'], x))),
             |   'lang': 'gamma'}] arr FROM t)
             |SELECT doc_id, (list_sort(arr))[-1].lang predicted FROM sc
             |ORDER BY doc_id""".stripMargin)),

    // Char-n-gram language ID (x10b): the Cavnar-Trenkle-shaped variant —
    // score = |distinct char trigrams of the normalized text ∩ profile|,
    // argmax with the same greatest-(hits, lang) struct tie policy as x10.
    // The oracle rebuilds the trigram decomposition positionally
    // (range + substr over the same normalization) — independent of the
    // engine's shifted zip_with composition.
    QuerySpec("x10b_lang_id_ngram",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextOps.langIdNgram(col("text"), langNgramProfiles).as("predicted"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) norm
             |  FROM documents),
             |g AS (SELECT doc_id, CASE WHEN length(norm) >= 3 THEN
             |    list_distinct(list_transform(range(1, length(norm)-1),
             |      i -> substr(norm, CAST(i AS INT), 3)))
             |    ELSE CAST([] AS VARCHAR[]) END grams FROM t),
             |sc AS (SELECT doc_id, [
             |  {'hits': len(list_filter(grams, x -> list_contains(
             |     ['tab','abl','ble','row','sca','can'], x))), 'lang': 'alpha'},
             |  {'hits': len(list_filter(grams, x -> list_contains(
             |     ['joi','oin','mer','erg','rge','has','ash'], x))), 'lang': 'beta'},
             |  {'hits': len(list_filter(grams, x -> list_contains(
             |     ['win','ind','dow','bat','atc','tch','eam'], x))), 'lang': 'gamma'}
             |  ] arr FROM g)
             |SELECT doc_id, (list_sort(arr))[-1].lang predicted FROM sc
             |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x11_fingerprint",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5"),
        TextOps.rollingHash(col("text")).as("fp_roll"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) fp_md5,
             |  CASE WHEN length(text) = 0 THEN 0 ELSE
             |    list_reduce(list_transform(range(1, length(text)+1),
             |      i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
             |      (a, b) -> (a*31 + b) % 1000000007) END fp_roll
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("x12_multimodal_features", (s, d) => {
      // pin the query input to printable ASCII so byte offsets == char
      // offsets on both sides (the engine operates on UTF-8 BYTES — the
      // true multimodal semantics — while DuckDB's md5/substr are
      // character-based; on ASCII they coincide)
      val ascii = t(s, d, "documents").withColumn("text",
        regexp_replace(col("text"), "[^\\x20-\\x7E]", ""))
      val m = Multimodal.asMedia(ascii, "text", "text/plain")
      Multimodal.blobFeatures(m, "media_bytes", stride = 50, maxFrames = 8)
        .select(col("doc_id"), col("n_bytes"), col("content_md5"), col("head_md5"),
          array_join(col("frame_sample"), "|").as("frames"),
          col("media_meta.width").as("meta_w"))
        .orderBy("doc_id")
    },
      Some("""WITH t AS (SELECT doc_id,
             |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS txt,
             |    octet_length(encode(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))) nb
             |  FROM documents)
             |SELECT doc_id, CAST(nb AS BIGINT) n_bytes, md5(txt) content_md5,
             |  md5(left(txt, 64)) head_md5,
             |  array_to_string(list_transform(range(0, least(8, (nb-1)//50 + 1)),
             |    i -> upper(lpad(to_hex(unicode(substr(txt, CAST(i*50+1 AS INT), 1))), 2, '0'))),
             |    '|') frames,
             |  CAST(nb % 320 + 64 AS INT) meta_w
             |FROM t ORDER BY doc_id""".stripMargin)),

    // Real-codec multimodal decode (x12b): synthPpm builds a
    // spec-conformant binary PPM (P6) per doc_id — header + raw RGB, a
    // pure formula of the id — and decodePpm PARSES it back (magic,
    // comment-tolerant header, single-whitespace terminator, byte-strided
    // channel sums). The oracle recomputes dimensions and channel means
    // from the generating formula alone, so any header mis-parse or
    // channel mis-stride in the decoder hash-mismatches.
    QuerySpec("x12b_ppm_decode", (s, d) => {
      val ids = t(s, d, "documents").select("doc_id")
      Multimodal.decodePpm(Multimodal.synthPpm(ids, "doc_id"))
        .select(col("doc_id"), col("ppm_width"), col("ppm_height"),
          round(col("r_mean"), 6).as("r_mean"),
          round(col("g_mean"), 6).as("g_mean"),
          round(col("b_mean"), 6).as("b_mean"))
        .orderBy("doc_id")
    },
      Some(ppmDecodeOracleSql)),

    // Perceptual-hash near-dup over DECODED image bytes (x52, r6 VERDICT
    // item 5): a synthetic image corpus — every doc a P6 + a "tiny"
    // re-encode-style variant per 5th id (+2e6) and a "heavy" content
    // change per 5th+2 id (+3e6) — is hashed from its ACTUAL perturbed
    // binary (Multimodal.decodePpmPhash) and paired by hamming ≤ 3 via
    // the pigeonhole chunk blocking (DedupOps.hammingPairs — x4's shape,
    // so no O(n²) stage). The oracle rebuilds every variant's 63-bit hash
    // digit-by-digit from the pure integer pixel formula and pairs
    // exhaustively — blocking is lossless, so the pair sets must be
    // identical. Tiny variants hash equal (hamming 0, caught); heavy
    // variants land at hamming ≥ 6 (rejected); natural near-collisions of
    // the structured formula fill in the 1–3 band in both engines.
    QuerySpec("x52_phash_neardup", (s, d) => {
      val ids = t(s, d, "documents").select("doc_id")
      val base = ids.select(col("doc_id"), col("doc_id").as("img_id"),
        lit("base").as("variant"))
      val tiny = ids.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), (col("doc_id") + 2000000L).as("img_id"),
          lit("tiny").as("variant"))
      val heavy = ids.filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), (col("doc_id") + 3000000L).as("img_id"),
          lit("heavy").as("variant"))
      val imgs = Multimodal.synthPpmVariant(
        base.unionByName(tiny).unionByName(heavy), "doc_id", "variant")
      val hashed = Multimodal.decodePpmPhash(imgs, "media_bytes")
        .select("img_id", "phash")
      DedupOps.hammingPairs(hashed, "img_id", "phash",
        nBits = 63, maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      Some {
        // byte(k0 + off) of image (doc_id, pert): the synthPpmVariant
        // formula verbatim — base (id*7 + k*13) % 256; tiny bumps the
        // last pixel's bytes (+1), heavy every 7th byte (+128)
        def byteExpr(off: Int): String =
          s"""(CASE
             |  WHEN pert = 1 AND k0 + $off >= w*h*3 - 3
             |    THEN ((doc_id*7 + (k0+$off)*13) % 256 + 1) % 256
             |  WHEN pert = 2 AND (k0 + $off) % 7 = 0
             |    THEN ((doc_id*7 + (k0+$off)*13) % 256 + 128) % 256
             |  ELSE (doc_id*7 + (k0+$off)*13) % 256 END)""".stripMargin
        s"""WITH ids AS (
           |  SELECT doc_id, doc_id img_id, 0 pert FROM documents
           |  UNION ALL SELECT doc_id, doc_id + 2000000, 1 FROM documents
           |    WHERE doc_id % 5 = 0
           |  UNION ALL SELECT doc_id, doc_id + 3000000, 2 FROM documents
           |    WHERE doc_id % 5 = 2),
           |dims AS (SELECT doc_id, img_id, pert,
           |    8 + doc_id % 9 w, 8 + doc_id % 7 h FROM ids),
           |g AS (SELECT doc_id, img_id, pert, w, h, t.b b,
           |    ((((t.b // 8) * h) // 8) * w + ((t.b % 8) * w) // 8) * 3 k0
           |  FROM dims, range(0, 63) t(b)),
           |s AS (SELECT img_id, b,
           |    ${byteExpr(0)} + ${byteExpr(1)} + ${byteExpr(2)} sb FROM g),
           |tot AS (SELECT img_id, sum(sb) total FROM s GROUP BY 1),
           |bits AS (SELECT s.img_id, b,
           |    CASE WHEN 63*sb > total THEN 1 ELSE 0 END bt
           |  FROM s JOIN tot USING (img_id)),
           |ph AS (SELECT img_id,
           |    sum(bt * (CAST(1 AS BIGINT) << b)) phash FROM bits GROUP BY 1)
           |SELECT a.img_id id_a, b.img_id id_b,
           |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) hamming
           |FROM ph a JOIN ph b ON a.img_id < b.img_id
           |WHERE bit_count(xor(a.phash, b.phash)) <= 3
           |ORDER BY 1, 2""".stripMargin
      }),

    QuerySpec("x14_embed_norm_quant", (s, d) => {
      // embedding preprocessing: L2 norm, int8 quantization (scale by
      // max-abs), reconstruction error — per-vector scalars only, so the
      // hash compare stays float-safe
      val e = t(s, d, "embeddings")
      val v = col("embedding")
      val dotSelf = aggregate(transform(v, x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, x) => a + x)
      val maxAbs = array_max(transform(v, x => abs(x.cast("double"))))
      val scale = maxAbs / lit(127.0)
      val err = aggregate(
        transform(v, x => abs(x.cast("double") -
          round(x.cast("double") / scale, 0) * scale)),
        lit(0.0), (a, x) => a + x) / size(v)
      e.select(col("vec_id"),
        round(sqrt(dotSelf), 4).as("l2_norm"),
        size(v).cast("long").as("n_dims"),
        round(maxAbs, 4).as("max_abs"),
        round(err, 6).as("quant_err"))
        .orderBy("vec_id")
    },
      Some("""SELECT vec_id,
             |  round(sqrt(list_sum(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 4) l2_norm,
             |  CAST(len(embedding) AS BIGINT) n_dims,
             |  round(list_max(list_transform(embedding,
             |    x -> abs(CAST(x AS DOUBLE)))), 4) max_abs,
             |  round(list_sum(list_transform(embedding,
             |    x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) /
             |      (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))/127.0), 0)
             |      * (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))/127.0))))
             |    / len(embedding), 6) quant_err
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    QuerySpec("x15_vocabulary", (s, d) => {
      // corpus vocabulary: term frequency + document frequency — the
      // inverted-index groupBy that backs tokenizer/vocab training
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("tok"))
      toks.groupBy("tok")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
        .orderBy(col("tf").desc, col("tok"))
    },
      Some("""SELECT tok, count(*) tf, count(DISTINCT doc_id) df
             |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) tok
             |      FROM documents WHERE length(trim(text)) > 0)
             |GROUP BY tok ORDER BY tf DESC, tok""".stripMargin)),

    QuerySpec("x16_corpus_stats", (s, d) => {
      // exact percentile path — DuckDB-reproducible; the approx_percentile
      // cluster-scale path of the same operator is bound-checked in
      // ScaleNativeSpec (sketch output isn't bit-stable across layouts)
      val stats = t(s, d, "documents")
        .select(TextOps.tokenCount(col("text")).cast("double").as("n_tok"))
      graft.operators.ScaleOps.corpusStats(stats, "n_tok", "tokens", exact = true)
    },
      Some("""SELECT count(*) n_docs,
             |  round(avg(n_tok), 4) mean_tokens,
             |  round(quantile_cont(n_tok, 0.5), 4) p50_tokens,
             |  round(quantile_cont(n_tok, 0.95), 4) p95_tokens,
             |  round(min(n_tok), 4) min_tokens,
             |  round(max(n_tok), 4) max_tokens
             |FROM (SELECT CAST(CASE WHEN length(trim(text))=0 THEN 0
             |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) n_tok
             |  FROM documents)""".stripMargin)),

    QuerySpec("x17_training_selection", (s, d) => {
      // capstone composition: quality filter → exact dedup → drop
      // non-canonical near-dups — the "select the training set" pipeline
      // r19: fan-out reverted — interleaved A/B lost 0.77× (plans/r19/
      // fanout_ab_run1.log)
      val docs = t(s, d, "documents")
      val quality = docs.withColumn("q", TextOps.qualityScore(col("text"), stopwords))
        .filter(col("q") >= 0.7)
      val deduped = DedupOps.exactDedup(quality, "doc_id", "text")
      val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
        blockCol = "lang", shingleWords = 3, threshold = 0.5)
      val dropIds = DedupOps.connectedComponents(pairs, "id_a", "id_b")
        .filter(!col("is_canonical")).select(col("id").as("doc_id"))
      deduped.join(dropIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("q"))
        .orderBy("doc_id")
    },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, text,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END tok
             |  FROM documents),
             |m AS (SELECT doc_id, text, CAST(len(tok) AS DOUBLE) n,
             |    CAST(len(list_filter(tok, x -> list_contains(
             |      ['the','a','value','data','row','table'], x))) AS DOUBLE) nstop,
             |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) npunct
             |  FROM t),
             |q AS (SELECT doc_id, text, round(
             |    0.5 * least(n/100.0, 1.0) +
             |    0.3 * (CASE WHEN n > 0 THEN least((nstop/n)*5.0, 1.0) ELSE 0.0 END) +
             |    0.2 * (1.0 - (CASE WHEN length(text) > 0
             |      THEN least((npunct/length(text))*10.0, 1.0) ELSE 0.0 END)), 6) q
             |  FROM m),
             |qf AS (SELECT * FROM q WHERE q >= 0.7),
             |dd AS (SELECT doc_id, q FROM qf
             |  QUALIFY row_number() OVER (PARTITION BY
             |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             |    ORDER BY doc_id) = 1),
             |toks2 AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-2, 0)),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) s FROM toks2),
             |inv AS (SELECT doc_id, lang, unnest(s) tok FROM sh WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM inv a JOIN inv b ON a.tok = b.tok AND a.lang = b.lang
             |    AND a.doc_id < b.doc_id GROUP BY 1,2),
             |pairs AS (SELECT id_a, id_b
             |  FROM inter JOIN sizes sa ON id_a = sa.doc_id
             |  JOIN sizes sb ON id_b = sb.doc_id
             |  WHERE round(i*1.0/(sa.n + sb.n - i), 4) >= 0.5),
             |edges AS (SELECT id_a a, id_b b FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs),
             |reach(src, dst) AS (SELECT a, b FROM edges
             |  UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
             |noncanon AS (SELECT src doc_id FROM reach GROUP BY src
             |  HAVING least(src, min(dst)) <> src)
             |SELECT doc_id, q FROM dd
             |WHERE doc_id NOT IN (SELECT doc_id FROM noncanon)
             |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x18_topk_per_group", (s, d) => {
      // grouped top-k via the typed Aggregator (bounded buffer — no full
      // per-group sort): 3 nearest neighbors of the query vector per label
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val scored = emb.filter(col("vec_id") =!= 0)
        .select(col("label"),
          col("vec_id").as("id"),
          round(graft.functions.CosineSimilarity(col("embedding"),
            lit(q.toArray)), 4).as("score"))
      val agg = new graft.functions.TopKByScore(3).toColumn
      scored.as[(Int, Long, Double)]
        .map { case (label, id, score) =>
          (label, graft.functions.ScoredId(id, score)) }
        .groupByKey(_._1).mapValues(_._2)
        .agg(agg.name("topk"))
        .flatMap { case (label, top) =>
          top.zipWithIndex.map { case (sc, i) =>
            (label, i + 1, sc.id, sc.score) } }
        .toDF("label", "rnk", "vec_id", "score")
        .withColumn("rnk", col("rnk").cast("int"))
        .orderBy("label", "rnk")
    },
      Some("""WITH q AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0),
             |s AS (SELECT label, vec_id,
             |    round(CAST(list_cosine_similarity(embedding, (SELECT qe FROM q)) AS DOUBLE), 4) score
             |  FROM embeddings WHERE vec_id <> 0)
             |SELECT label, CAST(row_number() OVER (PARTITION BY label
             |    ORDER BY score DESC, vec_id) AS INT) rnk, vec_id, score
             |FROM s
             |QUALIFY rnk <= 3
             |ORDER BY label, rnk""".stripMargin)),

    // Per-source quota: cap each source's contribution at the k
    // highest-quality docs — the "domain balancing" step of corpus
    // curation. Window row_number is the oracle-exact form; at 100 TB the
    // same semantics run on the bounded-buffer TopKByScore aggregator
    // (x18) without sorting whole partitions.
    QuerySpec("x19_source_quota", (s, d) => {
      val scored = t(s, d, "documents")
        .withColumn("q", TextOps.qualityScore(col("text"), stopwords))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("q").desc, col("doc_id"))
      scored.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 10)
        .select(col("source"), col("rnk"), col("doc_id"), col("q"))
        .orderBy("source", "rnk")
    },
      Some("""WITH t AS (SELECT doc_id, source, text,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END tok
             |  FROM documents),
             |m AS (SELECT doc_id, source, text, CAST(len(tok) AS DOUBLE) n,
             |    CAST(len(list_filter(tok, x -> list_contains(
             |      ['the','a','value','data','row','table'], x))) AS DOUBLE) nstop,
             |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) npunct
             |  FROM t),
             |q AS (SELECT doc_id, source, round(
             |    0.5 * least(n/100.0, 1.0) +
             |    0.3 * (CASE WHEN n > 0 THEN least((nstop/n)*5.0, 1.0) ELSE 0.0 END) +
             |    0.2 * (1.0 - (CASE WHEN length(text) > 0
             |      THEN least((npunct/length(text))*10.0, 1.0) ELSE 0.0 END)), 6) q
             |  FROM m)
             |SELECT source, CAST(row_number() OVER (PARTITION BY source
             |    ORDER BY q DESC, doc_id) AS INT) rnk, doc_id, q
             |FROM q
             |QUALIFY rnk <= 10
             |ORDER BY source, rnk""".stripMargin)),

    // Token-budget packing: take docs in quality order until a global
    // token budget is spent — the "fill the training mix" step. Runs the
    // SCALE plan (ScaleOps.tokenBudgetPack: range partitioning +
    // driver-side prefix sum over partition totals — metadata, not data —
    // + per-partition parallel windows) rather than a single-partition
    // global window; the two forms are output-identical for any boundary
    // placement, asserted in ScaleNativeSpec, so the oracle checks the
    // scale plan directly.
    QuerySpec("x20_token_budget", (s, d) => {
      val scored = t(s, d, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.qualityScore(col("text"), stopwords).as("q"))
      graft.operators.ScaleOps.tokenBudgetPack(scored, "n_tok", "q",
        "doc_id", budget = 5000L)
        .select(col("doc_id"), col("n_tok"), col("q"), col("cum_tok"))
        .orderBy("doc_id")
    },
      Some("""WITH t AS (SELECT doc_id, text,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END tok
             |  FROM documents),
             |m AS (SELECT doc_id, text, CAST(len(tok) AS DOUBLE) n,
             |    CAST(len(tok) AS BIGINT) n_tok,
             |    CAST(len(list_filter(tok, x -> list_contains(
             |      ['the','a','value','data','row','table'], x))) AS DOUBLE) nstop,
             |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) npunct
             |  FROM t),
             |q AS (SELECT doc_id, n_tok, round(
             |    0.5 * least(n/100.0, 1.0) +
             |    0.3 * (CASE WHEN n > 0 THEN least((nstop/n)*5.0, 1.0) ELSE 0.0 END) +
             |    0.2 * (1.0 - (CASE WHEN length(text) > 0
             |      THEN least((npunct/length(text))*10.0, 1.0) ELSE 0.0 END)), 6) q
             |  FROM m),
             |c AS (SELECT doc_id, n_tok, q, CAST(sum(n_tok) OVER (
             |    ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) cum_tok
             |  FROM q)
             |SELECT doc_id, n_tok, q, cum_tok FROM c
             |WHERE cum_tok <= 5000 ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination (x21): docs sharing any 4-word shingle
    // with the held-out "benchmark" slice (doc_id % 97 = 0). The distinct
    // benchmark-shingle side broadcasts — the corpus is never shuffled on
    // text; the oracle rebuilds both shingle sets with the x3 machinery
    // and joins on the raw strings.
    QuerySpec("x21_decontamination", (s, d) => {
      val docs = t(s, d, "documents")
      TextOps.contaminationHits(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleWords = 4)
        .orderBy("doc_id")
    },
      Some(decontamOracleSql)),

    // Intra-document repetition (x22): Gopher-style duplicate-2-gram
    // fraction and top-2-gram share per document — the boilerplate/looping
    // filter signals. Explode + two hash aggregations, no per-row
    // quadratic lambda.
    QuerySpec("x22_repetition_stats", (s, d) =>
      TextOps.repetitionSignals(t(s, d, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |g AS (SELECT doc_id, unnest(list_transform(
             |    range(0, greatest(len(tk)-1, 0)),
             |    i -> array_to_string(tk[i+1:i+2], ' '))) gr FROM toks),
             |c AS (SELECT doc_id, gr, count(*) c FROM g GROUP BY 1, 2),
             |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) total,
             |    count(*) dst, max(c) top FROM c GROUP BY doc_id)
             |SELECT doc_id, total AS n_2grams,
             |  round(1.0 - CAST(dst AS DOUBLE)/total, 4) dup_frac_2,
             |  round(CAST(top AS DOUBLE)/total, 4) top_frac_2
             |FROM a ORDER BY doc_id""".stripMargin)),

    // PII redaction audit (x23): deterministic synthetic PII (an email for
    // doc_id % 5 = 0, a phone for doc_id % 7 = 0) appended to the text,
    // then redacted with typed tags and counted. Pure per-row regex —
    // map-side at scan speed; the oracle re-runs the same RE2-safe
    // patterns in DuckDB over the same enriched text.
    QuerySpec("x23_pii_redaction", (s, d) => {
      val docs = t(s, d, "documents")
      val withEmail = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com now"))).otherwise(col("text"))
      val enriched = when(col("doc_id") % 7 === 0,
        concat(withEmail, lit(" call +1-555-"),
          lpad(col("doc_id") % 10000, 4, "0"))).otherwise(withEmail)
      val (ne, np) = TextOps.piiCounts(enriched)
      docs.select(col("doc_id"),
        ne.cast("long").as("n_emails"), np.cast("long").as("n_phones"),
        TextOps.redactPii(enriched).as("redacted"))
        .orderBy("doc_id")
    },
      Some("""WITH e AS (SELECT doc_id,
             |  CASE WHEN doc_id % 5 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
             |    ELSE text END t1 FROM documents),
             |f AS (SELECT doc_id,
             |  CASE WHEN doc_id % 7 = 0 THEN t1 || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |    ELSE t1 END t2 FROM e)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) n_emails,
             |  CAST(len(regexp_extract_all(t2, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) n_phones,
             |  regexp_replace(regexp_replace(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') redacted
             |FROM f ORDER BY doc_id""".stripMargin)),

    // Balanced hash sampling for data mixing (x24): downsample every lang
    // to the size of the smallest (en 218 → ~64 at sf0.01) with a
    // DETERMINISTIC md5-derived uniform — reproducible across runs,
    // engines, and retries, no RNG seed plumbing. The oracle refolds the
    // same md5 hex base-16 (the x4 idiom) so even the per-row keep/drop
    // decision is hash-checked. Census + rates are a tiny broadcast; the
    // corpus scan stays map-side.
    QuerySpec("x24_balanced_sample", (s, d) =>
      graft.operators.ScaleOps.balancedSample(
        t(s, d, "documents").select("doc_id", "lang"),
        "lang", "doc_id", salt = "mix1:")
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""WITH c AS (SELECT lang, count(*) n FROM documents GROUP BY lang),
             |m AS (SELECT min(n) mn FROM c),
             |r AS (SELECT lang, CAST(mn AS DOUBLE)/n rate FROM c, m),
             |u AS (SELECT doc_id, lang,
             |  list_reduce(list_transform(range(1, 9),
             |    i -> CAST(strpos('0123456789abcdef',
             |      substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) / 4294967296.0 uval
             |  FROM documents)
             |SELECT u.doc_id, u.lang FROM u JOIN r USING (lang)
             |WHERE u.uval < r.rate ORDER BY doc_id""".stripMargin)),

    // Per-doc TF-IDF top terms (x26): rational smoothed form
    // tf·(N+1)/(df+1) — same ranking as the log form but transcendental-
    // free, so the oracle's doubles agree bit-for-bit. The tf aggregate is
    // checkpointed once and feeds df, N, and the score join; the per-doc
    // top-3 is a rank window (WindowGroupLimit = map-side partial top-k).
    QuerySpec("x26_tfidf_top_terms", (s, d) =>
      TextOps.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank"),
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) term
             |  FROM documents WHERE length(trim(text)) > 0),
             |tf AS (SELECT doc_id, term, count(*) tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) df FROM tf GROUP BY 1),
             |n AS (SELECT count(DISTINCT doc_id) nd FROM tf),
             |sc AS (SELECT t.doc_id, t.term,
             |    t.tf * (nd + 1.0) / (d.df + 1.0) s,
             |    row_number() OVER (PARTITION BY t.doc_id
             |      ORDER BY t.tf * (nd + 1.0) / (d.df + 1.0) DESC, t.term) rk
             |  FROM tf t JOIN dfreq d USING (term), n)
             |SELECT doc_id, term, CAST(rk AS INT) rank, round(s, 4) score
             |FROM sc WHERE rk <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Hourly resample + gap fill (x25): every user's span expanded to a
    // dense hourly grid with zero-filled empty buckets (sequence+explode
    // from each key's span row — no driver calendar, no cross join). The
    // oracle regenerates the grid with generate_series. Restricted to
    // user_id % 10 = 0 to keep the dumped grid bounded at sf0.1.
    QuerySpec("x25_resample_gapfill", (s, d) =>
      graft.operators.Resample.gapFillHourly(
        t(s, d, "events").filter(col("user_id") % 10 === 0),
        "user_id", "ts", "value")
        .withColumn("sum_value", round(col("sum_value"), 3))
        .orderBy("user_id", "hour"),
      Some("""WITH b AS (SELECT user_id, date_trunc('hour', ts) h,
             |    count(*) n_events, sum(value) sum_value
             |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
             |s AS (SELECT user_id, min(h) mn, max(h) mx FROM b GROUP BY 1),
             |g AS (SELECT user_id, unnest(generate_series(mn, mx,
             |    INTERVAL 1 HOUR)) h FROM s)
             |SELECT g.user_id, g.h AS hour,
             |  coalesce(b.n_events, 0) n_events,
             |  round(coalesce(b.sum_value, 0.0), 3) sum_value
             |FROM g LEFT JOIN b USING (user_id, h)
             |ORDER BY 1, 2""".stripMargin)),

    // As-of join (J5): each purchase aligned with the user's latest view
    // at-or-before it. The oracle is DuckDB's NATIVE ASOF LEFT JOIN — an
    // independent implementation of the semantics, not a rendering of the
    // engine's union+window plan.
    QuerySpec("j5_asof_join", (s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val r = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      graft.operators.AsOfJoin.asofJoin(l, r, Seq("user_id"), "ts", "ts",
        Seq("view_id", "view_value"))
        .orderBy("event_id")
    },
      Some("""SELECT l.event_id, l.user_id, l.ts, l.value,
             |  r.event_id AS asof_view_id, r.value AS asof_view_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
             |  ON l.user_id = r.user_id AND l.ts >= r.ts
             |ORDER BY l.event_id""".stripMargin)),

    // As-of join, forward-exclusive (J5b): each purchase aligned with the
    // user's NEXT view strictly after it — the direction/allowExactMatches
    // surface (pandas merge_asof parity) exercised against DuckDB's native
    // ASOF LEFT JOIN with the inequality flipped to `l.ts < r.ts`.
    QuerySpec("j5b_asof_forward", (s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val r = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      graft.operators.AsOfJoin.asofJoin(l, r, Seq("user_id"), "ts", "ts",
        Seq("view_id", "view_value"),
        direction = "forward", allowExactMatches = false)
        .orderBy("event_id")
    },
      Some("""SELECT l.event_id, l.user_id, l.ts, l.value,
             |  r.event_id AS asof_view_id, r.value AS asof_view_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
             |  ON l.user_id = r.user_id AND l.ts < r.ts
             |ORDER BY l.event_id""".stripMargin)),

    // Range join (J6): how many error events fired within ±5 minutes of
    // each purchase, across all users — a pure non-equi time-proximity
    // join. The engine decomposes it into a bucketized hash join
    // (RangeJoin.withinTolerance); the oracle is the naive non-equi JOIN,
    // independent of the bucket trick.
    QuerySpec("j6_range_join", (s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select("event_id", "ts")
      val r = ev.filter(col("event_type") === "error")
        .select(col("ts"), col("event_id").as("err_id"))
      val pairs = graft.operators.RangeJoin.withinTolerance(
        l, r, "ts", "ts", toleranceMs = 5 * 60000L, Seq("err_id"))
      val counts = pairs.groupBy("event_id")
        .agg(count(col("near_err_id")).as("n_near_errors"))
      l.join(counts, Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_near_errors"), lit(0L)).as("n_near_errors"))
        .orderBy("event_id")
    },
      Some("""SELECT l.event_id, count(r.event_id) n_near_errors
             |FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') l
             |LEFT JOIN (SELECT event_id, ts FROM events WHERE event_type = 'error') r
             |  ON abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 300000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("st1_stream_hourly_agg", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runWindowedAggAvailableNow(s, d, "events.parquet", schema)
        .select(col("window_start"), col("event_type"), col("n"),
          round(col("total_value"), 3).as("total_value"))
        .orderBy("window_start", "event_type")
    },
      Some("""SELECT date_trunc('hour', ts) window_start, event_type, count(*) n,
             |  round(sum(value), 3) total_value
             |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // Streaming HLL (st8): per-DAY approximate distinct event ids with
    // sketch registers AS the streaming state — O(2^p) rows per window
    // where st6's exact streaming dedup carries one state row per key;
    // register max is replay-insensitive, so at-least-once redelivery
    // cannot move the answer. The stream stops at the register table;
    // finalization is batch (hllFinalize), the mergeable-sketch contract.
    // Graded beside the exact per-window count (x60 convention) with the
    // oracle rebuilding every register from md5. Daily windows + p=6
    // keep every window (302-364 / 3205-3471 distinct ids per day at
    // sf0.01/0.1) above the 2.5m raw-HLL validity floor — hourly windows
    // hold single-digit counts where the uncorrected estimate is pure
    // small-range bias (x60's scaladoc regime note, measured here).
    QuerySpec("st8_stream_hll_distinct", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val est = Streams.runWindowedHllAvailableNow(s, d, "events.parquet",
        schema, "event_id", p = 6, window = "1 day")
      val exact = t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("window_start"))
        .agg(countDistinct(col("event_id")).as("n_exact"))
      // no derived rel_err column here (unlike x60): the fixture's
      // boundary hours hold single-digit exact counts, and a 2-dp
      // estimate divided by a small integer lands exactly on 5e-5
      // rounding boundaries where Spark (BigDecimal-of-toString HALF_UP)
      // and DuckDB (raw-double) legitimately disagree — both raw columns
      // stay, so any error metric is derivable
      exact.join(est, "window_start")
        .orderBy("window_start")
    },
      Some("""WITH h AS (SELECT date_trunc('day', ts) w,
             |    md5(CAST(event_id AS VARCHAR)) hx FROM events),
             |b AS (SELECT w,
             |    list_reduce(list_transform(range(1, 4),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(hx, CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) % 64 idx,
             |    substr(hx, 4, 16) rest FROM h),
             |r AS (SELECT w, idx, length(regexp_extract(rest, '^0*')) z,
             |    substr(rest, length(regexp_extract(rest, '^0*')) + 1, 1) c1
             |  FROM b),
             |rr AS (SELECT w, idx, CASE WHEN z = 16 THEN 65 ELSE z*4 +
             |    (CASE WHEN c1 = '1' THEN 3 WHEN c1 IN ('2','3') THEN 2
             |          WHEN c1 IN ('4','5','6','7') THEN 1 ELSE 0 END) + 1
             |  END rho FROM r),
             |reg AS (SELECT w, idx, max(rho) M FROM rr GROUP BY w, idx),
             |est AS (SELECT w, sum(pow(2.0, -M)) + (64 - count(*)) S
             |  FROM reg GROUP BY w),
             |ex AS (SELECT date_trunc('day', ts) w,
             |    count(DISTINCT event_id) n_exact FROM events GROUP BY 1)
             |SELECT CAST(ex.w AS TIMESTAMP) window_start, ex.n_exact,
             |  round(0.7213/(1.0 + 1.079/64)*64*64/S, 2) hll_distinct
             |FROM ex JOIN est ON ex.w = est.w ORDER BY 1""".stripMargin)),

    // Streaming approximate percentiles (st10): the x61 histogram sketch
    // with per-window bin counts AS the streaming state (≤ nBins rows per
    // window vs. a full per-window sort for exact percentiles), finalized
    // by the same all-integer extraction. Fixed [0, 64·1024) cent domain
    // (checked to cover both SFs; out-of-range clamps to edge bins) —
    // a stream cannot take the batch operator's min/max pre-pass.
    QuerySpec("st10_stream_percentiles", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runWindowedPercentilesAvailableNow(s, d, "events.parquet",
        schema, floor(col("value") * 100).cast("long"), loCents = 0L,
        widthCents = 64L, nBins = 1024,
        ps = Seq(("p50_cents", 0.5), ("p95_cents", 0.95)))
        .orderBy("window_start")
    },
      Some("""WITH c AS (SELECT date_trunc('hour', ts) w,
             |    least(greatest(CAST(floor("value"*100) AS BIGINT), 0) // 64,
             |      1023) bin FROM events),
             |h AS (SELECT w, bin, count(*) cnt FROM c GROUP BY 1, 2),
             |hh AS (SELECT w, bin, cnt, sum(cnt) OVER (PARTITION BY w
             |    ORDER BY bin ROWS UNBOUNDED PRECEDING) cum FROM h),
             |n AS (SELECT w, max(cum) n FROM hh GROUP BY w),
             |p50 AS (SELECT hh.w, 0 + 64*bin +
             |    ((CAST(ceil(0.50*n.n) AS BIGINT) - (cum - cnt)) * 64)
             |      // (cnt + 1) v
             |  FROM hh JOIN n ON hh.w = n.w
             |  WHERE cum >= CAST(ceil(0.50*n.n) AS BIGINT)
             |  QUALIFY row_number() OVER (PARTITION BY hh.w ORDER BY bin) = 1),
             |p95 AS (SELECT hh.w, 0 + 64*bin +
             |    ((CAST(ceil(0.95*n.n) AS BIGINT) - (cum - cnt)) * 64)
             |      // (cnt + 1) v
             |  FROM hh JOIN n ON hh.w = n.w
             |  WHERE cum >= CAST(ceil(0.95*n.n) AS BIGINT)
             |  QUALIFY row_number() OVER (PARTITION BY hh.w ORDER BY bin) = 1)
             |SELECT n.w window_start, CAST(n.n AS BIGINT) n_rows,
             |  CAST(p50.v AS BIGINT) p50_cents, CAST(p95.v AS BIGINT) p95_cents
             |FROM n JOIN p50 ON n.w = p50.w JOIN p95 ON n.w = p95.w
             |ORDER BY 1""".stripMargin)),

    // Streaming CMS key frequencies (st11): the third sketch-as-stream-
    // state operator (HLL = cardinality st8, histogram = distribution
    // st10, CMS = frequency). Per-window (d, j, cnt) registers, bounded
    // by depth×width per window; finalized as min-over-depth point
    // estimates for a fixed probe-key set, graded beside the exact
    // per-window counts — md5 positions make the ESTIMATE itself
    // oracle-checkable, collisions included. width = 256 over ~150
    // (sf0.01) / ~1500 (sf0.1) users so collisions genuinely occur and
    // the over-estimate property is exercised, not vacuous.
    QuerySpec("st11_stream_cms_counts", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val probes = Seq(1L, 2L, 3L, 4L, 5L)
      val est = Streams.runWindowedCmsAvailableNow(s, d, "events.parquet",
        schema, col("user_id"), depth = 3, width = 256, probes)
      val exact = t(s, d, "events")
        .filter(col("user_id").isin(probes: _*))
        .groupBy(date_trunc("hour", col("ts")).as("window_start"),
          col("user_id").as("probe_key"))
        .agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("window_start", "probe_key"), "left")
        .select(col("window_start"), col("probe_key"), col("cms_count"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"))
        .orderBy("window_start", "probe_key")
    },
      Some("""WITH ds AS (SELECT unnest(range(0, 3)) d),
             |pk AS (SELECT unnest([1, 2, 3, 4, 5]) k),
             |pos AS (SELECT k, d, list_reduce(list_transform(range(1, 9),
             |    i -> CAST(strpos('0123456789abcdef', substr(md5('cms' ||
             |      CAST(d AS VARCHAR) || ':' || CAST(k AS VARCHAR)),
             |      CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) % 256 j FROM pk, ds),
             |ev AS (SELECT date_trunc('hour', ts) w, user_id FROM events),
             |evp AS (SELECT w, d, list_reduce(list_transform(range(1, 9),
             |    i -> CAST(strpos('0123456789abcdef', substr(md5('cms' ||
             |      CAST(d AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)),
             |      CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) % 256 j FROM ev, ds),
             |reg AS (SELECT w, d, j, count(*) cnt FROM evp GROUP BY 1, 2, 3),
             |wins AS (SELECT DISTINCT w FROM ev),
             |est AS (SELECT wi.w, p.k, min(coalesce(r.cnt, 0)) est
             |  FROM wins wi CROSS JOIN pos p
             |  LEFT JOIN reg r ON r.w = wi.w AND r.d = p.d AND r.j = p.j
             |  GROUP BY wi.w, p.k),
             |ex AS (SELECT date_trunc('hour', ts) w, user_id k, count(*) n
             |  FROM events WHERE user_id IN (1, 2, 3, 4, 5) GROUP BY 1, 2)
             |SELECT est.w window_start, CAST(est.k AS BIGINT) probe_key,
             |  CAST(est.est AS BIGINT) cms_count,
             |  CAST(coalesce(ex.n, 0) AS BIGINT) exact_count
             |FROM est LEFT JOIN ex ON est.w = ex.w AND est.k = ex.k
             |ORDER BY 1, 2""".stripMargin)),

    QuerySpec("st2_sessionize_stateful", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runSessionizeAvailableNow(s, d, "events.parquet", schema,
        gapMinutes = 60)
        .orderBy("user_id", "session_id")
    },
      Some("""WITH e AS (SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR ts - lag(ts) OVER w > INTERVAL 60 MINUTE THEN 1 ELSE 0 END brk
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS INT) session_id FROM e)
             |SELECT user_id, session_id, min(ts) session_start, max(ts) session_end,
             |  count(*) n, round(sum(value), 3) total_value
             |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // Same oracle as st2, but the engine side is the event-time-timeout
    // sessionizer run genuinely multi-batch (maxFilesPerTrigger=1 + a
    // sentinel to seal the final sessions) — proving the cross-batch-exact
    // semantics hold under micro-batch slicing, not just AvailableNow's
    // single drain.
    QuerySpec("st3_sessionize_eventtime", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      Streams.runSessionizeEventTimeAvailableNow(s, d, "events.parquet", schema,
        gapMinutes = 60, "graft_st3_sessions", ckpt)
        .orderBy("user_id", "session_id")
    },
      Some("""WITH e AS (SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR ts - lag(ts) OVER w > INTERVAL 60 MINUTE THEN 1 ELSE 0 END brk
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS INT) session_id FROM e)
             |SELECT user_id, session_id, min(ts) session_start, max(ts) session_end,
             |  count(*) n, round(sum(value), 3) total_value
             |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // Stream-stream interval join (st5): purchases and views are BOTH
    // unbounded streams; Spark's join state store buffers each side and
    // the event-time bound in the condition gives watermark-driven
    // eviction. For the bounded drain the emitted pairs equal the batch
    // non-equi join exactly — the oracle is that batch join.
    QuerySpec("st5_stream_stream_join", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runStreamStreamJoinAvailableNow(s, d, "events.parquet", schema,
        lookbackMinutes = 30)
        .orderBy("purchase_id", "view_id")
    },
      Some("""SELECT l.event_id purchase_id, l.user_id, l.ts p_ts,
             |  r.event_id view_id, r.ts v_ts, r."value" view_value
             |FROM events l JOIN events r
             |  ON l.event_type = 'purchase' AND r.event_type = 'view'
             |  AND l.user_id = r.user_id
             |  AND r.ts BETWEEN l.ts - INTERVAL 30 MINUTE AND l.ts
             |ORDER BY 1, 4""".stripMargin)),

    // Streaming LEFT OUTER stream-stream join (st9): st5's interval join
    // with the outer contract — a purchase with no same-user view in the
    // 30-min lookback emits a null-matched row, but only once the global
    // watermark (min of both inputs' max event time, minus the 1-hour
    // delay) closes its join window; younger unmatched purchases hold
    // their verdict back. The oracle states that rule explicitly: matched
    // rows unconditionally, null rows only when p_ts < watermark — the
    // honest semantics of an eventual outer join, not a scaffolding
    // artifact (fixture verified free of ts == watermark boundary hits at
    // both SFs).
    QuerySpec("st9_stream_stream_outer", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runStreamStreamJoinAvailableNow(s, d, "events.parquet", schema,
        lookbackMinutes = 30,
        joinType = "leftOuter", watermarkDelay = "1 hour")
        .orderBy("purchase_id", "view_id")
    },
      Some("""WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT * FROM events WHERE event_type = 'view'),
             |wm AS (SELECT least((SELECT max(ts) FROM p),
             |    (SELECT max(ts) FROM v)) - INTERVAL 1 HOUR w)
             |SELECT l.event_id purchase_id, l.user_id, l.ts p_ts,
             |  r.event_id view_id, r.ts v_ts, r."value" view_value
             |FROM p l LEFT JOIN v r
             |  ON l.user_id = r.user_id
             |  AND r.ts BETWEEN l.ts - INTERVAL 30 MINUTE AND l.ts
             |WHERE r.event_id IS NOT NULL OR l.ts < (SELECT w FROM wm)
             |ORDER BY 1, 4""".stripMargin)),

    // Streaming dedup (st6): the watermark-bounded
    // dropDuplicatesWithinWatermark operator, graded. Every 10th event is
    // written TWICE as separate file groups and replayed one file per
    // micro-batch, so most duplicates arrive in a DIFFERENT micro-batch
    // than their original — the cross-batch state is what's under test.
    // Duplicate copies are byte-identical full rows, so which copy wins
    // is value-irrelevant and the drained output is deterministic: exactly
    // the original slice. Oracle = that slice straight from parquet.
    QuerySpec("st6_stream_dedup", (s, d) => {
      val ev = t(s, d, "events").filter(col("event_id") % 10 === 0)
        .select("event_id", "ts", "user_id", "event_type", "value")
      // 2+1 file groups (r12 directive #2, the st4b minimum-slice rule):
      // three one-file micro-batches still put every duplicate copy in a
      // DIFFERENT batch than its original — the cross-batch state under
      // test — while shedding two fixed-cost triggers vs the old 3+2
      replayFiles(s, ev, 2, 1)(Streams.runStreamingDedupAvailableNow(_,
        keyCols = Seq("event_id"), tsCol = "ts",
        watermarkDelay = "3650 days"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id, ts, user_id, event_type, "value"
             |FROM events WHERE event_id % 10 = 0 ORDER BY event_id""".stripMargin)),

    // As-of join, nearest (J5c): each purchase aligned with the user's
    // closest view on EITHER side, ties to the earlier (backward) match —
    // the pandas merge_asof direction='nearest' surface. The oracle is an
    // independent DuckDB LATERAL nearest-row subquery (naive per-left
    // scan), not a rendering of the engine's two-directional window fill.
    QuerySpec("j5c_asof_nearest", (s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val r = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      graft.operators.AsOfJoin.asofJoin(l, r, Seq("user_id"), "ts", "ts",
        Seq("view_id", "view_value"), direction = "nearest")
        .orderBy("event_id")
    },
      Some("""SELECT l.event_id, l.user_id, l.ts, l.value,
             |  r.view_id AS asof_view_id, r.view_value AS asof_view_value
             |FROM (SELECT event_id, user_id, ts, value FROM events
             |      WHERE event_type = 'purchase') l
             |LEFT JOIN LATERAL (
             |  SELECT v.event_id view_id, v.value view_value FROM events v
             |  WHERE v.event_type = 'view' AND v.user_id = l.user_id
             |  ORDER BY abs(epoch_us(v.ts) - epoch_us(l.ts)), v.ts, v.event_id DESC
             |  LIMIT 1) r ON TRUE
             |ORDER BY l.event_id""".stripMargin)),

    // Interval-overlap join (J7): purchases become intervals [ts, ts +
    // (1..30) min] (length derived from `value`), errors become fixed
    // 10-min intervals; count the error intervals each purchase interval
    // intersects. The engine decomposes the non-equi overlap predicate
    // into a bucketized hash join (RangeJoin.intervalOverlap, 10-min
    // buckets → ≤4 copies of a left interval, ≤2 of a right); the oracle
    // is the naive non-equi join.
    QuerySpec("j7_interval_overlap", (s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("ls"),
          (unix_micros(col("ts")) +
            (floor(col("value")).cast("long") % 30 + 1) * 60000000L).as("le"))
      val r = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), unix_micros(col("ts")).as("rs"),
          (unix_micros(col("ts")) + 600000000L).as("re"))
      val pairs = graft.operators.RangeJoin.intervalOverlap(
        l, r, "ls", "le", "rs", "re", bucketUnits = 600000000L, Seq("err_id"))
      l.join(pairs.groupBy("event_id").agg(count(col("ov_err_id")).as("n_overlap")),
          Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .orderBy("event_id")
    },
      Some("""WITH l AS (SELECT event_id, epoch_us(ts) ls,
             |    epoch_us(ts) + ((CAST(floor(value) AS BIGINT) % 30) + 1) * 60000000 le
             |  FROM events WHERE event_type = 'purchase'),
             |r AS (SELECT event_id err_id, epoch_us(ts) rs,
             |    epoch_us(ts) + 600000000 re
             |  FROM events WHERE event_type = 'error')
             |SELECT l.event_id, count(r.err_id) n_overlap
             |FROM l LEFT JOIN r ON l.ls <= r.re AND r.rs <= l.le
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Unicode NFC normalization (x27): the native graft_nfc expression
    // (java.text.Normalizer inside codegen, ASCII fast path) composed
    // with the standard lower + whitespace-collapse cleanup. Docs with
    // doc_id % 3 = 0 get a deterministic suffix containing DECOMPOSED
    // accents (e + U+0301, i + U+0308) so the normalization is observably
    // non-trivial; the oracle recomposes with DuckDB's nfc_normalize.
    QuerySpec("x27_nfc_normalize", (s, d) => {
      val docs = t(s, d, "documents")
      val enriched = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" cafe\u0301 STRASSE nai\u0308ve")))
        .otherwise(col("text"))
      val norm = regexp_replace(
        trim(lower(graft.functions.NfcNormalize(enriched))), "\\s+", " ")
      docs.select(col("doc_id"),
        length(enriched).cast("long").as("len_raw"),
        length(norm).cast("long").as("len_nfc"),
        norm.as("text_nfc"))
        .orderBy("doc_id")
    },
      Some("""WITH e AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
             |    THEN text || ' cafe' || chr(769) || ' STRASSE nai' || chr(776) || 've'
             |    ELSE text END raw FROM documents)
             |SELECT doc_id, CAST(length(raw) AS BIGINT) len_raw,
             |  CAST(length(regexp_replace(trim(lower(nfc_normalize(raw))),
             |    '\s+', ' ', 'g')) AS BIGINT) len_nfc,
             |  regexp_replace(trim(lower(nfc_normalize(raw))),
             |    '\s+', ' ', 'g') text_nfc
             |FROM e ORDER BY doc_id""".stripMargin)),

    // Duplicate-span removal (x28): every 4-gram occurring in ≥2 distinct
    // docs marks its 4-token span for deletion; survivors are rejoined —
    // substring-level dedup (Lee et al. 2022) as opposed to the
    // document-level families x1-x5. The oracle rebuilds positions,
    // duplicated grams, covered offsets and the ordered reassembly with
    // DuckDB list machinery, independent of the engine's
    // posexplode/anti-join plan.
    QuerySpec("x28_dup_span_removal", (s, d) =>
      TextOps.removeDuplicateSpans(tw(s, d, "documents"), "doc_id", "text", n = 4)
        .orderBy("doc_id"),
      x28OracleSql),

    // Same operator, hashGrams=true (x28b): the 100 TB form — dup-gram
    // grouping and the covered-offset join run on xxhash64(gram) (8 bytes)
    // instead of the n-word string. The hash never reaches the output
    // (same (doc_id, text_clean, n_removed) contract), so the IDENTICAL
    // string-form oracle hash-checks it: a collision-induced divergence
    // or any keying bug shows up as a value mismatch, not a weaker
    // rows-only pass.
    QuerySpec("x28b_dup_span_hashed", (s, d) =>
      TextOps.removeDuplicateSpans(tw(s, d, "documents"), "doc_id", "text",
        n = 4, hashGrams = true)
        .orderBy("doc_id"),
      x28OracleSql),

    // Rolling time-series aggregate (x29): per event type, the trailing
    // 24-hour event count and average over the hourly series — a RANGE
    // window (not ROWS: hours with no events leave gaps), ordered by epoch
    // seconds in Spark and by the equivalent INTERVAL frame in DuckDB.
    // The rolling average divides two window LONGs in one double op, so
    // both engines agree bitwise.
    QuerySpec("x29_rolling_hourly", (s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("hour").cast("long"))
        .rangeBetween(-23 * 3600L, 0L)
      hourly.select(col("event_type"), col("hour"), col("n"),
          sum(col("n")).over(w).as("roll_sum"),
          round(sum(col("n")).over(w).cast("double") /
            count(col("n")).over(w), 4).as("roll_avg"))
        .orderBy("event_type", "hour")
    },
      Some("""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) n
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, hr AS "hour", n,
             |  CAST(sum(n) OVER w AS BIGINT) roll_sum,
             |  round(CAST(sum(n) OVER w AS DOUBLE) / count(n) OVER w, 4) roll_avg
             |FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr
             |  RANGE BETWEEN INTERVAL 23 HOURS PRECEDING AND CURRENT ROW)
             |ORDER BY 1, 2""".stripMargin)),

    // Temperature-flattened mixture sampling (x30): per-language quota
    // min(n, floor(sqrt(n)·8)) — α = 0.5 temperature damping of the
    // skewed lang mix (en 218 → 118 at sf0.01 while fr keeps all 64) with
    // EXACT output sizes, selection ranked by the deterministic
    // md5-uniform. sqrt is correctly-rounded IEEE and the scale is a
    // power of two, so the oracle re-derives the quota bit-identically
    // and re-ranks with the same refolded md5.
    QuerySpec("x30_temperature_mix", (s, d) =>
      graft.operators.ScaleOps.temperatureQuotaSample(
        t(s, d, "documents").select("doc_id", "lang"),
        "lang", "doc_id", salt = "mixT:", scale = 8.0)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""WITH c AS (SELECT lang, count(*) n FROM documents GROUP BY lang),
             |q AS (SELECT lang, least(n,
             |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 8) AS BIGINT)) qt FROM c),
             |u AS (SELECT doc_id, lang,
             |  list_reduce(list_transform(range(1, 9),
             |    i -> CAST(strpos('0123456789abcdef',
             |      substr(md5('mixT:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) / 4294967296.0 uval
             |  FROM documents),
             |r AS (SELECT doc_id, lang,
             |    row_number() OVER (PARTITION BY lang ORDER BY uval, doc_id) rk
             |  FROM u)
             |SELECT r.doc_id, r.lang FROM r JOIN q USING (lang)
             |WHERE rk <= qt ORDER BY doc_id""".stripMargin)),

    // Sequence packing (x31): documents assigned in corpus order to
    // contiguous 512-token training bins — the "pack docs into
    // fixed-length training sequences" prep step, via the same
    // boundary-invariant distributed prefix sum as x20 (no
    // single-partition sort). Output is per-bin stats; the oracle
    // re-derives the running sum with a plain window.
    QuerySpec("x31_sequence_pack", (s, d) => {
      val scored = t(s, d, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.operators.ScaleOps.sequencePack(scored, "n_tok", "doc_id",
        seqLen = 512L)
        .groupBy("bin_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_in_bin"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("bin_id")
    },
      Some("""WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
             |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END n_tok
             |  FROM documents),
             |c AS (SELECT doc_id, CAST(n_tok AS BIGINT) n_tok,
             |    CAST(sum(n_tok) OVER (ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM t),
             |b AS (SELECT doc_id, n_tok,
             |    CAST(floor(CAST(cum - n_tok AS DOUBLE) / 512) AS BIGINT) bin_id
             |  FROM c)
             |SELECT bin_id, count(*) n_docs, CAST(sum(n_tok) AS BIGINT) tok_in_bin,
             |  min(doc_id) first_doc, max(doc_id) last_doc
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental dedup (x32): the NEW batch (doc_id % 5 = 0) flagged
    // against the EXISTING corpus (the rest) — exact by content md5,
    // near by cross-frame MinHash banding + exact Jaccard verify (the x2
    // family, same recall evidence). The batch shuffles against the
    // corpus band index; corpus × corpus pairs are never formed. The
    // oracle is exhaustive: md5 equality + true string-set Jaccard over
    // all batch × corpus pairs.
    QuerySpec("x32_incremental_dedup", (s, d) => {
      // r19: fan-out reverted — interleaved A/B lost 0.78× (plans/r19/
      // fanout_ab_run1.log)
      val docs = t(s, d, "documents")
      DedupOps.incrementalDedup(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text",
        shingleWords = 5, numHashes = 16, bands = 8, threshold = 0.5)
        .orderBy("doc_id")
    },
      Some("""WITH fp AS (SELECT doc_id,
             |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) f
             |  FROM documents WHERE text IS NOT NULL),
             |ex AS (SELECT b.doc_id, min(c.doc_id) mid FROM fp b JOIN fp c
             |  ON b.f = c.f AND b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0 GROUP BY 1),
             |toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-4, 0)),
             |    i -> array_to_string(tk[i+1:i+5], ' '))) s FROM toks),
             |inv AS (SELECT doc_id, unnest(s) tok FROM sh WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh),
             |inter AS (SELECT b.doc_id bid, c.doc_id cid, count(*) i
             |  FROM inv b JOIN inv c ON b.tok = c.tok
             |    AND b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0 GROUP BY 1,2),
             |near AS (SELECT bid, cid FROM inter
             |  JOIN sizes sa ON bid = sa.doc_id JOIN sizes sb ON cid = sb.doc_id
             |  WHERE round(i*1.0/(sa.n + sb.n - i), 4) >= 0.5),
             |na AS (SELECT bid doc_id, min(cid) mid, count(*) nn FROM near GROUP BY 1)
             |SELECT d.doc_id,
             |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
             |    WHEN na.doc_id IS NOT NULL THEN 'near_dup' ELSE 'new' END status,
             |  coalesce(ex.mid, na.mid) match_id,
             |  CAST(coalesce(na.nn, 0) AS BIGINT) n_near
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
             |LEFT JOIN ex USING (doc_id) LEFT JOIN na USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Salted two-phase aggregation (x33, r5 VERDICT item 7): the skew
    // machinery graded. events.event_type is a handful of hot keys over
    // the whole table — exactly the shape where one reducer would take
    // the entire corpus and AQE cannot split an aggregation. The salted
    // plan spreads each key over 16 (key, salt) groups with map-side
    // partials, then merges ≤16 partial rows per key (two-phase
    // HashAggregate, plan-audited in PERF.md). Values are summed as
    // integer cents so the re-association is order-exact in both engines.
    QuerySpec("x33_salted_skew_agg", (s, d) =>
      graft.operators.ScaleOps.saltedSumCount(
        t(s, d, "events").select(col("event_type"),
          floor(col("value") * 100).as("cents")),
        Seq("event_type"), "cents", saltBuckets = 16)
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  CAST(sum(CAST(floor("value"*100) AS BIGINT)) AS BIGINT) sum_cents,
             |  count(*) n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Salted inner join (x34): the hot-key join twin of x33. Left =
    // events on user_id; right = a derived per-user dim (first-seen ts)
    // too big to assume broadcastable at 100 TB user counts — the salt
    // explodes the right side 8× and spreads each hot user's left rows
    // over 8 reducers. Aggregated down so the graded output is compact;
    // the oracle is the plain join.
    QuerySpec("x34_salted_join", (s, d) => {
      val ev = t(s, d, "events")
      val dim = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      graft.operators.ScaleOps.saltedJoin(
        ev.select("event_id", "user_id", "event_type"), dim, "user_id",
        saltBuckets = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min(col("first_ts")).as("min_first_ts"))
        .orderBy("event_type")
    },
      Some("""WITH dim AS (SELECT user_id, min(ts) first_ts FROM events GROUP BY 1)
             |SELECT e.event_type, count(*) n, min(d.first_ts) min_first_ts
             |FROM events e JOIN dim d USING (user_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // AQE skew-join (x53, r6 VERDICT item 7): the RUNTIME twin of x34's
    // manual salt — a large-large join on a 2/3-hot key planned as a
    // plain shuffle join and left to AQE's skew split (thresholds scoped
    // to test scale by withAqeSkewJoin; at 100 TB the defaults apply).
    // ScaleNativeSpec asserts the final adaptive plan actually contains
    // skew-split partitions; the manual salt remains necessary for
    // AGGREGATION skew (x33), where AQE cannot split a reducer.
    QuerySpec("x53_aqe_skew_join", (s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("event_type"),
        when(col("event_id") % 3 =!= 0, lit(1L))
          .otherwise(col("user_id") + 1000000L).as("skew_key"))
      // dim materialized: the skew rule only matches sorts DIRECTLY over
      // shuffle stages (see ScaleNativeSpec) — and a real dim would be a
      // table scan anyway
      val dim = ev.groupBy("skew_key").agg(count(lit(1)).as("n_key_events"))
        .localCheckpoint(true)
      graft.operators.ScaleOps.withAqeSkewJoin(s,
        thresholdBytes = 16 * 1024, advisoryBytes = 8 * 1024) {
        ev.join(dim, "skew_key")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("n_key_events")).as("sum_nk"))
          .localCheckpoint(true) // materialize INSIDE the conf scope
      }.orderBy("event_type")
    },
      Some("""WITH e AS (SELECT event_id, event_type,
             |    CASE WHEN event_id % 3 <> 0 THEN 1
             |      ELSE user_id + 1000000 END skew_key FROM events),
             |dim AS (SELECT skew_key, count(*) n_key_events FROM e GROUP BY 1)
             |SELECT e.event_type, count(*) n,
             |  CAST(sum(d.n_key_events) AS BIGINT) sum_nk
             |FROM e JOIN dim d USING (skew_key)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Weighted data mixing (x37): sampleByRates with an explicit
    // per-source rate dimension — the general form whose uniform special
    // case x24 grades (downweight the dominant crawl language, keep the
    // rare ones whole: the CCNet/ROOTS mixing knob). Rates are exact
    // binary fractions so rate literals parse to identical doubles in
    // both engines; the md5-uniform is k/2^32 — every comparison is
    // exact, no float noise possible.
    QuerySpec("x37_weighted_mix", (s, d) => {
      import s.implicits._
      val rates = Seq(("en", 0.25), ("de", 0.5), ("es", 0.5),
        ("fr", 1.0), ("zh", 0.75)).toDF("lang", "__rate")
      graft.operators.ScaleOps.sampleByRates(
        t(s, d, "documents").select("doc_id", "lang"),
        "lang", "doc_id", salt = "mixW:", rates)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      Some("""WITH r(lang, rate) AS (VALUES ('en', 0.25), ('de', 0.5),
             |    ('es', 0.5), ('fr', 1.0), ('zh', 0.75)),
             |u AS (SELECT doc_id, lang,
             |  list_reduce(list_transform(range(1, 9),
             |    i -> CAST(strpos('0123456789abcdef',
             |      substr(md5('mixW:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) / 4294967296.0 uval
             |  FROM documents)
             |SELECT u.doc_id, u.lang FROM u JOIN r USING (lang)
             |WHERE u.uval < r.rate ORDER BY doc_id""".stripMargin)),

    // Deterministic stratified train/val/test split (x36): per-lang exact
    // proportions (80/10/10) by md5-uniform rank — the reproducible split
    // every training pipeline needs. The oracle re-ranks with the same
    // refolded md5 and compares against the ENGINE's cumulative-fraction
    // doubles embedded verbatim (0.8 + 0.1 = 0.9000000000000001 — a
    // hand-written 0.9 literal would flip boundary rows).
    QuerySpec("x36_stratified_split", (s, d) =>
      graft.operators.ScaleOps.stratifiedSplit(
        t(s, d, "documents").select("doc_id", "lang"),
        "lang", "doc_id", salt = "split1:",
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "lang", "split")
        .orderBy("doc_id"),
      Some {
        val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        val cums = graft.operators.ScaleOps.cumulativeFractions(splits)
        val cases = splits.zip(cums).dropRight(1)
          .map { case ((n, _), cf) =>
            s"WHEN rk <= floor($cf * n) THEN '$n'" }
          .mkString(" ")
        s"""WITH c AS (SELECT lang, count(*) n FROM documents GROUP BY 1),
           |u AS (SELECT doc_id, lang,
           |  list_reduce(list_transform(range(1, 9),
           |    i -> CAST(strpos('0123456789abcdef',
           |      substr(md5('split1:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |    (a, b) -> a*16 + b) / 4294967296.0 uval
           |  FROM documents),
           |r AS (SELECT doc_id, lang, n,
           |    row_number() OVER (PARTITION BY lang ORDER BY uval, doc_id) rk
           |  FROM u JOIN c USING (lang))
           |SELECT doc_id, lang,
           |  CASE $cases ELSE '${splits.last._1}' END split
           |FROM r ORDER BY doc_id""".stripMargin
      }),

    // Bucketed co-located join (x35): both sides written bucketBy(user_id)
    // as catalog tables, so the join plans SortMergeJoin with NO Exchange
    // on either side (asserted in ScaleNativeSpec) — the repeated-join
    // amortization story at 100 TB: pay the layout shuffle once at write
    // time, never again per query. Oracle = the plain join; the layout
    // must not change a byte.
    QuerySpec("x35_bucketed_join", (s, d) => {
      val ev = t(s, d, "events").select("event_id", "user_id", "value")
      val dim = t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      graft.operators.ScaleOps.writeBucketed(ev, "graft_x35_ev", "user_id", 8)
      graft.operators.ScaleOps.writeBucketed(dim, "graft_x35_dim", "user_id", 8)
      graft.operators.ScaleOps.bucketedJoin(s, "graft_x35_ev", "graft_x35_dim",
        "user_id")
        .groupBy("n_events").agg(count(lit(1)).as("n_rows"))
        .orderBy("n_events")
    },
      Some("""WITH dim AS (SELECT user_id, count(*) n_events FROM events GROUP BY 1)
             |SELECT d.n_events, count(*) n_rows
             |FROM events e JOIN dim d USING (user_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BM25 relevance scoring (x38): every document scored against a fixed
    // query-term set — the classic retrieval scorer used to mine
    // topic-relevant crawl subsets. Postings are filtered to the query
    // terms BEFORE any shuffle; the per-doc sum over terms is an ordered
    // fold so float addition order matches the oracle's
    // list_sum(list(... ORDER BY term)). The oracle re-derives tf/df/dl
    // from scratch with the identical association of +,*,/.
    QuerySpec("x38_bm25_scoring", (s, d) =>
      TextOps.bm25(t(s, d, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "vector", "merge"))
        .orderBy(col("bm25").desc, col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
             |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |    ELSE regexp_split_to_array(trim(text), '\s+') END tok FROM documents),
             |dl AS (SELECT doc_id, CAST(len(tok) AS BIGINT) dl FROM t),
             |st AS (SELECT count(*) n, sum(dl) sumdl,
             |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) avgdl FROM dl),
             |tf AS (SELECT doc_id, term, count(*) tf FROM
             |    (SELECT doc_id, unnest(tok) term FROM t)
             |  WHERE term IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id, tf.term,
             |    ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
             |        (CAST(df AS DOUBLE) + 0.5) + 1.0) *
             |      (CAST(tf AS DOUBLE) * 2.2) /
             |      (CAST(tf AS DOUBLE) + 1.2 *
             |        (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) c
             |  FROM tf JOIN dl USING (doc_id) CROSS JOIN st
             |  JOIN dfq USING (term)),
             |agg AS (SELECT doc_id, round(list_sum(list(c ORDER BY term)), 4) s,
             |    count(*) nt FROM sc GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(a.s, 0.0) bm25,
             |  CAST(coalesce(a.nt, 0) AS BIGINT) n_terms_hit
             |FROM documents d LEFT JOIN agg a USING (doc_id)
             |ORDER BY bm25 DESC, doc_id""".stripMargin)),

    // Overlapping character chunking (x39): RAG / context-window prep —
    // 200-char chunks every 120 chars. Pure sequence+explode, map-side;
    // the oracle rebuilds the chunk grid with range() and substr.
    QuerySpec("x39_chunk_overlap", (s, d) =>
      TextOps.chunkText(t(s, d, "documents"), "doc_id", "text",
        chunkChars = 200, strideChars = 120)
        .orderBy("doc_id", "chunk_idx"),
      Some("""SELECT doc_id, CAST(s // 120 AS BIGINT) chunk_idx,
             |  CAST(s AS BIGINT) chunk_start,
             |  substr(text, CAST(s AS INT) + 1, 200) chunk_text,
             |  CAST(length(substr(text, CAST(s AS INT) + 1, 200)) AS BIGINT)
             |    chunk_chars
             |FROM documents, unnest(range(0, length(text), 120)) u(s)
             |WHERE length(text) > 0 ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Per-group z-score normalization (x40): feature scaling per
    // event_type via the census-broadcast pattern — fact rows touched
    // once, no window. Sums are exact integer cents (x33's trick) so the
    // mean/variance doubles are bit-identical cross-engine; the oracle
    // mirrors the (n·Σx² − (Σx)²)/(n·(n−1)) association verbatim.
    QuerySpec("x40_zscore_normalize", (s, d) =>
      graft.operators.ScaleOps.zScoreByGroup(
        t(s, d, "events").select("event_id", "event_type", "value"),
        "event_type", "value", "z")
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 4).as("z"))
        .orderBy("event_id"),
      Some("""WITH c AS (SELECT event_type, count(*) n, sum(cents) s,
             |    sum(cents * cents) ss FROM
             |    (SELECT event_type, CAST(round("value" * 100.0) AS BIGINT) cents
             |     FROM events) GROUP BY 1)
             |SELECT event_id, e.event_type, "value",
             |  round((CAST(CAST(round("value" * 100.0) AS BIGINT) AS DOUBLE) / 100.0
             |      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
             |    / (sqrt(CAST(n * ss - s * s AS DOUBLE) /
             |        CAST(n * (n - 1) AS DOUBLE)) / 100.0), 4) z
             |FROM events e LEFT JOIN c USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // Winsorization (x41): outlier clipping per event_type at the exact
    // p01/p99 ORDER STATISTICS (rank ceil(p·n) — an actual data value, so
    // no interpolation can diverge cross-engine). The oracle re-ranks with
    // the same explicit rank arithmetic, not quantile_disc (whose rank
    // convention differs).
    QuerySpec("x41_winsorize", (s, d) =>
      graft.operators.ScaleOps.winsorizeByGroup(
        t(s, d, "events").select("event_id", "event_type", "value"),
        "event_type", "value", "value_w", pLo = 0.01, pHi = 0.99)
        .select("event_id", "event_type", "value", "value_w")
        .orderBy("event_id"),
      Some("""WITH r AS (SELECT event_type, "value" v,
             |    row_number() OVER (PARTITION BY event_type ORDER BY "value") rk,
             |    count(*) OVER (PARTITION BY event_type) n FROM events),
             |cuts AS (SELECT event_type,
             |    min(CASE WHEN rk = greatest(CAST(ceil(n * 0.01) AS BIGINT), 1)
             |      THEN v END) lo,
             |    min(CASE WHEN rk = greatest(CAST(ceil(n * 0.99) AS BIGINT), 1)
             |      THEN v END) hi
             |  FROM r GROUP BY 1)
             |SELECT event_id, e.event_type, "value",
             |  least(greatest("value", lo), hi) value_w
             |FROM events e JOIN cuts USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // Stream-static enrichment join (st7): the streaming fact × static dim
    // shape — stateless per micro-batch (broadcast hash join re-planned
    // each batch, no watermark, no state store), so slicing the replay
    // into per-file batches cannot change the emitted set. Oracle = the
    // plain batch join.
    QuerySpec("st7_stream_static_join", (s, d) => {
      val ev = t(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val dim = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"),
        count(lit(1)).as("n_user_events"))
      replayFiles(s, ev, 4)(
        Streams.runStreamStaticEnrichAvailableNow(_, dim, "user_id"))
        .orderBy("event_id")
    },
      Some("""WITH dim AS (SELECT user_id, min(ts) first_ts,
             |    count(*) n_user_events FROM events GROUP BY 1)
             |SELECT user_id, event_id, ts, event_type, "value",
             |  first_ts, n_user_events
             |FROM events JOIN dim USING (user_id)
             |ORDER BY event_id""".stripMargin)),

    // Native session windows (x47): Spark's built-in session_window
    // operator (dynamic-gap gapless merge, half-open [start, last+gap)) —
    // the batch twin of st2/st3's hand-rolled sessionization, graded
    // against an independent gaps-and-islands oracle (lag + running sum
    // of breaks), NOT a rendering of the operator. Sums are exact cents.
    QuerySpec("x47_session_window", (s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("sw"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100.0).cast("long")).as("sum_cents"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n"), col("sum_cents"))
        .orderBy("user_id", "session_start"),
      Some("""WITH e AS (SELECT user_id, ts,
             |    CAST(round("value"*100.0) AS BIGINT) cents,
             |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |        IS NULL
             |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |        >= INTERVAL 6 HOUR
             |      THEN 1 ELSE 0 END brk
             |  FROM events),
             |i AS (SELECT user_id, ts, cents,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) island FROM e)
             |SELECT user_id, min(ts) session_start,
             |  max(ts) + INTERVAL 6 HOUR session_end,
             |  count(*) n, CAST(sum(cents) AS BIGINT) sum_cents
             |FROM i GROUP BY user_id, island
             |ORDER BY user_id, session_start""".stripMargin)),

    // Unpivot/melt (x48): the wide→long reshaping every feature pipeline
    // needs (Spark 3.4+ Dataset.unpivot → Expand, one pass, no join/union
    // of re-scans). Oracle = DuckDB UNPIVOT. Values normalized to exact
    // cents so the long column is one BIGINT.
    QuerySpec("x48_unpivot_melt", (s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") <= 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity") * 100.0).cast("long").as("qty_cents"),
          round(col("l_extendedprice") * 100.0).cast("long").as("price_cents"),
          round(col("l_discount") * 100.0).cast("long").as("disc_cents"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("qty_cents"), col("price_cents"), col("disc_cents")),
          "measure", "cents")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      Some("""SELECT l_orderkey, l_linenumber, measure,
             |  CAST(cents AS BIGINT) cents FROM (
             |  SELECT l_orderkey, l_linenumber,
             |    CAST(round(l_quantity*100.0) AS BIGINT) qty_cents,
             |    CAST(round(l_extendedprice*100.0) AS BIGINT) price_cents,
             |    CAST(round(l_discount*100.0) AS BIGINT) disc_cents
             |  FROM lineitem WHERE l_orderkey <= 500)
             |UNPIVOT (cents FOR measure IN (qty_cents, price_cents, disc_cents))
             |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),

    // Optimizer-rewritten tolerance join (j9): the query is written in the
    // NAIVE O(n²) spelling — abs(Δ epoch-micros) ≤ 30 s with NO equi key —
    // and relies on graft.plans.IntervalJoinRule (SparkSessionExtensions
    // optimizer rule) to plan it as a bucketed equi-join instead of a
    // nested-loop product. The oracle runs the same naive predicate in
    // DuckDB; ExtensionRuleSpec asserts the plan shape.
    QuerySpec("j9_rule_rewritten_join", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          unix_micros(col("ts")).as("v_us"))
      p.join(v, abs(col("p_us") - col("v_us")) <= lit(30000000L))
        .select("purchase_id", "view_id", "p_us", "v_us")
        .orderBy("purchase_id", "view_id")
    },
      Some("""SELECT p.event_id purchase_id, v.event_id view_id,
             |  epoch_us(p.ts) p_us, epoch_us(v.ts) v_us
             |FROM events p JOIN events v
             |  ON p.event_type = 'purchase' AND v.event_type = 'view'
             |  AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 30000000
             |ORDER BY purchase_id, view_id""".stripMargin)),

    // j9b — the BETWEEN spelling of the tolerance join (r6 VERDICT item 6):
    // `v_us BETWEEN p_us - 45s AND p_us + 45s` with NO equi key, rewritten
    // by the widened IntervalJoinRule to the same bucketed equi-join
    // (plan-asserted in ExtensionRuleSpec). Oracle runs the naive BETWEEN.
    QuerySpec("j9b_rule_between_join", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          unix_micros(col("ts")).as("v_us"))
      p.join(v, col("v_us").between(col("p_us") - 45000000L,
        col("p_us") + 45000000L))
        .select("purchase_id", "view_id", "p_us", "v_us")
        .orderBy("purchase_id", "view_id")
    },
      Some("""SELECT p.event_id purchase_id, v.event_id view_id,
             |  epoch_us(p.ts) p_us, epoch_us(v.ts) v_us
             |FROM events p JOIN events v
             |  ON p.event_type = 'purchase' AND v.event_type = 'view'
             |  AND epoch_us(v.ts) BETWEEN epoch_us(p.ts) - 45000000
             |    AND epoch_us(p.ts) + 45000000
             |ORDER BY purchase_id, view_id""".stripMargin)),

    // j9c — the TIMESTAMP spelling (r6 VERDICT item 6): the tolerance is
    // an ANSI interval over raw timestamp columns; the rule normalizes both
    // keys to epoch-micros (UnixMicros) for bucketing and re-checks the
    // interval predicate exactly. Oracle mirrors in epoch_us arithmetic.
    QuerySpec("j9c_rule_ts_interval_join", (s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("v_ts"))
      p.join(v, abs(col("p_ts") - col("v_ts")) <= expr("INTERVAL 20 SECONDS"))
        .select(col("purchase_id"), col("view_id"),
          unix_micros(col("p_ts")).as("p_us"), unix_micros(col("v_ts")).as("v_us"))
        .orderBy("purchase_id", "view_id")
    },
      Some("""SELECT p.event_id purchase_id, v.event_id view_id,
             |  epoch_us(p.ts) p_us, epoch_us(v.ts) v_us
             |FROM events p JOIN events v
             |  ON p.event_type = 'purchase' AND v.event_type = 'view'
             |  AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 20000000
             |ORDER BY purchase_id, view_id""".stripMargin)),

    // Regex extract-all (x50): pattern occurrences extracted to an array
    // per row (entity mining — URLs/ids/emails out of raw text), the
    // array-producing sibling of x23's count/replace surfaces. Pattern
    // stays in the Java∩RE2 dual-dialect subset; arrays render to a
    // joined string so the compare is dtype-stable.
    QuerySpec("x50_regexp_extract_all", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          array_join(regexp_extract_all(col("text"),
            lit("\\bs[a-z]+"), lit(0)), ",").as("hits"),
          size(regexp_extract_all(col("text"),
            lit("\\bs[a-z]+"), lit(0))).cast("long").as("n_hits"))
        .orderBy("doc_id"),
      // coalesce: DuckDB renders the no-match empty list as NULL where
      // Spark's array_join gives ''
      Some("""SELECT doc_id,
             |  coalesce(array_to_string(regexp_extract_all(text,
             |    '\bs[a-z]+'), ','), '') hits,
             |  CAST(coalesce(len(regexp_extract_all(text,
             |    '\bs[a-z]+')), 0) AS BIGINT) n_hits
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Ad-hoc JSON path extraction (x49): get_json_object over the props
    // payload — the schemaless sibling of T1's full from_json flatten
    // (exploratory pipelines reach for a path before declaring a schema).
    // Pure per-row expression; null propagation for missing paths.
    QuerySpec("x49_json_path", (s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"),
          get_json_object(col("props"), "$.missing").as("missing_val"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) k_val,
             |  json_extract_string(props, '$.missing') missing_val
             |FROM events ORDER BY event_id""".stripMargin)),

    // Heavy hitters (x46): Count–Min sketch candidates + exact verify —
    // the sketch (a few KB) replaces the all-distinct-keys shuffle;
    // one-sided CMS error means the exact HAVING makes the output
    // parameter-independent, so the oracle is the plain GROUP BY. Every
    // 37th key is nulled so the NULL group (SQL GROUP BY semantics,
    // r6 VERDICT item 8) is oracle-visible: it clears the threshold at
    // both SFs and must appear in both engines' outputs.
    QuerySpec("x46_heavy_hitters", (s, d) =>
      graft.operators.ScaleOps.heavyHitters(
        t(s, d, "events").withColumn("user_id",
          when(col("event_id") % 37 === 0, lit(null)).otherwise(col("user_id"))),
        "user_id", threshold = 80L)
        .orderBy("user_id"),
      Some("""SELECT user_id, count(*) n FROM (
             |  SELECT CASE WHEN event_id % 37 = 0 THEN NULL
             |    ELSE user_id END user_id FROM events)
             |GROUP BY 1 HAVING count(*) >= 80
             |ORDER BY user_id""".stripMargin)),

    // Column profiling (x42): the dataset-card table — nulls / exact
    // distinct / lexical min-max per column, ALL columns in one aggregate
    // pass (the unpivot touches one row). Oracle = per-column UNION ALL.
    QuerySpec("x42_column_profile", (s, d) =>
      graft.operators.Analytics.profileColumns(
        t(s, d, "documents"), Seq("lang", "source", "n_chars"))
        .orderBy("col_name"),
      Some(Seq("lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' col_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) n_distinct,
           |  min(CAST($c AS VARCHAR)) min_val,
           |  max(CAST($c AS VARCHAR)) max_val FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    // Fixed-width histogram (x43): bin assignment on exact integer cents
    // (integer division — no float boundary), only the ≤ nBins partial
    // rows shuffle. 20-wide bins over events.value.
    QuerySpec("x43_histogram", (s, d) =>
      graft.operators.Analytics.histogram(
        t(s, d, "events"), "value", lo = 0.0, width = 20.0, nBins = 17)
        .orderBy("bin"),
      Some("""WITH b AS (SELECT least(greatest(
             |    (CAST(round("value"*100.0) AS BIGINT) - 0) // 2000, 0), 17) bin
             |  FROM events WHERE "value" IS NOT NULL)
             |SELECT bin, 0.0 + CAST(bin AS DOUBLE) * 20.0 bin_lo, count(*) n
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cohort retention (x44): customers bucketed by first-order month,
    // counted per months-since-cohort — the retention triangle (orders
    // spans 6+ years, so the triangle is real; events spans one month).
    // Month arithmetic is pure integers; exchanges carry per-user rows,
    // never the fact.
    QuerySpec("x44_cohort_retention", (s, d) =>
      graft.operators.Analytics.cohortRetention(
        t(s, d, "orders"), "o_custkey", "o_orderdate")
        .orderBy("cohort_month", "month_offset"),
      Some("""WITH fm AS (SELECT o_custkey,
             |    CAST(date_trunc('month', min(o_orderdate)) AS DATE) cm
             |  FROM orders GROUP BY 1),
             |am AS (SELECT DISTINCT o_custkey,
             |    CAST(date_trunc('month', o_orderdate) AS DATE) am FROM orders)
             |SELECT CAST(cm AS VARCHAR) cohort_month,
             |  CAST((year(am) - year(cm)) * 12 + (month(am) - month(cm))
             |    AS BIGINT) month_offset,
             |  count(*) n_users
             |FROM am JOIN fm USING (o_custkey)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Strict-sequence funnel (x45): view → click after first view →
    // purchase after that click, each stage anchored on the user's FIRST
    // qualifying event. Oracle = three chained min-CTEs.
    QuerySpec("x45_funnel", (s, d) =>
      graft.operators.Analytics.funnel(
        t(s, d, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
        .orderBy("stage_idx"),
      Some("""WITH v AS (SELECT user_id, min(ts) a FROM events
             |    WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) a FROM events e
             |  JOIN v USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > v.a GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) a FROM events e
             |  JOIN c USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > c.a GROUP BY 1)
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) stage_idx, 'view' stage,
             |    (SELECT count(*) FROM v) n_users
             |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
             |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p))
             |ORDER BY stage_idx""".stripMargin)),

    // Bigram LM quality scoring (x68): the CCNet/perplexity-filter shape —
    // add-one-smoothed bigram statistics trained on the corpus itself,
    // every doc scored by mean bigram log-probability. All counts and V
    // are integers; the per-doc sum is an ordered fold over bigram
    // position matching list_sum(list(... ORDER BY pos)); ln() is the one
    // libm call (x38 precedent). Docs with < 2 tokens carry (0, NULL).
    QuerySpec("x68_bigram_lm", (s, d) =>
      TextOps.bigramLmScore(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |      ELSE regexp_split_to_array(trim(text), '\s+') END tok
             |  FROM documents),
             |bg AS (SELECT doc_id, pos, tok[pos] w1, tok[pos + 1] w2
             |  FROM (SELECT doc_id, tok,
             |      unnest(range(1, len(tok))) pos FROM t)),
             |c1 AS (SELECT w1, count(*) c1 FROM bg GROUP BY 1),
             |c2 AS (SELECT w1, w2, count(*) c2 FROM bg GROUP BY 1, 2),
             |v AS (SELECT count(DISTINCT w) v
             |  FROM (SELECT unnest(tok) w FROM t)),
             |lp AS (SELECT bg.doc_id, bg.pos,
             |    ln((CAST(c2 AS DOUBLE) + 1.0) /
             |       (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))) lp
             |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
             |  CROSS JOIN v),
             |agg AS (SELECT doc_id,
             |    round(list_sum(list(lp ORDER BY pos)) / count(*), 4) s,
             |    count(*) nb FROM lp GROUP BY doc_id)
             |SELECT d.doc_id, CAST(coalesce(a.nb, 0) AS BIGINT) n_bigrams,
             |  a.s lm_score
             |FROM documents d LEFT JOIN agg a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Sorted-neighborhood dedup (x69): the fifth near-dup family —
    // Hernández-Stolfo merge/purge. Global sort on a 24-char blocking key
    // via the globalRank prefix-sum kernel (range partition + metadata
    // offsets, NO single-partition exchange), window of 5, Levenshtein
    // verify over 80-char prefixes. All-integer output.
    QuerySpec("x69_sorted_neighborhood", (s, d) =>
      DedupOps.sortedNeighborhoodPairs(t(s, d, "documents"), "doc_id",
        "text", keyChars = 24, window = 5, prefixChars = 80, maxDist = 20)
        .orderBy("id_a", "id_b"),
      Some("""WITH b AS (SELECT doc_id, coalesce(text, '') txt,
             |    lower(substr(trim(coalesce(text, '')), 1, 24)) k
             |  FROM documents),
             |r AS (SELECT doc_id, txt,
             |    row_number() OVER (ORDER BY k, doc_id) rn FROM b)
             |SELECT a.doc_id id_a, c.doc_id id_b,
             |  CAST(levenshtein(substr(a.txt, 1, 80), substr(c.txt, 1, 80))
             |    AS BIGINT) dist
             |FROM r a JOIN r c ON c.rn > a.rn AND c.rn <= a.rn + 4
             |WHERE levenshtein(substr(a.txt, 1, 80), substr(c.txt, 1, 80)) <= 20
             |ORDER BY id_a, id_b""".stripMargin)),

    // Fixed-iteration PageRank (x70): iterative graph analytics over the
    // customer↔supplier trade graph (both directions of each distinct
    // (cust, supp) pair, so no dangling nodes). 5 iterations, d=0.85;
    // the whole chain is 10¹²-scaled fixed-point BIGINT arithmetic
    // (truncating `div` contributions, integer damping (850000·m) div 10⁶
    // — order-independent sums, O(1) per-node state, hub-safe, zero float
    // ops before the final /10¹²) so the result is bitwise identical on
    // any 64-bit-integer engine — the oracle replays all 5 iterations as
    // chained CTEs with the same integer arithmetic.
    QuerySpec("x70_pagerank", (s, d) => {
      val pairs = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      GraphOps.pageRank(edges, "a", "b", iterations = 5).orderBy("node")
    },
      Some {
        val head =
          """WITH pairs AS (SELECT DISTINCT
            |    'c' || CAST(o_custkey AS VARCHAR) a,
            |    's' || CAST(l_suppkey AS VARCHAR) b
            |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            |e AS (SELECT a s, b t FROM pairs
            |  UNION ALL SELECT b, a FROM pairs),
            |nodes AS (SELECT DISTINCT s node FROM e),
            |deg AS (SELECT s node, count(*) dg FROM e GROUP BY 1),
            |nn AS (SELECT count(*) n FROM nodes),
            |bb AS (SELECT CAST(round((1.0 - CAST(0.85 AS DOUBLE)) / nn.n
            |    * 1e12, 0) AS BIGINT) b12,
            |  CAST(round(1e12 / nn.n, 0) AS BIGINT) p12 FROM nn),
            |p0 AS (SELECT node, bb.p12 pr FROM nodes, bb)""".stripMargin
        val iters = (1 to 5).map { i =>
          s"""s$i AS (SELECT e.t node,
             |    CAST(sum(p.pr // d.dg) AS BIGINT) m
             |  FROM e JOIN p${i - 1} p ON e.s = p.node
             |  JOIN deg d ON e.s = d.node GROUP BY e.t),
             |p$i AS (SELECT n.node,
             |    (850000 * coalesce(s$i.m, 0)) // 1000000 + bb.b12 pr
             |  FROM nodes n CROSS JOIN bb
             |  LEFT JOIN s$i ON n.node = s$i.node)""".stripMargin
        }.mkString(",\n", ",\n", "\n")
        head + iters +
          "SELECT node, CAST(pr AS DOUBLE) / 1e12 pagerank " +
          "FROM p5 ORDER BY node"
      }),

    // Frequent co-occurring part pairs (x71): A-Priori support counting
    // over order baskets — item-support prune (lossless for minItem ≤
    // minPair) BEFORE the pair self-join, which is quadratic only in
    // basket size (≤17 here), never the corpus. Integer supports + one
    // fixed-association lift.
    QuerySpec("x71_frequent_pairs", (s, d) =>
      graft.operators.Analytics.frequentPairs(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey",
        minItemSupport = 2L, minPairSupport = 2L)
        .orderBy("item_a", "item_b"),
      Some("""WITH b AS (SELECT DISTINCT l_orderkey bk, l_partkey it
             |  FROM lineitem),
             |n AS (SELECT count(DISTINCT bk) nb FROM b),
             |s AS (SELECT it, count(*) sp FROM b GROUP BY 1
             |  HAVING count(*) >= 2),
             |k AS (SELECT b.bk, b.it, s.sp FROM b JOIN s USING (it)),
             |p AS (SELECT a.it item_a, c.it item_b, count(*) support,
             |    min(a.sp) support_a, min(c.sp) support_b
             |  FROM k a JOIN k c ON a.bk = c.bk AND a.it < c.it
             |  GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT item_a, item_b, support, support_a, support_b,
             |  round(CAST(support AS DOUBLE) * (SELECT nb FROM n) /
             |    CAST(support_a * support_b AS DOUBLE), 6) lift
             |FROM p ORDER BY item_a, item_b""".stripMargin)),

    // Skyline / Pareto frontier (x72): orders no other order beats on
    // BOTH total price (max) and order date (min) — multi-criteria
    // selection as local-skyline + broadcast-refine, never O(n²) in the
    // corpus. The oracle is the O(n log n) 2-D sweep (per-date max +
    // running max over earlier dates), validated against the NOT EXISTS
    // dominance definition on sf0.001.
    QuerySpec("x72_skyline", (s, d) => {
      val o = t(s, d, "orders").withColumn("__od",
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
      graft.operators.SkylineOps.skyline(o, Seq("o_totalprice"), Seq("__od"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy("o_orderkey")
    },
      Some("""WITH d AS (SELECT o_orderkey, o_totalprice, o_orderdate
             |  FROM orders),
             |dm AS (SELECT o_orderdate, max(o_totalprice) dmax FROM d
             |  GROUP BY 1),
             |cm AS (SELECT o_orderdate, dmax,
             |    max(dmax) OVER (ORDER BY o_orderdate
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      prevmax FROM dm)
             |SELECT d.o_orderkey, d.o_totalprice, d.o_orderdate
             |FROM d JOIN cm USING (o_orderdate)
             |WHERE d.o_totalprice = cm.dmax
             |  AND (cm.prevmax IS NULL OR d.o_totalprice > cm.prevmax)
             |ORDER BY d.o_orderkey""".stripMargin)),

    // Markov transition matrix (x73): first-order (from → to) adjacency
    // counts over each user's time-ordered event stream + row-normalized
    // probability. One shuffle on user for the lag window; ≤ |states|²
    // output cells. Integer counts, one rounded division.
    QuerySpec("x73_transition_matrix", (s, d) =>
      graft.operators.Analytics.transitionMatrix(
        t(s, d, "events"), "user_id", "ts", "event_id", "event_type")
        .orderBy("from_state", "to_state"),
      Some("""WITH t AS (SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) f
             |  FROM events),
             |tr AS (SELECT f from_state, event_type to_state, count(*) n
             |  FROM t WHERE f IS NOT NULL GROUP BY 1, 2),
             |tt AS (SELECT from_state, sum(n) tot FROM tr GROUP BY 1)
             |SELECT tr.from_state, tr.to_state, tr.n,
             |  round(CAST(tr.n AS DOUBLE) / CAST(tot AS DOUBLE), 6) p
             |FROM tr JOIN tt USING (from_state)
             |ORDER BY from_state, to_state""".stripMargin)),

    // MAD outlier gate (x74): robust per-group outlier counts via median
    // absolute deviation — all comparisons in doubled integer units
    // (med2/mad2), so NO float is ever compared; see
    // Analytics.madOutliers. Two exact-median passes (a14 machinery).
    QuerySpec("x74_mad_outliers", (s, d) =>
      graft.operators.Analytics.madOutliers(
        t(s, d, "events"), "event_type", "value")
        .orderBy("event_type"),
      Some("""WITH b AS (SELECT event_type g,
             |    CAST(floor(value * 100) AS BIGINT) c
             |  FROM events WHERE value IS NOT NULL),
             |m AS (SELECT g, CAST(median(c) * 2 AS BIGINT) med2
             |  FROM b GROUP BY 1),
             |dv AS (SELECT b.g, abs(b.c * 2 - m.med2) dev, m.med2
             |  FROM b JOIN m USING (g)),
             |md AS (SELECT g, CAST(median(dev) * 2 AS BIGINT) mad2
             |  FROM dv GROUP BY 1)
             |SELECT dv.g event_type, count(*) n,
             |  count(*) FILTER (dv.dev * 2 > md.mad2 * 3) n_outliers,
             |  min(dv.med2) med2_cents, min(md.mad2) mad2
             |FROM dv JOIN md USING (g)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Grouped OLS trend (x75): per-user least-squares slope of value
    // (cents) over time (whole minutes since the anchor). Every
    // sufficient statistic is an exact BIGINT sum — no float
    // summation-order hazard exists — and the slope is one division.
    // floor(floor(t)/60) ≡ floor(t/60) makes Spark's whole-second
    // unix_timestamp and DuckDB's fractional epoch() agree exactly.
    QuerySpec("x75_grouped_trend", (s, d) =>
      graft.operators.Analytics.groupedTrend(
        t(s, d, "events"), "user_id", "ts", "value",
        anchor = "2024-01-01 00:00:00")
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id,
             |    CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 60)
             |      AS BIGINT) x,
             |    CAST(floor(value * 100) AS BIGINT) y
             |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
             |s AS (SELECT user_id, count(*) n, sum(x) sx, sum(y) sy,
             |    sum(x * y) sxy, sum(x * x) sxx FROM b GROUP BY 1)
             |SELECT user_id, n,
             |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
             |      CAST(n * sxx - sx * sx AS DOUBLE), 8) END
             |    slope_cents_per_min
             |FROM s ORDER BY user_id""".stripMargin)),

    // Triangle counting (x76): per-part triangle participation in the
    // co-purchase graph (parts sharing an order — edges linear in
    // orders, the x71 basket shape). Spark side enumerates via
    // degree-ordered orientation (wedge fan-out bounded O(sqrt m) per
    // node); the oracle is the simple id-ordered 3-way self-join —
    // different enumeration order, identical integer counts.
    QuerySpec("x76_triangle_counts", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.join(li.withColumnRenamed("p", "q"), "o")
        .filter(col("p") < col("q"))
        .select(col("p").as("a"), col("q").as("b"))
      graft.operators.GraphOps.triangleCounts(edges, "a", "b")
        .orderBy("node")
    },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey o, l_partkey p
             |  FROM lineitem),
             |e AS (SELECT DISTINCT a.p u, b.p v
             |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
             |tri AS (SELECT e1.u a, e1.v b, e2.v c
             |  FROM e e1 JOIN e e2 ON e1.v = e2.u
             |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
             |n AS (SELECT a node FROM tri
             |  UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri)
             |SELECT CAST(node AS VARCHAR) node, count(*) n_tri
             |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PMI collocations (x77): pointwise mutual information over adjacent
    // token pairs with bigram-slot margins (Church & Hanks). minCount
    // prunes BEFORE the margin joins; pmi = ln((c12·N)/(cl·cr)) with
    // double casts before the products (no i64 overflow at any corpus
    // size), one libm ln (x38/x68 precedent), round 4.
    QuerySpec("x77_pmi_collocations", (s, d) =>
      graft.operators.TextOps.pmiCollocations(
        t(s, d, "documents"), "text", minCount = 5L)
        .orderBy("w1", "w2"),
      Some("""WITH t AS (SELECT CASE WHEN length(trim(text)) = 0
             |    THEN CAST([] AS VARCHAR[])
             |    ELSE regexp_split_to_array(trim(text), '\s+') END tok
             |  FROM documents),
             |bg AS (SELECT tok[pos] w1, tok[pos + 1] w2
             |  FROM (SELECT tok, unnest(range(1, len(tok))) pos FROM t)),
             |c12 AS (SELECT w1, w2, count(*) n FROM bg GROUP BY 1, 2),
             |cl AS (SELECT w1, count(*) cl FROM bg GROUP BY 1),
             |cr AS (SELECT w2, count(*) cr FROM bg GROUP BY 1),
             |nn AS (SELECT count(*) nn FROM bg)
             |SELECT w1, w2, n, round(ln(
             |    (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)) /
             |    (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE))), 4) pmi
             |FROM c12 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN nn
             |WHERE n >= 5 ORDER BY w1, w2""".stripMargin)),

    // Incremental aggregate maintenance (x78): maintain a grouped
    // (COUNT, SUM-cents) view across two fact snapshots by diffing on
    // the row key and applying signed deltas — the fact is NOT
    // rescanned (delta agg is |changes|-sized; final join group-sized).
    // before = orders < 1997-01-01; after drops pre-1993-06 rows and
    // adds 1997+ rows, so the diff exercises inserts AND deletes. The
    // oracle recomputes directly over `after` — maintained must be
    // bitwise-identical (all-BIGINT path).
    QuerySpec("x78_incremental_agg", (s, d) => {
      val orders = t(s, d, "orders")
      val before = orders.filter(col("o_orderdate") < lit("1997-01-01"))
      val after = orders.filter(col("o_orderdate") >= lit("1993-06-01"))
      val prevAgg = before.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      graft.operators.MergeOps.maintainGroupedAgg(
        prevAgg, before, after, "o_orderkey", "o_orderpriority",
        "o_totalprice").orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority, count(*) n,
             |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             |    AS BIGINT) sum_cents
             |FROM orders WHERE o_orderdate >= DATE '1993-06-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Label propagation communities (x79): deterministic synchronous
    // variant (most-frequent neighbor label, ties to the SMALLEST — a
    // total order, unlike the classic randomized sweep) over the
    // customer↔supplier trade graph, 4 rounds. Oracle replays every
    // round as chained CTEs with the same max-count/min-label tiebreak.
    QuerySpec("x79_label_propagation", (s, d) => {
      val pairs = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      graft.operators.GraphOps.labelPropagation(edges, "a", "b",
        iterations = 4).orderBy("node")
    },
      Some {
        val head =
          """WITH pairs AS (SELECT DISTINCT
            |    'c' || CAST(o_custkey AS VARCHAR) a,
            |    's' || CAST(l_suppkey AS VARCHAR) b
            |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            |e AS (SELECT a s, b t FROM pairs
            |  UNION ALL SELECT b, a FROM pairs),
            |nodes AS (SELECT DISTINCT s node FROM e),
            |p0 AS (SELECT node, node lbl FROM nodes)""".stripMargin
        val iters = (1 to 4).map { i =>
          s"""c$i AS (SELECT e.t node, p.lbl, count(*) c
             |  FROM e JOIN p${i - 1} p ON e.s = p.node GROUP BY 1, 2),
             |b$i AS (SELECT node, max(c) mx FROM c$i GROUP BY 1),
             |s$i AS (SELECT c.node, min(c.lbl) lbl
             |  FROM c$i c JOIN b$i b ON c.node = b.node AND c.c = b.mx
             |  GROUP BY 1),
             |p$i AS (SELECT n.node, coalesce(s$i.lbl, p.lbl) lbl
             |  FROM nodes n LEFT JOIN s$i ON n.node = s$i.node
             |  JOIN p${i - 1} p ON n.node = p.node)""".stripMargin
        }.mkString(",\n", ",\n", "\n")
        head + iters +
          "SELECT node, lbl community FROM p4 ORDER BY node"
      }),

    // Seasonal anomaly gate (x80): (dow, hour) baseline from the first
    // three weeks of events, post-cutoff (date, hour) buckets flagged
    // when n·n_days > mult·base_n — the seasonal mean is never
    // materialized as a float (integer cross-multiplication).
    QuerySpec("x80_seasonal_anomalies", (s, d) =>
      graft.operators.Analytics.seasonalAnomalies(
        t(s, d, "events"), "ts", cutoff = "2024-01-22 00:00:00", mult = 2)
        .orderBy("dt", "hr"),
      Some("""WITH tr AS (SELECT ts FROM events
             |  WHERE ts IS NOT NULL AND ts < TIMESTAMP '2024-01-22'),
             |ev AS (SELECT ts FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-22'),
             |base AS (SELECT dayofweek(ts) + 1 dow, hour(ts) hr,
             |    count(*) base_n FROM tr GROUP BY 1, 2),
             |slots AS (SELECT dow, count(*) n_days FROM (
             |    SELECT DISTINCT dayofweek(ts) + 1 dow, CAST(ts AS DATE) d
             |    FROM tr) GROUP BY 1),
             |cur AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) dt,
             |    dayofweek(ts) + 1 dow,
             |    hour(ts) hr, count(*) n FROM ev GROUP BY 1, 2, 3)
             |SELECT cur.dt, CAST(cur.dow AS INTEGER) dow,
             |  CAST(cur.hr AS INTEGER) hr, cur.n,
             |  coalesce(base_n, 0) base_n, coalesce(n_days, 0) n_days,
             |  cur.n * coalesce(n_days, 0) > 2 * coalesce(base_n, 0)
             |    is_anomaly
             |FROM cur LEFT JOIN base USING (dow, hr)
             |LEFT JOIN slots USING (dow)
             |ORDER BY dt, hr""".stripMargin)),

    // Distribution-shape profile (x81): Shannon entropy + HHI + top
    // share of the event_type mix. The one float sum (Σ c·ln c) is an
    // ordered fold over the key-sorted census (x70 pattern); HHI's Σc²
    // and N stay BIGINT with a single final division.
    QuerySpec("x81_distribution_stats", (s, d) =>
      graft.operators.Analytics.distributionStats(
        t(s, d, "events"), "event_type"),
      Some("""WITH nn AS (SELECT count(*) FILTER (event_type IS NULL)
             |    n_nulls FROM events),
             |c AS (SELECT CAST(event_type AS VARCHAR) k, count(*) c
             |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
             |t AS (SELECT sum(c) n, count(*) n_keys, sum(c * c) ss,
             |    max(c) mx,
             |    list_sum(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
             |      ORDER BY k)) h
             |  FROM c)
             |SELECT CAST(n AS BIGINT) n, n_keys, nn.n_nulls,
             |  round(ln(CAST(n AS DOUBLE)) - h / CAST(n AS DOUBLE), 6)
             |    entropy_nats,
             |  round(CAST(ss AS DOUBLE) /
             |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) hhi,
             |  round(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE), 6) top_share
             |FROM t CROSS JOIN nn""".stripMargin)),

    // Chi-square independence (x82): event_type × day-of-week
    // association screen. Exact BIGINT margins off a |cells|-sized
    // census; χ² is an ordered fold over the (a,b)-sorted cells.
    QuerySpec("x82_chi_square", (s, d) =>
      graft.operators.Analytics.chiSquareIndependence(
        t(s, d, "events").select(col("event_type"),
          dayofweek(col("ts")).as("dow")),
        "event_type", "dow"),
      Some("""WITH cells AS (SELECT CAST(event_type AS VARCHAR) a,
             |    CAST(dayofweek(ts) + 1 AS VARCHAR) b, count(*) o
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |ra AS (SELECT a, sum(o) ra FROM cells GROUP BY 1),
             |rb AS (SELECT b, sum(o) rb FROM cells GROUP BY 1),
             |tt AS (SELECT sum(o) n, count(DISTINCT a) da,
             |    count(DISTINCT b) db FROM cells),
             |terms AS (SELECT cells.a, cells.b, n, da, db,
             |    CAST(o AS DOUBLE) o,
             |    CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) /
             |      CAST(n AS DOUBLE) e
             |  FROM cells JOIN ra USING (a) JOIN rb USING (b)
             |  CROSS JOIN tt)
             |SELECT CAST(min(n) AS BIGINT) n, min(da) r_a, min(db) r_b,
             |  (min(da) - 1) * (min(db) - 1) dof,
             |  round(greatest(0.0, list_sum(list(o * o / e ORDER BY a, b))
             |    - CAST(min(n) AS DOUBLE)), 6) chi2
             |FROM terms""".stripMargin)),

    // Grouped Pearson correlation (x83): per event_type, r between
    // whole-minutes-since-anchor and cents — all five sufficient stats
    // exact BIGINTs, numerator BIGINT, √vx·√vy separately rooted (i64
    // product would overflow), one division, round 8.
    QuerySpec("x83_grouped_pearson", (s, d) =>
      graft.operators.Analytics.groupedPearson(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("event_type"),
            floor((unix_timestamp(col("ts")) -
              unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp")))
              / 60L).as("x"),
            floor(col("value") * 100).as("y")),
        "event_type", "x", "y").orderBy("event_type"),
      Some("""WITH b AS (SELECT event_type,
             |    CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01'))
             |      / 60) AS BIGINT) x,
             |    CAST(floor(value * 100) AS BIGINT) y
             |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
             |s AS (SELECT event_type, count(*) n, sum(x) sx, sum(y) sy,
             |    sum(x * y) sxy, sum(x * x) sxx, sum(y * y) syy
             |  FROM b GROUP BY 1)
             |SELECT event_type, n,
             |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE) /
             |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
             |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 8)
             |    END r
             |FROM s ORDER BY event_type""".stripMargin)),

    // Vocabulary Jaccard between sources (x84): |Va∩Vb|/|Va∪Vb| over
    // distinct token sets. Token-join fan-out bounded |groups|² per
    // token (a universal stopword costs 400 rows, not corpus²);
    // integer set sizes, one division.
    QuerySpec("x84_vocab_jaccard", (s, d) =>
      graft.operators.TextOps.vocabJaccard(
        t(s, d, "documents"), "source", "text")
        .orderBy("g_a", "g_b"),
      Some("""WITH t AS (SELECT source,
             |    regexp_split_to_array(trim(text), '\s+') tok
             |  FROM documents
             |  WHERE source IS NOT NULL AND text IS NOT NULL
             |    AND length(trim(text)) > 0),
             |v AS (SELECT DISTINCT source g, unnest(tok) w FROM t),
             |s AS (SELECT g, count(*) n FROM v GROUP BY 1),
             |i AS (SELECT a.g g_a, b.g g_b, count(*) n_common
             |  FROM v a JOIN v b USING (w) WHERE a.g < b.g GROUP BY 1, 2)
             |SELECT g_a, g_b, n_common,
             |  round(CAST(n_common AS DOUBLE) /
             |    CAST(sa.n + sb.n - n_common AS DOUBLE), 6) jaccard
             |FROM i JOIN s sa ON g_a = sa.g JOIN s sb ON g_b = sb.g
             |ORDER BY g_a, g_b""".stripMargin)),

    // Streaming seasonal anomaly (st12): live stream reduced to hourly
    // counts (the mergeable state, replay-commutative), seasonal gate
    // applied BATCH-side against the static pre-cutoff baseline —
    // x80's integer cross-multiplied gate, so the streamed answer is
    // bitwise equal to batch regardless of micro-batch slicing.
    QuerySpec("st12_stream_seasonal_anomaly", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runSeasonalAnomalyAvailableNow(s, d, "events.parquet", schema,
        t(s, d, "events"), cutoff = "2024-01-22 00:00:00", mult = 2)
        .orderBy("window_start")
    },
      Some("""WITH tr AS (SELECT ts FROM events
             |  WHERE ts IS NOT NULL AND ts < TIMESTAMP '2024-01-22'),
             |base AS (SELECT dayofweek(ts) + 1 dow, hour(ts) hr,
             |    count(*) base_n FROM tr GROUP BY 1, 2),
             |slots AS (SELECT dow, count(*) n_days FROM (
             |    SELECT DISTINCT dayofweek(ts) + 1 dow, CAST(ts AS DATE) d
             |    FROM tr) GROUP BY 1),
             |cur AS (SELECT date_trunc('hour', ts) window_start,
             |    dayofweek(ts) + 1 dow, hour(ts) hr, count(*) n
             |  FROM events WHERE ts >= TIMESTAMP '2024-01-22'
             |  GROUP BY 1, 2, 3)
             |SELECT window_start, n, coalesce(base_n, 0) base_n,
             |  coalesce(n_days, 0) n_days,
             |  n * coalesce(n_days, 0) > 2 * coalesce(base_n, 0) is_anomaly
             |FROM cur LEFT JOIN base USING (dow, hr)
             |LEFT JOIN slots USING (dow)
             |ORDER BY window_start""".stripMargin)),

    // PSI value drift (x85): population stability index of the events
    // value mix, first half of January vs second half, on x43's exact
    // div binning. One-sided bins are excluded AND counted (no epsilon
    // fudge); Σ is an ordered fold over bin-sorted terms.
    QuerySpec("x85_psi_drift", (s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      graft.operators.Analytics.psi(
        ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
        ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
        "value", lo = 0.0, width = 20.0, nBins = 17)
    },
      Some("""WITH r AS (SELECT least(greatest(
             |      (CAST(round("value"*100.0) AS BIGINT) - 0) // 2000,
             |      0), 17) bin, count(*) nr
             |    FROM events WHERE "value" IS NOT NULL
             |      AND ts IS NOT NULL AND ts < TIMESTAMP '2024-01-16'
             |    GROUP BY 1),
             |c AS (SELECT least(greatest(
             |      (CAST(round("value"*100.0) AS BIGINT) - 0) // 2000,
             |      0), 17) bin, count(*) nc
             |    FROM events WHERE "value" IS NOT NULL
             |      AND ts >= TIMESTAMP '2024-01-16'
             |    GROUP BY 1),
             |j AS (SELECT coalesce(r.bin, c.bin) bin, nr, nc
             |  FROM r FULL JOIN c ON r.bin = c.bin),
             |tt AS (SELECT sum(nr) tr, sum(nc) tc FROM j),
             |terms AS (SELECT bin, nr, nc,
             |    CASE WHEN nr IS NOT NULL AND nc IS NOT NULL THEN
             |      (CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE) -
             |       CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE)) *
             |      ln((CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE)) /
             |         (CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE))) END t
             |  FROM j CROSS JOIN tt)
             |SELECT CAST(coalesce(sum(nr), 0) AS BIGINT) n_ref,
             |  CAST(coalesce(sum(nc), 0) AS BIGINT) n_cur,
             |  count(t) n_bins_used, count(*) - count(t) n_bins_skipped,
             |  round(list_sum(list(t ORDER BY bin) FILTER (t IS NOT NULL)),
             |    6) psi
             |FROM terms""".stripMargin)),

    // Inter-arrival stats (x86): per-user whole-second gaps between
    // consecutive events — exact median via doubled units (x74) and
    // exact p90 by explicit rank arithmetic (x41 convention). Seconds
    // floor BEFORE differencing so fractional-epoch engines agree.
    QuerySpec("x86_interarrival", (s, d) =>
      graft.operators.Analytics.interArrivalStats(
        t(s, d, "events"), "user_id", "ts", "event_id")
        .orderBy("user_id"),
      Some("""WITH o AS (SELECT user_id u,
             |    CAST(floor(epoch(ts)) AS BIGINT) s,
             |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) p
             |  FROM events WHERE ts IS NOT NULL),
             |g AS (SELECT u, s - p gap FROM o WHERE p IS NOT NULL),
             |c AS (SELECT u, count(*) n, min(gap) mn, max(gap) mx,
             |    CAST(median(gap) * 2 AS BIGINT) med2 FROM g GROUP BY 1),
             |r AS (SELECT u, gap, row_number() OVER (
             |    PARTITION BY u ORDER BY gap) rn FROM g),
             |p AS (SELECT r.u, r.gap p90 FROM r JOIN c
             |  ON r.u = c.u AND r.rn = (9 * c.n + 9) // 10)
             |SELECT c.u user_id, c.n n_gaps, c.mn min_gap_s,
             |  c.mx max_gap_s, c.med2 med2_gap_s, p.p90 p90_gap_s
             |FROM c JOIN p ON c.u = p.u ORDER BY 1""".stripMargin)),

    // MinHash vocab similarity (x87): the fixed-size sketch path beside
    // x84's exact Jaccard — min() is duplicate-insensitive, so NO
    // fact-scale distinct and NO token self-join exist; k longs per
    // group cross the shuffle. Oracle rebuilds both md5 hashes
    // digit-by-digit (x4 machinery) and replays the mod arithmetic.
    QuerySpec("x87_minhash_vocab_sim", (s, d) =>
      graft.operators.TextOps.minhashVocabSimilarity(
        t(s, d, "documents"), "source", "text", numHashes = 16)
        .orderBy("g_a", "g_b"),
      Some {
        val h = (c: String) =>
          s"""list_reduce(list_transform(range(1, 16),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5($c), CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a * 16 + b)""".stripMargin
        val minCols = (0 until 16).map(j =>
          s"min((h1m + $j * h2m) % 1000000007) m$j").mkString(", ")
        val matchTerms = (0 until 16).map(j =>
          s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (SELECT source g,
           |    unnest(regexp_split_to_array(trim(text), '\\s+')) w
           |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
           |    AND length(trim(text)) > 0),
           |hh AS (SELECT g, ${h("w")} % 1000000000 h1m,
           |    (${h("w || '#2'")} % 1000000000) + 1 h2m FROM t),
           |sig AS (SELECT g, $minCols FROM hh GROUP BY g)
           |SELECT a.g g_a, b.g g_b,
           |  CAST($matchTerms AS BIGINT) matches,
           |  round(CAST($matchTerms AS DOUBLE) / 16.0, 4) est_jaccard
           |FROM sig a JOIN sig b ON a.g < b.g
           |ORDER BY 1, 2""".stripMargin
      }),

    // HLL set algebra (x88): audience overlap of the two January halves
    // from mergeable registers — union is register-wise MAX, |A∩B| by
    // inclusion-exclusion on the rounded estimates — no user-keyed join
    // for the estimates; exacts ride along (x60 convention). p=5 keeps
    // both segments above the 2.5·m raw-HLL validity floor.
    QuerySpec("x88_hll_set_algebra", (s, d) => {
      val ev = t(s, d, "events")
      graft.operators.Analytics.hllSetAlgebra(
        ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
        ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
        "user_id", p = 5)
    },
      Some {
        def regCte(tag: String, cond: String) =
          s"""h$tag AS (SELECT md5(CAST(user_id AS VARCHAR)) hx
             |  FROM events WHERE user_id IS NOT NULL AND $cond),
             |b$tag AS (SELECT list_reduce(list_transform(range(1, 4),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(hx, CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) % 32 idx,
             |    substr(hx, 4, 16) rest FROM h$tag),
             |r$tag AS (SELECT idx, length(regexp_extract(rest, '^0*')) z,
             |    substr(rest, length(regexp_extract(rest, '^0*')) + 1, 1) c1
             |  FROM b$tag),
             |rr$tag AS (SELECT idx, CASE WHEN z = 16 THEN 65 ELSE z*4 +
             |    (CASE WHEN c1 = '1' THEN 3 WHEN c1 IN ('2','3') THEN 2
             |          WHEN c1 IN ('4','5','6','7') THEN 1 ELSE 0 END) + 1
             |  END rho FROM r$tag),
             |reg$tag AS (SELECT idx, max(rho) M FROM rr$tag GROUP BY idx)"""
        val e = "round(0.7213/(1.0 + 1.079/32)*32*32/" +
          "(sum(pow(2.0, -M)) + (32 - count(*))), 2)"
        s"""WITH ${regCte("a", "ts < TIMESTAMP '2024-01-16'")},
           |${regCte("b", "ts >= TIMESTAMP '2024-01-16'")},
           |regu AS (SELECT idx, max(M) M FROM (
           |    SELECT * FROM rega UNION ALL SELECT * FROM regb)
           |  GROUP BY idx),
           |ea AS (SELECT $e e FROM rega),
           |eb AS (SELECT $e e FROM regb),
           |eu AS (SELECT $e e FROM regu),
           |exu AS (SELECT count(DISTINCT user_id) exact_union FROM events
           |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |exi AS (SELECT count(*) exact_inter FROM (
           |    SELECT DISTINCT user_id FROM events
           |      WHERE user_id IS NOT NULL AND ts < TIMESTAMP '2024-01-16'
           |    INTERSECT
           |    SELECT DISTINCT user_id FROM events
           |      WHERE user_id IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'))
           |SELECT ea.e est_a, eb.e est_b, eu.e est_union,
           |  greatest(round(ea.e + eb.e - eu.e, 2), 0.0) est_inter,
           |  round(greatest(round(ea.e + eb.e - eu.e, 2), 0.0) / eu.e, 4)
           |    est_jaccard,
           |  exact_union, exact_inter
           |FROM ea, eb, eu, exu, exi""".stripMargin
      }),

    // Exact two-sample KS statistic (x89): distribution drift between
    // the January halves with NO binning choice — sup|F_a − F_b| found
    // by integer comparison on |cum_a·n_b − cum_b·n_a|, one final
    // division. Window runs over the distinct-cents census, not rows.
    QuerySpec("x89_ks_drift", (s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      graft.operators.Analytics.ksStatistic(
        ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
        ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
        "value")
    },
      Some("""WITH ca AS (SELECT CAST(floor("value"*100) AS BIGINT) v,
             |    count(*) c FROM events
             |  WHERE "value" IS NOT NULL AND ts IS NOT NULL
             |    AND ts < TIMESTAMP '2024-01-16' GROUP BY 1),
             |cb AS (SELECT CAST(floor("value"*100) AS BIGINT) v,
             |    count(*) c FROM events
             |  WHERE "value" IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'
             |  GROUP BY 1),
             |m AS (SELECT coalesce(ca.v, cb.v) v, coalesce(ca.c, 0) ia,
             |    coalesce(cb.c, 0) ib
             |  FROM ca FULL JOIN cb ON ca.v = cb.v),
             |c AS (SELECT v, sum(ia) OVER (ORDER BY v) cuma,
             |    sum(ib) OVER (ORDER BY v) cumb FROM m),
             |t AS (SELECT CAST(max(cuma) AS BIGINT) na,
             |    CAST(max(cumb) AS BIGINT) nb FROM c)
             |SELECT t.na n_a, t.nb n_b,
             |  round(CAST(max(abs(cuma * t.nb - cumb * t.na)) AS DOUBLE) /
             |    CAST(t.na * t.nb AS DOUBLE), 6) d_stat
             |FROM c CROSS JOIN t GROUP BY t.na, t.nb""".stripMargin)),

    // Per-group KS drift (x90): which event_type drifted between the
    // January halves — x89's integer sup arithmetic with the cumulative
    // window PARTITIONED by group, so no global exchange exists.
    QuerySpec("x90_ks_by_group", (s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      graft.operators.Analytics.ksStatisticByGroup(
        ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
        ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
        "event_type", "value").orderBy("event_type")
    },
      Some("""WITH ca AS (SELECT event_type g,
             |    CAST(floor("value"*100) AS BIGINT) v, count(*) c
             |  FROM events WHERE "value" IS NOT NULL
             |    AND event_type IS NOT NULL AND ts IS NOT NULL
             |    AND ts < TIMESTAMP '2024-01-16' GROUP BY 1, 2),
             |cb AS (SELECT event_type g,
             |    CAST(floor("value"*100) AS BIGINT) v, count(*) c
             |  FROM events WHERE "value" IS NOT NULL
             |    AND event_type IS NOT NULL
             |    AND ts >= TIMESTAMP '2024-01-16' GROUP BY 1, 2),
             |m AS (SELECT coalesce(ca.g, cb.g) g, coalesce(ca.v, cb.v) v,
             |    coalesce(ca.c, 0) ia, coalesce(cb.c, 0) ib
             |  FROM ca FULL JOIN cb ON ca.g = cb.g AND ca.v = cb.v),
             |c AS (SELECT g, v,
             |    sum(ia) OVER (PARTITION BY g ORDER BY v) cuma,
             |    sum(ib) OVER (PARTITION BY g ORDER BY v) cumb FROM m),
             |t AS (SELECT g, CAST(max(cuma) AS BIGINT) na,
             |    CAST(max(cumb) AS BIGINT) nb FROM c GROUP BY 1)
             |SELECT c.g event_type, t.na n_a, t.nb n_b,
             |  CASE WHEN t.na > 0 AND t.nb > 0 THEN
             |    round(CAST(max(abs(cuma * t.nb - cumb * t.na)) AS DOUBLE) /
             |      CAST(t.na * t.nb AS DOUBLE), 6) ELSE 1.0 END d_stat
             |FROM c JOIN t ON c.g = t.g GROUP BY c.g, t.na, t.nb
             |ORDER BY 1""".stripMargin)),

    // Mann-Whitney U (x91): rank-based drift between the January halves
    // — EXACT, all-integer (midranks in doubled units, x74 trick), no
    // libm call anywhere; rank-biserial effect size is the one division.
    QuerySpec("x91_mann_whitney", (s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      graft.operators.Analytics.mannWhitneyU(
        ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
        ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
        "value")
    },
      Some("""WITH ca AS (SELECT CAST(floor("value"*100) AS BIGINT) v,
             |    count(*) c FROM events
             |  WHERE "value" IS NOT NULL AND ts IS NOT NULL
             |    AND ts < TIMESTAMP '2024-01-16' GROUP BY 1),
             |cb AS (SELECT CAST(floor("value"*100) AS BIGINT) v,
             |    count(*) c FROM events
             |  WHERE "value" IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'
             |  GROUP BY 1),
             |m AS (SELECT coalesce(ca.v, cb.v) v, coalesce(ca.c, 0) ia,
             |    coalesce(cb.c, 0) ib
             |  FROM ca FULL JOIN cb ON ca.v = cb.v),
             |c AS (SELECT v, ia, ib, ia + ib cc,
             |    sum(ia + ib) OVER (ORDER BY v) cum FROM m),
             |s AS (SELECT CAST(sum(ia) AS BIGINT) na,
             |    CAST(sum(ib) AS BIGINT) nb,
             |    CAST(sum(ia * mr2) AS BIGINT) ra2
             |  FROM (SELECT ia, ib, (cum - cc) + cum + 1 mr2 FROM c))
             |SELECT na n_a, nb n_b,
             |  ra2 - na * (na + 1) u2_a,
             |  round(CAST(ra2 - na * (na + 1) AS DOUBLE) /
             |    CAST(na * nb AS DOUBLE) - 1.0, 6) rank_biserial
             |FROM s""".stripMargin)),

    // Streaming PSI drift monitor (st13): per-DAY PSI of the live value
    // mix vs the frozen pre-cutoff baseline — stream state is st10's
    // bin registers (≤ nBins rows/window); all PSI semantics (x85:
    // one-sided bins excluded AND reported, ordered fold) run
    // batch-side on (windows × bins)-sized frames.
    QuerySpec("st13_stream_psi_drift", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runWindowedPsiAvailableNow(s, d, "events.parquet", schema,
        t(s, d, "events"), loCents = 0L, widthCents = 2000L, nBins = 18,
        cutoff = "2024-01-22 00:00:00")
        .orderBy("window_start")
    },
      Some("""WITH rb AS (SELECT least(greatest(
             |      CAST(floor("value"*100) AS BIGINT), 0) // 2000, 17) bin,
             |    count(*) nr FROM events
             |  WHERE ts IS NOT NULL AND ts < TIMESTAMP '2024-01-22'
             |  GROUP BY 1),
             |wb AS (SELECT date_trunc('day', ts) ws, least(greatest(
             |      CAST(floor("value"*100) AS BIGINT), 0) // 2000, 17) bin,
             |    count(*) nc FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-22' GROUP BY 1, 2),
             |tt AS (SELECT sum(nr) tr FROM rb),
             |ww AS (SELECT ws, sum(nc) tc FROM wb GROUP BY 1),
             |grid AS (SELECT w.ws, rb.bin, rb.nr
             |  FROM (SELECT DISTINCT ws FROM wb) w CROSS JOIN rb),
             |j AS (SELECT coalesce(g.ws, wb.ws) ws,
             |    coalesce(g.bin, wb.bin) bin, g.nr, wb.nc
             |  FROM grid g FULL JOIN wb
             |    ON g.ws = wb.ws AND g.bin = wb.bin),
             |terms AS (SELECT j.ws, j.bin, j.nr, j.nc, ww.tc, tt.tr,
             |    CASE WHEN nr IS NOT NULL AND nc IS NOT NULL THEN
             |      (CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE) -
             |       CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE)) *
             |      ln((CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE)) /
             |         (CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE))) END t
             |  FROM j JOIN ww ON j.ws = ww.ws CROSS JOIN tt)
             |SELECT CAST(ws AS TIMESTAMP) window_start,
             |  CAST(min(tr) AS BIGINT) n_ref,
             |  CAST(min(tc) AS BIGINT) n_cur,
             |  count(t) n_bins_used, count(*) - count(t) n_bins_skipped,
             |  round(list_sum(list(t ORDER BY bin) FILTER (t IS NOT NULL)),
             |    6) psi
             |FROM terms GROUP BY ws ORDER BY ws""".stripMargin)),

    // Benford first-digit screen (x92): leading digits of order totals
    // vs ln(1+1/d)/ln(10) — digit taken from the BIGINT cents' decimal
    // string, no float log10 to mis-digit at powers of ten.
    QuerySpec("x92_benford", (s, d) =>
      graft.operators.Analytics.benfordDigits(
        t(s, d, "orders"), "o_totalprice").orderBy("digit"),
      Some("""WITH c AS (SELECT CAST(substr(CAST(
             |      CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR),
             |      1, 1) AS INT) digit, count(*) n
             |  FROM orders WHERE o_totalprice IS NOT NULL
             |    AND CAST(floor(o_totalprice * 100) AS BIGINT) > 0
             |  GROUP BY 1),
             |t AS (SELECT sum(n) tt FROM c)
             |SELECT digit, n,
             |  round(CAST(n AS DOUBLE) / CAST(tt AS DOUBLE), 6) "share",
             |  round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
             |    benford,
             |  round(abs(round(CAST(n AS DOUBLE) / CAST(tt AS DOUBLE), 6) -
             |    round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)),
             |    6) abs_diff
             |FROM c CROSS JOIN t ORDER BY digit""".stripMargin)),

    // Embedding-centroid drift (x93): per-dim means of the two id-halves
    // of the corpus compared by cosine + L2. Micro-unit BIGINT sums make
    // the cross-row reductions order-proof; the ≤64-term dot products
    // fold ordered by dimension.
    QuerySpec("x93_centroid_drift", (s, d) => {
      val e = t(s, d, "embeddings")
      graft.operators.Analytics.centroidDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1), "embedding")
    },
      Some("""WITH dims AS (SELECT unnest(range(1, 65)) i),
             |qa AS (SELECT i, sum(CAST(round(
             |      CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) s,
             |    count(*) n
             |  FROM embeddings CROSS JOIN dims
             |  WHERE vec_id % 2 = 0 GROUP BY i),
             |qb AS (SELECT i, sum(CAST(round(
             |      CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) s,
             |    count(*) n
             |  FROM embeddings CROSS JOIN dims
             |  WHERE vec_id % 2 = 1 GROUP BY i),
             |m AS (SELECT qa.i,
             |    CAST(qa.s AS DOUBLE) / CAST(qa.n AS DOUBLE) / 1e6 ca,
             |    CAST(qb.s AS DOUBLE) / CAST(qb.n AS DOUBLE) / 1e6 cb,
             |    qa.n na, qb.n nb
             |  FROM qa JOIN qb ON qa.i = qb.i)
             |SELECT min(na) n_a, min(nb) n_b,
             |  round(list_sum(list(ca * cb ORDER BY i)) /
             |    (sqrt(list_sum(list(ca * ca ORDER BY i))) *
             |     sqrt(list_sum(list(cb * cb ORDER BY i)))), 6)
             |    cosine_centroids,
             |  round(sqrt(list_sum(list((ca - cb) * (ca - cb) ORDER BY i))),
             |    6) l2_shift
             |FROM m""".stripMargin)),

    // Per-label embedding dispersion (x94): cluster-cohesion card —
    // centroid from micro-unit BIGINT sums, per-vector cosine distance
    // as an in-array fold, and the cross-row MEAN made exact by
    // quantizing each cosine to 1e-6 BIGINTs (integer sum, not an
    // ordered fold — scales to any group size).
    QuerySpec("x94_group_dispersion", (s, d) =>
      graft.operators.Analytics.groupDispersion(
        t(s, d, "embeddings"), "label", "embedding").orderBy("label"),
      Some("""WITH e AS (SELECT label g, embedding FROM embeddings
             |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
             |dims AS (SELECT unnest(range(1, 65)) i),
             |q AS (SELECT g, i, sum(CAST(round(
             |      CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) s,
             |    count(*) n
             |  FROM e CROSS JOIN dims GROUP BY 1, 2),
             |c AS (SELECT g, i,
             |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 c FROM q),
             |cc AS (SELECT g, list_sum(list(c * c ORDER BY i)) cc
             |  FROM c GROUP BY 1),
             |cl AS (SELECT g, list(c ORDER BY i) cl FROM c GROUP BY 1),
             |d AS (SELECT e.g, CAST(round((1.0 -
             |      list_sum(list_transform(range(1, 65),
             |        i -> CAST(embedding[i] AS DOUBLE) * cl[CAST(i AS INT)]))
             |      / (sqrt(list_sum(list_transform(embedding,
             |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             |         sqrt(cc))) * 1000000) AS BIGINT) cd6
             |  FROM e JOIN cl ON e.g = cl.g JOIN cc ON e.g = cc.g)
             |SELECT g "label", count(*) n,
             |  round(CAST(sum(cd6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    / 1e6, 6) mean_cos_dist,
             |  round(CAST(max(cd6) AS DOUBLE) / 1e6, 6) max_cos_dist
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // k-core peeling (x95): 80-core of the part co-purchase graph —
    // selective (peels ~7% of nodes at sf0.01) yet stable (k=90 would
    // cascade to empty: the transition is sharp) — after 6 fixed
    // peeling rounds; fixed rounds keep the operator oracle-replayable,
    // rounds past convergence are no-ops.
    QuerySpec("x95_kcore", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.join(li.withColumnRenamed("p", "q"), "o")
        .filter(col("p") < col("q"))
        .select(col("p").as("a"), col("q").as("b"))
      graft.operators.GraphOps.kCore(edges, "a", "b", k = 80, rounds = 6)
        .orderBy("node")
    },
      Some {
        val head =
          """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey o,
            |  l_partkey p FROM lineitem),
            |c AS MATERIALIZED (SELECT DISTINCT a.p u, b.p v
            |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
            |e0 AS MATERIALIZED (SELECT CAST(u AS VARCHAR) s,
            |  CAST(v AS VARCHAR) t FROM c
            |  UNION ALL SELECT CAST(v AS VARCHAR), CAST(u AS VARCHAR)
            |  FROM c)""".stripMargin
        val rounds = (1 to 6).map { i =>
          s"""n$i AS MATERIALIZED (SELECT s FROM (SELECT s, count(*) dg
             |    FROM e${i - 1} GROUP BY 1) WHERE dg >= 80),
             |e$i AS MATERIALIZED (SELECT e.s, e.t FROM e${i - 1} e
             |  JOIN n$i a ON e.s = a.s JOIN n$i b ON e.t = b.s)""".stripMargin
        }.mkString(",\n", ",\n", "\n")
        head + rounds +
          "SELECT s node, count(*) degree FROM e6 GROUP BY 1 ORDER BY 1"
      }),

    // RFM scoring (x96): recency/frequency/monetary quintiles per user —
    // ntile over a TOTAL order (metric, then id) so equal metrics split
    // deterministically; all integer arithmetic.
    QuerySpec("x96_rfm_scores", (s, d) =>
      graft.operators.Analytics.rfmScores(
        t(s, d, "events"), "user_id", "ts", "value",
        anchor = "2024-02-01").orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id,
             |    CAST(DATE '2024-02-01' - max(CAST(ts AS DATE)) AS BIGINT)
             |      recency_days,
             |    count(*) frequency,
             |    CAST(coalesce(sum(CAST(floor("value" * 100) AS BIGINT)),
             |      0) AS BIGINT) monetary_cents
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1)
             |SELECT user_id, recency_days, frequency, monetary_cents,
             |  6 - ntile(5) OVER (ORDER BY recency_days, user_id) r_score,
             |  ntile(5) OVER (ORDER BY frequency, user_id) f_score,
             |  ntile(5) OVER (ORDER BY monetary_cents, user_id) m_score
             |FROM b ORDER BY user_id""".stripMargin)),

    // Time-decayed revenue (x97): weekly half-life, ALL-INTEGER — weight
    // 2^-n carried as the BIGINT numerator 2^(20-n), one division by
    // 2^20 at the end. No pow(), no float accumulation.
    QuerySpec("x97_time_decayed", (s, d) =>
      graft.operators.Analytics.timeDecayedSum(
        t(s, d, "events"), "event_type", "ts", "value",
        halfLifeDays = 7, anchor = "2024-02-01").orderBy("event_type"),
      Some("""WITH b AS (SELECT event_type,
             |    CAST(floor("value" * 100) AS BIGINT) c,
             |    CAST(DATE '2024-02-01' - CAST(ts AS DATE) AS BIGINT) // 7 n
             |  FROM events WHERE event_type IS NOT NULL
             |    AND ts IS NOT NULL AND "value" IS NOT NULL),
             |w AS (SELECT event_type, c * (CASE WHEN n >= 20 OR n < 0
             |    THEN 0 ELSE (CAST(1 AS BIGINT) << CAST(20 - n AS INT))
             |    END) wt FROM b)
             |SELECT event_type, count(*) n,
             |  round(CAST(sum(wt) AS DOUBLE) / 1048576.0, 4) decayed_cents
             |FROM w GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Gini concentration (x98): per event_type inequality of value —
    // the rank-weighted sum Σ i·x_(i) is tie-proof (equal values
    // commute), so the rank window needs no tiebreak; all-BIGINT
    // numerator, one division.
    QuerySpec("x98_gini", (s, d) =>
      graft.operators.Analytics.giniByGroup(
        t(s, d, "events"), "event_type", "value").orderBy("event_type"),
      Some("""WITH b AS (SELECT event_type g,
             |    CAST(floor("value" * 100) AS BIGINT) c FROM events
             |  WHERE event_type IS NOT NULL AND "value" IS NOT NULL),
             |r AS (SELECT g, c, CAST(row_number() OVER (
             |    PARTITION BY g ORDER BY c) AS BIGINT) i FROM b),
             |s AS (SELECT g, count(*) n, sum(c) t, sum(i * c) a
             |  FROM r GROUP BY 1)
             |SELECT g event_type, n,
             |  CASE WHEN t > 0 THEN round(
             |    CAST(2 * a - (n + 1) * t AS DOUBLE) /
             |    CAST(n * t AS DOUBLE), 6) END gini
             |FROM s ORDER BY 1""".stripMargin)),

    // Cohort LTV curve (x99): x44's revenue twin over the multi-year
    // orders span — cumulative cents per (cohort, offset) cell grid,
    // divided by cohort size. Integer until the last division.
    QuerySpec("x99_cohort_ltv", (s, d) =>
      graft.operators.Analytics.cohortLtv(
        t(s, d, "orders"), "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("cohort_month", "month_offset"),
      Some("""WITH f AS (SELECT o_custkey u,
             |    CAST(date_trunc('month', min(o_orderdate)) AS DATE) cm
             |  FROM orders GROUP BY 1),
             |sz AS (SELECT cm, count(*) cohort_size FROM f GROUP BY 1),
             |o AS (SELECT o_custkey u,
             |    CAST(date_trunc('month', o_orderdate) AS DATE) am,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) c FROM orders),
             |cells AS (SELECT f.cm,
             |    CAST((year(am) - year(cm)) * 12 +
             |      (month(am) - month(cm)) AS BIGINT) mo,
             |    count(*) n_events, sum(c) rev
             |  FROM o JOIN f ON o.u = f.u GROUP BY 1, 2),
             |cum AS (SELECT cm, mo, n_events,
             |    CAST(sum(rev) OVER (PARTITION BY cm ORDER BY mo
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum_cents
             |  FROM cells)
             |SELECT CAST(cm AS VARCHAR) cohort_month, mo month_offset,
             |  n_events, cum_cents, cohort_size,
             |  round(CAST(cum_cents AS DOUBLE) /
             |    CAST(cohort_size AS DOUBLE) / 100.0, 4) ltv_per_user
             |FROM cum JOIN sz USING (cm)
             |ORDER BY 1, 2""".stripMargin)),

    // Integrity audit (x100): lineitem↔orders DQ gate — the synthetic
    // data REALLY violates (257 childless orders, 29k ship-before-order
    // rows at sf0.01), so the audit's numbers are load-bearing, not
    // vacuous zeros. Anti-joins + one conditional-count pass + one
    // joined pass.
    QuerySpec("x100_integrity_audit", (s, d) =>
      graft.operators.Analytics.integrityAudit(
        t(s, d, "lineitem"), t(s, d, "orders"),
        "l_orderkey", "o_orderkey",
        factChecks = Seq(
          ("qty_out_of_bounds",
            col("l_quantity") < 1 || col("l_quantity") > 50),
          ("nonpositive_price", col("l_extendedprice") <= 0),
          ("discount_out_of_range",
            col("l_discount") < 0 || col("l_discount") > 1)),
        joinedChecks = Seq(
          ("ship_before_order", col("l_shipdate") < col("o_orderdate"))))
        .orderBy("check"),
      Some("""SELECT 'childless_dim_rows' "check", CAST((
             |    SELECT count(*) FROM orders WHERE o_orderkey NOT IN (
             |      SELECT l_orderkey FROM lineitem)) AS BIGINT) n_violations
             |UNION ALL
             |SELECT 'discount_out_of_range', (SELECT count(*) FROM lineitem
             |  WHERE l_discount < 0 OR l_discount > 1)
             |UNION ALL
             |SELECT 'nonpositive_price', (SELECT count(*) FROM lineitem
             |  WHERE l_extendedprice <= 0)
             |UNION ALL
             |SELECT 'orphan_fact_rows', (SELECT count(*) FROM lineitem
             |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |UNION ALL
             |SELECT 'qty_out_of_bounds', (SELECT count(*) FROM lineitem
             |  WHERE l_quantity < 1 OR l_quantity > 50)
             |UNION ALL
             |SELECT 'ship_before_order', (SELECT count(*)
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE l_shipdate < o_orderdate)
             |ORDER BY 1""".stripMargin)),

    // Rolling 7-day active users (x101): the WAU curve — (day, user)
    // census once, bounded range-join expansion (7 × census, never
    // 7 × fact), distinct count per day. Integer counts; ISO-string
    // days (c2 precedent).
    QuerySpec("x101_rolling_wau", (s, d) =>
      graft.operators.Analytics.rollingActiveUsers(
        t(s, d, "events"), "user_id", "ts", windowDays = 7)
        .orderBy("day"),
      Some("""WITH census AS (SELECT DISTINCT CAST(ts AS DATE) d, user_id
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |days AS (SELECT DISTINCT d dd FROM census)
             |SELECT CAST(dd AS VARCHAR) "day",
             |  count(DISTINCT user_id) active_users
             |FROM days JOIN census
             |  ON d <= dd AND d >= dd - 6
             |GROUP BY dd ORDER BY 1""".stripMargin)),

    // Streaming SimHash near-dup (st14): x4's fuzzy dedup as documents
    // ARRIVE — per-row signatures (no groupBy, append-mode-safe),
    // pigeonhole bucket state via flatMapGroupsWithState, pairs emitted
    // when the later member lands. Graded against the IDENTICAL oracle
    // as x4 (the st4b-vs-m1 pattern): slicing into micro-batches must
    // not change the pair set.
    QuerySpec("st14_stream_simhash_neardup", (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      // 2 slices (r12 directive #2): the minimum that exercises
      // cross-batch bucket state, one fewer fixed-cost trigger
      replayFiles(s, docs, 2)(Streams.runStreamingSimhashAvailableNow(_,
        "doc_id", "text", shingleWords = 3, maxHamming = 3))
        .orderBy("id_a", "id_b")
    },
      Some(simhashOracleSql)),

    // Hard-negative mining (x105): per-vector top-k most-similar
    // DIFFERENT-label vectors via the x51 ANN-join machinery (shared
    // probe/assign stages, label riding the assignment's max_by struct) —
    // the contrastive-training prep an embedding pipeline runs corpus-wide.
    // Mismatch filter precedes the top-k window so positives can't crowd
    // out the k negative slots.
    QuerySpec("x105_hard_negatives", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      SimilarityOps.hardNegatives(emb.filter(col("vec_id") >= 16),
        "vec_id", "embedding", "label", cents, "cid", "cvec",
        k = 5, nprobe = 4)
        .orderBy("query_id", "nn_rank")
    },
      Some("""WITH cent AS (SELECT vec_id cid, embedding cvec FROM embeddings
             |  WHERE vec_id < 16),
             |base AS (SELECT vec_id, embedding, label FROM embeddings
             |  WHERE vec_id >= 16),
             |assign AS (SELECT b.vec_id, b.embedding, b.label,
             |    c.cid centroid
             |  FROM base b CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY b.vec_id
             |    ORDER BY list_cosine_similarity(b.embedding, c.cvec) DESC,
             |      c.cid) = 1),
             |probes AS (SELECT q.vec_id qid, c.cid FROM base q CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(c.cvec, q.embedding) DESC,
             |      c.cid) <= 4),
             |cand AS (SELECT p.qid, a.vec_id, a.label,
             |    a.embedding ae, q.embedding qe
             |  FROM probes p JOIN assign a ON a.centroid = p.cid
             |  JOIN base q ON q.vec_id = p.qid
             |  WHERE a.vec_id <> p.qid AND a.label IS DISTINCT FROM q.label),
             |dots AS (SELECT qid, vec_id, label,
             |    list_reduce(list_transform(range(1, len(ae) + 1),
             |      j -> CAST(qe[j] AS DOUBLE) * CAST(ae[j] AS DOUBLE)),
             |      (x, y) -> x + y) dot,
             |    list_reduce(list_transform(range(1, len(qe) + 1),
             |      j -> CAST(qe[j] AS DOUBLE) * CAST(qe[j] AS DOUBLE)),
             |      (x, y) -> x + y) na,
             |    list_reduce(list_transform(range(1, len(ae) + 1),
             |      j -> CAST(ae[j] AS DOUBLE) * CAST(ae[j] AS DOUBLE)),
             |      (x, y) -> x + y) nb
             |  FROM cand),
             |scored AS (SELECT qid query_id, vec_id neighbor_id,
             |    label neighbor_label,
             |    round(CASE WHEN na > 0 AND nb > 0
             |      THEN dot / (sqrt(na) * sqrt(nb)) ELSE 0.0 END, 4) score
             |  FROM dots)
             |SELECT query_id, neighbor_id, neighbor_label, score,
             |  CAST(rk AS BIGINT) nn_rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY score DESC, neighbor_id) rk FROM scored)
             |WHERE rk <= 5 ORDER BY query_id, nn_rank""".stripMargin)),

    // Small-file compaction planner (x104): table maintenance at scale —
    // group each partition's sub-threshold slices into ~target-byte
    // rewrite tasks (size-desc first-fit via window prefix sum, tasks
    // never span partitions), keep healthy slices untouched. The graded
    // manifest derives from documents data so the oracle can rebuild it.
    QuerySpec("x104_compaction_plan", (s, d) => {
      val slices = t(s, d, "documents")
        .groupBy(col("source"), (col("doc_id") % 50).as("slice_id"))
        .agg(sum(col("n_chars")).as("bytes"))
      graft.operators.MergeOps.compactionPlan(
        slices, "source", "slice_id", "bytes",
        targetBytes = 4000L, smallThreshold = 1500L)
        .orderBy("source", "slice_id")
    },
      Some("""WITH sl AS (SELECT source, doc_id % 50 slice_id,
             |    CAST(sum(n_chars) AS BIGINT) bytes
             |  FROM documents GROUP BY 1, 2),
             |sm AS (SELECT source, slice_id, bytes,
             |    sum(bytes) OVER (PARTITION BY source
             |      ORDER BY bytes DESC, slice_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
             |  FROM sl WHERE bytes < 1500)
             |SELECT source, slice_id, bytes, 'rewrite' AS "action",
             |  CAST(floor((cum - bytes) / 4000) AS BIGINT) task_id
             |FROM sm
             |UNION ALL
             |SELECT source, slice_id, bytes, 'keep', NULL
             |FROM sl WHERE bytes >= 1500
             |ORDER BY source, slice_id""".stripMargin)),

    // Weighted sampling without replacement (x103): Efraimidis-Spirakis
    // A-ES keys (ln(u)/w, top-k per group) — the principled
    // "sample k docs per source proportional-to-quality" primitive for
    // data mixing. u is the exactly-representable midpoint uniform from
    // md5 (x24/x37 convention); the key rounds to 12 dp before ranking
    // so libm-ln ulp differences cannot flip ranks cross-engine.
    QuerySpec("x103_weighted_sample", (s, d) =>
      graft.operators.ScaleOps.weightedSample(
        t(s, d, "orders").select("o_orderkey", "o_orderpriority",
          "o_totalprice"),
        "o_orderpriority", "o_orderkey", "o_totalprice",
        salt = "esample:", k = 50)
        .orderBy("o_orderpriority", "rk"),
      Some("""WITH u AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
             |    (CAST(list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('esample:' || CAST(o_orderkey AS VARCHAR)),
             |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) * 2 + 1) / 8589934592.0 uval
             |  FROM orders
             |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
             |keyed AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
             |    round(ln(uval) / CAST(o_totalprice AS DOUBLE), 12) es_key
             |  FROM u),
             |ranked AS (SELECT *, row_number() OVER (
             |    PARTITION BY o_orderpriority
             |    ORDER BY es_key DESC, o_orderkey) rk FROM keyed)
             |SELECT o_orderkey, o_orderpriority, o_totalprice, es_key, rk
             |FROM ranked WHERE rk <= 50
             |ORDER BY o_orderpriority, rk""".stripMargin)),

    // Winnowing fingerprint near-dup (x102): the MOSS local-fingerprinting
    // algorithm (Schleimer et al. SIGMOD'03) — window-min over position-
    // ordered 60-bit md5 gram hashes, so the inverted index is
    // ~2/(w+1)-dense vs full shingling while still guaranteeing every
    // shared run of w+k-1 tokens yields a shared fingerprint. Fingerprints
    // in > 512 docs are boilerplate and dropped pre-join (the hot-shingle
    // guard bounding every index bucket). The oracle rebuilds each hash
    // digit-by-digit (x4 convention) and replays the window min +
    // full-window filter + frequency cap with SQL window functions.
    QuerySpec("x102_winnowing_neardup", (s, d) =>
      DedupOps.winnowingPairs(tw(s, d, "documents"), "doc_id", "text",
        shingleWords = 4, window = 4, minShared = 3)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, list_transform(
             |    range(0, greatest(len(tk)-3, 0)),
             |    i -> array_to_string(tk[i+1:i+4], ' ')) s FROM toks),
             |p AS (SELECT doc_id, s[pos+1] g, pos
             |  FROM (SELECT doc_id, s, unnest(range(0, len(s))) pos
             |        FROM sh WHERE len(s) > 0)),
             |hh AS (SELECT doc_id, pos, list_reduce(list_transform(range(1, 16),
             |    i -> CAST(strpos('0123456789abcdef',
             |      substr(md5(g), CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) h FROM p),
             |wm AS (SELECT doc_id, pos,
             |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) wmin,
             |    count(*) OVER (PARTITION BY doc_id) m
             |  FROM hh),
             |fp AS (SELECT DISTINCT doc_id, wmin FROM wm
             |  WHERE pos <= greatest(m - 4, 0)),
             |nf AS (SELECT doc_id, count(*) nf FROM fp GROUP BY 1),
             |hot AS (SELECT wmin FROM fp GROUP BY wmin
             |  HAVING count(*) > 512),
             |fpc AS (SELECT doc_id, wmin FROM fp
             |  WHERE wmin NOT IN (SELECT wmin FROM hot)),
             |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b,
             |    count(*) n_shared
             |  FROM fpc a JOIN fpc b ON a.wmin = b.wmin
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT id_a, id_b, n_shared,
             |  round(n_shared * 1.0 / least(ca.nf, cb.nf), 4) overlap
             |FROM pairs JOIN nf ca ON id_a = ca.doc_id
             |JOIN nf cb ON id_b = cb.doc_id
             |ORDER BY 1, 2""".stripMargin)),

    // Gopher/C4 structural quality gates (x106): the hard pass/fail crawl
    // filters (word-count bounds, mean word length, symbol/alpha word
    // ratios, bullet/ellipsis line ratios, C4 terminal punctuation).
    // Every threshold is an integer cross-multiplication — no float
    // exists, so the booleans hash-match any engine; pure map-side
    // expressions at scan speed.
    QuerySpec("x106_gopher_quality", (s, d) =>
      graft.operators.TextOps.gopherQualityFlags(
        t(s, d, "documents"), "doc_id", "text", minWords = 30)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(
             |      trim(coalesce(text, '')), '\s+'),
             |      x -> length(x) > 0) wl,
             |    list_filter(string_split(coalesce(text, ''), chr(10)),
             |      l -> length(trim(l)) > 0) ll,
             |    trim(coalesce(text, '')) tt
             |  FROM documents),
             |c AS (SELECT doc_id,
             |    CAST(len(wl) AS BIGINT) n_words,
             |    CAST(len(ll) AS BIGINT) n_lines,
             |    CAST(coalesce(list_sum(list_transform(wl,
             |      x -> length(x))), 0) AS BIGINT) swc,
             |    CAST(len(list_filter(wl, x -> contains(x, '#')
             |      OR contains(x, '...') OR contains(x, '…')))
             |      AS BIGINT) n_sym,
             |    CAST(len(list_filter(wl,
             |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) n_alpha,
             |    CAST(len(list_filter(ll, l -> starts_with(trim(l), '-')
             |      OR starts_with(trim(l), '*')
             |      OR starts_with(trim(l), '•'))) AS BIGINT) n_bul,
             |    CAST(len(list_filter(ll, l -> trim(l) LIKE '%...'
             |      OR trim(l) LIKE '%…')) AS BIGINT) n_ell,
             |    regexp_matches(tt, '[.!?"]$') tp
             |  FROM w),
             |f AS (SELECT doc_id, n_words, n_lines,
             |    n_words > 0 AND n_words >= 30 AND n_words <= 100000 wco,
             |    n_words > 0 AND 3 * n_words <= swc
             |      AND swc <= 10 * n_words mwo,
             |    n_words > 0 AND 10 * n_sym < n_words so,
             |    n_words > 0 AND 5 * n_alpha >= 4 * n_words ao,
             |    n_words > 0 AND 10 * n_bul < 9 * n_lines bo,
             |    n_words > 0 AND 10 * n_ell < 3 * n_lines eo,
             |    n_words > 0 AND tp tpo
             |  FROM c)
             |SELECT doc_id, n_words, n_lines, wco word_count_ok,
             |  mwo mean_word_len_ok, so symbol_ok, ao alpha_ok,
             |  bo bullet_ok, eo ellipsis_ok, tpo terminal_punct,
             |  wco AND mwo AND so AND ao AND bo AND eo AND tpo pass_all
             |FROM f ORDER BY doc_id""".stripMargin)),

    // Most-duplicated passages (x107): top-k 8-gram shingles by corpus
    // occurrence count with distinct-doc counts — the boilerplate audit
    // that sizes dup-span thresholds and x102's hot-shingle cap. One
    // two-level hash aggregate + TakeOrdered; integer counts, total
    // (n DESC, passage) order.
    QuerySpec("x107_top_dup_passages", (s, d) =>
      graft.operators.TextOps.topDuplicatedPassages(
        t(s, d, "documents"), "doc_id", "text", gramWords = 8, k = 50),
      Some("""WITH toks AS (SELECT doc_id,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(coalesce(text, ''))) > 0),
             |sh AS (SELECT doc_id, unnest(list_transform(
             |    range(0, greatest(len(tk) - 7, 0)),
             |    i -> array_to_string(tk[i+1:i+8], ' '))) passage
             |  FROM toks),
             |pd AS (SELECT passage, doc_id, count(*) n FROM sh
             |  GROUP BY 1, 2),
             |agg AS (SELECT passage, count(*) n_docs,
             |    CAST(sum(n) AS BIGINT) n_occurrences
             |  FROM pd GROUP BY 1 HAVING sum(n) >= 2)
             |SELECT passage, n_docs, n_occurrences FROM agg
             |ORDER BY n_occurrences DESC, passage LIMIT 50""".stripMargin)),

    // Dedup resolution (x108): pair list → connected components → one
    // SURVIVOR per cluster (highest score, ties lowest id), singletons
    // survive — the keep/drop + canonical-provenance step every near-dup
    // family feeds. Graded on exact-hash pairs (md5(text) equality, so
    // the oracle's clusters are equality groups); CC multi-hop behavior
    // is separately graded by x13/x13b.
    QuerySpec("x108_dedup_resolution", (s, d) => {
      val docs = t(s, d, "documents")
      val fp = docs.select(col("doc_id"), md5(col("text")).as("__f"))
      val pairs = fp.as("a").join(fp.as("b"),
          col("a.__f") === col("b.__f") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      graft.operators.DedupOps.dedupResolution(pairs, "id_a", "id_b",
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars")
        .orderBy("doc_id")
    },
      Some("""WITH fp AS (SELECT doc_id, md5(text) f, n_chars
             |  FROM documents),
             |dup AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY f) root
             |  FROM fp WHERE f IN (SELECT f FROM fp GROUP BY f
             |    HAVING count(*) >= 2)),
             |m AS (SELECT fp.doc_id, coalesce(dup.root, fp.doc_id)
             |    cluster_root, fp.n_chars
             |  FROM fp LEFT JOIN dup USING (doc_id)),
             |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_root
             |    ORDER BY n_chars DESC, doc_id) rk FROM m),
             |w AS (SELECT cluster_root, doc_id canonical_id FROM r
             |  WHERE rk = 1)
             |SELECT r.doc_id, r.cluster_root, w.canonical_id, r.rk = 1 keep
             |FROM r JOIN w USING (cluster_root) ORDER BY r.doc_id"""
        .stripMargin)),

    // Cross-source contamination matrix (x109): distinct shared 5-grams
    // per source pair + containment vs the smaller inventory — the
    // train/eval independence audit. Buckets in the gram self-join are
    // bounded by |sources|, never the corpus.
    QuerySpec("x109_source_contamination", (s, d) =>
      graft.operators.TextOps.crossSourceContamination(
        tw(s, d, "documents"), "source", "text", gramWords = 5)
        .orderBy("source_a", "source_b"),
      Some("""WITH toks AS (SELECT source,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE source IS NOT NULL
             |    AND text IS NOT NULL AND length(trim(text)) > 0),
             |sh AS (SELECT DISTINCT source, unnest(list_transform(
             |    range(0, greatest(len(tk) - 4, 0)),
             |    i -> array_to_string(tk[i+1:i+5], ' '))) g
             |  FROM toks),
             |sz AS (SELECT source, count(*) n FROM sh GROUP BY 1),
             |p AS (SELECT a.source source_a, b.source source_b,
             |    count(*) n_shared
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT source_a, source_b, n_shared,
             |  round(CAST(n_shared AS DOUBLE) /
             |    CAST(least(sa.n, sb.n) AS DOUBLE), 4) containment
             |FROM p JOIN sz sa ON source_a = sa.source
             |JOIN sz sb ON source_b = sb.source
             |ORDER BY 1, 2""".stripMargin)),

    // Per-source KL divergence from the corpus word mix (x110): the
    // mixture-design diagnostic. Terms fixed-pointed to BIGINT at 10 dp
    // and summed commutatively (the x70 picopoint pattern) — O(1)
    // per-source state, no ordered fold.
    QuerySpec("x110_source_divergence", (s, d) =>
      graft.operators.TextOps.sourceDivergence(
        t(s, d, "documents"), "source", "text")
        .orderBy("source"),
      Some("""WITH tok AS (SELECT source, unnest(list_filter(
             |    regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
             |    x -> length(x) > 0)) w
             |  FROM documents WHERE source IS NOT NULL
             |    AND text IS NOT NULL),
             |sw AS (SELECT source, w, count(*) c FROM tok GROUP BY 1, 2),
             |st AS (SELECT source, CAST(sum(c) AS BIGINT) t,
             |    count(*) vocab FROM sw GROUP BY 1),
             |cw AS (SELECT w, CAST(sum(c) AS BIGINT) cw FROM sw
             |  GROUP BY 1),
             |tt AS (SELECT CAST(sum(cw) AS BIGINT) tt FROM cw),
             |terms AS (SELECT sw.source,
             |    CAST(round((CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) *
             |      ln((CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) /
             |         (CAST(cw AS DOUBLE) / CAST(tt AS DOUBLE))) * 1e10,
             |      0) AS BIGINT) ki
             |  FROM sw JOIN st USING (source) JOIN cw USING (w)
             |  CROSS JOIN tt)
             |SELECT t.source, t.t n_tokens, t.vocab,
             |  round(CAST(sum(ki) AS DOUBLE) / 1e10, 6) kl_nats
             |FROM terms JOIN st t USING (source)
             |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // CUSUM drift alarms (x111): Page's sequential change detector over
    // dense daily counts per event type — surge and drop sides via the
    // drawdown identity (running sum + running min/max windows, no
    // recursion), all-BIGINT, zero-filled days included so a silent feed
    // registers as a drop.
    QuerySpec("x111_cusum_alarms", (s, d) =>
      graft.operators.Analytics.cusumAlarms(
        t(s, d, "events"), "event_type", "ts",
        target = 70L, threshold = 150L)
        .orderBy("event_type", "day"),
      Some("""WITH dd AS (SELECT event_type g, CAST(ts AS DATE) dy,
             |    count(*) n FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |sp AS (SELECT g, min(dy) lo, max(dy) hi FROM dd GROUP BY 1),
             |grid AS (SELECT g, CAST(unnest(generate_series(lo, hi,
             |    INTERVAL '1 day')) AS DATE) dy FROM sp),
             |j AS (SELECT grid.g, grid.dy,
             |    CAST(coalesce(dd.n, 0) AS BIGINT) n
             |  FROM grid LEFT JOIN dd ON grid.g = dd.g
             |    AND grid.dy = dd.dy),
             |c AS (SELECT g, dy, n, CAST(sum(n - 70) OVER (PARTITION BY g
             |    ORDER BY dy ROWS UNBOUNDED PRECEDING) AS BIGINT) y
             |  FROM j),
             |m AS (SELECT g, dy, n, y,
             |    least(CAST(min(y) OVER (PARTITION BY g ORDER BY dy
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) ymin,
             |    greatest(CAST(max(y) OVER (PARTITION BY g ORDER BY dy
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) ymax
             |  FROM c)
             |SELECT g event_type, CAST(dy AS VARCHAR) "day", n,
             |  y - ymin s_surge, ymax - y s_drop,
             |  y - ymin > 150 alarm_surge, ymax - y > 150 alarm_drop
             |FROM m ORDER BY 1, 2""".stripMargin)),

    // Quantile normalization (x112): each order's price replaced by the
    // corpus order statistic at its within-priority quantile — rank-map
    // normalization where every output is a REAL corpus value (no
    // interpolation float). Target rank = (r·N + n_s − 1) div n_s, pure
    // BIGINT; corpus ranks via the globalRank range-partition kernel.
    QuerySpec("x112_quantile_normalize", (s, d) =>
      graft.operators.ScaleOps.quantileNormalize(
        t(s, d, "orders"), "o_orderpriority", "o_totalprice",
        "o_orderkey")
        .orderBy("o_orderkey"),
      Some("""WITH b AS (SELECT o_orderkey, o_orderpriority, o_totalprice
             |  FROM orders WHERE o_orderpriority IS NOT NULL
             |    AND o_totalprice IS NOT NULL),
             |nn AS (SELECT count(*) n FROM b),
             |corpus AS (SELECT o_totalprice cv, row_number() OVER (
             |    ORDER BY o_totalprice, o_orderkey) tr FROM b),
             |r AS (SELECT b.*, row_number() OVER (
             |    PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice, o_orderkey) r,
             |    count(*) OVER (PARTITION BY o_orderpriority) ns FROM b)
             |SELECT o_orderkey, o_orderpriority, o_totalprice,
             |  corpus.cv norm_value
             |FROM r CROSS JOIN nn
             |JOIN corpus ON (r * nn.n + ns - 1) // ns = corpus.tr
             |ORDER BY o_orderkey""".stripMargin)),

    // Class separability (x114): per-label cohesion (mean member-to-own-
    // centroid cosine) vs confusability (max inter-centroid cosine) and
    // the margin — the labeled-embedding screen feeding hard-negative
    // mining. x55's centroid + x18's cosine rounding conventions.
    QuerySpec("x114_class_separability", (s, d) =>
      graft.operators.SimilarityOps.classSeparability(
        t(s, d, "embeddings"), "embedding", "label")
        .orderBy("label"),
      Some("""WITH m AS (SELECT CAST("label" AS BIGINT) lb,
             |    generate_subscripts(embedding, 1) pos,
             |    CAST(unnest(embedding) AS DOUBLE) val
             |  FROM embeddings
             |  WHERE "label" IS NOT NULL AND embedding IS NOT NULL),
             |c AS (SELECT lb, list(round(mv, 6) ORDER BY pos) cvec
             |  FROM (SELECT lb, pos, avg(val) mv FROM m GROUP BY 1, 2)
             |  GROUP BY 1),
             |s AS (SELECT CAST(e."label" AS BIGINT) lb,
             |    round(CAST(list_cosine_similarity(
             |      list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
             |      c.cvec) AS DOUBLE), 4) sim
             |  FROM embeddings e JOIN c ON CAST(e."label" AS BIGINT) = c.lb
             |  WHERE e.embedding IS NOT NULL),
             |intra AS (SELECT lb, count(*) n, round(avg(sim), 4)
             |    intra_cos FROM s GROUP BY 1),
             |inter AS (SELECT a.lb,
             |    max(round(CAST(list_cosine_similarity(a.cvec, b.cvec)
             |      AS DOUBLE), 4)) max_inter_cos
             |  FROM c a JOIN c b ON a.lb <> b.lb GROUP BY 1)
             |SELECT i.lb "label", i.n, i.intra_cos, x.max_inter_cos,
             |  round(i.intra_cos - x.max_inter_cos, 4) margin
             |FROM intra i LEFT JOIN inter x USING (lb)
             |ORDER BY i.lb""".stripMargin)),

    // N-gram novelty (x113): per-doc fraction of distinct 8-grams seen
    // nowhere else — the uniqueness complement to x107's boilerplate
    // ranking. Distinct (gram, doc) → gram df → join-back count; integer
    // counts + one rounded division.
    QuerySpec("x113_ngram_novelty", (s, d) =>
      graft.operators.TextOps.ngramNovelty(
        tw(s, d, "documents"), "doc_id", "text", gramWords = 8)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(coalesce(text, ''))) > 0),
             |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
             |    range(0, greatest(len(tk) - 7, 0)),
             |    i -> array_to_string(tk[i+1:i+8], ' '))) g
             |  FROM toks),
             |df AS (SELECT g, count(*) df FROM sh GROUP BY 1)
             |SELECT doc_id, count(*) n_grams,
             |  CAST(count(*) FILTER (df = 1) AS BIGINT) n_novel,
             |  round(CAST(count(*) FILTER (df = 1) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 4) novelty
             |FROM sh JOIN df USING (g)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming source divergence (st18): x110's KL monitor with the
    // per-(source, word) counts streamed as complete-mode state and the
    // fixed-point finalization batch-side — graded on x110's oracle
    // verbatim.
    QuerySpec("st18_stream_divergence", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      Streams.runStreamingDivergenceAvailableNow(s, d, "documents.parquet",
        schema, "source", "text")
        .orderBy("source")
    },
      Some("""WITH tok AS (SELECT source, unnest(list_filter(
             |    regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
             |    x -> length(x) > 0)) w
             |  FROM documents WHERE source IS NOT NULL
             |    AND text IS NOT NULL),
             |sw AS (SELECT source, w, count(*) c FROM tok GROUP BY 1, 2),
             |st AS (SELECT source, CAST(sum(c) AS BIGINT) t,
             |    count(*) vocab FROM sw GROUP BY 1),
             |cw AS (SELECT w, CAST(sum(c) AS BIGINT) cw FROM sw
             |  GROUP BY 1),
             |tt AS (SELECT CAST(sum(cw) AS BIGINT) tt FROM cw),
             |terms AS (SELECT sw.source,
             |    CAST(round((CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) *
             |      ln((CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) /
             |         (CAST(cw AS DOUBLE) / CAST(tt AS DOUBLE))) * 1e10,
             |      0) AS BIGINT) ki
             |  FROM sw JOIN st USING (source) JOIN cw USING (w)
             |  CROSS JOIN tt)
             |SELECT t.source, t.t n_tokens, t.vocab,
             |  round(CAST(sum(ki) AS DOUBLE) / 1e10, 6) kl_nats
             |FROM terms JOIN st t USING (source)
             |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // Streaming weighted sample (st17): x103's A-ES sampling with the
    // per-group top-k held as a TopKByScore aggregator buffer — custom
    // typed Aggregator AS streaming state, bounded at k rows per group.
    // Deterministic md5 keys make the drained sample bitwise equal to
    // batch; graded on x103's oracle restricted to the carried columns.
    QuerySpec("st17_stream_weighted_sample", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      Streams.runStreamingWeightedSampleAvailableNow(s, d, "orders.parquet",
        schema, "o_orderpriority", "o_orderkey", "o_totalprice",
        salt = "esample:", k = 50)
        .select(col("g").as("o_orderpriority"),
          col("id").as("o_orderkey"), col("es_key"), col("rk"))
        .orderBy("o_orderpriority", "rk")
    },
      Some("""WITH u AS (SELECT o_orderkey, o_orderpriority,
             |    (CAST(list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('esample:' || CAST(o_orderkey AS VARCHAR)),
             |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) * 2 + 1) / 8589934592.0
             |      uval,
             |    o_totalprice
             |  FROM orders
             |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
             |keyed AS (SELECT o_orderkey, o_orderpriority,
             |    round(ln(uval) / CAST(o_totalprice AS DOUBLE), 12) es_key
             |  FROM u),
             |ranked AS (SELECT *, row_number() OVER (
             |    PARTITION BY o_orderpriority
             |    ORDER BY es_key DESC, o_orderkey) rk FROM keyed)
             |SELECT o_orderpriority, o_orderkey, es_key, rk
             |FROM ranked WHERE rk <= 50
             |ORDER BY o_orderpriority, rk""".stripMargin)),

    // Streaming CUSUM (st16): x111's sequential change detector with the
    // per-(group, day) counts STREAMED as complete-mode state; the
    // drawdown-identity finalization runs batch-side — graded on x111's
    // oracle verbatim.
    QuerySpec("st16_stream_cusum", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runStreamingCusumAvailableNow(s, d, "events.parquet", schema,
        "event_type", target = 70L, threshold = 150L)
        .orderBy("event_type", "day")
    },
      Some("""WITH dd AS (SELECT event_type g, CAST(ts AS DATE) dy,
             |    count(*) n FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |sp AS (SELECT g, min(dy) lo, max(dy) hi FROM dd GROUP BY 1),
             |grid AS (SELECT g, CAST(unnest(generate_series(lo, hi,
             |    INTERVAL '1 day')) AS DATE) dy FROM sp),
             |j AS (SELECT grid.g, grid.dy,
             |    CAST(coalesce(dd.n, 0) AS BIGINT) n
             |  FROM grid LEFT JOIN dd ON grid.g = dd.g
             |    AND grid.dy = dd.dy),
             |c AS (SELECT g, dy, n, CAST(sum(n - 70) OVER (PARTITION BY g
             |    ORDER BY dy ROWS UNBOUNDED PRECEDING) AS BIGINT) y
             |  FROM j),
             |m AS (SELECT g, dy, n, y,
             |    least(CAST(min(y) OVER (PARTITION BY g ORDER BY dy
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) ymin,
             |    greatest(CAST(max(y) OVER (PARTITION BY g ORDER BY dy
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) ymax
             |  FROM c)
             |SELECT g event_type, CAST(dy AS VARCHAR) "day", n,
             |  y - ymin s_surge, ymax - y s_drop,
             |  y - ymin > 150 alarm_surge, ymax - y > 150 alarm_drop
             |FROM m ORDER BY 1, 2""".stripMargin)),

    // Streaming passage-count audit (st15): x107's boilerplate audit with
    // the first aggregate STREAMED — per-(passage, doc) counts are the
    // mergeable state; finalization is batch-side, bitwise equal to the
    // batch operator, graded on x107's oracle verbatim.
    QuerySpec("st15_stream_passage_counts", (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      // 2 slices (r12 directive #2): cross-batch census merging is
      // exercised by the second batch; one fewer fixed-cost trigger
      replayFiles(s, docs, 2)(Streams.runStreamingPassageCountsAvailableNow(_,
        "doc_id", "text", gramWords = 8, k = 50))
    },
      Some("""WITH toks AS (SELECT doc_id,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(coalesce(text, ''))) > 0),
             |sh AS (SELECT doc_id, unnest(list_transform(
             |    range(0, greatest(len(tk) - 7, 0)),
             |    i -> array_to_string(tk[i+1:i+8], ' '))) passage
             |  FROM toks),
             |pd AS (SELECT passage, doc_id, count(*) n FROM sh
             |  GROUP BY 1, 2),
             |agg AS (SELECT passage, count(*) n_docs,
             |    CAST(sum(n) AS BIGINT) n_occurrences
             |  FROM pd GROUP BY 1 HAVING sum(n) >= 2)
             |SELECT passage, n_docs, n_occurrences FROM agg
             |ORDER BY n_occurrences DESC, passage LIMIT 50""".stripMargin)),

    // Multi-granularity rollup (x115): (type, day) + (type) + grand total
    // from ONE Expand+shuffle — exact BIGINT cents, '(all)' sentinel for
    // subtotal rows so no GROUPING() rendering crosses engines.
    QuerySpec("x115_rollup_multigrain", (s, d) =>
      Analytics.rollupMultiGrain(t(s, d, "events"), "event_type", "ts",
        "value")
        .orderBy("grain", "event_type", "day"),
      Some("""WITH base AS (SELECT CAST(event_type AS VARCHAR) g,
             |    CAST(CAST(ts AS DATE) AS VARCHAR) d,
             |    CAST(round(value*100, 0) AS BIGINT) c
             |  FROM events WHERE event_type IS NOT NULL
             |    AND ts IS NOT NULL)
             |SELECT coalesce(g, '(all)') event_type,
             |  coalesce(d, '(all)') "day",
             |  CAST(2*grouping(g) + grouping(d) AS BIGINT) grain,
             |  CAST(count(*) AS BIGINT) n,
             |  round(CAST(sum(c) AS DOUBLE)/100.0, 2) sum_value
             |FROM base GROUP BY ROLLUP(g, d)
             |ORDER BY grain, event_type, "day" """.stripMargin)),

    // Wide pivot (x116): user × event-type feature matrix, declared value
    // list (single job, stable schema), dense 0-filled cells, exact cents.
    QuerySpec("x116_pivot_wide", (s, d) =>
      Analytics.pivotWide(t(s, d, "events"), "user_id", "event_type",
        "value", Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id"),
      Some {
        val cells = Seq("click", "error", "purchase", "signup", "view")
          .map { ty =>
            s"""  round(CAST(coalesce(sum(CAST(round(value*100, 0) AS BIGINT))
               |    FILTER (event_type = '$ty'), 0) AS DOUBLE)/100.0, 2)
               |    sum_$ty,
               |  CAST(count(*) FILTER (event_type = '$ty') AS BIGINT)
               |    n_$ty""".stripMargin
          }.mkString(",\n")
        s"""SELECT user_id,
           |$cells
           |FROM events WHERE user_id IS NOT NULL AND event_type IN
           |  ('click', 'error', 'purchase', 'signup', 'view')
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Order-independent table checksum (x117): per-bucket BIT_XOR of
    // 60-bit md5 row digests — the 100 TB replication verifier; compare
    // |buckets| rows instead of tables. Oracle rebuilds the digest
    // digit-by-digit (the x4/st17 md5-fold convention).
    QuerySpec("x117_table_checksum", (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("o_orderdate"))
      Analytics.tableChecksum(o, "o_orderkey",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate"), buckets = 16)
        .orderBy("bucket")
    },
      Some("""WITH h AS (SELECT CAST(o_orderkey % 16 AS BIGINT) bucket,
             |  list_reduce(list_transform(range(1, 16),
             |    i -> CAST(strpos('0123456789abcdef', substr(md5(
             |      concat_ws('|',
             |        coalesce(CAST(o_orderkey AS VARCHAR), '(null)'),
             |        coalesce(CAST(o_custkey AS VARCHAR), '(null)'),
             |        coalesce(CAST(o_orderstatus AS VARCHAR), '(null)'),
             |        coalesce(CAST(o_orderpriority AS VARCHAR), '(null)'),
             |        coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
             |          '(null)'))), CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) h
             |  FROM orders)
             |SELECT bucket, CAST(count(*) AS BIGINT) n_rows,
             |  bit_xor(h) checksum
             |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Functional-dependency audit (x118): per candidate lhs→rhs, keys /
    // violating keys / minimum rows-to-fix — all exact BIGINTs.
    QuerySpec("x118_fd_audit", (s, d) =>
      Analytics.fdViolations(t(s, d, "orders"),
        Seq(("o_custkey", "o_orderpriority"),
          ("o_orderkey", "o_orderstatus"),
          ("o_orderpriority", "o_orderstatus")))
        .orderBy("fd"),
      Some {
        def block(l: String, r: String): String =
          s"""SELECT '$l->$r' fd, CAST(count(*) AS BIGINT) n_keys,
             |  CAST(count(*) FILTER (nr > 1) AS BIGINT) n_violating_keys,
             |  CAST(coalesce(sum(tot - mx), 0) AS BIGINT) violation_rows,
             |  count(*) FILTER (nr > 1) = 0 holds
             |FROM (SELECT l, count(*) nr, sum(c) tot, max(c) mx FROM
             |  (SELECT CAST($l AS VARCHAR) l, CAST($r AS VARCHAR) r,
             |     count(*) c FROM orders
             |   WHERE $l IS NOT NULL AND $r IS NOT NULL GROUP BY 1, 2)
             |  GROUP BY 1)""".stripMargin
        block("o_custkey", "o_orderpriority") + "\nUNION ALL\n" +
          block("o_orderkey", "o_orderstatus") + "\nUNION ALL\n" +
          block("o_orderpriority", "o_orderstatus") + "\nORDER BY fd"
      }),

    // Zipf slope (x119): per-source OLS of ln(freq) on ln(rank) over the
    // top-300 terms — corpus-naturalness screen; both engines evaluate
    // the same explicit (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), Spark side as an
    // ordered fold.
    QuerySpec("x119_zipf_slope", (s, d) =>
      graft.operators.TextOps.zipfSlope(t(s, d, "documents"), "source",
        "text", topN = 300)
        .orderBy("source"),
      Some("""WITH tok AS (SELECT source, unnest(list_filter(
             |    regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
             |    x -> length(x) > 0)) w
             |  FROM documents WHERE source IS NOT NULL
             |    AND text IS NOT NULL),
             |tf AS (SELECT source, w, count(*) c FROM tok GROUP BY 1, 2),
             |rk AS (SELECT source, w, c, row_number() OVER (
             |    PARTITION BY source ORDER BY c DESC, w ASC) r FROM tf),
             |top AS (SELECT source, ln(CAST(r AS DOUBLE)) x,
             |    ln(CAST(c AS DOUBLE)) y FROM rk WHERE r <= 300),
             |s AS (SELECT source, CAST(count(*) AS BIGINT) n, sum(x) sx,
             |    sum(y) sy, sum(x*y) sxy, sum(x*x) sxx
             |  FROM top GROUP BY 1)
             |SELECT source, n n_terms,
             |  round((CAST(n AS DOUBLE)*sxy - sx*sy) /
             |    (CAST(n AS DOUBLE)*sxx - sx*sx), 4) zipf_slope
             |FROM s WHERE n >= 2 ORDER BY source""".stripMargin)),

    // Lag-7 autocorrelation (x120): weekly-periodicity screen on the
    // gap-filled daily count series; Pearson r assembled from five exact
    // integer sums — bitwise-deterministic floats on both engines.
    QuerySpec("x120_lag_autocorr", (s, d) =>
      Analytics.lagAutocorr(t(s, d, "events"), "event_type", "ts",
        lagDays = 7)
        .orderBy("event_type"),
      Some("""WITH dd AS (SELECT event_type g, CAST(ts AS DATE) dy,
             |    CAST(count(*) AS BIGINT) n FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |sp AS (SELECT g, min(dy) lo, max(dy) hi FROM dd GROUP BY 1),
             |grid AS (SELECT g, CAST(unnest(generate_series(lo, hi,
             |    INTERVAL '1 day')) AS DATE) dy FROM sp),
             |j AS (SELECT grid.g, grid.dy, CAST(coalesce(dd.n, 0)
             |    AS BIGINT) x
             |  FROM grid LEFT JOIN dd ON grid.g = dd.g
             |    AND grid.dy = dd.dy),
             |l AS (SELECT g, x, lag(x, 7) OVER (PARTITION BY g
             |    ORDER BY dy) y FROM j),
             |s AS (SELECT g, CAST(count(*) AS BIGINT) k,
             |    CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
             |    CAST(sum(x*y) AS BIGINT) sxy,
             |    CAST(sum(x*x) AS BIGINT) sxx,
             |    CAST(sum(y*y) AS BIGINT) syy
             |  FROM l WHERE y IS NOT NULL GROUP BY 1)
             |SELECT g event_type, k n_pairs,
             |  round(CAST(k*sxy - sx*sy AS DOUBLE) /
             |    (sqrt(CAST(k*sxx - sx*sx AS DOUBLE)) *
             |     sqrt(CAST(k*syy - sy*sy AS DOUBLE))), 4) autocorr
             |FROM s ORDER BY 1""".stripMargin)),

    // Streaming checksum (st19): x117's digest maintained as streaming
    // state — BIT_XOR is its own merge function, so replay slicing
    // provably cannot move the answer. Timestamp column omitted (the
    // stream stage has no projection hook for the date cast; the batch
    // twin covers date canonicalization).
    QuerySpec("st19_stream_checksum", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      Streams.runStreamingChecksumAvailableNow(s, d, "orders.parquet",
        schema, "o_orderkey",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        buckets = 16)
        .orderBy("bucket")
    },
      Some("""WITH h AS (SELECT CAST(o_orderkey % 16 AS BIGINT) bucket,
             |  list_reduce(list_transform(range(1, 16),
             |    i -> CAST(strpos('0123456789abcdef', substr(md5(
             |      concat_ws('|',
             |        coalesce(CAST(o_orderkey AS VARCHAR), '(null)'),
             |        coalesce(CAST(o_custkey AS VARCHAR), '(null)'),
             |        coalesce(CAST(o_orderstatus AS VARCHAR), '(null)'),
             |        coalesce(CAST(o_orderpriority AS VARCHAR),
             |          '(null)'))), CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |    (a, b) -> a*16 + b) h
             |  FROM orders)
             |SELECT bucket, CAST(count(*) AS BIGINT) n_rows,
             |  bit_xor(h) checksum
             |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming centroid routing (st20): embedding firehose → nearest of
    // 8 static centroids (first 8 vectors by id — oracle-reconstructable),
    // argmax folded map-side into one greatest(struct…) over native
    // cosine expressions; state is one (count, Σ sim·10⁴) row per
    // centroid.
    QuerySpec("st20_stream_centroid_route", (s, d) => {
      val schema = s.read.parquet(s"$d/embeddings.parquet").schema
      Streams.runStreamingCentroidRouteAvailableNow(s, d,
        "embeddings.parquet", schema, "vec_id", "embedding", k = 8)
        .orderBy("centroid_id")
    },
      Some("""WITH c AS (SELECT CAST(vec_id AS BIGINT) cid,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cvec
             |  FROM embeddings WHERE vec_id < 8
             |    AND embedding IS NOT NULL),
             |s AS (SELECT e.vec_id, c.cid,
             |    round(CAST(list_cosine_similarity(list_transform(
             |      e.embedding, x -> CAST(x AS DOUBLE)), c.cvec)
             |      AS DOUBLE), 4) sim
             |  FROM embeddings e CROSS JOIN c
             |  WHERE e.embedding IS NOT NULL),
             |a AS (SELECT vec_id, cid, sim, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY sim DESC, cid ASC) rn
             |  FROM s)
             |SELECT cid centroid_id, CAST(count(*) AS BIGINT) n,
             |  round(CAST(sum(CAST(round(sim*1e4, 0) AS BIGINT))
             |    AS DOUBLE)/1e4/CAST(count(*) AS DOUBLE), 4) mean_sim
             |FROM a WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact weighted median (x121): per return flag, the extended price
    // whose cumulative quantity weight crosses half — all-integer cents
    // and weights, no float ever compared.
    QuerySpec("x121_weighted_median", (s, d) =>
      Analytics.weightedMedianByGroup(t(s, d, "lineitem"), "l_returnflag",
        "l_extendedprice", "l_quantity")
        .orderBy("l_returnflag"),
      Some("""WITH cells AS (SELECT l_returnflag g,
             |    CAST(round(l_extendedprice*100, 0) AS BIGINT) vc,
             |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT))
             |      AS BIGINT) w
             |  FROM lineitem WHERE l_returnflag IS NOT NULL
             |    AND l_extendedprice IS NOT NULL
             |    AND l_quantity IS NOT NULL AND l_quantity > 0
             |  GROUP BY 1, 2),
             |c2 AS (SELECT g, vc, w,
             |    sum(w) OVER (PARTITION BY g ORDER BY vc
             |      ROWS UNBOUNDED PRECEDING) cum,
             |    sum(w) OVER (PARTITION BY g) tot FROM cells)
             |SELECT g l_returnflag, CAST(min(tot) AS BIGINT) total_weight,
             |  round(CAST(min(CASE WHEN 2*cum >= tot THEN vc END)
             |    AS DOUBLE)/100.0, 2) weighted_median
             |FROM c2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-label embedding outliers (x122): diagonal-Mahalanobis z² against
    // the label's own per-dim moments, top-5 per label — rounded moments,
    // fixed-point term sums (exact BIGINT adds).
    QuerySpec("x122_embedding_outliers", (s, d) =>
      SimilarityOps.embeddingOutliers(t(s, d, "embeddings"), "vec_id",
        "embedding", "label", topK = 5)
        .orderBy("label", "rnk"),
      Some("""WITH m AS (SELECT CAST(vec_id AS BIGINT) id,
             |    CAST("label" AS BIGINT) lb,
             |    generate_subscripts(embedding, 1) p,
             |    CAST(unnest(embedding) AS DOUBLE) v
             |  FROM embeddings WHERE "label" IS NOT NULL
             |    AND embedding IS NOT NULL),
             |st AS (SELECT lb, p, round(avg(v), 6) mu,
             |    round(avg(v*v) - avg(v)*avg(v), 6) s2
             |  FROM m GROUP BY 1, 2),
             |t AS (SELECT id, m.lb,
             |    CAST(round(round((v-mu)*(v-mu)/(s2+1e-6), 8)*1e8, 0)
             |      AS BIGINT) fp
             |  FROM m JOIN st ON m.lb = st.lb AND m.p = st.p),
             |sc AS (SELECT lb, id, round(CAST(sum(fp) AS DOUBLE)/1e8, 4)
             |    score FROM t GROUP BY 1, 2),
             |r AS (SELECT lb, id, score, row_number() OVER (
             |    PARTITION BY lb ORDER BY score DESC, id ASC) rk FROM sc)
             |SELECT lb "label", id vec_id, score, CAST(rk AS BIGINT) rnk
             |FROM r WHERE rk <= 5 ORDER BY lb, rk""".stripMargin)),

    // Centroid silhouette (x123): per-cluster clustering-quality score
    // s = (s₁−s₂)/(1−s₂) over the two best cosine sims — centroids are
    // metadata, folded into map-side expressions (no join, no per-vector
    // shuffle).
    QuerySpec("x123_silhouette", (s, d) => {
      val emb = t(s, d, "embeddings")
      val init = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      SimilarityOps.silhouetteByCentroid(emb, "vec_id", "embedding",
        init, "cid", "cvec")
        .orderBy("centroid_id")
    },
      Some("""WITH c AS (SELECT CAST(vec_id AS BIGINT) cid,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cvec
             |  FROM embeddings WHERE vec_id < 8
             |    AND embedding IS NOT NULL),
             |s AS (SELECT e.vec_id, c.cid,
             |    round(CAST(list_cosine_similarity(list_transform(
             |      e.embedding, x -> CAST(x AS DOUBLE)), c.cvec)
             |      AS DOUBLE), 4) sim
             |  FROM embeddings e CROSS JOIN c
             |  WHERE e.embedding IS NOT NULL),
             |r AS (SELECT vec_id, cid, sim, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY sim DESC, cid ASC) rn
             |  FROM s),
             |b AS (SELECT r1.vec_id, r1.cid, r1.sim s1, r2.sim s2
             |  FROM r r1 JOIN r r2 ON r1.vec_id = r2.vec_id
             |    AND r1.rn = 1 AND r2.rn = 2),
             |t AS (SELECT vec_id, cid, CASE WHEN s2 >= 1.0 THEN 0.0
             |    ELSE round((s1-s2)/(1.0-s2), 6) END sil FROM b)
             |SELECT cid centroid_id, CAST(count(*) AS BIGINT) n,
             |  round(CAST(sum(CAST(round(sil*1e6, 0) AS BIGINT))
             |    AS DOUBLE)/1e6/CAST(count(*) AS DOUBLE), 4)
             |    mean_silhouette
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Language confusion census (x124): stored `lang` metadata vs the
    // x10b n-gram heuristic — the label-noise audit; integer cells + one
    // rounded division (row share).
    QuerySpec("x124_lang_confusion", (s, d) =>
      graft.operators.TextOps.labelConfusion(
        tw(s, d, "documents")
          .select(col("lang"),
            TextOps.langIdNgram(col("text"), langNgramProfiles)
              .as("predicted")),
        "lang", "predicted")
        .withColumnRenamed("label", "lang")
        .orderBy("lang", "predicted"),
      Some("""WITH t AS (SELECT doc_id, lang,
             |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) norm
             |  FROM documents),
             |g AS (SELECT doc_id, lang, CASE WHEN length(norm) >= 3 THEN
             |    list_distinct(list_transform(range(1, length(norm)-1),
             |      i -> substr(norm, CAST(i AS INT), 3)))
             |    ELSE CAST([] AS VARCHAR[]) END grams FROM t),
             |sc AS (SELECT doc_id, lang, [
             |  {'hits': len(list_filter(grams, x -> list_contains(
             |     ['tab','abl','ble','row','sca','can'], x))),
             |   'lang': 'alpha'},
             |  {'hits': len(list_filter(grams, x -> list_contains(
             |     ['joi','oin','mer','erg','rge','has','ash'], x))),
             |   'lang': 'beta'},
             |  {'hits': len(list_filter(grams, x -> list_contains(
             |     ['win','ind','dow','bat','atc','tch','eam'], x))),
             |   'lang': 'gamma'}
             |  ] arr FROM g),
             |p AS (SELECT lang, (list_sort(arr))[-1].lang predicted
             |  FROM sc WHERE lang IS NOT NULL),
             |cells AS (SELECT lang, predicted, count(*) n
             |  FROM p GROUP BY 1, 2)
             |SELECT lang, predicted, CAST(n AS BIGINT) n,
             |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (
             |    PARTITION BY lang) AS DOUBLE), 6) "share"
             |FROM cells ORDER BY lang, predicted""".stripMargin)),

    // Top order-2 paths (x125): trigram sequence mining over per-user
    // event streams — transitionMatrix one step deeper; integer counts,
    // total tie-broken top-k.
    QuerySpec("x125_trigram_paths", (s, d) =>
      Analytics.topPaths(t(s, d, "events"), "user_id", "ts", "event_id",
        "event_type", topK = 25),
      Some("""WITH t AS (SELECT user_id, event_type s2,
             |    lag(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) s1,
             |    lag(event_type, 2) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) s0
             |  FROM events),
             |tri AS (SELECT s0, s1, s2, count(*) n FROM t
             |  WHERE s0 IS NOT NULL GROUP BY 1, 2, 3),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) tt FROM tri)
             |SELECT s0, s1, s2, CAST(n AS BIGINT) n,
             |  round(CAST(n AS DOUBLE)/CAST(tt AS DOUBLE), 6) "share"
             |FROM tri CROSS JOIN tot
             |ORDER BY n DESC, s0, s1, s2 LIMIT 25""".stripMargin)),

    // k-anonymity / l-diversity census (x126): QI equivalence classes
    // under k, rows at risk, single-sensitive-value classes — the privacy
    // release gate; all exact BIGINTs.
    QuerySpec("x126_k_anonymity", (s, d) =>
      Analytics.kAnonymity(
        t(s, d, "customer").select(col("c_nationkey"), col("c_mktsegment"),
          (col("c_acctbal") > 0).as("in_credit")),
        Seq("c_nationkey", "c_mktsegment"), "in_credit", k = 10),
      Some(x126OracleSql)),

    // Kaplan-Meier survival (x127): days from first touch to first
    // purchase, right-censored at the horizon; S(d) from integer ratios
    // through frame-ordered log sums — deterministic on both engines,
    // with the exhausted-risk-set day pinned to exactly 0.
    QuerySpec("x127_survival_curve", (s, d) =>
      Analytics.kaplanMeier(t(s, d, "events"), "user_id", "ts",
        "event_type", "purchase")
        .orderBy("day"),
      Some("""WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) st,
             |    min(CASE WHEN event_type = 'purchase'
             |      THEN CAST(ts AS DATE) END) ev
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1),
             |hz AS (SELECT max(CAST(ts AS DATE)) h FROM events
             |  WHERE ts IS NOT NULL),
             |durs AS (SELECT CASE WHEN ev IS NOT NULL
             |      THEN datediff('day', st, ev) END d,
             |    CASE WHEN ev IS NULL THEN datediff('day', st, h) END c
             |  FROM pu CROSS JOIN hz),
             |census AS (SELECT coalesce(d, c) dy,
             |    CAST(sum(CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) ne,
             |    CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) nc
             |  FROM durs GROUP BY 1),
             |tot AS (SELECT CAST(sum(ne + nc) AS BIGINT) tt FROM census),
             |r AS (SELECT dy, ne, nc, tt - coalesce(CAST(sum(ne + nc)
             |    OVER (ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND
             |      1 PRECEDING) AS BIGINT), 0) nr
             |  FROM census CROSS JOIN tot),
             |s AS (SELECT dy, nr, ne, nc,
             |    CASE WHEN ne < nr THEN
             |      ln(CAST(nr - ne AS DOUBLE)/CAST(nr AS DOUBLE))
             |      ELSE 0.0 END lnf,
             |    max(CASE WHEN ne >= nr THEN 1 ELSE 0 END) OVER (
             |      ORDER BY dy ROWS UNBOUNDED PRECEDING) dead FROM r)
             |SELECT CAST(dy AS BIGINT) "day", nr n_risk, ne n_events,
             |  nc n_censored,
             |  CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(sum(lnf)
             |    OVER (ORDER BY dy ROWS UNBOUNDED PRECEDING)), 4) END
             |    survival
             |FROM s ORDER BY 1""".stripMargin)),

    // Streaming k-anonymity monitor (st21): x126's census as mergeable
    // streaming state (per-(QI, sensitive) counts), finalized batch-side
    // — graded on x126's oracle verbatim.
    QuerySpec("st21_stream_k_anonymity", (s, d) => {
      val schema = s.read.parquet(s"$d/customer.parquet").schema
      val qi = Seq("c_nationkey", "c_mktsegment")
      val raw = Streams.fileStream(s, d, "customer.parquet", schema,
        onePerTrigger = true)
        .select(col("c_nationkey"), col("c_mktsegment"),
          (col("c_acctbal") > 0).as("in_credit"))
      Streams.drain(Analytics.kAnonymityCells(raw, qi, "in_credit"),
        "complete", Analytics.kAnonymityFromCells(_, qi, k = 10))
    },
      Some(x126OracleSql)),

    // Blocked fuzzy record linkage (x128): entity resolution over the
    // customer dim — candidates only within (segment, 16-char name
    // prefix) blocks, kept at Levenshtein <= 1. The hot-block guard
    // (maxBlockSize) never fires on this data; the oracle is the
    // unguarded blocked join.
    QuerySpec("x128_entity_resolution", (s, d) =>
      DedupOps.blockedLinkage(
        t(s, d, "customer")
          .withColumn("blk", substring(col("c_name"), 1, 16)),
        "c_custkey", "c_name", Seq("c_mktsegment", "blk"), maxDist = 1)
        .orderBy("id_a", "id_b"),
      Some(linkageOracleSql)),

    // Variance spectrum (x129): per-dimension embedding variance ranked
    // with cumulative explained-variance share — the scree plot that
    // sizes index truncation; fixed-point BIGINT cumulation after
    // round-6 variances, so both engines cumulate identical integers.
    QuerySpec("x129_variance_spectrum", (s, d) =>
      SimilarityOps.varianceSpectrum(t(s, d, "embeddings"), "embedding")
        .orderBy("rnk"),
      Some(varianceSpectrumOracleSql)),

    // First/last-touch attribution (x130): each purchase credits the
    // user's first and most recent preceding TOUCH (prior purchases are
    // masked out of the window — the standard convention, r10); no
    // preceding touch → "(direct)". One window pass per user, exact cents.
    QuerySpec("x130_touch_attribution", (s, d) =>
      Analytics.touchAttribution(t(s, d, "events"), "user_id", "ts",
        "event_id", "event_type", "value", "purchase")
        .orderBy("channel"),
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type, value,
             |    CASE WHEN event_type = 'purchase' THEN NULL
             |      ELSE coalesce(event_type, '(direct)') END chan
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |t AS (SELECT event_type, value,
             |    first_value(chan IGNORE NULLS) OVER w f,
             |    last_value(chan IGNORE NULLS) OVER w l
             |  FROM e WINDOW w AS (PARTITION BY user_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |c AS (SELECT coalesce(f, '(direct)') f,
             |    coalesce(l, '(direct)') l,
             |    CAST(coalesce(round(value*100, 0), 0) AS BIGINT) cents
             |  FROM t WHERE event_type = 'purchase'),
             |fc AS (SELECT f channel, CAST(count(*) AS BIGINT) first_conv,
             |    CAST(sum(cents) AS BIGINT) first_cents FROM c GROUP BY 1),
             |lc AS (SELECT l channel, CAST(count(*) AS BIGINT) last_conv,
             |    CAST(sum(cents) AS BIGINT) last_cents FROM c GROUP BY 1),
             |tt AS (SELECT CAST(sum(cents) AS BIGINT) tot FROM c)
             |SELECT channel,
             |  CAST(coalesce(first_conv, 0) AS BIGINT) first_conv,
             |  CAST(coalesce(first_cents, 0) AS BIGINT) first_cents,
             |  CAST(coalesce(last_conv, 0) AS BIGINT) last_conv,
             |  CAST(coalesce(last_cents, 0) AS BIGINT) last_cents,
             |  round(CAST(coalesce(first_cents, 0) AS DOUBLE) /
             |    CAST(tot AS DOUBLE), 6) first_share,
             |  round(CAST(coalesce(last_cents, 0) AS DOUBLE) /
             |    CAST(tot AS DOUBLE), 6) last_share
             |FROM fc FULL OUTER JOIN lc USING (channel) CROSS JOIN tt
             |ORDER BY channel""".stripMargin)),

    // Hash-shard balance (x131): md5-routed shard assignment + byte-load
    // audit — the pre-flight check before exporting the corpus as n
    // equal-weight shards. Portable route (md5, not a partitioner hash).
    QuerySpec("x131_shard_balance", (s, d) =>
      graft.operators.ScaleOps.hashShardBalance(t(s, d, "documents"),
        "doc_id", "n_chars", salt = "shard:", nShards = 8)
        .orderBy("shard"),
      Some(shardBalanceOracleSql)),

    // Heaps'-law vocabulary growth (x132): per-source OLS slope of
    // ln V against ln T over the replay-free cumulative curve — the
    // dedup-need forecast paired with x119's Zipf slope.
    QuerySpec("x132_heaps_law", (s, d) =>
      TextOps.heapsLaw(t(s, d, "documents"), "source", "doc_id", "text")
        .orderBy("source"),
      Some("""WITH toks AS (SELECT source s, doc_id id, unnest(
             |      list_filter(regexp_split_to_array(trim(text), '\s+'),
             |        x -> length(x) > 0)) w
             |  FROM documents WHERE source IS NOT NULL
             |    AND text IS NOT NULL),
             |perdoc AS (SELECT s, id, CAST(count(*) AS BIGINT) m
             |  FROM toks GROUP BY 1, 2),
             |firstocc AS (SELECT s, w, min(id) fd FROM toks GROUP BY 1, 2),
             |newv AS (SELECT s, fd id, CAST(count(*) AS BIGINT) v
             |  FROM firstocc GROUP BY 1, 2),
             |pts AS (SELECT p.s, p.id,
             |    sum(p.m) OVER (PARTITION BY p.s ORDER BY p.id
             |      ROWS UNBOUNDED PRECEDING) t,
             |    sum(coalesce(n.v, 0)) OVER (PARTITION BY p.s
             |      ORDER BY p.id ROWS UNBOUNDED PRECEDING) vc
             |  FROM perdoc p LEFT JOIN newv n ON p.s = n.s AND p.id = n.id),
             |pp AS (SELECT s, id, t, vc, ln(CAST(t AS DOUBLE)) x,
             |    ln(CAST(vc AS DOUBLE)) y FROM pts),
             |f AS (SELECT s, CAST(count(*) AS BIGINT) n,
             |    CAST(max(t) AS BIGINT) total_tokens,
             |    CAST(max(vc) AS BIGINT) vocab,
             |    list_sum(list(x ORDER BY id)) sx,
             |    list_sum(list(y ORDER BY id)) sy,
             |    list_sum(list(x*y ORDER BY id)) sxy,
             |    list_sum(list(x*x ORDER BY id)) sxx
             |  FROM pp GROUP BY 1)
             |SELECT s source, n n_docs, total_tokens, vocab,
             |  round((CAST(n AS DOUBLE)*sxy - sx*sy) /
             |    (CAST(n AS DOUBLE)*sxx - sx*sx), 4) heaps_beta
             |FROM f WHERE n >= 2 ORDER BY source""".stripMargin)),

    // Length-bucketed batching audit (x133): token counts rounded up to
    // 64-multiples, per-bucket padding efficiency — whether length-
    // grouped batching pays for its shuffle. Integer-only arithmetic.
    QuerySpec("x133_padding_efficiency", (s, d) =>
      graft.operators.ScaleOps.paddingEfficiency(
        t(s, d, "documents").filter(col("text").isNotNull)
          .select(TextOps.tokenCount(col("text")).as("tok")),
        "tok", bucketStep = 64)
        .orderBy("bucket_cap"),
      Some(paddingOracleSql)),

    // Shuffle-key skew audit (x134): per-key census reduced to the
    // numbers that predict reducer behaviour (max share, exact p50/p90/
    // p99 order statistics, skew factor) — run before choosing between
    // plain groupBy, salting, or AQE skew handling.
    QuerySpec("x134_key_skew_audit", (s, d) =>
      graft.operators.ScaleOps.keySkewAudit(t(s, d, "orders"), "o_custkey"),
      Some(keySkewOracleSql)),

    // Streaming shard-balance monitor (st22): x131's census as mergeable
    // streaming state (per-shard integer sums — replay-commutative),
    // shares finalized batch-side; graded on x131's oracle verbatim.
    QuerySpec("st22_stream_shard_balance", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      Streams.runStreamingShardBalanceAvailableNow(s, d,
        "documents.parquet", schema, "doc_id", "n_chars",
        salt = "shard:", nShards = 8)
        .orderBy("shard")
    },
      Some(shardBalanceOracleSql)),

    // Exact join-cardinality audit (x135): |orders ⋈ lineitem| as
    // Σ a_k·b_k over the two per-key censuses, next to the System-R
    // independence estimate and the heaviest key's contribution — the
    // pre-join memory-budget check that never materializes the join.
    QuerySpec("x135_join_cardinality", (s, d) =>
      graft.operators.ScaleOps.joinCardinalityAudit(
        t(s, d, "orders").select(col("o_orderkey").as("jk")),
        t(s, d, "lineitem").select(col("l_orderkey").as("jk")), "jk"),
      Some("""WITH a AS (SELECT o_orderkey k, CAST(count(*) AS BIGINT) a
             |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
             |b AS (SELECT l_orderkey k, CAST(count(*) AS BIGINT) b
             |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
             |at AS (SELECT CAST(sum(a) AS BIGINT) ra,
             |    CAST(count(*) AS BIGINT) nda FROM a),
             |bt AS (SELECT CAST(sum(b) AS BIGINT) rb,
             |    CAST(count(*) AS BIGINT) ndb FROM b),
             |j AS (SELECT CAST(sum(a*b) AS BIGINT) ex,
             |    CAST(max(a*b) AS BIGINT) tk FROM a JOIN b USING (k))
             |SELECT ra rows_a, rb rows_b, nda nd_a, ndb nd_b,
             |  ex exact_join_rows, tk top_key_pairs,
             |  round(CAST(ra AS DOUBLE)*CAST(rb AS DOUBLE) /
             |    CAST(greatest(nda, ndb) AS DOUBLE), 4) est_join_rows,
             |  round(CAST(ex AS DOUBLE) / (CAST(ra AS DOUBLE) *
             |    CAST(rb AS DOUBLE) /
             |    CAST(greatest(nda, ndb) AS DOUBLE)), 4) est_ratio,
             |  round(CAST(tk AS DOUBLE)/CAST(ex AS DOUBLE), 6)
             |    top_key_share
             |FROM j CROSS JOIN at CROSS JOIN bt""".stripMargin)),

    // Reciprocal-rank fusion (x136): hybrid retrieval — the x38 BM25
    // ranking fused with the cosine-to-query ranking through ranks only
    // (Cormack et al., K = 60); candidates absent from either ranking
    // drop (inner-join convention), top 50 by fused score.
    QuerySpec("x136_rrf_fusion", (s, d) => {
      val emb = t(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0 && col("embedding").isNotNull)
        .select(col("embedding")).collect()
        .head.getSeq[Float](0).map(_.toDouble).toSeq
      val lex = TextOps.bm25(t(s, d, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "vector", "merge"))
      val sem = emb.filter(col("vec_id") =!= 0 && col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("doc_id"),
          round(graft.functions.CosineSimilarity(col("embedding"),
            typedLit(qv)), 4).as("sim"))
      SimilarityOps.rrfFusion(lex, sem, "doc_id", "bm25", "sim")
    },
      Some("""WITH t AS (SELECT doc_id,
             |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |    ELSE regexp_split_to_array(trim(text), '\s+') END tok
             |  FROM documents),
             |dl AS (SELECT doc_id, CAST(len(tok) AS BIGINT) dl FROM t),
             |st AS (SELECT count(*) n, sum(dl) sumdl,
             |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) avgdl
             |  FROM dl),
             |tf AS (SELECT doc_id, term, count(*) tf FROM
             |    (SELECT doc_id, unnest(tok) term FROM t)
             |  WHERE term IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id, tf.term,
             |    ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
             |        (CAST(df AS DOUBLE) + 0.5) + 1.0) *
             |      (CAST(tf AS DOUBLE) * 2.2) /
             |      (CAST(tf AS DOUBLE) + 1.2 *
             |        (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) c
             |  FROM tf JOIN dl USING (doc_id) CROSS JOIN st
             |  JOIN dfq USING (term)),
             |agg AS (SELECT doc_id,
             |    round(list_sum(list(c ORDER BY term)), 4) s
             |  FROM sc GROUP BY doc_id),
             |lexs AS (SELECT d.doc_id, coalesce(a.s, 0.0) s
             |  FROM documents d LEFT JOIN agg a USING (doc_id)),
             |lex AS (SELECT doc_id, row_number() OVER (
             |    ORDER BY s DESC, doc_id ASC) lex_rank FROM lexs),
             |qv AS (SELECT list_transform(embedding,
             |    x -> CAST(x AS DOUBLE)) v
             |  FROM embeddings WHERE vec_id = 0),
             |sem0 AS (SELECT CAST(vec_id AS BIGINT) doc_id,
             |    round(CAST(list_cosine_similarity(list_transform(
             |      embedding, x -> CAST(x AS DOUBLE)), v) AS DOUBLE), 4)
             |      sim
             |  FROM embeddings CROSS JOIN qv
             |  WHERE vec_id <> 0 AND embedding IS NOT NULL),
             |sem AS (SELECT doc_id, row_number() OVER (
             |    ORDER BY sim DESC, doc_id ASC) sem_rank FROM sem0)
             |SELECT l.doc_id, CAST(lex_rank AS BIGINT) lex_rank,
             |  CAST(sem_rank AS BIGINT) sem_rank,
             |  round(1.0/(60 + lex_rank) + 1.0/(60 + sem_rank), 6) rrf
             |FROM lex l JOIN sem USING (doc_id)
             |ORDER BY rrf DESC, doc_id LIMIT 50""".stripMargin)),

    // Streaming padding monitor (st23): x133's census as mergeable
    // streaming state (per-bucket integer sums — replay-commutative),
    // efficiency finalized batch-side; graded on x133's oracle verbatim.
    QuerySpec("st23_stream_padding", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      Streams.runStreamingPaddingAvailableNow(s, d, "documents.parquet",
        schema, "text", bucketStep = 64)
        .orderBy("bucket_cap")
    },
      Some(paddingOracleSql)),

    // Split-leakage audit (x137): x13's near-dup pairs joined to a
    // deterministic md5 80/20 split — cross-split cells are eval
    // contamination. The pair CTEs mirror x13's oracle; the split CTE
    // rebuilds hashUniform digit-by-digit (x103 pattern).
    QuerySpec("x137_split_leakage", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
        blockCol = "lang", shingleWords = 3, threshold = 0.5)
      val asg = docs.select(col("doc_id"),
        when(graft.operators.ScaleOps.hashUniform(col("doc_id"),
          "split:") < 0.8, "train").otherwise("val").as("split"))
      DedupOps.splitLeakage(pairs, "id_a", "id_b", asg, "doc_id", "split")
        .orderBy("split_a", "split_b")
    },
      Some("""WITH toks AS (SELECT doc_id, lang,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-2, 0)),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) s FROM toks),
             |inv AS (SELECT doc_id, lang, unnest(s) tok FROM sh
             |  WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM inv a JOIN inv b ON a.tok = b.tok AND a.lang = b.lang
             |    AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b
             |  FROM inter JOIN sizes sa ON id_a = sa.doc_id
             |  JOIN sizes sb ON id_b = sb.doc_id
             |  WHERE round(i*1.0/(sa.n + sb.n - i), 4) >= 0.5),
             |asg AS (SELECT doc_id, CASE WHEN
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('split:' || CAST(doc_id AS VARCHAR)),
             |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 < 0.8
             |    THEN 'train' ELSE 'val' END split FROM documents),
             |lab AS (SELECT least(a.split, b.split) split_a,
             |    greatest(a.split, b.split) split_b
             |  FROM pairs JOIN asg a ON id_a = a.doc_id
             |  JOIN asg b ON id_b = b.doc_id)
             |SELECT split_a, split_b, CAST(count(*) AS BIGINT) n_pairs,
             |  split_a <> split_b is_cross
             |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming linkage (st24): x128's pairs emitted AT ARRIVAL via a
    // stateless stream-static blocked join; stream.id < static.id makes
    // each pair emit exactly once under any replay slicing — graded on
    // x128's oracle verbatim.
    QuerySpec("st24_stream_linkage", (s, d) => {
      val schema = s.read.parquet(s"$d/customer.parquet").schema
      Streams.runStreamingLinkageAvailableNow(s, d, "customer.parquet",
        schema,
        df => df.withColumn("blk", substring(col("c_name"), 1, 16)),
        "c_custkey", "c_name", Seq("c_mktsegment", "blk"), maxDist = 1)
        .orderBy("id_a", "id_b")
    },
      Some(linkageOracleSql)),

    // Dedup yield forecast (x138): x13's pairs clustered, histogrammed by
    // cluster size with exact removable-doc counts (keep-one policy) —
    // the capacity plan before committing to the dedup rewrite.
    QuerySpec("x138_cluster_sizes", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
        blockCol = "lang", shingleWords = 3, threshold = 0.5)
      DedupOps.clusterSizeDistribution(pairs, "id_a", "id_b", docs,
        "doc_id").orderBy("cluster_size")
    },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, lang,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-2, 0)),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) s FROM toks),
             |inv AS (SELECT doc_id, lang, unnest(s) tok FROM sh
             |  WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM inv a JOIN inv b ON a.tok = b.tok AND a.lang = b.lang
             |    AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b
             |  FROM inter JOIN sizes sa ON id_a = sa.doc_id
             |  JOIN sizes sb ON id_b = sb.doc_id
             |  WHERE round(i*1.0/(sa.n + sb.n - i), 4) >= 0.5),
             |edges AS (SELECT id_a a, id_b b FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs),
             |reach(src, dst) AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
             |memb AS (SELECT src id, least(src, min(dst)) root
             |  FROM reach GROUP BY src),
             |csz AS (SELECT root, CAST(count(*) AS BIGINT) sz
             |  FROM memb GROUP BY 1),
             |hist AS (SELECT sz cluster_size, CAST(count(*) AS BIGINT)
             |    n_clusters FROM csz GROUP BY 1),
             |sing AS (SELECT CAST(1 AS BIGINT) cluster_size,
             |    CAST(count(*) AS BIGINT) n_clusters FROM documents
             |  WHERE doc_id NOT IN (SELECT id FROM memb)),
             |u AS (SELECT * FROM hist UNION ALL
             |  SELECT * FROM sing WHERE n_clusters > 0)
             |SELECT cluster_size, n_clusters,
             |  CAST(cluster_size * n_clusters AS BIGINT) n_docs,
             |  CAST((cluster_size - 1) * n_clusters AS BIGINT) n_removable
             |FROM u ORDER BY cluster_size""".stripMargin)),

    // Vocabulary coverage curve (x139): share of all token occurrences
    // covered by the top-10/100/1k/10k terms — the tokenizer-budget
    // sizing number; exact BIGINT cumulations, one row.
    QuerySpec("x139_vocab_coverage", (s, d) =>
      TextOps.vocabCoverage(t(s, d, "documents"), "text"),
      Some("""WITH toks AS (SELECT unnest(list_filter(
             |      regexp_split_to_array(trim(text), '\s+'),
             |      x -> length(x) > 0)) w
             |  FROM documents WHERE text IS NOT NULL),
             |c AS (SELECT w, CAST(count(*) AS BIGINT) c FROM toks
             |  GROUP BY 1),
             |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) r,
             |    sum(c) OVER (ORDER BY c DESC, w ASC
             |      ROWS UNBOUNDED PRECEDING) cum FROM c)
             |SELECT CAST(count(*) AS BIGINT) n_vocab,
             |  CAST(sum(c) AS BIGINT) total_tokens,
             |  round(CAST(coalesce(max(CASE WHEN r <= 10 THEN cum END), 0)
             |    AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) coverage_10,
             |  round(CAST(coalesce(max(CASE WHEN r <= 100 THEN cum END), 0)
             |    AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) coverage_100,
             |  round(CAST(coalesce(max(CASE WHEN r <= 1000 THEN cum END),
             |    0) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) coverage_1000,
             |  round(CAST(coalesce(max(CASE WHEN r <= 10000 THEN cum END),
             |    0) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) coverage_10000
             |FROM r""".stripMargin)),

    // Streaming key-skew monitor (st25): x134's per-key census as
    // mergeable streaming state, order statistics finalized batch-side —
    // graded on x134's oracle verbatim.
    QuerySpec("st25_stream_key_skew", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
      Streams.drain(
        graft.operators.ScaleOps.keySkewCensus(raw, "o_custkey"), "complete",
        graft.operators.ScaleOps.keySkewFromCensus(_, "o_custkey"))
    },
      Some(keySkewOracleSql)),

    // ANN recall audit (x140): recall@10 of the production IVF search (the
    // x51 population) against exact brute force, per query — the number
    // that justifies an nprobe setting, measured on a query sample so the
    // quadratic exact side never touches the full corpus. r10: graded at
    // the SHIPPED operating point — k-means-trained centroids (trainedCents,
    // nlist=16, iters=2) probed at nprobe=12 — where mean recall@10 is
    // 0.936 (sf0.01) / 0.934 (sf0.1); the r9 default (raw first-16
    // centroids, nprobe=4) measured 0.47 and was rejected by exactly this
    // audit. These embeddings are isotropic (synthetic), so high recall
    // costs a 12/16 probe fraction; on clustered real embeddings the same
    // machinery prunes far deeper at equal recall — the audit, not the
    // default, is the invariant to keep.
    QuerySpec("x140_ann_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = trainedCents(s, d, 16)
      val queries = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") >= 16 && col("vec_id") % 10 =!= 0)
      SimilarityOps.annRecallAudit(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", cents, "cid", "cvec",
        k = 10, nprobe = 12).orderBy("query_id")
    },
      Some(s"""WITH ${kmeansCentSql(16)},
             |qs AS (SELECT vec_id qid, embedding qe FROM embeddings
             |  WHERE vec_id % 10 = 0),
             |corpus AS (SELECT vec_id, embedding FROM embeddings
             |  WHERE vec_id >= 16 AND vec_id % 10 <> 0),
             |assign AS (SELECT co.vec_id, co.embedding, c.cid centroid
             |  FROM corpus co CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY co.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(co.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC,
             |      c.cid) = 1),
             |probes AS (SELECT q.qid, c.cid FROM qs q CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |    ORDER BY list_cosine_similarity(c.cvec, list_transform(q.qe,
             |      x -> CAST(x AS DOUBLE))) DESC,
             |      c.cid) <= 12),
             |ann AS (SELECT p.qid, a.vec_id nid,
             |    round(CAST(list_cosine_similarity(a.embedding, q.qe)
             |      AS DOUBLE), 4) score
             |  FROM probes p JOIN assign a ON a.centroid = p.cid
             |  JOIN qs q ON q.qid = p.qid
             |  QUALIFY row_number() OVER (PARTITION BY p.qid
             |    ORDER BY score DESC, a.vec_id) <= 10),
             |exact AS (SELECT q.qid, co.vec_id nid,
             |    round(CAST(list_cosine_similarity(co.embedding, q.qe)
             |      AS DOUBLE), 4) score
             |  FROM qs q CROSS JOIN corpus co
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |    ORDER BY score DESC, co.vec_id) <= 10),
             |hits AS (SELECT a.qid, count(*) n FROM ann a
             |  JOIN exact e ON a.qid = e.qid AND a.nid = e.nid GROUP BY 1)
             |SELECT q.qid query_id, CAST(coalesce(n, 0) AS BIGINT) n_hits,
             |  round(CAST(coalesce(n, 0) AS DOUBLE) / 10.0, 6) recall
             |FROM qs q LEFT JOIN hits ON q.qid = hits.qid
             |ORDER BY query_id""".stripMargin)),

    // Streaming decontamination (st26): x21's hit census with the
    // benchmark shingle set broadcast against the arriving corpus — a
    // leaked doc is flagged at ingest; graded on x21's oracle verbatim.
    QuerySpec("st26_stream_decontamination", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val bench = t(s, d, "documents").filter(col("doc_id") % 97 === 0)
      Streams.runStreamingDecontaminationAvailableNow(s, d,
        "documents.parquet", schema, col("doc_id") % 97 =!= 0, bench,
        "doc_id", "text", shingleWords = 4)
        .orderBy("doc_id")
    },
      Some(decontamOracleSql)),

    // Dedup threshold sweep (x141): pair counts each candidate Jaccard
    // threshold would admit, from one relaxed-prefix pass — the curve a
    // pipeline reads before pinning its dedup τ.
    QuerySpec("x141_jaccard_thresholds", (s, d) =>
      DedupOps.jaccardThresholdCurve(t(s, d, "documents"), "doc_id",
        "text", blockCol = "lang", shingleWords = 3,
        taus = Seq(0.05, 0.25, 0.5, 0.75, 0.95))
        .orderBy("tau"),
      Some("""WITH toks AS (SELECT doc_id, lang,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-2, 0)),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) s FROM toks),
             |inv AS (SELECT doc_id, lang, unnest(s) tok FROM sh
             |  WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM inv a JOIN inv b ON a.tok = b.tok AND a.lang = b.lang
             |    AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |jac AS (SELECT id_a, id_b,
             |    round(i*1.0/(sa.n + sb.n - i), 4) j
             |  FROM inter JOIN sizes sa ON id_a = sa.doc_id
             |  JOIN sizes sb ON id_b = sb.doc_id),
             |taus AS (SELECT CAST(unnest(
             |    [0.05, 0.25, 0.5, 0.75, 0.95]) AS DOUBLE) tau)
             |SELECT tau, CAST(count(j) AS BIGINT) n_pairs
             |FROM taus LEFT JOIN jac ON j >= tau
             |GROUP BY tau ORDER BY tau""".stripMargin))
 ,

    // Snapshot profile drift (x142): the x42 dataset-card profile run on
    // the pre-cutoff snapshot and the full table, diffed per column —
    // null/distinct deltas + domain movement, read off two
    // |columns|-row profiles.
    QuerySpec("x142_profile_drift", (s, d) => {
      val ev = t(s, d, "events")
      graft.operators.Analytics.profileDrift(
        ev.filter(col("ts") < lit("2024-01-22 00:00:00").cast("timestamp")),
        ev, Seq("event_type", "user_id", "props"))
        .orderBy("col_name")
    },
      Some("""WITH b AS (
             |SELECT 'event_type' col_name,
             |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) n_nulls,
             |  CAST(count(DISTINCT event_type) AS BIGINT) n_distinct,
             |  min(CAST(event_type AS VARCHAR)) min_val,
             |  max(CAST(event_type AS VARCHAR)) max_val FROM events
             |  WHERE ts < TIMESTAMP '2024-01-22'
             |UNION ALL
             |SELECT 'user_id' col_name,
             |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) n_nulls,
             |  CAST(count(DISTINCT user_id) AS BIGINT) n_distinct,
             |  min(CAST(user_id AS VARCHAR)) min_val,
             |  max(CAST(user_id AS VARCHAR)) max_val FROM events
             |  WHERE ts < TIMESTAMP '2024-01-22'
             |UNION ALL
             |SELECT 'props' col_name,
             |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) n_nulls,
             |  CAST(count(DISTINCT props) AS BIGINT) n_distinct,
             |  min(CAST(props AS VARCHAR)) min_val,
             |  max(CAST(props AS VARCHAR)) max_val FROM events
             |  WHERE ts < TIMESTAMP '2024-01-22'),
             |a AS (
             |SELECT 'event_type' col_name,
             |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) n_nulls,
             |  CAST(count(DISTINCT event_type) AS BIGINT) n_distinct,
             |  min(CAST(event_type AS VARCHAR)) min_val,
             |  max(CAST(event_type AS VARCHAR)) max_val FROM events
             |UNION ALL
             |SELECT 'user_id' col_name,
             |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) n_nulls,
             |  CAST(count(DISTINCT user_id) AS BIGINT) n_distinct,
             |  min(CAST(user_id AS VARCHAR)) min_val,
             |  max(CAST(user_id AS VARCHAR)) max_val FROM events
             |UNION ALL
             |SELECT 'props' col_name,
             |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) n_nulls,
             |  CAST(count(DISTINCT props) AS BIGINT) n_distinct,
             |  min(CAST(props AS VARCHAR)) min_val,
             |  max(CAST(props AS VARCHAR)) max_val FROM events)
             |SELECT b.col_name col_name,
             |  b.n_nulls nulls_before, a.n_nulls nulls_after,
             |  CAST(a.n_nulls - b.n_nulls AS BIGINT) nulls_delta,
             |  b.n_distinct distinct_before, a.n_distinct distinct_after,
             |  CAST(a.n_distinct - b.n_distinct AS BIGINT) distinct_delta,
             |  (a.min_val IS DISTINCT FROM b.min_val) OR
             |    (a.max_val IS DISTINCT FROM b.max_val) range_moved
             |FROM b JOIN a ON b.col_name = a.col_name
             |ORDER BY col_name""".stripMargin)),

    // Streaming variance spectrum (st27): per-dim moment triples as
    // mergeable stream state, scree ranking batch-side — graded on
    // x129's oracle verbatim.
    QuerySpec("st27_stream_variance_spectrum", (s, d) => {
      val schema = s.read.parquet(s"$d/embeddings.parquet").schema
      Streams.runStreamingVarianceSpectrumAvailableNow(s, d,
        "embeddings.parquet", schema, "embedding")
        .orderBy("rnk")
    },
      Some(varianceSpectrumOracleSql)),

    // Distribution-matching rejection sample (x143): flatten the 64-cap
    // length-bucket mix to uniform via md5-deterministic per-row
    // acceptance — the length-rebalancing resample, reproducible on any
    // engine; per-bucket before/rate/after census out.
    QuerySpec("x143_distribution_match", (s, d) => {
      val n = TextOps.tokenCount(col("text")).cast("long")
      val cap = ((n + lit(63L)) / lit(64L)).cast("long") * lit(64L)
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
        .filter(n > 0)
        .select(col("doc_id"), cap.as("bucket_cap"))
      graft.operators.ScaleOps.uniformRejectionSample(docs, "bucket_cap",
        "doc_id", salt = "match:").orderBy("bucket_cap")
    },
      Some("""WITH d AS (SELECT doc_id, CAST(((n + 63) // 64) * 64
             |      AS BIGINT) bucket_cap
             |  FROM (SELECT doc_id, len(list_filter(
             |      regexp_split_to_array(trim(text), '\s+'),
             |      x -> length(x) > 0)) n
             |    FROM documents WHERE text IS NOT NULL)
             |  WHERE n > 0),
             |c AS (SELECT bucket_cap, CAST(count(*) AS BIGINT) c
             |  FROM d GROUP BY 1),
             |t AS (SELECT CAST(sum(c) AS BIGINT) tc,
             |    CAST(count(*) AS BIGINT) k FROM c),
             |r AS (SELECT bucket_cap, c, least(1.0, CAST(tc AS DOUBLE) /
             |    CAST(k * c AS DOUBLE)) r FROM c CROSS JOIN t),
             |u AS (SELECT doc_id, bucket_cap,
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('match:' || CAST(doc_id AS VARCHAR)),
             |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 uv
             |  FROM d),
             |kept AS (SELECT u.bucket_cap, CAST(count(*) AS BIGINT)
             |    n_after
             |  FROM u JOIN r ON u.bucket_cap = r.bucket_cap
             |  WHERE uv < r.r GROUP BY 1)
             |SELECT r.bucket_cap bucket_cap, c n_before,
             |  round(r, 6) acc_rate,
             |  CAST(coalesce(n_after, 0) AS BIGINT) n_after
             |FROM r LEFT JOIN kept ON r.bucket_cap = kept.bucket_cap
             |ORDER BY bucket_cap""".stripMargin)),

    // Streaming multimodal decode (st28): x12b's P6 parse + RGB features
    // run statelessly per arriving blob (append, no state store) — media
    // featurization at ingest; graded on x12b's oracle verbatim.
    QuerySpec("st28_stream_ppm_decode", (s, d) => {
      val ids = t(s, d, "documents").select("doc_id")
      val media = Multimodal.synthPpm(ids, "doc_id")
      replayFiles(s, media, 3)(
        Streams.runStreamingPpmDecodeAvailableNow(_, "doc_id"))
        .orderBy("doc_id")
    },
      Some(ppmDecodeOracleSql)),

    // Degree assortativity (x144): Newman's r over the customer↔supplier
    // trade graph — the one-number structure screen (bipartite trade
    // graphs run disassortative); exact BIGINT Pearson sums.
    QuerySpec("x144_assortativity", (s, d) => {
      val pairs = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
      graft.operators.GraphOps.assortativity(pairs, "a", "b")
    },
      Some("""WITH pairs AS (SELECT DISTINCT
             |    'c' || CAST(o_custkey AS VARCHAR) a,
             |    's' || CAST(l_suppkey AS VARCHAR) b
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |canon AS (SELECT DISTINCT least(a, b) u, greatest(a, b) v
             |  FROM pairs WHERE a <> b),
             |bi AS (SELECT u, v FROM canon
             |  UNION ALL SELECT v, u FROM canon),
             |deg AS (SELECT u node, CAST(count(*) AS BIGINT) d FROM bi
             |  GROUP BY 1),
             |j AS (SELECT CAST(count(*) AS BIGINT) n,
             |    CAST(sum(dx.d) AS BIGINT) sx,
             |    CAST(sum(dy.d) AS BIGINT) sy,
             |    CAST(sum(dx.d*dy.d) AS BIGINT) sxy,
             |    CAST(sum(dx.d*dx.d) AS BIGINT) sxx,
             |    CAST(sum(dy.d*dy.d) AS BIGINT) syy
             |  FROM bi JOIN deg dx ON bi.u = dx.node
             |  JOIN deg dy ON bi.v = dy.node)
             |SELECT n n_directed_edges,
             |  round(CAST(n*sxy - sx*sy AS DOUBLE) /
             |    (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
             |     sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 4) assortativity
             |FROM j""".stripMargin)),

    // Mutual nearest neighbors (x145): reciprocal-best-match pairs over
    // the embedding population via the shared ANN probe/assign machinery
    // (k = 2 discards the rank-1 self match) — the alignment primitive;
    // x7/x51 rounding + tie-break conventions throughout.
    QuerySpec("x145_mutual_nn", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val pop = emb.filter(col("vec_id") >= 16)
      SimilarityOps.mutualNearestNeighbors(pop, "vec_id", "embedding",
        cents, "cid", "cvec", nprobe = 4)
        .orderBy("id_a", "id_b")
    },
      Some("""WITH cent AS (SELECT vec_id cid, embedding cvec
             |  FROM embeddings WHERE vec_id < 16),
             |pop AS (SELECT vec_id, embedding FROM embeddings
             |  WHERE vec_id >= 16),
             |assign AS (SELECT p.vec_id, p.embedding, c.cid centroid
             |  FROM pop p CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
             |    ORDER BY list_cosine_similarity(p.embedding, c.cvec) DESC,
             |      c.cid) = 1),
             |probes AS (SELECT q.vec_id qid, c.cid
             |  FROM pop q CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(c.cvec, q.embedding) DESC,
             |      c.cid) <= 4),
             |top2 AS (SELECT p.qid, a.vec_id nid,
             |    round(CAST(list_cosine_similarity(a.embedding,
             |      q.embedding) AS DOUBLE), 4) score
             |  FROM probes p JOIN assign a ON a.centroid = p.cid
             |  JOIN pop q ON q.vec_id = p.qid
             |  QUALIFY row_number() OVER (PARTITION BY p.qid
             |    ORDER BY score DESC, a.vec_id) <= 2),
             |best AS (SELECT qid, nid, score FROM (SELECT qid, nid, score,
             |    row_number() OVER (PARTITION BY qid
             |      ORDER BY score DESC, nid) rk2
             |  FROM top2 WHERE nid <> qid) WHERE rk2 = 1)
             |SELECT l.qid id_a, l.nid id_b, l.score score
             |FROM best l JOIN best r ON l.qid = r.nid AND l.nid = r.qid
             |  AND l.qid < r.qid
             |ORDER BY id_a, id_b""".stripMargin)),

    // Content-defined chunking (x146): Rabin-style boundaries wherever
    // the rolling window hash masks to zero — revision-stable chunk
    // dedup, ~64-char expected chunks; exact integer hash both engines.
    QuerySpec("x146_cdc_chunking", (s, d) =>
      TextOps.cdcChunks(tw(s, d, "documents"), "doc_id", "text",
        window = 8, maskBits = 6)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (SELECT doc_id, text, length(text) n
             |  FROM documents WHERE text IS NOT NULL),
             |b AS (SELECT doc_id, text, n,
             |    list_filter(range(8, n + 1), p ->
             |      list_reduce(list_transform(range(1, 9),
             |        j -> CAST(ascii(substr(text,
             |          CAST(p - 8 + j AS INT), 1)) AS BIGINT)),
             |        (a, c) -> (a * 31 + c) % 1000000007) % 64 = 0)
             |      bounds FROM t),
             |s AS (SELECT doc_id, text, n, [0] || bounds starts,
             |    bounds || [n] ends FROM b),
             |c AS (SELECT doc_id, text, unnest(list_transform(
             |    range(0, len(starts)),
             |    i -> {'i': i, 's': starts[CAST(i + 1 AS INT)],
             |          'e': ends[CAST(i + 1 AS INT)]})) z FROM s)
             |SELECT doc_id, CAST(z.i AS BIGINT) chunk_idx,
             |  CAST(z.s AS BIGINT) chunk_start,
             |  CAST(z.e - z.s AS BIGINT) chunk_chars,
             |  substr(text, CAST(z.s + 1 AS INT), CAST(z.e - z.s AS INT))
             |    chunk_text
             |FROM c WHERE z.e > z.s
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Chunk-level dedup savings (x147): the payoff number for x146 —
    // exact characters saved by keeping one copy per recurring CDC chunk
    // content; md5-keyed census, one-row reduce.
    QuerySpec("x147_cdc_dedup_savings", (s, d) =>
      TextOps.cdcDedupSavings(
        TextOps.cdcChunks(tw(s, d, "documents"), "doc_id", "text",
          window = 8, maskBits = 6), "chunk_text", "chunk_chars"),
      Some("""WITH t AS (SELECT doc_id, text, length(text) n
             |  FROM documents WHERE text IS NOT NULL),
             |b AS (SELECT doc_id, text, n,
             |    list_filter(range(8, n + 1), p ->
             |      list_reduce(list_transform(range(1, 9),
             |        j -> CAST(ascii(substr(text,
             |          CAST(p - 8 + j AS INT), 1)) AS BIGINT)),
             |        (a, c) -> (a * 31 + c) % 1000000007) % 64 = 0)
             |      bounds FROM t),
             |s AS (SELECT doc_id, text, n, [0] || bounds starts,
             |    bounds || [n] ends FROM b),
             |c AS (SELECT doc_id, text, unnest(list_transform(
             |    range(0, len(starts)),
             |    i -> {'i': i, 's': starts[CAST(i + 1 AS INT)],
             |          'e': ends[CAST(i + 1 AS INT)]})) z FROM s),
             |ch AS (SELECT substr(text, CAST(z.s + 1 AS INT),
             |      CAST(z.e - z.s AS INT)) txt,
             |    CAST(z.e - z.s AS BIGINT) chars
             |  FROM c WHERE z.e > z.s),
             |cen AS (SELECT md5(txt) h, CAST(count(*) AS BIGINT) cnt,
             |    min(chars) chars FROM ch GROUP BY 1)
             |SELECT CAST(sum(cnt) AS BIGINT) n_chunks,
             |  CAST(count(*) AS BIGINT) n_unique,
             |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    n_recurring,
             |  CAST(sum(cnt * chars) AS BIGINT) total_chars,
             |  CAST(sum((cnt - 1) * chars) AS BIGINT) chars_saved,
             |  round(CAST(sum((cnt - 1) * chars) AS DOUBLE) /
             |    CAST(sum(cnt * chars) AS DOUBLE), 6) saved_share
             |FROM cen""".stripMargin)),

    // Poisson-bootstrap CI (x148): md5-deterministic per-(row, replica)
    // Poisson(1) weights — 32 resamples in one scan, exact integer
    // replica sums, order-statistic 94% interval per priority. The
    // reproducible bootstrap: same CI on any engine, any run.
    QuerySpec("x148_bootstrap_ci", (s, d) =>
      Analytics.bootstrapMeanCi(tw(s, d, "orders"), "o_orderpriority",
        "o_orderkey", "o_totalprice", salt = "boot:")
        .orderBy("o_orderpriority"),
      Some(bootstrapOracleSql)),

    // Permutation test (x149): click-vs-view mean difference with an
    // EXACT p-value — label re-deals by md5 rank (sizes preserved), the
    // accept decision cross-multiplied to pure BIGINTs; 64 permutations
    // in one exploded scan.
    QuerySpec("x149_permutation_test", (s, d) =>
      Analytics.permutationTest(t(s, d, "events"), "event_type",
        "event_id", "value", groupA = "click", groupB = "view",
        salt = "perm:"),
      Some("""WITH base AS (SELECT event_id id,
             |    event_type = 'click' isa,
             |    CAST(round(value*100, 0) AS BIGINT) c
             |  FROM events WHERE event_type IN ('click', 'view')
             |    AND value IS NOT NULL),
             |obs AS (SELECT CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END)
             |      AS BIGINT) na,
             |    CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) nb,
             |    CAST(sum(CASE WHEN isa THEN c ELSE 0 END) AS BIGINT) oa,
             |    CAST(sum(CASE WHEN isa THEN 0 ELSE c END) AS BIGINT) ob
             |  FROM base),
             |ur AS (SELECT id, c, p,
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('perm:' || CAST(id AS VARCHAR) || '#' ||
             |          CAST(p AS VARCHAR)), CAST(i AS INT), 1)) - 1
             |        AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 u
             |  FROM base, unnest(range(0, 64)) t(p)),
             |rk AS (SELECT id, c, p, row_number() OVER (PARTITION BY p
             |    ORDER BY u ASC, id ASC) rk FROM ur),
             |pr AS (SELECT p,
             |    CAST(sum(CASE WHEN rk <= na THEN c ELSE 0 END)
             |      AS BIGINT) sa,
             |    CAST(sum(c) AS BIGINT) tot
             |  FROM rk CROSS JOIN obs GROUP BY 1),
             |st AS (SELECT p, abs(sa*nb - (tot-sa)*na) stat,
             |    abs(oa*nb - ob*na) statobs
             |  FROM pr CROSS JOIN obs)
             |SELECT na n_a, nb n_b,
             |  round(CAST(oa AS DOUBLE)/(CAST(na AS DOUBLE)*100.0), 6)
             |    mean_a,
             |  round(CAST(ob AS DOUBLE)/(CAST(nb AS DOUBLE)*100.0), 6)
             |    mean_b,
             |  round(CAST(oa AS DOUBLE)/(CAST(na AS DOUBLE)*100.0) -
             |    CAST(ob AS DOUBLE)/(CAST(nb AS DOUBLE)*100.0), 6)
             |    mean_diff,
             |  round(CAST(CAST(sum(CASE WHEN stat >= statobs THEN 1
             |    ELSE 0 END) AS BIGINT) + 1 AS DOUBLE)/65.0, 6) p_value
             |FROM st CROSS JOIN obs GROUP BY na, nb, oa, ob""".stripMargin)),

    // Streaming bootstrap CI (st29): x148's per-(group, replica) integer
    // sums as mergeable streaming state (replica -1 carries the exact
    // point estimate), interval finalized batch-side — graded on x148's
    // oracle verbatim.
    QuerySpec("st29_stream_bootstrap_ci", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      Streams.runStreamingBootstrapCiAvailableNow(s, d, "orders.parquet",
        schema, "o_orderpriority", "o_orderkey", "o_totalprice",
        salt = "boot:", replicas = 32, loRank = 2, hiRank = 31)
        .orderBy("o_orderpriority")
    },
      Some(bootstrapOracleSql)),

    // Decile lift table (x150): does cosine-to-query concentrate the
    // query's own class? Ranked by (round-4 cosine desc, id), integer
    // decile edges, exact rational lifts; the x91 Mann-Whitney is the
    // significance companion.
    QuerySpec("x150_lift_curve", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0 && col("embedding").isNotNull)
        .select(col("embedding"), col("label")).collect().head
      val qv = q0.getSeq[Float](0).map(_.toDouble).toSeq
      val qLabel = q0.getInt(1)
      Analytics.liftCurve(
        emb.filter(col("vec_id") =!= 0 && col("embedding").isNotNull &&
            col("label").isNotNull)
          .select(col("vec_id"),
            round(graft.functions.CosineSimilarity(col("embedding"),
              typedLit(qv)), 4).as("score"),
            (col("label") === qLabel).as("pos")),
        "vec_id", "score", "pos", nBuckets = 10)
        .orderBy("bucket")
    },
      Some("""WITH q AS (SELECT list_transform(embedding,
             |    x -> CAST(x AS DOUBLE)) qv, "label" ql
             |  FROM embeddings WHERE vec_id = 0),
             |sc AS (SELECT vec_id id,
             |    round(CAST(list_cosine_similarity(list_transform(
             |      embedding, x -> CAST(x AS DOUBLE)), qv) AS DOUBLE), 4)
             |      score,
             |    e."label" = ql pos
             |  FROM embeddings e CROSS JOIN q
             |  WHERE vec_id <> 0 AND embedding IS NOT NULL
             |    AND e."label" IS NOT NULL),
             |rk AS (SELECT id, score, pos, row_number() OVER (
             |      ORDER BY score DESC, id ASC) rk,
             |    count(*) OVER () n FROM sc),
             |cells AS (SELECT CAST((rk - 1) * 10 // n AS BIGINT) + 1
             |      bucket,
             |    CAST(count(*) AS BIGINT) n,
             |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
             |      n_pos
             |  FROM rk GROUP BY 1),
             |tt AS (SELECT CAST(sum(n) AS BIGINT) tn,
             |    CAST(sum(n_pos) AS BIGINT) tp FROM cells)
             |SELECT bucket, n, n_pos,
             |  round(CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE), 6) pos_rate,
             |  round(CAST(n_pos * tn AS DOUBLE) /
             |    CAST(n * tp AS DOUBLE), 4) lift,
             |  round(CAST(sum(n_pos) OVER (ORDER BY bucket
             |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
             |    CAST(tp AS DOUBLE), 6) cum_capture
             |FROM cells CROSS JOIN tt ORDER BY bucket""".stripMargin)),

    // Source-fair top-k (x151): ≤ 3 docs per source, global top 30 by
    // quality score — capped-exposure diversification; both stages are
    // WindowGroupLimit rank windows.
    QuerySpec("x151_fair_topk", (s, d) =>
      graft.operators.ScaleOps.fairTopK(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          round(TextOps.qualityScore(col("text"), stopwords), 4)
            .as("score")),
        "source", "doc_id", "score", perGroup = 3, k = 30)
        .orderBy("rank"),
      Some("""WITH sc AS (SELECT doc_id, source, score FROM (
             |    SELECT d.doc_id, d.source, q.score
             |    FROM documents d JOIN (%QUALITY%) q USING (doc_id))),
             |g AS (SELECT doc_id, source, score, row_number() OVER (
             |    PARTITION BY source ORDER BY score DESC, doc_id ASC)
             |      group_rank FROM sc),
             |k AS (SELECT doc_id, source, score,
             |    CAST(group_rank AS BIGINT) group_rank,
             |    row_number() OVER (ORDER BY score DESC, doc_id ASC) rnk
             |  FROM g WHERE group_rank <= 3)
             |SELECT doc_id, source, score, group_rank,
             |  CAST(rnk AS BIGINT) rank
             |FROM k WHERE rnk <= 30 ORDER BY rank""".stripMargin
        .replace("%QUALITY%", qualityScoreOracleSub))),

    // Exact AUC (x152): rank-sum identity with midrank ties — the
    // one-number retrieval/classifier score beside x150's table; 2·R⁺
    // stays BIGINT, one rounded division.
    QuerySpec("x152_auc_exact", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0 && col("embedding").isNotNull)
        .select(col("embedding"), col("label")).collect().head
      val qv = q0.getSeq[Float](0).map(_.toDouble).toSeq
      val qLabel = q0.getInt(1)
      Analytics.aucExact(
        emb.filter(col("vec_id") =!= 0 && col("embedding").isNotNull &&
            col("label").isNotNull)
          .select(col("vec_id"),
            round(graft.functions.CosineSimilarity(col("embedding"),
              typedLit(qv)), 4).as("score"),
            (col("label") === qLabel).as("pos")),
        "vec_id", "score", "pos")
    },
      Some("""WITH q AS (SELECT list_transform(embedding,
             |    x -> CAST(x AS DOUBLE)) qv, "label" ql
             |  FROM embeddings WHERE vec_id = 0),
             |sc AS (SELECT vec_id id,
             |    round(CAST(list_cosine_similarity(list_transform(
             |      embedding, x -> CAST(x AS DOUBLE)), qv) AS DOUBLE), 4)
             |      score,
             |    e."label" = ql pos
             |  FROM embeddings e CROSS JOIN q
             |  WHERE vec_id <> 0 AND embedding IS NOT NULL
             |    AND e."label" IS NOT NULL),
             |rk AS (SELECT id, score, pos, row_number() OVER (
             |    ORDER BY score ASC, id ASC) rk FROM sc),
             |tie AS (SELECT score, min(rk) lo, max(rk) hi FROM rk
             |  GROUP BY 1),
             |j AS (SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
             |      AS BIGINT) np,
             |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) nn,
             |    CAST(sum(CASE WHEN pos THEN lo + hi ELSE 0 END)
             |      AS BIGINT) r2
             |  FROM rk JOIN tie USING (score))
             |SELECT np n_pos, nn n_neg,
             |  round((CAST(r2 AS DOUBLE)/2.0 - CAST(np AS DOUBLE) *
             |    (CAST(np AS DOUBLE) + 1.0)/2.0) /
             |    (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) auc
             |FROM j""".stripMargin)),

    // Grouped Spearman (x153): x83's Pearson over midranks — doubled
    // midranks keep every sum BIGINT-exact; disagreements with x83's
    // linear r flag curved or tail-contaminated relationships.
    QuerySpec("x153_grouped_spearman", (s, d) =>
      Analytics.groupedSpearman(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull &&
            col("event_type").isNotNull)
          .select(col("event_type"),
            floor((unix_timestamp(col("ts")) -
              unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp")))
              / 60L).as("x"),
            floor(col("value") * 100).as("y")),
        "event_type", "x", "y").orderBy("event_type"),
      Some("""WITH b AS (SELECT event_type g,
             |    CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01'))
             |      / 60) AS BIGINT) x,
             |    CAST(floor(value * 100) AS BIGINT) y
             |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
             |    AND event_type IS NOT NULL),
             |rx AS (SELECT g, x, CAST(min(rk) + max(rk) AS BIGINT) rx2
             |  FROM (SELECT g, x, row_number() OVER (PARTITION BY g
             |      ORDER BY x ASC) rk FROM b) GROUP BY 1, 2),
             |ry AS (SELECT g, y, CAST(min(rk) + max(rk) AS BIGINT) ry2
             |  FROM (SELECT g, y, row_number() OVER (PARTITION BY g
             |      ORDER BY y ASC) rk FROM b) GROUP BY 1, 2),
             |j AS (SELECT b.g, rx2, ry2 FROM b
             |  JOIN rx ON b.g = rx.g AND b.x = rx.x
             |  JOIN ry ON b.g = ry.g AND b.y = ry.y),
             |s AS (SELECT g, CAST(count(*) AS BIGINT) n,
             |    CAST(sum(rx2) AS BIGINT) sx, CAST(sum(ry2) AS BIGINT) sy,
             |    CAST(sum(rx2*ry2) AS BIGINT) sxy,
             |    CAST(sum(rx2*rx2) AS BIGINT) sxx,
             |    CAST(sum(ry2*ry2) AS BIGINT) syy
             |  FROM j GROUP BY 1)
             |SELECT g event_type, n n_rows,
             |  round(CAST(n*sxy - sx*sy AS DOUBLE) /
             |    (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
             |     sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 4) spearman_rho
             |FROM s ORDER BY event_type""".stripMargin)),

    // Pipeline health report (x154, r9 verdict #7): the one-call
    // auditAll census — corpus volume, exact-dup share, shard balance,
    // padding efficiency, source skew, split leakage (x137's pair +
    // split recipe), embedding norms — each the one-number summary of a
    // separately graded operator, unioned into (audit, metric,
    // metric_value). The oracle recomputes every number independently.
    QuerySpec("x154_audit_all", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
        blockCol = "lang", shingleWords = 3, threshold = 0.5)
      val asg = docs.select(col("doc_id"),
        when(graft.operators.ScaleOps.hashUniform(col("doc_id"),
          "split:") < 0.8, "train").otherwise("val").as("split"))
      graft.operators.PipelineAudit.auditAll(
        docs, "doc_id", "text", "source", "n_chars",
        t(s, d, "embeddings"), "embedding",
        pairs, "id_a", "id_b", asg, "doc_id", "split")
        .orderBy("audit", "metric")
    },
      Some("""WITH tok AS (SELECT doc_id, text, CASE
             |    WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |    ELSE regexp_split_to_array(trim(text), '\s+') END tk
             |  FROM documents),
             |corpus AS (SELECT CAST(count(*) AS DOUBLE) n_docs,
             |    CAST(coalesce(sum(len(tk)), 0) AS DOUBLE) total_tokens,
             |    round(CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / count(*), 6) null_share
             |  FROM tok),
             |ed AS (SELECT round(CAST(count(*) - count(DISTINCT
             |      md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
             |      AS DOUBLE) / count(*), 6) dup_share
             |  FROM documents WHERE text IS NOT NULL),
             |shh AS (SELECT CAST(list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
             |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) % 8 AS BIGINT) shard,
             |    CAST(n_chars AS BIGINT) sz FROM documents),
             |shg AS (SELECT shard, CAST(sum(sz) AS BIGINT) bytes
             |  FROM shh GROUP BY 1),
             |sh AS (SELECT max(round(CAST(bytes AS DOUBLE) /
             |    CAST((SELECT sum(bytes) FROM shg) AS DOUBLE), 6)) msh
             |  FROM shg),
             |pad AS (SELECT round(CAST(sum(len(tk)) AS DOUBLE) /
             |    CAST(sum(((len(tk) + 63) // 64) * 64) AS DOUBLE), 6) eff
             |  FROM tok WHERE len(tk) > 0),
             |skc AS (SELECT source k, CAST(count(*) AS BIGINT) c
             |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
             |sk AS (SELECT round(CAST(max(c) AS DOUBLE) /
             |      (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 4)
             |      skew_factor,
             |    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
             |      top1_share
             |  FROM skc),
             |sh3 AS (SELECT doc_id, lang, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-2, 0)),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) s
             |  FROM (SELECT doc_id, lang,
             |      regexp_split_to_array(trim(text), '\s+') tk
             |    FROM documents WHERE length(trim(text)) > 0)),
             |inv AS (SELECT doc_id, lang, unnest(s) tokn FROM sh3
             |  WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh3),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM inv a JOIN inv b ON a.tokn = b.tokn AND a.lang = b.lang
             |    AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b
             |  FROM inter JOIN sizes sa ON id_a = sa.doc_id
             |  JOIN sizes sb ON id_b = sb.doc_id
             |  WHERE round(i*1.0/(sa.n + sb.n - i), 4) >= 0.5),
             |asg AS (SELECT doc_id, CASE WHEN
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('split:' || CAST(doc_id AS VARCHAR)),
             |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 < 0.8
             |    THEN 'train' ELSE 'val' END split FROM documents),
             |leak AS (SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split
             |      THEN 1 ELSE 0 END), 0) AS DOUBLE) x
             |  FROM pairs JOIN asg a ON id_a = a.doc_id
             |  JOIN asg b ON id_b = b.doc_id),
             |emb AS (SELECT CAST(count(*) AS DOUBLE) nv,
             |    round(avg(sqrt(list_sum(list_transform(embedding,
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) mn
             |  FROM embeddings WHERE embedding IS NOT NULL)
             |SELECT * FROM (
             |  SELECT 'corpus' audit, 'n_docs' metric, n_docs metric_value
             |    FROM corpus
             |  UNION ALL SELECT 'corpus', 'total_tokens', total_tokens
             |    FROM corpus
             |  UNION ALL SELECT 'corpus', 'null_text_share', null_share
             |    FROM corpus
             |  UNION ALL SELECT 'exact_dup', 'dup_doc_share', dup_share
             |    FROM ed
             |  UNION ALL SELECT 'shard_balance', 'max_byte_share', msh
             |    FROM sh
             |  UNION ALL SELECT 'padding', 'global_efficiency', eff
             |    FROM pad
             |  UNION ALL SELECT 'key_skew', 'skew_factor', skew_factor
             |    FROM sk
             |  UNION ALL SELECT 'key_skew', 'top1_share', top1_share
             |    FROM sk
             |  UNION ALL SELECT 'split_leakage', 'cross_pairs', x FROM leak
             |  UNION ALL SELECT 'embeddings', 'n_vectors', nv FROM emb
             |  UNION ALL SELECT 'embeddings', 'mean_norm', mn FROM emb)
             |ORDER BY audit, metric""".stripMargin)),

    // Asymmetric containment near-dup (x155): C(A⊆B) = |A∩B|/|A| — the
    // quote/boilerplate-inclusion signal Jaccard misses on size-skewed
    // pairs. Prefix-vs-FULL inverted index candidates, exact native
    // merge-scan verify; oracle is exhaustive string-set containment.
    QuerySpec("x155_containment_pairs", (s, d) =>
      // r19: fan-out reverted — interleaved A/B lost 0.88× (plans/r19/
      // fanout_ab_run1.log)
      DedupOps.containmentPairs(t(s, d, "documents"), "doc_id", "text",
        blockCol = "lang", shingleWords = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, lang,
             |    regexp_split_to_array(trim(text), '\s+') tk
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
             |    range(0, greatest(len(tk)-2, 0)),
             |    i -> array_to_string(tk[i+1:i+3], ' '))) s FROM toks),
             |inv AS (SELECT doc_id, lang, unnest(s) tok FROM sh
             |  WHERE len(s) > 0),
             |sizes AS (SELECT doc_id, len(s) n FROM sh),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM inv a JOIN inv b ON a.tok = b.tok AND a.lang = b.lang
             |    AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(CAST(i AS DOUBLE) / sa.n, 4) containment_a,
             |  round(CAST(i AS DOUBLE) / sb.n, 4) containment_b,
             |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) jaccard
             |FROM inter JOIN sizes sa ON id_a = sa.doc_id
             |JOIN sizes sb ON id_b = sb.doc_id
             |WHERE greatest(round(CAST(i AS DOUBLE) / sa.n, 4),
             |  round(CAST(i AS DOUBLE) / sb.n, 4)) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // Cohen's kappa (x156): chance-corrected agreement between a gold
    // label and a deterministically-degraded second rater (30% of rows
    // by md5 uniform collapse to 'other') — pure-BIGINT cross-multiplied
    // identity, the labeling-quality gate of an eval pipeline.
    QuerySpec("x156_cohens_kappa", (s, d) => {
      val ev = t(s, d, "events")
      val u = graft.operators.ScaleOps.hashUniform(col("event_id"), "kappa:")
      Analytics.cohensKappa(
        ev.filter(col("event_type").isNotNull)
          .select(col("event_type").as("rater_a"),
            when(u < 0.7, col("event_type")).otherwise(lit("other"))
              .as("rater_b")),
        "rater_a", "rater_b")
    },
      Some(kappaOracleSql)),

    // Calibration curve + Brier contributions (x157): cosine-to-query
    // rescaled to [0,1] as the "probability", same-label as the outcome —
    // fixed-point 1e-4 probabilities, true-integer bin edges, exact
    // BIGINT squared-error sums (the reliability diagram + Brier score a
    // scorer must pass before its output is used as a probability).
    QuerySpec("x157_calibration", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0 && col("embedding").isNotNull)
        .select(col("embedding"), col("label")).collect().head
      val qv = q0.getSeq[Float](0).map(_.toDouble).toSeq
      val qLabel = q0.getInt(1)
      Analytics.calibrationCurve(
        emb.filter(col("vec_id") =!= 0 && col("embedding").isNotNull &&
            col("label").isNotNull)
          .select(
            round((graft.functions.CosineSimilarity(col("embedding"),
              typedLit(qv)) + 1) / 2, 4).as("p"),
            (col("label") === qLabel).as("y")),
        "p", "y", nBins = 10)
        .orderBy("bin")
    },
      Some(calibrationOracleSql)),

    // Streaming calibration monitor (st30): x157's per-bin integer sums
    // as mergeable streaming state, divisions finalized batch-side —
    // graded on x157's oracle verbatim.
    QuerySpec("st30_stream_calibration", (s, d) => {
      val schema = s.read.parquet(s"$d/embeddings.parquet").schema
      val q0 = t(s, d, "embeddings")
        .filter(col("vec_id") === 0 && col("embedding").isNotNull)
        .select(col("embedding"), col("label")).collect().head
      val qv = q0.getSeq[Float](0).map(_.toDouble).toSeq
      val qLabel = q0.getInt(1)
      val raw = Streams.fileStream(s, d, "embeddings.parquet", schema,
        onePerTrigger = true)
      val scored = raw
        .filter(col("vec_id") =!= 0 && col("embedding").isNotNull &&
          col("label").isNotNull)
        .select(
          round((graft.functions.CosineSimilarity(col("embedding"),
            typedLit(qv)) + 1) / 2, 4).as("p"),
          (col("label") === qLabel).as("y"))
      Streams.drain(Analytics.calibrationStats(scored, "p", "y",
        nBins = 10), "complete", Analytics.calibrationFromStats)
        .orderBy("bin")
    },
      Some(calibrationOracleSql)),

    // Streaming inter-rater agreement (st31): x156's contingency cells as
    // the streaming state (the minimal mergeable sufficient statistic for
    // kappa), margins + the BIGINT identity finalized batch-side — graded
    // on x156's oracle verbatim.
    QuerySpec("st31_stream_kappa", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val raw = Streams.fileStream(s, d, "events.parquet", schema,
        onePerTrigger = true)
      val u = graft.operators.ScaleOps.hashUniform(col("event_id"), "kappa:")
      val labeled = raw.filter(col("event_type").isNotNull)
        .select(col("event_type").as("rater_a"),
          when(u < 0.7, col("event_type")).otherwise(lit("other"))
            .as("rater_b"))
      Streams.drain(Analytics.kappaCells(labeled, "rater_a", "rater_b"),
        "complete", Analytics.kappaFromCells)
    },
      Some(kappaOracleSql)),

    // Per-group exact AUC (x158): does document length separate English
    // docs, per source — the fairness-slice companion of x152's global
    // AUC, ranks from the groupedRank kernel (no task-per-group window).
    QuerySpec("x158_grouped_auc", (s, d) =>
      Analytics.groupedAuc(
        t(s, d, "documents")
          .filter(col("lang").isNotNull)
          .select(col("source"), col("doc_id"), col("n_chars"),
            (col("lang") === "en").as("is_en")),
        "source", "doc_id", "n_chars", "is_en")
        .orderBy("source"),
      Some("""WITH b AS (SELECT source g, doc_id id,
             |    CAST(n_chars AS BIGINT) s, (lang = 'en') p
             |  FROM documents WHERE source IS NOT NULL
             |    AND n_chars IS NOT NULL AND lang IS NOT NULL),
             |rk AS (SELECT g, s, CAST(min(r) + max(r) AS BIGINT) m2
             |  FROM (SELECT g, s, row_number() OVER (PARTITION BY g
             |      ORDER BY s ASC, id ASC) r FROM b) GROUP BY 1, 2),
             |j AS (SELECT b.g, b.p, m2 FROM b
             |  JOIN rk ON b.g = rk.g AND b.s = rk.s),
             |a AS (SELECT g,
             |    CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) np,
             |    CAST(sum(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) nn,
             |    CAST(sum(CASE WHEN p THEN m2 ELSE 0 END) AS BIGINT) r2
             |  FROM j GROUP BY 1)
             |SELECT g source, np n_pos, nn n_neg,
             |  CASE WHEN np = 0 OR nn = 0 THEN NULL
             |    ELSE round((CAST(r2 AS DOUBLE)/2 -
             |      CAST(np AS DOUBLE)*(np+1)/2) /
             |      (CAST(np AS DOUBLE)*nn), 6) END auc
             |FROM a ORDER BY source""".stripMargin)),

    // Ordered conversion funnel (x159): view -> click -> purchase with
    // strictly-increasing timestamps chained from each prefix's earliest
    // completion — per-entity min-aggregates equi-joined per step, no
    // window over data. Drop-off shares from exact BIGINTs.
    QuerySpec("x159_funnel", (s, d) =>
      Analytics.funnelSteps(t(s, d, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
        .orderBy("step"),
      Some("""WITH e AS (SELECT user_id u, ts, event_type et FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_type IS NOT NULL),
             |s1 AS (SELECT u, min(ts) t FROM e WHERE et = 'view'
             |  GROUP BY 1),
             |s2 AS (SELECT e.u, min(ts) t FROM e JOIN s1 ON e.u = s1.u
             |  WHERE et = 'click' AND ts > s1.t GROUP BY 1),
             |s3 AS (SELECT e.u, min(ts) t FROM e JOIN s2 ON e.u = s2.u
             |  WHERE et = 'purchase' AND ts > s2.t GROUP BY 1),
             |c AS (SELECT 1 stp, 'view' nm,
             |    CAST((SELECT count(*) FROM s1) AS BIGINT) n
             |  UNION ALL SELECT 2, 'click',
             |    CAST((SELECT count(*) FROM s2) AS BIGINT)
             |  UNION ALL SELECT 3, 'purchase',
             |    CAST((SELECT count(*) FROM s3) AS BIGINT))
             |SELECT CAST(stp AS BIGINT) step, nm step_name, n n_entities,
             |  round(CAST(n AS DOUBLE) /
             |    first_value(n) OVER (ORDER BY stp), 6) share_of_first,
             |  CASE WHEN lag(n) OVER (ORDER BY stp) IS NULL THEN 1.0
             |    WHEN lag(n) OVER (ORDER BY stp) = 0 THEN NULL
             |    ELSE round(CAST(n AS DOUBLE) /
             |      lag(n) OVER (ORDER BY stp), 6) END share_of_prev
             |FROM c ORDER BY step""".stripMargin)),

    // Data-contract validation (x160): the Deequ/dbt-tests component —
    // uniqueness, completeness, accepted values, range, referential
    // integrity over orders/customer as census aggregations + one
    // broadcast anti-join; the oracle recomputes every count. The range
    // contract is deliberately tight enough to FAIL (TPC-H totalprice
    // exceeds 200k) so the report proves it actually detects violations.
    QuerySpec("x160_data_contracts", (s, d) => {
      import graft.operators.Contracts
      Contracts.validate(t(s, d, "orders"), Seq(
        Contracts.Unique(Seq("o_orderkey")),
        Contracts.NotNull("o_custkey"),
        Contracts.InSet("o_orderstatus", Seq("O", "F", "P")),
        Contracts.InRange("o_totalprice", 0.0, 200000.0),
        Contracts.RefIntegrity("o_custkey", t(s, d, "customer"),
          "c_custkey")))
        .orderBy("contract", "detail")
    },
      Some(contractsOracleSql)),

    // Per-group exact percentiles (x161): order statistic at ceil(q*n)
    // over the (group, value) CENSUS — the census-not-corpus window
    // shape of x134, so a billion-row group with bounded value
    // cardinality costs nothing extra. Exact integer cents.
    QuerySpec("x161_grouped_percentiles", (s, d) =>
      graft.operators.ScaleOps.groupedPercentiles(
        t(s, d, "orders")
          .select(col("o_orderpriority"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
        "o_orderpriority", "cents")
        .orderBy("o_orderpriority"),
      Some("""WITH b AS (SELECT o_orderpriority g,
             |    CAST(round(o_totalprice*100, 0) AS BIGINT) v FROM orders
             |  WHERE o_orderpriority IS NOT NULL
             |    AND o_totalprice IS NOT NULL),
             |c AS (SELECT g, v, CAST(count(*) AS BIGINT) c FROM b
             |  GROUP BY 1, 2),
             |cum AS (SELECT g, v,
             |    sum(c) OVER (PARTITION BY g ORDER BY v ASC) cum,
             |    sum(c) OVER (PARTITION BY g) n FROM c)
             |SELECT g o_orderpriority, CAST(max(n) AS BIGINT) n_rows,
             |  CAST(min(CASE WHEN cum >= ceil(0.5*n) THEN v END)
             |    AS BIGINT) p50,
             |  CAST(min(CASE WHEN cum >= ceil(0.9*n) THEN v END)
             |    AS BIGINT) p90,
             |  CAST(min(CASE WHEN cum >= ceil(0.99*n) THEN v END)
             |    AS BIGINT) p99
             |FROM cum GROUP BY g ORDER BY 1""".stripMargin)),

    // Winsorization (x162): clip order totals to their exact [p5, p95]
    // cutoffs — census-derived order statistics broadcast back onto a
    // map-side scan; every row keeps its identity, tails are pinned.
    QuerySpec("x162_winsorize", (s, d) =>
      graft.operators.ScaleOps.winsorize(
        t(s, d, "orders")
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
        "cents", loQ = 0.05, hiQ = 0.95)
        .orderBy("o_orderkey"),
      Some("""WITH b AS (SELECT o_orderkey,
             |    CAST(round(o_totalprice*100, 0) AS BIGINT) cents
             |  FROM orders),
             |c AS (SELECT cents v, count(*) c FROM b
             |  WHERE cents IS NOT NULL GROUP BY 1),
             |cum AS (SELECT v, sum(c) OVER (ORDER BY v ASC) cum,
             |    sum(c) OVER () n FROM c),
             |cuts AS (SELECT
             |    CAST(min(CASE WHEN cum >= ceil(0.05*n) THEN v END)
             |      AS BIGINT) lo,
             |    CAST(min(CASE WHEN cum >= ceil(0.95*n) THEN v END)
             |      AS BIGINT) hi FROM cum)
             |SELECT o_orderkey, cents,
             |  CAST(CASE WHEN cents IS NULL THEN NULL
             |    WHEN cents < lo THEN lo
             |    WHEN cents > hi THEN hi ELSE cents END AS BIGINT)
             |    cents_winsorized
             |FROM b CROSS JOIN cuts ORDER BY o_orderkey""".stripMargin)),

    // Effective sample size (x163): Kish's (Σw)²/Σw² + design effect over
    // an n_chars-weighted document corpus — the one-number power check on
    // any weighted mix. Exact BIGINT sums, two rounded divisions.
    QuerySpec("x163_effective_sample_size", (s, d) =>
      graft.operators.ScaleOps.effectiveSampleSize(
        t(s, d, "documents"), "n_chars"),
      Some("""SELECT CAST(count(*) AS BIGINT) n,
             |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) sum_w,
             |  round(CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) *
             |    sum(CAST(n_chars AS BIGINT)) /
             |    CAST(sum(CAST(n_chars AS BIGINT) *
             |      CAST(n_chars AS BIGINT)) AS DOUBLE), 4) ess,
             |  round(CAST(count(*) AS DOUBLE) *
             |    CAST(sum(CAST(n_chars AS BIGINT) *
             |      CAST(n_chars AS BIGINT)) AS DOUBLE) /
             |    (CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) *
             |     sum(CAST(n_chars AS BIGINT))), 4) design_effect
             |FROM documents WHERE n_chars IS NOT NULL
             |  AND n_chars > 0""".stripMargin)),

    // Per-class precision/recall/F1 (x164): the classification report
    // over x156's degraded-rater fixture — exact BIGINT tp/fp/fn from
    // one (label, pred) census, F1 via the 2tp/(support+predicted)
    // single-division identity, NULL for undefined ratios.
    QuerySpec("x164_classification_report", (s, d) => {
      val ev = t(s, d, "events")
      val u = graft.operators.ScaleOps.hashUniform(col("event_id"), "kappa:")
      Analytics.classificationReport(
        ev.filter(col("event_type").isNotNull)
          .select(col("event_type").as("label"),
            when(u < 0.7, col("event_type")).otherwise(lit("other"))
              .as("pred")),
        "label", "pred")
        .orderBy("clazz")
    },
      Some("""WITH r AS (SELECT event_type l, CASE WHEN
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('kappa:' || CAST(event_id AS VARCHAR)),
             |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (x, y) -> x*16 + y) AS DOUBLE) / 4294967296.0 < 0.7
             |    THEN event_type ELSE 'other' END p
             |  FROM events WHERE event_type IS NOT NULL),
             |cells AS (SELECT l, p, CAST(count(*) AS BIGINT) n FROM r
             |  GROUP BY 1, 2),
             |act AS (SELECT l clazz, CAST(sum(n) AS BIGINT) support,
             |    CAST(coalesce(sum(CASE WHEN l = p THEN n ELSE 0 END), 0)
             |      AS BIGINT) tp FROM cells GROUP BY 1),
             |prd AS (SELECT p clazz, CAST(sum(n) AS BIGINT) n_predicted
             |  FROM cells GROUP BY 1),
             |cls AS (SELECT l clazz FROM cells
             |  UNION SELECT p FROM cells)
             |SELECT c.clazz,
             |  CAST(coalesce(support, 0) AS BIGINT) support,
             |  CAST(coalesce(n_predicted, 0) AS BIGINT) n_predicted,
             |  CAST(coalesce(tp, 0) AS BIGINT) tp,
             |  CAST(coalesce(n_predicted, 0) - coalesce(tp, 0) AS BIGINT) fp,
             |  CAST(coalesce(support, 0) - coalesce(tp, 0) AS BIGINT) fn,
             |  CASE WHEN coalesce(n_predicted, 0) = 0 THEN NULL
             |    ELSE round(CAST(coalesce(tp, 0) AS DOUBLE) /
             |      n_predicted, 6) END "precision",
             |  CASE WHEN coalesce(support, 0) = 0 THEN NULL
             |    ELSE round(CAST(coalesce(tp, 0) AS DOUBLE) /
             |      support, 6) END recall,
             |  CASE WHEN coalesce(support, 0) + coalesce(n_predicted, 0)
             |      = 0 THEN NULL
             |    ELSE round(2.0 * coalesce(tp, 0) /
             |      (coalesce(support, 0) + coalesce(n_predicted, 0)), 6)
             |    END f1
             |FROM cls c LEFT JOIN act ON c.clazz = act.clazz
             |LEFT JOIN prd ON c.clazz = prd.clazz
             |ORDER BY c.clazz""".stripMargin)),

    // nDCG@10 of the production ANN run (x165): graded relevance from
    // labels (2 = same label, 1 = adjacent label) against the trained-
    // centroid nprobe=12 search — each DCG term fixed-pointed to 1e-9
    // BIGINT units before the commutative sum, so engine/partition order
    // cannot move it and last-ulp log2 differences die in the rounding.
    QuerySpec("x165_ndcg", (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = trainedCents(s, d, 16)
      val queries = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") >= 16 && col("vec_id") % 10 =!= 0)
      val run = SimilarityOps.annJoin(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", cents, "cid", "cvec",
        k = 10, nprobe = 12)
      val q = queries.filter(col("label").isNotNull)
        .select(col("vec_id").as("query_id"), col("label").as("qlab"))
      val judg = q
        .withColumn("dlab",
          explode(array(col("qlab") - 1, col("qlab"), col("qlab") + 1)))
        .join(corpus.filter(col("label").isNotNull)
          .select(col("vec_id").as("neighbor_id"), col("label").as("dlab")),
          "dlab")
        .select(col("query_id"), col("neighbor_id"),
          when(col("qlab") === col("dlab"), 2L).otherwise(1L).as("rel"))
      SimilarityOps.ndcgAtK(run, "query_id", "neighbor_id", "nn_rank",
        judg, "query_id", "neighbor_id", "rel", k = 10)
        .orderBy("query_id")
    },
      Some(s"""WITH ${kmeansCentSql(16)},
             |qs AS (SELECT vec_id qid, embedding qe FROM embeddings
             |  WHERE vec_id % 10 = 0),
             |corpus AS (SELECT vec_id, embedding, "label" FROM embeddings
             |  WHERE vec_id >= 16 AND vec_id % 10 <> 0),
             |assign AS (SELECT co.vec_id, co.embedding, c.cid centroid
             |  FROM corpus co CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY co.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(co.embedding,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC,
             |      c.cid) = 1),
             |probes AS (SELECT q.qid, c.cid FROM qs q CROSS JOIN cent c
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |    ORDER BY list_cosine_similarity(c.cvec, list_transform(q.qe,
             |      x -> CAST(x AS DOUBLE))) DESC,
             |      c.cid) <= 12),
             |ann AS (SELECT * FROM (SELECT p.qid, a.vec_id nid,
             |    row_number() OVER (PARTITION BY p.qid ORDER BY
             |      round(CAST(list_cosine_similarity(a.embedding, q.qe)
             |        AS DOUBLE), 4) DESC, a.vec_id) rk
             |  FROM probes p JOIN assign a ON a.centroid = p.cid
             |  JOIN qs q ON q.qid = p.qid) WHERE rk <= 10),
             |ql AS (SELECT vec_id qid, "label" ql FROM embeddings
             |  WHERE vec_id % 10 = 0 AND "label" IS NOT NULL),
             |jd AS (SELECT q.qid, c.vec_id nid,
             |    CAST(CASE WHEN c."label" = q.ql THEN 2 ELSE 1 END
             |      AS BIGINT) rel
             |  FROM ql q JOIN corpus c ON c."label" IS NOT NULL
             |    AND abs(c."label" - q.ql) <= 1),
             |dcg AS (SELECT a.qid, CAST(sum(CAST(round(
             |      coalesce(j.rel, 0) * 1000000000.0 / log2(a.rk + 1), 0)
             |      AS BIGINT)) AS BIGINT) dcg
             |  FROM ann a LEFT JOIN jd j
             |    ON a.qid = j.qid AND a.nid = j.nid GROUP BY 1),
             |idl AS (SELECT qid, CAST(sum(CAST(round(
             |      rel * 1000000000.0 / log2(r + 1), 0) AS BIGINT))
             |      AS BIGINT) idcg
             |  FROM (SELECT qid, rel, nid, row_number() OVER (
             |      PARTITION BY qid ORDER BY rel DESC, nid ASC) r
             |    FROM jd WHERE rel > 0)
             |  WHERE r <= 10 GROUP BY 1)
             |SELECT u.qid query_id,
             |  round(CAST(coalesce(dcg, 0) AS DOUBLE) / 1e9, 6) dcg,
             |  round(CAST(coalesce(idcg, 0) AS DOUBLE) / 1e9, 6) idcg,
             |  CASE WHEN idcg IS NULL OR idcg = 0 THEN NULL
             |    ELSE round(CAST(coalesce(dcg, 0) AS DOUBLE) / idcg, 6)
             |    END ndcg
             |FROM (SELECT DISTINCT qid FROM ann) u
             |LEFT JOIN dcg ON u.qid = dcg.qid
             |LEFT JOIN idl ON u.qid = idl.qid
             |ORDER BY query_id""".stripMargin)),

    // Video frame sampling (x166): a 5-frame concatenated-P6 container
    // per doc, every-2nd frame kept (indices 0/2/4) and REALLY decoded —
    // dimensions + red-channel mean per sampled frame. The oracle
    // recomputes each sampled frame's features from the pure per-(id,
    // frame) pixel formula, never touching the binary (the x12b
    // gradeability contract).
    QuerySpec("x166_frame_sample", (s, d) => {
      val ids = t(s, d, "documents").select("doc_id")
      val video = Multimodal.synthPpmVideo(ids, "doc_id", nFrames = 5)
      val frames = Multimodal.frameSample(video, "media_bytes", every = 2)
      Multimodal.decodePpm(frames, "frame_bytes")
        .select(col("doc_id"), col("frame_idx"), col("ppm_width"),
          col("ppm_height"), round(col("r_mean"), 6).as("r_mean"))
        .orderBy("doc_id", "frame_idx")
    },
      Some("""WITH fr AS (SELECT doc_id, unnest([0, 2, 4]) f
             |  FROM documents),
             |e AS (SELECT doc_id, f, doc_id*31 + f eid FROM fr),
             |dims AS (SELECT doc_id, f, eid, 1 + eid % 8 w, 1 + eid % 6 h
             |  FROM e),
             |m AS (SELECT doc_id, f, w, h,
             |    list_sum(list_transform(range(0, w*h),
             |      i -> (eid*7 + (3*i)*13) % 256)) rs
             |  FROM dims)
             |SELECT doc_id, CAST(f AS INT) frame_idx,
             |  CAST(w AS INT) ppm_width, CAST(h AS INT) ppm_height,
             |  round(CAST(rs AS DOUBLE)/(w*h), 6) r_mean
             |FROM m ORDER BY doc_id, frame_idx""".stripMargin)),

    // Targeted id deletion (x167): the right-to-be-forgotten primitive —
    // rows of the requested ids vanish from a LogTable fact in one
    // commit through merge's delete-only form (`deleteMatchedKeys`, the
    // path SQL `MERGE … WHEN MATCHED THEN DELETE` takes). The fact
    // declares a bloom sidecar on `id`, so the probe reads only the
    // files that may hold a requested id. Oracle = the surviving
    // projection. Fixture accounting: the pristine table builds once per
    // process, each graded run deletes against its own local-fs copy.
    QuerySpec("x167_targeted_delete", (s, d) => {
      val ev = t(s, d, "events")
      val fact = ev.select(col("event_id").as("id"), col("ts"),
        graft.functions.Coercers.osloDate(col("ts")).as("start_date_oslo"),
        col("event_type"), col("value"))
      val base = logTableCopy(s, d, "x167")(dir =>
        graft.operators.LogTable.init(fact, dir, bloomCols = Seq("id")))
      // the requested ids live in the first week only, so most files
      // hold none of them and stay live untouched
      val ids = fact.filter(col("id") % 13 === 0 &&
        col("start_date_oslo") <= lit(java.sql.Date.valueOf("2024-01-08")))
        .select("id")
      graft.operators.LogTable.merge(s, base, fact.limit(0), Seq("id"),
        deleteMatchedKeys = Some(ids))
      val out = graft.operators.LogTable.read(s, base)
        .select(col("id"), col("ts"),
          col("start_date_oslo").cast("string").as("start_date_oslo"),
          col("event_type"), col("value"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out.orderBy("id")
    },
      Some("""SELECT event_id id, ts,
             |  CAST(CAST(timezone('Europe/Oslo', timezone('UTC', ts))
             |    AS DATE) AS VARCHAR) start_date_oslo,
             |  event_type, value
             |FROM events
             |WHERE NOT (event_id % 13 = 0
             |  AND CAST(timezone('Europe/Oslo', timezone('UTC', ts))
             |    AS DATE) <= DATE '2024-01-08')
             |ORDER BY id""".stripMargin)),

    // Native running-sum physical operator (x168): the custom
    // LogicalPlan -> Strategy -> SparkPlan extension slot
    // (RunningSumExec, injected via GraftExtensions) computing a global
    // prefix sum with a range exchange + per-partition offsets — no
    // single-partition Sort/Window anywhere (plan-asserted in
    // ExtensionRuleSpec). Graded against the window-form SQL oracle:
    // the physical strategy must not change a value.
    QuerySpec("x168_native_running_sum", (s, d) =>
      graft.plans.NativeRunningSum.attach(
        t(s, d, "orders").select(col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
        Seq("cents" -> false, "o_orderkey" -> true), "cents",
        name = "cum_cents")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, cents,
             |  CAST(sum(cents) OVER (ORDER BY cents DESC, o_orderkey)
             |    AS BIGINT) cum_cents
             |FROM (SELECT o_orderkey,
             |    CAST(round(o_totalprice*100, 0) AS BIGINT) cents
             |  FROM orders)
             |ORDER BY o_orderkey""".stripMargin)),

    // Changepoint localization (x169): binary segmentation's first split
    // over each event type's daily-count series — CUSUM (x111/st16)
    // detects a drift, this names the day it happened. Argmax on doubles
    // computed from exact integer prefix sums (identical inputs +
    // identical IEEE ops = identical doubles cross-engine), earliest-day
    // tie-break.
    QuerySpec("x169_changepoint", (s, d) => {
      val ev = t(s, d, "events")
      val daily = ev
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          to_date(col("ts")).cast("string").as("day"))
        .agg(count(lit(1)).as("n"))
      Analytics.changepoint(daily, "event_type", "day", "n")
        .orderBy("event_type")
    },
      Some(changepointOracleSql)),

    // Streaming changepoint monitor (st32): x169's per-(group, day)
    // counts as mergeable streaming state (the st16 pattern), binary-
    // segmentation argmax finalized batch-side — graded on x169's
    // oracle verbatim.
    QuerySpec("st32_stream_changepoint", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      Streams.runStreamingChangepointAvailableNow(s, d, "events.parquet",
        schema, "event_type")
        .orderBy("event_type")
    },
      Some(changepointOracleSql)),

    // Clustered-fixture ANN recall (x170, r10 VERDICT directive #3): the
    // graded embeddings are isotropic, which forces the shipped 12/16
    // probe fraction (PERF.md r10 caveat) — this query regenerates a
    // deterministic mixture-of-Gaussians table cross-engine
    // (SimilarityOps.mixtureEmbeddings; md5-uniform noise around the
    // first-8 vectors as centers) and measures recall@10 of the SAME IVF
    // machinery at nprobe=2 of nlist=8 — a 4× deeper prune than the
    // isotropic operating point, recall 1.0 (the pruning IVF exists
    // for, demonstrated; curve in PERF.md r11). The executable floor
    // lives in ScaleNativeSpec ("clustered fixture"), where the probe is
    // also plan-asserted as partition pruning.
    QuerySpec("x170_clustered_ann_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val mog = SimilarityOps.mixtureEmbeddings(emb, "vec_id", "embedding",
        nClusters = 8, eps = 0.05, salt = "mog:")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), x => x.cast("double")).as("cvec"))
      val queries = mog.filter(col("vec_id") % 10 === 0)
      val corpus = mog.filter(col("vec_id") % 10 =!= 0)
      SimilarityOps.annRecallAudit(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", cents, "cid", "cvec",
        k = 10, nprobe = 2).orderBy("query_id")
    },
      Some("""WITH __mc AS (SELECT CAST(vec_id AS BIGINT) cid,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cvec
             |  FROM embeddings WHERE vec_id < 8),
             |mog AS (SELECT e.vec_id, list_transform(range(1, 65),
             |      i -> CAST(c.cvec[i] +
             |        (CAST(list_reduce(list_transform(range(1, 9),
             |        j -> CAST(strpos('0123456789abcdef',
             |          substr(md5('mog:' || CAST(e.vec_id AS VARCHAR) || '#'
             |            || CAST(i - 1 AS VARCHAR)), CAST(j AS INT), 1)) - 1
             |          AS BIGINT)),
             |        (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 - 0.5)
             |        * 0.05 AS FLOAT)) e
             |  FROM embeddings e JOIN __mc c ON e.vec_id % 8 = c.cid),
             |qs AS (SELECT vec_id qid, e qe FROM mog WHERE vec_id % 10 = 0),
             |corpus AS (SELECT vec_id, e FROM mog WHERE vec_id % 10 <> 0),
             |assign AS (SELECT co.vec_id, co.e, c.cid centroid
             |  FROM corpus co CROSS JOIN __mc c
             |  QUALIFY row_number() OVER (PARTITION BY co.vec_id
             |    ORDER BY list_cosine_similarity(list_transform(co.e,
             |      x -> CAST(x AS DOUBLE)), c.cvec) DESC, c.cid) = 1),
             |probes AS (SELECT q.qid, c.cid FROM qs q CROSS JOIN __mc c
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |    ORDER BY list_cosine_similarity(c.cvec, list_transform(q.qe,
             |      x -> CAST(x AS DOUBLE))) DESC, c.cid) <= 2),
             |ann AS (SELECT p.qid, a.vec_id nid,
             |    round(CAST(list_cosine_similarity(a.e, q.qe) AS DOUBLE), 4)
             |      score
             |  FROM probes p JOIN assign a ON a.centroid = p.cid
             |  JOIN qs q ON q.qid = p.qid
             |  QUALIFY row_number() OVER (PARTITION BY p.qid
             |    ORDER BY score DESC, a.vec_id) <= 10),
             |exact AS (SELECT q.qid, co.vec_id nid,
             |    round(CAST(list_cosine_similarity(co.e, q.qe) AS DOUBLE), 4)
             |      score
             |  FROM qs q CROSS JOIN corpus co
             |  QUALIFY row_number() OVER (PARTITION BY q.qid
             |    ORDER BY score DESC, co.vec_id) <= 10),
             |hits AS (SELECT a.qid, count(*) n FROM ann a
             |  JOIN exact e ON a.qid = e.qid AND a.nid = e.nid GROUP BY 1)
             |SELECT q.qid query_id, CAST(coalesce(n, 0) AS BIGINT) n_hits,
             |  round(CAST(coalesce(n, 0) AS DOUBLE) / 10.0, 6) recall
             |FROM qs q LEFT JOIN hits ON q.qid = hits.qid
             |ORDER BY query_id""".stripMargin)),

    // Equi-depth quantile binning (x171): documents bucketed into 8
    // equal-frequency bins by exact global rank on (n_chars, doc_id) —
    // bin populations differ by <= 1 and edges are data-driven. The rank
    // rides the native running-sum exec (no single-partition sort);
    // graded as the per-bin census with value edges and an id checksum.
    QuerySpec("x171_quantile_bins", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      graft.operators.ScaleOps.quantileBin(docs, "n_chars", "doc_id", 8)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("lo"),
          max(col("n_chars")).as("hi"), sum(col("doc_id")).as("id_sum"))
        .orderBy("bin")
    },
      Some("""WITH r AS (SELECT doc_id, CAST(n_chars AS BIGINT) n_chars,
             |    row_number() OVER (ORDER BY CAST(n_chars AS BIGINT),
             |      doc_id) rk,
             |    count(*) OVER () n
             |  FROM documents WHERE n_chars IS NOT NULL
             |    AND doc_id IS NOT NULL)
             |SELECT CAST((rk - 1) * 8 // n AS BIGINT) bin,
             |  CAST(count(*) AS BIGINT) n, min(n_chars) lo, max(n_chars) hi,
             |  CAST(sum(doc_id) AS BIGINT) id_sum
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Fleiss' kappa (x172): multi-rater chance-corrected agreement —
    // a 3-rater panel (gold + two md5-degraded raters at 0.7/0.85 keep
    // rates) over the sampled events. The pure-BIGINT cross-multiplied
    // kappa identity makes the value hash-stable cross-engine.
    QuerySpec("x172_fleiss_kappa", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("event_id") % 7 === 0)
        .select(col("event_id"), col("event_type"))
      def degraded(name: String, keep: Double, salt: String) =
        ev.select(col("event_id").as("item"), lit(name).as("rater"),
          when(graft.operators.ScaleOps.hashUniform(col("event_id"), salt)
            < keep, col("event_type")).otherwise(lit("other")).as("cat"))
      val ratings = ev
        .select(col("event_id").as("item"), lit("gold").as("rater"),
          col("event_type").as("cat"))
        .unionByName(degraded("r2", 0.7, "k2:"))
        .unionByName(degraded("r3", 0.85, "k3:"))
      Analytics.fleissKappa(ratings, "item", "rater", "cat")
    },
      Some(fleissOracleSql)),

    // Streaming Fleiss' kappa (st33): x172's 3-rater panel with the
    // (item, category) vote cells as mergeable stream state (the st31
    // pattern one rater up), finalized batch-side — graded on x172's
    // oracle verbatim.
    QuerySpec("st33_stream_fleiss", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val raw = Streams.fileStream(s, d, "events.parquet", schema,
        onePerTrigger = true)
      def deg(keep: Double, salt: String) =
        when(graft.operators.ScaleOps.hashUniform(col("event_id"), salt)
          < keep, col("event_type")).otherwise(lit("other"))
      val ratings = raw
        .filter(col("event_type").isNotNull && col("event_id") % 7 === 0)
        .select(col("event_id").as("item"), explode(array(
          struct(lit("gold").as("rater"), col("event_type").as("cat")),
          struct(lit("r2").as("rater"), deg(0.7, "k2:").as("cat")),
          struct(lit("r3").as("rater"), deg(0.85, "k3:").as("cat"))))
          .as("r"))
        .select(col("item"), col("r.rater").as("rater"),
          col("r.cat").as("cat"))
      Streams.drain(Analytics.fleissCells(ratings, "item", "rater", "cat"),
        "complete", Analytics.fleissFromCells)
    },
      Some(fleissOracleSql)),

    // Stratified k-fold assignment (x173): within each lang stratum,
    // rows rank by md5 uniform and fold = (rank-1) mod 5 — every
    // stratum splits across 5 folds with sizes differing by <= 1, fully
    // reproducible. The per-stratum rank rides the GROUPED native
    // running-sum exec; graded as the (lang, fold) census with a
    // membership checksum.
    QuerySpec("x173_stratified_kfold", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
      graft.operators.ScaleOps.kfoldAssign(docs, "doc_id", "lang", 5,
          "fold:")
        .groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang", "fold")
    },
      Some("""WITH u AS (SELECT doc_id, lang,
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      x -> CAST(strpos('0123456789abcdef',
             |        substr(md5('fold:' || CAST(doc_id AS VARCHAR)),
             |          CAST(x AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 uu
             |  FROM documents WHERE doc_id IS NOT NULL
             |    AND lang IS NOT NULL),
             |r AS (SELECT doc_id, lang, row_number() OVER (
             |    PARTITION BY lang ORDER BY uu, doc_id) rk FROM u)
             |SELECT lang, CAST((rk - 1) % 5 AS INT) fold,
             |  CAST(count(*) AS BIGINT) n,
             |  CAST(sum(doc_id) AS BIGINT) id_sum
             |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Benjamini-Hochberg FDR control (x174): a deterministic battery of
    // per-document p-values (md5 uniforms, with every 11th test given a
    // planted /1000 signal) pushed through BH at q=0.05 — rank via the
    // native exec, adjusted p via its min-monoid reverse cummin. In
    // production the battery comes from the drift/inference tests
    // (x85/x89/x90/x91/x149); here the mechanics are what is graded.
    QuerySpec("x174_bh_fdr", (s, d) => {
      val u = graft.operators.ScaleOps.hashUniform(col("doc_id"), "bh:")
      val battery = t(s, d, "documents").select(col("doc_id"))
        .withColumn("p_value",
          when(col("doc_id") % 11 === 0, u / 1000).otherwise(u))
      Analytics.bhFdr(battery, "doc_id", "p_value", q = 0.05)
        .orderBy("p_rank")
    },
      Some("""WITH b AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
             |    THEN u / 1000 ELSE u END p
             |  FROM (SELECT doc_id,
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      x -> CAST(strpos('0123456789abcdef',
             |        substr(md5('bh:' || CAST(doc_id AS VARCHAR)),
             |          CAST(x AS INT), 1)) - 1 AS BIGINT)),
             |      (a, c) -> a*16 + c) AS DOUBLE) / 4294967296.0 u
             |   FROM documents WHERE doc_id IS NOT NULL)),
             |r AS (SELECT doc_id, p, row_number() OVER (ORDER BY p,
             |    doc_id) rk, CAST(count(*) OVER () AS BIGINT) m FROM b),
             |k AS (SELECT coalesce(max(CASE WHEN p * m <= rk * 0.05
             |    THEN rk END), 0) kk FROM r),
             |a AS (SELECT doc_id, p, rk,
             |    min(p * m / rk) OVER (ORDER BY rk DESC
             |      ROWS UNBOUNDED PRECEDING) cm FROM r)
             |SELECT doc_id, p p_value, rk p_rank,
             |  round(least(1.0, cm), 6) p_adjusted, rk <= kk significant
             |FROM a, k ORDER BY p_rank""".stripMargin)),

    // Byte-weighted length percentiles (x175): per lang, the doc-length
    // percentiles weighted by the length itself — "the median BYTE lives
    // in a doc of length p50_w", which the many short docs drag far
    // below the unweighted median. Exact ceil(q*W) order statistics over
    // the weighted census.
    QuerySpec("x175_weighted_percentiles", (s, d) =>
      graft.operators.ScaleOps.groupedWeightedPercentiles(
        t(s, d, "documents")
          .select(col("lang"), col("n_chars").cast("long").as("len"),
            col("n_chars").cast("long").as("w")),
        "lang", "len", "w")
        .orderBy("lang"),
      Some(weightedPctOracleSql)),

    // Streaming byte-weighted percentiles (st34): x175's weighted census
    // as mergeable stream state, finalized batch-side — graded on x175's
    // oracle verbatim.
    QuerySpec("st34_stream_weighted_pct", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val raw = Streams.fileStream(s, d, "documents.parquet", schema,
        onePerTrigger = true)
        .select(col("lang"), col("n_chars").cast("long").as("len"),
          col("n_chars").cast("long").as("w"))
      Streams.drain(graft.operators.ScaleOps.weightedPercentilesCensus(raw,
        "lang", "len", "w"), "complete",
        graft.operators.ScaleOps.weightedPercentilesFromCensus(_, "lang",
          "len", Seq(0.5, 0.9, 0.99)))
        .orderBy("lang")
    },
      Some(weightedPctOracleSql)),

    // Grouped median absolute deviation (x176): the robust scale beside
    // x161's robust center — MAD = median(|v - median|) per priority
    // over order cents, exact integer order statistics census-side.
    QuerySpec("x176_grouped_mad", (s, d) =>
      graft.operators.ScaleOps.groupedMad(
        t(s, d, "orders")
          .select(col("o_orderpriority"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
        "o_orderpriority", "cents")
        .orderBy("o_orderpriority"),
      Some(groupedMadOracleSql)),

    // Robust-z outlier gate (x177): flag order totals with
    // |v - median| > 3.5 * MAD per priority — x176's decision rule,
    // pure-integer comparison (|dv|*10 > 35*MAD); graded as the
    // per-priority flagged census with a value-range audit.
    QuerySpec("x177_robust_outliers", (s, d) =>
      graft.operators.ScaleOps.robustZOutliers(
        t(s, d, "orders")
          .select(col("o_orderpriority"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
        "o_orderpriority", "cents", k10 = 35L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          min(when(col("is_outlier"), col("cents"))).as("lo_outlier"),
          max(when(col("is_outlier"), col("cents"))).as("hi_outlier"))
        .orderBy("o_orderpriority"),
      Some("""WITH b AS (SELECT o_orderpriority g,
             |    CAST(round(o_totalprice*100, 0) AS BIGINT) v FROM orders
             |  WHERE o_orderpriority IS NOT NULL
             |    AND o_totalprice IS NOT NULL),
             |c AS (SELECT g, v, CAST(count(*) AS BIGINT) c FROM b
             |  GROUP BY 1, 2),
             |cum AS (SELECT g, v,
             |    sum(c) OVER (PARTITION BY g ORDER BY v ASC) cum,
             |    sum(c) OVER (PARTITION BY g) n FROM c),
             |med AS (SELECT g, CAST(min(CASE WHEN cum >= ceil(0.5*n)
             |    THEN v END) AS BIGINT) m FROM cum GROUP BY g),
             |d2 AS (SELECT b.g, b.v, abs(b.v - med.m) dv FROM b
             |  JOIN med ON b.g = med.g),
             |c2 AS (SELECT g, dv, CAST(count(*) AS BIGINT) c FROM d2
             |  GROUP BY 1, 2),
             |cum2 AS (SELECT g, dv,
             |    sum(c) OVER (PARTITION BY g ORDER BY dv ASC) cum,
             |    sum(c) OVER (PARTITION BY g) n FROM c2),
             |mad AS (SELECT g, CAST(min(CASE WHEN cum >= ceil(0.5*n)
             |    THEN dv END) AS BIGINT) mad FROM cum2 GROUP BY g),
             |f AS (SELECT d2.g, d2.v, d2.dv * 10 > 35 * mad.mad fl
             |  FROM d2 JOIN mad ON d2.g = mad.g)
             |SELECT g o_orderpriority, CAST(count(*) AS BIGINT) n,
             |  CAST(sum(CASE WHEN fl THEN 1 ELSE 0 END) AS BIGINT)
             |    n_outliers,
             |  CAST(min(CASE WHEN fl THEN v END) AS BIGINT) lo_outlier,
             |  CAST(max(CASE WHEN fl THEN v END) AS BIGINT) hi_outlier
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Mutual information + NMI + Cramér's V (x178): the association
    // STRENGTHS beside x82's significance statistic, on the same
    // event_type × day-of-week pair — exact BIGINT census, ordered-fold
    // float sums, margins re-aggregated from the census.
    QuerySpec("x178_mutual_info", (s, d) =>
      graft.operators.Analytics.mutualInformation(
        t(s, d, "events").select(col("event_type"),
          dayofweek(col("ts")).as("dow")),
        "event_type", "dow"),
      Some(mutualInfoOracleSql)),

    // STREAMING grouped MAD (st35): the (priority, cents) census as
    // mergeable stream state, finalized batch-side by madFromCensus —
    // graded on x176's oracle verbatim.
    QuerySpec("st35_stream_mad", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      Streams.drain(Analytics.valueCensus(raw, "o_orderpriority", "cents"),
        "complete",
        graft.operators.ScaleOps.madFromCensus(_, "o_orderpriority"))
        .orderBy("o_orderpriority")
    },
      Some(groupedMadOracleSql)),

    // Split-conformal prediction intervals (x179): per-priority interval
    // half-width q̂ at the ⌈0.9·(n_cal+1)⌉ conformal rank around the
    // calibration median, with measured held-out coverage — md5-coin
    // split, census-side order statistics, broadcast joins only.
    QuerySpec("x179_conformal", (s, d) =>
      graft.operators.ScaleOps.conformalIntervals(
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
        "o_orderpriority", "cents", "o_orderkey", salt = "cf1:")
        .orderBy("o_orderpriority"),
      Some(conformalOracleSql)),

    // STREAMING data contracts (st36): x160's five-constraint suite as
    // one streaming query — violation flags map-side, RefIntegrity as a
    // stream-static broadcast join, state = the key census with flag
    // partial sums; finalized to the batch report verbatim and graded
    // on x160's oracle.
    QuerySpec("st36_stream_contracts", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
      Streams.runStreamingContractsAvailableNow(raw,
        keyCol = "o_orderkey", notNullCol = "o_custkey",
        inSetCol = "o_orderstatus", inSetValues = Seq("O", "F", "P"),
        inRangeCol = "o_totalprice", lo = 0.0, hi = 200000.0,
        dim = t(s, d, "customer"), dimCol = "c_custkey",
        refCol = "o_custkey")
        .orderBy("contract", "detail")
    },
      Some(contractsOracleSql)),

    // Grouped two-regressor OLS (x180): extendedprice(whole dollars) on
    // quantity + discount-percent per returnflag — exact BIGINT
    // sufficient statistics, Cramer 3×3 in one fixed IEEE cofactor
    // order, singular groups NULL. The multi-feature step past x75.
    QuerySpec("x180_grouped_ols2", (s, d) =>
      graft.operators.Analytics.groupedOls2(
        t(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_quantity"), 0).cast("long").as("qty"),
            round(col("l_discount") * 100, 0).cast("long").as("disc"),
            round(col("l_extendedprice"), 0).cast("long").as("dollars")),
        "l_returnflag", "qty", "disc", "dollars")
        .orderBy("l_returnflag"),
      Some(ols2OracleSql)),

    // STREAMING conformal intervals (st37): the per-half (priority,
    // cents) census as mergeable stream state — md5 coin map-side —
    // finalized by conformalFromCensus; graded on x179's oracle.
    QuerySpec("st37_stream_conformal", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      Streams.drain(graft.operators.ScaleOps.conformalCensus(raw,
        "o_orderpriority", "cents", "o_orderkey", salt = "cf1:"),
        "complete", graft.operators.ScaleOps.conformalFromCensus(_,
          "o_orderpriority", level = 0.9))
        .orderBy("o_orderpriority")
    },
      Some(conformalOracleSql)),

    // Grouped partial correlation (x181): qty↔dollars controlling for
    // discount per returnflag — one pass of exact BIGINT sufficient
    // stats, double-tree correlation forms (documented n·Σy² headroom
    // trade), NULL on degenerate variance / ±1 control correlation.
    QuerySpec("x181_partial_corr", (s, d) =>
      graft.operators.Analytics.groupedPartialCorr(
        t(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_quantity"), 0).cast("long").as("qty"),
            round(col("l_extendedprice"), 0).cast("long").as("dollars"),
            round(col("l_discount") * 100, 0).cast("long").as("disc")),
        "l_returnflag", "qty", "dollars", "disc")
        .orderBy("l_returnflag"),
      Some("""WITH b AS (SELECT l_returnflag g,
             |    CAST(round(l_quantity, 0) AS BIGINT) x,
             |    CAST(round(l_extendedprice, 0) AS BIGINT) y,
             |    CAST(round(l_discount*100, 0) AS BIGINT) z
             |  FROM lineitem
             |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
             |    AND l_extendedprice IS NOT NULL
             |    AND l_discount IS NOT NULL),
             |s AS (SELECT g, CAST(count(*) AS BIGINT) n,
             |    CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
             |    CAST(sum(z) AS BIGINT) sz,
             |    CAST(sum(x*x) AS BIGINT) sxx,
             |    CAST(sum(y*y) AS BIGINT) syy,
             |    CAST(sum(z*z) AS BIGINT) szz,
             |    CAST(sum(x*y) AS BIGINT) sxy,
             |    CAST(sum(x*z) AS BIGINT) sxz,
             |    CAST(sum(y*z) AS BIGINT) syz
             |  FROM b GROUP BY 1),
             |e AS (SELECT g, n, CAST(n AS DOUBLE) nd,
             |    CAST(sx AS DOUBLE) sxd, CAST(sy AS DOUBLE) syd,
             |    CAST(sz AS DOUBLE) szd, CAST(sxx AS DOUBLE) sxxd,
             |    CAST(syy AS DOUBLE) syyd, CAST(szz AS DOUBLE) szzd,
             |    CAST(sxy AS DOUBLE) sxyd, CAST(sxz AS DOUBLE) sxzd,
             |    CAST(syz AS DOUBLE) syzd FROM s),
             |v AS (SELECT *, nd*sxxd - sxd*sxd vx, nd*syyd - syd*syd vy,
             |    nd*szzd - szd*szd vz FROM e),
             |r AS (SELECT *,
             |    CASE WHEN vx > 0 AND vy > 0 THEN
             |      (nd*sxyd - sxd*syd) / (sqrt(vx)*sqrt(vy)) END rxy,
             |    CASE WHEN vx > 0 AND vz > 0 THEN
             |      (nd*sxzd - sxd*szd) / (sqrt(vx)*sqrt(vz)) END rxz,
             |    CASE WHEN vy > 0 AND vz > 0 THEN
             |      (nd*syzd - syd*szd) / (sqrt(vy)*sqrt(vz)) END ryz
             |  FROM v),
             |p AS (SELECT *, sqrt(greatest(0.0, 1.0 - rxz*rxz)) *
             |    sqrt(greatest(0.0, 1.0 - ryz*ryz)) den
             |  FROM r)
             |SELECT g l_returnflag, n, round(rxy, 8) r_xy,
             |  round(rxz, 8) r_xz, round(ryz, 8) r_yz,
             |  CASE WHEN den > 0 THEN
             |    round((rxy - rxz*ryz)/den, 8) END r_partial
             |FROM p ORDER BY 1""".stripMargin)),

    // STREAMING two-regressor OLS (st38): the ten BIGINT sufficient
    // statistics per returnflag as stream state — O(1) per group, the
    // sums-are-a-sketch endpoint of the census-state family — solved
    // batch-side by the shared olsFromStats; graded on x180's oracle.
    QuerySpec("st38_stream_ols2", (s, d) => {
      val schema = s.read.parquet(s"$d/lineitem.parquet").schema
      val raw = Streams.fileStream(s, d, "lineitem.parquet", schema,
        onePerTrigger = true)
        .select(col("l_returnflag"),
          round(col("l_quantity"), 0).cast("long").as("qty"),
          round(col("l_discount") * 100, 0).cast("long").as("disc"),
          round(col("l_extendedprice"), 0).cast("long").as("dollars"))
      Streams.drain(Analytics.ols2Stats(raw, "l_returnflag", "qty", "disc",
        "dollars"), "complete", Analytics.olsFromStats(_, "l_returnflag"))
        .orderBy("l_returnflag")
    },
      Some(ols2OracleSql)),

    // STREAMING mutual information (st39): the event_type × day-of-week
    // contingency-cell census as stream state (st31/st33 cells pattern
    // for association), finalized by mutualInformationFromCells; graded
    // on x178's oracle.
    QuerySpec("st39_stream_mutual_info", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val raw = Streams.fileStream(s, d, "events.parquet", schema,
        onePerTrigger = true)
      val ev = Streams.normalizeTs(raw)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"))
      Streams.drain(Analytics.mutualInformationCells(ev, "event_type",
        "dow"), "complete", Analytics.mutualInformationFromCells)
    },
      Some(mutualInfoOracleSql)),

    // One-way ANOVA (x182): does order priority drive totalprice —
    // F + η² from three exact-BIGINT sums per group (whole dollars,
    // the documented Σv² headroom rule), the categorical×numeric
    // association screen beside x82 (cat×cat) and x181 (num×num).
    QuerySpec("x182_anova", (s, d) =>
      graft.operators.Analytics.oneWayAnova(
        t(s, d, "orders")
          .select(col("o_orderpriority"),
            round(col("o_totalprice"), 0).cast("long").as("dollars")),
        "o_orderpriority", "dollars"),
      Some(anovaOracleSql)),

    // STREAMING one-way ANOVA (st40): the three BIGINT sums per
    // priority as stream state (the st38 O(1)-per-group shape),
    // finalized by anovaFromStats; graded on x182's oracle.
    QuerySpec("st40_stream_anova", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
        .select(col("o_orderpriority"),
          round(col("o_totalprice"), 0).cast("long").as("dollars"))
      Streams.drain(Analytics.anovaStats(raw, "o_orderpriority",
        "dollars"), "complete", Analytics.anovaFromStats)
    },
      Some(anovaOracleSql)),

    // Kruskal-Wallis H (x183): the rank-based twin of x182 on the same
    // priority→dollars question — exact doubled midranks off the value
    // census, tie-corrected; NULL guards for degenerate panels.
    QuerySpec("x183_kruskal_wallis", (s, d) =>
      graft.operators.Analytics.kruskalWallis(
        t(s, d, "orders")
          .select(col("o_orderpriority"),
            round(col("o_totalprice"), 0).cast("long").as("dollars")),
        "o_orderpriority", "dollars"),
      Some(kruskalOracleSql)),

    // STREAMING Kruskal-Wallis (st41): the (priority, dollars) census as
    // stream state, re-ranked at finalize (midranks are global — the
    // census IS the only incrementally-maintainable form); graded on
    // x183's oracle.
    QuerySpec("st41_stream_kruskal", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
        .select(col("o_orderpriority"),
          round(col("o_totalprice"), 0).cast("long").as("dollars"))
      Streams.drain(Analytics.valueCensus(raw, "o_orderpriority",
        "dollars"), "complete", Analytics.kwFromCensus(_, "o_orderpriority"))
    },
      Some(kruskalOracleSql)),

    // Association rules (x184): market-basket support/confidence/lift
    // over (order, brand) baskets — pair expansion self-joined ON THE
    // BASKET KEY with the maxBasketSize hot-key cap; top-40 by lift
    // under a fully deterministic tie order.
    QuerySpec("x184_association_rules", (s, d) =>
      graft.operators.Analytics.associationRules(
        t(s, d, "lineitem")
          .join(t(s, d, "part"),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("basket"),
            col("p_brand").as("item")),
        "basket", "item", minPairCount = 10L, maxBasketSize = 16,
        topK = 40),
      Some(assocOracleSql)),

    // Kendall's tau-b (x185): pair-ordering rank correlation between
    // quantity and the $1k price bin — exact BIGINT concordance counts
    // off the bounded (x, y) cell census; completes the rank family
    // (x91 Mann-Whitney, x153 Spearman).
    QuerySpec("x185_kendall_tau", (s, d) =>
      graft.operators.Analytics.kendallTau(
        t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("qty"),
            floor(col("l_extendedprice") / lit(1000.0)).cast("long")
              .as("pricebin")),
        "qty", "pricebin", maxCells = 8192),
      Some(kendallOracleSql)),

    // Brown-Forsythe (x186): does order priority shift the SPREAD of
    // order value — the variance-homogeneity gate ANOVA's F assumes;
    // exact doubled group medians off the value census.
    QuerySpec("x186_brown_forsythe", (s, d) =>
      graft.operators.Analytics.brownForsythe(
        t(s, d, "orders")
          .select(col("o_orderpriority"),
            round(col("o_totalprice"), 0).cast("long").as("dollars")),
        "o_orderpriority", "dollars"),
      Some(brownForsytheOracleSql)),

    // STREAMING Brown-Forsythe (st42): the (priority, dollars) census as
    // stream state, group medians recomputed at finalize (order
    // statistics are global — the st41 census-state argument); graded on
    // x186's oracle.
    QuerySpec("st42_stream_brown_forsythe", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
        .select(col("o_orderpriority"),
          round(col("o_totalprice"), 0).cast("long").as("dollars"))
      Streams.drain(Analytics.valueCensus(raw, "o_orderpriority",
        "dollars"), "complete", Analytics.bfFromCensus(_, "o_orderpriority"))
    },
      Some(brownForsytheOracleSql)),

    // STREAMING Kendall tau-b (st43): the (qty, pricebin) cell census as
    // stream state, concordance counted at finalize by the batch
    // operator verbatim; graded on x185's oracle.
    QuerySpec("st43_stream_kendall", (s, d) => {
      val schema = s.read.parquet(s"$d/lineitem.parquet").schema
      val raw = Streams.fileStream(s, d, "lineitem.parquet", schema,
        onePerTrigger = true)
        .select(col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") / lit(1000.0)).cast("long")
            .as("pricebin"))
      Streams.drain(Analytics.ktCensus(raw, "qty", "pricebin"), "complete",
        Analytics.ktFromCensus(_, 8192))
    },
      Some(kendallOracleSql)),

    // Theil-Sen slope (x187): robust trend per event_type over the
    // daily-count series — the median pairwise slope (lower median over
    // the (slope, t1, t2) total order — no float averaging), pairwise
    // stage census-bounded by the enforced maxPoints require. A single
    // outage day cannot move it, unlike the OLS slope the same series
    // would fit.
    QuerySpec("x187_theil_sen", (s, d) =>
      graft.operators.Analytics.theilSen(
        t(s, d, "events")
          .filter(col("event_type").isNotNull && col("ts").isNotNull)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")),
              lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
              .as("dy"))
          .agg(count(lit(1)).as("n")),
        "event_type", "dy", "n")
        .orderBy("grp"),
      Some(theilSenOracleSql)),

    // STREAMING Theil-Sen (st44): the daily-count census is the series
    // AND the stream state (counts mergeable by construction, the st43
    // census rule); finalized by tsFromCensus verbatim — graded on
    // x187's oracle.
    QuerySpec("st44_stream_theil_sen", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val raw = Streams.fileStream(s, d, "events.parquet", schema,
        onePerTrigger = true)
      val ev = Streams.normalizeTs(raw)
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          datediff(to_date(col("ts")),
            lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("dy"))
      Streams.runStreamingTheilSenAvailableNow(ev, "event_type", "dy",
        2048)
        .orderBy("grp")
    },
      Some(theilSenOracleSql)),

    // Welch's two-sample t (x188): purchase vs view event values — mean
    // difference, t under unequal variances, Welch-Satterthwaite df, and
    // the effect sizes (Cohen's d, Hedges' g) an A/B gate should demand
    // beside significance. Exact cents sums, fixed double trees.
    QuerySpec("x188_welch_t", (s, d) =>
      graft.operators.Analytics.welchT(
        t(s, d, "events")
          .select(col("event_type"),
            round(col("value") * 100, 0).cast("long").as("cents")),
        "event_type", "cents", "purchase", "view"),
      Some(welchOracleSql)),

    // STREAMING Welch's t (st45): 2x3 exact BIGINT sums are the whole
    // stream state (the st38 sums-are-a-sketch endpoint), finalized by
    // welchFromStats verbatim — graded on x188's oracle.
    QuerySpec("st45_stream_welch_t", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val raw = Streams.fileStream(s, d, "events.parquet", schema,
        onePerTrigger = true)
      val ev = Streams.normalizeTs(raw)
        .select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      Streams.drain(Analytics.welchStats(ev, "event_type", "cents",
        "purchase", "view"), "complete",
        Analytics.welchFromStats(_, "purchase", "view"))
    },
      Some(welchOracleSql)),

    // McNemar's paired test (x189): do two quality gates disagree
    // systematically on the same documents — length >= 200 chars vs
    // >= 40 whitespace tokens. Only the discordant cells carry signal;
    // chi2 with the Edwards continuity correction, NULL when the gates
    // never disagree.
    QuerySpec("x189_mcnemar", (s, d) =>
      graft.operators.Analytics.mcnemar(
        t(s, d, "documents").filter(col("text").isNotNull)
          .select((length(col("text")) >= 200).as("ga"),
            (size(graft.operators.TextOps.tokens(col("text"))) >= 40)
              .as("gb")),
        "ga", "gb"),
      Some(mcnemarOracleSql)),

    // Vocabulary richness (x190): Chao1 richness floor + Good-Turing
    // unseen mass off the token census — is the corpus slice near
    // vocabulary saturation or still surfacing new types (the
    // closed-form companion of x147's fitted Heaps curve).
    QuerySpec("x190_vocab_richness", (s, d) =>
      graft.operators.TextOps.vocabularyRichness(
        t(s, d, "documents"), "text"),
      Some(richnessOracleSql)),

    // STREAMING vocabulary richness (st46): token census as stream
    // state; singleton/doubleton counts are global census properties a
    // row-at-a-time fold cannot maintain — graded on x190's oracle.
    QuerySpec("st46_stream_vocab_richness", (s, d) => {
      val docsSchema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = Streams.fileStream(s, d, "documents.parquet", docsSchema,
        onePerTrigger = true)
        // spread each single-file micro-batch before the tokenize-explode
        // (the st15 shape); token counts are commutative
        .repartition(s.sparkContext.defaultParallelism)
      Streams.drain(TextOps.richnessCensus(stream, "text"), "complete",
        TextOps.richnessFromCensus)
    },
      Some(richnessOracleSql)),

    // Range-partition planner (x191): exact balanced split points over
    // o_custkey for an 8-way range layout — the reproducible bounds a
    // reused 100 TB sort layout wants instead of Spark's per-run
    // sampling. Pure-BIGINT membership (i*N <= cum*P), native-exec
    // census rank, no floats anywhere.
    QuerySpec("x191_range_split", (s, d) =>
      graft.operators.ScaleOps.rangeSplitPoints(
        t(s, d, "orders"), "o_custkey", 8),
      Some("""WITH c AS (SELECT CAST(o_custkey AS VARCHAR) k,
             |    CAST(count(*) AS BIGINT) c FROM orders
             |  WHERE o_custkey IS NOT NULL GROUP BY 1),
             |r AS (SELECT k, c, CAST(sum(c) OVER (ORDER BY k
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM c),
             |n AS (SELECT CAST(sum(c) AS BIGINT) n FROM c),
             |e AS (SELECT k, c, cum, n.n,
             |    (cum - c) * 8 // n.n + 1 ilo,
             |    least(cum * 8 // n.n, 7) ihi
             |  FROM r CROSS JOIN n WHERE n.n > 0),
             |sel AS (SELECT unnest(generate_series(ilo, ihi)) si, k, cum,
             |    n FROM e WHERE ihi >= ilo)
             |SELECT CAST(si AS BIGINT) split_idx, k split_key,
             |  cum cum_rows, CAST((si*n + 7)//8 AS BIGINT) target_rank
             |FROM sel ORDER BY split_idx""".stripMargin)),

    // Temperature sampling (x192): the mBERT/XLM-R alpha-sampling recipe
    // — domain weight n^(1/T)/sum, md5-deterministic acceptance against
    // a row budget; low-resource languages upsampled smoothly vs x38's
    // hard equal share. T=2, budget=300 rows.
    QuerySpec("x192_temperature_sample", (s, d) =>
      graft.operators.ScaleOps.temperatureSample(
        t(s, d, "documents").select("doc_id", "lang"),
        "lang", "doc_id", temperature = 2.0, budget = 300L,
        salt = "temp1:")
        .orderBy("lang"),
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) n
             |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
             |t AS (SELECT CAST(sum(pow(CAST(n AS DOUBLE), 0.5)) AS DOUBLE)
             |    z FROM c),
             |w AS (SELECT lang, n,
             |    pow(CAST(n AS DOUBLE), 0.5) / t.z w FROM c CROSS JOIN t),
             |r AS (SELECT lang, n, w,
             |    CAST(floor(w * 300.0) AS BIGINT) tgt,
             |    least(1.0, CAST(floor(w * 300.0) AS BIGINT) /
             |      CAST(n AS DOUBLE)) rt
             |  FROM w),
             |k AS (SELECT d.lang kl, CAST(count(*) AS BIGINT) na
             |  FROM documents d JOIN r ON d.lang = r.lang
             |  WHERE list_reduce(list_transform(range(1, 9),
             |      i -> CAST(strpos('0123456789abcdef',
             |        substr(md5('temp1:' || CAST(doc_id AS VARCHAR)),
             |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) / 4294967296.0 < r.rt
             |  GROUP BY 1)
             |SELECT r.lang, r.n n_before, round(r.w, 6) weight,
             |  r.tgt n_target, round(r.rt, 6) acc_rate,
             |  CAST(coalesce(k.na, 0) AS BIGINT) n_after
             |FROM r LEFT JOIN k ON r.lang = k.kl
             |ORDER BY r.lang""".stripMargin)),

    // Data-constrained epochs plan (x193): per-language token budgets
    // under a temperature mixture — repetition factor, the
    // data-constrained flag (epochs > 4 cap, Muennighoff et al. 2023),
    // and capped effective tokens; shortfalls reported, never silently
    // redistributed. T=2, budget=100k tokens.
    QuerySpec("x193_epochs_plan", (s, d) =>
      graft.operators.ScaleOps.epochsPlan(
        t(s, d, "documents")
          .select(col("lang"),
            size(graft.operators.TextOps.tokens(col("text")))
              .cast("long").as("tok")),
        "lang", "tok", temperature = 2.0, budget = 100000L,
        maxEpochs = 4.0)
        .orderBy("lang"),
      Some("""WITH b AS (SELECT lang,
             |    CAST(CASE WHEN text IS NULL THEN NULL
             |      WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(regexp_split_to_array(trim(text), '\s+'))
             |      END AS BIGINT) tok
             |  FROM documents),
             |c AS (SELECT lang, CAST(sum(tok) AS BIGINT) n FROM b
             |  WHERE lang IS NOT NULL AND tok IS NOT NULL
             |  GROUP BY 1 HAVING sum(tok) > 0),
             |t AS (SELECT CAST(sum(pow(CAST(n AS DOUBLE), 0.5)) AS DOUBLE)
             |    z FROM c),
             |w AS (SELECT lang, n,
             |    pow(CAST(n AS DOUBLE), 0.5) / t.z w FROM c CROSS JOIN t),
             |e AS (SELECT lang, n, w,
             |    CAST(floor(w * 100000.0) AS BIGINT) req FROM w),
             |f AS (SELECT *, CAST(req AS DOUBLE) / CAST(n AS DOUBLE) ep
             |  FROM e)
             |SELECT lang, n tokens_available, round(w, 6) weight,
             |  req tokens_requested, round(ep, 6) epochs,
             |  ep > 4.0 data_constrained,
             |  least(req, CAST(floor(4.0 * CAST(n AS DOUBLE)) AS BIGINT))
             |    tokens_effective
             |FROM f ORDER BY lang""".stripMargin)),

    // Bloom-filter membership audit (x194): the semi-join pruning
    // primitive — a 4096-bit, 3-hash filter over orders' custkeys
    // probed by ALL customers; fill ratio, pass-throughs, and the REAL
    // false-positive rate vs exact membership. Salted-md5 positions, so
    // the identical filter rebuilds bit-for-bit on any engine (unlike
    // Spark's seeded runtime bloom).
    QuerySpec("x194_bloom_audit", (s, d) =>
      graft.operators.ScaleOps.bloomFilterAudit(
        t(s, d, "orders"), "o_custkey",
        t(s, d, "customer"), "c_custkey",
        mBits = 4096, numHashes = 3),
      Some(bloomOracleSql)),

    // STREAMING Bloom audit (st48): the build side's distinct-key
    // census as stream state (exact membership needs the keys; the
    // <= m-row bit set a production filter ships derives in one
    // finalize job) — graded on x194's oracle.
    QuerySpec("st48_stream_bloom_audit", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val build = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
      Streams.runStreamingBloomAuditAvailableNow(build, "o_custkey",
        t(s, d, "customer"), "c_custkey", mBits = 4096, numHashes = 3)
    },
      Some(bloomOracleSql)),

    // LogTable time travel (x195): the manifest-native MVCC table —
    // init (v1), replace the first week's partitions with doubled cents
    // (v2, old files retained), then read BOTH versions from their
    // manifests and aggregate. The oracle recomputes both versions from
    // the source: time travel must be bit-exact, not approximate.
    QuerySpec("x195_logtable_time_travel", (s, d) => {
      val fact = t(s, d, "events").filter(col("event_id") % 3 === 0)
        .select(col("event_id").cast("string").as("id"),
          graft.functions.Coercers.osloDate(col("ts")).as("start_date_oslo"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      // the init (a full fact write) templates; each run replaces
      // against its own copy — the mutation is the measured subject
      val base = logTableCopy(s, d, "x195")(dir =>
        graft.operators.LogTable.init(fact, dir))
      graft.operators.LogTable.replacePartitions(s, base,
        fact.filter(col("start_date_oslo") <=
            lit(java.sql.Date.valueOf("2024-01-08")))
          .withColumn("cents", col("cents") * 2))
      def snap(v: Option[Long], tag: Long) =
        graft.operators.LogTable.read(s, base, v)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
          .select(lit(tag).as("version"), col("n_rows"), col("sum_cents"))
      val out = snap(Some(1L), 1L).unionByName(snap(None, 2L))
        .orderBy("version").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT CAST(round(value*100, 0) AS BIGINT) cents,
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts))
             |      AS DATE) dt
             |  FROM events WHERE event_id % 3 = 0)
             |SELECT CAST(1 AS BIGINT) "version",
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(cents) AS BIGINT) sum_cents FROM b
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
             |  CAST(sum(CASE WHEN dt <= DATE '2024-01-08'
             |    THEN cents*2 ELSE cents END) AS BIGINT) FROM b
             |ORDER BY "version" """.stripMargin)),

    // STREAMING LogTable append (st49): micro-batches commit through
    // manifest flips with txn-id idempotence — after the drain, batch
    // 0's txn is deliberately REPLAYED (the at-least-once delivery a
    // checkpoint recovery implies) and must collapse to a no-op; the
    // oracle would double-count if it didn't. Exactly-once table
    // contents under replay, graded end-to-end.
    QuerySpec("st49_stream_logtable_append", (s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft_stlt")
        .toString
      val root = s"$base/fact"
      val fact = t(s, d, "events").filter(col("event_id") % 3 === 1)
        .select(col("event_id").cast("string").as("id"),
          graft.functions.Coercers.osloDate(col("ts")).as("start_date_oslo"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      fact.repartition(2).write.parquet(s"$base/in")
      val stream = s.readStream.schema(fact.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      Streams.runStreamingLogTableAppendAvailableNow(s, stream, root,
        "start_date_oslo", s"$base/ckpt")
      // replay batch 0's txn with the FULL fact: if idempotence failed,
      // every row would double and the oracle would mismatch
      graft.operators.LogTable.append(s, root, fact,
        "start_date_oslo", txnId = Some("st:0"))
      val out = graft.operators.LogTable.read(s, root)
        .select(col("id"),
          col("start_date_oslo").cast("string").as("start_date_oslo"),
          col("cents"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out.orderBy("id")
    },
      Some("""SELECT CAST(event_id AS VARCHAR) id,
             |  CAST(CAST(timezone('Europe/Oslo', timezone('UTC', ts))
             |    AS DATE) AS VARCHAR) start_date_oslo,
             |  CAST(round(value*100, 0) AS BIGINT) cents
             |FROM events WHERE event_id % 3 = 1
             |ORDER BY id""".stripMargin)),

    // STREAMING McNemar (st47): the 2x2 paired-outcome cells are the
    // whole stream state (four BIGINTs), finalized by mcnemarFromCells
    // — graded on x189's oracle.
    QuerySpec("st47_stream_mcnemar", (s, d) => {
      val docsSchema = s.read.parquet(s"$d/documents.parquet").schema
      val stream = Streams.fileStream(s, d, "documents.parquet", docsSchema,
        onePerTrigger = true)
        .filter(col("text").isNotNull)
        .select((length(col("text")) >= 200).as("ga"),
          (size(graft.operators.TextOps.tokens(col("text"))) >= 40)
            .as("gb"))
      Streams.drain(Analytics.mcnemarCells(stream, "ga", "gb"), "complete",
        Analytics.mcnemarFromCells)
    },
      Some(mcnemarOracleSql)),

    // Line-level boilerplate removal (x196): the CCNet/RefinedWeb
    // cleaning step. The fixture texts are single-line, so the query
    // builds the crawled-page shape deterministically: a per-source
    // header (df = docs-per-source), the body split across two lines,
    // and a global footer (df = corpus). minDocs=5 removes header +
    // footer everywhere and body lines only where >= 5 docs duplicate
    // them — genuinely duplicated content.
    QuerySpec("x196_line_dedup", (s, d) => {
      val paged = t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), concat_ws("\n",
          concat(lit("=== "), col("source"), lit(" crawl ===")),
          substring(col("text"), 1, 101),
          substring(col("text"), 102, 1 << 24),
          lit("subscribe to our newsletter")).as("text"))
      graft.operators.TextOps.lineDedup(paged, "doc_id", "text",
        minDocs = 5).orderBy("doc_id")
    },
      Some("""WITH pg AS (SELECT doc_id,
             |    '=== ' || source || ' crawl ===' || chr(10) ||
             |    substr(text, 1, 101) || chr(10) ||
             |    substr(text, 102) || chr(10) ||
             |    'subscribe to our newsletter' AS text
             |  FROM documents WHERE text IS NOT NULL),
             |ls AS (SELECT doc_id, list_transform(
             |    str_split(text, chr(10)), x -> trim(x)) la FROM pg),
             |le AS (SELECT doc_id, unnest(list_transform(
             |    range(0, len(la)), i -> {'p': i, 'l': la[i+1]})) s
             |  FROM ls),
             |lee AS (SELECT doc_id, s.p p, s.l l FROM le
             |  WHERE length(s.l) > 0),
             |boiler AS (SELECT l FROM lee GROUP BY l
             |  HAVING count(DISTINCT doc_id) >= 5),
             |kept AS (SELECT lee.* FROM lee ANTI JOIN boiler USING (l)),
             |agg AS (SELECT doc_id, string_agg(l, chr(10) ORDER BY p) tc
             |  FROM kept GROUP BY doc_id),
             |nl AS (SELECT doc_id, count(*) n FROM lee GROUP BY doc_id),
             |rem AS (SELECT doc_id, count(*) nr FROM lee
             |  JOIN boiler USING (l) GROUP BY doc_id)
             |SELECT p.doc_id, coalesce(a.tc, '') text_clean,
             |  CAST(coalesce(nl.n, 0) AS BIGINT) n_lines,
             |  CAST(coalesce(r.nr, 0) AS BIGINT) n_removed
             |FROM pg p LEFT JOIN agg a USING (doc_id)
             |LEFT JOIN nl USING (doc_id)
             |LEFT JOIN rem r USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Pairwise Jensen-Shannon divergence (x197): the symmetric
    // source-similarity matrix beside x110's KL-from-corpus — which
    // sources are interchangeable, which bring different token
    // statistics. Picopoint fixed-point terms, commutative BIGINT sum.
    QuerySpec("x197_jsd_pairwise", (s, d) =>
      graft.operators.TextOps.jsdPairwise(
        t(s, d, "documents"), "source", "text")
        .orderBy("source_a", "source_b"),
      Some(jsdOracleSql)),

    // STREAMING pairwise JSD (st50): the identical (source, word) count
    // census st18 carries as complete-mode state, finalized by
    // jsdFromCounts batch-side — graded on x197's oracle.
    QuerySpec("st50_stream_jsd", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      Streams.runStreamingJsdAvailableNow(s, d, "documents.parquet",
        schema, "source", "text")
        .orderBy("source_a", "source_b")
    },
      Some(jsdOracleSql)),

    // LogTable zone-map skipping (x198): three appends land three files
    // with disjoint event_id zones; a build-time NumRange probe
    // (LogTable.read's scanPreds) over the middle third must plan
    // EXACTLY ONE file (n_files_planned is graded — the
    // pruning itself is in the oracle gate, not just the values), and
    // the skim + exact filter must agree with DuckDB on the band.
    QuerySpec("x198_logtable_skipping", (s, d) => {
      val rows = t(s, d, "events").filter(col("event_id") % 3 === 2)
        .select(col("event_id").as("eid"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val maxId = rows.agg(max(col("eid"))).head().getLong(0)
      val (q1, q2) = (maxId / 3, 2 * maxId / 3)
      // probe-only after the build: read the shared template directly
      val base = logTableTemplate(s, d, "x198") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("eid") <= q1).repartition(1), dir,
          statsCols = Seq("eid"))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > q1 && col("eid") <= q2).repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > q2).repartition(1))
      }
      val skim = graft.operators.LogTable.read(s, base, scanPreds = Seq(
        graft.operators.LogTable.NumRange("eid", (q1 + 1).toDouble,
          q2.toDouble)))
      val planned = skim.inputFiles.length.toLong
      skim
        .filter(col("eid") > q1 && col("eid") <= q2)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(planned).as("n_files_planned"), col("n_rows"),
          col("sum_cents"))
    },
      Some("""WITH b AS (SELECT event_id,
             |    CAST(round(value*100, 0) AS BIGINT) cents
             |  FROM events WHERE event_id % 3 = 2),
             |m AS (SELECT max(event_id) // 3 q1,
             |    2 * max(event_id) // 3 q2 FROM b)
             |SELECT CAST(1 AS BIGINT) n_files_planned,
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(cents) AS BIGINT) sum_cents
             |FROM b, m WHERE event_id > q1 AND event_id <= q2"""
        .stripMargin)),

    // LogTable TYPED zone skipping (x214, r12 directive #3): the stats
    // column is a DATE — the fact's own hottest predicate shape
    // (docs/TASKS_SYNC_FEATURE.md:147,165) — and three appends land
    // three files with disjoint event_date zones (ISO-string lexical
    // bounds in the manifest). A build-time StrRange probe over the
    // middle third must plan EXACTLY ONE file (n_files_planned is
    // graded), with the band's content matching DuckDB — no epoch-day
    // encoding anywhere.
    QuerySpec("x214_logtable_date_skipping", (s, d) => {
      val rows = t(s, d, "events")
        .select(graft.functions.Coercers.osloDate(col("ts"))
          .as("event_date"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val mm = rows.agg(min(col("event_date")), max(col("event_date")))
        .head()
      val (d0, d1) = (mm.getDate(0).toLocalDate, mm.getDate(1).toLocalDate)
      val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1)
      val q1 = java.sql.Date.valueOf(d0.plusDays(span / 3))
      val q2 = java.sql.Date.valueOf(d0.plusDays(2 * span / 3))
      val base = logTableTemplate(s, d, "x214") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("event_date") <= lit(q1)).repartition(1), dir,
          statsCols = Seq("event_date"))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("event_date") > lit(q1) &&
            col("event_date") <= lit(q2)).repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("event_date") > lit(q2)).repartition(1))
      }
      val probeLo = q1.toLocalDate.plusDays(1).toString
      val skim = graft.operators.LogTable.read(s, base, scanPreds = Seq(
        graft.operators.LogTable.StrRange("event_date", probeLo,
          q2.toString)))
      val planned = skim.inputFiles.length.toLong
      skim
        .filter(col("event_date") > lit(q1) && col("event_date") <= lit(q2))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(planned).as("n_files_planned"), col("n_rows"),
          col("sum_cents"))
    },
      Some("""WITH b AS (SELECT
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) ed,
             |    CAST(round(value*100, 0) AS BIGINT) cents FROM events),
             |q AS (SELECT min(ed) + CAST(datediff('day', min(ed), max(ed))//3
             |      AS INTEGER) q1,
             |    min(ed) + CAST(2*datediff('day', min(ed), max(ed))//3
             |      AS INTEGER) q2 FROM b)
             |SELECT CAST(1 AS BIGINT) n_files_planned,
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(cents) AS BIGINT) sum_cents
             |FROM b, q WHERE ed > q1 AND ed <= q2""".stripMargin)),

    // LogTable Catalyst FileIndex (x215, r12 directive #4): the SAME
    // band as x214 expressed as an ORDINARY DataFrame filter over
    // LogTable.read — no build-time probe. The scan's own numFiles
    // metric is graded: the manifest-backed FileIndex must receive the
    // pushed-down date predicates and plan exactly ONE file, proving
    // zone maps serve what a real user writes. (Parity with the
    // build-time probe is additionally plan-asserted in
    // ExtensionRuleSpec.)
    QuerySpec("x215_logtable_fileindex_scan", (s, d) => {
      val rows = t(s, d, "events")
        .select(graft.functions.Coercers.osloDate(col("ts"))
          .as("event_date"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val mm = rows.agg(min(col("event_date")), max(col("event_date")))
        .head()
      val (d0, d1) = (mm.getDate(0).toLocalDate, mm.getDate(1).toLocalDate)
      val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1)
      val q1 = java.sql.Date.valueOf(d0.plusDays(span / 3))
      val q2 = java.sql.Date.valueOf(d0.plusDays(2 * span / 3))
      val base = logTableTemplate(s, d, "x214") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("event_date") <= lit(q1)).repartition(1), dir,
          statsCols = Seq("event_date"))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("event_date") > lit(q1) &&
            col("event_date") <= lit(q2)).repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("event_date") > lit(q2)).repartition(1))
      }
      val agg = graft.operators.LogTable.read(s, base)
        .filter(col("event_date") > lit(q1) && col("event_date") <= lit(q2))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      // collect() (NOT head(), which would build a separate limit plan
      // and leave agg's own scan metrics untouched) — then read the
      // metric once: Dataset actions reset plan metrics on re-execution
      val row = agg.collect().head
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f)
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scans(a.executedPlan)
          // AQE stages are LEAF nodes: the executed subtree hangs off
          // .plan, not .children — without this case the walk sees an
          // empty tree and the metric silently reads 0
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(q.plan)
          case o => o.children.flatMap(scans)
        }
      val planned = scans(agg.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      import s.implicits._
      Seq((planned, row.getLong(0), row.getLong(1)))
        .toDF("n_files_planned", "n_rows", "sum_cents")
    },
      Some("""WITH b AS (SELECT
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) ed,
             |    CAST(round(value*100, 0) AS BIGINT) cents FROM events),
             |q AS (SELECT min(ed) + CAST(datediff('day', min(ed), max(ed))//3
             |      AS INTEGER) q1,
             |    min(ed) + CAST(2*datediff('day', min(ed), max(ed))//3
             |      AS INTEGER) q2 FROM b)
             |SELECT CAST(1 AS BIGINT) n_files_planned,
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(cents) AS BIGINT) sum_cents
             |FROM b, q WHERE ed > q1 AND ed <= q2""".stripMargin)),

    // LogTable row-level DELETE via deletion vectors (x216, new r13):
    // merge-on-read on the manifest — the delete writes (file, position)
    // vectors and flips manifest entries, rewriting ZERO data files.
    // Graded: exactly ONE file carries a vector (the middle id-third —
    // a delete that vectored an unhit file or rewrote data would break
    // n_files_dv), the post-delete content matches DuckDB's filtered
    // table, the change feed nets exactly the deleted rows, and time
    // travel still reads the pre-delete row count.
    QuerySpec("x216_logtable_delete", (s, d) => {
      val rows = t(s, d, "events").filter(col("event_id") % 3 === 2)
        .select(col("event_id").as("eid"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val maxId = rows.agg(max(col("eid"))).head().getLong(0)
      val (q1, q2) = (maxId / 3, 2 * maxId / 3)
      val base = logTableCopy(s, d, "x216") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("eid") <= q1).repartition(1), dir,
          statsCols = Seq("eid"))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > q1 && col("eid") <= q2).repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > q2).repartition(1))
      }
      val vPre = graft.operators.TableLog.currentVersion(s, base)
      val vDel = graft.operators.LogTable.delete(s, base,
        col("eid") > q1 && col("eid") <= q2 && col("cents") % 3 === 0)
      val m = graft.operators.LogTable.manifest(s, base, vDel)
      val nDv = m.parts.values.flatten.count(_.dv.isDefined).toLong
      val nDeleted = graft.operators.LogTable.changes(s, base, vPre, vDel)
        .filter(col("_change_type") === "delete")
        .agg(coalesce(sum(col("n_rows")), lit(0L))).head().getLong(0)
      val nV1 = graft.operators.LogTable.read(s, base, Some(vPre))
        .count()
      val out = graft.operators.LogTable.read(s, base)
        .agg(count(lit(1)).as("n_rows_after"),
          sum(col("cents")).as("sum_cents_after"))
        .select(lit(nDv).as("n_files_dv"), col("n_rows_after"),
          col("sum_cents_after"), lit(nDeleted).as("n_deleted"),
          lit(nV1).as("n_rows_v1"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT event_id eid,
             |    CAST(round(value*100, 0) AS BIGINT) cents
             |  FROM events WHERE event_id % 3 = 2),
             |m AS (SELECT max(eid) // 3 q1, 2 * max(eid) // 3 q2 FROM b),
             |dead AS (SELECT eid, cents FROM b, m
             |  WHERE eid > q1 AND eid <= q2 AND cents % 3 = 0)
             |SELECT CAST(1 AS BIGINT) n_files_dv,
             |  CAST((SELECT count(*) FROM b) -
             |    (SELECT count(*) FROM dead) AS BIGINT) n_rows_after,
             |  CAST((SELECT sum(cents) FROM b) -
             |    (SELECT sum(cents) FROM dead) AS BIGINT) sum_cents_after,
             |  CAST((SELECT count(*) FROM dead) AS BIGINT) n_deleted,
             |  CAST((SELECT count(*) FROM b) AS BIGINT) n_rows_v1"""
        .stripMargin)),

    // LogTable OPTIMIZE (x199): four small appends bin-pack to one file
    // under a 1 GiB target with every row preserved, the PRE-compact
    // version still planning its four files (time-travel-safe
    // compaction — the property MergeOps' rename compactor can't offer),
    // and the packed file re-statted so zone skipping still prunes.
    QuerySpec("x199_logtable_compact", (s, d) => {
      val rows = t(s, d, "events").filter(col("event_id") % 3 === 2)
        .select(col("event_id").as("eid"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val maxId = rows.agg(max(col("eid"))).head().getLong(0)
      val qs = (1 to 3).map(i => i * maxId / 4)
      val base = logTableCopy(s, d, "x199") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("eid") <= qs(0)).repartition(1), dir,
          statsCols = Seq("eid"))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > qs(0) && col("eid") <= qs(1))
            .repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > qs(1) && col("eid") <= qs(2))
            .repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > qs(2)).repartition(1))
      }
      val preV = graft.operators.TableLog.currentVersion(s, base)
      val before = graft.operators.LogTable.read(s, base)
        .inputFiles.length.toLong
      graft.operators.LogTable.compact(s, base, targetBytes = 1L << 30)
      val after = graft.operators.LogTable.read(s, base)
        .inputFiles.length.toLong
      val ttFiles = graft.operators.LogTable.read(s, base, Some(preV))
        .inputFiles.length.toLong
      val out = graft.operators.LogTable.read(s, base)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(before).as("n_files_before"),
          lit(after).as("n_files_after"),
          lit(ttFiles).as("n_files_timetravel"),
          col("n_rows"), col("sum_cents"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""SELECT CAST(4 AS BIGINT) n_files_before,
             |  CAST(1 AS BIGINT) n_files_after,
             |  CAST(4 AS BIGINT) n_files_timetravel,
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
             |    sum_cents
             |FROM events WHERE event_id % 3 = 2""".stripMargin)),

    // LogTable MERGE (x200): keyed copy-on-write upsert on the manifest.
    // Init writes ONE file per date partition (repartition by the date
    // col); updates hit only the dates holding an event_id % 30 == 0
    // key, inserts land as new files. The oracle grades the UPSERT
    // CONTENT *and* the copy-on-write contract itself: n_untouched (v1
    // files still live in v2) must equal total dates minus hit dates —
    // a merge that rewrote an unmatched file fails the gate.
    QuerySpec("x200_logtable_merge", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          graft.functions.Coercers.osloDate(col("ts")).as("start_date_oslo"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val fact = ev.filter(col("event_id") % 3 === 0).drop("event_id")
      val base = logTableCopy(s, d, "x200")(dir =>
        graft.operators.LogTable.init(
          fact.repartition(col("start_date_oslo")), dir))
      val updates = ev.filter(col("event_id") % 30 === 0).drop("event_id")
          .withColumn("cents", col("cents") * 3 + 7)
        .unionByName(ev.filter(col("event_id") % 3 === 1)
          .select(concat(lit("n"), col("id")).as("id"),
            col("start_date_oslo"), col("cents")))
      graft.operators.LogTable.merge(s, base, updates, Seq("id"))
      def files(v: Long) = graft.operators.LogTable.manifest(s, base, v)
        .parts.toSeq.flatMap { case (p, fl) => fl.map(f => s"$p/${f.file}") }
        .toSet
      val f1 = files(1L)
      val untouched = (f1 & files(
        graft.operators.TableLog.currentVersion(s, base))).size.toLong
      val out = graft.operators.LogTable.read(s, base)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(f1.size.toLong).as("n_files_v1"),
          lit(untouched).as("n_untouched"), col("n_rows"), col("sum_cents"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT event_id,
             |    CAST(round(value*100, 0) AS BIGINT) c,
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts))
             |      AS DATE) dt
             |  FROM events)
             |SELECT
             |  CAST((SELECT count(DISTINCT dt) FROM b
             |    WHERE event_id % 3 = 0) AS BIGINT) n_files_v1,
             |  CAST((SELECT count(DISTINCT dt) FROM b
             |      WHERE event_id % 3 = 0)
             |    - (SELECT count(DISTINCT dt) FROM b
             |      WHERE event_id % 30 = 0) AS BIGINT) n_untouched,
             |  CAST((SELECT count(*) FROM b WHERE event_id % 3 = 0)
             |    + (SELECT count(*) FROM b WHERE event_id % 3 = 1)
             |    AS BIGINT) n_rows,
             |  CAST((SELECT sum(CASE WHEN event_id % 30 = 0
             |        THEN 3*c + 7 ELSE c END)
             |      FROM b WHERE event_id % 3 = 0)
             |    + (SELECT sum(c) FROM b WHERE event_id % 3 = 1)
             |    AS BIGINT) sum_cents""".stripMargin)),

    // LogTable row-level UPDATE (x218, new r13): one ATOMIC commit
    // kills the matched rows via a deletion vector and appends their
    // transformed versions — unmatched neighbors in the hit file are
    // NOT rewritten. Graded: exactly one vectored file, row count
    // UNCHANGED (an update preserves cardinality — a lost survivor or
    // doubled insert breaks it), transformed sum vs DuckDB, and the
    // pre-update sum via time travel.
    QuerySpec("x218_logtable_update", (s, d) => {
      val rows = t(s, d, "events").filter(col("event_id") % 3 === 2)
        .select(col("event_id").as("eid"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val maxId = rows.agg(max(col("eid"))).head().getLong(0)
      val (q1, q2) = (maxId / 3, 2 * maxId / 3)
      val base = logTableCopy(s, d, "x218") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("eid") <= q1).repartition(1), dir,
          statsCols = Seq("eid"))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > q1 && col("eid") <= q2).repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") > q2).repartition(1))
      }
      val vPre = graft.operators.TableLog.currentVersion(s, base)
      val vUpd = graft.operators.LogTable.update(s, base,
        col("eid") > q1 && col("eid") <= q2 && col("cents") % 3 === 0,
        Map("cents" -> (col("cents") * 3 + 7)))
      val m = graft.operators.LogTable.manifest(s, base, vUpd)
      val nDv = m.parts.values.flatten.count(_.dv.isDefined).toLong
      val preSum = graft.operators.LogTable.read(s, base, Some(vPre))
        .agg(sum(col("cents"))).head().getLong(0)
      val out = graft.operators.LogTable.read(s, base)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(nDv).as("n_files_dv"), col("n_rows"),
          col("sum_cents"), lit(preSum).as("sum_cents_v1"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT event_id eid,
             |    CAST(round(value*100, 0) AS BIGINT) cents
             |  FROM events WHERE event_id % 3 = 2),
             |m AS (SELECT max(eid) // 3 q1, 2 * max(eid) // 3 q2 FROM b)
             |SELECT CAST(1 AS BIGINT) n_files_dv,
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(CASE WHEN eid > (SELECT q1 FROM m)
             |      AND eid <= (SELECT q2 FROM m) AND cents % 3 = 0
             |    THEN 3*cents + 7 ELSE cents END) AS BIGINT) sum_cents,
             |  CAST(sum(cents) AS BIGINT) sum_cents_v1
             |FROM b""".stripMargin)),

    // LogTable INCREMENTAL CDC maintenance (x217, new r13): the reason
    // a change feed exists — a derived grouped aggregate maintained
    // PURELY from version-to-version feeds (insert:+, delete:−) across
    // an append, a copy-on-write MERGE update, and a deletion-vector
    // DELETE, with the v1 aggregate as the only full scan. The folded
    // state must equal DuckDB's recompute of the final table — a wrong
    // sign, a missed survivor cancellation, or a resurrected DV row
    // anywhere in the feed chain breaks the hash. This is the
    // derived-table CDC pattern (Delta CDF's raison d'être) end-to-end.
    QuerySpec("x217_logtable_cdc_incremental", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = logTableTemplate(s, d, "x217") { dir =>
        graft.operators.LogTable.init(
          ev.filter(col("event_id") % 3 === 0).drop("event_id")
            .repartition(2), dir)                               // v1
        graft.operators.LogTable.append(s, dir,
          ev.filter(col("event_id") % 3 === 1).drop("event_id")
            .repartition(2))                                    // v2
        graft.operators.LogTable.merge(s, dir,
          ev.filter(col("event_id") % 30 === 0)
            .withColumn("cents", col("cents") * 3 + 7)
            .drop("event_id"), Seq("id"))                       // v3
        graft.operators.LogTable.delete(s, dir,
          col("cents") % 5 === 0)                               // v4
      }
      val signed = (2L to 4L).map { v =>
        graft.operators.LogTable.changes(s, base, v - 1L, v)
          .select(col("grp"),
            (when(col("_change_type") === "insert", 1L)
              .otherwise(-1L) * col("n_rows")).as("dn"),
            (when(col("_change_type") === "insert", 1L)
              .otherwise(-1L) * col("n_rows") * col("cents")).as("ds"))
      }
      val v1 = graft.operators.LogTable.read(s, base, Some(1L))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("dn"), sum(col("cents")).as("ds"))
        .select(col("grp"), col("dn"), col("ds"))
      signed.foldLeft(v1)(_ unionByName _)
        .groupBy(col("grp"))
        .agg(sum(col("dn")).as("n_rows"), sum(col("ds")).as("sum_cents"))
        .filter(col("n_rows") > 0L)
        .orderBy(col("grp"))
    },
      Some("""WITH b AS (SELECT event_id, event_type grp,
             |    CAST(round(value*100, 0) AS BIGINT) c
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |t0 AS (SELECT event_id, grp,
             |    CASE WHEN event_id % 30 = 0 THEN 3*c + 7 ELSE c END c
             |  FROM b WHERE event_id % 3 IN (0, 1)),
             |t1 AS (SELECT * FROM t0 WHERE c % 5 <> 0)
             |SELECT grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(c) AS BIGINT) sum_cents
             |FROM t1 GROUP BY grp ORDER BY grp""".stripMargin)),

    // STREAMING LogTable change-feed SOURCE (st60, new r14 — r13
    // directive #2): the x217 incremental-CDC composition run as a
    // LIVE pipeline. A micro-batch poller tracks the last-consumed
    // version in a watermark file and delivers changes(vLast, vHead)
    // per trigger to a maintained-aggregate fold that commits under
    // txnId cdc:<from>-<to> — at-least-once window delivery,
    // exactly-once effects. The folded aggregate (bootstrap v1 scan +
    // three feed windows across an append, a COW merge and a DV
    // delete) must equal DuckDB's recompute of the final table, and a
    // RE-DELIVERED window must commit NOTHING (n_replay_commits = 0).
    QuerySpec("st60_stream_cdc_feed", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_st60")
        .toString
      val fact = s"$base/fact"
      val agg = s"$base/agg"
      val wm = s"$base/watermark"
      def poll(): Long =
        graft.streaming.Streams.pollLogTableChanges(s, fact, wm,
          recoverLast = Some(() =>
            graft.streaming.Streams.cdcLastFolded(s, agg))) {
          (feed, a, b) =>
            graft.streaming.Streams.foldChangeFeedIntoAggregate(
              s, agg, feed, a, b, "grp", "cents")
        }
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 3 === 0).drop("event_id")
          .repartition(2), fact)                                // v1
      poll() // bootstrap: the v1 snapshot seeds the aggregate
      graft.operators.LogTable.append(s, fact,
        ev.filter(col("event_id") % 3 === 1).drop("event_id")
          .repartition(2))                                      // v2
      graft.operators.LogTable.merge(s, fact,
        ev.filter(col("event_id") % 30 === 0)
          .withColumn("cents", col("cents") * 3 + 7)
          .drop("event_id"), Seq("id"))                         // v3
      poll() // window (1, 3]
      graft.operators.LogTable.delete(s, fact,
        col("cents") % 5 === 0)                                 // v4
      poll() // window (3, 4]
      // crash-replay contract: re-deliver the last window directly —
      // the fold's txn ledger must make it a commit-level no-op
      val vAgg = graft.operators.TableLog.currentVersion(s, agg)
      graft.streaming.Streams.foldChangeFeedIntoAggregate(s, agg,
        graft.operators.LogTable.changes(s, fact, 3L, 4L), 3L, 4L,
        "grp", "cents")
      val replayCommits =
        graft.operators.TableLog.currentVersion(s, agg) - vAgg
      val out = graft.operators.LogTable.read(s, agg)
        .filter(col("n_rows") > 0L)
        .select(col("grp"), col("n_rows"),
          col("sum_val").as("sum_cents"),
          lit(replayCommits).as("n_replay_commits"))
        .orderBy(col("grp"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    },
      Some("""WITH b AS (SELECT event_id, event_type grp,
             |    CAST(round(value*100, 0) AS BIGINT) c
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |t0 AS (SELECT event_id, grp,
             |    CASE WHEN event_id % 30 = 0 THEN 3*c + 7 ELSE c END c
             |  FROM b WHERE event_id % 3 IN (0, 1)),
             |t1 AS (SELECT * FROM t0 WHERE c % 5 <> 0)
             |SELECT grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(c) AS BIGINT) sum_cents,
             |  CAST(0 AS BIGINT) n_replay_commits
             |FROM t1 GROUP BY grp ORDER BY grp""".stripMargin)),

    // STREAMING SOURCE over LogTable via Spark's OWN offset log
    // (st61, new r15 — r14 directive #3): the same fold as st60, but
    // the change feed arrives through readStream.format("logtable")
    // with versions as offsets — no hand-rolled watermark file; the
    // checkpoint's offset log carries delivery state, and a restart
    // with nothing new commits NOTHING (n_replay_commits = 0). Runs
    // the same append/merge/delete history as st60 and must equal
    // DuckDB's recompute of the final table.
    QuerySpec("st61_stream_cdc_source", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_st61")
        .toString
      val fact = s"$base/fact"
      val agg = s"$base/agg"
      val ckpt = s"$base/ckpt"
      def run(): Unit = graft.streaming.Streams
        .runLogTableCdcFoldAvailableNow(s, fact, agg, ckpt, "grp",
          "cents")
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 3 === 0).drop("event_id")
          .repartition(2), fact)                                // v1
      run() // batch 0: bootstrap (0, 1]
      graft.operators.LogTable.append(s, fact,
        ev.filter(col("event_id") % 3 === 1).drop("event_id")
          .repartition(2))                                      // v2
      graft.operators.LogTable.merge(s, fact,
        ev.filter(col("event_id") % 30 === 0)
          .withColumn("cents", col("cents") * 3 + 7)
          .drop("event_id"), Seq("id"))                         // v3
      run() // batch 1: (1, 3]
      graft.operators.LogTable.delete(s, fact,
        col("cents") % 5 === 0)                                 // v4
      run() // batch 2: (3, 4]
      // a restart with nothing new must fold and commit NOTHING —
      // the offset log knows (3, 4] is consumed; no watermark file
      val vAgg = graft.operators.TableLog.currentVersion(s, agg)
      run()
      val replayCommits =
        graft.operators.TableLog.currentVersion(s, agg) - vAgg
      val out = graft.operators.LogTable.read(s, agg)
        .filter(col("n_rows") > 0L)
        .select(col("grp"), col("n_rows"),
          col("sum_val").as("sum_cents"),
          lit(replayCommits).as("n_replay_commits"))
        .orderBy(col("grp"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    },
      Some("""WITH b AS (SELECT event_id, event_type grp,
             |    CAST(round(value*100, 0) AS BIGINT) c
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |t0 AS (SELECT event_id, grp,
             |    CASE WHEN event_id % 30 = 0 THEN 3*c + 7 ELSE c END c
             |  FROM b WHERE event_id % 3 IN (0, 1)),
             |t1 AS (SELECT * FROM t0 WHERE c % 5 <> 0)
             |SELECT grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(c) AS BIGINT) sum_cents,
             |  CAST(0 AS BIGINT) n_replay_commits
             |FROM t1 GROUP BY grp ORDER BY grp""".stripMargin)),

    // STREAMING SINK (st62, new r15): a logtable→logtable replication
    // pipeline with BOTH ends engine-managed —
    // readStream.format("logtable") feeding
    // writeStream.format("logtable"), no foreachBatch anywhere.
    // Exactly-once is the offset log plus the sink's
    // sink:<queryId>:<batchId> txn-ledger commits: the mirror of an
    // append-only fact must be row-identical to DuckDB's recompute of
    // the inserted rows, and a restarted pass with nothing new must
    // commit NOTHING to the mirror (n_replay_commits = 0).
    QuerySpec("st62_stream_sink", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_st62")
        .toString
      val fact = s"$base/fact"
      val mirror = s"$base/mirror"
      val ckpt = s"$base/ckpt"
      def run(): Unit = graft.streaming.Streams
        .runLogTableMirrorAvailableNow(s, fact, mirror, ckpt,
          dateCol = "start_date_oslo", statsCols = Seq("cents"))
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 3 === 0).drop("event_id")
          .repartition(2), fact)                                // v1
      graft.operators.LogTable.append(s, fact,
        ev.filter(col("event_id") % 3 === 1).drop("event_id")
          .repartition(2))                                      // v2
      run() // batch 0: bootstrap (0, 2] creates the mirror
      graft.operators.LogTable.append(s, fact,
        ev.filter(col("event_id") % 3 === 2).drop("event_id")
          .repartition(2))                                      // v3
      run() // batch 1: (2, 3] appends
      // a restart with nothing new must commit NOTHING: the offset
      // log knows (2, 3] is consumed, and no replay reaches the sink
      val vMirror = graft.operators.TableLog.currentVersion(s, mirror)
      run()
      val replayCommits =
        graft.operators.TableLog.currentVersion(s, mirror) - vMirror
      val out = graft.operators.LogTable.read(s, mirror)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("sum_cents"))
        .select(col("grp"), col("n_rows"), col("sum_cents"),
          lit(replayCommits).as("n_replay_commits"))
        .orderBy(col("grp"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    },
      Some("""SELECT event_type grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(CAST(round(value*100, 0) AS BIGINT))
             |    AS BIGINT) sum_cents,
             |  CAST(0 AS BIGINT) n_replay_commits
             |FROM events
             |WHERE event_type IS NOT NULL AND value IS NOT NULL
             |GROUP BY grp ORDER BY grp""".stripMargin)),

    // STREAMING SINK, UPDATE MODE (st63, new r17): the maintained
    // aggregate with ZERO user code — the logtable change feed into
    // an Update-mode groupBy into the sink's keyed upsert
    // (option("mergeKeys")); each trigger merges only the CHANGED
    // groups, a restarted pass with nothing new commits NOTHING, and
    // the maintained table must equal DuckDB's one-shot recompute.
    QuerySpec("st63_stream_update_sink", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_st63")
        .toString
      val fact = s"$base/fact"
      val agg = s"$base/agg"
      val ckpt = s"$base/ckpt"
      def run(): Unit = graft.streaming.Streams
        .runLogTableUpdateAggAvailableNow(s, fact, agg, ckpt,
          grpCol = "grp", valCol = "cents")
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 3 === 0).drop("event_id")
          .repartition(2), fact)                                // v1
      graft.operators.LogTable.append(s, fact,
        ev.filter(col("event_id") % 3 === 1).drop("event_id")
          .repartition(2))                                      // v2
      run() // batch 0: bootstrap aggregate CREATES the table
      graft.operators.LogTable.append(s, fact,
        ev.filter(col("event_id") % 3 === 2).drop("event_id")
          .repartition(2))                                      // v3
      run() // the delta trigger upserts only the changed groups
      val vAgg = graft.operators.TableLog.currentVersion(s, agg)
      run() // nothing new: the offset log must keep the sink silent
      val replayCommits =
        graft.operators.TableLog.currentVersion(s, agg) - vAgg
      val out = graft.operators.LogTable.read(s, agg)
        .select(col("grp"), col("n_rows"),
          col("sum_val").as("sum_cents"),
          lit(replayCommits).as("n_replay_commits"))
        .orderBy(col("grp"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    },
      Some("""SELECT event_type grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(CAST(round(value*100, 0) AS BIGINT))
             |    AS BIGINT) sum_cents,
             |  CAST(0 AS BIGINT) n_replay_commits
             |FROM events
             |WHERE event_type IS NOT NULL AND value IS NOT NULL
             |GROUP BY grp ORDER BY grp""".stripMargin)),

    // LogTable SQL surface (x219, new r14 — r13 directive #8): pure
    // SQL over the manifest-native table through the injected
    // `logtable(path[, version])` table-valued function — the analyst
    // entry point. The WHERE date band must prune to ONE planned file
    // through the FileIndex (the scan's own numFiles metric, like
    // x215), values must match DuckDB, and `logtable(path, 1)` must
    // time-travel to the init snapshot — all without touching the
    // Column API.
    QuerySpec("x219_logtable_sql", (s, d) => {
      val rows = t(s, d, "events")
        .select(graft.functions.Coercers.osloDate(col("ts"))
          .as("event_date"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val mm = rows.agg(min(col("event_date")), max(col("event_date")))
        .head()
      val (d0, d1) = (mm.getDate(0).toLocalDate, mm.getDate(1).toLocalDate)
      val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1)
      val q1 = java.sql.Date.valueOf(d0.plusDays(span / 3))
      val q2 = java.sql.Date.valueOf(d0.plusDays(2 * span / 3))
      val base = logTableTemplate(s, d, "x214") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("event_date") <= lit(q1)).repartition(1), dir,
          statsCols = Seq("event_date"))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("event_date") > lit(q1) &&
            col("event_date") <= lit(q2)).repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("event_date") > lit(q2)).repartition(1))
      }
      val agg = s.sql(
        s"""SELECT count(*) AS n_rows, sum(cents) AS sum_cents
           |FROM logtable('$base')
           |WHERE event_date > DATE'$q1' AND event_date <= DATE'$q2'"""
          .stripMargin)
      val row = agg.collect().head // ONE action, then read the metric
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
      val planned = scans(agg.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      // VERSION AS OF through SQL: the pinned init snapshot
      val v1n = s.sql(s"SELECT count(*) AS n FROM logtable('$base', 1)")
        .collect().head.getLong(0)
      import s.implicits._
      Seq((planned, row.getLong(0), row.getLong(1), v1n))
        .toDF("n_files_planned", "n_rows", "sum_cents", "n_rows_v1")
    },
      Some("""WITH b AS (SELECT
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) ed,
             |    CAST(round(value*100, 0) AS BIGINT) cents FROM events),
             |q AS (SELECT min(ed) + CAST(datediff('day', min(ed), max(ed))//3
             |      AS INTEGER) q1,
             |    min(ed) + CAST(2*datediff('day', min(ed), max(ed))//3
             |      AS INTEGER) q2 FROM b)
             |SELECT CAST(1 AS BIGINT) n_files_planned,
             |  CAST((SELECT count(*) FROM b, q
             |    WHERE ed > q1 AND ed <= q2) AS BIGINT) n_rows,
             |  CAST((SELECT sum(cents) FROM b, q
             |    WHERE ed > q1 AND ed <= q2) AS BIGINT) sum_cents,
             |  CAST((SELECT count(*) FROM b, q WHERE ed <= q1) AS BIGINT)
             |    n_rows_v1""".stripMargin)),

    // LogTable change-data-feed (x201): three versions — init, replace
    // the first week with cents*2+1 (always differs, so nothing
    // cancels), append a disjoint slice — then changes(1, 3) computed
    // from the manifests' FILE diff: only changed files are scanned,
    // O(delta) never O(table). The oracle re-derives the exact feed:
    // week originals out, doubled week + appended slice in, each with
    // multiplicity 1 (ids are unique).
    QuerySpec("x201_logtable_cdf", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          graft.functions.Coercers.osloDate(col("ts")).as("start_date_oslo"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val fact = ev.filter(col("event_id") % 3 === 0).drop("event_id")
      // changes() is read-only: the 3 commits template once per process
      val base = logTableTemplate(s, d, "x201") { dir =>
        graft.operators.LogTable.init(fact, dir)
        graft.operators.LogTable.replacePartitions(s, dir,
          fact.filter(col("start_date_oslo") <=
              lit(java.sql.Date.valueOf("2024-01-08")))
            .withColumn("cents", col("cents") * 2 + 1))
        graft.operators.LogTable.append(s, dir,
          ev.filter(col("event_id") % 3 === 1)
            .select(concat(lit("n"), col("id")).as("id"),
              col("start_date_oslo"), col("cents")))
      }
      graft.operators.LogTable.changes(s, base, 1L, 3L)
        .select(col("id"),
          col("start_date_oslo").cast("string").as("start_date_oslo"),
          col("cents"), col("_change_type"), col("n_rows"))
        .orderBy("_change_type", "id")
    },
      Some("""WITH b AS (SELECT event_id e,
             |    CAST(event_id AS VARCHAR) id,
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts))
             |      AS DATE) dt,
             |    CAST(round(value*100, 0) AS BIGINT) c
             |  FROM events)
             |SELECT id, CAST(dt AS VARCHAR) start_date_oslo, c cents,
             |  'delete' _change_type, CAST(1 AS BIGINT) n_rows
             |FROM b WHERE e % 3 = 0 AND dt <= DATE '2024-01-08'
             |UNION ALL
             |SELECT id, CAST(dt AS VARCHAR), 2*c + 1, 'insert',
             |  CAST(1 AS BIGINT)
             |FROM b WHERE e % 3 = 0 AND dt <= DATE '2024-01-08'
             |UNION ALL
             |SELECT 'n' || id, CAST(dt AS VARCHAR), c, 'insert',
             |  CAST(1 AS BIGINT)
             |FROM b WHERE e % 3 = 1
             |ORDER BY _change_type, id""".stripMargin)),

    // LogTable change feed through SQL (x220, new r14 — the SQL
    // surface's CDC half): the SAME feed as x201, produced by
    // `SELECT ... FROM logtable_changes('$dir', 1, 3)` through the
    // injected table function — an analyst asks "what changed between
    // these versions" in one SQL line, O(changed files) never
    // O(table). Same template, same DuckDB oracle: the SQL hop must
    // be value-exact against the Column-API feed.
    QuerySpec("x220_logtable_sql_cdf", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          graft.functions.Coercers.osloDate(col("ts")).as("start_date_oslo"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val fact = ev.filter(col("event_id") % 3 === 0).drop("event_id")
      val base = logTableTemplate(s, d, "x201") { dir =>
        graft.operators.LogTable.init(fact, dir)
        graft.operators.LogTable.replacePartitions(s, dir,
          fact.filter(col("start_date_oslo") <=
              lit(java.sql.Date.valueOf("2024-01-08")))
            .withColumn("cents", col("cents") * 2 + 1))
        graft.operators.LogTable.append(s, dir,
          ev.filter(col("event_id") % 3 === 1)
            .select(concat(lit("n"), col("id")).as("id"),
              col("start_date_oslo"), col("cents")))
      }
      s.sql(
        s"""SELECT id, CAST(start_date_oslo AS STRING) start_date_oslo,
           |  cents, _change_type, n_rows
           |FROM logtable_changes('$base', 1, 3)
           |ORDER BY _change_type, id""".stripMargin)
    },
      Some("""WITH b AS (SELECT event_id e,
             |    CAST(event_id AS VARCHAR) id,
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts))
             |      AS DATE) dt,
             |    CAST(round(value*100, 0) AS BIGINT) c
             |  FROM events)
             |SELECT id, CAST(dt AS VARCHAR) start_date_oslo, c cents,
             |  'delete' _change_type, CAST(1 AS BIGINT) n_rows
             |FROM b WHERE e % 3 = 0 AND dt <= DATE '2024-01-08'
             |UNION ALL
             |SELECT id, CAST(dt AS VARCHAR), 2*c + 1, 'insert',
             |  CAST(1 AS BIGINT)
             |FROM b WHERE e % 3 = 0 AND dt <= DATE '2024-01-08'
             |UNION ALL
             |SELECT 'n' || id, CAST(dt AS VARCHAR), c, 'insert',
             |  CAST(1 AS BIGINT)
             |FROM b WHERE e % 3 = 1
             |ORDER BY _change_type, id""".stripMargin)),

    // LogTable CATALOG surface (x221, new r15 — r14 directive #1):
    // the full named-table lifecycle through PURE SQL on the
    // `logtable` DataSource — CREATE TABLE ... USING logtable
    // LOCATION, INSERT INTO (a manifest append, never a bare parquet
    // write), then a SELECT by NAME whose WHERE band must prune to
    // ONE planned file through the manifest FileIndex (numFiles
    // asserted like x219, now with zero path literals in the query),
    // plus the post-insert total and the inserted row read back.
    QuerySpec("x221_logtable_catalog", (s, d) => {
      val rows = t(s, d, "events")
        .select(graft.functions.Coercers.osloDate(col("ts"))
          .as("event_date"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val mm = rows.agg(min(col("event_date")), max(col("event_date")))
        .head()
      val (d0, d1) = (mm.getDate(0).toLocalDate, mm.getDate(1).toLocalDate)
      val span = java.time.temporal.ChronoUnit.DAYS.between(d0, d1)
      val q1 = java.sql.Date.valueOf(d0.plusDays(span / 3))
      val q2 = java.sql.Date.valueOf(d0.plusDays(2 * span / 3))
      // CREATE/INSERT mutate — a fresh table per run, never templated
      val base = java.nio.file.Files.createTempDirectory("graft_x221")
        .toString + "/t"
      graft.operators.LogTable.init(
        rows.filter(col("event_date") <= lit(q1)).repartition(1), base,
        statsCols = Seq("event_date"))
      graft.operators.LogTable.append(s, base,
        rows.filter(col("event_date") > lit(q1) &&
          col("event_date") <= lit(q2)).repartition(1))
      graft.operators.LogTable.append(s, base,
        rows.filter(col("event_date") > lit(q2)).repartition(1))
      s.sql("DROP TABLE IF EXISTS graft_x221")
      s.sql(s"CREATE TABLE graft_x221 USING logtable LOCATION '$base'")
      // SQL INSERT: lands as a 4th file with its own zones, committed
      // through the manifest (version must advance)
      s.sql("INSERT INTO graft_x221 VALUES " +
        "(DATE'2099-01-01', 300, DATE'2024-01-01')")
      require(graft.operators.TableLog.currentVersion(s, base) == 4L,
        "x221: INSERT INTO must commit through the manifest")
      val agg = s.sql(
        s"""SELECT count(*) AS n_rows, sum(cents) AS sum_cents
           |FROM graft_x221
           |WHERE event_date > DATE'$q1' AND event_date <= DATE'$q2'"""
          .stripMargin)
      val row = agg.collect().head // ONE action, then read the metric
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
      val planned = scans(agg.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      val total = s.sql("SELECT count(*) AS n FROM graft_x221")
        .collect().head.getLong(0)
      val ins = s.sql("SELECT cents FROM graft_x221 " +
        "WHERE event_date = DATE'2099-01-01'").collect().head.getLong(0)
      s.sql("DROP TABLE graft_x221")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      import s.implicits._
      Seq((planned, row.getLong(0), row.getLong(1), total, ins))
        .toDF("n_files_planned", "n_rows", "sum_cents", "n_total",
          "ins_cents")
    },
      Some("""WITH b AS (SELECT
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts)) AS DATE) ed,
             |    CAST(round(value*100, 0) AS BIGINT) cents FROM events),
             |q AS (SELECT min(ed) + CAST(datediff('day', min(ed), max(ed))//3
             |      AS INTEGER) q1,
             |    min(ed) + CAST(2*datediff('day', min(ed), max(ed))//3
             |      AS INTEGER) q2 FROM b)
             |SELECT CAST(1 AS BIGINT) n_files_planned,
             |  CAST((SELECT count(*) FROM b, q
             |    WHERE ed > q1 AND ed <= q2) AS BIGINT) n_rows,
             |  CAST((SELECT sum(cents) FROM b, q
             |    WHERE ed > q1 AND ed <= q2) AS BIGINT) sum_cents,
             |  CAST((SELECT count(*) + 1 FROM b) AS BIGINT) n_total,
             |  CAST(300 AS BIGINT) ins_cents""".stripMargin)),

    // LogTable SQL row-level DML (x223, new r15): the analyst's
    // mutation statements — DELETE FROM, UPDATE, MERGE INTO (keyed
    // upsert, SET */INSERT *) — run by NAME through the injected
    // rewrite rules onto the manifest DML ops; the final grouped
    // state must equal DuckDB's re-derivation of the same three
    // mutations from the event axioms.
    QuerySpec("x223_logtable_sql_dml", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_x223")
        .toString + "/t"
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 3 === 0).drop("event_id")
          .repartition(2), base, statsCols = Seq("cents"))
      s.sql("DROP TABLE IF EXISTS graft_x223")
      s.sql(s"CREATE TABLE graft_x223 USING logtable LOCATION '$base'")
      s.sql("DELETE FROM graft_x223 WHERE cents % 5 = 0")
      s.sql("UPDATE graft_x223 SET cents = cents * 2 + 1 " +
        "WHERE grp = 'click'")
      ev.filter(col("event_id") % 6 === 0 || col("event_id") % 3 === 2)
        .select(col("id"), col("grp"), lit(777L).as("cents"),
          col("start_date_oslo"))
        .createOrReplaceTempView("graft_x223_src")
      s.sql(
        """MERGE INTO graft_x223 t USING graft_x223_src s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = s.sql(
        """SELECT grp, CAST(count(*) AS BIGINT) n_rows,
          |  CAST(sum(cents) AS BIGINT) sum_cents
          |FROM graft_x223 GROUP BY grp ORDER BY grp""".stripMargin)
        .localCheckpoint(true)
      s.sql("DROP TABLE graft_x223")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT event_id e,
             |    CAST(event_id AS VARCHAR) id, event_type grp,
             |    CAST(round(value*100, 0) AS BIGINT) cents
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |t0 AS (SELECT * FROM b WHERE e % 3 = 0),
             |t1 AS (SELECT * FROM t0 WHERE cents % 5 <> 0),
             |t2 AS (SELECT id, grp,
             |    CASE WHEN grp = 'click' THEN 2*cents + 1 ELSE cents
             |    END cents
             |  FROM t1),
             |src AS (SELECT id, grp, CAST(777 AS BIGINT) cents
             |  FROM b WHERE e % 6 = 0 OR e % 3 = 2),
             |f AS (SELECT * FROM t2
             |    WHERE id NOT IN (SELECT id FROM src)
             |  UNION ALL SELECT * FROM src)
             |SELECT grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(cents) AS BIGINT) sum_cents
             |FROM f GROUP BY grp ORDER BY grp""".stripMargin)),

    // LogTable BLOOM point-lookup pruning (x224, new r15): per-file
    // bloom sidecars prune `id IN (...)` on a SCATTERED high-card
    // column — the round-robin layout gives every file an id zone
    // spanning the whole range, so zone maps admit ALL files and the
    // blooms are the only thing narrowing the plan. Graded: the IN
    // probe's rows match DuckDB AND the scan plans strictly fewer
    // files than the table holds (emitted as the `pruned` flag —
    // the planned count itself is data-dependent through bloom FPs).
    QuerySpec("x224_logtable_bloom", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_x224")
        .toString + "/t"
      graft.operators.LogTable.init(ev.repartition(8), base,
        statsCols = Seq("cents"), bloomCols = Seq("event_id"))
      val nLive = graft.operators.LogTable
        .manifest(s, base, graft.operators.TableLog.currentVersion(s,
          base)).parts.values.map(_.size.toLong).sum
      val ids = Seq(7L, 203L, 401L, 607L, 809L)
      val probe = graft.operators.LogTable.read(s, base)
        .filter(col("event_id").isin(ids: _*))
        .select(col("event_id"), col("grp"), col("cents"))
        .orderBy(col("event_id"))
      val rows = probe.collect()
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
      val planned = scans(probe.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      import s.implicits._
      val out = rows.toSeq.map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2),
          planned < nLive))
        .toDF("event_id", "grp", "cents", "pruned")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""SELECT event_id, event_type grp,
             |  CAST(round(value*100, 0) AS BIGINT) cents, true pruned
             |FROM events
             |WHERE event_type IS NOT NULL AND value IS NOT NULL
             |  AND event_id IN (7, 203, 401, 607, 809)
             |ORDER BY event_id""".stripMargin)),

    // CONVERT in place (x227, new r15 — the CONVERT TO DELTA role):
    // a FOREIGN writer's Hive-partitioned parquet directory is
    // adopted as logtable v1 with zero data movement, then queried
    // through the SQL TVF — the partition filter must prune to one
    // directory's files (emitted as the `pruned` flag) and the values
    // must match DuckDB reading the same events directly.
    QuerySpec("x227_logtable_convert", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val base = java.nio.file.Files.createTempDirectory("graft_x227")
        .toString + "/t"
      // plain Spark parquet, NOT a logtable write
      ev.repartition(2).write.partitionBy("grp").parquet(base)
      graft.operators.LogTable.convert(s, base, dateCol = "grp",
        statsCols = Seq("cents"))
      val nLive = graft.operators.LogTable
        .manifest(s, base, 1L).parts.values.map(_.size.toLong).sum
      val probe = s.sql(
        s"""SELECT grp, count(*) n_rows, sum(cents) sum_cents
           |FROM logtable('$base') WHERE grp = 'click'
           |GROUP BY grp""".stripMargin)
      val rows = probe.collect()
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
      val planned = scans(probe.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      import s.implicits._
      val out = rows.toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), planned < nLive))
        .toDF("grp", "n_rows", "sum_cents", "pruned")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""SELECT event_type grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(CAST(round(value*100, 0) AS BIGINT))
             |    AS BIGINT) sum_cents, true pruned
             |FROM events
             |WHERE event_type = 'click' AND value IS NOT NULL
             |GROUP BY grp""".stripMargin)),

    // SQL time travel on NAMED tables (x228, new r16 — r15 verdict
    // missing #4): `VERSION AS OF` / `TIMESTAMP AS OF` on a catalog
    // logtable resolve through LogTableTimeTravelRule onto the
    // manifest FileIndex. Three states — v1 (init), v2 (append),
    // head (post-SQL-DELETE) — each read back by NAME with temporal
    // syntax; DuckDB re-derives every state from the event axioms.
    QuerySpec("x228_logtable_time_travel", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_x228")
        .toString + "/t"
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 3 === 0).drop("event_id")
          .repartition(2), base, statsCols = Seq("cents"))      // v1
      graft.operators.LogTable.append(s, base,
        ev.filter(col("event_id") % 3 === 1).drop("event_id")
          .repartition(2))                                      // v2
      s.sql("DROP TABLE IF EXISTS graft_x228")
      s.sql(s"CREATE TABLE graft_x228 USING logtable LOCATION '$base'")
      s.sql("DELETE FROM graft_x228 WHERE cents % 7 = 0")       // v3
      val out = s.sql(
        """SELECT 'head' state, CAST(count(*) AS BIGINT) n,
          |  CAST(sum(cents) AS BIGINT) sc FROM graft_x228
          |UNION ALL
          |SELECT 'ts_latest', CAST(count(*) AS BIGINT),
          |  CAST(sum(cents) AS BIGINT)
          |FROM graft_x228 TIMESTAMP AS OF '2099-01-01'
          |UNION ALL
          |SELECT 'v1', CAST(count(*) AS BIGINT),
          |  CAST(sum(cents) AS BIGINT)
          |FROM graft_x228 VERSION AS OF 1
          |UNION ALL
          |SELECT 'v2', CAST(count(*) AS BIGINT),
          |  CAST(sum(cents) AS BIGINT)
          |FROM graft_x228 VERSION AS OF 2
          |ORDER BY state""".stripMargin)
        .localCheckpoint(true)
      s.sql("DROP TABLE graft_x228")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT event_id e,
             |    CAST(round(value*100, 0) AS BIGINT) cents
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |v1 AS (SELECT * FROM b WHERE e % 3 = 0),
             |v2 AS (SELECT * FROM b WHERE e % 3 IN (0, 1)),
             |v3 AS (SELECT * FROM v2 WHERE cents % 7 <> 0)
             |SELECT 'head' state, CAST(count(*) AS BIGINT) n,
             |  CAST(sum(cents) AS BIGINT) sc FROM v3
             |UNION ALL SELECT 'ts_latest', CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT) FROM v3
             |UNION ALL SELECT 'v1', CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT) FROM v1
             |UNION ALL SELECT 'v2', CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT) FROM v2
             |ORDER BY state""".stripMargin)),

    // SQL maintenance lifecycle (x229, new r18 — r17 verdict missing
    // #1): the analyst who creates, loads and mutates a logtable in
    // SQL can now also MAINTAIN it there — compact and vacuum run as
    // CALL-style TVFs (graft.plans.LogTableMaintenance), Delta's
    // OPTIMIZE/VACUUM role. Graded: after CREATE → two fragmented
    // INSERT-shaped loads → logtable_compact → logtable_vacuum, the
    // grouped content must match DuckDB's re-derivation from the
    // event axioms, the live-file count must have dropped (compacted
    // flag), and the physical dir must hold exactly the live files
    // (vacuumed flag) — value truth AND layout truth in one row set.
    QuerySpec("x229_logtable_sql_maintenance", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_x229")
        .toString + "/t"
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 2 === 0).drop("event_id")
          .repartition(4), base, statsCols = Seq("cents"))       // v1
      graft.operators.LogTable.append(s, base,
        ev.filter(col("event_id") % 2 === 1).drop("event_id")
          .repartition(4))                                       // v2
      s.sql("DROP TABLE IF EXISTS graft_x229")
      s.sql(s"CREATE TABLE graft_x229 USING logtable LOCATION '$base'")
      def liveFiles(): Int = graft.operators.LogTable.manifest(s, base,
        graft.operators.TableLog.currentVersion(s, base))
        .parts.values.map(_.size).sum
      val filesBefore = liveFiles()
      val cv = s.sql("SELECT * FROM logtable_compact('graft_x229', 64)")
        .collect().head.getLong(0)                               // v3
      val filesAfter = liveFiles()
      val vac = s.sql("SELECT * FROM logtable_vacuum('graft_x229', 1, 0)")
        .collect().head
      val fs2 = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val physical = fs2.listStatus(new org.apache.hadoop.fs.Path(base,
        "start_date_oslo=2024-01-01")).count(st =>
        !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
      val flags = cv == 3L && filesAfter < filesBefore &&
        vac.getLong(1) >= filesBefore.toLong && physical == filesAfter
      val out = s.sql(
        """SELECT grp, CAST(count(*) AS BIGINT) n_rows,
          |  CAST(sum(cents) AS BIGINT) sum_cents
          |FROM graft_x229 GROUP BY grp ORDER BY grp""".stripMargin)
        .withColumn("maintained", lit(flags))
        .localCheckpoint(true)
      s.sql("DROP TABLE graft_x229")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""SELECT event_type grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(CAST(round(value*100, 0) AS BIGINT))
             |    AS BIGINT) sum_cents, true maintained
             |FROM events
             |WHERE event_type IS NOT NULL AND value IS NOT NULL
             |GROUP BY grp ORDER BY grp""".stripMargin)),

    // SQL ALTER TABLE ADD COLUMNS (x230, new r18): table-level schema
    // evolution joins the SQL lifecycle — the statement lands as ONE
    // metadata-only manifest commit (no data file touched; Spark's v1
    // command whitelists only built-in formats, so LogTableAlterRule
    // swaps it for LogTable.addColumns + the catalog schema sync).
    // Graded: CREATE → load half → ALTER ADD tag → INSERT the other
    // half WITH the new column; pre-alter rows must read tag = NULL,
    // the grouped truth must match DuckDB's re-derivation, and the
    // metadata-only contract (same live files, one version) rides as
    // a graded flag.
    QuerySpec("x230_logtable_sql_alter", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_x230")
        .toString + "/t"
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 2 === 0).drop("event_id")
          .repartition(2), base)                                 // v1
      s.sql("DROP TABLE IF EXISTS graft_x230")
      s.sql(s"CREATE TABLE graft_x230 USING logtable LOCATION '$base'")
      def live(): Set[String] = graft.operators.LogTable.manifest(s,
          base, graft.operators.TableLog.currentVersion(s, base))
        .parts.toSeq.flatMap { case (p, fl) =>
          fl.map(f => s"$p/${f.file}") }.toSet
      val filesPre = live()
      s.sql("ALTER TABLE graft_x230 ADD COLUMNS (tag STRING)")   // v2
      val metadataOnly = live() == filesPre &&
        graft.operators.TableLog.currentVersion(s, base) == 2L
      ev.filter(col("event_id") % 2 === 1).drop("event_id")
        .createOrReplaceTempView("graft_x230_src")
      s.sql(
        """INSERT INTO graft_x230
          |SELECT grp, cents, concat('t_', grp) AS tag,
          |  start_date_oslo
          |FROM graft_x230_src""".stripMargin)                   // v3
      val out = s.sql(
        """SELECT grp, CAST(count(*) AS BIGINT) n_rows,
          |  CAST(sum(cents) AS BIGINT) sum_cents,
          |  CAST(count(tag) AS BIGINT) n_tagged
          |FROM graft_x230 GROUP BY grp ORDER BY grp""".stripMargin)
        .withColumn("altered", lit(metadataOnly))
        .localCheckpoint(true)
      s.sql("DROP TABLE graft_x230")
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""SELECT event_type grp, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(CAST(round(value*100, 0) AS BIGINT))
             |    AS BIGINT) sum_cents,
             |  CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) n_tagged, true altered
             |FROM events
             |WHERE event_type IS NOT NULL AND value IS NOT NULL
             |GROUP BY grp ORDER BY grp""".stripMargin)),

    // Keyed CDC classification (x226, new r15 — the Delta-CDF row
    // shape): changesKeyed splits the net change feed by key into
    // update_preimage / update_postimage pairs vs plain
    // inserts/deletes. A keyed MERGE that rewrites whole files must
    // surface ONLY the rows that semantically changed, with both
    // images — DuckDB re-derives all four classes from the event
    // axioms.
    QuerySpec("x226_logtable_cdc_keyed", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_id").cast("string").as("id"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_x226")
        .toString + "/t"
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 3 === 0).drop("event_id")
          .repartition(2), base)                                   // v1
      // one keyed MERGE: updates (%30 == 0, cents -> 3c+7) + inserts
      // (%3 == 1)
      graft.operators.LogTable.merge(s, base,
        ev.filter(col("event_id") % 30 === 0 ||
            col("event_id") % 3 === 1)
          .withColumn("cents",
            when(col("event_id") % 30 === 0, col("cents") * 3 + 7)
              .otherwise(col("cents")))
          .drop("event_id"), Seq("id"))                            // v2
      val out = graft.operators.LogTable
        .changesKeyed(s, base, 1L, 2L, Seq("id"))
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("_change_type"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT event_id e,
             |    CAST(round(value*100, 0) AS BIGINT) c FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |pre AS (SELECT 'update_preimage' t, c
             |  FROM b WHERE e % 3 = 0 AND e % 30 = 0),
             |post AS (SELECT 'update_postimage' t, 3*c + 7 c
             |  FROM b WHERE e % 30 = 0),
             |ins AS (SELECT 'insert' t, c FROM b WHERE e % 3 = 1)
             |SELECT t _change_type, CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(c) AS BIGINT) sum_cents
             |FROM (SELECT * FROM pre UNION ALL SELECT * FROM post
             |  UNION ALL SELECT * FROM ins)
             |GROUP BY t ORDER BY t""".stripMargin)),

    // LogTable commit-log SQL surface (x225, new r15): `SELECT ...
    // FROM logtable_history('/path')` — the DESCRIBE HISTORY role —
    // over a fixed init → append → overwrite → DV delete → compact
    // history; per-version op and file-delta counts are structural
    // invariants of those ops (staged writes are repartition-pinned),
    // so DuckDB grades them as literal rows.
    QuerySpec("x225_logtable_history", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          col("event_type").as("grp"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val base = java.nio.file.Files.createTempDirectory("graft_x225")
        .toString + "/t"
      graft.operators.LogTable.init(
        ev.filter(col("event_id") % 3 === 0).drop("event_id")
          .repartition(2), base)                                   // v1
      graft.operators.LogTable.append(s, base,
        ev.filter(col("event_id") % 3 === 1).drop("event_id")
          .repartition(2))                                         // v2
      graft.operators.LogTable.overwrite(s, base,
        ev.filter(col("event_id") % 3 === 2).drop("event_id")
          .repartition(2))                                         // v3
      graft.operators.LogTable.delete(s, base,
        col("cents") % 2 === 0)                                    // v4
      graft.operators.LogTable.compact(s, base,
        targetBytes = 1L << 30)                                    // v5
      val out = s.sql(
        s"""SELECT version, op, n_added_files, n_removed_files
           |FROM logtable_history('$base') ORDER BY version""".stripMargin)
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""SELECT CAST(v AS BIGINT) "version", op,
             |  CAST(a AS BIGINT) n_added_files,
             |  CAST(r AS BIGINT) n_removed_files
             |FROM (VALUES (1, 'init', 2, 0), (2, 'append', 2, 0),
             |  (3, 'overwrite', 2, 4), (4, 'delete', 2, 2),
             |  (5, 'compact', 1, 2)) t(v, op, a, r)
             |ORDER BY v""".stripMargin)),

    // LogTable MULTI-COLUMN partitioning (x222, new r15 — r14 verdict
    // missing #4): a (event_type, month) two-level layout where the
    // manifest keys are full grp=g/m=YYYY-MM-01 paths and the
    // FileIndex prunes DIRECTORIES on both levels — a both-level
    // filter must plan exactly the one leaf file (numFiles asserted),
    // values against DuckDB.
    QuerySpec("x222_logtable_multicol", (s, d) => {
      val rows = t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type").as("grp"),
          date_trunc("month", graft.functions.Coercers
            .osloDate(col("ts"))).cast("date").as("m"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val base = logTableTemplate(s, d, "x222") { dir =>
        graft.operators.LogTable.init(rows.repartition(1), dir,
          dateCol = "grp,m", statsCols = Seq("cents"))
      }
      val m0 = rows.agg(min(col("m"))).head.getDate(0)
      val agg = graft.operators.LogTable.read(s, base)
        .filter(col("grp") === "click" && col("m") === lit(m0))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      val row = agg.collect().head // ONE action, then read the metric
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
      val planned = scans(agg.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      import s.implicits._
      Seq((planned, row.getLong(0), row.getLong(1)))
        .toDF("n_files_planned", "n_rows", "sum_cents")
    },
      Some("""WITH b AS (SELECT event_type grp,
             |    CAST(date_trunc('month',
             |      timezone('Europe/Oslo', timezone('UTC', ts))) AS DATE) m,
             |    CAST(round(value*100, 0) AS BIGINT) cents
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |m0 AS (SELECT min(m) mm FROM b)
             |SELECT CAST(1 AS BIGINT) n_files_planned,
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(cents) AS BIGINT) sum_cents
             |FROM b, m0 WHERE grp = 'click' AND m = mm""".stripMargin)),

    // Wilcoxon signed-rank (x202): the PAIRED shift test on the SAME
    // documents — char length vs 25× whitespace-token count ("do
    // documents run longer than 25 chars per token") — judged on the
    // RANKS of |difference| so one huge document cannot buy
    // significance. Doubled-midrank BIGINT algebra over the |d|
    // census; the zero-difference cell rides along so n_pairs is the
    // full pair count.
    QuerySpec("x202_wilcoxon", (s, d) =>
      graft.operators.Analytics.wilcoxonSignedRank(
        t(s, d, "documents").filter(col("text").isNotNull)
          .select(length(col("text")).cast("long").as("a"),
            (size(graft.operators.TextOps.tokens(col("text"))) * 25)
              .cast("long").as("b")),
        "a", "b"),
      Some(wsrOracleSql)),

    // STREAMING Wilcoxon (st51): the (|d|, ties, positives) census is
    // the WHOLE stream state (the Kruskal census rule), finalized by
    // wsrFromCensus verbatim — graded on x202's oracle.
    QuerySpec("st51_stream_wilcoxon", (s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val raw = Streams.fileStream(s, d, "documents.parquet", schema,
        onePerTrigger = true)
      val rows = raw.filter(col("text").isNotNull)
        .select(length(col("text")).cast("long").as("a"),
          (size(graft.operators.TextOps.tokens(col("text"))) * 25)
            .cast("long").as("b"))
      Streams.drain(Analytics.wsrCensus(rows, "a", "b"), "complete",
        Analytics.wsrFromCensus)
    },
      Some(wsrOracleSql)),

    // Cochran-Armitage trend (x203): does RETURN probability move
    // MONOTONICALLY with order quantity (doses 1..50, success =
    // l_returnflag = 'R') — the 2×k test that spends its single degree
    // of freedom on the dose ordering a plain chi-square (x82's shape)
    // throws away.
    QuerySpec("x203_cochran_armitage", (s, d) =>
      graft.operators.Analytics.cochranArmitage(
        t(s, d, "lineitem")
          .select(col("l_quantity").cast("long").as("dose"),
            (col("l_returnflag") === "R").as("ok")),
        "dose", "ok"),
      Some(caOracleSql)),

    // STREAMING Cochran-Armitage (st52): the k-row (dose, n, successes)
    // census — two BIGINTs per dose level — is the stream state,
    // finalized by caFromCensus verbatim; graded on x203's oracle.
    QuerySpec("st52_stream_cochran_armitage", (s, d) => {
      val schema = s.read.parquet(s"$d/lineitem.parquet").schema
      val raw = Streams.fileStream(s, d, "lineitem.parquet", schema,
        onePerTrigger = true)
      val rows = raw
        .select(col("l_quantity").cast("long").as("dose"),
          (col("l_returnflag") === "R").as("ok"))
      Streams.drain(Analytics.caCensus(rows, "dose", "ok"), "complete",
        Analytics.caFromCensus)
    },
      Some(caOracleSql)),

    // LogTable OPTIMIZE ZORDER (x204): three INTERLEAVED appends (eid %
    // 9 slices) give every file zones spanning the whole range on BOTH
    // stats columns, so a low-band eid probe plans ALL 3 files (graded
    // exact). The Morton rewrite on (eid, uid) — two near-uniform
    // dimensions, the contract min/max grid scaling assumes; a
    // heavy-tailed column (cents) would collapse onto a few curve cells
    // and want rank binning first — makes each of the 4 new files a
    // quadrant-shaped hyper-rectangle: a low-band probe on EITHER
    // column must plan exactly the 2 files whose quadrant touches that
    // column's low half, and the CONJUNCTIVE 2-D probe
    // (both NumRanges at once) exactly the ONE (low, low) quadrant file —
    // all three counts exact in the oracle: the cross-dimension pruning
    // a linear sort cannot give. Rows bit-identical, and the
    // pre-rewrite version still time-travels to its 3 arrival-order
    // files.
    QuerySpec("x204_logtable_zorder", (s, d) => {
      val rows = t(s, d, "events").filter(col("event_id") % 3 === 2)
        .select(col("event_id").as("eid"), col("user_id").as("uid"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      val mx = rows.agg(max(col("eid")), max(col("uid"))).head()
      val (maxId, maxUid) = (mx.getLong(0), mx.getLong(1))
      val base = logTableCopy(s, d, "x204") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("eid") % 9 === 2).repartition(1), dir,
          statsCols = Seq("eid", "uid"))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") % 9 === 5).repartition(1))
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") % 9 === 8).repartition(1))
      }
      val q = maxId / 6
      val uq = maxUid / 7
      val eidLow = graft.operators.LogTable.NumRange("eid", 1.0, q.toDouble)
      val uidLow = graft.operators.LogTable.NumRange("uid", 0.0, uq.toDouble)
      def probe(ranges: graft.operators.LogTable.ZonePred*) =
        graft.operators.LogTable.read(s, base, scanPreds = ranges)
      val beforeN = probe(eidLow).inputFiles.length.toLong
      val preV = graft.operators.TableLog.currentVersion(s, base)
      graft.operators.LogTable.optimizeZorder(s, base,
        Seq("eid", "uid"), bits = 8, filesPerPartition = 4)
      val skim = probe(eidLow)
      val eidN = skim.inputFiles.length.toLong
      val uidN = probe(uidLow).inputFiles.length.toLong
      // the conjunction intersects the survivor sets: exactly the one
      // (eid-low, uid-low) quadrant file — what the tiling exists for
      val bothN = probe(eidLow, uidLow).inputFiles.length.toLong
      val ttFiles = graft.operators.LogTable.read(s, base, Some(preV))
        .inputFiles.length.toLong
      val out = skim.filter(col("eid") <= q)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(beforeN).as("n_files_probe_before"),
          lit(eidN).as("n_files_eid_after"),
          lit(uidN).as("n_files_uid_after"),
          lit(bothN).as("n_files_2d_after"),
          lit(ttFiles).as("n_files_timetravel"),
          col("n_rows"), col("sum_cents"))
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT event_id eid,
             |    CAST(round(value*100, 0) AS BIGINT) cents
             |  FROM events WHERE event_id % 3 = 2),
             |m AS (SELECT max(eid) // 6 q FROM b)
             |SELECT CAST(3 AS BIGINT) n_files_probe_before,
             |  CAST(2 AS BIGINT) n_files_eid_after,
             |  CAST(2 AS BIGINT) n_files_uid_after,
             |  CAST(1 AS BIGINT) n_files_2d_after,
             |  CAST(3 AS BIGINT) n_files_timetravel,
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(cents) AS BIGINT) sum_cents
             |FROM b, m WHERE eid <= q""".stripMargin)),

    // Jonckheere-Terpstra trend (x205): do quantities shift
    // MONOTONICALLY across the ordered line numbers — the
    // ordered-alternative Kruskal (x183's shape) and the
    // continuous-outcome sibling of x203's Cochran-Armitage; pairwise
    // order judged on the (linenumber, quantity) census, exact-BIGINT
    // 2J and tie-corrected Hollander-Wolfe variance.
    QuerySpec("x205_jonckheere", (s, d) =>
      graft.operators.Analytics.jonckheereTerpstra(
        t(s, d, "lineitem")
          .select(col("l_linenumber").as("g"),
            col("l_quantity").cast("long").as("v")),
        "g", "v"),
      Some(jtOracleSql)),

    // STREAMING Jonckheere-Terpstra (st53): the (group, value, count)
    // census is the WHOLE stream state, finalized by jtFromCensus
    // verbatim — graded on x205's oracle.
    QuerySpec("st53_stream_jonckheere", (s, d) => {
      val schema = s.read.parquet(s"$d/lineitem.parquet").schema
      val raw = Streams.fileStream(s, d, "lineitem.parquet", schema,
        onePerTrigger = true)
      val rows = raw.select(col("l_linenumber").as("g"),
        col("l_quantity").cast("long").as("v"))
      Streams.drain(Analytics.jtCensus(rows, "g", "v"), "complete",
        Analytics.jtFromCensus(_, 8192))
    },
      Some(jtOracleSql)),

    // Friedman test (x206): across each customer's orders (blocks), do
    // the five order priorities (treatments) carry systematically
    // different total prices — the repeated-measures counterpart of
    // Kruskal/ANOVA where ranking WITHIN the customer cancels
    // between-customer spend levels by design; incomplete blocks
    // (customers missing a priority) drop per the complete-block
    // design, cell means compared as IEEE doubles of exact BIGINT
    // (sum, count) cells.
    QuerySpec("x206_friedman", (s, d) =>
      graft.operators.Analytics.friedman(
        t(s, d, "orders")
          .select(col("o_custkey").as("bl"),
            col("o_orderpriority").as("tr"),
            round(col("o_totalprice") * 100, 0).cast("long").as("v")),
        "bl", "tr", "v"),
      Some(friedmanOracleSql)),

    // STREAMING Friedman (st54): the (block, treatment, sum, count)
    // cell grid — two BIGINTs per cell — is the stream state,
    // finalized by friedmanFromCells verbatim; graded on x206's oracle.
    QuerySpec("st54_stream_friedman", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
      val rows = raw.select(col("o_custkey").as("bl"),
        col("o_orderpriority").as("tr"),
        round(col("o_totalprice") * 100, 0).cast("long").as("v"))
      Streams.drain(Analytics.friedmanCells(rows, "bl", "tr", "v"),
        "complete", Analytics.friedmanFromCells)
    },
      Some(friedmanOracleSql)),

    // Cramér-von Mises (x208): does the total-price DISTRIBUTION of
    // urgent orders differ from low-priority orders — the
    // integrated-squared-ECDF-distance companion of the KS drift check
    // (x89), which reads only the single worst gap; exact
    // decimal(38) numerator over the pooled value census, one float
    // division.
    QuerySpec("x208_cvm", (s, d) => {
      val o = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("pr"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Analytics.cramerVonMises(
        o.filter(col("pr") === "1-URGENT").select(col("cents")),
        o.filter(col("pr") === "5-LOW").select(col("cents")),
        "cents")
    },
      Some(cvmOracleSql)),

    // STREAMING Cramér-von Mises (st55): both samples ride ONE stream
    // with a boolean side column; the (value, count_a, count_b) census
    // is the WHOLE state, finalized by cvmFromCensus verbatim — graded
    // on x208's oracle.
    QuerySpec("st55_stream_cvm", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
      val rows = raw
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(round(col("o_totalprice") * 100, 0).cast("long")
            .as("cents"),
          (col("o_orderpriority") === "5-LOW").as("side"))
      Streams.drain(Analytics.sideCensus(rows, "cents", "side"), "complete",
        Analytics.cvmFromCensus)
    },
      Some(cvmOracleSql)),

    // Mood's median test (x213): the bluntest urgent-vs-low screen —
    // dichotomize both samples at the POOLED median and Pearson the
    // 2×2; survives arbitrary outliers at the cost of power, the
    // cross-check run when the sharper tests (x208/x211) disagree.
    // Median = exact census order statistic; one float division.
    QuerySpec("x213_mood_median", (s, d) => {
      val o = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("pr"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Analytics.moodMedian(
        o.filter(col("pr") === "1-URGENT").select(col("cents")),
        o.filter(col("pr") === "5-LOW").select(col("cents")),
        "cents")
    },
      Some(mmOracleSql)),

    // STREAMING Mood's median (st59): the FOURTH monitor on the
    // identical census state st55–st57 hold; finalized by mmFromCensus
    // verbatim — graded on x213's oracle.
    QuerySpec("st59_stream_mood_median", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
      val rows = raw
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(round(col("o_totalprice") * 100, 0).cast("long")
            .as("cents"),
          (col("o_orderpriority") === "5-LOW").as("side"))
      Streams.drain(Analytics.sideCensus(rows, "cents", "side"), "complete",
        Analytics.mmFromCensus)
    },
      Some(mmOracleSql)),

    // Log-rank test (x212): do odd and even user cohorts convert
    // (first purchase) at different rates — the standard follow-up to
    // x127's Kaplan-Meier curve, weighting each distinct
    // days-to-conversion by its risk sets; never-converters censor at
    // the horizon. Risk sets exact BIGINT off the time census; the
    // per-time float terms fixed-point at 12 dp (the x110 picopoint
    // convention) so the cross-time sum is order-free.
    QuerySpec("x212_log_rank", (s, d) => {
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("st"),
          min(when(col("event_type") === "purchase", to_date(col("ts"))))
            .as("evd"),
          max(to_date(col("ts"))).as("lastd"))
      val horizon = perUser.agg(max(col("lastd")).as("hz"))
      val durs = perUser.crossJoin(broadcast(horizon))
        .select(
          when(col("evd").isNotNull, datediff(col("evd"), col("st")))
            .otherwise(datediff(col("hz"), col("st")))
            .cast("long").as("t"),
          col("evd").isNotNull.as("e"),
          (col("user_id") % 2 === 1).as("g"))
      graft.operators.Analytics.logRank(durs, "t", "e", "g")
    },
      Some(lrOracleSql)),

    // STREAMING log-rank (st58): one aggregation per streaming query,
    // and the survival framing needs two — so the stream state is the
    // PER-USER (first seen, first purchase, last seen) row (the Fleiss
    // item-scale precedent) and the finalizer derives horizon,
    // durations, census, and the batch verdict. Graded on x212's
    // oracle.
    QuerySpec("st58_stream_log_rank", (s, d) => {
      val schema = Streams.eventsFileSchema(s, d)
      val raw = Streams.fileStream(s, d, "events.parquet", schema,
        onePerTrigger = true)
      val rows = Streams.normalizeTs(raw)
        .select(col("user_id"), col("ts"),
          (col("event_type") === "purchase").as("ev"),
          (col("user_id") % 2 === 1).as("g"))
      Streams.runStreamingLogRankAvailableNow(rows, "user_id", "ts",
        "ev", "g")
    },
      Some(lrOracleSql)),

    // Brunner-Munzel (x211): the rank-world Welch — the urgent-vs-low
    // price comparison AGAIN but robust to the two priorities having
    // different spread/shape (Mann-Whitney x91 assumes exchangeable
    // shapes under H0; this doesn't), completing the triptych with
    // x208 (different?) and x209 (how big?). Doubled pooled/within
    // midranks exact BIGINT, squared deviations in exact decimal(38).
    QuerySpec("x211_brunner_munzel", (s, d) => {
      val o = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("pr"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Analytics.brunnerMunzel(
        o.filter(col("pr") === "1-URGENT").select(col("cents")),
        o.filter(col("pr") === "5-LOW").select(col("cents")),
        "cents")
    },
      Some(bmOracleSql)),

    // STREAMING Brunner-Munzel (st57): the identical census state
    // st55/st56 hold — one state, three monitors — finalized by
    // bmFromCensus verbatim; graded on x211's oracle.
    QuerySpec("st57_stream_brunner_munzel", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
      val rows = raw
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(round(col("o_totalprice") * 100, 0).cast("long")
            .as("cents"),
          (col("o_orderpriority") === "5-LOW").as("side"))
      Streams.drain(Analytics.sideCensus(rows, "cents", "side"), "complete",
        Analytics.bmFromCensus)
    },
      Some(bmOracleSql)),

    // LogTable RESTORE (x210): roll the head back to v1 as a NEW commit
    // — pure metadata, zero data files written (graded: the data-file
    // count delta across the restore is 0), the head re-reads v1
    // byte-exactly AND the undone v2 still time-travels. The x195
    // fixture shape: init, replace the first week with doubled cents,
    // restore.
    QuerySpec("x210_logtable_restore", (s, d) => {
      val fact = t(s, d, "events").filter(col("event_id") % 3 === 0)
        .select(col("event_id").cast("string").as("id"),
          graft.functions.Coercers.osloDate(col("ts")).as("start_date_oslo"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val base = logTableCopy(s, d, "x210") { dir =>
        graft.operators.LogTable.init(fact, dir)
        graft.operators.LogTable.replacePartitions(s, dir,
          fact.filter(col("start_date_oslo") <=
              lit(java.sql.Date.valueOf("2024-01-08")))
            .withColumn("cents", col("cents") * 2))
      }
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
      def dataFiles(): Long = fs.listStatus(
        new org.apache.hadoop.fs.Path(base))
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("start_date_oslo="))
        .map(st => fs.listStatus(st.getPath).count(f =>
          f.getPath.getName.endsWith(".parquet")).toLong).sum
      val filesBefore = dataFiles()
      graft.operators.LogTable.restore(s, base, 1L)
      val filesAdded = dataFiles() - filesBefore
      def agg(v: Option[Long], tag: Long) =
        graft.operators.LogTable.read(s, base, v)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
          .select(lit(tag).as("version"), col("n_rows"), col("sum_cents"))
      val out = agg(None, 3L).unionByName(agg(Some(2L), 2L))
        .withColumn("files_added", lit(filesAdded))
        .orderBy("version").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(conf).delete(p.getParent, true)
      out
    },
      Some("""WITH b AS (SELECT CAST(round(value*100, 0) AS BIGINT) cents,
             |    CAST(timezone('Europe/Oslo', timezone('UTC', ts))
             |      AS DATE) dt
             |  FROM events WHERE event_id % 3 = 0)
             |SELECT CAST(2 AS BIGINT) "version",
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(sum(CASE WHEN dt <= DATE '2024-01-08'
             |    THEN cents*2 ELSE cents END) AS BIGINT) sum_cents,
             |  CAST(0 AS BIGINT) files_added FROM b
             |UNION ALL
             |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT), CAST(0 AS BIGINT) FROM b
             |ORDER BY "version" """.stripMargin)),

    // Effect sizes (x209): HOW BIG is the urgent-vs-low price shift
    // that x208 tests for — Cohen's d / Hedges' g / Cliff's delta off
    // the same pooled value census, exact BIGINT + decimal(38) moments
    // with one fixed float tree per statistic. At 100 TB everything is
    // "significant"; this row is what decides if anyone should care.
    QuerySpec("x209_effect_sizes", (s, d) => {
      val o = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("pr"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      graft.operators.Analytics.effectSizes(
        o.filter(col("pr") === "1-URGENT").select(col("cents")),
        o.filter(col("pr") === "5-LOW").select(col("cents")),
        "cents")
    },
      Some(esOracleSql)),

    // STREAMING effect sizes (st56): the identical census state st55
    // holds — one state, two monitors — finalized by esFromCensus
    // verbatim; graded on x209's oracle.
    QuerySpec("st56_stream_effect_sizes", (s, d) => {
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val raw = Streams.fileStream(s, d, "orders.parquet", schema,
        onePerTrigger = true)
      val rows = raw
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(round(col("o_totalprice") * 100, 0).cast("long")
            .as("cents"),
          (col("o_orderpriority") === "5-LOW").as("side"))
      Streams.drain(Analytics.sideCensus(rows, "cents", "side"), "complete",
        Analytics.esFromCensus)
    },
      Some(esOracleSql)),

    // LogTable schema evolution (x207): the append carries a NEW
    // nullable column; the manifest records each version's schema
    // (Spark DDL), so the latest read null-fills the old files and a
    // time-travel read of v1 never shows the later column (graded: both
    // versions' column counts, the null-fill census, and the content
    // aggregate). Internal scans plan with the MANIFEST schema —
    // without that, parquet's no-merge default could resolve a
    // mixed-schema live set to one file's schema and silently drop the
    // added column.
    QuerySpec("x207_logtable_schema_evolution", (s, d) => {
      val rows = t(s, d, "events")
        .select(col("event_id").as("eid"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          lit("2024-01-01").cast("date").as("start_date_oslo"))
      // reads only after the two commits: shared template, no copy
      val base = logTableTemplate(s, d, "x207") { dir =>
        graft.operators.LogTable.init(
          rows.filter(col("eid") % 2 === 0).repartition(1), dir)
        graft.operators.LogTable.append(s, dir,
          rows.filter(col("eid") % 2 === 1)
            .withColumn("flag", col("eid") % 4 === 1).repartition(1))
      }
      val v1Cols = graft.operators.LogTable.read(s, base, Some(1L))
        .columns.length.toLong
      val cur = graft.operators.LogTable.read(s, base)
      val v2Cols = cur.columns.length.toLong
      val out = cur.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("flag").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_flag_null"),
        coalesce(sum(when(col("flag") === true, 1L).otherwise(0L)),
          lit(0L)).as("n_flag_true"),
        sum(col("cents")).as("sum_cents"))
        .select(lit(v1Cols).as("v1_cols"), lit(v2Cols).as("v2_cols"),
          col("n_rows"), col("n_flag_null"), col("n_flag_true"),
          col("sum_cents"))
      out
    },
      Some("""WITH b AS (SELECT event_id eid,
             |    CAST(round(value*100, 0) AS BIGINT) cents
             |  FROM events)
             |SELECT CAST(3 AS BIGINT) v1_cols, CAST(4 AS BIGINT) v2_cols,
             |  CAST(count(*) AS BIGINT) n_rows,
             |  CAST(coalesce(sum(CASE WHEN eid % 2 = 0 THEN 1 END), 0)
             |    AS BIGINT) n_flag_null,
             |  CAST(coalesce(sum(CASE WHEN eid % 4 = 1 THEN 1 END), 0)
             |    AS BIGINT) n_flag_true,
             |  CAST(sum(cents) AS BIGINT) sum_cents
             |FROM b""".stripMargin))
  )

  /** Shared by x213 (batch) and st59 (streaming): Mood's median over
    * the urgent-vs-low pooled census — exact order-statistic median,
    * BIGINT cells, HUGEINT squared cross term, one float division
    * mirroring [[graft.operators.Analytics.mmFromCensus]]. */
  private lazy val mmOracleSql: String =
    """WITH o AS (SELECT o_orderpriority pr,
      |    CAST(round(o_totalprice*100, 0) AS BIGINT) v FROM orders
      |  WHERE o_totalprice IS NOT NULL),
      |ca AS (SELECT v, CAST(count(*) AS BIGINT) ca FROM o
      |  WHERE pr = '1-URGENT' GROUP BY 1),
      |cb AS (SELECT v, CAST(count(*) AS BIGINT) cb FROM o
      |  WHERE pr = '5-LOW' GROUP BY 1),
      |mg AS (SELECT coalesce(ca.v, cb.v) v, coalesce(ca, 0) ca,
      |    coalesce(cb, 0) cb FROM ca FULL JOIN cb ON ca.v = cb.v),
      |tt AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) n,
      |    CAST(coalesce(sum(cb), 0) AS BIGINT) m FROM mg),
      |cu AS (SELECT v, ca, cb, CAST(coalesce(sum(ca + cb)
      |      OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      1 PRECEDING), 0) AS BIGINT) cb0 FROM mg),
      |md AS (SELECT v med FROM cu, tt
      |  WHERE cb0 < (n + m + 1) // 2
      |    AND cb0 + ca + cb >= (n + m + 1) // 2),
      |ab AS (SELECT
      |    CAST(coalesce(sum(CASE WHEN v > med THEN ca END), 0)
      |      AS BIGINT) aa,
      |    CAST(coalesce(sum(CASE WHEN v > med THEN cb END), 0)
      |      AS BIGINT) bb FROM mg, md),
      |f AS (SELECT n, m, med, aa, bb,
      |    aa*(m - bb) - (n - aa)*bb x FROM ab, md, tt)
      |SELECT n n_a, m n_b, med pooled_median, aa above_a, bb above_b,
      |  CASE WHEN n > 0 AND m > 0
      |      AND CAST(n AS DOUBLE)*CAST(m AS DOUBLE)
      |        *CAST(aa + bb AS DOUBLE)
      |        *CAST((n - aa) + (m - bb) AS DOUBLE) > 0 THEN
      |    round(CAST(CAST(n + m AS HUGEINT)*x*x AS DOUBLE) /
      |      (CAST(n AS DOUBLE)*CAST(m AS DOUBLE)
      |        *CAST(aa + bb AS DOUBLE)
      |        *CAST((n - aa) + (m - bb) AS DOUBLE)), 6)
      |  END chi2_mood
      |FROM f""".stripMargin

  /** Shared by x212 (batch) and st58 (streaming): log-rank over the
    * odd/even user conversion cohorts — risk sets re-derived in DuckDB
    * BIGINT, the per-time terms picopoint-fixed with the identical IEEE
    * trees as [[graft.operators.Analytics.lrFromCensus]]. */
  private lazy val lrOracleSql: String =
    """WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) st,
      |    min(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ts AS DATE) END) ev,
      |    (user_id % 2 = 1) g
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 4),
      |hz AS (SELECT max(CAST(ts AS DATE)) h FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |du AS (SELECT CASE WHEN ev IS NOT NULL
      |      THEN datediff('day', st, ev)
      |      ELSE datediff('day', st, h) END t,
      |    (ev IS NOT NULL) e, g FROM pu CROSS JOIN hz),
      |c AS (SELECT t, g,
      |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) d,
      |    CAST(sum(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) c
      |  FROM du GROUP BY 1, 2),
      |bt AS (SELECT t,
      |    CAST(coalesce(sum(CASE WHEN g THEN d END), 0) AS BIGINT) d1,
      |    CAST(coalesce(sum(CASE WHEN NOT g THEN d END), 0) AS BIGINT) d0,
      |    CAST(coalesce(sum(CASE WHEN g THEN d + c END), 0) AS BIGINT) x1,
      |    CAST(coalesce(sum(CASE WHEN NOT g THEN d + c END), 0)
      |      AS BIGINT) x0
      |  FROM c GROUP BY 1),
      |tt AS (SELECT
      |    CAST(coalesce(sum(CASE WHEN NOT g THEN d + c END), 0)
      |      AS BIGINT) na,
      |    CAST(coalesce(sum(CASE WHEN g THEN d + c END), 0) AS BIGINT) nb,
      |    CAST(coalesce(sum(CASE WHEN NOT g THEN d END), 0) AS BIGINT) ea,
      |    CAST(coalesce(sum(CASE WHEN g THEN d END), 0) AS BIGINT) eb
      |  FROM c),
      |rk AS (SELECT d1, d0,
      |    nb - CAST(coalesce(sum(x1) OVER (ORDER BY t ROWS BETWEEN
      |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) n1,
      |    na - CAST(coalesce(sum(x0) OVER (ORDER BY t ROWS BETWEEN
      |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) n0
      |  FROM bt, tt),
      |pp AS (SELECT
      |    CAST(round((CAST(d1 AS DOUBLE) -
      |      CAST(d1 + d0 AS DOUBLE)*CAST(n1 AS DOUBLE)
      |        /CAST(n1 + n0 AS DOUBLE)) * 1e12, 0) AS BIGINT) po,
      |    CASE WHEN n1 + n0 > 1 THEN CAST(round(
      |      CAST(d1 + d0 AS DOUBLE)*CAST(n1 AS DOUBLE)*CAST(n0 AS DOUBLE)
      |        *CAST(n1 + n0 - (d1 + d0) AS DOUBLE) /
      |      (CAST(n1 + n0 AS DOUBLE)*CAST(n1 + n0 AS DOUBLE)
      |        *CAST(n1 + n0 - 1 AS DOUBLE)) * 1e12, 0) AS BIGINT)
      |    ELSE 0 END pv
      |  FROM rk),
      |ss AS (SELECT CAST(coalesce(sum(po), 0) AS BIGINT) so,
      |    CAST(coalesce(sum(pv), 0) AS BIGINT) sv FROM pp),
      |zz AS (SELECT CASE WHEN sv > 0 THEN
      |    (CAST(so AS DOUBLE)/1e12)/sqrt(CAST(sv AS DOUBLE)/1e12)
      |  END z FROM ss)
      |SELECT na n_a, nb n_b, ea events_a, eb events_b,
      |  round(z, 6) z_lr, round(z*z, 6) chi2_lr
      |FROM zz, tt""".stripMargin

  /** Shared by x211 (batch) and st57 (streaming): Brunner-Munzel over
    * the urgent-vs-low pooled census — doubled midranks and the
    * 2n-scaled deviations exact BIGINT, squares in HUGEINT, W/p̂ one
    * fixed IEEE tree each mirroring
    * [[graft.operators.Analytics.bmFromCensus]]. */
  private lazy val bmOracleSql: String =
    """WITH o AS (SELECT o_orderpriority pr,
      |    CAST(round(o_totalprice*100, 0) AS BIGINT) v FROM orders
      |  WHERE o_totalprice IS NOT NULL),
      |ca AS (SELECT v, CAST(count(*) AS BIGINT) ca FROM o
      |  WHERE pr = '1-URGENT' GROUP BY 1),
      |cb AS (SELECT v, CAST(count(*) AS BIGINT) cb FROM o
      |  WHERE pr = '5-LOW' GROUP BY 1),
      |mg AS (SELECT coalesce(ca.v, cb.v) v, coalesce(ca, 0) ca,
      |    coalesce(cb, 0) cb FROM ca FULL JOIN cb ON ca.v = cb.v),
      |rk AS (SELECT ca, cb,
      |    2*CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) + ca + cb + 1 r2,
      |    2*CAST(coalesce(sum(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) + ca + 1 ra2,
      |    2*CAST(coalesce(sum(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) + cb + 1 rb2
      |  FROM mg),
      |sm AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) n,
      |    CAST(coalesce(sum(cb), 0) AS BIGINT) m,
      |    CAST(coalesce(sum(ca*r2), 0) AS BIGINT) sra,
      |    CAST(coalesce(sum(cb*r2), 0) AS BIGINT) srb FROM rk),
      |qq AS (SELECT
      |    coalesce(sum(CAST(ca AS HUGEINT) *
      |      (n*(r2 - ra2) - sra + n*(n + 1)) *
      |      (n*(r2 - ra2) - sra + n*(n + 1))), 0) qa,
      |    coalesce(sum(CAST(cb AS HUGEINT) *
      |      (m*(r2 - rb2) - srb + m*(m + 1)) *
      |      (m*(r2 - rb2) - srb + m*(m + 1))), 0) qb
      |  FROM rk, sm),
      |f AS (SELECT n, m,
      |    CAST(sra AS DOUBLE)/(2.0*CAST(n AS DOUBLE)) ma,
      |    CAST(srb AS DOUBLE)/(2.0*CAST(m AS DOUBLE)) mb,
      |    CAST(qa AS DOUBLE)/(CAST(n - 1 AS DOUBLE)*4.0*
      |      CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) s2a,
      |    CAST(qb AS DOUBLE)/(CAST(m - 1 AS DOUBLE)*4.0*
      |      CAST(m AS DOUBLE)*CAST(m AS DOUBLE)) s2b
      |  FROM sm, qq),
      |g AS (SELECT n, m, ma, mb,
      |    sqrt(CAST(n AS DOUBLE)*s2a + CAST(m AS DOUBLE)*s2b) den
      |  FROM f)
      |SELECT n n_a, m n_b,
      |  CASE WHEN n > 0 AND m > 0 THEN
      |    round((mb - CAST(m + 1 AS DOUBLE)/2.0)/CAST(n AS DOUBLE), 6)
      |  END p_hat,
      |  CASE WHEN n > 1 AND m > 1 AND den > 0 THEN
      |    round(CAST(n AS DOUBLE)*CAST(m AS DOUBLE)*(mb - ma) /
      |      (CAST(n + m AS DOUBLE)*den), 6)
      |  END w_bm
      |FROM g""".stripMargin

  /** Shared by x209 (batch) and st56 (streaming): effect sizes over the
    * urgent-vs-low pooled census — BIGINT/HUGEINT exact moments and
    * dominance counts, each statistic one fixed IEEE tree mirroring
    * [[graft.operators.Analytics.esFromCensus]]. */
  private lazy val esOracleSql: String =
    """WITH o AS (SELECT o_orderpriority pr,
      |    CAST(round(o_totalprice*100, 0) AS BIGINT) v FROM orders
      |  WHERE o_totalprice IS NOT NULL),
      |ca AS (SELECT v, CAST(count(*) AS BIGINT) ca FROM o
      |  WHERE pr = '1-URGENT' GROUP BY 1),
      |cb AS (SELECT v, CAST(count(*) AS BIGINT) cb FROM o
      |  WHERE pr = '5-LOW' GROUP BY 1),
      |mg AS (SELECT coalesce(ca.v, cb.v) v, coalesce(ca, 0) ca,
      |    coalesce(cb, 0) cb FROM ca FULL JOIN cb ON ca.v = cb.v),
      |mm AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) n,
      |    CAST(coalesce(sum(cb), 0) AS BIGINT) m,
      |    CAST(coalesce(sum(ca*v), 0) AS BIGINT) sa,
      |    CAST(coalesce(sum(cb*v), 0) AS BIGINT) sb,
      |    coalesce(sum(CAST(ca AS HUGEINT)*v*v), 0) qa,
      |    coalesce(sum(CAST(cb AS HUGEINT)*v*v), 0) qb FROM mg),
      |dm AS (SELECT ca, cb, CAST(coalesce(sum(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) bb FROM mg),
      |dd AS (SELECT CAST(coalesce(sum(ca*bb), 0) AS BIGINT) gt,
      |    CAST(coalesce(sum(ca*(m - bb - cb)), 0) AS BIGINT) lt
      |  FROM dm, mm),
      |f AS (SELECT n, m, gt, lt,
      |    CAST(sa AS DOUBLE)/CAST(n AS DOUBLE) ma,
      |    CAST(sb AS DOUBLE)/CAST(m AS DOUBLE) mb,
      |    ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE)
      |       /CAST(n AS DOUBLE))
      |     + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)
      |       /CAST(m AS DOUBLE))) / CAST(n + m - 2 AS DOUBLE) s2
      |  FROM mm, dd),
      |g AS (SELECT n, m, gt, lt,
      |    CASE WHEN n > 0 AND m > 0 AND n + m > 2 AND s2 > 0
      |      THEN (ma - mb)/sqrt(s2) END d FROM f)
      |SELECT n n_a, m n_b, round(d, 6) cohens_d,
      |  round(d * (1.0 - 3.0/(4.0*CAST(n + m AS DOUBLE) - 9.0)), 6)
      |    hedges_g,
      |  CASE WHEN n > 0 AND m > 0 THEN
      |    round(CAST(gt - lt AS DOUBLE) /
      |      (CAST(n AS DOUBLE)*CAST(m AS DOUBLE)), 6)
      |  END cliffs_delta
      |FROM g""".stripMargin

  /** Shared by x208 (batch) and st55 (streaming): Cramér-von Mises over
    * urgent-vs-low order totals, the exact-integer census numerator
    * re-derived in DuckDB HUGEINT (Spark computes the identical sum in
    * decimal(38); both convert the same exact integer to double for the
    * ONE final division). */
  private lazy val cvmOracleSql: String =
    """WITH o AS (SELECT o_orderpriority pr,
      |    CAST(round(o_totalprice*100, 0) AS BIGINT) v FROM orders
      |  WHERE o_totalprice IS NOT NULL),
      |ca AS (SELECT v, CAST(count(*) AS BIGINT) ca FROM o
      |  WHERE pr = '1-URGENT' GROUP BY 1),
      |cb AS (SELECT v, CAST(count(*) AS BIGINT) cb FROM o
      |  WHERE pr = '5-LOW' GROUP BY 1),
      |mg AS (SELECT coalesce(ca.v, cb.v) v, coalesce(ca, 0) ca,
      |    coalesce(cb, 0) cb FROM ca FULL JOIN cb ON ca.v = cb.v),
      |tt AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) n,
      |    CAST(coalesce(sum(cb), 0) AS BIGINT) m FROM mg),
      |cm AS (SELECT ca, cb,
      |    CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) a,
      |    CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) b FROM mg),
      |dd AS (SELECT ca, cb, a*m - b*n d FROM cm, tt),
      |nm AS (SELECT coalesce(sum(CAST(d AS HUGEINT) * d * (ca + cb)),
      |    0) num FROM dd)
      |SELECT n n_a, m n_b,
      |  CASE WHEN n > 0 AND m > 0 THEN
      |    round(CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) *
      |      CAST(m AS DOUBLE) * CAST(n + m AS DOUBLE) *
      |      CAST(n + m AS DOUBLE)), 6)
      |  END t_cvm
      |FROM nm, tt""".stripMargin

  /** Shared by x205 (batch) and st53 (streaming): Jonckheere-Terpstra
    * over (linenumber, quantity), the census-product 2J and the
    * Hollander-Wolfe tie-corrected variance re-derived in DuckDB SQL
    * with the identical three-term IEEE tree as
    * [[graft.operators.Analytics.jtFromCensus]]. */
  private lazy val jtOracleSql: String =
    """WITH b AS (SELECT CAST(l_linenumber AS BIGINT) g,
      |    CAST(l_quantity AS BIGINT) v FROM lineitem
      |  WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL),
      |c AS (SELECT g, v, CAST(count(*) AS BIGINT) c FROM b GROUP BY 1, 2),
      |j AS (SELECT CAST(coalesce(sum(CASE WHEN a.v < d.v THEN 2*a.c*d.c
      |      WHEN a.v = d.v THEN a.c*d.c ELSE 0 END), 0) AS BIGINT) j2
      |  FROM c a, c d WHERE a.g < d.g),
      |ng AS (SELECT g, CAST(sum(c) AS BIGINT) n FROM c GROUP BY 1),
      |gs AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) nn,
      |    CAST(coalesce(sum(n*n), 0) AS BIGINT) sn2,
      |    CAST(coalesce(sum(n*(n-1)*(2*n+5)), 0) AS BIGINT) ga,
      |    CAST(coalesce(sum(n*(n-1)*(n-2)), 0) AS BIGINT) gb,
      |    CAST(coalesce(sum(n*(n-1)), 0) AS BIGINT) gc,
      |    CAST(count(*) AS BIGINT) k FROM ng),
      |tv AS (SELECT v, CAST(sum(c) AS BIGINT) t FROM c GROUP BY 1),
      |ts AS (SELECT CAST(coalesce(sum(t*(t-1)*(2*t+5)), 0) AS BIGINT) ta,
      |    CAST(coalesce(sum(t*(t-1)*(t-2)), 0) AS BIGINT) tb,
      |    CAST(coalesce(sum(t*(t-1)), 0) AS BIGINT) tc FROM tv),
      |cl AS (SELECT CAST(count(*) AS BIGINT) cells FROM c),
      |f AS (SELECT j2, nn, sn2, k,
      |    CAST(nn*(nn-1)*(2*nn+5) - ga - ta AS DOUBLE)/72.0
      |    + CAST(gb AS DOUBLE)*CAST(tb AS DOUBLE)
      |      /(36.0*CAST(nn*(nn-1)*(nn-2) AS DOUBLE))
      |    + CAST(gc AS DOUBLE)*CAST(tc AS DOUBLE)
      |      /(8.0*CAST(nn*(nn-1) AS DOUBLE)) var
      |  FROM j, gs, ts)
      |SELECT nn n, k, cells, CAST(j2 AS DOUBLE)/2.0 j_stat,
      |  CASE WHEN k > 1 AND var > 0 THEN
      |    round(CAST(2*j2 - (nn*nn - sn2) AS DOUBLE)/4.0/sqrt(var), 6)
      |  END z
      |FROM f, cl""".stripMargin

  /** Shared by x206 (batch) and st54 (streaming): Friedman over
    * customer blocks × order-priority treatments on total-price cents,
    * the doubled-midrank Conover form re-derived in DuckDB SQL (cell
    * means as IEEE doubles of exact BIGINT cells, identical final
    * division as [[graft.operators.Analytics.friedmanFromCells]]). */
  private lazy val friedmanOracleSql: String =
    """WITH b AS (SELECT o_custkey bl, o_orderpriority tr,
      |    CAST(round(o_totalprice*100, 0) AS BIGINT) v FROM orders
      |  WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL),
      |cells AS (SELECT bl, tr, CAST(sum(v) AS BIGINT) s,
      |    CAST(count(*) AS BIGINT) c FROM b GROUP BY 1, 2),
      |kk AS (SELECT CAST(count(DISTINCT tr) AS BIGINT) k FROM cells),
      |comp AS (SELECT bl FROM cells GROUP BY bl
      |  HAVING CAST(count(*) AS BIGINT) = (SELECT k FROM kk)),
      |cc AS (SELECT cells.bl, cells.tr,
      |    CAST(s AS DOUBLE)/CAST(c AS DOUBLE) val
      |  FROM cells JOIN comp USING (bl)),
      |rk AS (SELECT bl, tr,
      |    2*CAST(rank() OVER (PARTITION BY bl ORDER BY val) AS BIGINT)
      |      + CAST(count(*) OVER (PARTITION BY bl, val) AS BIGINT) - 1 r2
      |  FROM cc),
      |tot AS (SELECT CAST(coalesce(sum(r2*r2), 0) AS BIGINT) sr2,
      |    CAST(count(DISTINCT bl) AS BIGINT) nb FROM rk),
      |num AS (SELECT CAST(coalesce(sum((rr - nb*(k+1))*(rr - nb*(k+1))),
      |      0) AS BIGINT) s
      |  FROM (SELECT tr, CAST(sum(r2) AS BIGINT) rr FROM rk GROUP BY 1),
      |    tot, kk)
      |SELECT nb n_blocks, k,
      |  CASE WHEN k > 1 AND nb > 0
      |      AND (sr2 - nb*k*(k+1)*(k+1)) > 0 THEN
      |    round(CAST(k - 1 AS DOUBLE) * CAST(s AS DOUBLE) /
      |      CAST(sr2 - nb*k*(k+1)*(k+1) AS DOUBLE), 6)
      |  END chi2_f
      |FROM num, tot, kk""".stripMargin

  /** Shared by x202 (batch) and st51 (streaming): Wilcoxon signed-rank
    * over char-length vs 25×token-count pairs, the doubled-midrank
    * BIGINT identity re-derived in DuckDB SQL (window over the |d|
    * census, ONE float division + sqrt at the end — the same IEEE term
    * tree as [[graft.operators.Analytics.wsrFromCensus]]). */
  private lazy val wsrOracleSql: String =
    """WITH p AS (SELECT CAST(length(text) AS BIGINT) -
      |    25 * CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+') END)
      |      AS BIGINT) d
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT abs(d) v, CAST(count(*) AS BIGINT) t,
      |    CAST(coalesce(sum(CASE WHEN d > 0 THEN 1 END), 0)
      |      AS BIGINT) cp
      |  FROM p GROUP BY 1),
      |nz AS (SELECT v, t, cp, CAST(coalesce(sum(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) cb
      |  FROM c WHERE v > 0),
      |r AS (SELECT t, cp, 2*cb + t + 1 r2 FROM nz),
      |s AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) n,
      |    CAST(coalesce(sum(cp*r2), 0) AS BIGINT) w2,
      |    CAST(coalesce(sum(t*t*t - t), 0) AS BIGINT) st FROM r),
      |np AS (SELECT CAST(count(*) AS BIGINT) n_pairs FROM p)
      |SELECT np.n_pairs, s.n n_nonzero,
      |  CAST(w2 AS DOUBLE)/2.0 w_plus,
      |  CASE WHEN n > 0 THEN round(
      |    CAST(2*w2 - n*(n+1) AS DOUBLE) / 4.0 /
      |    sqrt(CAST(2*n*(n+1)*(2*n+1) - st AS DOUBLE) / 48.0), 6)
      |  END z
      |FROM s, np""".stripMargin

  /** Shared by x203 (batch) and st52 (streaming): Cochran-Armitage
    * return-rate-vs-quantity trend, every sum kept cross-multiplied
    * BIGINT with the identical final product tree as
    * [[graft.operators.Analytics.caFromCensus]]. */
  private lazy val caOracleSql: String =
    """WITH b AS (SELECT CAST(l_quantity AS BIGINT) s,
      |    (l_returnflag = 'R') ok FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
      |c AS (SELECT s, CAST(count(*) AS BIGINT) n,
      |    CAST(coalesce(sum(CASE WHEN ok THEN 1 END), 0) AS BIGINT) r
      |  FROM b GROUP BY 1),
      |a AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) nn,
      |    CAST(coalesce(sum(r), 0) AS BIGINT) rr,
      |    CAST(count(*) AS BIGINT) k,
      |    CAST(coalesce(sum(s*r), 0) AS BIGINT) sr,
      |    CAST(coalesce(sum(s*n), 0) AS BIGINT) sn,
      |    CAST(coalesce(sum(s*s*n), 0) AS BIGINT) ssn FROM c)
      |SELECT nn n, k, rr n_success,
      |  CASE WHEN k > 1 AND rr > 0 AND rr < nn
      |      AND CAST(nn*ssn - sn*sn AS DOUBLE) > 0 THEN
      |    round(CAST(nn*sr - rr*sn AS DOUBLE) /
      |      sqrt(CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE) *
      |        CAST(nn*ssn - sn*sn AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
      |  END z_trend
      |FROM a""".stripMargin

  /** Shared by x197 (batch) and st50 (streaming): pairwise JSD over the
    * per-source word distributions, one fixed IEEE term tree
    * fixed-pointed at 10 dp (the x110 convention).
    */
  private lazy val jsdOracleSql: String =
    """WITH tok AS (SELECT source, unnest(list_filter(
      |    regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
      |    x -> length(x) > 0)) w
      |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
      |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) c
      |  FROM tok GROUP BY 1, 2),
      |st AS (SELECT source, CAST(sum(c) AS BIGINT) t FROM sw
      |  GROUP BY 1),
      |pr AS (SELECT a.source sa, a.t ta, b.source sb, b.t tb
      |  FROM st a JOIN st b ON a.source < b.source),
      |memb AS (SELECT DISTINCT pr.sa, pr.sb, pr.ta, pr.tb, sw.w
      |  FROM sw JOIN pr ON sw.source = pr.sa OR sw.source = pr.sb),
      |e AS (SELECT m.sa, m.sb, m.w,
      |    CAST(coalesce(ca.c, 0) AS DOUBLE) / CAST(m.ta AS DOUBLE) pa,
      |    CAST(coalesce(cb.c, 0) AS DOUBLE) / CAST(m.tb AS DOUBLE) pb
      |  FROM memb m
      |  LEFT JOIN sw ca ON ca.source = m.sa AND ca.w = m.w
      |  LEFT JOIN sw cb ON cb.source = m.sb AND cb.w = m.w),
      |terms AS (SELECT sa, sb, CAST(round((
      |      CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2.0)) * 0.5
      |        ELSE 0 END +
      |      CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2.0)) * 0.5
      |        ELSE 0 END) * 1e10, 0) AS BIGINT) ki
      |  FROM e)
      |SELECT sa source_a, sb source_b,
      |  CAST(count(*) AS BIGINT) vocab_union,
      |  round(CAST(sum(ki) AS DOUBLE) / 1e10, 6) jsd_nats
      |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared by x189 (batch) and st47 (streaming): paired quality-gate
    * cells + the continuity-corrected McNemar χ². */
  private lazy val mcnemarOracleSql: String =
    """WITH b AS (SELECT length(text) >= 200 a,
      |    len(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+')
      |      END) >= 40 bb
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT
      |    CAST(coalesce(sum(CASE WHEN a AND bb THEN 1 END), 0)
      |      AS BIGINT) rr,
      |    CAST(coalesce(sum(CASE WHEN a AND NOT bb THEN 1 END), 0)
      |      AS BIGINT) ao,
      |    CAST(coalesce(sum(CASE WHEN NOT a AND bb THEN 1 END), 0)
      |      AS BIGINT) bo,
      |    CAST(coalesce(sum(CASE WHEN NOT a AND NOT bb THEN 1 END),
      |      0) AS BIGINT) ww
      |  FROM b)
      |SELECT rr n_both_right, ao n_a_only, bo n_b_only,
      |  ww n_both_wrong,
      |  CASE WHEN ao + bo > 0 THEN
      |    round(CAST(abs(ao - bo) - 1 AS DOUBLE) *
      |      CAST(abs(ao - bo) - 1 AS DOUBLE) /
      |      CAST(ao + bo AS DOUBLE), 6) END chi2_cc
      |FROM c""".stripMargin

  /** Shared by x194 (batch) and st48 (streaming): the 4096-bit 3-hash
    * salted-md5 Bloom audit, orders custkeys probed by customers. */
  private lazy val bloomOracleSql: String =
    """WITH bk AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) k
      |  FROM orders WHERE o_custkey IS NOT NULL),
      |pk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) k
      |  FROM customer WHERE c_custkey IS NOT NULL),
      |s AS (SELECT unnest(['bloom0:', 'bloom1:', 'bloom2:']) salt),
      |bbits AS (SELECT DISTINCT list_reduce(list_transform(range(1, 9),
      |    i -> CAST(strpos('0123456789abcdef',
      |      substr(md5(salt || k), CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |    (a, b) -> a*16 + b) % 4096 bt
      |  FROM bk CROSS JOIN s),
      |pbits AS (SELECT k, list_reduce(list_transform(range(1, 9),
      |    i -> CAST(strpos('0123456789abcdef',
      |      substr(md5(salt || k), CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |    (a, b) -> a*16 + b) % 4096 bt
      |  FROM pk CROSS JOIN s),
      |mb AS (SELECT k FROM pbits JOIN bbits USING (bt)
      |  GROUP BY k HAVING count(*) = 3),
      |pr AS (SELECT k FROM pk WHERE k IN (SELECT k FROM bk)),
      |agg AS (SELECT
      |    CAST((SELECT count(*) FROM bk) AS BIGINT) n_build_keys,
      |    CAST((SELECT count(*) FROM bbits) AS BIGINT) n_bits_set,
      |    CAST((SELECT count(*) FROM pk) AS BIGINT) n_probe_keys,
      |    CAST((SELECT count(*) FROM pr) AS BIGINT) n_exact_present,
      |    CAST((SELECT count(*) FROM mb) AS BIGINT) n_maybe,
      |    CAST((SELECT count(*) FROM mb WHERE k NOT IN
      |      (SELECT k FROM pr)) AS BIGINT) n_false_positive)
      |SELECT CAST(4096 AS BIGINT) m_bits, CAST(3 AS BIGINT) k_hashes,
      |  n_build_keys, n_bits_set,
      |  round(CAST(n_bits_set AS DOUBLE) / 4096.0, 6) fill_ratio,
      |  n_probe_keys, n_exact_present, n_maybe, n_false_positive,
      |  CASE WHEN n_probe_keys > n_exact_present THEN
      |    round(CAST(n_false_positive AS DOUBLE) /
      |      CAST(n_probe_keys - n_exact_present AS DOUBLE), 6)
      |  END fp_rate
      |FROM agg""".stripMargin

  /** Shared by x187 (batch) and st44 (streaming): lower-median pairwise
    * slope over the per-type daily-count series. */
  private lazy val theilSenOracleSql: String =
    """WITH dd AS (SELECT event_type g,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) t,
      |    CAST(count(*) AS BIGINT) v FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
      |p AS (SELECT l.g, CAST(r.v - l.v AS DOUBLE) /
      |      CAST(r.t - l.t AS DOUBLE) s, l.t t1, r.t t2
      |  FROM dd l JOIN dd r ON l.g = r.g AND l.t < r.t),
      |rk AS (SELECT g, s, row_number() OVER (PARTITION BY g
      |      ORDER BY s, t1, t2) r,
      |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) pcnt FROM p),
      |m AS (SELECT g, pcnt, s FROM rk
      |  WHERE r = CAST(ceil(CAST(pcnt AS DOUBLE) / 2.0) AS BIGINT)),
      |np AS (SELECT g, CAST(count(*) AS BIGINT) n_points FROM dd
      |  GROUP BY 1)
      |SELECT np.g grp, np.n_points,
      |  CAST(coalesce(m.pcnt, 0) AS BIGINT) n_pairs,
      |  round(m.s, 6) slope
      |FROM np LEFT JOIN m ON np.g = m.g ORDER BY grp""".stripMargin

  /** Shared by x188 (batch) and st45 (streaming): purchase-vs-view
    * Welch t over exact cents sums, with Cohen's d / Hedges' g. */
  private lazy val welchOracleSql: String =
    """WITH b AS (SELECT event_type lvl,
      |    CAST(round(value*100, 0) AS BIGINT) v FROM events
      |  WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
      |s AS (SELECT lvl, CAST(count(*) AS BIGINT) n,
      |    CAST(sum(v) AS BIGINT) sv, CAST(sum(v*v) AS BIGINT) ss
      |  FROM b GROUP BY 1),
      |w AS (SELECT
      |    a.n na, bb.n nb, a.sv sa, bb.sv sb, a.ss ssa, bb.ss ssb
      |  FROM (SELECT * FROM s WHERE lvl = 'purchase') a
      |  CROSS JOIN (SELECT * FROM s WHERE lvl = 'view') bb),
      |e AS (SELECT na, nb,
      |    CAST(sa AS DOUBLE)/CAST(na AS DOUBLE) ma,
      |    CAST(sb AS DOUBLE)/CAST(nb AS DOUBLE) mb,
      |    ssa, ssb FROM w),
      |v AS (SELECT na, nb, ma, mb,
      |    CASE WHEN na > 1 THEN (CAST(ssa AS DOUBLE) -
      |      CAST(na AS DOUBLE)*ma*ma) / CAST(na - 1 AS DOUBLE) END va,
      |    CASE WHEN nb > 1 THEN (CAST(ssb AS DOUBLE) -
      |      CAST(nb AS DOUBLE)*mb*mb) / CAST(nb - 1 AS DOUBLE) END vb
      |  FROM e),
      |t AS (SELECT na, nb, ma, mb, va, vb,
      |    va/CAST(na AS DOUBLE) sea, vb/CAST(nb AS DOUBLE) seb,
      |    va/CAST(na AS DOUBLE) + vb/CAST(nb AS DOUBLE) se2,
      |    CASE WHEN na + nb > 2 THEN
      |      sqrt((CAST(na - 1 AS DOUBLE)*va + CAST(nb - 1 AS DOUBLE)*vb)
      |        / CAST(na + nb - 2 AS DOUBLE)) END sp
      |  FROM v),
      |dd AS (SELECT *, CASE WHEN sp > 0 THEN (ma - mb)/sp END d FROM t)
      |SELECT na n_a, nb n_b, round(ma, 6) mean_a, round(mb, 6) mean_b,
      |  CASE WHEN se2 > 0 THEN round((ma - mb)/sqrt(se2), 6) END t_welch,
      |  CASE WHEN se2 > 0 THEN round(se2*se2 /
      |    (sea*sea/CAST(na - 1 AS DOUBLE) +
      |     seb*seb/CAST(nb - 1 AS DOUBLE)), 6) END df_welch,
      |  round(d, 6) cohen_d,
      |  round(d * (1.0 - 3.0/(4.0*CAST(na + nb AS DOUBLE) - 9.0)), 6)
      |    hedges_g
      |FROM dd""".stripMargin

  /** Shared by x190 (batch) and st46 (streaming): Chao1 + Good-Turing
    * off the whitespace-token census. */
  private lazy val richnessOracleSql: String =
    """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text),
      |      '\s+')) w
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
      |c AS (SELECT w, CAST(count(*) AS BIGINT) c FROM toks
      |  WHERE length(w) > 0 GROUP BY 1),
      |a AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) n_tokens,
      |    CAST(count(*) AS BIGINT) n_vocab,
      |    CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT) f1,
      |    CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 END), 0) AS BIGINT) f2
      |  FROM c)
      |SELECT n_tokens, n_vocab, f1, f2,
      |  CASE WHEN n_vocab > 0 THEN round(CAST(n_vocab AS DOUBLE) +
      |    CAST(f1*(f1-1) AS DOUBLE)/CAST((f2+1)*2 AS DOUBLE), 6)
      |    END chao1,
      |  CASE WHEN n_tokens > 0 THEN
      |    round(CAST(f1 AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6)
      |    END gt_unseen_mass
      |FROM a""".stripMargin

  /** x184's oracle: the same distinct-membership / basket-cap / top-40
    * choreography in DuckDB. */
  private lazy val assocOracleSql: String =
    """WITH bi AS (SELECT DISTINCT l_orderkey bk, p_brand it
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_orderkey IS NOT NULL AND p_brand IS NOT NULL),
      |k AS (SELECT bk, it FROM (SELECT bk, it,
      |    count(*) OVER (PARTITION BY bk) sz FROM bi) WHERE sz <= 16),
      |nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) n FROM k),
      |ic AS (SELECT it, CAST(count(*) AS BIGINT) c FROM k GROUP BY 1),
      |co AS (SELECT a.it ia, b2.it ib, CAST(count(*) AS BIGINT) nab
      |  FROM k a JOIN k b2 USING (bk) WHERE a.it < b2.it
      |  GROUP BY 1, 2 HAVING count(*) >= 10),
      |dir AS (SELECT ia ante, ib cons, nab FROM co
      |  UNION ALL SELECT ib, ia, nab FROM co)
      |SELECT d.ante antecedent, d.cons consequent, d.nab n_pair,
      |  ca.c n_antecedent, cc.c n_consequent, nb.n n_baskets,
      |  round(CAST(d.nab AS DOUBLE)/CAST(nb.n AS DOUBLE), 6) support,
      |  round(CAST(d.nab AS DOUBLE)/CAST(ca.c AS DOUBLE), 6) confidence,
      |  round(CAST(d.nab AS DOUBLE)*CAST(nb.n AS DOUBLE) /
      |    (CAST(ca.c AS DOUBLE)*CAST(cc.c AS DOUBLE)), 6) lift
      |FROM dir d JOIN ic ca ON d.ante = ca.it
      |  JOIN ic cc ON d.cons = cc.it CROSS JOIN nb
      |ORDER BY lift DESC, confidence DESC, antecedent, consequent
      |LIMIT 40""".stripMargin

  /** Shared by x185 (batch) and st43 (streaming): quantity × $1k price
    * bin Kendall τ-b off the cell census. */
  private lazy val kendallOracleSql: String =
    """WITH b AS (SELECT CAST(l_quantity AS BIGINT) x,
      |    CAST(floor(l_extendedprice/1000.0) AS BIGINT) y FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |c AS (SELECT x, y, CAST(count(*) AS BIGINT) c FROM b GROUP BY 1, 2),
      |p AS (SELECT
      |    CAST(coalesce(sum(CASE WHEN l.y < r.y THEN l.c*r.c END), 0)
      |      AS BIGINT) conc,
      |    CAST(coalesce(sum(CASE WHEN l.y > r.y THEN l.c*r.c END), 0)
      |      AS BIGINT) disc
      |  FROM c l JOIN c r ON l.x < r.x),
      |tx AS (SELECT CAST(coalesce(sum(t*(t-1)), 0) AS BIGINT) tx2,
      |    CAST(sum(t) AS BIGINT) n
      |  FROM (SELECT CAST(sum(c) AS BIGINT) t FROM c GROUP BY x)),
      |ty AS (SELECT CAST(coalesce(sum(t*(t-1)), 0) AS BIGINT) ty2
      |  FROM (SELECT CAST(sum(c) AS BIGINT) t FROM c GROUP BY y)),
      |cl AS (SELECT CAST(count(*) AS BIGINT) cells FROM c),
      |d AS (SELECT n, cells, conc, disc,
      |    CAST(n*(n-1) - tx2 AS DOUBLE)/2.0 dx,
      |    CAST(n*(n-1) - ty2 AS DOUBLE)/2.0 dy
      |  FROM p CROSS JOIN tx CROSS JOIN ty CROSS JOIN cl)
      |SELECT n, cells, conc concordant, disc discordant,
      |  CASE WHEN dx > 0 AND dy > 0 THEN
      |    round(CAST(conc - disc AS DOUBLE)/(sqrt(dx)*sqrt(dy)), 6)
      |  END tau_b
      |FROM d""".stripMargin

  /** Shared by x186 (batch) and st42 (streaming): priority→totalprice
    * Brown-Forsythe F off the value census — doubled group medians, the
    * anova F tree on |2v − 2m| deviations. */
  private lazy val brownForsytheOracleSql: String =
    """WITH b AS (SELECT o_orderpriority g,
      |    CAST(round(o_totalprice, 0) AS BIGINT) v FROM orders
      |  WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL),
      |c AS (SELECT g, v, CAST(count(*) AS BIGINT) c FROM b GROUP BY 1, 2),
      |ng AS (SELECT g, CAST(sum(c) AS BIGINT) n FROM c GROUP BY 1),
      |cb AS (SELECT g, v, c, CAST(coalesce(sum(c) OVER (PARTITION BY g
      |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS BIGINT) cb FROM c),
      |m AS (SELECT cb.g, CAST(sum(
      |    CASE WHEN (ng.n + 1)//2 > cb.cb
      |      AND (ng.n + 1)//2 <= cb.cb + cb.c THEN cb.v ELSE 0 END +
      |    CASE WHEN (ng.n + 2)//2 > cb.cb
      |      AND (ng.n + 2)//2 <= cb.cb + cb.c THEN cb.v ELSE 0 END)
      |    AS BIGINT) m2
      |  FROM cb JOIN ng ON cb.g = ng.g GROUP BY 1),
      |z AS (SELECT c.g, abs(2*c.v - m.m2) z, c.c FROM c
      |  JOIN m ON c.g = m.g),
      |s AS (SELECT g, CAST(sum(c) AS BIGINT) ng,
      |    CAST(sum(c*z) AS BIGINT) sg, CAST(sum(c*z*z) AS BIGINT) ssg
      |  FROM z GROUP BY 1),
      |f AS (SELECT CAST(sum(ng) AS BIGINT) n,
      |    CAST(count(*) AS BIGINT) k, CAST(sum(sg) AS BIGINT) s,
      |    CAST(sum(ssg) AS BIGINT) ssq,
      |    list_sum(list(CAST(sg AS DOUBLE)*CAST(sg AS DOUBLE) /
      |      CAST(ng AS DOUBLE) ORDER BY g)) fold
      |  FROM s),
      |e AS (SELECT *, CAST(s AS DOUBLE)*CAST(s AS DOUBLE) /
      |    CAST(n AS DOUBLE) corr FROM f),
      |g2 AS (SELECT *, fold - corr ssb,
      |    CAST(ssq AS DOUBLE) - corr sst FROM e),
      |h AS (SELECT *, sst - ssb ssw FROM g2)
      |SELECT n, k,
      |  CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
      |    round((ssb/CAST(k - 1 AS DOUBLE)) /
      |      (ssw/CAST(n - k AS DOUBLE)), 6) END f_bf
      |FROM h""".stripMargin

  /** Shared by x183 (batch) and st41 (streaming): one output contract —
    * priority→totalprice Kruskal-Wallis H + tie-corrected H — so both
    * grade against the identical oracle. Lazy for the same
    * initialization-order reason as [[fleissOracleSql]]. */
  private lazy val kruskalOracleSql: String =
    """WITH b AS (SELECT o_orderpriority g,
      |    CAST(round(o_totalprice, 0) AS BIGINT) v FROM orders
      |  WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL),
      |c AS (SELECT g, v, CAST(count(*) AS BIGINT) c FROM b
      |  GROUP BY 1, 2),
      |gl AS (SELECT v, CAST(sum(c) AS BIGINT) t FROM c GROUP BY 1),
      |rk AS (SELECT v, t, CAST(coalesce(sum(t) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) cb FROM gl),
      |r2 AS (SELECT v, 2*cb + t + 1 r2 FROM rk),
      |gr AS (SELECT c.g, CAST(sum(c.c) AS BIGINT) ng,
      |    CAST(sum(c.c * r2.r2) AS BIGINT) r2g
      |  FROM c JOIN r2 USING (v) GROUP BY 1),
      |tt AS (SELECT CAST(sum(ng) AS BIGINT) n,
      |    CAST(count(*) AS BIGINT) k,
      |    list_sum(list((CAST(r2g AS DOUBLE)/2.0) *
      |      (CAST(r2g AS DOUBLE)/2.0) / CAST(ng AS DOUBLE)
      |      ORDER BY g)) fold
      |  FROM gr),
      |tc AS (SELECT CAST(coalesce(sum(t*t*t - t), 0) AS BIGINT) st
      |  FROM gl),
      |hh AS (SELECT n, k,
      |    12.0/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) + 1.0))*fold
      |      - 3.0*(CAST(n AS DOUBLE) + 1.0) h0,
      |    1.0 - CAST(st AS DOUBLE) /
      |      (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)
      |        - CAST(n AS DOUBLE)) cc
      |  FROM tt CROSS JOIN tc)
      |SELECT n, k,
      |  CASE WHEN k > 1 AND n > 1 THEN round(h0, 6) END h,
      |  CASE WHEN k > 1 AND n > 1 AND cc > 0 THEN
      |    round(h0/cc, 6) END h_tie
      |FROM hh""".stripMargin

  /** Shared by x182 (batch) and st40 (streaming): one output contract —
    * priority→totalprice F statistic + η² — so both grade against the
    * identical oracle. Lazy for the same initialization-order reason as
    * [[fleissOracleSql]]. */
  private lazy val anovaOracleSql: String =
    """WITH b AS (SELECT o_orderpriority g,
      |    CAST(round(o_totalprice, 0) AS BIGINT) v FROM orders
      |  WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL),
      |s AS (SELECT g, CAST(count(*) AS BIGINT) ng,
      |    CAST(sum(v) AS BIGINT) sg, CAST(sum(v*v) AS BIGINT) ssg
      |  FROM b GROUP BY 1),
      |f AS (SELECT CAST(sum(ng) AS BIGINT) n,
      |    CAST(count(*) AS BIGINT) k, CAST(sum(sg) AS BIGINT) s,
      |    CAST(sum(ssg) AS BIGINT) ssq,
      |    list_sum(list(CAST(sg AS DOUBLE)*CAST(sg AS DOUBLE) /
      |      CAST(ng AS DOUBLE) ORDER BY g)) fold
      |  FROM s),
      |e AS (SELECT *, CAST(s AS DOUBLE)*CAST(s AS DOUBLE) /
      |    CAST(n AS DOUBLE) corr FROM f),
      |g2 AS (SELECT *, fold - corr ssb,
      |    CAST(ssq AS DOUBLE) - corr sst FROM e),
      |h AS (SELECT *, sst - ssb ssw FROM g2)
      |SELECT n, k,
      |  CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
      |    round((ssb/CAST(k - 1 AS DOUBLE)) /
      |      (ssw/CAST(n - k AS DOUBLE)), 6) END f_stat,
      |  CASE WHEN sst > 0 THEN round(ssb/sst, 6) END eta2
      |FROM h""".stripMargin


  /** Shared by x178 (batch) and st39 (streaming): one output contract —
    * event_type × day-of-week MI / NMI / Cramér's V — so both grade
    * against the identical oracle. Lazy for the same
    * initialization-order reason as [[fleissOracleSql]]. */
  private lazy val mutualInfoOracleSql: String =
    """WITH cells AS (SELECT CAST(event_type AS VARCHAR) a,
      |    CAST(dayofweek(ts) + 1 AS VARCHAR) b, count(*) o
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |ra AS (SELECT a, sum(o) ra FROM cells GROUP BY 1),
      |rb AS (SELECT b, sum(o) rb FROM cells GROUP BY 1),
      |tt AS (SELECT sum(o) n, count(DISTINCT a) da,
      |    count(DISTINCT b) db FROM cells),
      |terms AS (SELECT cells.a, cells.b, CAST(o AS DOUBLE) od,
      |    CAST(ra AS DOUBLE) rad, CAST(rb AS DOUBLE) rbd,
      |    CAST(n AS DOUBLE) nd, da, db, n
      |  FROM cells JOIN ra USING (a) JOIN rb USING (b)
      |  CROSS JOIN tt),
      |f AS (SELECT CAST(max(n) AS BIGINT) n,
      |    CAST(max(da) AS BIGINT) r_a, CAST(max(db) AS BIGINT) r_b,
      |    max(nd) nd,
      |    list_sum(list(od * (ln(od) + ln(nd) - ln(rad) - ln(rbd))
      |      ORDER BY a, b)) smi,
      |    list_sum(list(od * od / (rad * rbd / nd)
      |      ORDER BY a, b)) sx2
      |  FROM terms),
      |ma AS (SELECT list_sum(list(CAST(ra AS DOUBLE) *
      |    ln(CAST(ra AS DOUBLE)) ORDER BY a)) sa FROM ra),
      |mb AS (SELECT list_sum(list(CAST(rb AS DOUBLE) *
      |    ln(CAST(rb AS DOUBLE)) ORDER BY b)) sb FROM rb)
      |SELECT n, r_a, r_b,
      |  round(smi / nd, 6) mi_nats,
      |  round(CASE WHEN ln(nd) - sa/nd > 0 AND ln(nd) - sb/nd > 0
      |    THEN (smi/nd) / sqrt((ln(nd) - sa/nd)*(ln(nd) - sb/nd))
      |    END, 6) nmi,
      |  round(CASE WHEN least(r_a, r_b) > 1
      |    THEN sqrt(greatest(0.0, sx2 - nd) /
      |      (nd * CAST(least(r_a, r_b) - 1 AS DOUBLE)))
      |    END, 6) cramers_v
      |FROM f CROSS JOIN ma CROSS JOIN mb""".stripMargin

  /** Shared by x180 (batch) and st38 (streaming): one output contract —
    * per-returnflag two-regressor OLS coefficients + R² — so both grade
    * against the identical oracle. Lazy for the same
    * initialization-order reason as [[fleissOracleSql]]. */
  private lazy val ols2OracleSql: String =
    """WITH b AS (SELECT l_returnflag g,
      |    CAST(round(l_quantity, 0) AS BIGINT) x1,
      |    CAST(round(l_discount*100, 0) AS BIGINT) x2,
      |    CAST(round(l_extendedprice, 0) AS BIGINT) y
      |  FROM lineitem
      |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
      |    AND l_discount IS NOT NULL
      |    AND l_extendedprice IS NOT NULL),
      |s AS (SELECT g, CAST(count(*) AS BIGINT) n,
      |    CAST(sum(x1) AS BIGINT) s1, CAST(sum(x2) AS BIGINT) s2,
      |    CAST(sum(y) AS BIGINT) sy,
      |    CAST(sum(x1*x1) AS BIGINT) s11,
      |    CAST(sum(x2*x2) AS BIGINT) s22,
      |    CAST(sum(x1*x2) AS BIGINT) s12,
      |    CAST(sum(x1*y) AS BIGINT) s1y,
      |    CAST(sum(x2*y) AS BIGINT) s2y,
      |    CAST(sum(y*y) AS BIGINT) syy
      |  FROM b GROUP BY 1),
      |e AS (SELECT g, n, CAST(n AS DOUBLE) nd,
      |    CAST(s1 AS DOUBLE) s1d, CAST(s2 AS DOUBLE) s2d,
      |    CAST(sy AS DOUBLE) syd, CAST(s11 AS DOUBLE) s11d,
      |    CAST(s22 AS DOUBLE) s22d, CAST(s12 AS DOUBLE) s12d,
      |    CAST(s1y AS DOUBLE) s1yd, CAST(s2y AS DOUBLE) s2yd,
      |    CAST(syy AS DOUBLE) syyd FROM s),
      |dt AS (SELECT *,
      |    nd*(s11d*s22d - s12d*s12d) - s1d*(s1d*s22d - s12d*s2d)
      |      + s2d*(s1d*s12d - s11d*s2d) det,
      |    syd*(s11d*s22d - s12d*s12d)
      |      - s1d*(s1yd*s22d - s12d*s2yd)
      |      + s2d*(s1yd*s12d - s11d*s2yd) d0,
      |    nd*(s1yd*s22d - s12d*s2yd) - syd*(s1d*s22d - s12d*s2d)
      |      + s2d*(s1d*s2yd - s1yd*s2d) d1,
      |    nd*(s11d*s2yd - s1yd*s12d) - s1d*(s1d*s2yd - s1yd*s2d)
      |      + syd*(s1d*s12d - s11d*s2d) d2
      |  FROM e),
      |bb AS (SELECT *,
      |    CASE WHEN det <> 0 THEN d0/det END b0r,
      |    CASE WHEN det <> 0 THEN d1/det END b1r,
      |    CASE WHEN det <> 0 THEN d2/det END b2r,
      |    syyd - syd*syd/nd sst FROM dt),
      |rr AS (SELECT *,
      |    syyd - (b0r*syd + b1r*s1yd + b2r*s2yd) sse FROM bb)
      |SELECT g l_returnflag, n, round(b0r, 8) b0, round(b1r, 8) b1,
      |  round(b2r, 8) b2,
      |  CASE WHEN det <> 0 AND sst > 0
      |    THEN round(1.0 - sse/sst, 6) END r2
      |FROM rr ORDER BY 1""".stripMargin

  /** Shared by x179 (batch) and st37 (streaming): one output contract —
    * per-priority conformal interval + held-out coverage — so both grade
    * against the identical oracle. Lazy for the same
    * initialization-order reason as [[fleissOracleSql]]. */
  private lazy val conformalOracleSql: String =
    """WITH b AS (SELECT o_orderpriority g,
      |    CAST(round(o_totalprice*100, 0) AS BIGINT) v,
      |    list_reduce(list_transform(range(1, 9),
      |      i -> CAST(strpos('0123456789abcdef',
      |        substr(md5('cf1:' || CAST(o_orderkey AS VARCHAR)),
      |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, x) -> a*16 + x) u
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),
      |cal AS (SELECT g, v FROM b WHERE u < 2147483648),
      |tst AS (SELECT g, v FROM b WHERE u >= 2147483648),
      |c AS (SELECT g, v, CAST(count(*) AS BIGINT) c FROM cal
      |  GROUP BY 1, 2),
      |cum AS (SELECT g, v,
      |    sum(c) OVER (PARTITION BY g ORDER BY v ASC) cum,
      |    sum(c) OVER (PARTITION BY g) n FROM c),
      |med AS (SELECT g, CAST(max(n) AS BIGINT) n_cal,
      |    CAST(min(CASE WHEN cum >= ceil(0.5*n) THEN v END)
      |      AS BIGINT) m FROM cum GROUP BY g),
      |d2 AS (SELECT cal.g, abs(cal.v - med.m) dv FROM cal
      |  JOIN med ON cal.g = med.g),
      |c2 AS (SELECT g, dv, CAST(count(*) AS BIGINT) c FROM d2
      |  GROUP BY 1, 2),
      |cum2 AS (SELECT g, dv,
      |    sum(c) OVER (PARTITION BY g ORDER BY dv ASC) cum FROM c2),
      |q AS (SELECT cum2.g, CAST(min(CASE WHEN cum >=
      |      ceil(0.9 * CAST(n_cal + 1 AS DOUBLE)) THEN dv END)
      |    AS BIGINT) qhat
      |  FROM cum2 JOIN med ON cum2.g = med.g GROUP BY 1),
      |cov AS (SELECT tst.g, CAST(count(*) AS BIGINT) n_test,
      |    CAST(sum(CASE WHEN abs(tst.v - med.m) <= q.qhat
      |      THEN 1 ELSE 0 END) AS BIGINT) cvd
      |  FROM tst JOIN med ON tst.g = med.g
      |  JOIN q ON tst.g = q.g GROUP BY 1)
      |SELECT med.g o_orderpriority, med.n_cal, cov.n_test, q.qhat,
      |  CASE WHEN q.qhat IS NOT NULL THEN
      |    round(CAST(cvd AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
      |  END coverage
      |FROM med JOIN q ON med.g = q.g JOIN cov ON med.g = cov.g
      |ORDER BY 1""".stripMargin

  /** Shared by x160 (batch) and st36 (streaming): one output contract —
    * the five-constraint orders report — so both grade against the
    * identical oracle. Lazy for the same initialization-order reason as
    * [[fleissOracleSql]]. */
  private lazy val contractsOracleSql: String =
    """WITH nn AS (SELECT CAST(count(*) AS BIGINT) n FROM orders),
      |uq AS (SELECT CAST(count(*) - count(DISTINCT o_orderkey)
      |    AS BIGINT) v FROM orders WHERE o_orderkey IS NOT NULL),
      |nl AS (SELECT CAST(coalesce(sum(CASE WHEN o_custkey IS NULL
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) v FROM orders),
      |ins AS (SELECT CAST(coalesce(sum(CASE WHEN o_orderstatus
      |    IS NOT NULL AND o_orderstatus NOT IN ('O', 'F', 'P')
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) v FROM orders),
      |rng AS (SELECT CAST(coalesce(sum(CASE WHEN o_totalprice
      |    IS NOT NULL AND (o_totalprice < 0 OR o_totalprice >
      |    200000) THEN 1 ELSE 0 END), 0) AS BIGINT) v FROM orders),
      |ri AS (SELECT CAST(count(*) AS BIGINT) v FROM orders o
      |  WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
      |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |SELECT * FROM (
      |  SELECT 'in_range' contract,
      |    'o_totalprice in[0.0,200000.0]' detail, n n_rows,
      |    v n_violations, round(CAST(v AS DOUBLE) /
      |      (CASE WHEN n = 0 THEN 1 ELSE n END), 6) violation_share,
      |    v = 0 pass FROM rng, nn
      |  UNION ALL SELECT 'in_set', 'o_orderstatus in(O,F,P)', n, v,
      |    round(CAST(v AS DOUBLE) /
      |      (CASE WHEN n = 0 THEN 1 ELSE n END), 6), v = 0
      |    FROM ins, nn
      |  UNION ALL SELECT 'not_null', 'o_custkey nullShare<=0.0', n,
      |    v, round(CAST(v AS DOUBLE) /
      |      (CASE WHEN n = 0 THEN 1 ELSE n END), 6), v = 0
      |    FROM nl, nn
      |  UNION ALL SELECT 'ref_integrity', 'o_custkey->c_custkey', n,
      |    v, round(CAST(v AS DOUBLE) /
      |      (CASE WHEN n = 0 THEN 1 ELSE n END), 6), v = 0
      |    FROM ri, nn
      |  UNION ALL SELECT 'unique', 'o_orderkey', n, v,
      |    round(CAST(v AS DOUBLE) /
      |      (CASE WHEN n = 0 THEN 1 ELSE n END), 6), v = 0
      |    FROM uq, nn)
      |ORDER BY contract, detail""".stripMargin

  /** Shared by x176 (batch) and st35 (streaming): one output contract —
    * per-priority (median, MAD) over order cents — so both grade against
    * the identical oracle. Lazy for the same initialization-order reason
    * as [[fleissOracleSql]]. */
  private lazy val groupedMadOracleSql: String =
    """WITH b AS (SELECT o_orderpriority g,
      |    CAST(round(o_totalprice*100, 0) AS BIGINT) v FROM orders
      |  WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL),
      |c AS (SELECT g, v, CAST(count(*) AS BIGINT) c FROM b
      |  GROUP BY 1, 2),
      |cum AS (SELECT g, v,
      |    sum(c) OVER (PARTITION BY g ORDER BY v ASC) cum,
      |    sum(c) OVER (PARTITION BY g) n FROM c),
      |med AS (SELECT g, CAST(max(n) AS BIGINT) n_rows,
      |    CAST(min(CASE WHEN cum >= ceil(0.5*n) THEN v END)
      |      AS BIGINT) m FROM cum GROUP BY g),
      |d2 AS (SELECT b.g, abs(b.v - med.m) dv FROM b
      |  JOIN med ON b.g = med.g),
      |c2 AS (SELECT g, dv, CAST(count(*) AS BIGINT) c FROM d2
      |  GROUP BY 1, 2),
      |cum2 AS (SELECT g, dv,
      |    sum(c) OVER (PARTITION BY g ORDER BY dv ASC) cum,
      |    sum(c) OVER (PARTITION BY g) n FROM c2),
      |mad AS (SELECT g, CAST(min(CASE WHEN cum >= ceil(0.5*n)
      |    THEN dv END) AS BIGINT) mad FROM cum2 GROUP BY g)
      |SELECT med.g o_orderpriority, med.n_rows,
      |  med.m "median", mad.mad
      |FROM med JOIN mad ON med.g = mad.g ORDER BY 1""".stripMargin

  /** Shared by x172 (batch) and st33 (streaming): one output contract —
    * Fleiss' kappa over the md5-degraded 3-rater panel — so both grade
    * against the identical oracle. */
  /** Shared by x175 (batch) and st34 (streaming): one output contract —
    * byte-weighted length percentiles per lang. Lazy for the same
    * initialization-order reason as [[fleissOracleSql]]. */
  private lazy val weightedPctOracleSql: String =
    """WITH b AS (SELECT lang g, CAST(n_chars AS BIGINT) v,
      |    CAST(n_chars AS BIGINT) w FROM documents
      |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
      |    AND n_chars > 0),
      |c AS (SELECT g, v, CAST(sum(w) AS BIGINT) c FROM b
      |  GROUP BY 1, 2),
      |cum AS (SELECT g, v,
      |    sum(c) OVER (PARTITION BY g ORDER BY v ASC) cum,
      |    sum(c) OVER (PARTITION BY g) n FROM c)
      |SELECT g lang, CAST(max(n) AS BIGINT) total_weight,
      |  CAST(min(CASE WHEN cum >= ceil(0.5*n) THEN v END)
      |    AS BIGINT) p50_w,
      |  CAST(min(CASE WHEN cum >= ceil(0.9*n) THEN v END)
      |    AS BIGINT) p90_w,
      |  CAST(min(CASE WHEN cum >= ceil(0.99*n) THEN v END)
      |    AS BIGINT) p99_w
      |FROM cum GROUP BY g ORDER BY 1""".stripMargin

  // lazy: declared after `val all`, which captures it during its own
  // initialization — a strict val here would be null at capture time
  private lazy val fleissOracleSql: String =
    """WITH items AS (SELECT event_id i, event_type t FROM events
             |  WHERE event_type IS NOT NULL AND event_id % 7 = 0),
             |r AS (SELECT i, 'gold' rater, t cat FROM items
             |  UNION ALL SELECT i, 'r2', CASE WHEN
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      x -> CAST(strpos('0123456789abcdef',
             |        substr(md5('k2:' || CAST(i AS VARCHAR)),
             |          CAST(x AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 < 0.7
             |    THEN t ELSE 'other' END FROM items
             |  UNION ALL SELECT i, 'r3', CASE WHEN
             |    CAST(list_reduce(list_transform(range(1, 9),
             |      x -> CAST(strpos('0123456789abcdef',
             |        substr(md5('k3:' || CAST(i AS VARCHAR)),
             |          CAST(x AS INT), 1)) - 1 AS BIGINT)),
             |      (a, b) -> a*16 + b) AS DOUBLE) / 4294967296.0 < 0.85
             |    THEN t ELSE 'other' END FROM items),
             |cells AS (SELECT i, cat, CAST(count(*) AS BIGINT) n FROM r
             |  GROUP BY 1, 2),
             |pi AS (SELECT i, CAST(sum(n*n) AS BIGINT) s2 FROM cells
             |  GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) nn,
             |    CAST(sum(s2) AS BIGINT) s FROM pi),
             |cj AS (SELECT CAST(coalesce(sum(c2), 0) AS BIGINT) sc2 FROM
             |  (SELECT CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT) c2
             |   FROM cells GROUP BY cat))
             |SELECT nn n_items, CAST(3 AS BIGINT) n_raters,
             |  round(CAST(s - nn*3 AS DOUBLE) /
             |    CAST(nn*3*2 AS DOUBLE), 6) p_bar,
             |  round(CAST(sc2 AS DOUBLE) /
             |    CAST(nn*3*nn*3 AS DOUBLE), 6) p_expected,
             |  CASE WHEN nn*3*nn*3 = sc2 THEN NULL
             |    ELSE round(CAST((s - nn*3)*nn*3 - 2*sc2 AS DOUBLE) /
             |      CAST(2*(nn*3*nn*3 - sc2) AS DOUBLE), 6) END kappa
             |FROM tot, cj""".stripMargin

}
