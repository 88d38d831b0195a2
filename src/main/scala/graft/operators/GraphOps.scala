package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components (DedupOps'
  * hash-to-min / large-small-star family): fixed-iteration PageRank
  * (Brin & Page 1998) as chained DataFrame joins — the canonical
  * "iterate until convergence" shape that also powers label propagation
  * and SimRank-style scoring over entity graphs.
  */
object GraphOps {

  /** Run `body` with spark.sql.shuffle.partitions capped at `cap`,
    * restoring the previous value afterwards. The iterative operators'
    * per-round frames are node/edge-sized (thousands to a few hundred
    * thousand cheap rows), and each round launches 2-4 shuffles — at the
    * session's full width (32 locally, thousands on a cluster) the
    * per-round cost is task scheduling, not data. Capping keeps real
    * multi-way parallelism (unlike AQE advisory-size coalescing, which
    * measured 1.5-2.4× WORSE here by collapsing expensive mid-size
    * exchanges to one task — PERF.md r9) while cutting the task count
    * per round. The cap is the constant 8; a narrower session keeps its
    * own width.
    */
  private[operators] def withCappedShuffle[T](df: DataFrame)(body: => T): T = {
    val spark = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, math.min(prev.toInt, 8).toString)
    try body finally spark.conf.set(key, prev)
  }

  /** r18 (guide §2.3 "narrower types"): dense BIGINT dictionary for node
    * ids, ORDER-ISOMORPHIC to the string ids (rank 1 = smallest id), via
    * the range-partitioned prefix-sum kernel — no single-task window at
    * any node count. Every iterative operator's per-round frames are
    * keyed by node, so running the rounds on 8-byte ranks instead of
    * UTF8Strings halves the bytes each round shuffles/checkpoints and
    * makes hash/compare integer ops. Order isomorphism keeps ordering
    * semantics EXACT where they matter (label propagation breaks ties by
    * the SMALLEST label: min over ranks == min over ids).
    * Input: one `node` column; output: (node, __id).
    */
  private def rankDict(nodes: DataFrame): DataFrame =
    graft.operators.ScaleOps.globalRankAndSum(
        nodes.withColumn("__unit", lit(1L)), "__unit", Seq(col("node").asc))
      .select(col("node"), col("__rank").as("__id"))

  /** Fixed-iteration PageRank with damping `d`:
    * `pr_{k+1}(v) = (1-d)/N + d * Σ_{u→v} pr_k(u)/outdeg(u)`, from the
    * uniform start `pr_0 = 1/N`. Nodes = distinct sources ∪ targets.
    * Dangling nodes (no out-edges) leak their mass — the standard
    * simplification; pass BOTH directions of each edge for undirected
    * graphs and there are no dangling nodes at all.
    *
    * Scale shape: each iteration is one equi-join of the edge frame to
    * the (node-count-sized) rank frame, one grouped fold, and one left
    * join back to nodes — all hash-shuffles on node id that AQE can
    * re-plan (rank/degree frames broadcast when small). The edge frame is
    * materialized ONCE; each iteration's rank frame is checkpointed and
    * the previous one released, so the plan stays shallow at any
    * iteration count. Per-node state is bounded by in-degree.
    *
    * Determinism (cross-engine hash compare): the ENTIRE iteration runs
    * in 10¹²-scaled fixed-point BIGINTs ("picopoints") — rank starts at
    * round(10¹²/N); each edge contributes `pr12(u) div outdeg(u)`
    * (truncating integer division); in-sums are plain integer `sum`s
    * (addition commutes, so no ordering and no per-node array: state per
    * grouping key is O(1), hub-safe at any in-degree, unlike a
    * `collect_list` fold which would materialize one array element per
    * in-edge); damping applies as `(d₆·m) div 10⁶` with d₆ =
    * round(damping·10⁶) — damping is quantized to 6 dp. Not one float
    * operation touches the chain until the single final division
    * pr12/10¹², so the result is bitwise identical on any engine with
    * 64-bit integers. Overflow bound: total mass ≤ 1 keeps every in-sum
    * ≤ 10¹², so d₆·m ≤ 10¹⁸ < 2⁶³.
    *
    * Output: (node, pagerank) — one row per node.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85): DataFrame =
    withCappedShuffle(edges) {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")
    val (e0, releaseE0) = Checkpoints.tracked(edges
      .select(col(srcCol).cast("string").as("__s"),
        col(dstCol).cast("string").as("__t"))
      .distinct())
    // r18: the iteration runs on BIGINT node ranks (see [[rankDict]]) —
    // the edge frame is encoded ONCE; every per-iteration join/aggregate
    // hashes longs; the string ids rejoin once at the end. Ranks are a
    // bijection, so every sum/div/min in the fixed-point chain sees the
    // same groups and the result is bit-identical (oracle-verified).
    val (dict, releaseDict) = Checkpoints.tracked(rankDict(
      e0.select(col("__s").as("node"))
        .union(e0.select(col("__t").as("node"))).distinct()))
    val (e, releaseE) = Checkpoints.tracked(e0
      .join(dict.select(col("node").as("__s"), col("__id").as("__si")), "__s")
      .join(dict.select(col("node").as("__t"), col("__id").as("__ti")), "__t")
      .select(col("__si").as("__s"), col("__ti").as("__t")))
    releaseE0()
    val nodes = dict.select(col("__id").as("node"))
    val n = dict.count()
    // r19 (guide §2.4 remove shuffles): the out-degree rides the pinned
    // edge frame (+8 B/row) instead of joining in as a separate
    // node-keyed exchange EVERY round — degrees are per-edge constants,
    // so per-round work drops to one join, one fold, one apply
    val deg = e.groupBy(col("__s").as("node")).agg(count(lit(1)).as("__deg"))
    val (ed, releaseEd) = Checkpoints.tracked(e
      .join(deg.select(col("node").as("__s"), col("__deg")), "__s"))
    releaseE()
    val base12 = math.round((1.0 - damping) / n * 1e12)
    val d6 = math.round(damping * 1e6)
    var pr = nodes.withColumn("__pr12", lit(math.round(1e12 / n)))
    var releasePrev: () => Unit = () => ()
    for (_ <- 1 to iterations) {
      val sums = ed
        .join(pr.select(col("node").as("__s"), col("__pr12")), "__s")
        .select(col("__t"),
          expr("__pr12 div __deg").as("__ci"))
        .groupBy(col("__t"))
        .agg(sum(col("__ci")).as("__m12"))
      val (next, releaseNext) = Checkpoints.tracked(nodes
        .join(sums.withColumnRenamed("__t", "node"), Seq("node"), "left")
        .select(col("node"),
          expr(s"(${d6}L * coalesce(__m12, 0L)) div 1000000L + ${base12}L")
            .as("__pr12")))
      releasePrev() // next is already materialized (tracked is eager)
      pr = next
      releasePrev = releaseNext
    }
    val out = pr.select(col("node").as("__id"), col("__pr12"))
      .join(dict, Seq("__id"))
      .select(col("node"),
        (col("__pr12").cast("double") / lit(1e12)).as("pagerank"))
      .localCheckpoint(true)
    releasePrev()
    releaseDict()
    releaseEd()
    out
    }

  /** Per-node triangle counts over an undirected graph (Cohen's
    * MapReduce triangle enumeration with degree-ordered orientation,
    * a.k.a. node-iterator++): orient every edge from its lower-(degree,
    * id) endpoint to the higher one, build wedges by self-joining the
    * oriented edges on their source, and close each wedge with one
    * equi-join back onto the oriented edge set. Each triangle is
    * enumerated exactly once (its lowest-rank vertex owns it), then
    * exploded to its three corners for the per-node count.
    *
    * WHY the degree ordering matters at scale: out-degree under this
    * orientation is bounded by O(√m), so the wedge self-join — the only
    * super-linear step — generates at most O(m^1.5) rows even on
    * power-law graphs where a naive id-ordering would square the hub
    * degrees. All three joins are hash-shuffles on node/endpoint keys
    * (AQE re-plans / broadcasts the node-sized degree frame when small);
    * no step holds more than one adjacency in memory.
    *
    * Input edges may be directed, duplicated, or self-looped — the
    * operator canonicalizes (self-loops dropped, (a,b)=(b,a), distinct).
    * Output: (node, n_tri) for every node in ≥1 triangle — integer
    * counts only, so the result hash-matches any engine.
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val canon = edges
      .select(col(srcCol).cast("string").as("__a"),
        col(dstCol).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"))
      .distinct()
    val (e, releaseE) = Checkpoints.tracked(canon)
    val deg = e.select(col("__u").as("node"))
      .union(e.select(col("__v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    // r18 (guide §2.3 "narrower types" / "shuffle keys instead of
    // payloads"): the wedge frame — the O(m^1.5) giant every byte of
    // which crosses the closing join's exchange — used to carry THREE
    // STRING node ids plus a degree tiebreak column. Nodes are now
    // dictionary-encoded once into their dense (degree, id) RANK (the
    // range-partitioned prefix-sum kernel — no single-task window at any
    // node count), and the whole wedge/close pipeline runs on BIGINT
    // ranks: a wedge row shrinks ~80 B → 32 B, the rank IS the
    // orientation order (one integer compare replaces the two-column
    // lexicographic tiebreak), and join hashing/sorting work on longs
    // instead of UTF8Strings. The triangle SET is invariant under any
    // strict total order (each triangle is owned by its lowest-rank
    // corner), so per-node counts are bit-identical; the rank→node map
    // is node-sized and joins back once at the end. (A bloom prefilter
    // on the wedge frame was measured instead and REJECTED: the 4 MB+
    // filter literal's random probes are DRAM-latency-bound per row and
    // cost more than the exchange they save — OPTIMIZATION_r18.md.)
    val ranked = graft.operators.ScaleOps.globalRankAndSum(deg, "__d",
        Seq(col("__d").asc, col("node").asc))
      .select(col("node"), col("__rank").as("__r"))
    val (dict, releaseDict) = Checkpoints.tracked(ranked)
    // Orient low-rank → high-rank: strict total order (rank is unique),
    // so exactly one direction survives per edge.
    val withR = e
      .join(dict.select(col("node").as("__u"), col("__r").as("__ru")), "__u")
      .join(dict.select(col("node").as("__v"), col("__r").as("__rv")), "__v")
    val oriented = withR.select(
      when(col("__ru") < col("__rv"),
        struct(col("__ru").as("s"), col("__rv").as("t")))
        .otherwise(struct(col("__rv").as("s"), col("__ru").as("t")))
        .as("__e"))
      .select(col("__e.s").as("__s"), col("__e.t").as("__t"))
    val (o, releaseO) = Checkpoints.tracked(oriented)
    // Wedges (x, y) centered at s with rank(x) < rank(y): the closing
    // edge, if present, is oriented x → y (orientation always points up
    // the rank order), so one equi-join on BOTH endpoints closes it.
    val wedges = o.select(col("__s"), col("__t").as("__x"))
      .join(o.select(col("__s"), col("__t").as("__y")), "__s")
      .filter(col("__x") < col("__y"))
    val tri = wedges
      .join(o.select(col("__s").as("__x"), col("__t").as("__y")),
        Seq("__x", "__y"))
      .select(col("__s"), col("__x"), col("__y"))
    val counts = tri
      .select(explode(array(col("__s"), col("__x"), col("__y"))).as("__r"))
      .groupBy(col("__r")).agg(count(lit(1)).as("n_tri"))
    val out = counts
      .join(dict, Seq("__r"))
      .select(col("node"), col("n_tri"))
      .localCheckpoint(true)
    releaseO()
    releaseDict()
    releaseE()
    out
  }

  /** k-core peeling (Seidman 1983), FIXED-ROUND: repeatedly drop nodes
    * of degree < k and the edges touching them; after `rounds` rounds,
    * emit surviving nodes with their residual degree — the dense-
    * substructure extractor behind spam-ring and community-core
    * detection. A fixed round count (vs run-to-fixpoint) keeps the
    * operator replayable by any engine: the oracle replays the SAME
    * rounds, and on graphs whose peeling converges earlier the extra
    * rounds are no-ops.
    *
    * Scale shape per round (r19, verdict #7): the BIGINT-rank-encoded
    * edge frame (see [[rankDict]], r18) is checkpointed and pinned
    * ONCE; each round derives the next ALIVE node set — nodes with
    * residual degree ≥ k among edges whose both endpoints are still
    * alive — and checkpoints only that NODE-sized frame, filtering
    * the pinned edges lazily. Equivalent by induction to peeling a
    * materialized edge frame: alive₁ = keep₁ (degrees over all
    * edges), and aliveᵢ₊₁ is computed over e₀ ⋉ aliveᵢ (both
    * endpoints), which IS the round-i edge frame the materializing
    * variant holds — the alive sets shrink monotonically (a dropped
    * node has no edges in the filtered frame, hence no degree row),
    * so both variants peel the same nodes each round and the final
    * degrees are bit-identical (hash-verified at sf0.1,
    * plans/r19/altab). Per-round cost drops from an edge-sized
    * checkpoint plus two edge-frame shuffles to a node-sized
    * checkpoint, with the alive frame broadcastable under AQE.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = withCappedShuffle(edges) {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1 (got $k, $rounds)")
    val (init, releaseInit) = Checkpoints.tracked(edges
      .select(col(srcCol).cast("string").as("__a"),
        col(dstCol).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"))
      .distinct())
    val (dict, releaseDict) = Checkpoints.tracked(rankDict(
      init.select(col("__u").as("node"))
        .union(init.select(col("__v").as("node"))).distinct()))
    val enc = init
      .join(dict.select(col("node").as("__u"), col("__id").as("__ui")), "__u")
      .join(dict.select(col("node").as("__v"), col("__id").as("__vi")), "__v")
      .select(col("__ui").as("__u"), col("__vi").as("__v"))
    val (e, releaseE) = Checkpoints.tracked(
      enc.select(col("__u").as("__s"), col("__v").as("__t"))
        .union(enc.select(col("__v").as("__s"), col("__u").as("__t"))))
    releaseInit()
    var alive: DataFrame = null // null ⇒ every node alive (round 1)
    var releaseAlive: () => Unit = () => ()
    def filtered: DataFrame =
      if (alive == null) e
      else e
        .join(alive.select(col("__k").as("__s")), Seq("__s"), "left_semi")
        .join(alive.select(col("__k").as("__t")), Seq("__t"), "left_semi")
    for (_ <- 1 to rounds) {
      val keep = filtered.groupBy(col("__s")).agg(count(lit(1)).as("__dg"))
        .filter(col("__dg") >= k).select(col("__s").as("__k"))
      val (next, releaseNext) = Checkpoints.tracked(keep)
      releaseAlive()
      alive = next
      releaseAlive = releaseNext
    }
    val out = filtered.groupBy(col("__s").as("__id"))
      .agg(count(lit(1)).as("degree"))
      .join(dict, Seq("__id"))
      .select(col("node"), col("degree"))
      .localCheckpoint(true)
    releaseAlive()
    releaseE()
    releaseDict()
    out
  }

  /** Synchronous label propagation (Raghavan et al. 2007, made
    * DETERMINISTIC): every node starts labeled with its own id; each
    * iteration relabels every node with the label most frequent among its
    * in-neighbors, ties broken by the SMALLEST label — a total order, so
    * unlike the classic randomized sweep the result is bitwise
    * reproducible. Pass both directions of each edge for undirected
    * community detection; after `iterations` rounds, nodes sharing a
    * label are one community.
    *
    * Scale shape per iteration: one equi-join of the edge frame to the
    * node-sized label frame, two map-side-combinable aggregates
    * ((node,label) counts → per-node max), one filter-join to apply the
    * tiebreak, and a left join back onto the node set (isolated /
    * in-edge-less nodes keep their label). Label frames checkpoint-and-
    * release per iteration so the plan stays shallow (pageRank pattern).
    * Per-node state is bounded by in-degree; no step is super-linear.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int): DataFrame =
    withCappedShuffle(edges) {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")
    val (e0, releaseE0) = Checkpoints.tracked(edges
      .select(col(srcCol).cast("string").as("__s"),
        col(dstCol).cast("string").as("__t"))
      .filter(col("__s").isNotNull && col("__t").isNotNull)
      .distinct())
    // r18: iterate on BIGINT node ranks (see [[rankDict]]). The rank
    // dictionary is ORDER-ISOMORPHIC to the string ids, so the
    // smallest-label tiebreak (min over labels) picks the SAME winner on
    // ranks as on ids, and the per-iteration (node, label) count frame —
    // the big one — shuffles two longs instead of two strings. Node and
    // community ids rejoin once at the end.
    val (dict, releaseDict) = Checkpoints.tracked(rankDict(
      e0.select(col("__s").as("node"))
        .union(e0.select(col("__t").as("node"))).distinct()))
    val (e, releaseE) = Checkpoints.tracked(e0
      .join(dict.select(col("node").as("__s"), col("__id").as("__si")), "__s")
      .join(dict.select(col("node").as("__t"), col("__id").as("__ti")), "__t")
      .select(col("__si").as("__s"), col("__ti").as("__t")))
    releaseE0()
    val nodes = dict.select(col("__id").as("node"))
    var lbl = nodes.withColumn("__l", col("node"))
    var releasePrev: () => Unit = () => ()
    for (_ <- 1 to iterations) {
      val cnts = e
        .join(lbl.select(col("node").as("__s"), col("__l")), "__s")
        .groupBy(col("__t"), col("__l"))
        .agg(count(lit(1)).as("__c"))
      // r19 (guide §2.4): winner selection in ONE aggregate — structs
      // order lexicographically, so max(struct(count, -label)) is
      // "highest count, ties to the SMALLEST label" exactly like the
      // old max-count aggregate + filter-join + min-label aggregate
      // (ranks are positive BIGINTs, negation cannot overflow); two
      // exchanges and a join disappear from every round
      val winner = cnts.groupBy(col("__t"))
        .agg(max(struct(col("__c"), (-col("__l")).as("__nl"))).as("__m"))
        .select(col("__t"), (-col("__m").getField("__nl")).as("__w"))
      val (next, releaseNext) = Checkpoints.tracked(lbl
        .join(winner.withColumnRenamed("__t", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("__w"), col("__l")).as("__l")))
      releasePrev()
      lbl = next
      releasePrev = releaseNext
    }
    val out = lbl
      .join(dict.select(col("__id").as("node"), col("node").as("__n")),
        Seq("node"))
      .join(dict.select(col("__id").as("__l"), col("node").as("__c")),
        Seq("__l"))
      .select(col("__n").as("node"), col("__c").as("community"))
      .localCheckpoint(true)
    releasePrev()
    releaseDict()
    releaseE()
    out
  }

  /** Degree assortativity coefficient (Newman 2002): the Pearson
    * correlation of endpoint degrees over the directed edge list (each
    * undirected edge counted in both orientations — the standard
    * convention, making the measure symmetric). r > 0 means hubs attach
    * to hubs (social-graph shape); r < 0 means hubs attach to leaves
    * (bipartite/star shape, typical of customer↔supplier trade graphs).
    * The one-number structure screen run before committing to a graph
    * algorithm whose cost model assumes one shape or the other.
    *
    * Exact BIGINT sufficient statistics (degrees are integers, so all
    * five OLS sums are exact — the x83/x120 Pearson pattern): one degree
    * census, one broadcast-back join, one single-row reduce. The only
    * doubles are the two separately-rooted variance factors and the final
    * rounded division.
    */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val canon = edges
      .select(col(srcCol).cast("string").as("__a"),
        col(dstCol).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"))
      .distinct()
    val both = canon.union(canon.select(col("__v").as("__u"),
      col("__u").as("__v")))
    val deg = both.groupBy(col("__u").as("node"))
      .agg(count(lit(1)).as("__d"))
    both
      .join(deg.select(col("node").as("__u"), col("__d").as("__x")), "__u")
      .join(deg.select(col("node").as("__v"), col("__d").as("__y")), "__v")
      .agg(count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
      .select(col("__n").as("n_directed_edges"),
        round(
          (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double") /
            (sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx"))
              .cast("double")) *
             sqrt((col("__n") * col("__syy") - col("__sy") * col("__sy"))
               .cast("double"))), 4).as("assortativity"))
  }
}
