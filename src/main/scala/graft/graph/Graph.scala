package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph algorithms as pure DataFrame self-joins (SURVEY §2.4 J1–J4,
  * chapter_06 convention: vertices carry `id`, edges carry `src, dst`).
  * "Many graph operations are just DataFrame joins and aggregations"
  * (graph_basics.py:12) — no graph library dependency.
  *
  * Scale: degrees are one aggregation (O(E)); 2-hop and triangles shuffle
  * on join keys — at 100 TB you pre-`repartition(edges, "src")` once and
  * reuse the exchange across the chained self-joins, and you bound
  * supernodes (degree cap) before the quadratic joins.
  */
object Graph {

  /** Vertex set from the edge list: union of endpoints (§2.7 set-op). */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()

  /** In/out/total degree per vertex: two aggregations + full outer join +
    * fillna(0) (graph_basics.py:41-62). */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))
    val in  = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("id"), "full_outer")
      .na.fill(0, Seq("out_degree", "in_degree"))
      .withColumn("total_degree", col("out_degree") + col("in_degree"))
  }

  /** Single-pass degrees: explode each edge into (src, out) + (dst, in)
    * contributions, one aggregation — no self-duplicated edge subplan, no
    * outer join. Identical results to [[degrees]] (GraphSpec asserts it);
    * at scale this halves the edge scans and removes 3 of 5 exchanges. */
  def degreesFast(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src").as("id"), lit(1L).as("out"), lit(0L).as("in")),
        struct(col("dst").as("id"), lit(0L).as("out"), lit(1L).as("in")))).as("c"))
      .groupBy(col("c.id").as("id"))
      .agg(sum(col("c.out")).as("out_degree"), sum(col("c.in")).as("in_degree"))
      .withColumn("total_degree", col("out_degree") + col("in_degree"))

  /** Bidirectional (reciprocal) edges: composite-key self-join, deduped by
    * lexicographic `src < dst` (J2, graph_basics.py:70-88). */
  def bidirectional(edges: DataFrame): DataFrame =
    edges.as("e1").join(edges.as("e2"),
        col("e1.src") === col("e2.dst") && col("e1.dst") === col("e2.src"))
      .filter(col("e1.src") < col("e1.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"))
      .distinct()

  /** 2-hop paths (friends-of-friends / connecting flights): e1.dst=e2.src,
    * excluding trivial round-trips (J1, graph_basics.py:91-107). */
  def twoHop(edges: DataFrame): DataFrame =
    edges.as("e1").join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .filter(col("e1.src") =!= col("e2.dst"))
      .select(col("e1.src").as("start"), col("e1.dst").as("via"),
              col("e2.dst").as("end"))
      .distinct()

  /** Triangles: triple self-join closed back to the start, oriented
    * `a < b < c` so each triangle is counted once (J3, graph_basics.py:
    * 110-132). Undirected triangles over the symmetrized edge set. */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    und.as("e1").join(und.as("e2"), col("e1.dst") === col("e2.src"))
      .join(und.as("e3"),
        col("e2.dst") === col("e3.src") && col("e3.dst") === col("e1.src"))
      .filter(col("e1.src") < col("e1.dst") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .distinct()
  }

  /** Supernode guard: drop every edge incident to a vertex whose total
    * degree exceeds `maxDegree`, BEFORE any quadratic self-join. The hot
    * list is tiny by construction (supernodes are the tail), so both
    * anti-joins broadcast — the guard costs one degree aggregation plus
    * two map-side filters, and bounds the per-key work of any downstream
    * join expansion by maxDegree². */
  def capDegrees(edges: DataFrame, maxDegree: Long): DataFrame = {
    val hot = degreesFast(edges)
      .filter(col("total_degree") > maxDegree)
      .select(col("id"))
    edges
      .join(broadcast(hot), col("src") === col("id"), "left_anti")
      .join(broadcast(hot), col("dst") === col("id"), "left_anti")
  }

  /** [[triangles]] with the supernode guard applied first: every returned
    * triangle is a triangle of the full graph whose corners all have
    * degree ≤ maxDegree (a subset — GraphSpec property-checks it). */
  def trianglesCapped(edges: DataFrame, maxDegree: Long): DataFrame =
    triangles(capDegrees(edges, maxDegree))

  /** The degree-oriented edge frame (s, t, td): each undirected edge
    * directed from its lower (degree, id) endpoint to the higher, with
    * t's degree carried so wedge generation can order out-neighbors by
    * π without another join. Shared by [[trianglesOriented]] and the
    * disk-bounded K-pass census (BENCHMARKS.md "Oriented oracle port"). */
  def orientedEdges(edges: DataFrame): DataFrame =
    orientedFromCanonical(canonicalUndirected(edges))

  /** [[orientedEdges]] for an input that is ALREADY the canonical
    * undirected edge set (src < dst, deduped, no self-loops) — the
    * triangle-family entry points all start from such a frame
    * (coOrderEdges, the sparsifier's keep-filter output), and the
    * general form's re-canonicalization was a full extra |E| exchange +
    * hash aggregate spent proving `distinct` of a distinct set (the
    * optimizer cannot know least/greatest of ordered pairs is the
    * identity). */
  private def orientedFromCanonical(canon: DataFrame,
                                    hintMerge: Boolean = false): DataFrame = {
    val und = canon.select(col("src").as("u"), col("dst").as("v"))
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // hintMerge: above the broadcast gate (Tuning.TriangleBroadcastMaxEdges)
    // the degree table is O(V) — hint sort-merge so a small plan-time
    // ESTIMATE can't broadcast a side that is huge at scale
    def h(df: DataFrame) = if (hintMerge) df.hint("merge") else df
    val lower = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    und
      .join(h(deg.select(col("id").as("u"), col("d").as("du"))), "u")
      .join(h(deg.select(col("id").as("v"), col("d").as("dv"))), "v")
      .select(
        when(lower, col("u")).otherwise(col("v")).as("s"),
        when(lower, col("v")).otherwise(col("u")).as("t"),
        when(lower, col("dv")).otherwise(col("du")).as("td"))
  }

  /** Disk-bounded exact census: the triangle set is PARTITIONED by a
    * hash bucket of the closing edge (x, y), and each of the `passes`
    * rounds broadcasts only bucket-k closing edges and streams the wedge
    * stream MAP-SIDE against them — no wedge shuffle, no external sort,
    * so peak spill is O(|E|/passes) instead of O(wedges). Each triangle
    * has exactly one closing edge, so the bucket censuses sum to the
    * exact census (GraphSpec pins equality with [[trianglesOriented]]).
    * The compute trade: wedge GENERATION re-runs per pass (K× a join of
    * |E|-row inputs — cheap next to the wedge stream it feeds).
    *
    * This is the single-node validation shape for graphs whose wedge
    * shuffle exceeds local disk (the sf10 census needs ~90 GB of spill
    * through the shuffled plan — r9 measured it into ENOSPC three rigs
    * in a row); ON A CLUSTER the registered q123 plan (shuffled SMJ) is
    * right — aggregate shuffle capacity scales with executors, and one
    * pass beats K. Vertex ids must be numeric (the corner sum is an
    * arithmetic checksum — q123's partkeys are). Returns
    * (n_triangles, corner_sum). */
  def trianglesCensusBucketed(edges: DataFrame, passes: Int): (Long, Long) = {
    require(passes > 0, "trianglesCensusBucketed: passes must be positive")
    // K passes reference the oriented frame 3K times; its derivation
    // (canonicalize + distinct + two degree joins over the raw edge
    // build) is minutes at sf10, so persist it to LOCAL DISK once —
    // O(|E|) bytes, the one thing this rig is allowed to spill
    val oriented = orientedEdges(edges)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    var n = 0L
    var cs = 0L
    try for (k <- 0 until passes) {
      val closing = oriented
        .filter(pmod(xxhash64(col("s"), col("t")), lit(passes)) === k)
        .select(col("s").as("cx"), col("t").as("cy"))
      val row = oriented.as("e1").join(oriented.as("e2"),
          col("e1.s") === col("e2.s") &&
          struct(col("e1.td"), col("e1.t")) < struct(col("e2.td"), col("e2.t")))
        .select(col("e1.s").as("ctr"), col("e1.t").as("x"), col("e2.t").as("y"))
        .join(broadcast(closing),
          col("x") === col("cx") && col("y") === col("cy"))
        .agg(count(lit(1)).as("n"),
          sum(col("ctr") + col("x") + col("y")).cast("long").as("cs"))
        .collect().head
      n += row.getLong(0)
      cs += (if (row.isNullAt(1)) 0L else row.getLong(1))
    } finally { oriented.unpersist(); () }
    (n, cs)
  }

  /** EXACT triangles at supernode scale: orientation by degree (Suri &
    * Vassilvitskii, "Counting Triangles and the Curse of the Last
    * Reducer", WWW 2011). Each undirected edge is directed from its
    * lower (degree, id) endpoint to the higher ([[orientedEdges]]); under
    * that total order every triangle has a UNIQUE minimum vertex whose
    * two out-edges form its wedge, and the closing edge always runs
    * low→high — so one wedge self-join plus ONE equi-join enumerates each
    * triangle exactly once. The scale property [[triangles]] lacks:
    * out-degree under degree orientation is O(√E) for EVERY vertex — a
    * degree-d hub has huge in-degree but tiny out-degree (its edges
    * orient toward it), so no join key fans out by d. [[trianglesCapped]]
    * buys the same bound by DROPPING supernodes; this plan has it by
    * construction, losslessly — GraphSpec pins set-equality with
    * [[triangles]]. Same output contract: one row per triangle, corners
    * sorted a<b<c.
    *
    * `observeAs` (optional): attach a zero-extra-pass `observe` counter
    * named `observeAs` with field `wedges` to the wedge stream — Σ
    * out-deg² is THE cost of this plan (SCALING.md), so a bench artifact
    * carrying it can tell a volume change from scheduler noise. Names
    * must be unique per plan; callers composing two censuses in one
    * query (q124) pass distinct names or null. */
  def trianglesOriented(edges: DataFrame, observeAs: String = null): DataFrame =
    trianglesOrientedCanonical(canonicalUndirected(edges), observeAs,
      materialize = true)

  /** The census body over an already-canonical edge set. The r14 shape
    * (OPTIMIZATION_r14.md; supersedes the r13 SMJ + filter form):
    *
    * 1. The canonical frame is `localCheckpoint`ed (q130's established
    *    idiom): the edge BUILD — often itself a join, e.g. the co-order
    *    graph's lineitem self-join — is materialized once and read by
    *    the degree aggregation, the adjacency build, the closing side,
    *    and the Bloom build, instead of riding as three copies of a
    *    70-operator subtree that only runtime exchange reuse deduplicates.
    *    `materialize = false` skips it when the caller already
    *    checkpointed upstream (the sampled paths) — a second
    *    checkpoint of a cheap filter would buy nothing, and the sampled
    *    path's `observe` counter must not be swallowed by a checkpoint
    *    boundary (observed metrics are harvested from the FINAL query's
    *    plan; a checkpoint would truncate the CollectMetrics node out).
    *    CONTRACT (materialize = false): the Bloom sketch is built in a
    *    separate Spark action from the census over the SAME `canon0`
    *    plan, so `canon0` must be deterministic across recomputations
    *    (every current caller checkpoints upstream or derives the frame
    *    from a pure md5 coin over deterministic builds) — a
    *    `sample()`-based or changing-source frame would silently drop
    *    triangles (no-false-negatives needs build ⊇ probe universe).
    *
    * 2. Wedges are enumerated from per-vertex SORTED ADJACENCY ARRAYS
    *    with the Bloom probe INSIDE the pair loop (optimization guide
    *    §2.3/§3.2; r14). The r13 shape enumerated Σ out-deg² wedge pairs
    *    through an SMJ self-join — each pair a generated join row — and
    *    bloom-filtered them afterwards; measured at sf0.1 that stage
    *    burned 59 s CPU for 41.1M wedges of which ~0.3% close
    *    (130,509 triangles / 41,087,491 wedges). Now one groupBy builds
    *    (s → out-neighbors sorted by orientation rank (td, t)), and the
    *    codegen'd [[graft.functions.BloomedWedgePairs]] loops i<j over
    *    the primitive array, probing the sketch per pair — a dead wedge
    *    costs two array reads + one xxhash64 + one Bloom probe, never a
    *    row. The probe key re-canonicalizes to id order
    *    (least/greatest), exactly the old filter's key, against the
    *    same sketch of xxhash64(src, dst) over canonical edges: no
    *    false negatives, false positives are verified away by the
    *    unchanged closing equi-join, so the triangle set is identical
    *    (GraphSpec pins set-equality with the naive census). Out-degree
    *    under degree orientation is O(√E), so the per-vertex array is
    *    bounded by the same bound that kept the SMJ's per-key buffer
    *    safe. The sketch rides a BROADCAST (once per executor), not a
    *    plan literal (once per task binary) — see
    *    [[graft.Tuning.TriangleBloomMaxBits]] for the raised cap.
    *
    * 3. The `wedges` observe counter is Σ d·(d−1)/2 over the adjacency
    *    frame — the same number the r13 counter measured by counting
    *    wedge rows (strict (td,t) pairs of distinct out-edges =
    *    C(out-deg, 2) per center), kept as a sum so artifact volumes
    *    stay comparable across rounds with zero extra passes. */
  private[graft] def trianglesOrientedCanonical(
      canon0: DataFrame, observeAs: String,
      materialize: Boolean): DataFrame = {
    val canon = if (materialize) canon0.localCheckpoint(true) else canon0
    val nEdges = canon.count()
    // Bloom sizing: optimal bits for 1% fpp, capped (the cap trades fpp
    // up — more surviving wedges — never correctness). Broadcast
    // transport since r14: the handle is plan-sized, the bytes ship once
    // per executor.
    val bfBc = if (nEdges == 0L) null else {
      val bits = math.min(
        org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nEdges, 0.01),
        graft.Tuning.TriangleBloomMaxBits)
      graft.functions.exprs.bloomSketchBroadcast(canon,
        xxhash64(col("src"), col("dst")), nEdges, bits)
    }
    // Join strategy, decided from the MEASURED edge count (guide §3.1):
    // at or under the broadcast gate the planner may broadcast census
    // sides (q130's budget-bounded sample lives here at ANY corpus
    // size); above it every census join is hinted sort-merge — the
    // degree table and the closing edge side are O(V)/O(E), and the
    // r14 edge build's small plan-time estimates would otherwise
    // broadcast them (measured: two ~1 s single-threaded relation
    // builds locally; an OOM at real scale).
    val hintMerge = nEdges > graft.Tuning.TriangleBroadcastMaxEdges
    val oriented = orientedFromCanonical(canon, hintMerge)
    val adj0 = oriented.groupBy(col("s"))
      .agg(transform(
        sort_array(collect_list(struct(col("td"), col("t")))),
        p => p.getField("t")).as("nbrs"))
    val adj = if (observeAs == null) adj0
      else adj0.observe(observeAs, coalesce(sum(
          expr("cast(size(nbrs) as bigint) * (size(nbrs) - 1) div 2")),
        lit(0L)).as("wedges"))
    val closing = if (hintMerge) oriented.hint("merge") else oriented
    adj
      .select(col("s").as("ctr"),
        explode(graft.functions.exprs.bloomedWedgePairs(col("nbrs"), bfBc)).as("p"))
      .select(col("ctr"), col("p.x").as("x"), col("p.y").as("y"))
      .join(closing.as("e3"),
        col("x") === col("e3.s") && col("y") === col("e3.t"))
      .select(array_sort(array(col("ctr"), col("x"), col("y"))).as("tri"))
      .select(element_at(col("tri"), 1).as("a"),
              element_at(col("tri"), 2).as("b"),
              element_at(col("tri"), 3).as("c"))
  }

  /** Deterministic DOULION sparsifier (Tsourakakis, Kang, Miller,
    * Faloutsos — "DOULION: Counting Triangles in Massive Graphs with a
    * Coin", KDD 2009): canonicalize to undirected u<v edges, then keep
    * each edge iff its content-hash bucket falls under keepNum/keepDen.
    * The "coin" is the ops.Splits portable md5 bucket, NOT a random
    * number: the sample is a pure function of the edge set, so the
    * estimate is reproducible across runs, engines (the q124 oracle
    * recomputes the identical sample in DuckDB SQL), partitionings, and
    * retries — the ops.Splits reproducibility contract applied to graph
    * sampling. Map-only over the canonical edge set. */
  def sparsifyUndirected(edges: DataFrame, keepNum: Int, keepDen: Int): DataFrame = {
    require(keepNum > 0 && keepDen >= keepNum,
      s"sparsifyUndirected: keep fraction must be in (0, 1], got $keepNum/$keepDen")
    keepFilter(canonicalUndirected(edges), keepNum, keepDen)
  }

  /** The canonical undirected edge set (u<v, deduped, self-loops out) —
    * the shared first step of the sparsifier and the budget probe. */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("src"),
              greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** The DOULION coin as a COLUMN over a canonical (u < v) edge: true
    * iff the edge survives keepNum/keepDen sparsification. Public so a
    * composed census (q124's fused exact+sampled pass) can evaluate
    * membership of a triangle's three edges directly from its sorted
    * corners — the sample is a pure function of the edge, so "edge of
    * the sparsified graph" needs no join with the sparsified frame. */
  def keptCoin(u: Column, v: Column, keepNum: Int, keepDen: Int): Column =
    conv(substring(md5(concat_ws("|", u, v)), 1, 8), 16, 10)
      .cast("long") % keepDen < keepNum

  private def keepFilter(canon: DataFrame, keepNum: Int,
                         keepDen: Int): DataFrame =
    canon.filter(keptCoin(col("src"), col("dst"), keepNum, keepDen))

  /** DOULION triangle-count estimate: census the sparsified graph with
    * the same exact oriented plan ([[trianglesOriented]]), scale the
    * count by (keepDen/keepNum)³ in exact integer arithmetic. Keeping
    * each edge w.p. p keeps a triangle w.p. p³ (unbiased after 1/p³
    * scaling); the WORK shrinks faster than the estimate degrades — the
    * wedge stream (the measured cost of the dense census, SCALING.md) is
    * Σ out-deg², which contracts ~p², and the closing-edge join input by
    * p. Variance ≈ T·(1/p³ − 1) + correlated-wedge terms (Tsourakakis et
    * al. §4), so the RELATIVE error falls as 1/√T: the bigger the graph,
    * the tighter the same p — exactly the regime where the exact census
    * is a batch job. Returns one row: (n_sampled, est). */
  def trianglesSampled(edges: DataFrame, keepNum: Int, keepDen: Int,
                       observeAs: String = null): DataFrame =
    // localCheckpoint mirrors trianglesSampledBudget (r13 advisor find):
    // without it the canonicalize subtree re-ran for the nEdges count,
    // the Bloom build AND the census — and the census's no-false-negative
    // guarantee silently leaned on canon being deterministic across
    // those recomputations. The observe sits downstream of the keep
    // filter, so the counter is unaffected.
    sampledCensusCanonical(canonicalUndirected(edges).localCheckpoint(true),
      keepNum, keepDen, observeAs)

  private def sampledCensusCanonical(canon: DataFrame, keepNum: Int,
                                     keepDen: Int,
                                     observeAs: String): DataFrame = {
    require(keepNum > 0 && keepDen >= keepNum,
      s"trianglesSampled: keep fraction must be in (0, 1], got $keepNum/$keepDen")
    val num3 = keepNum.toLong * keepNum * keepNum
    val den3 = keepDen.toLong * keepDen * keepDen
    // round-half-up integer scaling: floor division biased the estimate
    // DOWN by up to (num3-1)/num3 triangles whenever num3 ∤ n·den3 (any
    // keepNum > 1 — e.g. keep 2/3 scales by 27/8); adding num3/2 before
    // the divide keeps the arithmetic exact-integer (engine-portable)
    // and the estimator unbiased after 1/p³ scaling
    val spars0 = keepFilter(canon, keepNum, keepDen)
    // `observeAs`: counters for the two volumes the DOULION claim rides
    // on — the kept-edge count (contracts ~p) and the sampled wedge
    // stream (contracts ~p²); zero extra passes, see trianglesOriented
    val spars = if (observeAs == null) spars0
      else spars0.observe(observeAs, count(lit(1)).as("sampled_edges"))
    // the keep-filter output of a canonical set is still canonical —
    // no re-canonicalization distinct; materialize=false because q130's
    // budget path already checkpointed `canon` upstream (the filter is
    // cheap to re-run) and a checkpoint here would swallow the
    // sampled_edges observe node out of the final plan
    trianglesOrientedCanonical(spars,
        if (observeAs == null) null else observeAs + "_w",
        materialize = false)
      .agg(count(lit(1)).as("n_sampled"))
      .select(col("n_sampled"),
        expr(s"(n_sampled * $den3 + ${num3 / 2}) div $num3").as("est"))
  }

  /** Budget-adaptive DOULION keep fraction: the integer fraction of
    * `keepDen` that makes the expected sampled-edge count hit
    * `targetEdges` (round-half-up, engine-portable), clamped to
    * [minKeepNum, keepDen]. The two clamps ARE the design: a small graph
    * (target ≥ |E|) keeps everything — the "estimate" is the exact count
    * and no work was wasted sampling what already fits the budget —
    * while a huge graph never drops below the CONCENTRATION floor
    * p = minKeepNum/keepDen: DOULION's relative std is ≈ √((1/p³)/T)
    * (Tsourakakis et al. §4), so at the default floor p = 1/16 a graph
    * big enough to be clamped (T ~ 10⁸ at sf10's edge count) still
    * estimates within ~0.5% — accuracy outranks the budget when they
    * conflict, and the output carries keep_num so the caller sees which
    * regime it got. */
  def adaptiveKeepFraction(nEdges: Long, targetEdges: Long,
                           keepDen: Int = 1024, minKeepNum: Int = 64): Int = {
    require(nEdges > 0, "adaptiveKeepFraction: empty edge set")
    require(targetEdges > 0, "adaptiveKeepFraction: target must be positive")
    require(minKeepNum >= 1 && minKeepNum <= keepDen,
      s"adaptiveKeepFraction: floor $minKeepNum outside [1, $keepDen]")
    val raw = (keepDen.toLong * targetEdges + nEdges / 2) / nEdges
    math.max(minKeepNum.toLong, math.min(keepDen.toLong, raw)).toInt
  }

  /** DOULION with the keep fraction chosen FROM the graph: one cheap
    * edge-count aggregate picks p ≈ targetEdges/|E| via
    * [[adaptiveKeepFraction]], then the usual sampled census runs at
    * that fraction — the production dial a fixed p lacks (a fixed 1/2
    * wastes the budget on small graphs and blows past it on big ones;
    * q124's scaladoc points here). The canonical edge set is persisted
    * across the two passes (the count probe and the census read the
    * same frame — the edge BUILD, often a join like the co-order graph,
    * runs once). Everything downstream of the count is the md5-coin
    * deterministic machinery, so the whole output — including the
    * chosen keep_num and the estimate — is a pure function of the edge
    * set and oracle-checkable value-exactly. Returns one row:
    * (n_edges, keep_num, n_sampled, est).
    *
    * The canonical frame is `localCheckpoint`ed (eager), not
    * persist/unpersist-wrapped: the returned census is LAZY, so an
    * unpersist on exit would drop the cache before the caller ever
    * executes it; the checkpoint materializes once for both the probe
    * count and the census, and its blocks are reclaimed by the
    * ContextCleaner when the frame is collected (the CC-loop idiom; at
    * cluster scale use `checkpoint` to reliable storage). */
  def trianglesSampledBudget(edges: DataFrame, targetEdges: Long,
                             keepDen: Int = 1024, minKeepNum: Int = 64,
                             observeAs: String = null): DataFrame = {
    val canon = canonicalUndirected(edges).localCheckpoint(true)
    val nEdges = canon.count()
    val keepNum = adaptiveKeepFraction(nEdges, targetEdges, keepDen,
      minKeepNum)
    sampledCensusCanonical(canon, keepNum, keepDen, observeAs)
      .select(lit(nEdges).as("n_edges"),
        lit(keepNum.toLong).as("keep_num"),
        col("n_sampled"), col("est"))
  }

  /** Connected components by iterative min-label propagation: every
    * vertex starts labeled with its own id; each round every vertex takes
    * the min of its own label and its neighbors' labels; fixpoint = the
    * component's minimum id everywhere. Converges in O(diameter) rounds —
    * one join + one aggregation per round, `localCheckpoint` truncating
    * the lineage so round N's plan doesn't embed rounds 1..N-1 (at
    * cluster scale: `checkpoint` to reliable storage instead, same call
    * shape). Convergence is detected by the label-sum fingerprint: labels
    * only ever decrease, so an unchanged sum IS the fixpoint — one cheap
    * aggregate instead of a subtract-join diff.
    *
    * `vertices` must carry every id (including isolated ones — they come
    * back as singleton components). Returns (id, label). */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    try {
      var labels = vertices.select(col("id"), col("id").as("label"))
        .localCheckpoint(true)
      var prevSum = Option.empty[Long]
      var iter = 0
      var curSum = labels.agg(sum("label")).collect()(0).getLong(0)
      while (!prevSum.contains(curSum) && iter < maxIter) {
        prevSum = Some(curSum)
        val msgs = sym.join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("label"))
        labels = labels.union(msgs)
          .groupBy("id").agg(min("label").as("label"))
          .localCheckpoint(true)
        curSum = labels.agg(sum("label")).collect()(0).getLong(0)
        iter += 1
      }
      labels
    } finally { sym.unpersist(); () }
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"): each round hooks whole subtrees onto component minima, so
    * convergence is O(log n) rounds instead of [[connectedComponents]]'s
    * O(diameter) — the variant for long-chain / high-diameter graphs.
    * Each star op is one aggregation + one join on the node (no
    * neighbor-list collection — supernode-safe); edges are deduped and
    * lineage-truncated per round. Returns (labels, rounds-used).
    *
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(Γ(u) ∪ u)
    *  - small-star(u): u and every neighbor v ≤ u re-point to
    *    m = min({v ∈ Γ(u): v ≤ u} ∪ u)
    *
    * At the fixpoint the edge set is a star forest rooted at component
    * minima; GraphSpec checks equality with the min-label formulation on
    * randomized graphs and the round-count advantage on a long chain. */
  def connectedComponentsFast(edges: DataFrame, vertices: DataFrame,
                              maxIter: Int = 30): (DataFrame, Int) = {
    def sym(e: DataFrame) =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
      s.join(m, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e).filter(col("dst") <= col("src"))
      val m = s.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
      s.join(m, "src")
        .select(col("dst").as("node"), col("m"))
        .union(m.select(col("src").as("node"), col("m")))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("src"), col("m").as("dst")).distinct()
    }
    // order-insensitive fingerprint: (edge count, decimal hash sum — longs
    // would overflow under ANSI arithmetic) — stable ⇔ fixpoint. The fp
    // aggregate reads the just-checkpointed blocks (an O(|E|) block read,
    // not a recompute). NOTE (r13, measured): folding this into the
    // checkpoint action as an `observe` + Observation.get HALVED the job
    // count but ran 2.4-2.8x SLOWER wall (q73 5.5→13.2 s, q133 3.3→9.2 s
    // solo warm) — Observation.get waits on the async listener bus, ~2 s
    // per round of pure event-delivery latency. Two cheap synchronous
    // jobs beat one job plus a listener wait; reverted.
    def fp(d: DataFrame): (Long, String) = {
      val r = d.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
    }
    var e = edges.select("src", "dst").filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    var iter = 0
    var prev = (-1L, "")
    var cur = fp(e)
    while (prev != cur && iter < maxIter) {
      prev = cur
      e = smallStar(largeStar(e)).localCheckpoint(true)
      cur = fp(e)
      iter += 1
    }
    val labels = vertices.select(col("id"))
      .join(e.select(col("src").as("id"), col("dst").as("label")), Seq("id"), "left_outer")
      .groupBy("id")
      .agg(coalesce(min(col("label")), first(col("id"))).as("label"))
    (labels, iter)
  }

  /** Route fallback (J6, flight_analysis.py:96-132): direct edges if any
    * exist, else 2-hop connections. Both plans are declared lazily; only
    * the chosen one executes (the `count() > 0` probe is on the cheap
    * filtered direct plan). */
  def routesWithFallback(edges: DataFrame, from: String, to: String): DataFrame = {
    val direct = edges.filter(col("src") === from && col("dst") === to)
      .select(col("src").as("start"), lit(null).cast("string").as("via"),
              col("dst").as("end"))
    if (direct.count() > 0) direct
    else twoHop(edges).filter(col("start") === from && col("end") === to)
  }

  /** Weighted PageRank in exact fixed-point arithmetic (micro-units of
    * 1e-12): rank'(j) = 15%/N + 85% × Σ_in rank(i)·w_ij / totw_i, every
    * step floor-integer — so the result is bit-identical on any engine at
    * any parallelism (the q66 fixed-point rule applied to an iterative
    * algorithm; doubles would drift across engines after 10 iterations).
    * Dangling-node mass evaporates (the standard simplification; GraphX's
    * `staticPageRank` does the same).
    *
    * Edges: (src, dst, wt). Each iteration is one join + one aggregation,
    * both keyed — the rank vector is O(V) and re-shuffles on `id` each
    * round. At 100 TB: pre-partition edges by src once and reuse the
    * exchange; checkpoint `ranks` every few rounds to cut the growing
    * lineage (this loop builds a 10-deep plan, fine locally, noted for
    * cluster use). The only driver-side values are the node COUNT and the
    * loop counter — never rows. */
  def pageRankFixedPoint(edges: DataFrame, iters: Int = 10): DataFrame = {
    val Scale = 1000000000000L // 1e12 micro-units
    val nodes = vertices(edges)
    val n = nodes.count()
    require(n > 0, "empty graph")
    val base = (15L * Scale) / (100L * n)
    val outw = edges.groupBy("src").agg(sum(col("wt")).as("totw"))
    var ranks = nodes.withColumn("r", lit(Scale / n))
    for (_ <- 1 to iters) {
      val contribs = edges.join(outw, "src")
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"),
          expr("(r * 85 * wt) div (100 * totw)").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"), (lit(base) + coalesce(col("s"), lit(0L))).as("r"))
    }
    ranks.select(col("id"), col("r").as("rank_fp"),
      round(col("r").cast("double") / Scale, 6).as("rank"))
  }

  /** Convergence-stopped PageRank: same exact fixed-point iteration as
    * [[pageRankFixedPoint]], but each round joins the new vector against
    * the previous one and stops when `max |Δrank| ≤ tolFp` micro-units —
    * the production stop rule (a fixed count either wastes rounds or stops
    * short; the convergence probe is one MAX aggregate over the O(V) rank
    * vector, the only driver-side scalar per round).
    *
    * Each round's vector is `localCheckpoint`ed: an unbounded while-loop
    * MUST truncate lineage, not just cache — `persist` keeps the logical
    * plan growing (round k's plan nests all k predecessors; ~50 rounds
    * OOMs the driver in plan/codegen strings — measured here), while a
    * checkpoint makes every round's plan O(1). On a cluster use
    * `checkpoint` (HDFS) for fault tolerance; localCheckpoint is the
    * single-node twin. Default tolFp = 1e9 (1e-3 of total rank): the
    * damping factor contracts error by ≥ 0.85/round, so 1e-3 needs ~30
    * rounds from a cold start; drive tolFp down if you need tighter
    * ranks, maxIters guards either way. Returns (ranks, roundsRun). */
  def pageRankConverged(edges: DataFrame, tolFp: Long = 1000000000L,
                        maxIters: Int = 50): (DataFrame, Int) = {
    val Scale = 1000000000000L
    val nodes = vertices(edges).persist()
    val n = nodes.count()
    require(n > 0, "empty graph")
    val base = (15L * Scale) / (100L * n)
    val outw = edges.groupBy("src").agg(sum(col("wt")).as("totw"))
    var ranks = nodes.withColumn("r", lit(Scale / n)).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val next = nodes.join(
          edges.join(outw, "src")
            .join(ranks.withColumnRenamed("id", "src"), "src")
            .select(col("dst").as("id"),
              expr("(r * 85 * wt) div (100 * totw)").as("c"))
            .groupBy("id").agg(sum(col("c")).as("s")),
          Seq("id"), "left")
        .select(col("id"), (lit(base) + coalesce(col("s"), lit(0L))).as("r"))
        .localCheckpoint()
      val delta = next
        .join(ranks.withColumnRenamed("r", "r_prev"), "id")
        .agg(max(abs(col("r") - col("r_prev"))).as("d"))
        .collect().head.getLong(0)
      ranks = next
      iter += 1
      converged = delta <= tolFp
    }
    nodes.unpersist()
    (ranks.select(col("id"), col("r").as("rank_fp"),
      round(col("r").cast("double") / Scale, 6).as("rank")), iter)
  }
}
