package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, StructType}

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim,
  * unit-normalized): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH bucketed variant as the 100 TB scale path.
  *
  * All vector math happens in double via sequential left-fold expressions —
  * the identical summation order as the DuckDB oracle — and generic-real
  * outputs are rounded to 6dp, far above fp noise (~1e-14) and far below
  * data resolution.
  */
object Similarity {

  /** Sequential-fold dot product of two float arrays, in double. */
  def dotSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"

  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Codegen'd cosine (FloatVecDot kernel): identical sequential-fold
    * summation to [[cosineSql]] — bitwise the same value, so oracle
    * queries can use it — at compiled-loop speed (the interpreted
    * `aggregate` lambda costs ~100 ns/element; the kernel ~1). */
  def cosCol(a: Column, b: Column): Column = {
    import graft.functions.exprs.vecDot
    vecDot(a, b) / (sqrt(vecDot(a, a)) * sqrt(vecDot(b, b)))
  }

  /** Deterministic random hyperplanes (seeded): NumPlanes × dim, ±1
    * entries. Deterministic across JVMs — scala.util.Random(seed) is a
    * fixed LCG stream. */
  val NumPlanes = 8
  def hyperplanes(dim: Int = 64, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(NumPlanes, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** LSH signature column: NumPlanes sign bits packed into an int.
    * Planes are ±1 — exactly representable as float, so the kernel dot
    * (float args, double accumulation) equals the old double-literal
    * SQL fold. */
  def signatureCol(vecCol: String): Column = {
    import graft.functions.exprs.vecDot
    val bits = hyperplanes().zipWithIndex.map { case (p, i) =>
      when(vecDot(col(vecCol), typedlit(p.map(_.toFloat))) > 0,
        lit(1 << i)).otherwise(lit(0))
    }
    bits.reduce((a, b) => a.bitwiseOR(b)).cast("int")
  }

  /** Brute-force cosine top-k against one query vector. The query side is a
    * 1-row broadcast; the scan side streams — TakeOrderedAndProject keeps
    * only k rows per partition, so this is the correct *exact* plan at any
    * scale (one pass, no shuffle of the corpus). */
  def bruteForceTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosCol(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** ANN via hyperplane LSH: bucket by signature; probe the query's bucket
    * plus all Hamming-1 neighbors (multi-probe). Candidate set is
    * O(corpus / 2^planes × probes) — the scan never ranks the full corpus. */
  def annTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val signed = emb.withColumn("sig", signatureCol("embedding"))
    val q = signed.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"), col("sig").as("q_sig"))
    val probes = (0 until NumPlanes).map(i => s"q_sig ^ shiftleft(1, $i)")
      .mkString("array(q_sig, ", ", ", ")")
    signed.join(broadcast(q.withColumn("probe_sigs", expr(probes))),
        expr("array_contains(probe_sigs, sig)"))
      .select(col("vec_id"),
        round(cosCol(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Sampled Lloyd's k-means for IVF coarse centroids: the PORTABLE
    * trainer ([[trainCentroidsPortable]] — md5-coin sample, md5-rank init,
    * exact integer sums) with its unit-quantized integer centroids mapped
    * to floats (v / 10⁴), so the model no longer depends on the input's
    * split layout or aggregation order. Assignment downstream stays
    * float ([[assignClusters]]). The model (k × dim floats) lives on the
    * driver exactly as MLlib's KMeans holds it — never corpus rows. */
  def trainCentroids(emb: DataFrame, k: Int = 16,
                     iters: Int = 3): Array[Array[Float]] = {
    val cents = trainCentroidsPortable(emb, k, sampleAll = false, iters)
    require(cents.length == k, s"sample too small for k=$k init")
    cents.map(_.map(v => (v / 1e4).toFloat))
  }

  /** Map-only nearest-centroid assignment — one codegen'd
    * [[graft.functions.NearestCentroid]] expression looping the centroid
    * MATRIX (a single plan reference object), not k inlined dot terms.
    * Bit-identical to the expression-tree form it replaced (same double
    * fold per dot, `Double.compare` = Spark's struct ordering, ties →
    * lowest cid — AssignmentSpec pins equality against that form), but
    * the plan stays O(1) in k: the old shape's generated code and task
    * binary grew O(k·d) and measured 1.8 MB binaries at k=1600
    * (BENCHMARKS r13). No shuffle, no join — a narrow projection that
    * scales linearly with the corpus. */
  def assignClusters(emb: DataFrame, cents: Array[Array[Float]]): DataFrame =
    emb.withColumn("cluster",
      graft.functions.exprs.nearestCentroid(col("embedding"), cents))

  private def centroidsDf(spark: SparkSession, cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "centroid")
  }

  /** IVF (inverted-file) index: coarse-quantize every vector to its
    * nearest of k sampled-k-means centroids ([[trainCentroids]]).
    * Assignment is map-only ([[assignClusters]]) — one pass, no shuffle.
    * Returns (vec_id, cluster, embedding); at 100 TB the index is written
    * `partitionBy(cluster)` so a probe is partition pruning. */
  def ivfIndex(emb: DataFrame, k: Int = 16): DataFrame =
    assignClusters(emb, trainCentroids(emb, k))
      .select("vec_id", "cluster", "embedding")

  /** IVF ANN: rank the query against the k trained centroids, search only
    * the nprobe nearest clusters — the scan touches corpus/k × nprobe
    * vectors instead of the whole corpus. */
  def ivfTopK(emb: DataFrame, queryVecId: Long, k: Int,
              nClusters: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = trainCentroids(emb, nClusters)
    val indexed = assignClusters(emb, cents)
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val probeClusters = centroidsDf(emb.sparkSession, cents).crossJoin(broadcast(q))
      .withColumn("dot", graft.functions.exprs.vecDot(col("centroid"), col("q_embedding")))
      .orderBy(col("dot").desc, col("cid")).limit(nprobe)
      .select(col("cid"))
    indexed.join(broadcast(probeClusters), col("cluster") === col("cid"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosCol(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Int8 scalar quantization: per-vector scale = amax/127; 4× storage
    * reduction for ANN candidate stages. Returns the original embedding,
    * the quantized ints, and the dequantized vector for error analysis —
    * all expression-level (a production path would pack bytes). */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .withColumn("amax", expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("qvec", expr(
        "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 127.0 / amax) AS INT))"))
      .withColumn("deq", expr(
        "transform(qvec, q -> CAST(q AS DOUBLE) * amax / 127.0)"))

  /** Quantization quality report: per-label mean cosine between original
    * and dequantized vectors (≈1 − quantization loss). */
  def qQuantization(spark: SparkSession, d: String): DataFrame = {
    def dotDD(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    quantizeInt8(Tables.embeddings(spark, d))
      .withColumn("emb_d", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("cos_q", expr(
        s"${dotDD("emb_d", "deq")} / (sqrt(${dotDD("emb_d", "emb_d")}) * sqrt(${dotDD("deq", "deq")}))"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
           round(avg(col("cos_q")), 6).as("mean_cos_after_int8"))
      .orderBy("label")
  }

  // ---------------------------------------------------------------- queries

  /** Exact brute-force cosine top-20 for query vec_id=0 (oracle-checked). */
  def qCosineTopK(spark: SparkSession, d: String): DataFrame =
    bruteForceTopK(Tables.embeddings(spark, d), queryVecId = 0L, k = 20)

  /** Oracle-checkable ANN contract (the q69 exactness-contract pattern):
    * WHICH neighbors an ANN method returns is hash/centroid-dependent,
    * but the contract is not — exactly k results per query, recall
    * against the in-plan exact top-k above a method-calibrated floor, and
    * the exact side's min cosine (a real number the DuckDB oracle
    * recomputes independently, pinning the exact path bitwise). `ann` is
    * a (q_id, vec_id) frame; one row per query comes back as
    * (q_id, k, n_ann, exact_topk_min_cos, <floor boolean>).
    *
    * The exact side is one corpus scan for the whole query list
    * (broadcast query side + bounded [[graft.functions.TopKByScore]]
    * aggregate — the [[knnJoin]] shape), and it KEEPS each query itself,
    * as [[bruteForceTopK]] does: the floors are calibrated against that.
    * The ANN side — a top-k, so at most |queries|·k rows — is broadcast
    * into that scan and flags its rows, so ONE aggregate per query yields
    * the exact top-k, n_ann and the ANN ids: every pipeline runs once
    * (DataFrame reuse is not common-subexpression elimination — a hits
    * join plus separate aggregates would run the ANN pipeline and the
    * exact scan twice), and the only shuffle before the final q_id sort
    * is the aggregate's.
    *
    * Two floor modes, chosen by the caller's method, not by the data:
    *   - per query (`batchMean = false`, column `recall_ok`): each
    *     query's recall ≥ `minRecall`. Floors come from measured
    *     single-query recall across sf0.001/0.01/0.1 (deterministic
    *     seeds → the boolean is stable): LSH 0.2–0.4, IVF 0.3–0.5, PQ
    *     0.8–0.9 on the near-random synthetic vectors, 0.6–0.9 for the
    *     q126 batch; the stronger averaged / planted-cluster recall
    *     claims live in SimilaritySpec.
    *   - batch mean (`batchMean = true`, column `batch_recall_ok`): the
    *     mean recall over the query list ≥ `minRecall` — the metric ANN
    *     benchmarks report, and the right one for IVF-PQ on this corpus
    *     (q129/q131): the synthetic vectors are near-uniform on the
    *     sphere (IVF's textbook adversarial case — true neighbors spread
    *     across clusters ~uniformly, so single-query recall ≈ nprobe/k:
    *     0.2/0.25, 0.4/0.50, 0.5/0.63 for query 0 at sf0.1, BENCHMARKS.md
    *     "Composed IVF-PQ (q129)"), which makes any per-query floor a
    *     binomial coin-flip while the batch mean concentrates. The mean
    *     rides an unpartitioned Window over the ≤ |queries| contract rows
    *     (a crossJoin of a 1-row aggregate would execute the whole
    *     contract pipeline twice); the per-query mode plans no Window.
    *
    * LOAD-BEARING precondition: both sides must be DISTINCT on vec_id
    * within a query (a duplicate ann row would fan out the matching
    * corpus row, double-count it in n_ann and enter it twice into the
    * exact top-k). Holds: every ANN entry point is a top-k over distinct
    * vec_ids and the corpus ids are unique; SimilaritySpec pins the
    * neighbor lists duplicate-free. */
  def annContract(ann: DataFrame, emb: DataFrame, queryIds: Seq[Long], k: Int,
                  minRecall: Double, batchMean: Boolean = false): DataFrame = {
    val qIds = queryIds.distinct.sorted
    val qSide = emb.filter(col("vec_id").isInCollection(qIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val topK = udaf(new graft.functions.TopKByScore(k))
    val annFlags = ann.select(col("q_id"), col("vec_id"))
      .withColumn("in_ann", lit(true))
    // top: the exact top-k as (cos_sim, vec_id) pairs, best first
    val recall =
      size(array_intersect(col("ann_ids"), col("top._2"))).cast("double") / k
    val floorMet =
      if (batchMean)
        avg(recall).over(org.apache.spark.sql.expressions.Window.partitionBy())
      else recall
    emb.crossJoin(broadcast(qSide))
      .select(col("q_id"), col("vec_id"),
        round(cosCol(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .join(broadcast(annFlags), Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(topK(col("cos_sim"), col("vec_id")).as("top"),
        count(col("in_ann")).as("n_ann"),
        collect_list(when(col("in_ann"), col("vec_id"))).as("ann_ids"))
      .select(col("q_id"), lit(k).as("k"), col("n_ann"),
        array_min(col("top._1")).as("exact_topk_min_cos"),
        (floorMet >= minRecall).as(annFloorColumn(batchMean)))
      .orderBy("q_id")
  }

  /** The floor boolean's column name per [[annContract]] floor mode —
    * shared with [[annContractOracle]] so the two cannot disagree. */
  private def annFloorColumn(batchMean: Boolean): String =
    if (batchMean) "batch_recall_ok" else "recall_ok"

  /** ANN top-10 via hyperplane LSH, as its oracle-checkable contract
    * ([[annContract]]); the raw neighbor list stays spec-pinned. */
  def qAnnLsh(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    annContract(annTopK(emb, queryVecId = 0L, k = 10)
      .withColumn("q_id", lit(0L)), emb, Seq(0L), 10, minRecall = 0.1)
  }

  /** Per-label centroid norms: posexplode → per-dim avg → norm. Two
    * aggregations, shuffle keyed on (label, dim) then label — no collect. */
  def qCentroids(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val dims = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(avg(col("v").cast("double")).as("c"))
    dims.groupBy("label")
      .agg(round(sqrt(sum(col("c") * col("c"))), 6).as("centroid_norm"))
      .join(emb.groupBy("label").agg(count(lit(1)).as("n_vecs")), "label")
      .select("label", "n_vecs", "centroid_norm")
      .orderBy("label")
  }

  /** Engine-portable Rademacher hyperplanes: weight(p,i) ∈ {+1,−1} from
    * the parity of the first 8 hex digits of md5("p_i"). Sign-random
    * projections with ±1 entries are valid SimHash planes (Charikar '02;
    * Achlioptas '03 for ±1 projections), and deriving them from a
    * standardized hash instead of a seeded engine RNG means ANY engine —
    * or this one, years later, on a different JVM — rebuilds the identical
    * index layout. The q116 portability argument, applied to ANN. */
  def portablePlanes(planes: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(planes, dim) { (p, i) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${p}_${i}".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0) 1L else -1L
    }

  /** Portable LSH signature over a fixed-point copy of the vector:
    * bit p = (Σᵢ w(p,i) · ⌊vᵢ·10⁶⌋ ≥ 0). The float→double widening,
    * the ·10⁶ multiply, and ⌊·⌋ are bit-identical IEEE ops on every
    * engine, and the ±1-weighted sum is exact INTEGER arithmetic —
    * associative, order-free — so the sign bit can never flip across
    * engines or partitionings (a double-sum dot near 0 could). */
  def portableSignatureCol(vecCol: String, planes: Int, dim: Int): Column = {
    val w = portablePlanes(planes, dim)
    val micro = transform(col(vecCol),
      v => floor(v.cast("double") * lit(1e6)).cast("long"))
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(micro, typedlit(w(p).toSeq), (v, wt) => v * wt),
        lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce((a, b) => a.bitwiseOR(b)).cast("int")
  }

  /** Embedding near-dup pairs: LSH-bucketed within-bucket pairing, ranked
    * by exact cosine — the scale path for embedding-cosine dedup
    * (all-pairs is O(n²); bucketing bounds it by bucket size; scale the
    * plane count with log₂(corpus) to hold expected bucket size flat).
    * Uses the PORTABLE signature ([[portableSignatureCol]]), so unlike a
    * seeded-RNG index the full pair list is oracle-checkable — DuckDB
    * rebuilds the identical buckets from md5 alone. */
  def qEmbedNearDup(spark: SparkSession, d: String): DataFrame = {
    val signed = Tables.embeddings(spark, d)
      .withColumn("sig", portableSignatureCol("embedding", NumPlanes, 64))
      .select("vec_id", "sig", "embedding")
    signed.as("a").join(signed.as("b"),
        col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosCol(col("a.embedding"), col("b.embedding")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Fixed-point micro copy of a float vector: ⌊v·10⁶⌋ as long — the
    * exact-integer representation the portable signature already dots;
    * exposed so threshold DECISIONS (not just bucket layout) can be
    * engine-exact too ([[semDeDup]]). */
  def microCol(vecCol: Column): Column =
    transform(vecCol, v => floor(v.cast("double") * lit(1e6)).cast("long"))

  /** Exact integer dot of two micro vectors (64 terms ≤ 10¹² each — no
    * long overflow below |v| ≈ 380). NOTE: that bound covers the dot
    * ALONE — [[dupEdges]] multiplies the dot by its τ denominator, so it
    * casts to DECIMAL first rather than inheriting this Long bound (the
    * r11 advisor find: `dab * den` in Long silently wrapped for large
    * den × large-magnitude vectors, flipping threshold decisions). */
  private def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup —
    * cluster the embedding corpus, find near-duplicate pairs WITHIN
    * clusters only (the clustering is what bounds the O(n²) pair space),
    * connect the duplicate graph, keep ONE representative per connected
    * component. Returns one row per vector: (vec_id, component, keep)
    * with keeper = component minimum (the q54 canonical-keeper
    * discipline — deterministic, no tie to break).
    *
    * Two portability choices make the ENTIRE keep-list oracle-exact,
    * not a contract check:
    *  - clustering = the md5-derived LSH signature
    *    ([[portableSignatureCol]]) rather than k-means. The paper scopes
    *    pairs by k-means cluster; trained centroids are engine-side
    *    state no oracle can recompute, while the portable signature
    *    rebuilds bit-identically anywhere. On a real corpus swap the
    *    grouping column for a trained assignment ([[assignClusters]]) —
    *    everything downstream is unchanged.
    *  - the cosine THRESHOLD τ = num/den is decided in exact integer
    *    arithmetic on the ⌊v·10⁶⌋ micro copies: an edge exists iff
    *    dab ≥ 0 ∧ den²·dab² ≥ num²·daa·dbb (squares compared in
    *    DECIMAL(38,0); ≤ 10²⁸ here, no overflow). A float cosine
    *    differs across engines by summation order; one flipped edge at
    *    the threshold boundary re-labels a whole component, so the
    *    decision must be order-free integer math, not round(cos, 6).
    *
    * Scale shape: per-bucket self-join (bounded by bucket size), micro
    * dots codegen'd map-side, then
    * [[graft.graph.Graph.connectedComponentsFast]] (large/small-star,
    * O(log n) rounds) over only the DUP edges.
    *
    * The `planes` dial must GROW with log₂(corpus), and for two measured
    * reasons, not one (BENCHMARKS.md "planes dial", sf0.1 n=2k → sf1 n=20k):
    *  - COST: candidate pairs ~ n²/2^planes. Fixed planes=8 at 10× the
    *    corpus grew candidates 9,155 → 912,731 (100×, exactly
    *    quadratic); planes=12 (+log₂ 10) held them to 77,574 (8.5×,
    *    ≈ linear in n).
    *  - SEMANTICS: the cluster scope is not merely a cost bound — it is
    *    what stops transitive CHAIN COLLAPSE. Ground truth at sf0.1:
    *    the exact ALL-PAIRS τ=1/4 graph (44,380 edges) is ONE connected
    *    component — full-recall candidate generation (or aggressive
    *    banding à la q32) would "dedup" 1,999 of 2,000 vectors. Fixed
    *    planes=8 at sf1 drifts toward the same cliff (19,558/20,000
    *    dropped); planes=12 keeps the scope local (8,115 dropped).
    *    SemDeDup's within-cluster restriction (paper §2) is doing
    *    exactly this job; this library keeps it a declared part of the
    *    similarity, like q132's rare-gram sub-universe.
    *
    * `planes < 0` (the DEFAULT since r13, matching [[semDeDupIngest]]):
    * derive the dial from the corpus size ([[derivePlanes]] — one
    * count() over the frame). Both measured failure modes above are the
    * FIXED-dial modes; q133's DuckDB oracle recomputes the same
    * integer-exact derivation, and at every shipped testdata size the
    * derived dial IS the portable 8, so oracle results are unchanged. */
  def semDeDup(emb: DataFrame, planes: Int = -1,
               num: Int = 1, den: Int = 4): DataFrame = {
    val n = emb.count() // planes dial + fan-out gate from one probe job
    val p = if (planes >= 0) planes else derivePlanes(n)
    val edges = dupEdges(signatureTable(emb, p, n), num, den)
    val (labels, _) = graft.graph.Graph.connectedComponentsFast(
      edges, emb.select(col("vec_id").as("id")))
    labels.select(col("id").as("vec_id"), col("label").as("component"),
      (col("id") === col("label")).as("keep"))
  }

  /** The signature table both dedup rules and the standing index share:
    * (vec_id, sig, micro, dself) — the portable bucket key plus the
    * exact-integer pieces the threshold decision needs. `rows` = the
    * caller's corpus count, gating the map-side fan-out
    * ([[fanoutToCores]]); pass -1 when no count exists (no fan). */
  private[similarity] def signatureTable(emb: DataFrame, planes: Int,
                                         rows: Long = -1L): DataFrame =
    signatureTableWith(emb, portableSignatureCol("embedding", planes, 64),
      rows)

  /** Fan a small-split embedding scan out to core count before the
    * family's per-row CPU kernels (plane signature, micro conversion,
    * integer self-dot, centroid assignment): the embeddings parquet at
    * probe scale arrives as 1–2 splits, so the suite's densest map work
    * ran on 2 of 32 cores — measured at sf1 (r14 probe), q135's
    * assignment+signature stage was 5.6 s wall / 10.6 s CPU on TWO
    * tasks, 45% of the query. The moved bytes (~500 B/row) are trivial
    * next to the per-row work, and at scale (input splits ≥ cores) the
    * branch is a no-op — the q39 media-codec fan-out rule applied to
    * the similarity family. `rows` (the caller's corpus count — every
    * caller already has one) gates the trade: below
    * [[graft.Tuning.SimFanoutGateRows]] the extra tasks cost more than
    * the spread CPU (measured arms on the constant), so tiny corpora —
    * and callers with no count, rows < 0 (the append batch path) —
    * stay on scan parallelism. Values are unaffected either way:
    * everything these paths decide is the portable md5/integer
    * machinery, a pure function of row values (PQ's partition-SENSITIVE
    * codebook sampling never flows through here). */
  private def fanoutToCores(df: DataFrame, rows: Long): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (rows >= graft.Tuning.SimFanoutGateRows &&
        df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** [[signatureTable]] under an arbitrary bucket key — the seam where
    * the LSH signature and a trained k-means assignment swap
    * ([[semDeDupKMeans]]); everything downstream (integer-exact τ
    * edges, CC, direct verdicts) is key-agnostic. Input is fanned to
    * core count first when the corpus clears the gate
    * ([[fanoutToCores]] — no-op at scale and on tiny corpora). */
  private def signatureTableWith(emb: DataFrame, sig: Column,
                                 rows: Long): DataFrame =
    fanoutToCores(emb, rows).withColumn("sig", sig)
      .withColumn("micro", microCol(col("embedding")))
      .withColumn("dself", dotLong(col("micro"), col("micro")))
      .select("vec_id", "sig", "micro", "dself")

  /** The planes dial as a FUNCTION of corpus size — the derived-cap
    * treatment (`Dedup.deriveRareGramCap`) applied to semantic dedup's
    * one scale knob. Candidate pairs grow ~n²/2^planes, so holding them
    * ~linear in n needs planes to rise with log₂(n); this formula
    * reproduces the MEASURED ladder exactly (BENCHMARKS.md
    * "planes dial": 2k → 8, 20k → 12, 200k → 15 — each the
    * probed sweet spot at its scale, and the fixed-8 alternative at 20k
    * measured 100× the candidates and a 19,558/20,000 drop drift toward
    * the chain-collapse cliff).
    *
    * `planes` is part of the SIMILARITY'S DEFINITION (the bucket scope
    * decides which pairs can be compared — the same declared-contract
    * status as q132's df cap), so the oracle-gated q133/q134 keep the
    * portable constant their SQL twins recompute; production corpora
    * pass `derivePlanes(count)` to [[semDeDup]]/[[semDeDupIngest]],
    * whose fingerprints already cover the chosen value — a different
    * derivation rebuilds, never silently mixes.
    *
    * CLAMPED at 31: [[portableSignatureCol]] packs plane bits into an
    * INT (`1 << p`), so planes ≥ 32 would silently alias onto low bits —
    * bucket corruption, not an error (r12 review find). 31 planes cover
    * n ≈ base·2²³ ≈ 1.7×10¹⁰ vectors at the default base; past that,
    * swap the bucket key for a trained clustering
    * ([[semDeDupKMeans]] — the paper's shape, no bit-packing limit) or
    * widen the signature type alongside its oracle convention. */
  def derivePlanes(n: Long, base: Long = 2000L,
                   planes0: Int = NumPlanes): Int = {
    // Integer-exact: planes0 + |{j ≥ 0 : base·2^j < n}|, capped at 31 —
    // identical to planes0 + ceil(log₂(n/base)) but with no float in the
    // decision, because since r13 q134's DuckDB oracle recomputes THIS
    // derivation (COUNT over a doubling series) and a one-ulp log₂
    // wobble at an exact power-of-two boundary would silently disagree
    // on the bucket scope between the two engines.
    var p = planes0
    var t = base
    while (p < 31 && t < n) { p += 1; t <<= 1 }
    p
  }

  /** SemDeDup over a TRAINED k-means clustering — the paper's actual
    * shape (Abbas et al. §2 scopes candidate pairs by k-means cluster;
    * the registered q133/q134 use the portable LSH signature as the
    * cheaper bucket key). Bucket key = the integer-dot assignment under
    * [[trainCentroidsPortable]]'s engine-exact training (r14; the r13
    * form used a float trainer, whose `DataFrame.sample` init made
    * the centroids unrecomputable by any oracle — r13 verdict item #2:
    * q135 shipped with NO independent correctness measurement). Every
    * decision — md5-coin sample, md5-rank init, integer-dot argmax,
    * exact integer sums, 10⁻⁴ unit quantization, the integer-exact τ
    * edges, the CC labeling, the min-id keeper — is now recomputed
    * end-to-end by q135's DuckDB oracle, the same full-value status
    * q133/q134 have. Spec pins on planted structure remain
    * (SimilaritySpec). Same contract as [[semDeDup]]:
    * (vec_id, component, keep). */
  /** The k dial as a FUNCTION of corpus size — [[derivePlanes]]'s
    * argument applied to the trained-clustering bucket key, with the
    * scaling law FIT to measurement rather than borrowed: the
    * pipeline's cost has two terms that pull k in opposite directions,
    *   assignment ≈ a₀·n·k·d   (every row against every centroid)
    *   pairs      ≈ p₀·(n²/2k)·d (within-cluster exact integer dots),
    * balanced at k* = √(p₀/2a₀ · n) ∝ √n. The CONSTANT belongs to the
    * assignment mechanism: under the r13 k-literal expression tree the
    * fit gave k* ≈ √(n/2), but the [[graft.functions.NearestCentroid]]
    * loop rewrite dropped a₀ ~6× (sf10 k=1600: 482 s → 73 s, same box
    * same day) and the re-fit over the measured sf10 bowl
    * (97.8 / 74.3 / 73.0 / 139.7 s at k=317/800/1600/3200, n=200k)
    * lands k* ≈ √(7.5·n) ≈ 2.7√n; sf1 confirms (flat 12–14 s across
    * k=200–800, with 2.7√n = 388 inside the flat). The full revision
    * ladder that got here, each step measured (BENCHMARKS r13):
    * fixed k=16 (pairs quadratic, sf1 101 s) → k = n/125 (assignment
    * quadratic-in-n, sf10 482 s) → √(n/2) (balanced for the tree form)
    * → √(7.5n) (balanced for the loop form). Cap 2048: the k=3200 cell
    * measures super-linear (139.7 s) — past the cap, widen clusters or
    * move to hierarchical/IVF-partitioned assignment (the 10⁹-vector
    * path). Floor 16 guards degenerate tiny corpora (k must stay ≤ the
    * init sample). Sanity anchor at production scale: √(7.5n) at
    * LAION-440M is ≈57k clusters — within 15% of the 50k Abbas et al.
    * actually shipped. */
  def deriveKMeansK(n: Long, k0: Int = 16): Int = {
    // Integer-exact ceil(√(7.5·n)): smallest s with 2s² ≥ 15n, found by
    // probing the float estimate ±1 — since r14 the q135 DuckDB oracle
    // recomputes THIS derivation, and a one-ulp sqrt wobble at an exact
    // square boundary must not let the two engines disagree on k
    // (the derivePlanes integer-exactness rule applied to the k dial).
    val s0 = math.floor(math.sqrt(7.5 * n.toDouble)).toLong
    val s = (math.max(0L, s0 - 1) to s0 + 1)
      .find(s => 2 * s * s >= 15 * n).getOrElse(s0 + 1)
    math.max(k0, math.min(2048, s.toInt))
  }

  /** First 8 hex digits of md5("tag|id") as a long — the ops.Splits
    * portable bucket applied to trainer decisions: the q135 DuckDB
    * oracle recomputes it as CAST('0x' || substring(md5(...), 1, 8) AS
    * BIGINT), so sampling and init ranks are engine-exact, unlike
    * `DataFrame.sample` (partition-layout-dependent), which PQ's
    * codebook trainer still uses. */
  private def md5Bucket32(tag: String, id: Column): Column =
    conv(substring(md5(concat_ws("|", lit(tag), id)), 1, 8), 16, 10)
      .cast("long")

  /** Unit-quantize an exact integer sum vector to ⌊sᵢ·10⁴/‖s‖ + ½⌋ —
    * the centroid representation of the PORTABLE trainer. Direction is
    * all that matters for cosine-style assignment (sum/‖sum‖ ==
    * mean/‖mean‖), so no division by the cluster count appears
    * anywhere. ‖s‖² is computed EXACTLY in BigInt (the oracle uses
    * HUGEINT) and only then rounded to double; every remaining step
    * (toDouble of a ≤2⁵³ integer, one multiply, one divide, sqrt,
    * floor(x+½)) is a single IEEE-defined operation both engines
    * evaluate identically on identical operands. Zero vector → zero
    * centroid (dots 0 against everything; ties → lowest cid). */
  private[similarity] def quantizeUnit(sums: Array[Long]): Array[Long] = {
    var n2 = BigInt(0)
    sums.foreach(s => n2 += BigInt(s) * BigInt(s))
    if (n2 == 0) new Array[Long](sums.length)
    else {
      val norm = math.sqrt(n2.toDouble)
      sums.map(s => math.floor(s.toDouble * 1e4 / norm + 0.5).toLong)
    }
  }

  /** PORTABLE sampled Lloyd's k-means, the one k-means trainer: the
    * q135 family ([[kmeansSigTable]]) uses its integer centroids, so the
    * WHOLE trained-clustering dedup is oracle-checkable (r13 verdict
    * item #2: q135 had no independent correctness measurement; the
    * weaker rows-only check was never run), and the IVF
    * paths use them as floats ([[trainCentroids]]). Every decision is
    * portable:
    *
    *  - sample = md5 coin ("km|vec_id" bucket parity), not
    *    `DataFrame.sample` (whose output depends on partition layout);
    *    `sampleAll` (|sample| < k, tiny corpora) trains on everything;
    *  - init = the k sample vectors with smallest (md5 "kminit" rank,
    *    vec_id) — hash-strided across the id space (not the k lowest
    *    ids, which cluster by insertion order) and SQL-recomputable;
    *    cid = rank order;
    *  - assignment = integer dot argmax over ⌊v·10⁶⌋ micro vectors and
    *    unit-quantized integer centroids
    *    ([[graft.functions.NearestCentroidMicro]]), ties → lowest cid;
    *  - update = exact integer per-(cluster, dim) sums, re-quantized by
    *    [[quantizeUnit]]; empty clusters keep their centroid.
    *
    * The 10⁴ centroid resolution is the declared metric (argmax dot ≡
    * argmax cosine up to that resolution — all centroids share the
    * same norm ±1 ulp); coarser than a float model, but the centroids
    * only SCOPE candidates — q135's τ decision downstream stays the exact
    * integer rule, and an IVF probe re-ranks by exact cosine. Returns
    * ≤ k unit-quantized integer centroids (fewer only when the corpus is
    * smaller than k). */
  def trainCentroidsPortable(emb: DataFrame, k: Int, sampleAll: Boolean,
                             iters: Int = 3): Array[Array[Long]] = {
    val base = emb.select(col("vec_id"), microCol(col("embedding")).as("mv"))
    val sample = (if (sampleAll) base
      else base.filter(md5Bucket32("km", col("vec_id")) % 2 === 0)).persist()
    try {
      var cents: Array[Array[Long]] = sample
        .withColumn("h", md5Bucket32("kminit", col("vec_id")))
        .orderBy("h", "vec_id").limit(k)
        .select("mv").collect()
        .map(r => quantizeUnit(r.getSeq[Long](0).toArray))
      require(cents.nonEmpty, "trainCentroidsPortable: empty corpus")
      val dim = cents.head.length
      for (_ <- 1 to iters) {
        val sums = sample
          .withColumn("cluster",
            graft.functions.exprs.nearestCentroidMicro(col("mv"), cents))
          .select(col("cluster"), posexplode(col("mv")).as(Seq("dim", "v")))
          .groupBy("cluster", "dim").agg(sum(col("v")).as("s"))
          .collect()                       // k × dim rows: the model update
        val acc = Array.fill(cents.length)(new Array[Long](dim))
        val seen = new Array[Boolean](cents.length)
        sums.foreach { r =>
          val c = r.getInt(0); seen(c) = true; acc(c)(r.getInt(1)) = r.getLong(2)
        }
        cents = Array.tabulate(cents.length) { c =>
          if (seen(c)) quantizeUnit(acc(c)) else cents(c)
        }
      }
      cents
    } finally { sample.unpersist(); () }
  }

  /** The trained-clustering bucket table with a SKEW GUARD: clusters
    * whose occupancy exceeds 8× the expected n/k are SUB-BUCKETED by
    * the portable LSH signature (corpus-derived planes) — within a hot
    * cluster, pairs additionally require an exact signature match, the
    * MinHash path's hot-bucket-cap discipline as a declared part of the
    * similarity's scope. The failure mode is REAL but adversarial, not
    * typical: the cheap trainer (3 sampled Lloyd iterations, k sampled
    * init vectors) concentrates mass when many directions tie — the
    * spec plants 64 orthogonal one-hot directions × 31 copies at k=16,
    * where every copy of an unsampled direction dots 0 with every
    * centroid and the tie-broken argmax piles ~48 groups into one
    * cluster, tripping the guard deterministically. On the shipped
    * corpora the trained clustering is balanced: the r13 sweep
    * (BENCHMARKS.md "The k-means cluster dial: √(n/2), skew-guarded
    * (round 13)", sf1 k=100/160/320 and sf10 k=317/1600)
    * measures hot = ∅ at every cell with candidate pairs exactly
    * n²/2k, so the guard's steady-state cost is one extra map-only
    * assignment pass for the occupancy histogram (model-sized result,
    * no shuffle of data rows). Exact duplicates always share the
    * sub-bucket (identical embedding → identical cluster and
    * signature), and the worst-case pair count is bounded by the LSH
    * rate regardless of how badly an init draw concentrates. Keys:
    * cold cluster c → c (< 4096); hot → (c+1)·2³² + unsigned(sig) —
    * disjoint ranges, no collisions.
    * Returns (bucket table, hot clusters, resolved k). */
  private[graft] def kmeansSigTable(emb: DataFrame,
                                    k: Int): (DataFrame, Set[Int], Int) = {
    // one combined probe job: corpus size (k dial, occupancy cap) and
    // sample size (the |sample| ≥ k fallback) from a single aggregate —
    // the r13 shape spent a count() and a separate sampled init scan
    val coin = md5Bucket32("km", col("vec_id")) % 2 === 0
    val cRow = emb.agg(count(lit(1)),
      sum(when(coin, 1L).otherwise(0L))).collect()(0)
    val n = cRow.getLong(0)
    val nS = if (cRow.isNullAt(1)) 0L else cRow.getLong(1)
    val kR = if (k > 0) k else deriveKMeansK(n)
    // fan BEFORE training + assignment: the three Lloyd passes and the
    // k·n-dot assignment are the family's densest CPU and inherit the
    // scan's split count otherwise (fanoutToCores scaladoc; the probe
    // agg above stays on the raw scan — a count gains nothing from an
    // exchange). Training values are unchanged: the portable trainer's
    // sample/init/update are md5- and integer-exact, partition-free.
    val embF = fanoutToCores(emb, n)
    val cents = trainCentroidsPortable(embF, kR, sampleAll = nS < kR)
    val assigned = embF.withColumn("cluster",
      graft.functions.exprs.nearestCentroidMicro(
        microCol(col("embedding")), cents))
    val cap = 8L * ((n + kR - 1) / kR)
    val hot = assigned.groupBy("cluster").agg(count(lit(1)).as("c"))
      .filter(col("c") > cap).select("cluster")
      .collect().map(_.getInt(0)).toSet // ≤ k entries: model-sized
    val key: Column =
      if (hot.isEmpty) col("cluster").cast("long")
      else when(col("cluster").isInCollection(hot),
          (col("cluster").cast("long") + 1L) * lit(4294967296L) +
            portableSignatureCol("embedding", derivePlanes(n), 64)
              .cast("long").bitwiseAND(lit(0xFFFFFFFFL)))
        .otherwise(col("cluster").cast("long"))
    // rows = n, but `assigned` already rides embF's layout — the gate's
    // partition check makes this a no-op either way
    (signatureTableWith(assigned, key, n), hot, kR)
  }

  /** `k < 0` (the default since r13) derives the cluster count from the
    * corpus size ([[deriveKMeansK]]) — one count() over the embeddings.
    * Pair scope = trained cluster, skew-guarded ([[kmeansSigTable]]). */
  def semDeDupKMeans(emb: DataFrame, k: Int = -1, num: Int = 1,
                     den: Int = 4): DataFrame = {
    val (sigs, _, _) = kmeansSigTable(emb, k)
    val edges = dupEdges(sigs, num, den)
    val (labels, _) = graft.graph.Graph.connectedComponentsFast(
      edges, emb.select(col("vec_id").as("id")))
    labels.select(col("id").as("vec_id"), col("label").as("component"),
      (col("id") === col("label")).as("keep"))
  }

  /** The chain-free direct rule ([[semDeDupDirect]]) over the trained
    * clustering: drop iff a smaller-id τ-neighbor shares the k-means
    * cluster. Returns (vec_id, keep). */
  def semDeDupDirectKMeans(emb: DataFrame, k: Int = -1, num: Int = 1,
                           den: Int = 4): DataFrame = {
    val (sigs, _, _) = kmeansSigTable(emb, k)
    directVerdicts(sigs, num, den)
  }

  /** Within-bucket τ-threshold duplicate edges (src < dst), decided in
    * exact integer arithmetic — see [[semDeDup]]. `left`/`right` are
    * [[signatureTable]] frames; pass the same frame twice for the
    * self-join case. Only (left.vec_id < right.vec_id) pairs emit. */
  private[similarity] def dupEdges(left: DataFrame, num: Int, den: Int,
                                   right0: DataFrame = null): DataFrame = {
    val right = if (right0 == null) left else right0
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    def sq(c: Column) = c.cast(dec) * c.cast(dec)
    // dab·den is computed in DECIMAL, not Long: dotLong's documented
    // overflow bound (|v| ≈ 380) covers the dot alone, and a Long
    // `dab * den` wraps for large den × large vectors, silently flipping
    // the threshold decision (r11 advisor find). (19,0)×(19,0) widens to
    // (38,0) — exact for den·dab and num²·daa·dbb up to 10³⁸, far past
    // any real (τ, corpus) here.
    val dabDen = col("dab").cast(dec) * lit(den.toLong).cast(dec)
    left.as("a").join(right.as("b"),
        col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("dab", dotLong(col("a.micro"), col("b.micro")))
      .filter(col("dab") >= 0 &&
        dabDen * dabDen >=
          sq(lit(num.toLong)) * col("a.dself").cast(dec) *
            col("b.dself").cast(dec))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
  }

  /** q133: SemDeDup survival per planted label — for each `label`, the
    * corpus count and how many vectors survive semantic dedup at
    * τ = 1/4 (keepers = component minima). The rollup makes the
    * dedup's interaction with the planted cluster structure visible,
    * and every number — buckets, integer-exact threshold edges,
    * components, keepers — is recomputed end-to-end by DuckDB. */
  def qSemDeDup(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    semDeDup(emb)
      .join(emb.select("vec_id", "label"), "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("label")
  }

  /** DIRECT-rule semantic dedup — the chain-free, append-exact twin of
    * [[semDeDup]]: drop a vector iff a SMALLER-id within-bucket
    * τ-neighbor exists. Direct evidence only — no duplicate-graph
    * transitivity — so the chain-collapse cliff the CC rule's planes
    * dial must steer around (BENCHMARKS.md: all-pairs τ=1/4 at sf0.1 is
    * ONE component) cannot exist here: a vector is only ever dropped
    * because a specific earlier near-duplicate of IT exists. Every CC
    * keeper is also a direct keeper (a component minimum has no smaller
    * neighbor — neighbors are component-mates), so direct keeps ⊇ CC
    * keeps, spec-pinned.
    *
    * The id order is what makes the rule INCREMENTAL-EXACT: a verdict
    * depends only on smaller ids, and appended vectors get larger ids,
    * so earlier verdicts never change — [[semDeDupAppend]] == one-shot
    * ingest, row-for-row (SimilaritySpec), the first-seen-wins
    * discipline of streaming dedup (q30/Streams) expressed as id order.
    * Returns (vec_id, keep). */
  def semDeDupDirect(emb: DataFrame, planes: Int = -1,
                     num: Int = 1, den: Int = 4): DataFrame = {
    val n = emb.count()
    val p = if (planes >= 0) planes else derivePlanes(n)
    directVerdicts(signatureTable(emb, p, n), num, den)
  }

  /** keep = no smaller-id τ-neighbor, over a [[signatureTable]]. */
  private def directVerdicts(sigs: DataFrame, num: Int,
                             den: Int): DataFrame = {
    val dupped = dupEdges(sigs, num, den)
      .select(col("dst").as("vec_id")).distinct()
    sigs.select("vec_id")
      .join(dupped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("hit").isNull.as("keep"))
  }

  /** INGEST: persist the standing semantic-dedup index — the signature
    * table plus each vector's direct-rule verdict — and mark it valid
    * (ops.Standing; fingerprint covers the source AND the (planes, τ)
    * hyperparameters, the q129 lesson). At 100 TB the signature pass is
    * a full-corpus map; paying it once and appending O(batch) after is
    * the same amortization argument as the gram/shingle/PQ indexes.
    *
    * Layout: the gram-index batch discipline — the ingest lands in a
    * `base` subdirectory, each append in its own `batch_<id>` (a
    * namespace streaming batch ids, which start at 0, can never collide
    * with); a dir's `_SUCCESS` is the commit, and [[semDeDupIndex]]
    * reads COMMITTED batches only, so a crashed half-written append is
    * invisible until its replay overwrites it, and a replayed committed
    * batch no-ops — exactly-once under streaming replay for free.
    *
    * `planes < 0` (the DEFAULT since r13) means DERIVE the dial from the
    * corpus size ([[derivePlanes]]) — the r12 verdict's x7 finding: a
    * fixed planes=8 ingest grows its candidate pairs quadratically with
    * the corpus (measured 5.2× build time at 10× data), while the
    * derived dial holds them ~linear. The corpus count is one parquet
    * metadata read (footer row counts — no data scan). The RESOLVED
    * value lands in the fingerprint and the payload, so a different
    * derivation (corpus growth past a power-of-two boundary) rebuilds
    * rather than silently mixing scopes, and [[semDeDupAppend]] keeps
    * appending under whatever the index was built with. At every
    * oracle-validated corpus size (≤ [[derivePlanes]]'s base) the
    * derived dial IS the portable constant, and q134's DuckDB oracle
    * recomputes the same integer-exact derivation — so the derived
    * default stays oracle-gated at ANY scale. */
  def semDeDupIngest(spark: SparkSession, d: String, root0: String = null,
                     planes: Int = -1, num: Int = 1,
                     den: Int = 4): (Long, Long) = {
    val root = if (root0 != null) root0
      else graft.ops.Scratch.root(spark, d, "semdedup_idx")
    val nCorpus = Tables.embeddings(spark, d).count() // dial + fan gate
    val resolved = if (planes >= 0) planes else derivePlanes(nCorpus)
    val fp = graft.ops.Standing.fingerprint(s"$d/embeddings.parquet") +
      s":p=$resolved:t=$num/$den"
    // a rebuild is CLEAN (r11 advisor find): overwrite only touches
    // `base`, but semDeDupIndex unions base with every committed batch_*
    // dir, so Standing.ensure drops stale appends of a prior corpus or
    // (planes, τ) before the build
    val a = graft.ops.Standing.ensure(root, fp) {
      val emb = Tables.embeddings(spark, d)
      val sigs = signatureTable(emb, resolved, nCorpus)
      sigs.join(directVerdicts(sigs, num, den), "vec_id")
        .select("vec_id", "sig", "micro", "dself", "keep")
        .write.mode("overwrite").parquet(s"$root/base")
      val (n, kept, _) = indexStats(spark, root)
      s"$resolved $num $den $n $kept"
    }.split(" ")
    (a(3).toLong, a(4).toLong)
  }

  /** The columns [[semDeDupIngest]] and [[semDeDupAppend]] write, as
    * parquet reads them back; reading through it skips the footer
    * inference a schemaless read runs (SimilaritySpec pins it against
    * the inferred schema). */
  val SemDeDupSchema: StructType = new StructType()
    .add("vec_id", LongType).add("sig", IntegerType)
    .add("micro", ArrayType(LongType)).add("dself", LongType)
    .add("keep", BooleanType)

  /** The committed standing index: union of every `batch_<id>` whose
    * `_SUCCESS` exists. Half-written (crashed) batches are invisible. */
  def semDeDupIndex(spark: SparkSession, root: String): DataFrame = {
    val dirs = committedBatchDirs(root)
    require(dirs.nonEmpty, s"no committed semantic-dedup batches at $root")
    spark.read.schema(SemDeDupSchema).parquet(dirs: _*)
  }

  private def committedBatchDirs(root: String): Seq[String] = {
    // `base` = the one-shot ingest; `batch_<id>` = appends. Streaming
    // batch ids start at 0, so the ingest dir must NOT share their
    // namespace — a streaming batch 0 would otherwise see the ingest's
    // _SUCCESS and silently no-op (drop its own rows).
    val base = Seq(s"$root/base").filter(graft.ops.Standing.committed(_))
    val batches = graft.ops.Standing.batchIds(root).sorted
      .map(graft.ops.Standing.batchDir(root, _))
      .filter(graft.ops.Standing.committed(_))
    base ++ batches
  }

  /** (n, kept, maxId) recomputed from the COMMITTED data — never from
    * payload arithmetic, so a crash between a batch commit and its
    * marker update self-heals on the next call instead of drifting. */
  private def indexStats(spark: SparkSession,
                         root: String): (Long, Long, Long) = {
    val idx = semDeDupIndex(spark, root)
    val r = idx.agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)),
      max("vec_id")).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** APPEND: O(batch) incremental maintenance of the standing index,
    * EXACT — not approximately — equal to a from-scratch rebuild,
    * because the direct rule's verdicts depend only on smaller ids and
    * appended ids are required to exceed every committed standing id
    * (enforced; violating arrival order would rewrite history). A new
    * vector is dropped iff it has a τ-neighbor among standing vectors
    * (all necessarily smaller) or smaller ids in its own batch;
    * standing verdicts are never touched. Hyperparameters ride the
    * payload, so an append can never mix a different (planes, τ) into
    * the index; stats are recomputed from data, never accumulated.
    *
    * Exactly-once: `batchId` keys the write to its own overwrite dir —
    * a committed replay no-ops, a crashed replay overwrites its own
    * partial, and auto-ids go through the durable `_claims` protocol
    * ([[graft.ops.Standing.claimBatchId]]). */
  def semDeDupAppend(newEmb: DataFrame, root: String,
                     batchId: Long = -1L): (Long, Long) = {
    val spark = newEmb.sparkSession
    val (fp, p) = graft.ops.Standing.current(root).getOrElse(sys.error(
      s"semDeDupAppend: no standing semantic-dedup index at $root — run" +
        " semDeDupIngest first"))
    val a = p.trim.split(" ")
    val (planes, num, den) = (a(0).toInt, a(1).toInt, a(2).toInt)
    val id = if (batchId >= 0) batchId
      else graft.ops.Standing.claimBatchId(root)
    val bDir = graft.ops.Standing.batchDir(root, id)
    if (!graft.ops.Standing.committed(bDir)) {
      val (_, _, maxId) = indexStats(spark, root)
      // An EMPTY batch is legal (streaming restart / no-data trigger
      // delivers one — r11 advisor find): min(vec_id) aggregates to SQL
      // NULL, so getLong would NPE and kill the streaming query. Skip
      // the order check (vacuously true) and still write the empty
      // committed batch dir, so a replay of the same batchId no-ops
      // exactly like any other committed batch.
      val minRow = newEmb.agg(min("vec_id")).collect()(0)
      if (!minRow.isNullAt(0)) {
        val minNew = minRow.getLong(0)
        require(minNew > maxId,
          s"semDeDupAppend: new vec_ids must exceed the standing max" +
            s" $maxId (got $minNew) — the direct rule is id-order-exact")
      }
      val newSigs = signatureTable(newEmb, planes)
      // drop iff a τ-neighbor among (standing ∪ smaller-in-batch): both
      // joins are bucket joins on sig; the standing side is semi-filtered
      // to the batch's buckets by the join itself
      val standing = semDeDupIndex(spark, root)
        .select("vec_id", "sig", "micro", "dself")
      val dupped = dupEdges(standing, num, den, newSigs)
        .select(col("dst").as("vec_id"))
        .union(dupEdges(newSigs, num, den).select(col("dst").as("vec_id")))
        .distinct().withColumn("hit", lit(true))
      newSigs.join(dupped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("sig"), col("micro"), col("dself"),
          col("hit").isNull.as("keep"))
        .write.mode("overwrite").parquet(bDir)
    }
    val (n, kept, _) = indexStats(spark, root)
    graft.ops.Standing.markValid(root, fp, s"$planes $num $den $n $kept")
    (n, kept)
  }

  /** q134: direct-rule semantic dedup survival per planted label,
    * answered from the STANDING index (built once per session, reused
    * via the validity marker — the q125 discipline). Same rollup shape
    * as q133, so the two rules' drop behavior is directly comparable:
    * the CC rule merges transitively (chain-prone, planes-guarded), the
    * direct rule drops only on direct evidence. */
  def qSemDeDupDirect(spark: SparkSession, d: String): DataFrame = {
    val root = graft.ops.Scratch.root(spark, d, "semdedup_idx")
    semDeDupIngest(spark, d, root)
    val emb = Tables.embeddings(spark, d)
    semDeDupIndex(spark, root).select("vec_id", "keep")
      .join(emb.select("vec_id", "label"), "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("label")
  }

  /** q135: SemDeDup over the TRAINED k-means clustering — the paper's
    * literal shape ([[semDeDupKMeans]]) — rolled up per planted label
    * like q133/q134, so the three bucket-scope choices (portable LSH CC,
    * portable LSH direct, trained clustering CC) are directly
    * comparable from the registry alone. FULLY ORACLE-GATED since r14:
    * the r12-r13 registration was rows-only on the grounds that k-means
    * init is Spark-specific — which the driver could not even
    * rows-check (CORRECTNESS_r13 recorded three nulls) — so the trainer
    * was rebuilt engine-exact ([[trainCentroidsPortable]]) and the
    * oracle below recomputes the ENTIRE pipeline: k dial, md5 sample,
    * init ranks, 3 unrolled Lloyd iterations in integer/IEEE-pinned
    * arithmetic, final assignment, occupancy skew guard, integer-exact
    * τ edges, recursive-CTE CC, per-label rollup. SimilaritySpec's
    * planted-structure pins remain as the semantic check. */
  def qSemDeDupKMeans(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    semDeDupKMeans(emb).join(emb.select("vec_id", "label"), "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("label")
  }

  /** IVF ANN top-10, as its oracle-checkable contract ([[annContract]]);
    * the raw neighbor list + planted-cluster recall stay spec-pinned. */
  def qIvfAnn(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    annContract(ivfTopK(emb, queryVecId = 0L, k = 10)
      .withColumn("q_id", lit(0L)), emb, Seq(0L), 10, minRecall = 0.2)
  }

  /** KNN join: every query vector gets its k nearest corpus neighbors
    * (self excluded) — the batch shape of retrieval evaluation and
    * embedding-dedup candidate generation, vs [[bruteForceTopK]]'s single
    * query.
    *
    * Scale plan: the query side broadcasts (a query batch is small by
    * definition); the corpus streams through ONE scan; per-query ranking
    * uses the bounded [[graft.functions.TopKByScore]] aggregate, so the
    * shuffle after the scan is O(queries × k) rows, not O(corpus ×
    * queries). A window row_number here would shuffle and sort every
    * (query, corpus) pair — the exact anti-pattern TopKByScore exists for.
    * Ranking compares ROUND(cos, 6) with vec_id tiebreak: both engines
    * rank identical doubles identically, so the oracle is exact. */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topK = udaf(new graft.functions.TopKByScore(k))
    corpus.crossJoin(broadcast(queries.select(
        col("vec_id").as("q_id"), col("embedding").as("q_embedding"))))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosCol(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .groupBy("q_id")
      .agg(topK(col("cos_sim"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
        col("entry._2").as("vec_id"), col("entry._1").as("cos_sim"))
      .orderBy("q_id", "rk")
  }

  /** KNN join of the first 10 vectors against the full corpus, top-5 each. */
  def qKnnJoin(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    knnJoin(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_cosine_topk"   -> (qCosineTopK _),
    "q35_ann_lsh"       -> (qAnnLsh _),
    "q36_centroids"     -> (qCentroids _),
    "q37_embed_neardup" -> (qEmbedNearDup _),
    "q46_ivf_ann"       -> (qIvfAnn _),
    "q60_quantization"  -> (qQuantization _),
    "q86_knn_join"      -> (qKnnJoin _),
    "q133_semdedup"     -> (qSemDeDup _),
    "q134_semdedup_direct" -> (qSemDeDupDirect _),
    "q135_semdedup_kmeans" -> (qSemDeDupKMeans _),
  )

  // DuckDB twin of the sequential-fold cosine. list_inner_product sums in
  // a possibly different order; round(6) absorbs the ulp difference.
  private[similarity] def duckCos(a: String, b: String) =
    s"list_inner_product($a::DOUBLE[], $b::DOUBLE[]) / " +
    s"(sqrt(list_inner_product($a::DOUBLE[], $a::DOUBLE[])) * sqrt(list_inner_product($b::DOUBLE[], $b::DOUBLE[])))"

  /** The oracle of every [[annContract]] query (q35, q46, q104, q122,
    * q126, q129, q131): DuckDB recomputes each query's exact top-k (the
    * query itself kept) and its min cosine independently, and pins
    * n_ann = k and the floor boolean TRUE for every query in the list.
    * Every registered ANN query asks for k = 10. */
  private[similarity] def annContractOracle(
      queryIds: Seq[Long], batchMean: Boolean = false): String = s"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_embedding
               FROM embeddings
               WHERE vec_id IN (${queryIds.distinct.sorted.mkString(", ")})),
    ranked AS (
      SELECT q.q_id, e.vec_id,
             ROUND(${duckCos("e.embedding", "q_embedding")}, 6) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND(${duckCos("e.embedding", "q_embedding")}, 6) DESC,
                        e.vec_id) AS rn
      FROM embeddings e CROSS JOIN q)
    SELECT q_id, 10 AS k, CAST(10 AS BIGINT) AS n_ann,
           MIN(cos_sim) AS exact_topk_min_cos,
           TRUE AS ${annFloorColumn(batchMean)}
    FROM ranked WHERE rn <= 10 GROUP BY q_id ORDER BY q_id"""

  val oracles: Map[String, String] = {
    def cos(a: String, b: String) = duckCos(a, b)
    Map(
      "q35_ann_lsh" -> annContractOracle(Seq(0L)),
      "q46_ivf_ann" -> annContractOracle(Seq(0L)),
      "q34_cosine_topk" -> s"""
        WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, ROUND(${cos("embedding", "q_embedding")}, 6) AS cos_sim
        FROM embeddings CROSS JOIN q
        ORDER BY cos_sim DESC, vec_id LIMIT 20""",
      "q36_centroids" -> """
        WITH dims AS (
          SELECT label, unnest(range(len(embedding))) AS dim,
                 unnest(embedding::DOUBLE[]) AS v
          FROM embeddings),
        cent AS (
          SELECT label, dim, AVG(v) AS c FROM dims GROUP BY label, dim),
        norms AS (
          SELECT label, ROUND(sqrt(SUM(c * c)), 6) AS centroid_norm
          FROM cent GROUP BY label)
        SELECT label, (SELECT COUNT(*) FROM embeddings e WHERE e.label = norms.label) AS n_vecs,
               centroid_norm
        FROM norms ORDER BY label""",
      "q60_quantization" -> """
        WITH q AS (
          SELECT label,
                 list_transform(embedding::DOUBLE[], x ->
                   CAST(CAST(ROUND(x * 127.0 / amax) AS INT) AS DOUBLE) * amax / 127.0) AS deq,
                 embedding::DOUBLE[] AS emb_d
          FROM (SELECT label, embedding,
                       list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
                FROM embeddings))
        SELECT label, COUNT(*) AS n_vecs,
               ROUND(AVG(list_inner_product(emb_d, deq) /
                 (sqrt(list_inner_product(emb_d, emb_d)) * sqrt(list_inner_product(deq, deq)))), 6)
                 AS mean_cos_after_int8
        FROM q GROUP BY label ORDER BY label""",
      "q86_knn_join" -> s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_embedding
                   FROM embeddings WHERE vec_id < 10),
        pairs AS (
          SELECT q_id, vec_id,
                 ROUND(${cos("embedding", "q_embedding")}, 6) AS cos_sim
          FROM embeddings CROSS JOIN q WHERE vec_id <> q_id),
        ranked AS (
          SELECT q_id, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, vec_id) AS rk
          FROM pairs)
        SELECT q_id, CAST(rk AS INT) AS rk, vec_id, cos_sim
        FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""",
      // q35: LSH plane construction is engine-side → contract oracle only.
      // q37: the portable signature (md5-derived ±1 planes, fixed-point
      // integer dot) lets DuckDB rebuild the IDENTICAL buckets — the full
      // pair list is oracle-checked, not just a contract.
      "q37_embed_neardup" -> s"""
        WITH v AS (
          SELECT vec_id, i - 1 AS i,
                 CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT) AS vi
          FROM (SELECT vec_id, unnest(embedding) AS e,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
        w AS (
          SELECT p, i,
                 CASE WHEN CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END AS w
          FROM range(8) t(p) CROSS JOIN range(64) s(i)),
        sig AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sig
          FROM (SELECT vec_id, p, SUM(vi * w) AS dot
                FROM v JOIN w USING (i) GROUP BY vec_id, p)
          GROUP BY vec_id),
        pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 ROUND(${cos("ea.embedding", "eb.embedding")}, 6) AS cos_sim
          FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id)
        SELECT * FROM pairs ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 20""",
      // q133: the full SemDeDup pipeline recomputed end-to-end — portable
      // signature buckets (planes DERIVED from corpus size since r13 —
      // the np CTE counts the same integer doubling series as
      // derivePlanes, flooring at 8 for every shipped testdata size, so
      // results are unchanged there), INTEGER-exact τ=1/4 threshold edges
      // ((4·dab)² ≥ daa·dbb over the ⌊v·10⁶⌋ micro copies; HUGEINT on
      // DuckDB's side, DECIMAL(38,0) on Spark's — both exact at ≤ 10²⁸),
      // recursive-CTE connected components (q73's pattern), keeper =
      // component min, rolled up per planted label.
      "q133_semdedup" -> """
        WITH RECURSIVE v AS (
          SELECT vec_id, i - 1 AS i,
                 CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT) AS vi
          FROM (SELECT vec_id, unnest(embedding) AS e,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
        np AS (
          SELECT 8 + COUNT(*) AS np
          FROM range(23) dbl(j)
          WHERE 2000 * (1 << j) < (SELECT COUNT(*) FROM embeddings)),
        w AS (
          SELECT p, i,
                 CASE WHEN CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END AS w
          FROM range(31) t(p) CROSS JOIN range(64) s(i), np
          WHERE p < np.np),
        sig AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sig
          FROM (SELECT vec_id, p, SUM(vi * w) AS dot
                FROM v JOIN w USING (i) GROUP BY vec_id, p)
          GROUP BY vec_id),
        nrm AS (SELECT vec_id, SUM(vi * vi) AS dself FROM v GROUP BY vec_id),
        cand AS (
          SELECT a.vec_id AS va, b.vec_id AS vb
          FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id),
        dots AS (
          SELECT c.va, c.vb, SUM(x.vi * y.vi) AS dab
          FROM cand c
          JOIN v x ON x.vec_id = c.va
          JOIN v y ON y.vec_id = c.vb AND y.i = x.i
          GROUP BY c.va, c.vb),
        edges AS (
          SELECT va, vb FROM dots
          JOIN nrm na ON na.vec_id = va
          JOIN nrm nb ON nb.vec_id = vb
          WHERE dab >= 0
            AND (4 * CAST(dab AS HUGEINT)) * (4 * CAST(dab AS HUGEINT))
                >= CAST(na.dself AS HUGEINT) * CAST(nb.dself AS HUGEINT)),
        e2 AS (SELECT va AS s, vb AS d FROM edges
               UNION SELECT vb, va FROM edges),
        cc AS (
          SELECT vec_id AS id, vec_id AS lab FROM embeddings
          UNION
          SELECT e2.d AS id, cc.lab FROM cc JOIN e2 ON e2.s = cc.id),
        comp AS (SELECT id, MIN(lab) AS component FROM cc GROUP BY id)
        SELECT e.label, COUNT(*) AS n_vecs,
               CAST(SUM(CASE WHEN c.component = e.vec_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM embeddings e JOIN comp c ON c.id = e.vec_id
        GROUP BY e.label ORDER BY e.label""",
      // q134: the direct rule needs no recursion — dropped = "has any
      // smaller within-bucket τ-neighbor", one EXISTS over the same
      // integer-exact edge set q133's oracle builds. Since r13 the
      // planes dial is DERIVED from the corpus size (np CTE) with the
      // same integer-exact doubling count as Similarity.derivePlanes —
      // 8 + |{j ≥ 0 : 2000·2^j < n}| capped at 31 — so this oracle
      // stays the exact twin of the derived-default ingest at ANY
      // corpus size (at every shipped testdata size n ≤ 2000, so the
      // derived dial IS the portable 8 and results are unchanged).
      // q133's oracle carries the same np CTE — both rules' defaults
      // derive since r13 (fixed planes=8 was the measured chain-
      // collapse drift AND the one quadratic cost at sf1).
      // q135: the ENTIRE trained-clustering SemDeDup recomputed — the
      // portable k-means trainer (r14) made every trainer decision
      // engine-exact, so the oracle unrolls it: k dial (integer-exact
      // ceil-sqrt probe), md5-coin sample with the |sample| ≥ k
      // fallback, md5-rank init, three Lloyd iterations (integer dots,
      // ROW_NUMBER argmax = ties→lowest cid, exact integer sums,
      // 10⁻⁴ unit quantization via HUGEINT norm² + IEEE-pinned
      // floor(x·10⁴/√n² + ½), empty clusters carry forward), final
      // assignment over the full corpus, the 8× occupancy skew guard
      // with LSH sub-buckets (q133's sig CTE), then q133's
      // integer-exact τ=1/4 edges + recursive-CTE CC + per-label
      // rollup. Every float op here is a single IEEE operation on
      // identical operands in both engines — no order-dependent float
      // aggregation anywhere (norms are summed in HUGEINT first).
      "q135_semdedup_kmeans" -> """
        WITH RECURSIVE v AS MATERIALIZED (
          SELECT vec_id, i - 1 AS i,
                 CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT) AS vi
          FROM (SELECT vec_id, unnest(embedding) AS e,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
        params AS MATERIALIZED (
          SELECT n, ns,
                 GREATEST(16, LEAST(2048,
                   CASE WHEN s0 - 1 >= 0 AND 2*(s0-1)*(s0-1) >= 15*n THEN s0 - 1
                        WHEN 2*s0*s0 >= 15*n THEN s0
                        ELSE s0 + 1 END)) AS k
          FROM (SELECT COUNT(*) AS n,
                       SUM(CASE WHEN CAST(('0x' || substring(md5('km|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS ns,
                       CAST(floor(sqrt(7.5 * COUNT(*))) AS BIGINT) AS s0
                FROM embeddings)),
        samp AS MATERIALIZED (
          SELECT e.vec_id FROM embeddings e, params p
          WHERE p.ns < p.k
             OR CAST(('0x' || substring(md5('km|' || CAST(e.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0),
        seeds AS MATERIALIZED (
          SELECT vec_id, rk - 1 AS cid FROM (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rk
            FROM (SELECT vec_id,
                         CAST(('0x' || substring(md5('kminit|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
                  FROM samp))
          WHERE rk <= (SELECT k FROM params)),
        cent0 AS MATERIALIZED (
          SELECT s.cid, sv.i,
                 CASE WHEN q.n2 = 0 THEN 0
                      ELSE CAST(floor(CAST(sv.vi AS DOUBLE) * 10000.0 / sqrt(CAST(q.n2 AS DOUBLE)) + 0.5) AS BIGINT) END AS c
          FROM seeds s JOIN v sv ON sv.vec_id = s.vec_id
          JOIN (SELECT s2.cid, SUM(CAST(v2.vi AS HUGEINT) * v2.vi) AS n2
                FROM seeds s2 JOIN v v2 ON v2.vec_id = s2.vec_id
                GROUP BY s2.cid) q ON q.cid = s.cid),
        asg1 AS MATERIALIZED (
          SELECT vec_id, cid AS cluster FROM (
            SELECT t.vec_id, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY t.d DESC, t.cid) AS rk
            FROM (SELECT sv.vec_id, c.cid, SUM(sv.vi * c.c) AS d
                  FROM v sv JOIN samp sm ON sm.vec_id = sv.vec_id
                  JOIN cent0 c ON c.i = sv.i
                  GROUP BY sv.vec_id, c.cid) t)
          WHERE rk = 1),
        sums1 AS MATERIALIZED (
          SELECT a.cluster AS cid, sv.i, SUM(sv.vi) AS s
          FROM asg1 a JOIN v sv ON sv.vec_id = a.vec_id
          GROUP BY a.cluster, sv.i),
        cent1 AS MATERIALIZED (
          SELECT p.cid, p.i,
                 CASE WHEN q.cid IS NULL THEN p.c
                      WHEN q.n2 = 0 THEN 0
                      ELSE CAST(floor(CAST(s.s AS DOUBLE) * 10000.0 / sqrt(CAST(q.n2 AS DOUBLE)) + 0.5) AS BIGINT) END AS c
          FROM cent0 p
          LEFT JOIN sums1 s ON s.cid = p.cid AND s.i = p.i
          LEFT JOIN (SELECT cid, SUM(CAST(s AS HUGEINT) * s) AS n2
                     FROM sums1 GROUP BY cid) q ON q.cid = p.cid),
        asg2 AS MATERIALIZED (
          SELECT vec_id, cid AS cluster FROM (
            SELECT t.vec_id, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY t.d DESC, t.cid) AS rk
            FROM (SELECT sv.vec_id, c.cid, SUM(sv.vi * c.c) AS d
                  FROM v sv JOIN samp sm ON sm.vec_id = sv.vec_id
                  JOIN cent1 c ON c.i = sv.i
                  GROUP BY sv.vec_id, c.cid) t)
          WHERE rk = 1),
        sums2 AS MATERIALIZED (
          SELECT a.cluster AS cid, sv.i, SUM(sv.vi) AS s
          FROM asg2 a JOIN v sv ON sv.vec_id = a.vec_id
          GROUP BY a.cluster, sv.i),
        cent2 AS MATERIALIZED (
          SELECT p.cid, p.i,
                 CASE WHEN q.cid IS NULL THEN p.c
                      WHEN q.n2 = 0 THEN 0
                      ELSE CAST(floor(CAST(s.s AS DOUBLE) * 10000.0 / sqrt(CAST(q.n2 AS DOUBLE)) + 0.5) AS BIGINT) END AS c
          FROM cent1 p
          LEFT JOIN sums2 s ON s.cid = p.cid AND s.i = p.i
          LEFT JOIN (SELECT cid, SUM(CAST(s AS HUGEINT) * s) AS n2
                     FROM sums2 GROUP BY cid) q ON q.cid = p.cid),
        asg3 AS MATERIALIZED (
          SELECT vec_id, cid AS cluster FROM (
            SELECT t.vec_id, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY t.d DESC, t.cid) AS rk
            FROM (SELECT sv.vec_id, c.cid, SUM(sv.vi * c.c) AS d
                  FROM v sv JOIN samp sm ON sm.vec_id = sv.vec_id
                  JOIN cent2 c ON c.i = sv.i
                  GROUP BY sv.vec_id, c.cid) t)
          WHERE rk = 1),
        sums3 AS MATERIALIZED (
          SELECT a.cluster AS cid, sv.i, SUM(sv.vi) AS s
          FROM asg3 a JOIN v sv ON sv.vec_id = a.vec_id
          GROUP BY a.cluster, sv.i),
        cent3 AS MATERIALIZED (
          SELECT p.cid, p.i,
                 CASE WHEN q.cid IS NULL THEN p.c
                      WHEN q.n2 = 0 THEN 0
                      ELSE CAST(floor(CAST(s.s AS DOUBLE) * 10000.0 / sqrt(CAST(q.n2 AS DOUBLE)) + 0.5) AS BIGINT) END AS c
          FROM cent2 p
          LEFT JOIN sums3 s ON s.cid = p.cid AND s.i = p.i
          LEFT JOIN (SELECT cid, SUM(CAST(s AS HUGEINT) * s) AS n2
                     FROM sums3 GROUP BY cid) q ON q.cid = p.cid),
        fin AS MATERIALIZED (
          SELECT vec_id, cid AS cluster FROM (
            SELECT t.vec_id, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY t.d DESC, t.cid) AS rk
            FROM (SELECT sv.vec_id, c.cid, SUM(sv.vi * c.c) AS d
                  FROM v sv JOIN cent3 c ON c.i = sv.i
                  GROUP BY sv.vec_id, c.cid) t)
          WHERE rk = 1),
        occ AS MATERIALIZED (SELECT cluster, COUNT(*) AS cnt FROM fin GROUP BY cluster),
        hot AS MATERIALIZED (SELECT o.cluster FROM occ o, params p
                WHERE o.cnt > 8 * ((p.n + p.k - 1) // p.k)),
        np AS MATERIALIZED (
          SELECT 8 + COUNT(*) AS np
          FROM range(23) dbl(j)
          WHERE 2000 * (1 << j) < (SELECT n FROM params)),
        w AS MATERIALIZED (
          SELECT p, i,
                 CASE WHEN CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END AS w
          FROM range(31) t(p) CROSS JOIN range(64) s(i)
          WHERE p < (SELECT np FROM np)),
        lsh AS MATERIALIZED (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sig
          FROM (SELECT vec_id, p, SUM(vi * w) AS dot
                FROM v JOIN w USING (i) GROUP BY vec_id, p)
          GROUP BY vec_id),
        key AS MATERIALIZED (
          SELECT f.vec_id,
                 CASE WHEN h.cluster IS NOT NULL
                      THEN (CAST(f.cluster AS BIGINT) + 1) * 4294967296 + (l.sig & 4294967295)
                      ELSE CAST(f.cluster AS BIGINT) END AS sig
          FROM fin f LEFT JOIN hot h ON h.cluster = f.cluster
          LEFT JOIN lsh l ON l.vec_id = f.vec_id),
        nrm AS MATERIALIZED (SELECT vec_id, SUM(vi * vi) AS dself FROM v GROUP BY vec_id),
        cand AS MATERIALIZED (
          SELECT a.vec_id AS va, b.vec_id AS vb
          FROM key a JOIN key b ON a.sig = b.sig AND a.vec_id < b.vec_id),
        dots AS MATERIALIZED (
          SELECT c.va, c.vb, SUM(x.vi * y.vi) AS dab
          FROM cand c
          JOIN v x ON x.vec_id = c.va
          JOIN v y ON y.vec_id = c.vb AND y.i = x.i
          GROUP BY c.va, c.vb),
        edges AS MATERIALIZED (
          SELECT va, vb FROM dots
          JOIN nrm na ON na.vec_id = va
          JOIN nrm nb ON nb.vec_id = vb
          WHERE dab >= 0
            AND (4 * CAST(dab AS HUGEINT)) * (4 * CAST(dab AS HUGEINT))
                >= CAST(na.dself AS HUGEINT) * CAST(nb.dself AS HUGEINT)),
        e2 AS MATERIALIZED (SELECT va AS s, vb AS d FROM edges
               UNION SELECT vb, va FROM edges),
        cc AS (
          SELECT vec_id AS id, vec_id AS lab FROM embeddings
          UNION
          SELECT e2.d AS id, cc.lab FROM cc JOIN e2 ON e2.s = cc.id),
        comp AS (SELECT id, MIN(lab) AS component FROM cc GROUP BY id)
        SELECT e.label, COUNT(*) AS n_vecs,
               CAST(SUM(CASE WHEN c.component = e.vec_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM embeddings e JOIN comp c ON c.id = e.vec_id
        GROUP BY e.label ORDER BY e.label""",
      "q134_semdedup_direct" -> """
        WITH v AS (
          SELECT vec_id, i - 1 AS i,
                 CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT) AS vi
          FROM (SELECT vec_id, unnest(embedding) AS e,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
        np AS (
          SELECT 8 + COUNT(*) AS np
          FROM range(23) dbl(j)
          WHERE 2000 * (1 << j) < (SELECT COUNT(*) FROM embeddings)),
        w AS (
          SELECT p, i,
                 CASE WHEN CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END AS w
          FROM range(31) t(p) CROSS JOIN range(64) s(i)
          WHERE p < (SELECT np FROM np)),
        sig AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sig
          FROM (SELECT vec_id, p, SUM(vi * w) AS dot
                FROM v JOIN w USING (i) GROUP BY vec_id, p)
          GROUP BY vec_id),
        nrm AS (SELECT vec_id, SUM(vi * vi) AS dself FROM v GROUP BY vec_id),
        cand AS (
          SELECT a.vec_id AS va, b.vec_id AS vb
          FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id),
        dots AS (
          SELECT c.va, c.vb, SUM(x.vi * y.vi) AS dab
          FROM cand c
          JOIN v x ON x.vec_id = c.va
          JOIN v y ON y.vec_id = c.vb AND y.i = x.i
          GROUP BY c.va, c.vb),
        dup AS (
          SELECT DISTINCT vb AS vec_id FROM dots
          JOIN nrm na ON na.vec_id = va
          JOIN nrm nb ON nb.vec_id = vb
          WHERE dab >= 0
            AND (4 * CAST(dab AS HUGEINT)) * (4 * CAST(dab AS HUGEINT))
                >= CAST(na.dself AS HUGEINT) * CAST(nb.dself AS HUGEINT))
        SELECT e.label, COUNT(*) AS n_vecs,
               CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM embeddings e LEFT JOIN dup d ON d.vec_id = e.vec_id
        GROUP BY e.label ORDER BY e.label""",
    )
  }
}
