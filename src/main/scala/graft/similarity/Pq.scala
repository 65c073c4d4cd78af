package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructType}

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the memory-side half of large-scale
  * ANN, complementing IVF's compute-side pruning:
  *
  *   - split each d-dim vector into M subvectors of d/M dims;
  *   - learn an independent K-centroid codebook per subspace (sampled
  *     Lloyd's iterations, the [[Similarity.trainCentroids]] discipline);
  *   - store each vector as M small codes (here M=16, K=16 → 16 nibbles vs
  *     64 float32s: a 32× compression of the scan payload);
  *   - answer queries by ADC (asymmetric distance computation): a query
  *     builds an M×K table of exact subspace distances once, then every
  *     encoded vector scores as M table lookups — no float math per
  *     candidate at all.
  *
  * Scale shape: training touches a bounded sample (one aggregation per
  * Lloyd iteration — codes for all M subspaces are computed in one
  * projection, so the update is ONE posexplode + groupBy job, not M);
  * encoding is a map-only projection with the codebooks as plan literals
  * (no join, no shuffle); an ADC query is a map-only projection + top-k
  * (TakeOrderedAndProject) over codes the size of a cache line. The
  * shuffle carries k rows per partition, the scan reads 8 bytes per
  * vector: exactly the plan you want against 10^11 vectors.
  *
  * Hash-seeded init + fixed iteration count keep the whole pipeline
  * deterministic (same data + same seed = same codebooks, codes, and
  * neighbors) — the reproducibility contract of ops.Splits.
  */
object Pq {

  /** codebooks(m)(k) = centroid k of subspace m (length dim/M each). */
  type Codebooks = Array[Array[Array[Float]]]

  private def subDim(dim: Int, m: Int): Int = {
    require(dim % m == 0, s"pq: dim $dim not divisible by M=$m")
    dim / m
  }

  /** THE proportional-shortlist formula (k·refine candidates, sized from
    * the corpus — fixed below 20k vectors, a fixed fraction above; the
    * r7 scale fix): one definition so the contract multiplier
    * recalibrations (q126 went 1×→2× in r10 when sf1 content caught a
    * query under the floor) cannot leave a stale copy behind. */
  def proportionalShortlist(corpusSize: Long, mult: Int = 1): Int =
    mult * math.max(10L, corpusSize / 2000).toInt

  /** Bit-exact float-row codec for standing-index model payloads
    * (ops.Standing markers): floats ride as raw int bits, so a reused
    * model is byte-identical to the one that trained — shared by the
    * PQ and IVF-PQ serializers so the format cannot fork. */
  private[similarity] def floatRowHex(v: Array[Float]): String =
    v.map(f => Integer.toHexString(java.lang.Float.floatToRawIntBits(f)))
      .mkString(",")

  private[similarity] def parseFloatRowHex(s: String): Array[Float] =
    s.split(",").map(x =>
      java.lang.Float.intBitsToFloat(Integer.parseUnsignedInt(x, 16)))

  /** Encode every vector as an array<int> of M codes — map-only, one
    * codegen'd [[graft.functions.PqEncodeCodes]] expression per row
    * (codebooks ride a plan reference object), not M×K inlined argmin
    * terms. argmin ||x−c||² = argmax (x·c − ||c||²/2), ties toward the
    * LOWEST code — bit-identical to the expression-tree form it
    * replaced (AssignmentSpec pins it), but the plan is O(1) in M·K,
    * which is what makes the literature-standard K=256 codebooks
    * feasible (the tree form was 4096 terms there). */
  def encode(emb: DataFrame, books: Codebooks): DataFrame =
    emb.withColumn("codes",
      graft.functions.exprs.pqEncodeCodes(col("embedding"), books))

  /** Sampled Lloyd's k-means per subspace. All M subspaces update from a
    * single posexplode aggregation per iteration: explode (dim, v), derive
    * (subspace = dim div sub, within = dim mod sub), group by
    * (subspace, code_of_that_subspace, within) → mean. */
  /** `fanout > 0`: repartition the persisted training sample to that many
    * partitions before the Lloyd iterations. Every iteration evaluates
    * M×K argmin scorings per vector (CPU-dense, tiny payload), so on big
    * corpora parallelism should come from cores, not the source file
    * layout — at sf10 the embeddings parquet yields 14 read partitions
    * and the training stages ran at 14/32 of the box (probed: ~9 s CPU
    * per iteration squeezed through 14 tasks; 22.8→12.5 s steady with the
    * fan-out). On SMALL corpora the exchange costs more than it buys
    * (q104 at sf0.1 went 1.7× over its typical with an unconditional
    * repartition), so the caller gates it by size — [[adcTopK]] turns it
    * on from its corpus count. 0 keeps the source partitioning. */
  def trainCodebooks(emb: DataFrame, m: Int = 16, k: Int = 16, iters: Int = 2,
                     fraction: Double = 0.5, seed: Long = 42L,
                     fanout: Int = 0): Codebooks = {
    val sampled = emb.sample(fraction, seed).select("vec_id", "embedding")
    val sample = (if (fanout > 0) sampled.repartition(fanout) else sampled)
      .persist()
    try {
      val init = sample
        .withColumn("h", xxhash64(col("vec_id"), lit(seed)))
        .orderBy("h", "vec_id").limit(k)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      require(init.length == k, s"pq: sample too small for K=$k init")
      val dim = init.head.length
      val sub = subDim(dim, m)
      var books: Codebooks = Array.tabulate(m, k)((mi, ki) =>
        java.util.Arrays.copyOfRange(init(ki), mi * sub, (mi + 1) * sub))
      for (_ <- 1 to iters) {
        val means = encode(sample, books)
          .select(col("codes"), posexplode(col("embedding")).as(Seq("d", "v")))
          .withColumn("m", (col("d") / sub).cast("int"))
          .withColumn("w", (col("d") % sub).cast("int"))
          .withColumn("code", element_at(col("codes"), col("m") + 1))
          .groupBy("m", "code", "w")
          .agg(avg(col("v").cast("double")).as("mean"))
          .collect()                         // m × k × sub rows: the model
        val next = Array.tabulate(m, k)((mi, ki) => books(mi)(ki).clone())
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
        }
        books = next                         // empty clusters keep old cents
      }
      books
    } finally { sample.unpersist(); () }
  }

  /** PQ-ANN, the production two-stage shape: ADC SHORTLIST → exact
    * re-rank.
    *
    * Stage 1 (ADC): exact subspace distances ||q_m − c||² are tabulated
    * once from the query (M×K literals in the plan); every encoded vector
    * scores as M table lookups summed in fixed subspace order
    * (deterministic) — a scan over M-byte codes, never the float vectors.
    * Stage 2: only the k·refine shortlist rows are re-scored with exact
    * cosine against the full vectors (a broadcast semi-join back into the
    * corpus — at 100 TB this is the only stage that touches float data,
    * and it touches k·refine rows of it).
    *
    * For unit-norm vectors argmin L2 ≡ argmax cosine, so the shortlist
    * approximates [[Similarity.bruteForceTopK]]'s ranking and the re-rank
    * restores exact ordering within it.
    *
    * `refine ≤ 0` (the default) sizes the shortlist FROM THE CORPUS:
    * k·max(10, n/2000) candidates, i.e. a fixed shortlist below 20k
    * vectors and a fixed 0.5% FRACTION above. A constant shortlist is a
    * scale bug the round-7 sf10 oracle run caught: quantization noise is
    * scale-free, so the number of ADC near-ties competing with the true
    * top-k grows linearly with the corpus, and at 200k vectors the fixed
    * 100-row shortlist dropped single-query recall below the 0.6
    * contract floor (0.8–0.9 at ≤ 20k). Proportional sizing
    * restored recall_ok at sf10 while leaving every smaller sf's plan
    * and output byte-identical; the re-rank stage still touches only
    * shortlist rows (broadcast-sized: 0.5% of the corpus). */
  def adcTopK(emb: DataFrame, queryVecId: Long, k: Int,
              m: Int = 16, km: Int = 16, refine: Int = 0): DataFrame = {
    // One corpus count drives BOTH size-adaptive decisions: the shortlist
    // budget (scale-proportional, see Scaladoc) and whether the CPU-dense
    // train/encode stages are worth a repartition to cores. The threshold
    // is set by three measured points (fork-isolated, local[32]): at 20k
    // vectors the exchange made the query 1.7× of typical, at 100k still
    // ~1.2× (the count job + two exchanges are fixed overhead a 4-second
    // query can't amortize), at 200k it wins 1.7× (22.8→13.5 s steady).
    // 128k splits the measured regimes.
    val n = emb.count()
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val fanout = if (n >= graft.Tuning.PqFanoutGateVectors) par else 0
    val books = trainCodebooks(emb, m, km, fanout = fanout)
    val refine2 = if (refine > 0) refine else proportionalShortlist(n)
    // The shortlist scan encodes + ADC-scores every vector (M×K argmin
    // structs per row — CPU-dense, ~100 B/row payload); on big corpora
    // fan it out to cores rather than the source file count (same gate as
    // the training-sample fanout). In production the codes are
    // PRE-ENCODED at ingest ([[adcTopKOnCodes]], q122) and the scan reads
    // M bytes/vector at file parallelism; encode-on-the-fly is the
    // demo-shape cost.
    val embP = if (fanout > 0) emb.repartition(fanout) else emb
    adcTopKOnCodes(encode(embP, books).select("vec_id", "codes"),
      emb, queryVecId, k, books, refine2)
  }

  /** ADC query over a PRE-ENCODED codes table — the production hot path.
    * [[adcTopK]] encodes on the fly (demo shape); at 10^11 vectors the
    * codes are computed once at ingest ([[encode]] → parquet) and every
    * query is: build the M×K distance table from the query vector
    * (driver-side, plan literals), scan M-byte codes summing table
    * lookups, TakeOrdered the proportional shortlist, then touch float
    * vectors only for the shortlist re-rank. Nothing in this plan reads
    * an embedding outside the k·refine broadcast — scan payload is the
    * codes column, 32× smaller than the vectors.
    *
    * Callers with a standing index should pass `corpusSize` (qPqScan
    * already counts at ingest): the proportional-shortlist default
    * otherwise runs a codes.count() job per query — one extra full scan
    * on what is documented as the production hot path. */
  def adcTopKOnCodes(codes: DataFrame, emb: DataFrame, queryVecId: Long,
                     k: Int, books: Codebooks,
                     refine: Int = 0, corpusSize: Long = -1L,
                     observeName: String = "pq"): DataFrame = {
    val m = books.length
    val sub = books.head.head.length
    val refine2 =
      if (refine > 0) refine
      else proportionalShortlist(
        if (corpusSize >= 0L) corpusSize else codes.count())
    val q = emb.filter(col("vec_id") === queryVecId)
      .select("embedding").head().getSeq[Float](0).toArray
    val table: Seq[Seq[Double]] = books.zipWithIndex.map { case (cents, mi) =>
      cents.map { c =>
        var s = 0.0
        var i = 0
        while (i < sub) {
          val dlt = q(mi * sub + i).toDouble - c(i)
          s += dlt * dlt
          i += 1
        }
        s
      }.toSeq
    }.toSeq
    val t = typedlit(table)
    val adc = (0 until m).map(mi =>
        element_at(element_at(t, mi + 1), element_at(col("codes"), mi + 1) + 1))
      .reduce(_ + _)
    val shortlist = codes
      .filter(col("vec_id") =!= queryVecId)
      .withColumn("adc_dist", adc)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k * refine2)
      .select("vec_id")
      // zero-extra-pass volume counter: the shortlist size IS the scale
      // dial of this plan (proportional sizing, r7) — the bench artifact
      // carries it so a q104/q122 wall-time flag arrives with its volume.
      // Name parameterized: callers composing several single-query plans
      // into one frame (IvfPq's batch) need unique observation names.
      .observe(observeName, count(lit(1)).as("shortlist_rows"))
    emb.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(emb.filter(col("vec_id") === queryVecId)
        .select(col("embedding").as("q_embedding"))))
      .select(col("vec_id"),
        round(Similarity.cosCol(col("embedding"), col("q_embedding")), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched ADC: ONE codes scan answers a whole query batch — the
    * production retrieval shape ([[adcTopK]]/[[adcTopKOnCodes]] answer a
    * single query per scan; real serving amortizes the scan, which at
    * 10^11 vectors is the entire cost, over every query in the batch).
    *
    * Plan: all Q per-query M×K distance tables ride the plan as ONE 3-D
    * literal (Q·M·K doubles — model-sized); each codes row computes its Q
    * ADC distances in a single projection (fixed subspace order → sums
    * bit-identical to the single-query plan) and posexplodes to
    * (query, dist) pairs MAP-SIDE; per-query shortlists come from the
    * bounded [[graft.functions.TopKByScore]] aggregate, so the only
    * shuffle after the scan is O(Q × k·refine) buffer rows — never the
    * N×Q scored pairs (a window row_number here would sort all of them:
    * the knnJoin anti-pattern note). The exact re-rank then touches float
    * vectors for the Q·k·refine shortlist rows only, with both the
    * shortlist and the Q query vectors broadcast.
    *
    * Per query, the output is IDENTICAL to [[adcTopKOnCodes]] — same
    * shortlist set (TopKByScore's (score desc, id asc) == (adc_dist asc,
    * vec_id asc)), same re-rank order — PqSpec pins batch == Q
    * single-query runs row-for-row. Returns (q_id, rk, vec_id, cos_sim).
    *
    * Batches larger than `maxChunk` ([[graft.Tuning.AdcBatchMaxQ]]) are
    * CHUNKED into independent sub-batch scans and unioned. HISTORY: the
    * ceiling existed because the pre-r12 Q-wide projection defeated
    * codegen past Q≈64 (Q=256 one-plan ran slower than 256 singles and
    * OOM'd a 16 GB driver); the r12 explode-first scorer keeps the
    * generated code M-sized at any Q, remeasured one-plan FASTER than
    * chunked to Q=256 (18.5 vs 24.1 s sf0.1; 22.0 vs 25.9 s sf1 —
    * every chunk on this path is a full extra codes scan), and the
    * default rose 32 → 256. r13 swept the remaining ceiling — the
    * distance-table literal — to Q=2000 and removed it too: the r12
    * shape serialized M copies of the whole Q×M×K literal into every
    * task binary (one per sum term — 59 KB/query, 117.9 MiB and 183 s
    * at Q=2000); per-subspace literals ([[adcSubspaceTableCols]]) are
    * each referenced once, task binary ~3.8 KB/query, one-plan wall
    * LINEAR through the full corpus (2.6/4.6/8.6/23.3 s at Q=256/512/
    * 1024/2000), and the default rose 256 → 2048. Queries are
    * independent, so chunking is result-invariant (SimilaritySpec pins
    * chunked == unchunked) and the scan count grows only as
    * ceil(Q / maxChunk). */
  def adcTopKBatch(codes: DataFrame, emb: DataFrame, queryIds: Seq[Long],
                   k: Int, books: Codebooks, refine: Int = 0,
                   corpusSize: Long = -1L,
                   maxChunk: Int = graft.Tuning.AdcBatchMaxQ): DataFrame = {
    require(queryIds.nonEmpty, "adcTopKBatch: empty query batch")
    require(maxChunk > 0, "adcTopKBatch: maxChunk must be positive")
    if (queryIds.distinct.size > maxChunk) {
      // one codes.count() for the whole batch, not per chunk
      val n = if (corpusSize >= 0L) corpusSize else codes.count()
      return queryIds.distinct.sorted.grouped(maxChunk).zipWithIndex
        .map { case (chunk, i) =>
          adcTopKBatchOne(codes, emb, chunk, k, books, refine, n,
            observeName = s"pq_batch_c$i")
        }
        .reduce(_ unionByName _)
        .orderBy("q_id", "rk")
    }
    adcTopKBatchOne(codes, emb, queryIds, k, books, refine, corpusSize,
      observeName = "pq_batch")
  }

  private def adcTopKBatchOne(codes: DataFrame, emb: DataFrame,
                              queryIds: Seq[Long], k: Int, books: Codebooks,
                              refine: Int, corpusSize: Long,
                              observeName: String): DataFrame = {
    val refine2 =
      if (refine > 0) refine
      else proportionalShortlist(
        if (corpusSize >= 0L) corpusSize else codes.count())
    val qIds = queryIds.distinct.sorted
    val qVecs = collectQueryVecs(emb, qIds)
    val pairs = adcPairs(codes, books, qIds, qVecs)
      .select("vec_id", "qi", "adc_dist")
    batchShortlistRerank(pairs, emb, qIds, k, refine2, observeName)
  }

  /** The Q query vectors: a model-sized driver pull (the query BATCH is
    * small by definition; the corpus never leaves the executors). */
  private[similarity] def collectQueryVecs(
      emb: DataFrame, qIds: Seq[Long]): Map[Long, Array[Float]] = {
    val qVecs = emb.filter(col("vec_id").isInCollection(qIds))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    require(qVecs.size == qIds.size,
      s"batch query: missing query vectors for ${qIds.filterNot(qVecs.contains)}")
    qVecs
  }

  /** Map-side batch scoring: every codes row explodes to Q
    * (qi, adc_dist) pairs — all Q M×K distance tables ride the plan as
    * ONE 3-D literal ([[adcTables]]), the lookup keyed by the qi COLUMN
    * ([[adcSumAtQi]] — one M-term sum at any Q), sums in fixed subspace
    * order (bit-identical to the single-query plan), each query's own
    * row excluded. (The IVF-PQ batch path has its own prober-restricted
    * explode in IvfPq — it no longer routes through here.) */
  private[similarity] def adcPairs(codes: DataFrame, books: Codebooks,
                                   qIds: Seq[Long],
                                   qVecs: Map[Long, Array[Float]]): DataFrame = {
    val ts = adcSubspaceTableCols(books, qIds, qVecs)
    val qIdsLit = typedlit(qIds)
    // Explode qi FIRST, then score with qi as a runtime COLUMN (r12) —
    // the previous shape posexploded a Q-wide array of per-query
    // expressions, so the generated projection grew Q×M element_at
    // chains wide and defeated whole-stage codegen past Q≈64 (the
    // measured AdcBatchMaxQ ceiling, BENCHMARKS.md "ADC batch-size
    // sweep": Q=256 single-plan ran 0.75× of SINGLES and OOM'd a 16 GB
    // driver on a JIT deopt of the giant method). With the lookup keyed
    // by the qi column, the generated code is ONE M-term sum at any Q —
    // same (row, qi) pair multiset, same distances (PqSpec pins batch ==
    // singles row-for-row).
    codes
      .select(col("*"),
        explode(typedlit(qIds.indices.toList)).as("qi"))
      .withColumn("adc_dist", adcSumAtQi(ts))
      .filter(element_at(qIdsLit, col("qi") + 1) =!= col("vec_id"))
  }

  /** The Q×M×K raw ADC distance tables (squared-distance contribution of
    * each (query, subspace, code) cell) — ONE definition shared by the
    * flat batch scorer above and IvfPq's raw batch path, so the
    * "bit-identical to the single-query plan" guarantee lives in one
    * place (r12 review find: the builder had been duplicated verbatim). */
  private[similarity] def adcTables(
      books: Codebooks, qIds: Seq[Long],
      qVecs: Map[Long, Array[Float]]): Seq[Seq[Seq[Double]]] = {
    val sub = books.head.head.length
    qIds.map { id =>
      val q = qVecs(id)
      books.zipWithIndex.map { case (cents, mi) =>
        cents.map { c =>
          var s = 0.0
          var i = 0
          while (i < sub) {
            val dlt = q(mi * sub + i).toDouble - c(i)
            s += dlt * dlt
            i += 1
          }
          s
        }.toSeq
      }.toSeq
    }
  }

  /** The M per-subspace Q×K distance-table literals, transposed from
    * [[adcTables]] (which stays the ONE definition of the cell values).
    *
    * WHY PER-SUBSPACE, not one 3-D literal (r13, the measured Q ceiling
    * of the r12 explode-first rewrite): Catalyst serializes each
    * `element_at(... element_at(t, ...))` term with its OWN copy of the
    * literal it references, so an M-term sum over one Q×M×K literal
    * ships M×Q×M×K doubles in every task binary — measured 59 KB/query
    * (117.9 MiB task binary at Q=2000, M=K=16) against 2 KB/query of
    * raw table bytes. Giving each sum term its own Q×K literal makes
    * every literal referenced exactly once: the task binary drops to
    * the raw model size (~2 KB/query, re-measured in BENCHMARKS r13)
    * with the generated code unchanged — still one M-term sum, still
    * fixed subspace order, bit-identical distances. */
  private[similarity] def adcSubspaceTableCols(
      books: Codebooks, qIds: Seq[Long],
      qVecs: Map[Long, Array[Float]]): IndexedSeq[Column] = {
    val t = adcTables(books, qIds, qVecs)
    books.indices.map(mi => typedlit(t.map(_(mi))))
  }

  /** The qi-COLUMN-keyed M-term ADC sum over per-subspace table
    * literals — the expression shape that keeps generated code M-sized
    * at any Q, and (since r13) each literal single-referenced so the
    * task binary stays model-sized at any Q too. */
  private[similarity] def adcSumAtQi(ts: Seq[Column]): Column =
    ts.zipWithIndex.map { case (tmi, mi) =>
      element_at(element_at(tmi, col("qi") + 1),
        element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)

  /** Bounded per-query shortlists + exact re-rank over scored
    * (vec_id, qi, adc_dist) pairs: the only shuffle after the scan is
    * O(Q × k·refine) TopKByScore buffer rows — never the N×Q scored
    * pairs (a window row_number here would sort all of them: the
    * knnJoin anti-pattern note); the re-rank touches float vectors for
    * the shortlist rows only, shortlist and query vectors broadcast.
    * Returns (q_id, rk, vec_id, cos_sim). */
  private[similarity] def batchShortlistRerank(pairs: DataFrame,
                                               emb: DataFrame,
                                               qIds: Seq[Long], k: Int,
                                               refine2: Int,
                                               observeName: String): DataFrame = {
    val qIdsLit = typedlit(qIds)
    val shortTopK = udaf(new graft.functions.TopKByScore(k * refine2))
    val shortlist = pairs
      .groupBy("qi")
      // negated distance: TopKByScore keeps (score desc, id asc) ==
      // (adc_dist asc, vec_id asc), the single-query shortlist order
      .agg(shortTopK(-col("adc_dist"), col("vec_id")).as("top"))
      .select(element_at(qIdsLit, col("qi") + 1).as("q_id"),
        explode(col("top")).as("entry"))
      .select(col("q_id"), col("entry._2").as("vec_id"))
      // zero-extra-pass volume counter (the q104/q122 discipline): total
      // shortlist pairs across the batch = Q × k·refine when healthy;
      // the name is chunk-indexed when the batch is split (observation
      // names must be unique within one plan)
      .observe(observeName, count(lit(1)).as("shortlist_pairs"))
    val qSide = emb.filter(col("vec_id").isInCollection(qIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val finalTopK = udaf(new graft.functions.TopKByScore(k))
    emb.join(broadcast(shortlist), "vec_id")
      .join(broadcast(qSide), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(Similarity.cosCol(col("embedding"), col("q_embedding")), 6)
          .as("cos_sim"))
      .groupBy("q_id")
      .agg(finalTopK(col("cos_sim"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
        col("entry._2").as("vec_id"), col("entry._1").as("cos_sim"))
      .orderBy("q_id", "rk")
  }

  /** PQ-ANN top-10 for query vec_id=0, as its oracle-checkable contract
    * ([[graft.similarity.Similarity.annContract]], floor calibrated from
    * measured 0.8–0.9 single-query recall); the raw neighbor list and
    * determinism stay spec-pinned in SimilaritySpec. */
  def qPqAnn(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    graft.similarity.Similarity.annContract(
      adcTopK(emb, queryVecId = 0L, k = 10), emb, 0L, 10, minRecall = 0.6)
  }

  /** q122: the ingest-then-scan split made real — codes encoded once,
    * persisted to parquet, re-read, and queried via [[adcTopKOnCodes]];
    * the same recall contract as q104 holds because the codes are
    * byte-identical to the in-flight encode (PqSpec pins encode
    * determinism). The write is the ingest-time cost a standing index
    * amortizes over every query. */
  def qPqScan(spark: SparkSession, d: String): DataFrame = {
    val (books, n, root) = pqIngest(spark, d)
    pqQuery(spark, d, root, books, n)
  }

  /** q122's INGEST phase alone: train codebooks, encode the corpus, write
    * the codes table — the one-time cost a standing index amortizes.
    * Returns (codebooks, corpus size, codes path): everything the query
    * phase needs so it never re-reads an embedding or re-counts. Split
    * from [[pqQuery]] so the two phases can be TIMED apart — the
    * registered q122 number is the honest ingest+query total, but a
    * regression gate that only sees the sum hides a scan-path (production
    * hot path) regression inside training noise; tools.PqBench times each
    * side, BENCHMARKS.md records them.
    *
    * STANDS between calls (r9 verdict item): a completed ingest writes a
    * content-addressed validity marker ([[graft.ops.Standing]]) carrying
    * the corpus fingerprint, size, and the codebooks (floats as raw bits
    * — a reused model encodes byte-identically), so a second call on the
    * same (dataset, app) root returns without a single Spark job —
    * q122 + q126 in one bench run now pay training and the encode scan
    * once, not twice (PqSpec pins reuse; any rewrite of the embeddings
    * parquet invalidates the fingerprint and rebuilds). */
  def pqIngest(spark: SparkSession, d: String,
               root0: String = null): (Codebooks, Long, String) = {
    // collision-free default: keyed by (dataset, app id) — a fixed name
    // let two concurrent drivers cross-read each other's codes (r8 flag)
    val root =
      if (root0 != null) root0 else graft.ops.Scratch.root(spark, d, "pq_codes")
    val fp = graft.ops.Standing.fingerprint(s"$d/embeddings.parquet")
    graft.ops.Standing.validPayload(root, fp) match {
      case Some(payload) =>
        val (books, n) = parseModel(payload)
        (books, n, root)
      case None =>
        val emb = Tables.embeddings(spark, d)
        val n = emb.count()
        val par = emb.sparkSession.sparkContext.defaultParallelism
        val fanout = if (n >= graft.Tuning.PqFanoutGateVectors) par else 0
        val books = trainCodebooks(emb, fanout = fanout)
        val embP = if (fanout > 0) emb.repartition(fanout) else emb
        encode(embP, books).select("vec_id", "codes")
          .write.mode("overwrite").parquet(root)
        graft.ops.Standing.markValid(root, fp, modelPayload(books, n))
        (books, n, root)
    }
  }

  /** The standing codes table's schema as [[pqIngest]] writes it and
    * parquet reads it back (every field nullable). [[pqCodes]] reads with
    * it, so a serving call runs no footer-inference job (SimilaritySpec
    * pins it against the inferred schema). */
  val PqCodesSchema: StructType = new StructType()
    .add("vec_id", LongType).add("codes", ArrayType(IntegerType))

  /** SCAN half: the standing codes table (vec_id, codes). */
  def pqCodes(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(PqCodesSchema).parquet(root)

  /** Bit-exact model serialization for the validity-marker payload
    * ([[floatRowHex]] rows), so a REUSED model is byte-identical to the
    * one the build trained — encode determinism (PqSpec) then makes the
    * standing codes and any re-encode agree exactly. */
  private def modelPayload(books: Codebooks, n: Long): String = {
    val sb = new StringBuilder
    sb.append(n).append('\n')
    sb.append(books.length).append(' ').append(books.head.length).append('\n')
    for (m <- books; cent <- m) {
      sb.append(floatRowHex(cent))
      sb.append('\n')
    }
    sb.toString
  }

  private def parseModel(payload: String): (Codebooks, Long) = {
    val lines = payload.split("\n")
    val n = lines(0).toLong
    val dims = lines(1).split(" ")
    val (m, k) = (dims(0).toInt, dims(1).toInt)
    val books: Codebooks = Array.tabulate(m, k)((mi, ki) =>
      parseFloatRowHex(lines(2 + mi * k + ki)))
    (books, n)
  }

  /** q122's QUERY phase alone: ADC scan over the standing codes table +
    * shortlist re-rank, wrapped in the recall contract. Touches the
    * embeddings only for the query vector and the k·refine shortlist. */
  def pqQuery(spark: SparkSession, d: String, root: String,
              books: Codebooks, n: Long): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val codes = pqCodes(spark, root)
    graft.similarity.Similarity.annContract(
      adcTopKOnCodes(codes, emb, queryVecId = 0L, k = 10, books,
        corpusSize = n),
      emb, 0L, 10, minRecall = 0.6)
  }

  /** Per-query [[Similarity.annContract]] over a batched ANN result — one
    * contract row per query, same columns/convention as the single-query
    * contract (the exact side KEEPS the query itself, as bruteForceTopK
    * does; the recall floors are calibrated against that). The exact side
    * is one corpus scan for the whole batch (broadcast query side +
    * bounded top-k aggregate — the knnJoin shape), so the oracle check
    * itself scales the way the engine does. */
  def annContractBatch(ann: DataFrame, emb: DataFrame, queryIds: Seq[Long],
                       k: Int, minRecall: Double): DataFrame = {
    val qIds = queryIds.distinct.sorted
    val qSide = emb.filter(col("vec_id").isInCollection(qIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val topK = udaf(new graft.functions.TopKByScore(k))
    val bf = emb.crossJoin(broadcast(qSide))
      .select(col("q_id"), col("vec_id"),
        round(Similarity.cosCol(col("embedding"), col("q_embedding")), 6)
          .as("cos_sim"))
      .groupBy("q_id").agg(topK(col("cos_sim"), col("vec_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("entry"))
      .select(col("q_id"), col("entry._2").as("vec_id"),
        col("entry._1").as("cos_sim"))
    ann.select(col("q_id"), col("vec_id")).withColumn("in_ann", lit(1))
      .join(bf.withColumn("in_bf", lit(1)), Seq("q_id", "vec_id"), "full_outer")
      .groupBy("q_id")
      .agg(count(col("in_ann")).as("n_ann"),
        count(when(col("in_ann").isNotNull &&
          col("in_bf").isNotNull, 1)).as("n_hits"),
        min(col("cos_sim")).as("exact_topk_min_cos"))
      .select(col("q_id"), lit(k).as("k"), col("n_ann"),
        col("exact_topk_min_cos"),
        (col("n_hits").cast("double") / k >= minRecall).as("recall_ok"))
      .orderBy("q_id")
  }

  /** q126: batched ADC over the standing codes table — one index scan
    * answers four queries, each held to the same recall contract as the
    * single-query q104/q122 (floor 0.5: measured per-query recall of the
    * md5-seeded codebooks on the synthetic vectors is 0.6–0.9 across
    * sf0.001–0.1 for vec_ids 0–3; single-query recall on near-random
    * vectors is intrinsically modest — annContract scaladoc).
    *
    * Shortlist = 2× the single-query proportional default: per-query
    * recall with the 1× shortlist is corpus-luck in the 0.4–0.9 band,
    * and the sf1 validation caught q_id 2 just under the 0.5 floor (r10).
    * A longer shortlist monotonically improves recall (the re-rank picks
    * exact top-k from a superset), and in the batch its marginal cost is
    * post-scan only — O(Q × k·refine) shuffle rows, never another pass
    * over the codes — which is exactly the trade a batch that already
    * amortized the scan should spend. */
  def qPqBatch(spark: SparkSession, d: String): DataFrame = {
    val (books, n, root) = pqIngest(spark, d)
    val emb = Tables.embeddings(spark, d)
    val codes = pqCodes(spark, root)
    val qIds = Seq(0L, 1L, 2L, 3L)
    val refine = proportionalShortlist(n, mult = 2)
    annContractBatch(
      adcTopKBatch(codes, emb, qIds, k = 10, books, refine = refine,
        corpusSize = n),
      emb, qIds, 10, minRecall = 0.5)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q104_pq_ann" -> (qPqAnn _),
    "q122_pq_scan" -> (qPqScan _),
    "q126_pq_batch" -> (qPqBatch _))

  /** q126's oracle: the per-query exact top-k contract — DuckDB
    * recomputes each query's brute-force top-10 min cosine and pins
    * n_ann = k and recall_ok TRUE for every query in the batch. */
  private val annContractBatchOracle: String = s"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_embedding
               FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
    ranked AS (
      SELECT q.q_id, e.vec_id,
             ROUND(${Similarity.duckCos("e.embedding", "q_embedding")}, 6) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND(${Similarity.duckCos("e.embedding", "q_embedding")}, 6) DESC,
                        e.vec_id) AS rn
      FROM embeddings e CROSS JOIN q)
    SELECT q_id, 10 AS k, CAST(10 AS BIGINT) AS n_ann,
           MIN(cos_sim) AS exact_topk_min_cos, TRUE AS recall_ok
    FROM ranked WHERE rn <= 10 GROUP BY q_id ORDER BY q_id"""

  val oracles: Map[String, String] = Map(
    "q104_pq_ann" -> Similarity.annContractOracle,
    "q122_pq_scan" -> Similarity.annContractOracle,
    "q126_pq_batch" -> annContractBatchOracle)
}
