package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructType}

/** IVF-PQ: the composed production ANN index (the FAISS "IVFADC" shape —
  * Jégou et al., TPAMI 2011, §V) this library's two halves were built
  * toward: IVF coarse clustering prunes COMPUTE (a query probes nprobe of
  * k cluster partitions instead of scanning the corpus) while PQ codes
  * shrink the SCAN PAYLOAD (M bytes per vector instead of the float
  * embedding). Composed, a query at 10^11 vectors reads
  * nprobe/k × corpus × M bytes — both dials independent, both measured
  * separately in this repo (q46 IVF, q122/q126 PQ), and the index layout
  * is exactly Spark's native strength: codes written
  * `partitionBy(cluster)`, so the probe is PARTITION PRUNING at the file
  * index — unprobed clusters are never listed, read, or decoded
  * (PlanAuditSpec pins the pruned scan; the in-plan observe counter
  * carries scanned rows into the bench artifact).
  *
  * Design choice, documented: the DEFAULT codes quantize the RAW
  * vectors, not the per-cluster residuals of classic IVFADC. Residual
  * PQ buys recall when clusters are tight (the residual has smaller
  * dynamic range than the vector); on this corpus's near-random unit
  * vectors the clusters are diffuse and the measured recall with
  * raw-vector codes already sits in the single-query band the contract
  * floors are calibrated to — while raw codes keep the codebooks SHARED
  * with the flat-PQ index (q122: one encode serves both layouts) and
  * keep every correctness story (encode determinism, ADC == table
  * lookups) identical. Since r11 the residual variant IS implemented
  * behind the same ingest/append/query split (`residual = true` — the
  * mode rides in the standing payload so appends can never mix codes;
  * SimilaritySpec demonstrates the recall win on a deliberately
  * CLUSTERED corpus — recall@10 0.575 raw → 0.80 residual at nprobe=k,
  * refine=2, a pure quantization-quality difference — and pins the raw
  * path unchanged). The one serving path, [[ivfPqTopKBatch]], serves
  * BOTH modes: residual batching carries per-(query, cluster) tables
  * as per-subspace plan literals (≈1 MB at the chunk size), and a
  * single query is a batch of one.
  *
  * Standing + reused: the (dataset, app)-keyed root carries an
  * ops.Standing validity marker whose payload holds corpus size,
  * centroids, and codebooks bit-exactly, so later calls in a session
  * reuse the partitioned index without a single Spark job.
  */
object IvfPq {

  /** Serialized model: n, then a header (k, M, K, and the code MODE —
    * raw vectors or per-cluster residuals), then k centroid rows, then
    * M×K codebook rows — [[Pq.floatRowHex]] rows (bit-exact round trip;
    * one codec shared with the flat-PQ serializer so the format cannot
    * fork). The mode rides in the payload because maintenance
    * ([[ivfPqAppend]]) must encode new vectors EXACTLY as the standing
    * index did — a raw append into a residual index would corrupt every
    * appended distance silently. */
  private def payload(cents: Array[Array[Float]], books: Pq.Codebooks,
                      n: Long, residual: Boolean, trainedN: Long): String = {
    val sb = new StringBuilder
    sb.append(n).append('\n')
    sb.append(cents.length).append(' ')
      .append(books.length).append(' ').append(books.head.length)
      .append(' ').append(if (residual) "res" else "raw")
      // the corpus size the MODEL was trained on — appends grow n but
      // never this, so (n − trainedN)/trainedN is the appended-mass
      // drift fraction the retrain contract watches (r12 verdict #7)
      .append(" trained=").append(trainedN).append('\n')
    cents.foreach(c => sb.append(Pq.floatRowHex(c)).append('\n'))
    for (m <- books; cent <- m)
      sb.append(Pq.floatRowHex(cent)).append('\n')
    sb.toString
  }

  private def parse(p: String)
      : (Array[Array[Float]], Pq.Codebooks, Long, Boolean, Long) = {
    val lines = p.split("\n")
    val n = lines(0).toLong
    val dims = lines(1).split(" ")
    val (kc, m, k) = (dims(0).toInt, dims(1).toInt, dims(2).toInt)
    val residual = dims.length > 3 && dims(3) == "res"
    // pre-r13 payloads have no trained= token: treat the recorded size
    // as the trained size (zero drift) — the next append re-records it
    val trainedN = dims.find(_.startsWith("trained="))
      .map(_.stripPrefix("trained=").toLong).getOrElse(n)
    val cents = Array.tabulate(kc)(i => Pq.parseFloatRowHex(lines(2 + i)))
    val books: Pq.Codebooks = Array.tabulate(m, k)((mi, ki) =>
      Pq.parseFloatRowHex(lines(2 + kc + mi * k + ki)))
    (cents, books, n, residual, trainedN)
  }

  /** The automated model-drift contract (r12 verdict task #7). The PQ
    * model quantizes the DISTRIBUTION it was trained on, so appends are
    * free until their mass is large enough to move the distribution —
    * the documented operational threshold is ~25% appended mass
    * ([[graft.Tuning.IvfPqRetrainFraction]]; Jégou et al. §V, FAISS
    * practice). Returns (appended-mass fraction, exceeded?) read from
    * the standing marker: fraction = (n − trainedN)/trainedN where
    * trainedN rides the payload from ingest. [[ivfPqAppend]] checks
    * this after every append and warns LOUDLY on stderr at the
    * crossing; callers automating retrains poll this instead of
    * grepping logs. */
  def ivfPqDrift(root: String): (Double, Boolean) = {
    val (_, p) = graft.ops.Standing.current(root).getOrElse(sys.error(
      s"ivfPqDrift: no standing IVF-PQ index at $root"))
    val (_, _, n, _, trainedN) = parse(p)
    val frac = if (trainedN <= 0) 0.0 else (n - trainedN).toDouble / trainedN
    (frac, frac > graft.Tuning.IvfPqRetrainFraction)
  }

  /** INGEST: train IVF centroids + PQ codebooks, assign + encode the
    * corpus in ONE projection pass (both models are plan literals — no
    * join, no shuffle before the partitioned write), write
    * (vec_id, codes) partitionBy(cluster). Returns everything the query
    * side needs. Standing-reused per the corpus fingerprint. */
  def ivfPqIngest(spark: SparkSession, d: String, root0: String = null,
                  nClusters: Int = 16, residual: Boolean = false)
      : (Array[Array[Float]], Pq.Codebooks, Long, String) = {
    val root =
      if (root0 != null) root0
      else graft.ops.Scratch.root(spark, d,
        if (residual) "ivfpq_res" else "ivfpq")
    // the fingerprint covers the MODEL hyperparameters, not just the
    // source bytes: a later call with a different nClusters (or code
    // mode) must rebuild, not silently reuse a stale index whose parsed
    // payload would override the caller's arguments (r11 review find).
    // PQ M/K are Tuning constants, not per-call knobs, so source + k +
    // mode is the full configuration surface of this ingest.
    val fp = graft.ops.Standing.fingerprint(s"$d/embeddings.parquet") +
      s":k=$nClusters" + (if (residual) ":res" else "")
    val (cents, books, n, _, _) = parse(graft.ops.Standing.ensure(root, fp) {
      val emb = Tables.embeddings(spark, d)
      val n = emb.count()
      val par = spark.sparkContext.defaultParallelism
      val fanout = if (n >= graft.Tuning.PqFanoutGateVectors) par else 0
      val cents = Similarity.trainCentroids(emb, nClusters)
      val embP = if (fanout > 0) emb.repartition(fanout) else emb
      val assigned = Similarity.assignClusters(embP, cents)
      // residual mode (classic IVFADC, Jégou et al. §V): codebooks train
      // on and codes quantize r = x − centroid(cluster(x)) — the
      // residual's dynamic range shrinks with cluster tightness, which is
      // exactly when the same M bytes buy more recall
      val toCode = if (residual) residualized(assigned, cents) else assigned
      val books = Pq.trainCodebooks(
        if (residual) toCode else emb, fanout = fanout)
      Pq.encode(toCode, books)
        .select("vec_id", "cluster", "codes")
        .write.partitionBy("cluster").mode("overwrite").parquet(root)
      payload(cents, books, n, residual, trainedN = n)
    })
    (cents, books, n, root)
  }

  /** The standing codes table's schema as [[ivfPqIngest]] and
    * [[ivfPqAppend]] write it and parquet reads it back: the data columns,
    * then `cluster`, the partition column read from the directory names.
    * [[ivfPqCodes]] reads with it, so a serving call runs no
    * footer-inference job (SimilaritySpec pins it against the inferred
    * schema after an ingest and after an append). */
  val IvfPqSchema: StructType = new StructType()
    .add("vec_id", LongType).add("codes", ArrayType(IntegerType))
    .add("cluster", IntegerType)

  /** SCAN half: the standing codes table, partitioned by `cluster` (a
    * filter on it prunes at the file index). */
  def ivfPqCodes(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(IvfPqSchema).parquet(root)

  /** Replace `embedding` with the per-cluster residual x − c_cluster(x)
    * (float arithmetic, centroids a plan literal — map-only). */
  private[graft] def residualized(assigned: DataFrame,
                                  cents: Array[Array[Float]]): DataFrame = {
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    assigned.withColumn("embedding",
      zip_with(col("embedding"), element_at(centsLit, col("cluster") + 1),
        (x, c) => x - c))
  }

  /** INCREMENTAL append (r10 verdict item): encode NEW vectors with the
    * STANDING model (centroids + codebooks from the marker's payload — no
    * retrain) and append their codes into the same cluster-partitioned
    * layout; consumers are unchanged, and the result equals a rebuild
    * with the same model over the grown corpus (SimilaritySpec pins the
    * multiset). The payload is re-marked with the grown corpus size under
    * the SAME source fingerprint, so a source rewrite still forces a full
    * retrain on the next ingest.
    *
    * REPLAY-SAFE by presence, not arrival order (r11 verdict task #4):
    * `partitionBy(cluster)` leaves no per-batch dir to commit (one would
    * break partition discovery), and codes are order-independent, so only
    * batch rows whose `vec_id` is not already standing are appended (an
    * anti join against the vec_id column, inside the write's job). A
    * committed append's rows anti-join away, a crashed job's re-append
    * whole, and a torn job commit (the v1 committer moves task dirs one
    * by one) re-appends exactly the missing rows. The payload's corpus
    * count is recomputed from data, so a replay also heals a count left
    * stale by a crash between a data commit and its marker update.
    * `vec_id` is the row's identity: two vectors under one id are
    * upstream corruption.
    *
    * MODEL DRIFT (Jégou et al. §V; FAISS practice): appends from the
    * trained distribution cost nothing, drifted ones degrade cluster
    * balance (the scanned_rows counter) and ADC recall (the q126/q129
    * floors). An append that takes the appended mass past
    * [[graft.Tuning.IvfPqRetrainFraction]] warns on stderr; retrain via a
    * fresh [[ivfPqIngest]]. Returns (centroids, codebooks, corpus size). */
  def ivfPqAppend(newEmb: DataFrame, root: String)
      : (Array[Array[Float]], Pq.Codebooks, Long) = {
    val spark = newEmb.sparkSession
    val (fp, p) = graft.ops.Standing.current(root).getOrElse(sys.error(
      s"ivfPqAppend: no standing IVF-PQ index at $root — run ivfPqIngest" +
        " first (appends extend a trained model; they never train one)"))
    val (cents, books, n, residual, trainedN) = parse(p)
    // the standing size straight from data; a count reads no column, so
    // its scan touches row-group metadata, not the codes
    val standingN = ivfPqCodes(spark, root).count()
    val missing = newEmb
      .join(ivfPqCodes(spark, root).select("vec_id"), Seq("vec_id"),
        "left_anti")
      .observe("ivfpq_append", count(lit(1)).as("rows"))
    val assigned = Similarity.assignClusters(missing, cents)
    // encode exactly as the standing index does — mode from the payload
    val toCode = if (residual) residualized(assigned, cents) else assigned
    // the appended count rides the write, above the anti join: Spark may
    // drop the join (and an observation under it) when no standing id
    // can match
    val missN = org.apache.spark.sql.GraftBridge.observedFromAction(
      spark, "ivfpq_append") {
      Pq.encode(toCode, books).select("vec_id", "cluster", "codes")
        .write.partitionBy("cluster").mode("append").parquet(root)
    }.getLong(0)
    val trueN = standingN + missN
    if (trueN != n) // grown, or a stale count healed
      graft.ops.Standing.markValid(root, fp,
        payload(cents, books, trueN, residual, trainedN))
    // the drift contract, checked where drift is CREATED
    val (frac, over) = ivfPqDrift(root)
    if (missN > 0L && over)
      System.err.println(f"WARN ivfPqAppend: appended mass $frac%.2f of" +
        s" the trained corpus exceeds ${graft.Tuning.IvfPqRetrainFraction}" +
        " — the PQ/IVF model quantizes a drifted distribution; retrain" +
        s" via ivfPqIngest (root=$root)")
    (cents, books, trueN)
  }

  /** MAINTENANCE: rewrite the codes table to one file per cluster
    * partition. Every [[ivfPqAppend]] adds a part-file set per touched
    * cluster directory (`mode("append")`), so after N daily batches a
    * probe pays N footer opens + N small row groups per probed cluster —
    * the same file-accretion cost `gramIndexCompact` bounds for the df
    * sidecar, here multiplied by nprobe on every query. Compact reads
    * the standing index once, rewrites it `partitionBy(cluster)` with
    * each cluster hash-routed to one task (`repartition(k, cluster)` →
    * exactly one file per directory; two clusters sharing a task still
    * emit one file EACH), swaps directories, and re-marks the UNCHANGED
    * fingerprint + payload — the model, corpus size, and code mode are
    * untouched; this is a file-layout operation, invisible to every
    * query (SimilaritySpec pins post-compact top-k row-identical and
    * the per-cluster file count at 1). The directory swap and its crash
    * window are [[graft.ops.Standing.swap]]'s (on object stores prefer
    * rebuilding over compacting). Maintenance-window only, like every
    * compact in this library (single writer; appends must not race it). */
  def ivfPqCompact(spark: SparkSession, root: String): Unit = {
    val (fp, p) = graft.ops.Standing.current(root).getOrElse(sys.error(
      s"ivfPqCompact: no standing IVF-PQ index at $root — nothing to" +
        " compact (run ivfPqIngest first)"))
    val (cents, _, _, _, _) = parse(p)
    graft.ops.Standing.swap(root)(tmp => ivfPqCodes(spark, root)
      .repartition(cents.length, col("cluster"))
      .write.partitionBy("cluster").mode("overwrite").parquet(tmp))
    graft.ops.Standing.markValid(root, fp, p)
  }

  /** Driver-side probe selection: dot(q, centroid) over the k-row model
    * — no Spark job; ties break toward the lowest cluster id. */
  private def probeClusters(cents: Array[Array[Float]], q: Array[Float],
                            nprobe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, i) =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += q(j).toDouble * c(j); j += 1 }
      (s, i)
    }.sortBy { case (dot, cid) => (-dot, cid) }.take(nprobe).map(_._2).toSeq

  /** QUERY, the one IVF-PQ serving path: q126's one-scan batch composed
    * with partition pruning — the production serving shape (FAISS batch
    * search); a single query is a batch of one. Each query ranks the k
    * centroids DRIVER-SIDE (the model is k×dim floats — no Spark job) and
    * probes its nprobe nearest. One scan reads the UNION of the batch's
    * probed cluster partitions (partition pruning at the file index;
    * everything outside every query's probe set is never listed); each
    * scanned row explodes to ONLY the queries whose probe set contains
    * its cluster (a cluster → [qi] plan literal, r12) and is ADC-scored
    * map-side for those survivors alone — so per query the candidate set
    * is exactly its own nprobe clusters, whichever batch or chunk it
    * rides in (SimilaritySpec pins batch == each query run as a batch of
    * one, row-for-row). The scan reads nprobe/k of the codes per query —
    * at 10^11 vectors that ratio times M bytes is the whole query cost.
    * `corpusSize < 0` resolves once, from the FULL index (never the
    * pruned scan's count), so the default shortlist matches the
    * explicit-size plan. Shuffle
    * after the scan is O(Q × k·refine) TopKByScore buffers; the exact
    * re-rank touches only shortlist vectors. Chunked at
    * [[graft.Tuning.IvfPqBatchMaxQ]] (its OWN ceiling since r12: the
    * explode-first scorer removed the codegen reason to chunk — here
    * chunking is kept for SCAN PRUNING), and chunks are packed
    * by PROBE-SET OVERLAP, not id order (r10 verdict item): each chunk
    * scans the union of its members' probe clusters, and at nprobe=6/16
    * a RANDOM 32-query chunk's union approaches all 16 clusters —
    * eroding the partition-pruning win exactly when batches are big.
    * Greedy min-union packing (driver-side over the already-collected
    * probe sets, O(Q²·nprobe) on model-sized data) keeps each chunk's
    * union narrow; result-invariance is free because the per-(query,
    * row) probe restriction gives each query its own candidate set
    * regardless of which chunk it rides in (SimilaritySpec pins
    * chunked == unchunked; the scanned-rows deltas are in BENCHMARKS.md
    * "Batch chunking by probe overlap (round 11)"). Returns
    * (q_id, rk, vec_id, cos_sim). */
  def ivfPqTopKBatch(spark: SparkSession, root: String, emb: DataFrame,
                     cents: Array[Array[Float]], books: Pq.Codebooks,
                     queryIds: Seq[Long], k: Int, nprobe: Int = 4,
                     corpusSize: Long = -1L, refine: Int = 0,
                     maxChunk: Int = graft.Tuning.IvfPqBatchMaxQ,
                     residual: Boolean = false): DataFrame = {
    require(queryIds.nonEmpty, "ivfPqTopKBatch: empty query batch")
    require(maxChunk > 0, "ivfPqTopKBatch: maxChunk must be positive")
    val refine2 =
      if (refine > 0) refine
      else Pq.proportionalShortlist(
        if (corpusSize >= 0L) corpusSize
        else ivfPqCodes(spark, root).count())
    if (queryIds.distinct.size > maxChunk) {
      val qIds = queryIds.distinct.sorted
      val qVecs = Pq.collectQueryVecs(emb, qIds)
      val probes = qIds.map(id =>
        id -> probeClusters(cents, qVecs(id), nprobe)).toMap
      return chunkByProbeOverlap(qIds, probes, maxChunk).zipWithIndex
        .map { case (chunk, i) =>
          ivfPqBatchOne(spark, root, emb, cents, books, chunk, k, nprobe,
            refine2, observeName = s"ivfpq_batch_c$i", qVecs0 = qVecs,
            residual = residual)
        }
        .reduce(_ unionByName _)
        .orderBy("q_id", "rk")
    }
    ivfPqBatchOne(spark, root, emb, cents, books, queryIds, k, nprobe,
      refine2, observeName = "ivfpq_batch", residual = residual)
  }

  /** Greedy min-union chunking: seed each chunk with the lowest
    * unassigned id, then repeatedly admit the query whose probe set adds
    * the fewest NEW clusters to the chunk's union (ties → lowest id).
    * Deterministic, driver-side, and works on the probe sets the batch
    * already computed — the packing costs nothing measurable next to one
    * avoided partition scan. */
  private[similarity] def chunkByProbeOverlap(
      qIds: Seq[Long], probes: Map[Long, Seq[Int]],
      maxChunk: Int): Seq[Seq[Long]] = {
    val remaining = scala.collection.mutable.LinkedHashSet(qIds.sorted: _*)
    val chunks = Seq.newBuilder[Seq[Long]]
    while (remaining.nonEmpty) {
      val seed = remaining.head
      remaining -= seed
      val members = scala.collection.mutable.ArrayBuffer(seed)
      val union = scala.collection.mutable.Set(probes(seed): _*)
      while (members.size < maxChunk && remaining.nonEmpty) {
        val best = remaining.minBy(q =>
          (probes(q).count(c => !union.contains(c)), q))
        members += best
        union ++= probes(best)
        remaining -= best
      }
      chunks += members.toSeq
    }
    chunks.result()
  }

  private def ivfPqBatchOne(spark: SparkSession, root: String,
                            emb: DataFrame, cents: Array[Array[Float]],
                            books: Pq.Codebooks, queryIds: Seq[Long],
                            k: Int, nprobe: Int, refine2: Int,
                            observeName: String,
                            qVecs0: Map[Long, Array[Float]] = null,
                            residual: Boolean = false): DataFrame = {
    val qIds = queryIds.distinct.sorted
    val qVecs = if (qVecs0 != null) qVecs0 else Pq.collectQueryVecs(emb, qIds)
    val probes: Seq[Seq[Int]] =
      qIds.map(id => probeClusters(cents, qVecs(id), nprobe))
    val unionClusters = probes.flatten.distinct.sorted
    val scanned = ivfPqCodes(spark, root)
      .filter(col("cluster").isInCollection(unionClusters))
      .select("vec_id", "cluster", "codes")
      // union-scan volume: rows read once for the whole batch
      .observe(observeName, count(lit(1)).as("scanned_rows"))
    // Per-(query, row) candidate restriction by EXPLODING only the
    // queries that probe the row's cluster (cluster → [qi] is a
    // model-sized plan literal), instead of the r11 shape — compute all
    // Q ADC distances per row, then filter each pair against its
    // query's probe set. Same surviving pair multiset, but the ADC work
    // drops from Q to
    // |probers(cluster)| per scanned row — at nprobe/k = 6/16 that is
    // ~2.7× less distance compute in the serving hot loop, the term
    // that IS the query cost at 10¹¹ vectors. It also shrinks the
    // generated projection from a Q-wide method (the AdcBatchMaxQ
    // codegen ceiling's cause) to ONE M-term expression with qi as a
    // runtime column.
    val kClusters = cents.length
    val probersByCluster: Seq[Seq[Int]] =
      (0 until kClusters).map(c => probes.zipWithIndex.collect {
        case (ps, qi) if ps.contains(c) => qi })
    val qIdsLit = typedlit(qIds)
    val exploded = scanned.select(col("*"),
      explode(element_at(typedlit(probersByCluster), col("cluster") + 1))
        .as("qi"))
    val adc =
      if (residual) residualAdcExpr(books, cents, qIds, qVecs, probes)
      else rawAdcExpr(books, qIds, qVecs)
    val pairs = exploded
      .withColumn("adc_dist", adc)
      // a query never competes as its own candidate (the bruteForceTopK
      // convention the contract's exact side follows)
      .filter(element_at(qIdsLit, col("qi") + 1) =!= col("vec_id"))
      .select("vec_id", "qi", "adc_dist")
    Pq.batchShortlistRerank(pairs, emb, qIds, qVecs, k, refine2,
      observeName + "_pq")
  }

  /** RAW-mode ADC distance of the exploded (row, qi) pair: the shared
    * [[Pq.adcTables]] cell values as per-subspace Q×K plan literals
    * ([[Pq.adcSubspaceTableCols]] — each referenced once, so the task
    * binary stays model-sized at any Q; r13), summed via the shared
    * qi-column expression [[Pq.adcSumAtQi]] — one definition with
    * the flat batch scorer, so the ADC distance cannot drift between
    * the two paths. */
  private def rawAdcExpr(books: Pq.Codebooks, qIds: Seq[Long],
                         qVecs: Map[Long, Array[Float]]): Column =
    Pq.adcSumAtQi(Pq.adcSubspaceTableCols(books, qIds, qVecs))

  /** RESIDUAL-mode ADC distance of the exploded (row, qi) pair (classic
    * IVFADC: codes quantize r = x − c_cluster, so ||q − x̃||² =
    * ||(q − c_cluster) − r̃||² and the table is per-CLUSTER, built from
    * q − c): one 4-D plan literal holds each query's PER-CLUSTER
    * distance tables (Q·k·M·K doubles — ≈1 MB at the IvfPqBatchMaxQ
    * chunk size of 32 this path runs at; ~8× that if a caller forces
    * AdcBatchMaxQ-sized
    * residual chunks), built only for the (query, cluster) slots the query
    * actually probes; everything else rides as zeros and — since the
    * probers-by-cluster explode generates only probed (query, row)
    * pairs — is never even looked up. `qi` is a runtime column, so the
    * generated expression is one M-term sum at any Q. */
  private def residualAdcExpr(books: Pq.Codebooks,
                              cents: Array[Array[Float]], qIds: Seq[Long],
                              qVecs: Map[Long, Array[Float]],
                              probes: Seq[Seq[Int]]): Column = {
    val m = books.length
    val sub = books.head.head.length
    val tables: Seq[Seq[Seq[Seq[Double]]]] = qIds.zipWithIndex.map {
      case (id, qi) =>
        val q = qVecs(id)
        val probed = probes(qi).toSet
        cents.indices.map { c =>
          if (!probed.contains(c)) books.map(_.map(_ => 0.0).toSeq).toSeq
          else books.zipWithIndex.map { case (cw, mi) =>
            cw.map { code =>
              var s = 0.0
              var i = 0
              while (i < sub) {
                val dlt = q(mi * sub + i).toDouble -
                  cents(c)(mi * sub + i) - code(i)
                s += dlt * dlt
                i += 1
              }
              s
            }.toSeq
          }.toSeq
        }
    }
    // per-subspace Q×k×K literals, each referenced by exactly ONE sum
    // term — the same task-binary fix as Pq.adcSubspaceTableCols (r13):
    // one 4-D literal referenced M times serialized M copies of the
    // whole table set into every task binary
    val ts = (0 until m).map(mi => typedlit(tables.map(_.map(_(mi)))))
    (0 until m).map { mi =>
      element_at(element_at(element_at(ts(mi), col("qi") + 1),
        col("cluster") + 1),
        element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)
  }

  /** q129: the composed index under a BATCH-average recall contract
    * (the batch-mean floor mode of [[Similarity.annContract]] — on this
    * deliberately unclusterable
    * corpus, IVF recall ≈ scanned fraction by construction, so the
    * per-query floor of q46/q104 would be a coin-flip here while the
    * 4-query mean concentrates; ANN benchmarks report the mean). nprobe
    * = 6 of 16 scans 37.5% of the codes (a 2.7× compute prune — on a
    * real, clusterable embedding corpus the same plan prunes 10–100×;
    * what this corpus CAN pin is the plan shape: partition-pruned scan,
    * M-byte payload, bounded shortlist) with the 2× proportional
    * shortlist (the q126 margin; PQ-stage loss measured ZERO here — the
    * refine axis is flat). Floor 0.35 vs measured batch means 0.48–0.60
    * across sf0.001–sf10 at nprobe=6, refine 2× (BENCHMARKS.md "Composed
    * IVF-PQ (q129): recall surface measured, floor set from it"). */
  def qIvfPq(spark: SparkSession, d: String): DataFrame = {
    val (cents, books, n, root) = ivfPqIngest(spark, d)
    val emb = Tables.embeddings(spark, d)
    val refine = Pq.proportionalShortlist(n, mult = 2)
    // one union-of-probes scan answers all four queries
    val ann = ivfPqTopKBatch(spark, root, emb, cents, books, Pq.BatchQueries,
      k = 10, nprobe = 6, corpusSize = n, refine = refine)
    Similarity.annContract(ann, emb, Pq.BatchQueries, 10, minRecall = 0.35,
      batchMean = true)
  }

  /** q131: the RESIDUAL index under the same batch-average recall
    * contract as q129 — registered so classic IVFADC is a first-class,
    * oracle-gated query, not a spec-only variant. Same four queries,
    * same floor: on this near-uniform corpus residual and raw codes tie
    * (the clustered-corpus win is SimilaritySpec's measurement — here
    * the contract pins that residual codes are AS GOOD, i.e. the mode
    * changes representation, never correctness). Served through the
    * batched residual plan — one union-of-probes scan, per-(query,
    * cluster) tables — same as q129's raw batch. */
  def qIvfPqResidual(spark: SparkSession, d: String): DataFrame = {
    val (cents, books, n, root) = ivfPqIngest(spark, d, residual = true)
    val emb = Tables.embeddings(spark, d)
    val refine = Pq.proportionalShortlist(n, mult = 2)
    val ann = ivfPqTopKBatch(spark, root, emb, cents, books, Pq.BatchQueries,
      k = 10, nprobe = 6, corpusSize = n, refine = refine, residual = true)
    Similarity.annContract(ann, emb, Pq.BatchQueries, 10, minRecall = 0.35,
      batchMean = true)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q129_ivf_pq" -> (qIvfPq _),
    "q131_ivf_pq_residual" -> (qIvfPqResidual _))

  /** q131 carries q129's accounting contract: the oracle is a property
    * of the EXACT side (brute-force top-10 per query) plus the
    * pinned-TRUE recall boolean, independent of which ANN index produced
    * the candidates. */
  val oracles: Map[String, String] = {
    val batchMean = Similarity.annContractOracle(Pq.BatchQueries,
      batchMean = true)
    Map("q129_ivf_pq" -> batchMean, "q131_ivf_pq_residual" -> batchMean)
  }
}
