package graft

import graft.similarity.{IvfPq, Similarity}
import graft.Tables
import org.apache.spark.sql.functions.col

class SimilaritySpec extends SparkSpec {

  test("brute-force top-k: self-similarity is 1.0 and ranks first") {
    val rows = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), 0L, 5).collect()
    assert(rows.head.getLong(0) == 0L)
    assert(math.abs(rows.head.getDouble(1) - 1.0) < 1e-5)
    val sims = rows.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
  }

  test("ANN LSH results are a subset of the corpus ranked by true cosine") {
    val ann = Similarity.annTopK(Tables.embeddings(spark, sf), 0L, 10).collect()
    assert(ann.nonEmpty && ann.head.getLong(0) == 0L,
      "query vector must match itself (its own bucket is always probed)")
    val sims = ann.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
  }

  test("ANN recall@10 vs brute force is nontrivial") {
    val exact = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(Tables.embeddings(spark, sf), 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // 8 hyperplanes + multiprobe on random unit vectors: modest but real
    assert(recall >= 0.2, s"recall $recall too low — LSH is broken")
  }

  test("portable signature: md5 planes match an independent JVM computation; " +
       "identical vectors always collide") {
    import org.apache.spark.sql.functions._
    // plane weights re-derived from first principles (MessageDigest, no
    // engine code) — pins the exact md5("p_i") parity convention the
    // DuckDB oracle of q37 recomputes
    val w = Similarity.portablePlanes(8, 64)
    for (p <- Seq(0, 3, 7); i <- Seq(0, 17, 63)) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${p}_${i}".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expect = if (java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0) 1L else -1L
      assert(w(p)(i) == expect, s"plane weight ($p,$i) diverges from MessageDigest")
    }
    assert(w.flatten.forall(x => x == 1L || x == -1L))
    // exactness guarantee the q116-style portability buys: byte-identical
    // vectors get byte-identical signatures (same bits in → same sig out),
    // so exact-duplicate embeddings can NEVER be missed by the bucket join
    val emb = Tables.embeddings(spark, sf).limit(50)
    val twin = emb.withColumn("vec_id", col("vec_id") + 1000000L)
    val sigs = emb.unionByName(twin)
      .withColumn("sig", Similarity.portableSignatureCol("embedding", 8, 64))
      .select(col("vec_id") % 1000000L, col("sig")).distinct()
    assert(sigs.count() == 50, "a twin vector landed in a different bucket")
    // signatures actually discriminate (not all vectors in one bucket)
    val distinctSigs = sigs.select("sig").distinct().count()
    assert(distinctSigs > 5, s"only $distinctSigs distinct signatures over 50 vectors")
  }

  test("IVF: partitions the corpus; probe search ranks by true cosine") {
    val emb = Tables.embeddings(spark, sf)
    val indexed = Similarity.ivfIndex(emb, k = 8)
    assert(indexed.count() == emb.count(), "every vector must be assigned")
    assert(indexed.select("cluster").distinct().count() <= 8)
    val ann = Similarity.ivfTopK(emb, 0L, 10, nClusters = 8, nprobe = 3).collect()
    assert(ann.head.getLong(0) == 0L, "query matches itself (own cluster probed)")
    val exact = Similarity.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val recall = (exact & ann.map(_.getLong(0)).toSet).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall@10 $recall < 0.7 — trained centroids regressed")
  }

  test("PQ: codes well-formed, encoding deterministic, ADC+re-rank recall high") {
    import graft.similarity.Pq
    val emb = Tables.embeddings(spark, sf)
    val m = 16
    val books = Pq.trainCodebooks(emb, m = m, k = 16)
    assert(books.length == m && books.forall(_.length == 16))
    val codes = Pq.encode(emb, books).select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(cs => cs.length == m && cs.forall(c => c >= 0 && c < 16)))
    // deterministic: retrain + re-encode yields identical codes
    val again = Pq.encode(emb, Pq.trainCodebooks(emb, m = m, k = 16))
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(again == codes)
    // two-stage ADC shortlist + exact re-rank tracks brute force closely.
    // brute force includes the query itself at rank 1 (cos=1); drop it.
    val exact = Similarity.bruteForceTopK(emb, 0L, 11)
      .collect().map(_.getLong(0)).filter(_ != 0L).take(10).toSet
    val pq = Pq.adcTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall@10 $recall < 0.7 — shortlist too lossy")
  }

  test("PQ: pre-encoded codes-table query equals the on-the-fly plan") {
    import graft.similarity.Pq
    val emb = Tables.embeddings(spark, sf)
    val books = Pq.trainCodebooks(emb)
    // the ingest-then-scan split (q122) must rank identically to the
    // in-flight encode: same books → byte-identical codes → same ADC
    // shortlist → same re-rank
    val root = java.nio.file.Files.createTempDirectory("graft_pq_codes_spec")
      .toString + "/codes"
    Pq.encode(emb, books).select("vec_id", "codes")
      .write.mode("overwrite").parquet(root)
    val codes = spark.read.parquet(root)
    val onCodes = Pq.adcTopKBatch(codes, emb, Seq(0L), 10, books)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    val inline = Pq.adcTopK(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(onCodes === inline)
  }

  test("PQ: pqIngest stands between calls — second call reuses the " +
       "completed index (no write, bit-identical model), stale marker rebuilds") {
    import graft.similarity.Pq
    val root = java.nio.file.Files.createTempDirectory("graft_pq_stand_spec")
      .toString + "/codes"
    val (books1, n1, _) = Pq.pqIngest(spark, sf, root)
    // the declared scan schema is the one parquet infers
    assert(Pq.PqCodesSchema == spark.read.parquet(root).schema)
    def codeFiles() = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified)
      .sortBy(_._1).toSeq
    val files1 = codeFiles()
    val (books2, n2, _) = Pq.pqIngest(spark, sf, root)
    assert(n2 == n1)
    // the reused model is BIT-identical (floats round-trip as raw bits)
    assert(books2.flatten.flatten.map(java.lang.Float.floatToRawIntBits).toSeq ==
      books1.flatten.flatten.map(java.lang.Float.floatToRawIntBits).toSeq)
    // and the codes table was not rewritten: same files, same mtimes
    assert(codeFiles() == files1, "reuse must not re-run the ingest write")
    // the reused index answers queries identically
    val q1 = Pq.pqQuery(spark, sf, root, books1, n1).collect().map(_.toString).toSeq
    val q2 = Pq.pqQuery(spark, sf, root, books2, n2).collect().map(_.toString).toSeq
    assert(q1 == q2)
    // a stale fingerprint (data changed) must rebuild, not serve the
    // old index
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_GRAFT_VALID"), "stale\n".getBytes("UTF-8"))
    Thread.sleep(1100) // parquet mtime granularity can be 1s
    val (_, n3, _) = Pq.pqIngest(spark, sf, root)
    assert(n3 == n1)
    assert(codeFiles() != files1, "stale marker must trigger a rebuild")
  }

  test("PQ: batched ADC == the Q single-query runs, row-for-row") {
    import graft.similarity.Pq
    val emb = Tables.embeddings(spark, sf)
    val books = Pq.trainCodebooks(emb)
    val codes = Pq.encode(emb, books).select("vec_id", "codes")
    val qIds = Seq(0L, 1L, 2L, 3L)
    val batch = Pq.adcTopKBatch(codes, emb, qIds, 10, books)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // Two independent references per query. (a) The query run as a
    // batch of one: pins cross-query invariance — nothing a query's
    // neighbors depend on may leak in from the other queries of its
    // batch. (b) A test-local single-query plan: the ADC table built
    // here from the codebooks, the shortlist by orderBy(adc_dist,
    // vec_id).limit(k·refine), the exact re-rank by orderBy+limit — so a
    // bug shared by every batch size (TopKByScore's order, the qi-keyed
    // lookup, the self-exclusion) still shows.
    import org.apache.spark.sql.functions.{broadcast, element_at, round, typedlit}
    val refine = Pq.proportionalShortlist(codes.count())
    val sub = books.head.head.length
    def reference(q: Long): Seq[(Long, Int, Long, Double)] = {
      val qv = emb.filter(col("vec_id") === q).select("embedding").head()
        .getSeq[Float](0).toArray
      val table = books.toSeq.zipWithIndex.map { case (cents, mi) =>
        cents.toSeq.map(c => (0 until sub).foldLeft(0.0) { (acc, i) =>
          val dlt = qv(mi * sub + i).toDouble - c(i)
          acc + dlt * dlt
        })
      }
      val t = typedlit(table)
      val adc = books.indices.map(mi => element_at(element_at(t, mi + 1),
        element_at(col("codes"), mi + 1) + 1)).reduce(_ + _)
      val shortlist = codes.filter(col("vec_id") =!= q)
        .withColumn("adc_dist", adc)
        .orderBy(col("adc_dist"), col("vec_id")).limit(10 * refine)
        .select("vec_id")
      emb.join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(emb.filter(col("vec_id") === q)
          .select(col("embedding").as("q_embedding"))))
        .select(col("vec_id"),
          round(Similarity.cosCol(col("embedding"), col("q_embedding")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .collect().zipWithIndex
        .map { case (r, i) => (q, i + 1, r.getLong(0), r.getDouble(1)) }
        .toSeq
    }
    for (q <- qIds) {
      val one = Pq.adcTopKBatch(codes, emb, Seq(q), 10, books)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(one.size == 10)
      assert(batch.filter(_._1 == q) == one,
        s"batch diverges from the batch of one for query $q")
      assert(one == reference(q),
        s"batch of one diverges from the reference plan for query $q")
    }
  }

  test("PQ: chunked batch (maxChunk < Q) == the one-plan batch, row-for-row") {
    import graft.similarity.Pq
    val emb = Tables.embeddings(spark, sf)
    val books = Pq.trainCodebooks(emb)
    val codes = Pq.encode(emb, books).select("vec_id", "codes")
    val qIds = Seq(0L, 1L, 2L, 3L, 4L, 5L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // queries are independent, so splitting the batch into sub-batch
    // scans must be result-invariant — the property the Q-ceiling
    // auto-chunking (Tuning.AdcBatchMaxQ) rides on
    val one = rows(Pq.adcTopKBatch(codes, emb, qIds, 10, books,
      maxChunk = qIds.size))
    val chunked = rows(Pq.adcTopKBatch(codes, emb, qIds, 10, books,
      maxChunk = 2))
    assert(chunked == one)
  }

  test("IVF-PQ: probe scan is partition-pruned (reads ~nprobe/k of the " +
       "codes), results well-formed and deterministic, index stands") {
    import graft.similarity.IvfPq
    val root = java.nio.file.Files.createTempDirectory("ivfpq_spec")
      .toString + "/idx"
    val (cents, books, n, _) = IvfPq.ivfPqIngest(spark, sf, root)
    val emb = Tables.embeddings(spark, sf)
    val ann = IvfPq.ivfPqTopKBatch(spark, root, emb, cents, books,
      Seq(0L), k = 10, nprobe = 4, corpusSize = n)
    val got = ann.collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(got.size == 10)
    assert(got.map(_._1).distinct.size == 10, "neighbors must be distinct")
    assert(!got.map(_._1).contains(0L), "query itself excluded")
    // the pruning claim, from the in-plan counter: the scan touched only
    // the probed clusters' rows (≈ nprobe/k of the corpus; ≤ 60% guards
    // against silently scanning everything while allowing cluster skew)
    val scanned = ann.queryExecution.observedMetrics("ivfpq_batch")
      .getLong(0)
    assert(scanned > 0 && scanned < (n * 6) / 10,
      s"probe scan must be pruned: scanned $scanned of $n")
    // and the pruning is PARTITION pruning — at the file index, not a
    // post-scan filter
    val plan = ann.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"probe must prune at the file index:\n$plan")
    // standing reuse: second ingest on the same root returns the
    // bit-identical model without rewriting the index
    def idxFiles(): Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = f.listFiles()
        if (kids == null) Seq(f) else kids.toSeq.flatMap(walk)
      }
      walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).sortBy(_._1)
    }
    val files1 = idxFiles()
    assert(files1.nonEmpty)
    val (c2, b2, n2, _) = IvfPq.ivfPqIngest(spark, sf, root)
    assert(n2 == n)
    assert(c2.flatten.map(java.lang.Float.floatToRawIntBits).toSeq ==
      cents.flatten.map(java.lang.Float.floatToRawIntBits).toSeq)
    assert(b2.flatten.flatten.map(java.lang.Float.floatToRawIntBits).toSeq ==
      books.flatten.flatten.map(java.lang.Float.floatToRawIntBits).toSeq)
    assert(idxFiles() == files1, "reuse must not rewrite the index")
    // determinism: the reused model answers identically
    val again = IvfPq.ivfPqTopKBatch(spark, root, emb, c2, b2,
      Seq(0L), k = 10, nprobe = 4, corpusSize = n2)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(again == got)
  }

  test("residual IVF-PQ (classic IVFADC) beats raw codes on a clustered " +
       "corpus; appends honor the standing mode; raw path unchanged") {
    import graft.similarity.IvfPq
    import spark.implicits._
    // a deliberately CLUSTERED corpus — the regime residual codes exist
    // for (tight clusters → residual dynamic range << vector range).
    // Deterministic: fixed-seed noise, unit-normalized.
    val rnd = new scala.util.Random(7)
    val dim = 32
    val kClusters = 16
    val centers = Array.fill(kClusters, dim)(rnd.nextGaussian().toFloat)
      .map { c =>
        val n = math.sqrt(c.map(x => x.toDouble * x).sum).toFloat
        c.map(_ / n)
      }
    val vecs = (0 until 2000).map { i =>
      val c = centers(i % kClusters)
      val v = c.map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / n).toSeq)
    }
    val srcDir = java.nio.file.Files.createTempDirectory("ivfpq_res_src")
      .toString
    vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
      .write.parquet(srcDir + "/embeddings.parquet")
    val emb = Tables.embeddings(spark, srcDir)
    val qIds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
    def bf(q: Long) = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(_.getLong(0)).toSet
    val truth = qIds.map(q => q -> bf(q)).toMap
    // nprobe = all clusters: recall differences are PURE quantization
    // error, not IVF pruning; refine=2 keeps the shortlist tight enough
    // that ADC ranking quality is what decides recall
    def recall(root: String, cents: Array[Array[Float]],
               books: graft.similarity.Pq.Codebooks,
               residual: Boolean): Double = {
      val got = IvfPq.ivfPqTopKBatch(spark, root, emb, cents, books, qIds,
          10, nprobe = kClusters, corpusSize = 2000L, refine = 2,
          residual = residual)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
      val hits = qIds.map(q => (got(q) intersect truth(q)).size).sum
      hits.toDouble / (qIds.size * 10)
    }
    val rootRaw = java.nio.file.Files.createTempDirectory("ivfpq_res_raw")
      .toString + "/idx"
    val rootRes = java.nio.file.Files.createTempDirectory("ivfpq_res_res")
      .toString + "/idx"
    val (cRaw, bRaw, _, _) = IvfPq.ivfPqIngest(spark, srcDir, rootRaw)
    val (cRes, bRes, nRes, _) =
      IvfPq.ivfPqIngest(spark, srcDir, rootRes, residual = true)
    val rRaw = recall(rootRaw, cRaw, bRaw, residual = false)
    val rRes = recall(rootRes, cRes, bRes, residual = true)
    info(s"clustered-corpus recall@10: raw=$rRaw residual=$rRes")
    assert(rRes > rRaw,
      s"residual codes must beat raw on a clustered corpus: $rRes vs $rRaw")
    // appends honor the standing MODE (payload-carried): appended codes
    // equal the fixed-model residual rebuild over the full corpus
    val half = emb.filter(col("vec_id") < 1000)
    val rest = emb.filter(col("vec_id") >= 1000)
    val srcHalf = java.nio.file.Files.createTempDirectory("ivfpq_res_half")
      .toString
    half.write.parquet(srcHalf + "/embeddings.parquet")
    val rootApp = java.nio.file.Files.createTempDirectory("ivfpq_res_app")
      .toString + "/idx"
    val (cA, bA, _, _) =
      IvfPq.ivfPqIngest(spark, srcHalf, rootApp, residual = true)
    IvfPq.ivfPqAppend(rest, rootApp)
    def codeRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cluster").cast("int"),
        col("codes").cast("string"))
      .collect().map(_.toString).sorted.toSeq
    val appended = codeRows(spark.read.parquet(rootApp))
    // the fixed-model residual rebuild, via a query-side re-ingest of the
    // same model: re-encode full corpus with cA/bA in residual mode
    val rebuilt = codeRows(graft.similarity.Pq.encode(
      IvfPq.residualized(Similarity.assignClusters(emb, cA), cA), bA)
      .select("vec_id", "cluster", "codes"))
    assert(appended == rebuilt,
      "append into a residual index must encode residuals with the " +
        "standing model")
    // residual BATCH == each query run as a residual batch of one,
    // row-for-row (the q129 raw-path invariance carried to the
    // per-(query, cluster) table plan), chunking included
    val batch = IvfPq.ivfPqTopKBatch(spark, rootRes, emb, cRes, bRes,
        qIds, k = 10, nprobe = 6, corpusSize = 2000L, refine = 2,
        residual = true)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    for (q <- qIds) {
      val single = IvfPq.ivfPqTopKBatch(spark, rootRes, emb, cRes, bRes,
          Seq(q), k = 10, nprobe = 6, corpusSize = 2000L, refine = 2,
          residual = true)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(single.size == 10)
      assert(batch.filter(_._1 == q) == single,
        s"residual batch diverges for query $q")
    }
    val chunked = IvfPq.ivfPqTopKBatch(spark, rootRes, emb, cRes, bRes,
        qIds, k = 10, nprobe = 6, corpusSize = 2000L, refine = 2,
        residual = true, maxChunk = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(chunked == batch)
  }

  test("IVF-PQ incremental append == rebuild with the fixed model: codes " +
       "table identical, consumers unchanged, marker tracks corpus size") {
    import graft.similarity.{IvfPq, Pq, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    // stand the index on HALF the corpus (train + encode + mark)
    val srcDir = java.nio.file.Files.createTempDirectory("ivfpq_append_src")
      .toString
    half.write.parquet(srcDir + "/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("ivfpq_append_spec")
      .toString + "/idx"
    val (cents, books, nHalf, _) = IvfPq.ivfPqIngest(spark, srcDir, root)
    assert(nHalf == half.count())
    // the declared scan schema is the one parquet infers, before and
    // after the append
    assert(IvfPq.IvfPqSchema == spark.read.parquet(root).schema)
    // append the other half: encoded with the STANDING model, no retrain
    val (c2, _, nFull) = IvfPq.ivfPqAppend(rest, root)
    assert(nFull == emb.count())
    assert(IvfPq.IvfPqSchema == spark.read.parquet(root).schema)
    assert(c2.flatten.map(java.lang.Float.floatToRawIntBits).toSeq ==
      cents.flatten.map(java.lang.Float.floatToRawIntBits).toSeq,
      "append must reuse the standing model bit-exactly")
    // append == rebuild when the model is fixed: the appended codes
    // table equals encoding the FULL corpus with the same model
    def codeRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cluster").cast("int"),
        col("codes").cast("string"))
      .collect().map(_.toString).sorted.toSeq
    val appended = codeRows(spark.read.parquet(root))
    val rebuilt = codeRows(
      Pq.encode(Similarity.assignClusters(emb, cents), books)
        .select("vec_id", "cluster", "codes"))
    assert(appended == rebuilt, "append must equal the fixed-model rebuild")
    // the marker survived under the same source fingerprint with the
    // grown size: a re-ingest reuses (no rebuild) and reports nFull
    val (_, _, nAgain, _) = IvfPq.ivfPqIngest(spark, srcDir, root)
    assert(nAgain == nFull,
      "marker payload must carry the appended corpus size")
    // and the query side serves the appended corpus: neighbors can come
    // from BOTH halves through the same partition-pruned plan
    val ann = IvfPq.ivfPqTopKBatch(spark, root, emb, cents, books,
      Seq(1L), k = 10, nprobe = 16, corpusSize = nFull)
    val ids = ann.collect().map(_.getLong(2)).toSeq
    assert(ids.size == 10 && !ids.contains(1L))
    assert(ids.exists(_ % 2 == 0) && ids.exists(_ % 2 != 0),
      s"appended vectors must be servable: $ids")
  }

  test("IVF-PQ standing marker covers the model hyperparameters: a " +
       "different nClusters rebuilds instead of reusing a stale index; " +
       "default corpusSize matches the explicit-size plan") {
    import graft.similarity.{IvfPq, Pq}
    val root = java.nio.file.Files.createTempDirectory("ivfpq_fp_spec")
      .toString + "/idx"
    val (c16, _, n, _) = IvfPq.ivfPqIngest(spark, sf, root, nClusters = 16)
    assert(c16.length == 16)
    // same source, different model config: the fingerprint must MISS and
    // the rebuild honor the caller's nClusters — the r11 review find was
    // the stale payload's dimensions silently winning over the argument
    val (c8, b8, n8, _) = IvfPq.ivfPqIngest(spark, sf, root, nClusters = 8)
    assert(c8.length == 8,
      "changed nClusters must rebuild, not reuse the stale standing index")
    assert(n8 == n)
    // and the k=8 index under the k=8 marker now stands
    val (c8b, _, _, _) = IvfPq.ivfPqIngest(spark, sf, root, nClusters = 8)
    assert(c8b.flatten.map(java.lang.Float.floatToRawIntBits).toSeq ==
      c8.flatten.map(java.lang.Float.floatToRawIntBits).toSeq)
    // default corpusSize resolves to the FULL index size (not the pruned
    // scan's count). The shortlist is flat below 20,000 vectors, so grow
    // the index past 40,000 with id-shifted copies: there the full index
    // and a 4-of-8-cluster probe size different shortlists
    val emb = Tables.embeddings(spark, sf)
    val shift = emb.agg(org.apache.spark.sql.functions.max("vec_id"))
      .head.getLong(0) + 1L
    val grown = emb.crossJoin(spark.range(1L, 40000L / n8 + 2L).toDF("c"))
      .withColumn("vec_id", col("vec_id") + col("c") * shift).drop("c")
    val (_, _, nGrown) = IvfPq.ivfPqAppend(grown, root)
    assert(nGrown > 40000L)
    val all = emb.unionByName(grown)
    // the rows and the shortlist size the plan observed
    def got(df: org.apache.spark.sql.DataFrame) = (df.collect().toSeq,
      df.queryExecution.observedMetrics("ivfpq_batch_pq").getLong(0))
    val explicit = got(IvfPq.ivfPqTopKBatch(spark, root, all, c8, b8,
      Seq(0L), k = 10, nprobe = 4, corpusSize = nGrown))
    assert(explicit._2 == 10L * Pq.proportionalShortlist(nGrown))
    val defaulted = got(IvfPq.ivfPqTopKBatch(spark, root, all, c8, b8,
      Seq(0L), k = 10, nprobe = 4))
    assert(defaulted == explicit,
      "default corpusSize must size the shortlist from the full corpus")
  }

  test("batched IVF-PQ == the per-query single scans, row-for-row " +
       "(incl. chunked); the batch reads one union-of-probes scan") {
    import graft.similarity.IvfPq
    val root = java.nio.file.Files.createTempDirectory("ivfpq_batch_spec")
      .toString + "/idx"
    val (cents, books, n, _) = IvfPq.ivfPqIngest(spark, sf, root)
    val emb = Tables.embeddings(spark, sf)
    val qIds = Seq(0L, 1L, 2L, 3L, 4L, 5L)
    val batchDf = IvfPq.ivfPqTopKBatch(spark, root, emb, cents, books,
      qIds, k = 10, nprobe = 4, corpusSize = n)
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // the per-(query, row) cluster restriction makes each query's
    // candidate set EXACTLY its own probe clusters, whatever else the
    // union-of-probes scan reads — so the batch must reproduce each
    // query run as a batch of one (which scans only that query's
    // probes) row-for-row
    for (q <- qIds) {
      val single = IvfPq.ivfPqTopKBatch(spark, root, emb, cents, books,
          Seq(q), k = 10, nprobe = 4, corpusSize = n)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(single.size == 10)
      assert(batch.filter(_._1 == q) == single, s"batch diverges for query $q")
    }
    // chunking is result-invariant here too
    val chunked = IvfPq.ivfPqTopKBatch(spark, root, emb, cents, books,
        qIds, k = 10, nprobe = 4, corpusSize = n, maxChunk = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(chunked == batch)
    // one union scan: scanned rows ≤ Σ per-query scans (shared probe
    // clusters read once) and < the corpus (still pruned)
    val scanned = batchDf.queryExecution.observedMetrics("ivfpq_batch")
      .getLong(0)
    assert(scanned > 0 && scanned < n,
      s"union-of-probes scan must stay pruned: $scanned of $n")
  }

  test("k-means training: deterministic, unit-norm, improves over init") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.trainCentroids(emb, k = 8, iters = 2)
    val b = Similarity.trainCentroids(emb, k = 8, iters = 2)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "training must be deterministic")
    a.foreach { c =>
      val nrm = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-4, s"centroid norm $nrm not unit")
    }
    // Mean max-cosine to the nearest centroid (quantization quality) must
    // not degrade as Lloyd's iterations run — the monotone-improvement
    // property of k-means, measured on the full corpus.
    def quality(iters: Int): Double = {
      val cents = Similarity.trainCentroids(emb, k = 8, iters = iters)
      import org.apache.spark.sql.functions._
      val scored = cents.toSeq.map(c =>
        graft.functions.exprs.vecDot(col("embedding"), typedlit(c.toSeq)))
      emb.select(avg(greatest(scored: _*)).as("q"))
        .collect().head.getDouble(0)
    }
    val q0 = quality(0); val q3 = quality(3)
    assert(q3 >= q0 - 1e-9, s"training degraded quantization: init=$q0 trained=$q3")
  }

  test("IVF index written partitionBy(cluster): a probe is partition pruning") {
    // the SCALING.md claim made concrete: persist the index clustered by
    // coarse centroid and a single-cluster probe reads only that directory
    val dir = sys.props("java.io.tmpdir") + "/graft_ivf_index"
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmRf)
      f.delete(); ()
    }
    rmRf(new java.io.File(dir))
    val emb = Tables.embeddings(spark, sf)
    Similarity.ivfIndex(emb, k = 4)
      .write.partitionBy("cluster").parquet(dir)
    val probe = spark.read.parquet(dir).filter(col("cluster") === 1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cluster"),
      s"cluster filter must prune partitions, not scan+filter:\n${plan.take(600)}")
    // and the pruned read returns exactly that cluster's vectors
    val expected = Similarity.ivfIndex(emb, k = 4)
      .filter(col("cluster") === 1).count()
    assert(probe.count() == expected && expected > 0)
  }

  test("hyperplanes are deterministic") {
    assert(Similarity.hyperplanes().flatten.toSeq ==
           Similarity.hyperplanes().flatten.toSeq)
  }

  test("knnJoin matches per-query brute force, excludes self, ranks 1..k") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.knnJoin(emb, emb.filter(col("vec_id") < 3), k = 4)
      .collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(Array(1, 2, 3, 4)))
      assert(!rows.map(_.getLong(2)).contains(q), s"self in knn of $q")
      // per-query result == single-query brute force (minus the self hit)
      val bf = Similarity.bruteForceTopK(emb, q, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).filter(_._1 != q).take(4)
      val got = rows.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3)))
      assert(got.sameElements(bf), s"q=$q got=${got.toSeq} bf=${bf.toSeq}")
    }
  }

  test("contract precondition: ANN/brute-force neighbor lists are duplicate-free") {
    // annContract's accounting needs both sides distinct on vec_id
    // within a query — a duplicate ann row would fan out the matching
    // corpus row, count twice in n_ann and enter the exact top-k twice.
    // Pin it on every producer annContract consumes.
    val emb = Tables.embeddings(spark, sf)
    for ((name, df) <- Seq(
        "bruteForceTopK" -> Similarity.bruteForceTopK(emb, 0L, 10),
        "annTopK" -> Similarity.annTopK(emb, 0L, 10),
        "ivfTopK" -> Similarity.ivfTopK(emb, 0L, 10))) {
      val ids = df.select("vec_id").collect().map(_.getLong(0))
      assert(ids.length == ids.distinct.length, s"$name emitted duplicate vec_ids")
    }
  }

  test("annContract, both floor modes: n_ann = k, the exact side's min " +
       "cosine is bruteForceTopK's, the floor booleans follow the recall, " +
       "and only the batch-mean mode plans a Window") {
    import graft.similarity.Pq
    val emb = Tables.embeddings(spark, sf)
    val books = Pq.trainCodebooks(emb)
    val codes = Pq.encode(emb, books).select("vec_id", "codes")
    val qIds = Seq(0L, 1L, 2L, 3L)
    val ann = Pq.adcTopKBatch(codes, emb, qIds, 10, books)
    val annIds = ann.collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    // the exact side the single-query contract used: one brute-force
    // top-k per query (the query itself kept)
    val exact = qIds.map(q => q -> Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq).toMap
    val recall = qIds.map(q =>
      q -> (annIds(q) intersect exact(q).map(_._1).toSet).size / 10.0).toMap
    val meanRecall = recall.values.sum / qIds.size
    // a floor between the lowest and the highest per-query recall makes
    // both booleans informative whenever the recalls differ
    val floor = (recall.values.min + recall.values.max) / 2
    for (batchMean <- Seq(false, true)) {
      val c = Similarity.annContract(ann, emb, qIds, 10, minRecall = floor,
        batchMean = batchMean)
      val okCol = if (batchMean) "batch_recall_ok" else "recall_ok"
      assert(c.columns.toSeq ==
        Seq("q_id", "k", "n_ann", "exact_topk_min_cos", okCol))
      val rows = c.collect()
      assert(rows.map(_.getLong(0)).toSeq == qIds)
      for (r <- rows) {
        val q = r.getLong(0)
        assert(r.getInt(1) == 10 && r.getLong(2) == 10L, s"q=$q: n_ann != k")
        assert(r.getDouble(3) == exact(q).map(_._2).min,
          s"q=$q: exact min cosine diverges from bruteForceTopK")
        val want = if (batchMean) meanRecall >= floor else recall(q) >= floor
        assert(r.getBoolean(4) == want,
          s"q=$q batchMean=$batchMean: floor boolean != recall ${recall(q)}")
      }
      val plan = c.queryExecution.executedPlan.toString
      assert(plan.contains("Window") == batchMean,
        s"batchMean=$batchMean: Window in plan must be $batchMean:\n$plan")
    }
  }

  test("ivfPqCompact: one file per cluster partition after appends, " +
       "top-k row-identical, standing marker survives") {
    import graft.similarity.IvfPq
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val srcDir = java.nio.file.Files.createTempDirectory("ivfpq_cmp_src")
      .toString
    half.write.parquet(srcDir + "/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("ivfpq_cmp_spec")
      .toString + "/idx"
    val (cents, books, _, _) = IvfPq.ivfPqIngest(spark, srcDir, root)
    val (_, _, nFull) = IvfPq.ivfPqAppend(rest, root)
    def partFiles(): Map[String, Int] = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = partFiles()
    assert(before.values.exists(_ > 1),
      s"append should accrete files somewhere before compact: $before")
    def topk() = IvfPq.ivfPqTopKBatch(spark, root, emb, cents, books,
        Seq(1L), k = 10, nprobe = 16, corpusSize = nFull)
      .collect().map(_.toString).toSeq
    val want = topk()
    IvfPq.ivfPqCompact(spark, root)
    val after = partFiles()
    assert(after.keySet == before.keySet, "compact must keep every cluster")
    assert(after.values.forall(_ == 1),
      s"compact must leave exactly one file per cluster dir: $after")
    assert(topk() == want, "compact must be invisible to the query")
    // marker survived with the same fingerprint + payload: re-ingest
    // reuses the compacted index (no rebuild) at the appended size
    val (_, _, nAgain, _) = IvfPq.ivfPqIngest(spark, srcDir, root)
    assert(nAgain == nFull, "marker must survive compaction unchanged")
  }

  test("deriveKMeansK balances assignment against pair cost (2.7√n — " +
       "the q135 scale dial) with a floor and a measured-envelope cap") {
    // the floor binds only on degenerate tiny corpora (k ≤ init sample)
    assert(Similarity.deriveKMeansK(30L) == 16)
    // √(7.5n): the balanced optimum RE-FIT after the NearestCentroid
    // loop rewrite dropped the assignment constant ~6× (BENCHMARKS
    // r13): the measured sf10 bowl (k=317/800/1600/3200 →
    // 97.8/74.3/73.0/139.7 s) bottoms at k*≈1200 = √(7.5·200000);
    // earlier laws measured worse — fixed k=16 pairs-quadratic (sf1
    // 101 s), n/125 assignment-quadratic (sf10 482 s under the tree
    // form), √(n/2) off-bottom 1.34× under the loop form
    assert(Similarity.deriveKMeansK(2000L) == 123)
    assert(Similarity.deriveKMeansK(20000L) == 388)
    assert(Similarity.deriveKMeansK(200000L) == 1225)
    // cap: k=3200 measures super-linear (139.7 s) — hierarchical/IVF
    // assignment is the mechanism past this, not a wider loop
    assert(Similarity.deriveKMeansK(100L * 1000 * 1000) == 2048)
    // monotone
    val ns = Seq(1L, 2000L, 2001L, 50000L, 999999L)
    val ks = ns.map(Similarity.deriveKMeansK(_))
    assert(ks == ks.sorted)
    // the derived DEFAULT equals the explicit k at the corpus size —
    // same clustering, same verdicts, row-for-row
    val emb = Tables.embeddings(spark, sf)
    val kD = Similarity.deriveKMeansK(emb.count())
    val d = Similarity.semDeDupKMeans(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted.toSeq
    val e = Similarity.semDeDupKMeans(emb, k = kD).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted.toSeq
    assert(d == e, s"derived default must equal explicit k=$kD")
  }

  test("semDeDupKMeans skew guard: a degenerate clustering is " +
       "sub-bucketed by signature — bounded pairs, exact dups still " +
       "collapse, balanced corpora untouched") {
    val spark0 = spark
    import spark0.implicits._
    // a corpus the cheap trainer genuinely concentrates: 64 ORTHOGONAL
    // one-hot directions × 31 exact copies. Init samples ≤16 distinct
    // directions as centroids; every copy of an UNSAMPLED direction
    // dots 0.0 with every centroid — an exact tie, which the struct-max
    // argmax breaks identically — so ~48 directions' copies pile into
    // ONE cluster — a deterministic adversarial reproduction of the
    // concentration failure (the shipped corpora themselves cluster
    // balanced: the r13 sweeps measure hot=∅ at every sf1/sf10 cell).
    // Cross-group cos = 0 < τ, so ground truth is
    // exactly one keeper per group — 64 — regardless of bucketing,
    // PROVIDED copies share a bucket (they do: identical embedding →
    // identical cluster and identical signature).
    val blob = (0 until 64).flatMap { g =>
      val v = Array.tabulate(64)(d => if (d == g) 1f else 0f)
      (0 until 31).map(c => (g * 31L + c, v, g))
    }.toDF("vec_id", "embedding", "label")
    val (_, hot, kR) = Similarity.kmeansSigTable(blob, k = 16)
    assert(hot.nonEmpty,
      s"the tie-concentrated corpus at k=$kR must trip the 8x guard")
    val dd = Similarity.semDeDupKMeans(blob, k = 16, num = 2, den = 3)
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(dd.count(_._2) == 64,
      "exactly one keeper per exact-copy group under the guard")
    // every keeper is its group's minimum id (CC keeper = component min)
    dd.filter(_._2).foreach { case (id, _) =>
      assert(id % 31 == 0, s"keeper $id must be its group's min id") }
    // the direct rule agrees on this corpus (no chains: edges only
    // inside exact-copy groups)
    val dir = Similarity.semDeDupDirectKMeans(blob, k = 16, num = 2,
      den = 3).collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(dir.count(_._2) == 64)
    // balanced corpora never trip the guard: the shipped testdata and
    // every planted fixture resolve hot = ∅ (behavior unchanged)
    val emb = Tables.embeddings(spark, sf)
    val (_, hotReg, _) = Similarity.kmeansSigTable(emb, k = -1)
    assert(hotReg.isEmpty, "regular corpus must not trip the skew guard")
  }

  test("ivfPqDrift: the appended-mass fraction rides the payload and " +
       "the retrain flag flips exactly at the documented 25% crossing " +
       "(r12 verdict task #7)") {
    import graft.similarity.IvfPq
    val emb = Tables.embeddings(spark, sf)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 =!= 0)
    val n0 = even.count() // the trained corpus size
    val srcDir = java.nio.file.Files.createTempDirectory("ivfpq_drift_src")
      .toString
    even.write.parquet(srcDir + "/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("ivfpq_drift")
      .toString + "/idx"
    IvfPq.ivfPqIngest(spark, srcDir, root)
    assert(IvfPq.ivfPqDrift(root) == ((0.0, false)),
      "fresh ingest has zero drift")
    // append JUST under the threshold: floor(0.25·n0) new vectors
    val under = (n0 * graft.Tuning.IvfPqRetrainFraction).toLong
    val oddIds = odd.select("vec_id").collect().map(_.getLong(0)).sorted
    IvfPq.ivfPqAppend(
      odd.filter(col("vec_id") <= oddIds(under.toInt - 1)), root)
    val (fUnder, xUnder) = IvfPq.ivfPqDrift(root)
    assert(fUnder == under.toDouble / n0 && !xUnder,
      s"at $fUnder (= $under/$n0) the flag must still be down")
    // one more vector crosses it: fraction strictly exceeds 0.25
    IvfPq.ivfPqAppend(
      odd.filter(col("vec_id") === oddIds(under.toInt)), root)
    val (fOver, xOver) = IvfPq.ivfPqDrift(root)
    assert(fOver == (under + 1).toDouble / n0 && xOver,
      s"at $fOver the retrain flag must be up")
    // trainedN is sticky across appends: the fraction keeps growing
    // against the ORIGINAL trained size, not the inflated current one
    IvfPq.ivfPqAppend(
      odd.filter(col("vec_id") === oddIds(under.toInt + 1)), root)
    assert(IvfPq.ivfPqDrift(root)._1 == (under + 2).toDouble / n0)
  }

  test("URI-schemed index root: the full ivf-pq ingest → append → " +
       "compact → reuse cycle works through an explicit file:// root " +
       "(r12 verdict task #6 — pins IndexFs's scheme resolution and " +
       "raw-FS unwrap, which plain-path tests never exercise)") {
    import graft.similarity.IvfPq
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val srcDir = java.nio.file.Files.createTempDirectory("ivfpq_uri_src")
      .toString
    half.write.parquet(srcDir + "/embeddings.parquet")
    // the URI form a cluster deployment would pass (hdfs://… there):
    // Path.getFileSystem resolves the scheme, and the local FS comes
    // back CHECKSUMMED — the raw unwrap must still apply or every
    // marker write grows a .crc sidecar that torn-write rewrites break
    val root = "file://" + java.nio.file.Files
      .createTempDirectory("ivfpq_uri_spec").toString + "/idx"
    val localRoot = new java.io.File(new java.net.URI(root))
    val (cents, books, _, _) = IvfPq.ivfPqIngest(spark, srcDir, root)
    assert(graft.ops.Standing.current(root).isDefined,
      "validity marker must exist under the URI-schemed root")
    assert(!new java.io.File(localRoot.getPath + "/_VALID.crc").exists &&
      !new java.io.File(localRoot.getPath + "/._VALID.crc").exists,
      "raw-FS unwrap: metadata writes must not grow checksum sidecars")
    val (_, _, nFull) = IvfPq.ivfPqAppend(rest, root)
    def topk() = IvfPq.ivfPqTopKBatch(spark, root, emb, cents, books,
        Seq(1L), k = 10, nprobe = 16, corpusSize = nFull)
      .collect().map(_.toString).toSeq
    val want = topk()
    IvfPq.ivfPqCompact(spark, root)
    val clusterDirs = localRoot.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
    assert(clusterDirs.nonEmpty, "compact must leave the partition layout")
    assert(clusterDirs.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "compact must leave exactly one file per cluster dir")
    assert(topk() == want, "compact must be invisible to the query")
    val (_, _, nAgain, _) = IvfPq.ivfPqIngest(spark, srcDir, root)
    assert(nAgain == nFull,
      "reuse: the marker must survive compaction under the URI root")
    // and the CLAIM primitive (atomic create-if-absent → NIO O_EXCL on
    // the raw local FS) through the same scheme: semDeDup's auto-id
    // append burns ids via _claims files under the URI root
    val sdSrc = java.nio.file.Files.createTempDirectory("semdd_uri_src")
      .toString
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    emb.filter(col("vec_id") < mid)
      .write.parquet(sdSrc + "/embeddings.parquet")
    val sdRoot = "file://" + java.nio.file.Files
      .createTempDirectory("semdd_uri").toString + "/idx"
    Similarity.semDeDupIngest(spark, sdSrc, sdRoot)
    val (nApp, _) = // batchId = -1 → claimBatchId → createExclusive
      Similarity.semDeDupAppend(emb.filter(col("vec_id") >= mid), sdRoot)
    assert(nApp == ids.length,
      "auto-id append through a URI-schemed root must land its batch")
  }

  test("semDeDup: one keeper per component (the minimum), total " +
       "preserved, a planted exact duplicate collapses onto its source") {
    val emb = Tables.embeddings(spark, sf)
    val dd = Similarity.semDeDup(emb).collect()
    assert(dd.length == emb.count(), "one row per vector")
    val byComp = dd.groupBy(_.getLong(1))
    byComp.foreach { case (comp, rows) =>
      val keepers = rows.filter(_.getBoolean(2)).map(_.getLong(0))
      assert(keepers.toSeq == Seq(comp),
        s"component $comp: keeper must be exactly the component min, " +
          s"got ${keepers.toSeq}")
      assert(rows.map(_.getLong(0)).min == comp,
        s"component label must be the member minimum")
    }
    // plant an exact duplicate of vec 0: identical embedding → identical
    // signature bucket and cosine 1 ≥ τ, so the clone must join vec 0's
    // component and lose the keeper election to the smaller id
    val clone = emb.filter(col("vec_id") === 0L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(100000L))
    val dd2 = Similarity.semDeDup(emb.unionByName(clone)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(dd2(100000L)._1 == dd2(0L)._1,
      "exact duplicate must share its source's component")
    assert(!dd2(100000L)._2, "the higher-id duplicate must be dropped")
    assert(dd2.count(_._2._2) == dd2.values.map(_._1).toSet.size,
      "exactly one keeper per component")
  }

  test("semDeDupDirect: drop iff a smaller-id neighbor exists, direct " +
       "keeps are a superset of CC keeps, append == one-shot ingest") {
    val emb = Tables.embeddings(spark, sf)
    val direct = Similarity.semDeDupDirect(emb).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // ground truth from the same edge helper the implementation uses is
    // circular — recompute "has a smaller neighbor" via the CC result's
    // raw edges instead: every CC keeper (component min) must be kept
    // by the direct rule too (its neighbors are component-mates, all
    // larger), while the direct rule may keep MORE (no transitivity)
    val cc = Similarity.semDeDup(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    cc.filter(_._3).foreach { case (id, _, _) =>
      assert(direct(id), s"CC keeper $id must be a direct keeper") }
    assert(direct.count(_._2) >= cc.count(_._3),
      "direct rule keeps at least as many as the CC rule")
    assert(direct(direct.keys.min), "the global minimum id is always kept")
    // standing index: ingest the first half (by id), append the second —
    // the table must equal the one-shot full ingest row-for-row,
    // verdicts included (the direct rule is id-order-exact)
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val srcHalf = java.nio.file.Files.createTempDirectory("semdd_src").toString
    emb.filter(col("vec_id") < mid)
      .write.parquet(srcHalf + "/embeddings.parquet")
    val rootInc = java.nio.file.Files.createTempDirectory("semdd_inc")
      .toString + "/idx"
    Similarity.semDeDupIngest(spark, srcHalf, rootInc)
    // the declared read schema is the one parquet infers from what the
    // ingest and the append wrote
    assert(Similarity.SemDeDupSchema ==
      spark.read.parquet(s"$rootInc/base").schema)
    val rest = emb.filter(col("vec_id") >= mid)
    val (nInc, keptInc) =
      Similarity.semDeDupAppend(rest, rootInc, batchId = 7L)
    assert(Similarity.SemDeDupSchema == spark.read.parquet(s"$rootInc/base",
      graft.ops.Standing.batchDir(rootInc, 7L)).schema)
    def tbl(root: String) = Similarity.semDeDupIndex(spark, root)
      .select("vec_id", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
    val oneShot = Similarity.semDeDupDirect(emb).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
    assert(tbl(rootInc) == oneShot,
      "append must equal the one-shot ingest, verdicts included")
    assert(nInc == emb.count() && keptInc == oneShot.count(_._2),
      "reported counters must track the appended totals")
    // exactly-once: replaying the committed batch id no-ops (the dup
    // rows a naive append would create are the silent-corruption class
    // the batch-dir layout exists to prevent)
    val (nReplay, keptReplay) =
      Similarity.semDeDupAppend(rest, rootInc, batchId = 7L)
    assert(tbl(rootInc) == oneShot && nReplay == nInc &&
      keptReplay == keptInc, "committed replay must be a no-op")
    // out-of-order append is refused: history must never be rewritten
    val err = intercept[IllegalArgumentException] {
      Similarity.semDeDupAppend(emb.filter(col("vec_id") < mid), rootInc)
    }
    assert(err.getMessage.contains("id-order"))
  }

  test("semDeDup standing index: empty append batch is a committed no-op, " +
       "rebuild cleans stale append batches (r11 advisor finds)") {
    val emb = Tables.embeddings(spark, sf)
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val srcHalf = java.nio.file.Files.createTempDirectory("semdd_rb_src").toString
    emb.filter(col("vec_id") < mid)
      .write.parquet(srcHalf + "/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("semdd_rb")
      .toString + "/idx"
    val (n0, kept0) = Similarity.semDeDupIngest(spark, srcHalf, root)
    // EMPTY batch (a streaming restart / no-data trigger delivers one):
    // must not throw (min(vec_id) is SQL NULL — the NPE class), must
    // leave stats unchanged, and must COMMIT its batch dir so a replay
    // of the same id no-ops like any other committed batch
    val none = emb.filter(col("vec_id") < 0)
    val (nE, keptE) = Similarity.semDeDupAppend(none, root, batchId = 3L)
    assert((nE, keptE) == (n0, kept0), "empty append must not change stats")
    assert(new java.io.File(s"$root/batch_3/_SUCCESS").exists,
      "empty batch must still commit (replay idempotence)")
    // a real append, then a REBUILD forced by a hyperparameter change:
    // the rebuilt index must hold ONLY the new base — stale batch dirs
    // from the old (planes, τ) must be gone, not unioned in
    val (nApp, _) = Similarity.semDeDupAppend(
      emb.filter(col("vec_id") >= mid), root, batchId = 4L)
    assert(nApp == ids.length, "real append lands before the rebuild")
    val (nRb, _) = Similarity.semDeDupIngest(spark, srcHalf, root,
      planes = graft.similarity.Similarity.NumPlanes + 2)
    assert(nRb == ids.count(_ < mid).toLong,
      s"rebuild must drop stale append batches: expected base-only " +
        s"${ids.count(_ < mid)} rows, got $nRb")
    val rebuilt = Similarity.semDeDupIndex(spark, root)
      .select("vec_id").collect().map(_.getLong(0))
    assert(rebuilt.forall(_ < mid) && rebuilt.length == rebuilt.distinct.length,
      "rebuilt index holds exactly the new base, no stale batch rows")
    assert(!new java.io.File(s"$root/batch_4").exists,
      "stale batch dirs are deleted by the rebuild")
    assert(!new java.io.File(s"$root/_claims").exists,
      "the burned-id claims namespace resets with the rebuild")
  }

  test("semDeDupIngest default derives the planes dial from corpus size " +
       "and equals an explicit derivePlanes(n) ingest (r12 task #3)") {
    // a corpus PAST the derivation base (4096 > 2000 → 2 doublings →
    // planes 10), so the default path actually derives instead of
    // coasting on the floor like every shipped testdata size does
    val spark0 = spark
    import spark0.implicits._
    val emb = (0L until 4096L).map { id =>
      (id, Array.tabulate(64)(i => (((id * 31 + i * 7) % 17) - 8).toFloat / 8f),
        (id % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
    val src = java.nio.file.Files.createTempDirectory("semdd_dp_src").toString
    emb.write.parquet(src + "/embeddings.parquet")
    val expected = Similarity.derivePlanes(4096L)
    assert(expected == 10, "4096 rows = 2 doublings past base 2000")
    def payloadPlanes(root: String): Int = graft.ops.Standing.current(root)
      .map(_._2.trim.split(" ")(0).toInt)
      .getOrElse(fail(s"no marker at $root"))
    val rootDef = java.nio.file.Files.createTempDirectory("semdd_dp_a")
      .toString + "/idx"
    Similarity.semDeDupIngest(spark, src, rootDef)
    assert(payloadPlanes(rootDef) == expected,
      "default ingest must record the DERIVED dial in its payload")
    val rootExp = java.nio.file.Files.createTempDirectory("semdd_dp_b")
      .toString + "/idx"
    Similarity.semDeDupIngest(spark, src, rootExp, planes = expected)
    assert(payloadPlanes(rootExp) == expected)
    def tbl(root: String) = Similarity.semDeDupIndex(spark, root)
      .select("vec_id", "sig", "keep").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).sorted.toSeq
    assert(tbl(rootDef) == tbl(rootExp),
      "ingest(default) must equal ingest(derivePlanes(n)) row-for-row")
    // the floor: at a ≤base corpus the derived default IS the portable
    // constant — which is why q134's oracle results are unchanged at
    // every shipped testdata size
    val rootFloor = java.nio.file.Files.createTempDirectory("semdd_dp_c")
      .toString + "/idx"
    Similarity.semDeDupIngest(spark, sf, rootFloor)
    assert(payloadPlanes(rootFloor) == Similarity.NumPlanes,
      "≤base corpus must resolve the derived dial to the portable floor")
  }

  test("ivfPqAppend: presence-keyed exactly-once — a torn batch " +
       "re-appends only its missing rows, a replay no-ops, the payload " +
       "count heals from data") {
    val emb = Tables.embeddings(spark, sf)
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val (mid, q3) = (ids(ids.length / 2), ids(3 * ids.length / 4))
    val srcHalf = java.nio.file.Files.createTempDirectory("ivfd_src").toString
    emb.filter(col("vec_id") < mid)
      .write.parquet(srcHalf + "/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("ivfd").toString
    val (root, rootRef) = (s"$base/idx", s"$base/ref")
    IvfPq.ivfPqIngest(spark, srcHalf, root)
    IvfPq.ivfPqIngest(spark, srcHalf, rootRef)
    val batch = emb.filter(col("vec_id") >= mid)
    IvfPq.ivfPqAppend(batch, rootRef) // the clean one-shot twin
    // simulate a TORN commit of `batch`: only its first part landed
    IvfPq.ivfPqAppend(batch.filter(col("vec_id") < q3), root)
    // the replay delivers the WHOLE batch — presence dedup must append
    // exactly the missing tail, landing on the twin row-for-row
    val (_, _, n1) = IvfPq.ivfPqAppend(batch, root)
    def codes(r: String) = spark.read.parquet(r)
      .collect().map(_.toString).sorted.toSeq
    assert(codes(root) == codes(rootRef),
      "torn-batch replay must re-append exactly the missing rows")
    assert(n1 == ids.length.toLong, "healed corpus count")
    // a second full replay is a pure no-op
    val (_, _, n2) = IvfPq.ivfPqAppend(batch, root)
    assert(n2 == n1 && codes(root) == codes(rootRef), "replay no-op")
    // payload heal: corrupt the count (a crash between a data commit and
    // its markValid leaves exactly this), then a no-op replay repairs it
    val (fp, p) = graft.ops.Standing.current(root).get
    val lines = p.split("\n")
    graft.ops.Standing.markValid(root, fp,
      (Seq("1") ++ lines.tail).mkString("\n"))
    val (_, _, n3) = IvfPq.ivfPqAppend(batch, root)
    assert(n3 == ids.length.toLong,
      "stale payload count must heal from the data")
    assert(graft.ops.Standing.current(root).get._2.split("\n")(0).toLong ==
      ids.length.toLong, "healed count must be re-marked")
  }

  test("derivePlanes reproduces the measured planes ladder and is " +
       "monotone with a floor") {
    // the probed sweet spots (BENCHMARKS "planes dial", SemDedupProbe):
    // 2k → 8, 20k → 12, 200k → 15 — the formula must land on all three
    assert(Similarity.derivePlanes(2000L) == 8)
    assert(Similarity.derivePlanes(20000L) == 12)
    assert(Similarity.derivePlanes(200000L) == 15)
    // floor: tiny corpora never go below the portable default
    assert(Similarity.derivePlanes(10L) == 8)
    // ceiling: the int-packed signature has 32 usable bits — planes must
    // clamp at 31 instead of silently aliasing buckets (1 << 32 == 1)
    assert(Similarity.derivePlanes(Long.MaxValue / 4) == 31)
    assert(Similarity.derivePlanes(100L * 1000 * 1000 * 1000) == 31)
    // monotone nondecreasing across three decades
    val ns = Seq(1L, 2000L, 5000L, 20000L, 90000L, 200000L, 2000000L)
    val ps = ns.map(Similarity.derivePlanes(_))
    assert(ps == ps.sorted, s"derivePlanes must be monotone: $ps")
    // ~linear candidate budget: each 2x of corpus adds ≤1 plane, so
    // n²/2^planes grows at most linearly
    ns.zip(ps).sliding(2).foreach { case Seq((n1, p1), (n2, p2)) =>
      val doublings = math.log(n2.toDouble / n1) / math.log(2.0)
      assert(p2 - p1 <= math.ceil(doublings) + 1e-9,
        s"planes must not outrun the doublings: $n1->$n2 gave $p1->$p2")
    }
  }

  test("semDeDup on a TRAINED k-means clustering (the paper's shape): " +
       "planted clusters collapse to few keepers, every planted label " +
       "survives, CC keepers ⊆ direct keepers, clones drop") {
    import spark.implicits._
    // the q131 fixture class: 16 tight planted clusters (σ=0.08 around
    // unit centers → within-cluster cosine ≫ τ=1/4), deterministic
    val rnd = new scala.util.Random(7)
    val dim = 32
    val kClusters = 16
    val centers = Array.fill(kClusters, dim)(rnd.nextGaussian().toFloat)
      .map { c =>
        val n = math.sqrt(c.map(x => x.toDouble * x).sum).toFloat
        c.map(_ / n)
      }
    val vecs = (0 until 2000).map { i =>
      val c = centers(i % kClusters)
      val v = c.map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / n).toSeq, i % kClusters)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"), col("label"))
    // τ = 2/3, not the q133 default 1/4: random unit centers in 32-dim
    // reach pairwise cosine ≈ 0.25 (and under this seed one pair ≈ 0.5),
    // so at low τ a trained cluster that merges two such planted
    // clusters legitimately dedups one away (measured: 3 of 16 labels
    // erased at τ=1/4, 1 at τ=1/2 — REAL cross-label similarity, not a
    // bug). At τ=2/3 cross-label cosine cannot reach the threshold
    // while within-cluster cosine (~0.99 at σ=0.08) clears it, so label
    // survival is the right pin
    val cc = Similarity.semDeDupKMeans(emb, k = kClusters, num = 2,
        den = 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val direct = Similarity.semDeDupDirectKMeans(emb, k = kClusters,
        num = 2, den = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(cc.size == 2000 && direct.size == 2000, "one verdict per vector")
    // the structural containment the portable form pins, under the
    // trained clustering too: a CC keeper (component min) has no smaller
    // neighbor, so the direct rule keeps it as well
    cc.filter(_._2).keys.foreach(id =>
      assert(direct(id), s"CC keeper $id must be a direct keeper"))
    // drop quality vs the planted labels: tight clusters mean nearly
    // every vector has a same-cluster τ-neighbor — both rules must
    // collapse the corpus to a few keepers per planted label, and every
    // planted label must SURVIVE (dedup must not erase a whole cluster)
    val labelOf = vecs.map(v => v._1 -> v._3).toMap
    def perLabel(keep: Map[Long, Boolean]) =
      keep.filter(_._2).keys.groupBy(labelOf).view.mapValues(_.size).toMap
    val ccPer = perLabel(cc)
    val dirPer = perLabel(direct)
    assert((0 until kClusters).forall(l => ccPer.getOrElse(l, 0) >= 1),
      s"every planted label keeps ≥1 CC representative: $ccPer")
    assert((0 until kClusters).forall(l => dirPer.getOrElse(l, 0) >= 1),
      s"every planted label keeps ≥1 direct representative: $dirPer")
    val (nCc, nDir) = (cc.count(_._2), direct.count(_._2))
    info(s"trained-clustering keepers: CC=$nCc direct=$nDir of 2000 " +
      s"(16 planted clusters); per-label CC=${ccPer.toSeq.sorted}")
    assert(nCc <= 200 && nDir <= 200,
      s"tight planted clusters must collapse hard: CC=$nCc direct=$nDir")
    // an exact clone of vec 0 under a larger id drops under both rules
    val clone = emb.filter(col("vec_id") === 0L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(100000L))
    val withClone = emb.unionByName(clone)
    val cc2 = Similarity.semDeDupKMeans(withClone, k = kClusters,
        num = 2, den = 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val dir2 = Similarity.semDeDupDirectKMeans(withClone, k = kClusters,
        num = 2, den = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!cc2(100000L) && !dir2(100000L),
      "the higher-id exact clone must drop under both rules")
    // and the PORTABLE-signature forms on the same corpus, for the
    // measured comparison (BENCHMARKS.md): the LSH buckets approximate
    // what the trained clustering gives exactly
    val ccP = Similarity.semDeDup(emb, num = 2, den = 3).collect()
      .count(_.getBoolean(2))
    val dirP = Similarity.semDeDupDirect(emb, num = 2, den = 3).collect()
      .count(_.getBoolean(1))
    info(s"portable-signature keepers on the same corpus: CC=$ccP " +
      s"direct=$dirP")
  }
}
