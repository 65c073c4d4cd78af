package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Corpus with planted near-duplicates: doc 101 is doc 1 with one word
    * changed; doc 102 is an exact copy of doc 2; doc 103 is unrelated. */
  private lazy val planted = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "spark makes large scale data processing simple fast and reliable for everyone"),
    (3L, "completely different content about cooking pasta with tomato sauce tonight"),
    (101L, "the quick brown fox jumps over the lazy cat and runs far away home"),
    (102L, "spark makes large scale data processing simple fast and reliable for everyone"),
    (103L, "unrelated musings on alpine hiking trails and mountain weather patterns"))
    .toDF("doc_id", "text")

  test("minhash LSH recalls planted near-duplicates") {
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(planted))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 101L)), s"missed near-dup pair, got $cands")
    assert(cands.contains((2L, 102L)), s"missed exact-dup pair, got $cands")
    assert(!cands.contains((3L, 103L)), s"false positive on unrelated pair")
  }

  test("LSH hot-bucket cap: a planted 500-copy doc yields O(cap²), not " +
       "O(n²), candidates") {
    // 500 byte-identical boilerplate docs: every copy lands in the SAME
    // bucket of every band — uncapped within-bucket pairing would emit
    // 500·499/2 ≈ 125k pairs; the cap bounds it at cap·(cap−1)/2.
    val boiler = spark.range(1000, 1500).toDF("doc_id")
      .withColumn("text",
        lit("repeated boilerplate navigation chrome footer text appears on every page verbatim"))
    val cap = 16
    val n = Dedup.lshCandidates(
      Dedup.minhashSignatures(boiler), maxBucket = cap).count()
    assert(n == cap.toLong * (cap - 1) / 2,
      s"expected ${cap * (cap - 1) / 2} capped pairs, got $n")
    // the cap keeps a deterministic sample — recall on DISTINCT near-dups
    // (the planted corpus) is unaffected because their buckets are small
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(planted))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 101L)) && cands.contains((2L, 102L)))
  }

  test("minhash signatures are deterministic across runs") {
    val a = Dedup.minhashSignatures(planted).collect().map(_.toString).sorted
    val b = Dedup.minhashSignatures(planted).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("simhash: exact dup has distance 0, near-dup is close, unrelated far") {
    val sh = Dedup.simhash(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(ham(2L, 102L) == 0)
    assert(ham(1L, 101L) < ham(1L, 103L),
      s"near-dup ${ham(1L, 101L)} not closer than unrelated ${ham(1L, 103L)}")
  }

  test("minhash signature agreement estimates Jaccard (the LSH estimator)") {
    val rows = Dedup.minhashVerifyPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getDouble(2); val exact = r.getDouble(3)
      // 16 hashes → binomial std ≈ sqrt(j(1-j)/16) ≤ 0.125; allow 4σ
      assert(math.abs(est - exact) <= 0.5,
        s"estimator wildly off: est=$est exact=$exact for ${r.getLong(0)}-${r.getLong(1)}")
    }
  }

  test("prefix-filter similarity join == exact all-pairs (lossless candidates)") {
    import graft.functions.exprs.{gram3SetSorted, sortedIntersectCount}
    val docs = Tables.documents(spark, sf)
    val sets = docs.withColumn("toks", graft.text.Text.tokens)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), gram3SetSorted(col("toks")).as("hs"))
      .withColumn("n", size(col("hs")))
    // τ = 1/2 (binary-exact) AND τ = 1/20 (0.05 is NOT binary-exact — the
    // double-ceil prefix-length hazard: ceil(0.05·n) rounds up at exact
    // multiples of 20, shortening prefixes and dropping true pairs; the
    // integer rank math must not)
    for ((num, den) <- Seq((1L, 2L), (1L, 20L))) {
      val got = Dedup.similarityJoin(docs, num, den).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // ground truth: unfiltered all-pairs over the identical shingle
      // sets, thresholded in the same integer math
      val exact = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
        .withColumn("inter", sortedIntersectCount(col("a.hs"), col("b.hs")))
        .filter(col("inter") * lit(den) >=
          (col("a.n") + col("b.n") - col("inter")) * lit(num))
        .withColumn("j", col("inter").cast("double") /
          (col("a.n") + col("b.n") - col("inter")))
        .select(col("a.doc_id"), col("b.doc_id"), col("j")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty, s"corpus should contain pairs at j >= $num/$den")
      assert(got == exact, s"prefix filter must be lossless at tau=$num/$den: " +
        s"missing ${exact -- got}, extra ${got -- exact}")
    }
  }

  test("exact dedup counts duplicates") {
    val withLang = planted.withColumn("lang", lit("en"))
    val row = Dedup.qDedupExact(spark, sf) // smoke on harness table
    assert(row.count() > 0)
    // planted: 6 docs, 5 distinct texts
    val n = withLang.groupBy("lang")
      .agg(countDistinct(md5(col("text"))).as("d")).collect().head.getLong(1)
    assert(n == 5)
  }

  test("bloom dedup == plain anti/semi join classification (no FP survives)") {
    val corpus = planted.filter(col("doc_id") < 100)
      .select(md5(col("text")).as("fp")).distinct()
    val incoming = planted.filter(col("doc_id") >= 100) // 101 near, 102 exact, 103 new
    // tiny filter + high fpp to force false positives through the verify path
    val out = Dedup.bloomDedup(incoming, corpus, expectedItems = 4, fpp = 0.5)
      .select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(101L -> false, 102L -> true, 103L -> false), s"$out")
  }

  test("dup coverage: exact-copy source fully duplicated, unique source 0") {
    // srcA: two identical 10-token docs — every 8-gram duplicated.
    // srcB: one unique doc — zero duplicated grams.
    val docs = Seq(
      (1L, "srcA", "one two three four five six seven eight nine ten"),
      (2L, "srcA", "one two three four five six seven eight nine ten"),
      (3L, "srcB", "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.dupCoverage(Dedup.gramPostings(docs)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out("srcA") == ((6L, 6L, 1.0)), s"srcA: ${out("srcA")}") // 3 grams/doc × 2 docs
    assert(out("srcB") == ((3L, 0L, 0.0)), s"srcB: ${out("srcB")}")
  }

  test("repeated-span mask: shared span cut from both docs, unique text " +
       "kept, token conservation") {
    // docs 1/2 share an 8-token boilerplate prefix, then diverge; doc 3 is
    // fully unique; doc 4 is too short to span.
    val boiler = "please subscribe to our newsletter for daily updates"
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$boiler omega psi chi phi upsilon tau sigma rho"),
      (3L, "entirely original prose about distributed query engines and planning"),
      (4L, "too short"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpanMask(docs, k = 8).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    // the 8-token boilerplate is exactly the shared span: masked in both
    assert(out(1L) == ((16, 8, "alpha beta gamma delta epsilon zeta eta theta")), s"${out(1L)}")
    assert(out(2L) == ((16, 8, "omega psi chi phi upsilon tau sigma rho")), s"${out(2L)}")
    // unique doc untouched
    assert(out(3L)._2 == 0 && out(3L)._3.startsWith("entirely original"))
    // sub-k doc filtered out entirely (cannot host a span)
    assert(!out.contains(4L))
    // conservation: cleaned token count == n_tokens - n_covered
    out.values.foreach { case (n, c, cleaned) =>
      val kept = cleaned.split(" ").count(_.nonEmpty)
      assert(kept == n - c, s"conservation broken: $n - $c vs $kept")
    }
  }

  test("decontaminate: eval-overlapping train doc dropped; unrelated, " +
       "short, and ultra-common-gram docs kept") {
    val evalTxt = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // 12 tokens → 5 distinct 8-grams; 25 train copies push each gram's
    // train-df past dfCap=20, so the rare-gram filter must EXEMPT them
    // (boilerplate ≠ contamination — the q62 dfCap rationale)
    val boiler = "shared boilerplate header text that occurs across very many training pages verbatim"
    val docs = (Seq(
      (1L, evalTxt, "src0"),
      (2L, boiler, "src0"),
      (201L, evalTxt, "src1"), // shares 5 rare 8-grams with eval → dropped
      (202L, "one two three four five six seven eight nine ten eleven twelve", "src1"),
      (203L, "tiny doc", "src1")) ++ // < 8 tokens: no grams, structurally kept
      (300L until 325L).map(i => (i, boiler, "src2")))
      .toDF("doc_id", "text", "source")
    val kept = Dedup.decontaminate(docs)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(!keptIds.contains(201L), "contaminated doc survived")
    assert(keptIds.contains(202L) && keptIds.contains(203L))
    assert((300L until 325L).forall(keptIds.contains),
      "dfCap-exempt boilerplate was dropped")
    // eval docs are not part of the returned corpus; schema is unchanged
    assert(!keptIds.contains(1L) && !keptIds.contains(2L))
    assert(kept.columns.toSeq == docs.columns.toSeq)
    // the action removes exactly the ids the report flags
    assert(Dedup.contaminatedTrainIds(docs).as[Long].collect().toSet == Set(201L))
  }

  test("gram index round trip: persisted postings answer both consumers " +
       "identically to from-scratch") {
    // fixture mixes the decontaminate shapes: an eval doc with a
    // contaminated train copy, boilerplate above dfCap, a unique doc,
    // and a sub-n doc that must carry no postings
    val evalTxt = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val boiler = "shared boilerplate header text that occurs across very many training pages verbatim"
    val docs = (Seq(
      (1L, evalTxt, "src0"),
      (201L, evalTxt, "src1"),
      (202L, "one two three four five six seven eight nine ten eleven twelve", "src1"),
      (203L, "tiny doc", "src1")) ++
      (300L until 325L).map(i => (i, boiler, "src2")))
      .toDF("doc_id", "text", "source")
    val root = java.nio.file.Files
      .createTempDirectory("gram_index_spec").toString + "/postings"
    Dedup.gramIndexIngest(docs, root)
    val idx = Dedup.gramIndex(spark, root)
    // postings survive the parquet round trip exactly
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(idx) == rows(Dedup.gramPostings(docs)))
    // sub-n doc has no postings
    assert(idx.filter(col("doc_id") === 203L).count() == 0)
    // both consumers: index-derived == from-scratch
    val fresh = Dedup.gramPostings(docs)
    assert(rows(Dedup.dupCoverage(idx)) == rows(Dedup.dupCoverage(fresh)))
    assert(rows(Dedup.contaminationPairs(idx)) ==
      rows(Dedup.contaminationPairs(fresh)))
    assert(Dedup.contaminationPairs(idx)
      .select("train_doc").as[Long].collect().toSet == Set(201L))
  }

  test("scratch index roots are (dataset, session)-keyed; interleaved " +
       "ingests against different datasets don't cross-read") {
    import graft.ops.Scratch
    // distinct per dataset and per kind; stable for the same pair — the
    // r8 fixed-name roots let a second driver's ingest silently replace
    // this driver's index between its ingest and its query
    val rootA = Scratch.root(spark, sf, "gram_ix_spec")
    val rootB = Scratch.root(spark, "/root/testdata/sf0.01", "gram_ix_spec")
    assert(rootA != rootB, "dataset must key the root")
    assert(rootA == Scratch.root(spark, sf, "gram_ix_spec"), "root must be stable")
    assert(rootA != Scratch.root(spark, sf, "pq_ix_spec"), "kind must key the root")
    // interleave the qGramIndex lifecycle of two runs: A ingests, B
    // ingests (mid-flight), A queries — A must still see ITS postings
    val docsA = Tables.documents(spark, sf)
    val docsB = Tables.documents(spark, "/root/testdata/sf0.01")
    Dedup.gramIndexIngest(docsA, rootA)
    Dedup.gramIndexIngest(docsB, rootB)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Dedup.dupCoverage(Dedup.gramIndex(spark, rootA))) ==
      rows(Dedup.dupCoverage(Dedup.gramPostings(docsA))),
      "interleaved ingest corrupted the standing index")
  }

  test("scratch generation bump (ingest-line retry, r14): fresh root, " +
       "fresh rebuild; within-generation stability holds") {
    import graft.ops.{Scratch, Standing}
    val before = Scratch.root(spark, sf, "gen_spec")
    val fp = Standing.fingerprint(s"$sf/documents.parquet")
    var builds = 0
    assert(Standing.ensure(before, fp) { builds += 1; "1 2" } == "1 2" &&
      builds == 1, "first ensure must build")
    assert(Standing.ensure(before, fp) { builds += 1; "9 9" } == "1 2" &&
      builds == 1, "same root + fp must reuse, not rebuild")
    Scratch.bumpGeneration()
    val after = Scratch.root(spark, sf, "gen_spec")
    assert(after != before,
      "generation bump must move the root (a same-root ingest retry " +
        "would time the marker reuse no-op, not the build)")
    assert(after == Scratch.root(spark, sf, "gen_spec"),
      "the new generation's root must itself be stable")
    assert(Standing.ensure(after, fp) { builds += 1; "3 4" } == "3 4" &&
      builds == 2,
      "the fresh-generation root must REBUILD (no marker there)")
  }

  test("gram index append: incremental == from-scratch on a random split; " +
       "df sidecar merges by sum") {
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files
      .createTempDirectory("gram_append_spec").toString + "/postings"
    // arbitrary hash split — the monoid property must hold for ANY split;
    // appending to empty roots bootstraps the index (ingest == append #1)
    val a = docs.filter(abs(xxhash64(col("doc_id"))) % 3 === 0)
    val b = docs.filter(abs(xxhash64(col("doc_id"))) % 3 =!= 0)
    Dedup.gramIndexAppend(a, root)
    Dedup.gramIndexAppend(b, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // appended postings == one-shot postings of the union
    assert(rows(Dedup.gramIndex(spark, root)) == rows(Dedup.gramPostings(docs)))
    // maintained df (sum of per-batch partials) == from-scratch df
    assert(rows(Dedup.gramIndexDf(spark, root)) ==
      rows(Dedup.gramPostings(docs).groupBy("g")
        .agg(sum(lit(1L)).as("df"))))
    // consumers unchanged over the appended index
    assert(rows(Dedup.dupCoverage(Dedup.gramIndex(spark, root))) ==
      rows(Dedup.dupCoverage(Dedup.gramPostings(docs))))
  }

  test("gram index append is idempotent per batch id: replays and " +
       "partial-crash repairs cannot double-append") {
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files
      .createTempDirectory("gram_replay_spec").toString + "/postings"
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val wantPostings = rows(Dedup.gramPostings(docs))
    val wantDf = rows(Dedup.gramPostings(docs).groupBy("g")
      .agg(sum(lit(1L)).as("df")))
    Dedup.gramIndexAppend(a, root, batchId = 0)
    Dedup.gramIndexAppend(b, root, batchId = 1)
    // committed replay (the checkpoint-recovery path): a second append of
    // batch 1 must be a no-op — markers present, so not even a write job
    val marker = new java.io.File(s"$root/batch_1/_SUCCESS")
    val mtime = marker.lastModified
    Dedup.gramIndexAppend(b, root, batchId = 1)
    assert(marker.lastModified == mtime, "committed batch must be skipped")
    assert(rows(Dedup.gramIndex(spark, root)) == wantPostings)
    assert(rows(Dedup.gramIndexDf(spark, root)) == wantDf)
    // partial-crash repair: kill batch 1's df partial (the crash window
    // between the two sink writes), replay the batch — the overwrite
    // semantics must restore postings AND sidecar to exactly from-scratch
    graft.ops.Scratch.deleteRec(new java.io.File(s"${root}_df/batch_1"))
    Dedup.gramIndexAppend(b, root, batchId = 1)
    assert(rows(Dedup.gramIndex(spark, root)) == wantPostings)
    assert(rows(Dedup.gramIndexDf(spark, root)) == wantDf)
    // replay AFTER compaction: the batch's df partial was absorbed into
    // the compacted partial, so the replay must rewrite postings only —
    // re-emitting the partial would double-count every gram in the
    // batch (the r10 review find; the _COMPACTED high-water mark)
    Dedup.gramIndexCompact(spark, root)
    graft.ops.Scratch.deleteRec(new java.io.File(s"$root/batch_1/_SUCCESS"))
    Dedup.gramIndexAppend(b, root, batchId = 1)
    assert(rows(Dedup.gramIndex(spark, root)) == wantPostings)
    assert(rows(Dedup.gramIndexDf(spark, root)) == wantDf,
      "replay of a compacted batch must not re-emit its df partial")
  }

  test("auto batch-id claims are durable: deleting a claimed id's data " +
       "dir (the mode-overwrite window) never frees the id") {
    val root = java.nio.file.Files
      .createTempDirectory("gram_claim_spec").toString + "/postings"
    val id0 = graft.ops.Standing.claimBatchId(root)
    // the r11 review window: mode("overwrite") DELETES batch_<id> before
    // the job recreates it — under the old data-dir claim, a concurrent
    // auto-id appender could re-claim the freed id in that window and the
    // two batches would silently overwrite each other. The claim marker
    // must survive the data dir's deletion.
    graft.ops.Scratch.deleteRec(new java.io.File(s"$root/batch_$id0"))
    val id1 = graft.ops.Standing.claimBatchId(root)
    assert(id1 != id0, "a deleted data dir must not free its claimed id")
    // and claims interleave correctly with real data batches: an append
    // after two bare claims lands past both
    val docs = Tables.documents(spark, sf).limit(5)
    Dedup.gramIndexAppend(docs, root)
    val dataIds = Option(new java.io.File(root).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .map(_.getName.stripPrefix("batch_").toLong)
    assert(dataIds.nonEmpty && dataIds.max > math.max(id0, id1),
      s"append must claim past bare claims: got $dataIds vs $id0/$id1")
    // CONCURRENT claims race to the same candidates and must all win
    // DISTINCT ids — this is exactly the O_EXCL atomicity the FileSystem
    // port must preserve (r12 review find: Hadoop's local
    // create(overwrite=false) is check-then-open, NOT exclusive; the
    // claim primitive routes local paths through NIO createFile).
    // A barrier lines all threads up on the same starting candidate.
    val n = 16
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = (0 until n).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            barrier.await(); graft.ops.Standing.claimBatchId(root)
          }
        })
      }
      val claimed = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(claimed.distinct.length == n,
        s"concurrent claims must win distinct ids, got $claimed")
    } finally { pool.shutdownNow(); () }
  }

  test("gram index compact refuses while a committed postings batch " +
       "lacks its df sidecar (the replay-starvation window)") {
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files
      .createTempDirectory("gram_compact_guard_spec").toString + "/postings"
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    Dedup.gramIndexAppend(a, root, batchId = 0)
    Dedup.gramIndexAppend(b, root, batchId = 1)
    // crash window: batch 1's postings committed, its df partial lost.
    // Compacting NOW would raise _COMPACTED past id 1, and batch 1's
    // replay would skip its df write forever — gramIndexDf undercounts.
    graft.ops.Scratch.deleteRec(new java.io.File(s"${root}_df/batch_1"))
    val e = intercept[IllegalArgumentException] {
      Dedup.gramIndexCompact(spark, root)
    }
    assert(e.getMessage.contains("replay"),
      s"guard must point the operator at the repair: ${e.getMessage}")
    // the prescribed repair: replay the batch, then compaction proceeds
    // and the maintained df equals from-scratch
    Dedup.gramIndexAppend(b, root, batchId = 1)
    Dedup.gramIndexCompact(spark, root)
    assert(rows(Dedup.gramIndexDf(spark, root)) ==
      rows(Dedup.gramPostings(docs).groupBy("g")
        .agg(sum(lit(1L)).as("df"))))
  }

  test("gram index compact: compact(any prefix of appends) + more appends " +
       "== from-scratch; sidecar partial count is bounded after compaction") {
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files
      .createTempDirectory("gram_compact_spec").toString + "/postings"
    val parts = (0 until 3).map(i =>
      docs.filter(abs(xxhash64(col("doc_id"))) % 3 === i))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def sidecarDirs(): Int = {
      val kids = new java.io.File(root + "_df").listFiles()
      if (kids == null) 0 else kids.count(f =>
        f.isDirectory && f.getName.startsWith("batch_"))
    }
    Dedup.gramIndexAppend(parts(0), root)
    Dedup.gramIndexAppend(parts(1), root)
    assert(sidecarDirs() == 2)
    Dedup.gramIndexCompact(spark, root)
    assert(sidecarDirs() == 1, "compaction must merge partials to one")
    Dedup.gramIndexAppend(parts(2), root) // auto id must land PAST the compacted one
    assert(sidecarDirs() == 2)
    assert(rows(Dedup.gramIndex(spark, root)) == rows(Dedup.gramPostings(docs)))
    assert(rows(Dedup.gramIndexDf(spark, root)) ==
      rows(Dedup.gramPostings(docs).groupBy("g").agg(sum(lit(1L)).as("df"))))
    // re-compaction converges: second call sees one partial and no-ops
    Dedup.gramIndexCompact(spark, root)
    Dedup.gramIndexCompact(spark, root)
    assert(sidecarDirs() == 1)
    assert(rows(Dedup.gramIndexDf(spark, root)) ==
      rows(Dedup.gramPostings(docs).groupBy("g").agg(sum(lit(1L)).as("df"))))
  }

  test("shingle index: persisted (doc_id, hs, n) answers both regimes " +
       "identically to from-scratch") {
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files
      .createTempDirectory("shingle_index_spec").toString + "/shingles"
    Dedup.shingleIndexIngest(docs, root)
    val sets = Dedup.shingleIndex(spark, root)
    val posting = Dedup.shinglePostings(sets)
    // from scratch: the same frames built from the documents
    val freshSets = Dedup.shingleSets(docs)
    val freshPosting = Dedup.shinglePostings(freshSets)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(Dedup.similarityJoinPostingCount(posting, 1, 20)) ==
      pairs(Dedup.similarityJoinPostingCount(freshPosting, 1, 20)))
    assert(pairs(Dedup.similarityJoinPrefixVerify(posting, sets, 1, 2)) ==
      pairs(Dedup.similarityJoinPrefixVerify(freshPosting, freshSets, 1, 2)))
    // the probe statistic off the index equals the from-text probe
    assert(Dedup.probePairRowsPerPosting(posting) ==
      Dedup.probePairRowsPerPosting(freshPosting))
  }

  test("bucketed shingle index: posting table + sets sidecar answer both " +
       "regimes and the probe identically to from-scratch") {
    val docs = Tables.documents(spark, sf)
    val tbl = graft.ops.Scratch.bucketedTable(spark, sf, "shingle_bspec")
    val (nDocs, nPostings) = Dedup.shingleIndexIngestBucketed(docs, tbl)
    val posting = Dedup.shinglePostingsBucketed(spark, tbl)
    val sets = Dedup.shingleSetsSidecar(spark, tbl)
    // the observed ingest counters are the real table sizes
    assert(nDocs == sets.count(), "observed docs != sets rows")
    assert(nPostings == posting.count(), "observed postings != posting rows")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val freshSets = Dedup.shingleSets(docs)
    val freshPosting = Dedup.shinglePostings(freshSets)
    assert(pairs(Dedup.similarityJoinPostingCount(posting, 1, 20)) ==
      pairs(Dedup.similarityJoinPostingCount(freshPosting, 1, 20)))
    assert(pairs(Dedup.similarityJoinPrefixVerify(posting, sets, 1, 2)) ==
      pairs(Dedup.similarityJoinPrefixVerify(freshPosting, freshSets, 1, 2)))
    assert(Dedup.probePairRowsPerPosting(posting) ==
      Dedup.probePairRowsPerPosting(freshPosting))
    // and the full dispatcher routed over the index == the from-text one
    assert(pairs(Dedup.similarityJoin(posting, sets, 1, 2)) ==
      pairs(Dedup.similarityJoin(docs, 1, 2)))
  }

  test("bucketed index appends: batches == one-shot bucketed ingest; " +
       "consumers stay exchange-free after appends") {
    val docs = Tables.documents(spark, sf)
    val a = docs.filter(abs(xxhash64(col("doc_id"))) % 2 === 0)
    val b = docs.filter(abs(xxhash64(col("doc_id"))) % 2 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // two appends (the first bootstraps the table) == one-shot, for the
    // postings AND the sets sidecar
    val stbl = graft.ops.Scratch.bucketedTable(spark, sf, "shingle_appb")
    val stbl2 = graft.ops.Scratch.bucketedTable(spark, sf, "shingle_oneb")
    Dedup.shingleIndexAppendBucketed(a, stbl)
    Dedup.shingleIndexAppendBucketed(b, stbl)
    Dedup.shingleIndexIngestBucketed(docs, stbl2)
    assert(rows(Dedup.shinglePostingsBucketed(spark, stbl)) ==
      rows(Dedup.shinglePostingsBucketed(spark, stbl2)))
    assert(rows(Dedup.shingleSetsSidecar(spark, stbl)) ==
      rows(Dedup.shingleSetsSidecar(spark, stbl2)))
    // exchange-free df aggregation survives the multi-file buckets
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dfAgg = Dedup.shinglePostingsBucketed(spark, stbl)
        .groupBy("g").agg(count(lit(1)).as("df"))
      dfAgg.collect()
      assert(graft.ops.Scale.countExchanges(dfAgg) == 0,
        "appended bucketed index must keep the exchange-free df plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // and the similarity consumers answer identically off the appended form
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(Dedup.similarityJoin(
        Dedup.shinglePostingsBucketed(spark, stbl),
        Dedup.shingleSetsSidecar(spark, stbl), 1, 2)) ==
      pairs(Dedup.similarityJoin(docs, 1, 2)))
  }

  test("bucketed appends are exactly-once per batch id: committed replays " +
       "no-op, crash replays repair, compaction bounds partitions and " +
       "absorbed replays stay no-ops") {
    val docs = Tables.documents(spark, sf)
    val a = docs.filter(abs(xxhash64(col("doc_id"))) % 2 === 0)
    val b = docs.filter(abs(xxhash64(col("doc_id"))) % 2 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // two sinks, crash window, compaction
    val stbl = graft.ops.Scratch.bucketedTable(spark, sf, "shingle_xonce")
    val spath = graft.ops.Scale.bucketPath(stbl)
    def partitions(): Int = Option(new java.io.File(spath).listFiles())
      .map(_.count(f => f.isDirectory && f.getName.startsWith("batch=")))
      .getOrElse(0)
    Dedup.shingleIndexAppendBucketed(a, stbl, batchId = 0)
    Dedup.shingleIndexAppendBucketed(b, stbl, batchId = 1)
    val wantP = rows(Dedup.shinglePostingsBucketed(spark, stbl))
    val wantS = rows(Dedup.shingleSetsSidecar(spark, stbl))
    // committed replay no-ops both sinks
    Dedup.shingleIndexAppendBucketed(b, stbl, batchId = 1)
    assert(rows(Dedup.shinglePostingsBucketed(spark, stbl)) == wantP)
    assert(rows(Dedup.shingleSetsSidecar(spark, stbl)) == wantS)
    // crash between the two sinks: sets committed, postings manifest
    // missing → compaction must REFUSE (the replay-starvation guard)...
    graft.ops.Scratch.deleteRec(
      new java.io.File(s"${spath}_meta/batch_1"))
    val e = intercept[IllegalArgumentException] {
      Dedup.shingleIndexCompactBucketed(spark, stbl)
    }
    assert(e.getMessage.contains("replay"))
    // ...and the replay repairs, after which compaction proceeds with
    // both sinks equal to the pre-compaction state
    Dedup.shingleIndexAppendBucketed(b, stbl, batchId = 1)
    assert(partitions() == 2)
    Dedup.shingleIndexCompactBucketed(spark, stbl)
    assert(partitions() == 1, "compaction must merge to one partition")
    assert(rows(Dedup.shinglePostingsBucketed(spark, stbl)) == wantP)
    assert(rows(Dedup.shingleSetsSidecar(spark, stbl)) == wantS)
    // sidecar dirs bounded after compaction
    val setsDirs = Option(new java.io.File(spath + "_sets").listFiles())
      .map(_.count(f => f.isDirectory && f.getName.startsWith("batch_")))
      .getOrElse(0)
    assert(setsDirs == 1, "compaction must merge the sets sidecar")
    // replays of absorbed batches are no-ops; a second compaction of the
    // one remaining partition is too
    Dedup.shingleIndexAppendBucketed(b, stbl, batchId = 1)
    Dedup.shingleIndexCompactBucketed(spark, stbl)
    assert(rows(Dedup.shinglePostingsBucketed(spark, stbl)) == wantP,
      "replay of a compacted batch must be a no-op")
    assert(rows(Dedup.shingleSetsSidecar(spark, stbl)) == wantS)
    // exchange-free df agg survives compaction's rewrite
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dfAgg = Dedup.shinglePostingsBucketed(spark, stbl)
        .groupBy("g").agg(count(lit(1)).as("df"))
      dfAgg.collect()
      assert(graft.ops.Scale.countExchanges(dfAgg) == 0,
        "compacted bucketed index must keep the exchange-free df plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("rare-gram similarity join: cap ≥ max df degenerates to the exact " +
       "join; a corpus-wide hot gram is excluded by contract") {
    val posting = Dedup.shinglePostings(
      Dedup.shingleSets(Tables.documents(spark, sf)))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // degenerate cap: the sub-universe is the full universe, so the
    // result equals the exact posting-count join bit-for-bit
    for ((tn, td) <- Seq((1L, 20L), (1L, 2L)))
      assert(pairs(Dedup.similarityJoinRareGrams(posting, tn, td,
          dfCap = Long.MaxValue)) ==
        pairs(Dedup.similarityJoinPostingCount(posting, tn, td)),
        s"cap=∞ must equal the exact join at tau=$tn/$td")
    // planted contract check: d1/d2 share ONLY the corpus-wide hot
    // phrase → excluded under the cap (no rare co-occurrence), while the
    // exact join reports them; the near-identical pair survives both
    import spark.implicits._
    val hot = "hotx hoty hotz"
    val planted = Seq(
      (1L, s"$hot alpha beta gamma delta"),
      (2L, s"$hot epsilon zeta eta theta"),
      (3L, s"$hot lorem ipsum dolor sit amet consectetur"),
      (4L, s"$hot lorem ipsum dolor sit amet consectetuz"))
      .toDF("doc_id", "text")
    val plantedPosting = Dedup.shinglePostings(Dedup.shingleSets(planted))
    val capped = pairs(Dedup.similarityJoinRareGrams(plantedPosting, 1, 20,
      dfCap = 2)).map(p => (p._1, p._2))
    val exact = pairs(Dedup.similarityJoinPostingCount(plantedPosting, 1, 20))
      .map(p => (p._1, p._2))
    assert(exact.contains((1L, 2L)),
      "exact join must report the boilerplate-only pair")
    assert(!capped.contains((1L, 2L)),
      "rare-gram join must drop the boilerplate-only pair")
    assert(capped.contains((3L, 4L)),
      "rare-gram join must keep the genuinely near-identical pair")
  }

  test("derived rare-gram cap: equals the brute-force largest in-budget " +
       "cap, degenerates to max df on a bounded-df corpus, excludes a " +
       "dominant hot gram") {
    val posting = Dedup.shinglePostings(
      Dedup.shingleSets(Tables.documents(spark, sf)))
    // brute-force reference: largest df whose cumulative sub-universe
    // stays within pair-rows-per-posting budget, from the same histogram
    def bruteCap(p: org.apache.spark.sql.DataFrame, budget: Double): Long = {
      val hist = p.groupBy("g")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("df"))
        .groupBy("df").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var best = 1L
      for (cap <- hist.map(_._1)) {
        val in = hist.filter(_._1 <= cap)
        val pairs = in.map { case (df, n) => n.toDouble * df * (df - 1) / 2 }.sum
        val posts = in.map { case (df, n) => n.toDouble * df }.sum
        if (pairs <= budget * posts) best = cap
      }
      best
    }
    val cap = Dedup.deriveRareGramCap(posting)
    assert(cap == bruteCap(posting, Dedup.PostingMaxPairRowsPerPosting),
      "derived cap must equal the brute-force largest in-budget cap")
    // the harness corpus has a bounded df tail (dispatcher ratio ≈ 0.5–5
    // ≪ budget 16), so the derived cap covers the full universe and the
    // derived join degenerates to the EXACT posting-count join
    val maxDf = posting.groupBy("g")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df"))
      .agg(org.apache.spark.sql.functions.max("df")).collect()(0).getLong(0)
    assert(cap == maxDf, s"bounded-df corpus: derived cap $cap == max df $maxDf")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(Dedup.similarityJoinRareGrams(posting, 1, 20)) ==
      pairs(Dedup.similarityJoinPostingCount(posting, 1, 20)),
      "derived-cap join must equal the exact join on a bounded-df corpus")
    // a DOMINANT hot gram (df=100 over a 300-posting corpus: 4950 pair
    // rows > 16 × 300 postings) breaches the cumulative budget, so the
    // derived cap excludes it — exactly the corpus class the cap knob
    // exists for (one corpus-wide gram turns the exact join quadratic)
    import spark.implicits._
    val hotDocs = (1 to 100).map(i =>
      (i.toLong, s"hotx hoty hotz u${i}a u${i}b")).toDF("doc_id", "text")
    val hotPosting = Dedup.shinglePostings(Dedup.shingleSets(hotDocs))
    val hotCap = Dedup.deriveRareGramCap(hotPosting)
    assert(hotCap < 100L,
      s"dominant hot gram must be excluded by the derived cap, got $hotCap")
    assert(hotCap == bruteCap(hotPosting, Dedup.PostingMaxPairRowsPerPosting),
      "derived cap must match brute force on the hot corpus too")
    // and the derived-cap join over that corpus matches the explicit form
    assert(pairs(Dedup.similarityJoinRareGrams(hotPosting, 1, 20)) ==
      pairs(Dedup.similarityJoinRareGrams(hotPosting, 1, 20, hotCap)),
      "derived-cap join == explicit join at the derived cap")
  }

  test("standing indexes are reused within a session: a second query call " +
       "leaves the index files untouched and returns the same rows") {
    def files(p: String) = {
      // recursive: the bucketed table lays batches out as partitions
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = f.listFiles()
        if (kids == null) Seq(f) else kids.toSeq.flatMap(walk)
      }
      walk(new java.io.File(p))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).sortBy(_._1)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // gram index (q125): ingest once, reuse on the second call
    val groot = graft.ops.Scratch.root(spark, sf, "gram_index")
    val g1 = rows(Dedup.qGramIndex(spark, sf))
    val gf = files(groot)
    assert(gf.nonEmpty)
    assert(rows(Dedup.qGramIndex(spark, sf)) == g1)
    assert(files(groot) == gf, "second q125 call must not re-ingest")
    // shingle index (q127) twin
    val sroot = graft.ops.Scratch.root(spark, sf, "shingle_index")
    val s1 = rows(Dedup.qShingleIndex(spark, sf))
    val sfiles = files(sroot)
    assert(sfiles.nonEmpty)
    assert(rows(Dedup.qShingleIndex(spark, sf)) == s1)
    assert(files(sroot) == sfiles, "second q127 call must not re-ingest")
    // bucketed shingle index (q128) twin — marker lives in the table path
    val tpath = graft.ops.Scale.bucketPath(
      graft.ops.Scratch.bucketedTable(spark, sf, "shingle_ix"))
    val b1 = rows(Dedup.qShingleBucketed(spark, sf))
    val bfiles = files(tpath)
    assert(bfiles.nonEmpty)
    assert(rows(Dedup.qShingleBucketed(spark, sf)) == b1)
    assert(files(tpath) == bfiles, "second q128 call must not re-ingest")
    // q128 == q127: bucketed and plain answer the same consumers
    assert(b1 == s1)
  }

  test("declared index schemas equal the inferred ones after an ingest " +
       "and after an append") {
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("index_schema_spec").toString
    def inferred(root: String) =
      spark.read.option("recursiveFileLookup", "true").parquet(root).schema
    val half = docs.filter(abs(xxhash64(col("doc_id"))) % 2 === 0)
    Dedup.gramIndexIngest(docs, s"$base/gram_ingest")
    Dedup.gramIndexAppend(half, s"$base/gram_append")
    Dedup.shingleIndexIngest(docs, s"$base/shingle_ingest")
    Dedup.shingleIndexAppend(half, s"$base/shingle_append")
    for (root <- Seq("gram_ingest", "gram_append"))
      assert(Dedup.GramIndexSchema == inferred(s"$base/$root"), root)
    assert(Dedup.GramDfSchema == inferred(s"$base/gram_append_df"))
    for (root <- Seq("shingle_ingest", "shingle_append"))
      assert(Dedup.ShingleIndexSchema == inferred(s"$base/$root"), root)
    // the compacted sidecar is written by a different plan
    Dedup.gramIndexAppend(docs.except(half), s"$base/gram_append")
    Dedup.gramIndexCompact(spark, s"$base/gram_append")
    assert(Dedup.GramDfSchema == inferred(s"$base/gram_append_df"),
      "after compaction")
    // the bucketed form's sets sidecar holds shingle-index rows: after an
    // ingest, after an append and after a compaction
    val tbl = graft.ops.Scratch.bucketedTable(spark, sf, "shingle_schema")
    val sets = graft.ops.Scale.bucketPath(tbl) + "_sets"
    Dedup.shingleIndexIngestBucketed(half, tbl)
    assert(Dedup.ShingleIndexSchema == inferred(sets), "bucketed ingest")
    Dedup.shingleIndexAppendBucketed(docs.except(half), tbl)
    assert(Dedup.ShingleIndexSchema == inferred(sets), "bucketed append")
    Dedup.shingleIndexCompactBucketed(spark, tbl)
    assert(Dedup.ShingleIndexSchema == inferred(sets), "bucketed compaction")
    // the compaction reads its tmp dir of postings through the declared
    // posting schema; the tmp dir is gone once compaction returns, so
    // pin the schema against the same write of the compacted postings
    // and against the compacted table's own files
    Dedup.shinglePostingsBucketed(spark, tbl)
      .write.parquet(s"$base/postings_tmp")
    assert(Dedup.ShinglePostingSchema == inferred(s"$base/postings_tmp"),
      "compaction tmp postings")
    assert(Dedup.ShinglePostingSchema ==
      inferred(graft.ops.Scale.bucketPath(tbl)), "compacted posting table")
  }

  test("shingle index append: batch appends == one-shot ingest; replay of " +
       "a committed batch is a no-op") {
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("shingle_append_spec").toString
    val root = s"$base/appended"
    val root2 = s"$base/oneshot"
    val a = docs.filter(abs(xxhash64(col("doc_id"))) % 2 === 0)
    val b = docs.filter(abs(xxhash64(col("doc_id"))) % 2 =!= 0)
    Dedup.shingleIndexAppend(a, root, batchId = 0)
    Dedup.shingleIndexAppend(b, root, batchId = 1)
    Dedup.shingleIndexIngest(docs, root2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Dedup.shingleIndex(spark, root)) ==
      rows(Dedup.shingleIndex(spark, root2)))
    // committed replay: markers present → not even a write job
    val marker = new java.io.File(s"$root/batch_1/_SUCCESS")
    val mtime = marker.lastModified
    Dedup.shingleIndexAppend(b, root, batchId = 1)
    assert(marker.lastModified == mtime, "committed batch must be skipped")
    assert(rows(Dedup.shingleIndex(spark, root)) ==
      rows(Dedup.shingleIndex(spark, root2)))
  }

  test("similarityJoin regimes agree pairwise across the crossover taus") {
    // the tau-dispatch constant is a PHYSICAL choice only: both regimes
    // must return the identical pair set (same jaccard values) at every
    // tau the round-7 crossover sweep probes, on either side of 1/4
    val sets = Dedup.shingleSets(Tables.documents(spark, sf))
    val posting = Dedup.shinglePostings(sets)
    for ((tn, td) <- Seq((1L, 5L), (1L, 4L), (1L, 3L), (2L, 5L))) {
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pc = pairs(Dedup.similarityJoinPostingCount(posting, tn, td))
      val pv = pairs(Dedup.similarityJoinPrefixVerify(posting, sets, tn, td))
      assert(pc == pv, s"regimes disagree at tau=$tn/$td: " +
        s"${(pc diff pv).take(3)} only-posting, ${(pv diff pc).take(3)} only-prefix")
      // guard against vacuous agreement: the most permissive probed tau
      // must actually produce pairs on the test corpus
      if ((tn, td) == ((1L, 5L))) assert(pc.nonEmpty, "tau=1/5 found no pairs")
    }
  }

  test("high-tau similarityJoin dispatches on the measured gram-df tail") {
    val docs = Tables.documents(spark, sf)
    def probe(d: org.apache.spark.sql.DataFrame) =
      Dedup.probePairRowsPerPosting(Dedup.shinglePostings(Dedup.shingleSets(d)))
    def prefixPlan(d: org.apache.spark.sql.DataFrame, tn: Long, td: Long) =
      Dedup.similarityJoin(d, tn, td)
        .queryExecution.executedPlan.toString.contains("row_number")
    // bounded-df corpus (every GenScale sf sits at ratio ~0.5-4.9): the
    // probe stays under the threshold and both taus take the posting
    // plan (no df-rank window in it)
    assert(probe(docs) <= Dedup.PostingMaxPairRowsPerPosting)
    // a corpus-wide hot gram (df = corpus size) drives the ratio over the
    // threshold: replicate the corpus 12x and prepend one fixed phrase
    val hot = (0 until 12).map(i => docs
        .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
        .withColumn("text", concat(lit("aqa bqb cqc "), col("text"))))
      .reduce(_.unionAll(_))
    assert(probe(hot) > Dedup.PostingMaxPairRowsPerPosting)
    // r11: LOW tau dispatches on the tail too — the planted-hot-gram
    // measurement (TauProbe hotgram, sf1, tau=1/20: posting-count 218 s
    // with 250 GB spill vs prefix 10.1 s) killed the old "low tau never
    // probes" rule; a heavy tail routes to prefix at every tau now
    for ((tn, td) <- Seq((1L, 2L), (1L, 20L))) {
      assert(!prefixPlan(docs, tn, td), s"bounded corpus at tau=$tn/$td")
      assert(prefixPlan(hot, tn, td), s"hot corpus at tau=$tn/$td")
    }
  }

  test("contract precondition: pair producers emit distinct (doc_a, doc_b)") {
    // qMinhashVerify's full-outer accounting silently corrupts if either
    // side ever carries a duplicate pair — a dup in `found` fans out the
    // matching exact row and inflates n_exact_pairs (annContract has the
    // same distinct-side precondition).
    // Pin the precondition on every producer, on BOTH similarityJoin
    // regimes (posting-count at low tau, prefix+verify at high tau).
    def assertDistinctPairs(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val total = df.count()
      val dist = df.select("doc_a", "doc_b").distinct().count()
      assert(total == dist, s"$what emitted duplicate pairs: $total rows, $dist distinct")
    }
    assertDistinctPairs(
      Dedup.similarityJoin(Tables.documents(spark, sf), 1, 20), "similarityJoin tau=1/20 (posting-count)")
    assertDistinctPairs(
      Dedup.similarityJoin(Tables.documents(spark, sf), 1, 2), "similarityJoin tau=1/2 (prefix+verify)")
    assertDistinctPairs(Dedup.minhashVerifyPairs(spark, sf), "minhashVerifyPairs")
  }
}
