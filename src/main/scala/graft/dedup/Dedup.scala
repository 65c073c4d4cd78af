package graft.dedup

import graft.Tables
import graft.text.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructType}

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), MinHash+LSH (shingle → minhash → band → bucket join), SimHash
  * (+ banded Hamming search), and exact n-gram Jaccard as the verification
  * baseline.
  *
  * Scale design: every approximate method is shuffle-bounded by LSH
  * bucketing — candidate generation is groupBy(bucket) + within-bucket
  * pairing, never an all-pairs join. The exact Jaccard query is the
  * *baseline oracle* and is deliberately restricted to within-source
  * pairs; at 100 TB you run the LSH variants and verify only candidates.
  */
object Dedup {

  /** Distinct 3-token shingles, expression-identical across engines.
    * `sequence` must be guarded: Spark's sequence(0, n) with n < 0 counts
    * backwards instead of producing an empty array. */
  val shinglesSql: String =
    """CASE WHEN size(toks) >= 3 THEN
         array_distinct(transform(sequence(0, size(toks) - 3),
           i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))
       ELSE array() END"""

  /** DuckDB twin (1-based list indexing). */
  val duckShinglesSql: String =
    """CASE WHEN len(toks) >= 3 THEN
         list_distinct(list_transform(range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
       ELSE [] END"""

  /** 16 hashes as 8 bands × 2 rows: band-match probability at Jaccard s is
    * s², so recall ≈ 1-(1-s²)⁸ — 96% at s=0.6, >99.99% at s=0.9. Two
    * 64-bit minhashes per band key make chance collisions negligible. */
  private val NumHashes = 16
  private val BandRows  = 2
  private val NumBands  = NumHashes / BandRows

  /** doc_id + minhash signature array (16 hashes = 4 bands × 4 rows).
    * One projection, no shuffle. The signature is a custom codegen'd
    * Catalyst expression ([[graft.functions.MinHashSignature]]): one XXH64
    * pass per shingle + k cheap mixes, instead of k interpreted
    * `transform`/`array_min` passes (~10× at sf0.1). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", Text.tokens)
      .filter(size(col("toks")) >= 3)
      .withColumn("sig", graft.functions.exprs.minhash3gram(col("toks"), NumHashes))
      .select("doc_id", "sig")

  /** LSH candidate pairs: explode signature into bands, hash each band,
    * group by (band, bucket); docs sharing any band-bucket are candidates.
    * Shuffle volume: NumBands rows per doc, fixed fan-out.
    *
    * `maxBucket` is the hot-bucket guard (the Graph.trianglesCapped /
    * q105 host-cap discipline): within-bucket pairing is quadratic, so a
    * degenerate corpus — n copies of the same boilerplate land n docs in
    * the SAME bucket of every band — would otherwise emit n² candidate
    * pairs. Buckets over the cap keep only their first `maxBucket` docs
    * by doc_id (a deterministic sample), bounding per-bucket work at
    * maxBucket² while still surfacing the hot cluster; mass-exact-dup
    * corpora should hit [[qDedupCanonical]]-style exact dedup FIRST, which
    * removes byte-identical copies losslessly. The cap window partitions
    * by (band, bucket) — the same key the self-join shuffles on, so it
    * adds no exchange. DedupSpec pins the O(cap²) bound on a planted
    * 500-copy document. */
  def lshCandidates(sigs: DataFrame, maxBucket: Int = 64): DataFrame = {
    val bands = sigs.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${NumBands - 1}), b -> xxhash64(${
          (0 until BandRows).map(r => s"sig[b * $BandRows + $r]").mkString(", ")}))"))
        .as(Seq("band", "bucket")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))))
      .filter(col("rn") <= maxBucket)
      .drop("rn")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Per-doc LSH band keys COMBINED into single longs (band index folded
    * into the bucket hash), as an array column over a `sig` column — the
    * row-level form that needs no explode/shuffle, so it composes with
    * Structured Streaming's stateless map-only constraint
    * ([[graft.streaming.Streams.streamStaticNearDup]]) and with bloom
    * prefilters ([[bloomDedup]]'s discipline applied to near-dup). */
  val bandKeysCol: org.apache.spark.sql.Column = expr(
    s"transform(sequence(0, ${NumBands - 1}), b -> xxhash64(b, ${
      (0 until BandRows).map(r => s"sig[b * $BandRows + $r]").mkString(", ")}))")

  /** Map-only band-key derivation over raw documents: adds `band_keys`
    * (array<long>) and `has_sig` (false for docs too short to shingle).
    * No explode, no shuffle — one projection. */
  def withBandKeys(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", Text.tokens)
      .withColumn("sig", graft.functions.exprs.minhash3gram(col("toks"), NumHashes))
      .withColumn("has_sig", size(col("toks")) >= 3)
      .withColumn("band_keys", bandKeysCol)
      .drop("toks", "sig")

  /** Distinct combined band keys of a static corpus — the index the
    * streaming near-dup filter blooms over. */
  def corpusBandKeys(docs: DataFrame): DataFrame =
    withBandKeys(docs).filter(col("has_sig"))
      .select(explode(col("band_keys")).as("band_key"))
      .distinct()

  /** 64-bit SimHash per doc, term-frequency-weighted (the token array IS
    * the term stream — repeats accumulate). One projection via the
    * codegen'd [[graft.functions.SimHash64]] kernel: no groupBy, no
    * collect_list, no interpreted 64-wide fold — this replaced a plan that
    * took 220s at sf0.1 with one that takes under a second. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.exprs.simhash64(Text.tokens).as("simhash"))

  /** Near-dup pairs by SimHash: band the 64 bits into 4×16-bit chunks;
    * pairs equal in ≥1 chunk are candidates (guarantees recall of all
    * pairs with Hamming distance ≤ 3); rank by exact Hamming distance. */
  def simhashPairs(sh: DataFrame, topK: Int): DataFrame = {
    val chunks = sh.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(simhash, c * 16) & 65535)"))
        .as(Seq("chunk_id", "chunk")))
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
        col("x.chunk") === col("y.chunk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(topK)
  }

  /** Incremental dedup: drop new documents whose fingerprint already
    * exists in a historical corpus — anti join on the 128-bit fingerprint
    * (the daily-batch-vs-lake operation; only fingerprints shuffle, and at
    * scale the historical side is a bloom-filtered bucketed table). */
  def dedupAgainst(newDocs: DataFrame, knownFingerprints: DataFrame): DataFrame =
    newDocs.withColumn("fp", md5(col("text")))
      .join(knownFingerprints, Seq("fp"), "left_anti")
      .drop("fp")

  /** Bloom-prefiltered incremental dedup: classify incoming docs as
    * new/duplicate vs a historical corpus with a bloom filter doing the
    * bulk rejection and an exact join only over bloom candidates.
    *
    * The exactness argument (why the probabilistic filter yields an
    * oracle-exact result): a bloom filter has NO false negatives, so
    * "bloom says absent" is definitely-new with no join at all; the false
    * positives land in the candidate set and are removed by the exact
    * anti-join. Result ≡ plain anti-join (DedupSpec pins equality).
    *
    * At 100 TB: the corpus fingerprint table never shuffles against the
    * full batch — only the ~fpp-sized candidate slice joins. The bloom is
    * built with Spark's `bloom_filter_agg` AGGREGATE (one pass, O(bits)
    * driver memory) and tested with the broadcast-transport probe
    * expression ([[graft.functions.BloomMightContainBc]]) — native
    * Catalyst codegen, so the membership probe stays inside whole-stage
    * codegen instead of a serialized Scala closure per row (the r8 UDF
    * shape; PlanAuditSpec pins no-ScalaUDF), and the sketch bytes ship
    * once per executor instead of riding every task binary as a plan
    * literal (r14 — what lets `expectedItems` scale to corpus size). At
    * lake scale you build per-bucket blooms alongside a bucketed
    * fingerprint table and broadcast per-bucket.
    *
    * One-pass routing: `might` is computed as a COLUMN and carried into
    * the join condition, so the incoming batch is scanned once — the r8
    * `definiteNew`/`candidates` branch pair referenced the batch twice
    * (DataFrames get no CSE across reuse, the q59 pitfall) and scanned it
    * twice. Bloom-rejected rows keep their real fp as join key (no
    * null-key skew) but can never match: the `might` conjunct rejects
    * them before the probe, and the bloom's no-false-negative guarantee
    * makes that rejection lossless — result ≡ plain anti-join (DedupSpec
    * pins equality). */
  def bloomDedup(incoming: DataFrame, corpusFps: DataFrame,
                 expectedItems: Long = 100000L, fpp: Double = 0.01): DataFrame = {
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    // md5 strings enter the sketch through xxhash64: bloom_filter_agg /
    // might_contain key on longs, and any deterministic string→long map
    // preserves "no false negatives" as long as BOTH sides use it
    // capacity raise scoped to a session clone: the clamp is read when
    // THIS collect runs, and nothing else ever sees the raised maxima.
    // BROADCAST transport since r14 (the census's fix applied here): a
    // plan-literal sketch rides every task binary, which caps honest
    // sizing — at 10⁹ corpus keys 1% fpp wants ~1.2 GB of sketch; the
    // broadcast ships it once per executor. Probe decisions are
    // bit-identical to the literal form (same sketch bytes, same
    // mightContainLong — FunctionsSpec pins it).
    val bfBc = graft.functions.exprs.bloomSketchBroadcast(
      corpusFps, xxhash64(col("fp")), expectedItems, numBits)
    val might =
      if (bfBc == null) lit(false) // empty corpus: everything is new
      else graft.functions.exprs.bloomMightContainBc(bfBc, xxhash64(col("fp")))
    incoming.withColumn("fp", md5(col("text")))
      .withColumn("bloom_might", might)
      .join(corpusFps.select(col("fp").as("corpus_fp"), lit(true).as("hit")),
        col("fp") === col("corpus_fp") && col("bloom_might"), "left")
      .withColumn("is_dup", coalesce(col("hit"), lit(false)))
      .drop("corpus_fp", "hit", "bloom_might")
  }

  /** Bloom-dedup classification report: src0 as the incoming batch vs the
    * rest of the corpus, new/dup counts per lang — oracle = the plain
    * exact join (bloom false positives are verified away, see
    * [[bloomDedup]]). */
  def qBloomDedup(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("source") =!= "src0")
      .select(md5(col("text")).as("fp")).distinct()
    bloomDedup(docs.filter(col("source") === "src0"), corpus)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_incoming"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_new"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- queries

  /** Exact dedup (hash-groupBy): distinct-text counts per lang.
    * At scale this is dropDuplicates(md5(text)) — one shuffle on the hash,
    * never on the full text bytes. */
  def qDedupExact(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col("text"))).as("n_distinct"))
      .orderBy("lang")

  /** Exact n-gram Jaccard near-dup baseline: top-20 pairs within blocks.
    * Blocking key = (source, lang, length-bucket): near-dups share all
    * three, and blocks bound the pair count — at sf0.1 this is ~3M pairs
    * instead of the 62M of source-only blocking. int/int → double division
    * keeps the score bitwise cross-engine. */
  def qNgramJaccard(spark: SparkSession, d: String): DataFrame =
    nearDupPairs(spark, d)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  /** The shared near-dup pair generator behind q31 (top-20), q73
    * (cluster graph) and q81 (edit-distance verify): ALL pairs with
    * shingle Jaccard ≥ 0.05, via the lossless prefix-filter join
    * ([[similarityJoin]]). Replaced the blocked [[jaccardPairs]] in
    * round 6 for two measured reasons: (1) the fixed-cardinality
    * blocking keys make block sizes grow with the corpus — the blocked
    * join went quadratic at sf1 (33× time for 10× docs) where this join
    * stays sub-linear per pair (2.9 s → 6.0 s for 10× docs / 10× pairs);
    * (2) blocking on `n_chars div 100` is LOSSY for near-dups of
    * different lengths — at sf0.1 it surfaced 6 of the 590 true τ ≥ 0.05
    * pairs. DedupSpec pins the subset relation. */
  def nearDupPairs(spark: SparkSession, d: String): DataFrame =
    similarityJoin(Tables.documents(spark, d), tauNum = 1, tauDen = 20)

  /** All within-block Jaccard pairs (doc_a, doc_b, jaccard) — the
    * BLOCKED teaching baseline (block keys: source, lang, length
    * bucket). Kept as the classic blocking+verify shape and as the
    * bounded-cost twin, NOT as the production pair generator: its block
    * count is fixed, so blocks grow linearly with the corpus and the
    * within-block join quadratically (measured 33× at a 10× scale-up),
    * and length-bucket blocking misses cross-bucket near-dups (6 of 590
    * true pairs at sf0.1). [[nearDupPairs]] is the lossless replacement. */
  def jaccardPairs(spark: SparkSession, d: String): DataFrame = {
    // Shingle sets are sorted 64-bit hash arrays built by one kernel call
    // (Gram3SetSorted); pairwise |A∩B| is one linear merge
    // (SortedIntersectCount). Composing the same pipeline from interpreted
    // higher-order functions (transform/filter lambdas are never
    // codegen'd) re-ran the tokenizer once per array ACCESS after Catalyst
    // inlined the alias — 24s at sf0.1 vs 0.7s for this shape.
    val sh = Tables.documents(spark, d)
      .withColumn("toks", Text.tokens)
      .filter(size(col("toks")) >= 3)
      .withColumn("len_bucket", expr("n_chars div 100"))
      .select(col("doc_id"), col("source"), col("lang"), col("len_bucket"),
        graft.functions.exprs.gram3SetSorted(col("toks")).as("hs"))
      // Materialization barrier on the blocking keys: without it,
      // whole-stage codegen defers the shingle/hash projection into the
      // join and re-evaluates it per *pair* (measured 24s → 0.7s at
      // sf0.1). The exchange also co-partitions both sides of the
      // self-join (one ReusedExchange, no broadcast dependency) — the
      // shape that survives a corpus too big to broadcast.
      .repartition(col("source"), col("lang"), col("len_bucket"))
    sh.as("a").join(sh.as("b"),
        col("a.source") === col("b.source") &&
        col("a.lang") === col("b.lang") &&
        col("a.len_bucket") === col("b.len_bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter",
        graft.functions.exprs.sortedIntersectCount(col("a.hs"), col("b.hs")))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("inter").cast("double") /
          (size(col("a.hs")) + size(col("b.hs")) - col("inter"))).as("jaccard"))
  }

  /** Exact set-similarity self-join via PREFIX FILTERING (Chaudhuri et al.
    * ICDE'06 / Xiao et al. PPJoin, WWW'08) — ALL pairs with shingle-set
    * Jaccard ≥ τ, with no blocking assumption and no all-pairs scan:
    *
    *   1. order every doc's shingles by global rarity (document frequency
    *      asc, hash tiebreak);
    *   2. a doc of set size n keeps only its first n − ceil(τ·n) + 1
    *      shingles as its *prefix* — any pair with J ≥ τ must share a
    *      shingle in BOTH prefixes (pigeonhole: J ≥ τ ⇒ overlap ≥ τ·n for
    *      both sides, and the skipped suffix has only ceil(τ·n) − 1 < τ·n
    *      elements);
    *   3. candidates = equi-join on prefix shingles (+ the size-ratio
    *      prune: J ≥ τ ⇒ τ·|larger| ≤ |smaller|);
    *   4. exact verify on the full sorted-hash sets (one linear merge per
    *      candidate, [[graft.functions.SortedIntersectCount]]).
    *
    * Why it scales: the join key is a *rare-first prefix* shingle — hot
    * shingles (huge df) sort to the end of every doc's order and rarely
    * enter a prefix, so candidate fan-out per key stays small by
    * construction; the rest is hash joins and one window. This is the
    * lossless complement to MinHash LSH ([[lshCandidates]]): same
    * candidate-then-verify shape, but exact (zero false negatives), which
    * is what "guarantee no τ-duplicates survive" requires at 100 TB.
    *
    * The result is order-invariant — ANY global shingle order is correct,
    * so the hash-based order here and the oracle's exact-string all-pairs
    * SQL agree exactly (modulo 64-bit shingle-hash collisions, the q31
    * precedent).
    *
    * τ arrives as a RATIONAL tauNum/tauDen and every threshold comparison
    * runs in integer math (the q107 winsorized-stats discipline):
    * `ceil(τ·n)` as `(num·n + den − 1) div den`, the size-ratio prune as
    * `den·|a| ≥ num·|b|`, the final verify as `den·inter ≥ num·(union)`.
    * Double arithmetic here is a CORRECTNESS hazard, not a style point:
    * for τ not representable in binary (0.05, 0.1, …), `ceil(τ·n)` in
    * doubles rounds UP at exact multiples of 1/τ, silently shortening the
    * prefix and dropping true pairs — violating the lossless contract
    * (DedupSpec pins τ = 1/20 against exact all-pairs). */
  /** High-τ dispatch threshold: the largest pair-rows-per-posting ratio
    * (Σ_g df·(df−1)/2 over Σ_g df — the posting join's EXACT output size
    * per input row) at which the posting-count plan is still preferred.
    * Bracketed by the round-7 measurements (BENCHMARKS.md "τ-dispatch
    * crossover"): every GenScale corpus sits at ratio 0.5–4.9 and there
    * posting-count beats prefix+verify at EVERY τ ≤ 1/2 probed (sf1:
    * 2.3 vs 3.4 s, 22 vs 91 MB shuffle; sf10: 25 vs 47+ s, 3.4 vs
    * 9–11 GB shuffle, 2.5 vs 10–20 GB spill); one planted hot gram
    * (df = corpus) pushes the ratio to 51.5 and there prefix wins 2.9×
    * already at 5k docs, diverging as df² vs linear thereafter. */
  val PostingMaxPairRowsPerPosting: Double = graft.Tuning.PostingMaxPairRowsPerPosting

  /** One cheap scan answering "how heavy is the gram-df tail?" — the
    * runtime statistic the high-τ [[similarityJoin]] dispatch keys on.
    * Tokenize + shingle + one aggregation; no join, nothing data-sized
    * collected. Callers that track corpus statistics skip it via the
    * hint parameter. */
  def probePairRowsPerPosting(docs: DataFrame): Double = {
    val r = docs
      .withColumn("toks", Text.tokens)
      .filter(size(col("toks")) >= 3)
      .select(explode(graft.functions.exprs.gram3SetSorted(col("toks"))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1) / 2).as("pair_rows"),
        sum(col("df")).as("postings"))
      .head
    if (r.isNullAt(1) || r.getLong(1) == 0L) 0.0
    else r.getDouble(0) / r.getLong(1)
  }

  /** [[probePairRowsPerPosting]] from a prepped shingle frame — same
    * statistic (Σ df·(df−1)/2 per posting), computed off the index
    * instead of re-tokenizing text. */
  def probePairRowsPerPostingFromShingles(sets: DataFrame): Double =
    probePairRowsPerPostingFromPostings(shinglePostings(sets))

  /** The same probe off a POSTING frame ([[shinglePostings]] or the
    * bucketed standing table) — over a bucketed table the groupBy(g)
    * plans exchange-free. */
  def probePairRowsPerPostingFromPostings(posting: DataFrame): Double = {
    val r = posting
      .groupBy("g").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1) / 2).as("pair_rows"),
        sum(col("df")).as("postings"))
      .head
    if (r.isNullAt(1) || r.getLong(1) == 0L) 0.0
    else r.getDouble(0) / r.getLong(1)
  }

  /** [[similarityJoin]]'s regime dispatcher over a prepped/persisted
    * shingle frame — same two-step dispatch, with the df-tail probe
    * running off the index. */
  def similarityJoinFromShingles(sets: DataFrame, tauNum: Long, tauDen: Long,
                                 pairRowsPerPostingHint: Option[Double] = None)
      : DataFrame =
    similarityJoinFromPostings(shinglePostings(sets), sets, tauNum, tauDen,
      pairRowsPerPostingHint)

  /** The dispatcher over the index's POSTING + SETS halves — the entry
    * point for the BUCKETED standing index ([[shingleIndexIngestBucketed]]):
    * everything g-keyed (the df-tail probe, the posting-count self-join,
    * the prefix regime's df window input) reads `posting` and, when that
    * frame is the bucketed table, plans WITHOUT an exchange on g
    * (PlanAuditSpec pins it); only the prefix regime's verify step reads
    * the doc-keyed `sets` sidecar for its hash arrays. */
  def similarityJoinFromPostings(posting: DataFrame, sets: DataFrame,
                                 tauNum: Long, tauDen: Long,
                                 pairRowsPerPostingHint: Option[Double] = None)
      : DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"similarityJoin: tau must be in (0, 1], got $tauNum/$tauDen")
    val ratio = pairRowsPerPostingHint
      .getOrElse(probePairRowsPerPostingFromPostings(posting))
    if (ratio <= PostingMaxPairRowsPerPosting)
      similarityJoinPostingCountFromPostings(posting, tauNum, tauDen)
    else similarityJoinPrefixVerifyFromPostings(posting, sets, tauNum, tauDen)
  }

  def similarityJoin(docs: DataFrame, tauNum: Long, tauDen: Long,
                     pairRowsPerPostingHint: Option[Double] = None): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"similarityJoin: tau must be in (0, 1], got $tauNum/$tauDen")
    // Two exact regimes (both return the identical pair set — DedupSpec
    // pins each against brute force AND against each other at every
    // probed τ), dispatched on the MEASURED gram-df tail at EVERY τ (the
    // Percentiles.grouped precedent: one cheap probe picks the physical
    // regime). The posting join's cost is exactly Σ_g df·(df−1)/2 pair
    // rows REGARDLESS of τ; prefix filtering sorts hot grams (huge df)
    // to the end of every doc's rare-first order so they never enter a
    // prefix. The evidence on both sides of the threshold:
    //
    //  - Bounded-df corpus (every GenScale sf: ratio ≈ 0.5–4.9) →
    //    POSTING-COUNT. At low τ the prefix is nearly the whole set
    //    ((1−τ)·n + 1 grams), so the prefix plan degenerates into the
    //    posting join PLUS a df window, a rarity sort, and an
    //    array-shipping verify — measured at the sf1→sf10 decade: the
    //    verify grew shuffle write 158× (88 MB → 13.9 GB) with 50 GB of
    //    SMJ spill, wall 5.5 → 160 s, while the posting plan shuffles
    //    16-byte pair rows (Vernica et al., SIGMOD'10). At high τ
    //    posting still wins 1.5–3× wall on this corpus shape.
    //  - Heavy df tail (ratio 51.5 in the planted corpus-wide-gram
    //    probe) → PREFIX+VERIFY at every τ. One gram shared by the
    //    whole corpus makes the posting join QUADRATIC in the corpus:
    //    measured at sf1, τ=1/20 — posting-count 218 s with 250 GB of
    //    aggregate spill vs prefix+verify 10.1 s, zero spill (r11; the
    //    pre-r11 dispatcher sent τ ≤ 1/4 to posting UNCONDITIONALLY and
    //    rode straight into that cliff). The probe costs one g-keyed
    //    aggregation — the cheapest insurance in this file.
    val ratio = pairRowsPerPostingHint.getOrElse(probePairRowsPerPosting(docs))
    if (ratio <= PostingMaxPairRowsPerPosting)
      similarityJoinPostingCount(docs, tauNum, tauDen)
    else similarityJoinPrefixVerify(docs, tauNum, tauDen)
  }

  /** Shared shingle-set prep for both [[similarityJoin]] regimes. */
  private def shingleSets(docs: DataFrame): DataFrame = docs
    .withColumn("toks", Text.tokens)
    .filter(size(col("toks")) >= 3)
    .select(col("doc_id"),
      graft.functions.exprs.gram3SetSorted(col("toks")).as("hs"))
    .withColumn("n", size(col("hs")))
    // materialization barrier (the q31 lesson): without an exchange,
    // codegen defers the tokenize+shingle projection into the joins and
    // re-evaluates it per candidate pair
    .repartition(col("doc_id"))

  /** INGEST half of the standing SHINGLE index — the q125 discipline
    * applied to the similarity-join family: q31/q73/q81/q103 all start
    * from the same tokenize + 3-gram-hash pass ([[shingleSets]]), and
    * each re-derived it from text per run. Persisting (doc_id, hs, n)
    * once means every similarity query thereafter reads 8-byte hashes,
    * never document bytes — and the parquet scan IS the materialization
    * barrier the in-memory path needs an exchange for. Returns
    * (indexed docs, posting rows) — ingest-volume counters observed on
    * the write itself (zero extra pass), the first numbers a regression
    * hunt over an index query wants (r9 task). */
  def shingleIndexIngest(docs: DataFrame, root: String): (Long, Long) = {
    val obs = shingleSets(docs).observe("shingle_ingest",
      count(lit(1)).as("docs"), sum(col("n").cast("long")).as("postings"))
    // a write executes its own QE, not obs.queryExecution — harvest the
    // counters through the listener bridge (GraftBridge scaladoc)
    val m = org.apache.spark.sql.GraftBridge.observedFromAction(
      docs.sparkSession, "shingle_ingest") {
      obs.write.mode("overwrite").parquet(root)
    }
    (m.getLong(0), if (m.isNullAt(1)) 0L else m.getLong(1))
  }

  /** The standing shingle table's schema as [[shingleSets]] writes it
    * and parquet reads it back (every field nullable). Scans read with it,
    * so they run no footer-inference job; DedupSpec pins it against the
    * inferred schema after an ingest and after an append. */
  val ShingleIndexSchema: StructType = new StructType()
    .add("doc_id", LongType).add("hs", ArrayType(LongType)).add("n", IntegerType)

  /** SCAN half: the standing shingle table (doc_id, hs, n) — flat ingest
    * layout or [[shingleIndexAppend]] batch subdirectories. */
  def shingleIndex(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(ShingleIndexSchema)
      .option("recursiveFileLookup", "true").parquet(root)

  /** Incremental maintenance of the standing shingle index: one batch's
    * (doc_id, hs, n) rows land in their own `batch_<id>` subdirectory,
    * written with OVERWRITE — idempotent per `batchId` exactly like
    * [[gramIndexAppend]] (single sink here: no df sidecar, so a replayed
    * micro-batch simply rewrites its directory). `batchId < 0`
    * auto-assigns max-existing + 1. Appending to an empty root
    * bootstraps; consumers ([[shingleIndex]] and everything downstream
    * of it) are unchanged. */
  def shingleIndexAppend(newDocs: DataFrame, root: String,
                         batchId: Long = -1L): Unit = {
    val id = if (batchId >= 0) batchId
      else graft.ops.Standing.claimBatchId(root)
    if (graft.ops.Standing.committed(root, id)) return // committed: no-op
    shingleSets(newDocs).write.mode("overwrite")
      .parquet(graft.ops.Standing.batchDir(root, id))
  }

  /** BUCKETED ingest of the standing shingle index — the q125 bucketBy
    * treatment (measured there: consumer-side gram shuffle 1.26 GB →
    * 1.2 MB at sf10) applied to the similarity family's dominant
    * shuffle, the posting self-join on `g`. Two halves, one tokenize
    * pass: the POSTING table (doc_id, n, g) saved bucketed+sorted on g —
    * the df-tail probe, the posting-count self-join, and the prefix
    * regime's df aggregation all start from HashPartitioning(g, buckets)
    * and plan with NO exchange on g (PlanAuditSpec pins it) — plus the
    * doc-keyed SETS sidecar (doc_id, hs, n) the prefix-verify step reads
    * for its hash arrays. Key `table` by [[graft.ops.Scratch.bucketedTable]].
    * Returns (indexed docs, posting rows) — ingest-volume counters read
    * from the write itself (zero extra pass, ops.Observed). */
  def shingleIndexIngestBucketed(docs: DataFrame, table: String,
                                 buckets: Int = 32): (Long, Long) = {
    val spark = docs.sparkSession
    val setsRoot = shingleSetsRoot(table)
    // a fresh build: drop the catalog entry and wipe the table, its meta
    // sibling (claims, manifest) and the sidecar (compaction mark), so
    // ingest means "rebuild from this corpus", never "append to whatever
    // was there"
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    graft.ops.IndexFs.delete(graft.ops.Scale.bucketPath(table))
    graft.ops.IndexFs.delete(bucketedMeta(table))
    graft.ops.IndexFs.delete(setsRoot)
    val sets = shingleSets(docs).persist()
    try {
      val obs = sets.observe("shingle_ingest",
        count(lit(1)).as("docs"), sum(col("n").cast("long")).as("postings"))
      val m = org.apache.spark.sql.GraftBridge.observedFromAction(
        spark, "shingle_ingest") {
        // batch 0: ingest == first append, so the sidecar layout is
        // uniform under later appends/compaction
        obs.write.mode("overwrite")
          .parquet(graft.ops.Standing.batchDir(setsRoot, 0L))
      }
      writeBucketedBatch(shinglePostings(sets), table, 0L, buckets)
      (m.getLong(0), if (m.isNullAt(1)) 0L else m.getLong(1))
    } finally { sets.unpersist(); () }
  }

  /** The bucketed POSTING half (metastore table, bucket-aware scan). The
    * `batch` partition column is maintenance metadata (the exactly-once
    * append/compaction bookkeeping), not index content — dropped here so
    * consumers see the posting schema. */
  def shinglePostingsBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table).drop("batch")

  /** Incremental maintenance of the BUCKETED shingle index, EXACTLY-ONCE
    * per batch: one batch's postings land as their own `batch=<id>`
    * partition of the bucketed table (dynamic partition overwrite — a
    * replay rewrites only itself) and its (doc_id, hs, n) rows in their
    * own sidecar batch dir (per-batch overwrite, the plain index's
    * mechanism). Both writes are idempotent, the manifest commit goes
    * last, and the sidecar write goes FIRST — so every crash point is
    * repaired by replaying the batch. Auto ids are claimed in the meta
    * sibling (ops.Standing). Appending to a missing table bootstraps it.
    * Consumers stay exchange-free on g: each bucket id spans files across
    * partitions and Spark's bucketed scan still reports
    * HashPartitioning(g, buckets) (DedupSpec pins it). */
  def shingleIndexAppendBucketed(newDocs: DataFrame, table: String,
                                 buckets: Int = 32,
                                 batchId: Long = -1L): Unit = {
    val setsRoot = shingleSetsRoot(table)
    val meta = bucketedMeta(table)
    val id = if (batchId >= 0) batchId
      else graft.ops.Standing.claimBatchId(meta, bucketedBatchIds(table))
    if (id <= graft.ops.Standing.compactedThrough(setsRoot))
      return // absorbed: replay no-op
    if (graft.ops.Standing.committed(setsRoot, id) &&
        graft.ops.Standing.committed(meta, id))
      return // committed: replay no-op
    val sets = shingleSets(newDocs).persist() // one tokenize, two sinks
    try {
      sets.write.mode("overwrite")
        .parquet(graft.ops.Standing.batchDir(setsRoot, id))
      writeBucketedBatch(shinglePostings(sets), table, id, buckets)
    } finally { sets.unpersist(); () }
  }

  /** COMPACTION of the bucketed shingle index: the sets sidecar's batch
    * dirs merged into one (ops.Standing's swap, guarded against a batch
    * committed in the sidecar but not the manifest or the reverse), then
    * the posting table rewritten as ONE `batch=<max id>` partition with
    * the same bucket spec — after N daily batches, consumers stop paying
    * the N-way in-bucket merge and the N-dir sidecar listing, and their
    * plans are unchanged (DedupSpec pins compact == before and the
    * exchange-free df plan after it). Replays of absorbed batches stay
    * no-ops via the sidecar's `_COMPACTED` mark; the manifest and claims
    * live in the meta SIBLING and survive the table rewrite. Same honesty
    * as every compaction here: not atomic — a crash mid-compact can lose
    * the table, which is DERIVED state rebuildable from the corpus; a
    * crash between the two rewrites leaves a consistent index whose next
    * compaction finishes the table. Maintenance-window only. */
  def shingleIndexCompactBucketed(spark: SparkSession, table: String,
                                  buckets: Int = 32): Unit = {
    val setsRoot = shingleSetsRoot(table)
    graft.ops.Standing.compact(setsRoot, bucketedMeta(table))(
      shingleIndex(spark, setsRoot))
    val ids = bucketedBatchIds(table)
    if (ids.size <= 1) return // nothing to merge
    val root = graft.ops.Scale.bucketPath(table)
    val tmp = root + "_compact_tmp"
    graft.ops.Scratch.track(tmp)
    shinglePostingsBucketed(spark, table).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).withColumn("batch", lit(ids.max))
      .write.mode("overwrite")
      .partitionBy("batch").bucketBy(buckets, "g").sortBy("g")
      .option("path", root).saveAsTable(table)
    graft.ops.IndexFs.delete(tmp)
  }

  /** The doc-keyed SETS sidecar of the bucketed index: [[shingleSets]]
    * rows in per-batch dirs, read like the plain shingle index. */
  def shingleSetsSidecar(spark: SparkSession, table: String): DataFrame =
    shingleIndex(spark, shingleSetsRoot(table))

  private def shingleSetsRoot(table: String): String = {
    val r = graft.ops.Scale.bucketPath(table) + "_sets"
    graft.ops.Scratch.track(r)
    r
  }

  /** The bucketed table's maintenance-metadata SIBLING dir: the `_claims`
    * namespace and the per-batch commit manifest (ops.Standing). A
    * sibling, not a subdirectory: the table path must be empty for the
    * bootstrap CTAS, and the manifest must SURVIVE compaction's table
    * rewrite — a manifest that died with the table would forget which
    * batches committed, exactly when replays get interesting. */
  private def bucketedMeta(table: String): String = {
    val m = graft.ops.Scale.bucketPath(table) + "_meta"
    graft.ops.Scratch.track(m)
    m
  }

  /** One batch into one `batch=<id>` partition of a bucketed table:
    * bootstrap via saveAsTable, steady state via positional insertInto
    * under dynamic partition overwrite (only the batch's own partition
    * is replaced — the replay idempotency), manifest commit last. */
  private def writeBucketedBatch(rows: DataFrame, table: String,
                                 id: Long, buckets: Int): Unit = {
    val spark = rows.sparkSession
    val root = graft.ops.Scale.bucketPath(table)
    val withBatch = rows.withColumn("batch", lit(id))
    if (!spark.catalog.tableExists(table))
      withBatch.write.partitionBy("batch").bucketBy(buckets, "g").sortBy("g")
        .option("path", root).saveAsTable(table)
    else {
      // dynamic partition overwrite scoped to a session CLONE (the
      // bloomSketchBytes mechanism): the catalog-table insert path reads
      // the SESSION conf, not the writer option (measured — a static
      // overwrite wipes every other batch), and mutating the shared
      // session would leak overwrite semantics to concurrent writers.
      // Catalog entries live in shared state, so the clone sees `table`,
      // and the executor classloader is shared too (artifact isolation
      // is off in Sessions.local), so the insert reuses compiled classes.
      val scoped = org.apache.spark.sql.GraftBridge
        .cloneSession(spark)
      scoped.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      org.apache.spark.sql.GraftBridge.withSession(
          withBatch.select(spark.table(table).columns.map(col(_)): _*),
          scoped)
        .write.mode("overwrite").insertInto(table)
      // the insert refreshed the CLONE's relation cache; the caller's
      // session still holds the pre-overwrite file listing — refresh it
      spark.catalog.refreshTable(table)
    }
    graft.ops.Standing.commit(bucketedMeta(table), id)
  }

  /** Partition ids (`batch=<id>` dirs) of a bucketed index table. */
  private def bucketedBatchIds(table: String): Seq[Long] =
    graft.ops.IndexFs
      .childNames(graft.ops.Scale.bucketPath(table), dirsOnly = true)
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLong }

  /** [[similarityJoin]]'s LOW-τ regime, public so the crossover stays
    * measurable per-round (TauProbe forces each regime at each τ): |A∩B|
    * is the COUNT of posting rows the pair shares — one posting self-join
    * + one partial-agg'd groupBy over 16-byte pair rows (Vernica et al.,
    * SIGMOD'10 shape); J = inter / (n_a + n_b − inter) needs only the
    * carried set sizes, so no hash array is ever shuffled after the
    * explode. Work is Σ_g df(g)² pair rows regardless of τ. */
  def similarityJoinPostingCount(docs: DataFrame, tauNum: Long,
                                 tauDen: Long): DataFrame =
    similarityJoinPostingCountFromShingles(shingleSets(docs), tauNum, tauDen)

  /** POSTING form of a shingle frame: one row per (doc, distinct shingle
    * hash) with the set size carried — the join currency of both
    * similarity regimes, and the layout the BUCKETED standing index
    * persists (bucketBy(g) makes every g-keyed join/aggregation over it
    * exchange-free). */
  def shinglePostings(sets: DataFrame): DataFrame =
    // Deliberately NO position column: PPJoin's positional filter was
    // implemented and MEASURED OUT in round 11 (PairShuffleBench /
    // ShingleIndexBench A/B): in any global gram order (hash or df), a
    // shared gram sits at a CORRELATED rank in both docs — both ranks
    // ≈ the gram's order percentile × n — so the positional bound
    // min(pos_a, pos_b) + min(n_a−pos_a, n_b−pos_b) ≈ n and prunes only
    // O(√n) fluctuation beyond what the size-ratio filter already
    // catches. Measured on the bucketed index: 0.0% of pair rows at
    // τ=1/20, 0.3% at τ=1/2, while the carried pos column inflated the
    // plain path's posting exchange ~4%. The textbook filter's wins come
    // from heterogeneous-length corpora, where the length gap dominates
    // the bound — and the length filter already prunes those pairs here.
    sets.select(col("doc_id"), col("n"), explode(col("hs")).as("g"))

  /** [[similarityJoinPostingCount]] over a prepped/persisted shingle
    * frame ([[shingleSets]] or [[shingleIndex]]). */
  def similarityJoinPostingCountFromShingles(sets: DataFrame, tauNum: Long,
                                             tauDen: Long): DataFrame =
    similarityJoinPostingCountFromPostings(shinglePostings(sets), tauNum, tauDen)

  /** [[similarityJoinPostingCount]] over the POSTING half of the standing
    * index — on the bucketed table the g-keyed self-join below starts
    * from HashPartitioning(g, buckets) and plans with no exchange on g. */
  def similarityJoinPostingCountFromPostings(posting: DataFrame, tauNum: Long,
                                             tauDen: Long): DataFrame = {
    posting.as("a").join(posting.as("b"),
        col("a.g") === col("b.g") &&
        col("a.doc_id") < col("b.doc_id") &&
        // size-ratio prune (J ≥ τ ⇒ τ·|larger| ≤ |smaller|), integer math
        col("a.n") * lit(tauDen) >= col("b.n") * lit(tauNum) &&
        col("b.n") * lit(tauDen) >= col("a.n") * lit(tauNum))
      // the aggregation keys carry s = n_a + n_b, NOT both sizes: the
      // final threshold and the jaccard only ever use the SUM, and this
      // exchange is the family's measured dominant cost —
      // PairCompositionProbe (r11) shows ≥99.9% of its rows are chance
      // pairs sharing 1–2 grams (map-side partial aggregation reduces
      // volume ~1%, so every key byte ships), and no LOSSLESS row prune
      // can touch them: each such row is its pair's only evidence.
      // Dropping the second size column cut the pair shuffle 19–23% at
      // sf1/sf10 (PairShuffleBench; the raw-repartition variant that
      // skips the useless map-side aggregate trades bytes for spill at
      // equal wall and adds a plan barrier — rejected there).
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.n") + col("b.n")).as("s"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * lit(tauDen) >=
        (col("s") - col("inter")) * lit(tauNum))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("s") - col("inter")))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** [[similarityJoin]]'s HIGH-τ regime (prefix filter + sorted-merge
    * verify — the PPJoin shape documented on [[similarityJoin]]), public
    * so the crossover stays measurable per-round. */
  def similarityJoinPrefixVerify(docs: DataFrame, tauNum: Long,
                                 tauDen: Long): DataFrame =
    similarityJoinPrefixVerifyFromShingles(shingleSets(docs), tauNum, tauDen)

  /** [[similarityJoinPrefixVerify]] over a prepped/persisted shingle
    * frame. */
  def similarityJoinPrefixVerifyFromShingles(sets: DataFrame, tauNum: Long,
                                             tauDen: Long): DataFrame =
    similarityJoinPrefixVerifyFromPostings(shinglePostings(sets), sets,
      tauNum, tauDen)

  /** [[similarityJoinPrefixVerify]] over the index's two halves: the
    * g-keyed stages (df aggregation, prefix candidate join) read
    * `posting`; the verify step reads the doc-keyed `sets` for its hash
    * arrays. */
  def similarityJoinPrefixVerifyFromPostings(posting: DataFrame,
                                             sets: DataFrame, tauNum: Long,
                                             tauDen: Long): DataFrame = {
    val dfreq = posting.groupBy("g").agg(count(lit(1)).as("df"))
    // (No positional filter on the candidates either — same measured
    // dead end as the count plan, see [[shinglePostings]]: df-order
    // ranks of a shared gram are correlated between docs, so the bound
    // prunes ~nothing while carrying the rank through the self-join.)
    val prefix = posting.join(dfreq, "g")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .filter(col("pos") <=
        col("n") - expr(s"($tauNum * n + $tauDen - 1) div $tauDen") + 1)
      .select("doc_id", "n", "g")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n") * lit(tauDen) >= col("b.n") * lit(tauNum) &&
        col("b.n") * lit(tauDen) >= col("a.n") * lit(tauNum))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("n").as("n_b")), "doc_b")
      .withColumn("inter",
        graft.functions.exprs.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .filter(col("inter") * lit(tauDen) >=
        (col("n_a") + col("n_b") - col("inter")) * lit(tauNum))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .select("doc_a", "doc_b", "jaccard")
  }

  def qSimJoinPrefix(spark: SparkSession, d: String): DataFrame =
    similarityJoin(Tables.documents(spark, d), tauNum = 1, tauDen = 2)
      .orderBy("doc_a", "doc_b")

  /** RARE-GRAM similarity join — the declared-contract scale variant of
    * the exact low-τ join, born from round 11's measured dead end: the
    * exact posting-count plan's pair shuffle is Σ_g df(g)² rows, which
    * no lossless prune can touch (PairCompositionProbe: ≥99.9% of rows
    * are chance pairs whose single co-occurrence IS their evidence), and
    * ONE corpus-wide gram makes it quadratic in the corpus. This
    * operator changes the CONTRACT instead of chasing the impossible
    * prune: Jaccard over the df ≤ `dfCap` gram SUB-UNIVERSE — each
    * doc's shingle set restricted to grams rarer than the cap, set
    * sizes recomputed over that restriction, threshold and score exact
    * within it. The semantics are not an approximation of full Jaccard;
    * they are a different, well-defined similarity that near-dup
    * practice often PREFERS: corpus-frequent shingles are boilerplate
    * (headers, licenses, navigation), and boilerplate co-occurrence is
    * the classic false-positive source (the same reason
    * [[contaminationPairs]] keys on RARE grams only, dfCap=20, and the
    * q68 boilerplate detector exists). Exactly oracle-checkable — DuckDB
    * recomputes the sub-universe, sizes, counts, and scores (q132).
    *
    * The scale property bought: pair rows = Σ_{df≤cap} df(df−1)/2 ≤
    * (cap−1)/2 · |postings| — LINEAR in the corpus with a cap-sized
    * constant, versus the uncapped plan's df² blowup on heavy-tailed
    * corpora (measured: TauProbe's planted corpus-wide gram). Costs
    * beyond the capped pair join are all linear and keyed: one df
    * aggregation (g), one semi join (g — exchange-free off the bucketed
    * index), one size recount + attach (doc_id). `dfCap ≥ max df`
    * degenerates to exactly [[similarityJoinPostingCount]]'s result
    * (DedupSpec pins it). */
  def similarityJoinRareGrams(docs: DataFrame, tauNum: Long, tauDen: Long,
                              dfCap: Long): DataFrame =
    similarityJoinRareGramsFromPostings(
      shinglePostings(shingleSets(docs)), tauNum, tauDen, dfCap)

  /** [[similarityJoinRareGrams]] over the POSTING half of a standing
    * index (plain or bucketed — on the bucketed table the df aggregation
    * and semi join plan without an exchange on g). */
  def similarityJoinRareGramsFromPostings(posting: DataFrame, tauNum: Long,
                                          tauDen: Long,
                                          dfCap: Long): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"similarityJoinRareGrams: tau must be in (0, 1], got $tauNum/$tauDen")
    require(dfCap >= 1, s"similarityJoinRareGrams: dfCap must be ≥ 1")
    val rare = posting.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("g")
    val rp = posting.select("doc_id", "g")
      .join(rare, Seq("g"), "left_semi")
    // sizes over the SUB-universe (n changes with the cap — the contract)
    val sizes = rp.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val p = rp.join(sizes, "doc_id")
    p.as("a").join(p.as("b"),
        col("a.g") === col("b.g") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n") * lit(tauDen) >= col("b.n") * lit(tauNum) &&
        col("b.n") * lit(tauDen) >= col("a.n") * lit(tauNum))
      // s-slimmed pair aggregation, as in the uncapped plan
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.n") + col("b.n")).as("s"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * lit(tauDen) >=
        (col("s") - col("inter")) * lit(tauNum))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("s") - col("inter")))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** DERIVE the rare-gram df cap from the corpus's own df tail (r11
    * verdict task #6 — the cap was a caller constant; the dispatcher
    * already measures exactly the statistic that picks it). The
    * principle: the capped join's pair shuffle is Σ_{df≤cap} df(df−1)/2
    * rows over Σ_{df≤cap} df retained postings, and the dispatcher's
    * measured-safe envelope for a posting-style self-join is
    * [[PostingMaxPairRowsPerPosting]] pair rows per posting — so the
    * derived cap is the LARGEST df whose cumulative sub-universe stays
    * inside that envelope. The cumulative ratio is nondecreasing in the
    * cap (each df's marginal contribution is (df−1)/2 pair rows per
    * posting, increasing), so the crossing is unique and the scan stops
    * at the first breach. On a bounded-df corpus the whole universe fits
    * the budget and the cap degenerates to max df (the capped join ==
    * the exact posting-count join — DedupSpec pins both properties).
    *
    * Cost: one df aggregation (g-keyed — exchange-free off the bucketed
    * index) collapsed to a df HISTOGRAM (one row per distinct df value —
    * model-sized by construction; a 10¹¹-posting corpus has at most
    * thousands of distinct df values) scanned on the driver. */
  def deriveRareGramCap(posting: DataFrame,
      pairRowsPerPostingBudget: Double = PostingMaxPairRowsPerPosting): Long = {
    val hist = posting.groupBy("g").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("n_grams"))
      .orderBy("df").collect()
    var cumPairs = 0.0
    var cumPost = 0.0
    var cap = 1L
    for (r <- hist) {
      val df = r.getLong(0)
      val n = r.getLong(1).toDouble
      val p = cumPairs + n * df * (df - 1) / 2
      val q = cumPost + n * df
      if (p <= pairRowsPerPostingBudget * q) {
        cap = df; cumPairs = p; cumPost = q
      } else return cap // monotone marginal: every larger df also breaches
    }
    cap
  }

  /** The (doc_id, n, g) posting table of a document frame — the
    * from-scratch twin of a standing index's posting half, public so cap
    * derivation and specs can probe the same statistics the dispatcher
    * sees. */
  def shinglePostingsOf(docs: DataFrame): DataFrame =
    shinglePostings(shingleSets(docs))

  /** [[similarityJoinRareGrams]] with the cap DERIVED from the corpus
    * ([[deriveRareGramCap]]). The cap defines the similarity's
    * sub-universe, so it stays part of the output contract: it rides the
    * plan as the `rare_cap` in-plan observation (the bench-artifact
    * discipline), and callers who need it programmatically call
    * [[deriveRareGramCap]] themselves and use the explicit-cap form. */
  def similarityJoinRareGrams(docs: DataFrame, tauNum: Long,
                              tauDen: Long): DataFrame = {
    val posting = shinglePostings(shingleSets(docs))
    similarityJoinRareGramsFromPostings(posting, tauNum, tauDen)
  }

  /** The derived-cap form over a standing index's posting half. */
  def similarityJoinRareGramsFromPostings(posting: DataFrame, tauNum: Long,
                                          tauDen: Long): DataFrame = {
    val cap = deriveRareGramCap(posting)
    similarityJoinRareGramsFromPostings(posting, tauNum, tauDen, cap)
      .observe("rare_cap", max(lit(cap)).as("derived_df_cap"))
  }

  /** q132: the rare-gram join on the harness corpus at the near-dup
    * τ=1/20 with the contamination family's cap — full pair set, both
    * scores exact within the declared sub-universe. */
  def qSimJoinRareCap(spark: SparkSession, d: String): DataFrame =
    similarityJoinRareGrams(Tables.documents(spark, d),
        tauNum = 1, tauDen = 20, dfCap = 20)
      .orderBy("doc_a", "doc_b")

  /** Dedup cluster assignment: connected components over the near-dup
    * graph (Jaccard ≥ 0.05 pairs), so transitively-linked chains of
    * near-duplicates collapse into one cluster — the canonicalization
    * step exact per-pair dedup cannot express (A~B, B~C, A≁C still form
    * one cluster). Every document is a vertex; non-linked docs come back
    * as singletons, so the output is a full partition of the corpus:
    * (component = min doc_id in cluster, n_docs). Oracle: DuckDB
    * WITH RECURSIVE over the identical pair set. */
  def qDedupClusters(spark: SparkSession, d: String): DataFrame = {
    val edges = nearDupPairs(spark, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val vertices = Tables.documents(spark, d).select(col("doc_id").as("id"))
    // large/small-star CC (O(log n) rounds), not min-label propagation
    // (O(diameter)): a 100 TB near-dup graph has long drift chains, and
    // the star rounds also do half the per-round driver actions
    val (labels, rounds) = graft.graph.Graph.connectedComponentsFast(edges, vertices)
    labels
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("component")
      // rounds-to-fixpoint is the O(log n) claim this query rides on; the
      // star loop runs eagerly above, so the counter is a plan literal —
      // zero extra passes, surfaces in the bench artifact (ops.Observed)
      .observe("cc", max(lit(rounds)).as("cc_rounds"),
        count(lit(1)).as("n_components"))
  }

  /** Edit-distance verification of near-dup candidates: the top Jaccard
    * pairs re-scored with character-level Levenshtein — the second,
    * stricter signal a dedup pipeline applies before destructive removal
    * (token-set similarity is order-blind; edit distance is not).
    * Levenshtein is O(len²) per pair, which is exactly why it runs on
    * CANDIDATES (bounded by the blocked pair generator), never the
    * corpus. */
  def qEditDistance(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val top = nearDupPairs(spark, d)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(10)
    top
      .join(docs.withColumnRenamed("doc_id", "doc_a")
                .withColumnRenamed("text", "text_a"), "doc_a")
      .join(docs.withColumnRenamed("doc_id", "doc_b")
                .withColumnRenamed("text", "text_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"),
        levenshtein(col("text_a"), col("text_b")).as("edit_dist"),
        greatest(length(col("text_a")), length(col("text_b"))).as("max_len"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** MinHash+LSH structural summary per band — raw shape (bucket counts,
    * max bucket, candidate-pair count are hash-layout-specific; DedupSpec
    * pins planted-duplicate recall). */
  def minhashLshStats(spark: SparkSession, d: String): DataFrame = {
    val sigs = minhashSignatures(Tables.documents(spark, d))
    val bands = sigs.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${NumBands - 1}), b -> xxhash64(${
          (0 until BandRows).map(r => s"sig[b * $BandRows + $r]").mkString(", ")}))"))
        .as(Seq("band", "bucket")))
    bands.groupBy("band", "bucket").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
           max(col("sz")).as("max_bucket"),
           sum(expr("sz * (sz - 1) div 2")).as("n_candidate_pairs"))
      .orderBy("band")
  }

  /** q32, oracle-checkable form (the q69 exactness-contract pattern):
    * WHERE each signature buckets is xxhash-specific, but two properties
    * of a correct LSH index are not — per band, every signed doc lands in
    * exactly ONE bucket (sum of bucket sizes == signed-doc count, an
    * accounting identity a dropped or doubled row breaks), and
    * byte-identical texts have identical signatures, so each band's
    * largest bucket must hold at least the largest exact-duplicate text
    * group (a broken signature kernel scatters them). The oracle pins the
    * signed-doc count exactly and both booleans as TRUE; raw bucket stats
    * stay available via [[minhashLshStats]]. */
  def qMinhashLsh(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val dupMax = broadcast(docs
      .withColumn("toks", Text.tokens).filter(size(col("toks")) >= 3)
      .groupBy("text").agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("dup_max")))
    val sigs = minhashSignatures(docs)
    val bands = sigs.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${NumBands - 1}), b -> xxhash64(${
          (0 until BandRows).map(r => s"sig[b * $BandRows + $r]").mkString(", ")}))"))
        .as(Seq("band", "bucket")))
    bands.groupBy("band", "bucket").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(sum(col("sz")).as("n_sigs"), max(col("sz")).as("max_bucket"))
      .crossJoin(dupMax)
      .select(col("band"), col("n_sigs"),
        (col("max_bucket") >= col("dup_max")).as("exact_dups_bucketed"))
      .orderBy("band")
  }

  /** SimHash duplicate groups: docs sharing an identical 64-bit simhash —
    * raw shape (signature values are hash-specific). Group-by-signature is
    * the scale-safe shape — pairwise Hamming search over correlated
    * corpora explodes quadratically inside LSH buckets (measured: 220s at
    * sf0.1); [[simhashPairs]] remains the bounded-corpus pair API
    * (spec-tested). */
  def simhashGroups(spark: SparkSession, d: String): DataFrame =
    simhash(Tables.documents(spark, d))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("n_docs").desc, col("simhash"))
      .limit(20)

  /** q33, oracle-checkable form (the q69 exactness-contract pattern): the
    * 64-bit signatures are hash-specific, but a correct SimHash grouping
    * obeys three engine-independent laws — group sizes sum back to the
    * corpus (accounting identity), the number of distinct signatures
    * cannot exceed the number of distinct TEXTS (identical text ⇒
    * identical signature; collisions only merge further), and the largest
    * group must hold at least the largest exact-duplicate text group. The
    * oracle pins the corpus count exactly and the laws as TRUE; raw
    * groups stay available via [[simhashGroups]]. */
  def qSimhash(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val exact = broadcast(docs.agg(
      count(lit(1)).as("n_total"),
      countDistinct(col("text")).as("n_distinct_texts")))
    val dupMax = broadcast(docs.groupBy("text")
      .agg(count(lit(1)).as("c")).agg(max(col("c")).as("dup_max")))
    simhash(docs)
      .groupBy("simhash").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_docs"),
        max(col("n")).as("max_group"))
      .crossJoin(exact).crossJoin(dupMax)
      .select(col("n_docs"),
        (col("n_docs") === col("n_total")).as("coverage_ok"),
        (col("n_groups") <= col("n_distinct_texts")).as("groups_le_distinct_texts"),
        (col("max_group") >= col("dup_max")).as("exact_dups_grouped"))
  }

  /** Canonical-representative dedup: one keeper (min doc_id) per content
    * fingerprint — the materialized form a pipeline actually applies
    * (dropDuplicates alone keeps an ARBITRARY row; min-by is the
    * deterministic, oracle-checkable version). Single shuffle on the
    * 128-bit fingerprint, never on text bytes. */
  def qDedupCanonical(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper_doc"), count(lit(1)).as("n_copies"))
      .orderBy("fp")

  /** The full near-dup pipeline in one plan: MinHash signatures → LSH
    * band buckets → candidate pairs → verification with BOTH the cheap
    * signature estimate (matching minhash fraction ≈ Jaccard) and the
    * exact hashed-shingle Jaccard. At 100 TB the estimate prunes
    * candidates before the exact sets are ever shuffled.
    * Raw shape (which candidates LSH surfaces is hash-dependent);
    * estimator quality pinned in DedupSpec. */
  def minhashVerifyPairs(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val base = docs
      .withColumn("toks", Text.tokens)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.exprs.minhash3gram(col("toks"), NumHashes).as("sig"),
        graft.functions.exprs.gram3SetSorted(col("toks")).as("hs"))
      .repartition(col("doc_id")) // materialize kernels once (see q31 note)
    val cands = lshCandidates(base.select("doc_id", "sig"))
    cands
      .join(base.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        col("hs").as("hs_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("hs").as("hs_b")), "doc_b")
      .withColumn("est_jaccard", expr(
        s"CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) AS DOUBLE) / $NumHashes"))
      .withColumn("inter",
        graft.functions.exprs.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("exact_jaccard",
        col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .select("doc_a", "doc_b", "est_jaccard", "exact_jaccard")
  }

  /** q59, oracle-checkable form (the q69 exactness-contract pattern): the
    * LSH candidate set is hash-dependent, but the pipeline's CONTRACT is
    * not — every pair it reports at exact Jaccard ≥ τ must be a member of
    * the true τ-pair set, and it must find at least a floor fraction of
    * that set. The true set is computed by [[similarityJoin]] —
    * stats-dispatched between the posting-count and prefix-filter
    * regimes, both exact and pairwise-identical (DedupSpec pins it) —
    * whose own oracle is exact all-pairs SQL (q103), so the exact side
    * is DuckDB-recomputable whichever regime the stats pick. Theory puts the
    * per-pair detection probability at 1−(1−J²)^8 ≥ 0.90 for J ≥ 0.5
    * (8 bands × 2 rows); the floor of 0.7 leaves noise-free margin
    * (seeds are fixed, so measured recall is deterministic per dataset:
    * 1.0 at sf0.001/0.01/0.1). Precision needs no floor: the verify
    * stage computes exact Jaccard, so false positives are structurally
    * impossible — the subset boolean pins that the join bookkeeping
    * (not the math) stays honest. Raw pairs via [[minhashVerifyPairs]]. */
  def qMinhashVerify(spark: SparkSession, d: String): DataFrame = {
    val tauNum = 1L; val tauDen = 2L
    val exact = similarityJoin(Tables.documents(spark, d), tauNum, tauDen)
      .select("doc_a", "doc_b")
    val found = minhashVerifyPairs(spark, d)
      .filter(col("exact_jaccard") * lit(tauDen) >= lit(tauNum))
      .select("doc_a", "doc_b")
    // One full-outer join + one aggregate yields all three counts in a
    // SINGLE pass of each side. The previous shape (left-semi for hits +
    // separate count() aggs of exact and found) referenced each DataFrame
    // twice, and Spark plans each reference as its own subtree — the
    // whole prefix-filter join and the whole LSH pipeline each executed
    // TWICE per run (no common-subexpression elimination across
    // DataFrame reuse; exchange reuse doesn't span different parents).
    //
    // LOAD-BEARING precondition: both sides must be DISTINCT on
    // (doc_a, doc_b). A duplicate row in `found` would fan out the
    // matching `exact` row through the join and inflate n_exact_pairs
    // (the pre-rewrite shape counted each side independently and had no
    // such coupling). Holds today — similarityJoin's pair set is a
    // groupBy/distinct output and minhashVerifyPairs starts from
    // lshCandidates' distinct pairs — and DedupSpec pins it so a future
    // pair-producer change can't silently corrupt the contract counts.
    exact.withColumn("in_exact", lit(1))
      .join(found.withColumn("in_found", lit(1)),
        Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("in_exact")).as("n_exact_pairs"),
        count(col("in_found")).as("n_found"),
        count(when(col("in_exact").isNotNull &&
          col("in_found").isNotNull, 1)).as("n_hits"))
      .select(col("n_exact_pairs"),
        (col("n_hits") === col("n_found")).as("all_found_are_true_pairs"),
        (col("n_hits").cast("double") >=
          lit(0.7) * col("n_exact_pairs")).as("lsh_recall_ok"))
  }

  /** Eval-set contamination detection: find training documents sharing
    * ≥ minShared distinct 8-grams with any "eval" document (here: eval =
    * source src0, train = the rest). Ultra-common grams (train df >
    * dfCap) are dropped first — standard practice, and what bounds the
    * gram join at scale (a stopword-ish 8-gram would otherwise fan out
    * quadratically). One explode-join-aggregate; no pairwise scan. */
  def qContamination(spark: SparkSession, d: String): DataFrame =
    contaminationPairs(Tables.documents(spark, d))
      .orderBy(col("shared_grams").desc, col("eval_doc"), col("train_doc"))
      .limit(20)

  /** Distinct n-gram POSTINGS per document: (doc_id, source, g), one row
    * per (doc, distinct gram). This is the single tokenize+shingle
    * definition every gram consumer in the family builds on —
    * contamination report (q62), decontamination (q119), dup coverage
    * (q87), and the persisted index (q125) — so the gram rule cannot
    * drift between them. Docs under n tokens carry no postings. */
  def gramPostings(docs: DataFrame, n: Int = 8): DataFrame =
    docs.withColumn("toks", Text.tokens)
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.exprs.gramNSetSorted(col("toks"), n)).as("g"))

  /** INGEST half of the standing gram index (the q122 ingest/scan
    * discipline applied to the gram-join family): tokenize + shingle the
    * corpus ONCE, persist the postings table. Every downstream gram
    * query then scans postings — three 8-gram consumers in the registry
    * each re-derived this from text per run, which at 100 TB means
    * re-tokenizing the corpus three times per curation pass instead of
    * zero. At cluster scale write with `bucketBy(g)` so the df
    * aggregation and all gram joins are exchange-free; plain parquet
    * here keeps the demo portable. Returns (posting rows, ~distinct
    * grams) — ingest-volume counters observed on the write itself (zero
    * extra pass; distinct grams via the HLL sketch, since CollectMetrics
    * cannot host a DISTINCT aggregate). */
  def gramIndexIngest(docs: DataFrame, root: String, n: Int = 8): (Long, Long) = {
    val obs = gramPostings(docs, n).observe("gram_ingest",
      count(lit(1)).as("postings"),
      approx_count_distinct(col("g")).as("grams"))
    // a write executes its own QE, not obs.queryExecution — harvest the
    // counters through the listener bridge (GraftBridge scaladoc)
    val m = org.apache.spark.sql.GraftBridge.observedFromAction(
      docs.sparkSession, "gram_ingest") {
      obs.write.mode("overwrite").parquet(root)
    }
    (m.getLong(0), m.getLong(1))
  }

  /** The standing postings table's schema as [[gramPostings]] writes it
    * and parquet reads it back (every field nullable); scans read with it
    * and run no footer-inference job (DedupSpec pins it). */
  val GramIndexSchema: StructType = new StructType()
    .add("doc_id", LongType).add("source", StringType).add("g", LongType)

  /** SCAN half: the standing postings table — the flat [[gramIndexIngest]]
    * layout, the per-batch [[gramIndexAppend]] subdirectories, or a mix
    * (recursive lookup reads both; batch dirs are plain subdirectories,
    * not hive partitions, so the schema never grows a phantom column). */
  def gramIndex(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(GramIndexSchema)
      .option("recursiveFileLookup", "true").parquet(root)

  /** Mergeable df state of ONE postings batch — the gram-index twin of
    * [[graft.ops.Incremental.aggState]]: df counts are a sum, so partial
    * per-batch counts merged by SUM equal the from-scratch aggregate for
    * ANY batch split (commutative monoid; DedupSpec property-pins a
    * random split). */
  def gramDfState(postings: DataFrame): DataFrame =
    postings.groupBy("g").agg(count(lit(1)).as("df_part"))

  /** The `<root>_df` sidecar's schema as [[gramDfState]] and
    * [[gramIndexCompact]] write it and parquet reads it back; read with
    * it by [[gramIndexDf]] (DedupSpec pins it). */
  val GramDfSchema: StructType = new StructType()
    .add("g", LongType).add("df_part", LongType)

  /** Incremental index maintenance: append one batch's postings to the
    * standing index PARTITION-WISE (the batch's postings never shuffle)
    * and its df partial state to the `<root>_df` sidecar (aggregating
    * ONLY the delta — the ops.Incremental discipline). A daily curation
    * pass thus pays O(batch), never O(corpus): the full postings
    * re-tokenize and the full df re-aggregation both disappear. Appending
    * to empty roots bootstraps the index, so ingest == first append.
    * Consumers are unchanged: [[gramIndex]] reads the union of appended
    * batches; [[gramIndexDf]] merges the sidecar partials by sum.
    *
    * IDEMPOTENT per `batchId` (the r9 ADVICE fix): each batch lands in
    * its own `batch_<id>` subdirectory of both sinks, written with
    * OVERWRITE — a replayed micro-batch (streamingGramIngest recovering
    * from its checkpoint) rewrites the same two directories instead of
    * double-appending, and a crash BETWEEN the two writes leaves a batch
    * whose replay repairs it, so exactly-once holds at every crash
    * point. A batch already committed to both sinks (`_SUCCESS` markers
    * present, or a df partial absorbed by [[gramIndexCompact]] — the
    * sidecar's `_COMPACTED` high-water mark) is skipped outright.
    * `batchId < 0` (batch callers without a replay log) auto-claims an
    * unused id ([[graft.ops.Standing.claimBatchId]]: two concurrent
    * auto-id appenders never share one). Overwrite-on-replay is reserved
    * for callers that DO name their batches (foreachBatch's batchId). */
  def gramIndexAppend(newDocs: DataFrame, root: String, n: Int = 8,
                      batchId: Long = -1L): Unit = {
    val side = root + "_df"
    val id = if (batchId >= 0) batchId
      else graft.ops.Standing.claimBatchId(root)
    val dfDone = graft.ops.Standing.committed(side, id) ||
      id <= graft.ops.Standing.compactedThrough(side) // absorbed by compaction
    if (graft.ops.Standing.committed(root, id) && dfDone)
      return // committed: replay no-op
    val p = gramPostings(newDocs, n).persist() // one tokenize pass, two sinks
    try {
      p.write.mode("overwrite").parquet(graft.ops.Standing.batchDir(root, id))
      if (!dfDone) // never re-emit a partial compaction already merged
        gramDfState(p).write.mode("overwrite")
          .parquet(graft.ops.Standing.batchDir(side, id))
    } finally { p.unpersist(); () }
  }

  /** The maintained df aggregate: merge the appended partials by sum —
    * equals `gramPostings(allDocs).groupBy(g).count()` exactly, without
    * touching the postings (or the text) of any prior batch. */
  def gramIndexDf(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(GramDfSchema)
      .option("recursiveFileLookup", "true").parquet(root + "_df")
      .groupBy("g").agg(sum(col("df_part")).as("df"))

  /** Sidecar COMPACTION: without it, [[gramIndexAppend]] accretes one df
    * partial per (batch, gram) forever, and [[gramIndexDf]] re-merges all
    * of them on every read — O(batches × grams) scan work for an
    * O(grams) result. Compaction rewrites the sidecar as ONE merged
    * partial (the same monoid sum, one level up — the ops.Incremental
    * discipline applied to its own state), so the property
    * `compact(any prefix of appends) then more appends == from-scratch`
    * holds trivially: a merged prefix is itself a valid partial
    * (associativity). The merged partial keeps the HIGHEST existing
    * batch id, so auto-assigned ids of later appends (derived from the
    * postings root, which holds the same max) stay ahead, and a
    * `_COMPACTED` high-water marker records which partials were
    * absorbed — a REPLAYED pre-compaction batch then skips its df write
    * instead of double-counting (the r10 review find; DedupSpec pins
    * replay-after-compact == from-scratch). It refuses while a postings
    * batch lacks its df partial (a crash between the append's two
    * writes — replay that batch first). The swap, the mark and the guard
    * are [[graft.ops.Standing.compact]]'s. Not atomic — a crash
    * mid-compact can lose the sidecar — but the sidecar is DERIVED
    * state, rebuildable from the postings root
    * (`gramDfState(gramIndex(root))`); run compaction in the maintenance
    * window, not the serving path. */
  def gramIndexCompact(spark: SparkSession, root: String): Unit =
    graft.ops.Standing.compact(root + "_df", root)(
      gramIndexDf(spark, root).select(col("g"), col("df").as("df_part")))

  /** [[contaminationPairs]] over an existing postings frame (from
    * [[gramPostings]] or the persisted [[gramIndex]]). */
  def contaminationPairsFrom(postings: DataFrame, dfCap: Int = 20,
                             minShared: Int = 3,
                             evalSource: String = "src0"): DataFrame = {
    val evalG = postings.filter(col("source") === evalSource)
      .select(col("doc_id").as("eval_doc"), col("g"))
    val trainG = postings.filter(col("source") =!= evalSource)
      .select(col("doc_id").as("train_doc"), col("g"))
    val rare = trainG.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("g")
    evalG.join(trainG.join(rare, Seq("g"), "left_semi"), "g")
      .groupBy("eval_doc", "train_doc")
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
  }

  /** The single gram pipeline behind contamination detection — the REPORT
    * (q62) and the ACTION (q119 / [[decontaminate]]) are both views over
    * this one definition, so the rule cannot drift between them. Returns
    * (eval_doc, train_doc, shared_grams) for every train doc sharing ≥
    * `minShared` rare (train-df ≤ `dfCap`) distinct `n`-grams with some
    * eval doc. */
  def contaminationPairs(docs: DataFrame, n: Int = 8, dfCap: Int = 20,
                         minShared: Int = 3,
                         evalSource: String = "src0"): DataFrame =
    contaminationPairsFrom(gramPostings(docs, n), dfCap, minShared, evalSource)

  /** Training-doc ids flagged as contaminated by [[contaminationPairs]]. */
  def contaminatedTrainIds(docs: DataFrame, n: Int = 8, dfCap: Int = 20,
                           minShared: Int = 3,
                           evalSource: String = "src0"): DataFrame =
    contaminationPairs(docs, n, dfCap, minShared, evalSource)
      .select(col("train_doc").as("doc_id")).distinct()

  /** Eval-set DECONTAMINATION — the action [[qContamination]] only
    * reports (the GPT-3/PaLM appendix-C discipline: before training,
    * REMOVE every training document that overlaps the benchmark/eval
    * set, or the eval becomes a memorization test). Returns the training
    * corpus minus contaminated docs, original schema intact.
    *
    * Scale shape: the eval side is tiny relative to 100 TB of training
    * text, so its gram set broadcasts; the only corpus-linear costs are
    * the train-gram explode and one df aggregation (both also needed by
    * q62/q87 and shareable); the final step is an anti join against a
    * doc-id set bounded by |contaminated| ≪ |train| — broadcastable,
    * never pairwise. Train docs with < n tokens carry no n-grams and are
    * structurally kept, matching the oracle's semantics. */
  def decontaminate(docs: DataFrame, n: Int = 8, dfCap: Int = 20,
                    minShared: Int = 3,
                    evalSource: String = "src0"): DataFrame =
    docs.filter(col("source") =!= evalSource)
      .join(broadcast(contaminatedTrainIds(docs, n, dfCap, minShared, evalSource)),
        Seq("doc_id"), "left_anti")

  /** q119: per-source retention report of [[decontaminate]] — kept/dropped
    * counts plus the exact BIGINT sum of kept doc ids, which pins kept-set
    * MEMBERSHIP (not just its size) against the oracle. */
  def qDecontaminate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val flagged = docs.filter(col("source") =!= "src0")
      .join(broadcast(contaminatedTrainIds(docs).withColumn("contam", lit(1))),
        Seq("doc_id"), "left")
    flagged.groupBy("source").agg(
        count(lit(1)).as("n_train"),
        sum(when(col("contam").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("contam").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("contam").isNull, col("doc_id")).otherwise(0L))
          .as("kept_id_sum"))
      .orderBy("source")
  }

  /** Exact repeated-span masking — the substring-level dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022): a span of `k` consecutive tokens that also occurs in at
    * least one OTHER document is memorization fuel, and the fix is to cut
    * the SPAN, not drop the document (doc-level dedup — q30/q54 — misses
    * partial overlap entirely; q62/q87 only MEASURE it). Returns per doc:
    * token count, covered-position count, and the cleaned text with every
    * covered token removed.
    *
    * Scale shape (why this never goes quadratic): per-doc sliding spans
    * are a map-side transform (≤ |doc| rows per doc); "repeated" is one
    * gram-keyed aggregation; the mask join is a SEMI join of spans
    * against repeated grams — output ≤ input rows regardless of how hot
    * a gram is (a million-doc boilerplate span costs exactly one row per
    * occurrence, unlike pairwise designs); coverage merge is one doc-keyed
    * aggregation whose state is bounded by the doc's own length. Two
    * shuffles total (gram key, doc key). At 100 TB swap the span STRING
    * for its xxhash64 (the q31 hashed-shingle precedent) to shrink the
    * shuffle — string grams here keep the DuckDB oracle exact. */
  def repeatedSpanMask(docs: DataFrame, k: Int): DataFrame = {
    val toks = docs.withColumn("toks", Text.tokens)
      .filter(size(col("toks")) >= k)
      .select("doc_id", "toks")
      .repartition(col("doc_id")) // materialize tokenization once (q31 note)
    val spans = toks.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, size(toks) - $k)," +
        s" i -> array_join(slice(toks, i + 1, $k), ' '))"))
      .as(Seq("pos", "g")))
    val repeated = spans.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("g")
    val covered = spans.join(repeated, Seq("g"), "left_semi")
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + $k - 1)")).as("cp"))
      .groupBy("doc_id").agg(collect_set(col("cp")).as("cov"))
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        when(col("cov").isNull, 0).otherwise(size(col("cov"))).as("n_covered"),
        expr("array_join(filter(toks," +
          " (t, i) -> cov IS NULL OR NOT array_contains(cov, i)), ' ')")
          .as("cleaned"))
  }

  /** q115: repeated 8-token spans masked corpus-wide; the cleaned text is
    * pinned by md5 so the oracle compare stays value-exact without
    * shipping document bodies. */
  def qRepeatedSpans(spark: SparkSession, d: String): DataFrame =
    repeatedSpanMask(Tables.documents(spark, d), k = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        md5(col("cleaned")).as("cleaned_md5"))
      .orderBy("doc_id")

  /** Cross-document duplication coverage (the C4/RefinedWeb "how much of
    * this source is boilerplate shared with other documents" metric):
    * fraction of each source's distinct-per-doc 8-grams that also occur in
    * at least one OTHER document. One gram explode, one df aggregation,
    * one join back — the same bounded explode-join-aggregate shape as
    * [[qContamination]]; never pairwise. dup_frac derives from two exact
    * BIGINTs with a single rounded division, so the oracle is exact. */
  /** [[dupCoverage]] over an existing postings frame. */
  def dupCoverageFrom(postings: DataFrame): DataFrame = {
    val df = postings.groupBy("g").agg(count(lit(1)).as("df"))
    postings.join(df, "g")
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
      .orderBy("source")
  }

  def dupCoverage(docs: DataFrame, n: Int = 8): DataFrame =
    dupCoverageFrom(gramPostings(docs, n))

  def qDupCoverage(spark: SparkSession, d: String): DataFrame =
    dupCoverage(Tables.documents(spark, d))

  /** ENSURE the standing gram index for dataset `d` (the q125 index):
    * build + mark if absent or stale, reuse otherwise. Returns
    * (root, (nPostings, nGrams)). Shared by [[qGramIndex]] and Bench's
    * separately-timed ingest pass, so first-touch ingest cost lands on
    * a named ingest line instead of whichever query touches the index
    * first (the r11 gate lesson: accounting must be deterministic).
    * Collision-free (dataset, app id)-keyed root — see ops.Scratch —
    * with a content-addressed validity marker (ops.Standing). */
  def ensureGramIndex(spark: SparkSession,
                      d: String): (String, (Long, Long)) = {
    val root = graft.ops.Scratch.root(spark, d, "gram_index")
    val fp = graft.ops.Standing.fingerprint(s"$d/documents.parquet")
    (root, graft.ops.Standing.ensureCounters(root, fp)(
      gramIndexIngest(Tables.documents(spark, d), root)))
  }

  /** ENSURE the standing shingle index (q127) — the [[ensureGramIndex]]
    * twin for the similarity-join family. Returns
    * (root, (nDocs, nPostings)). */
  def ensureShingleIndex(spark: SparkSession,
                         d: String): (String, (Long, Long)) = {
    val root = graft.ops.Scratch.root(spark, d, "shingle_index")
    val fp = graft.ops.Standing.fingerprint(s"$d/documents.parquet")
    (root, graft.ops.Standing.ensureCounters(root, fp)(
      shingleIndexIngest(Tables.documents(spark, d), root)))
  }

  /** ENSURE the BUCKETED standing shingle index (q128). Returns
    * (table name, (nDocs, nPostings)). */
  def ensureShingleBucketed(spark: SparkSession,
                            d: String): (String, (Long, Long)) = {
    val table = graft.ops.Scratch.bucketedTable(spark, d, "shingle_ix")
    val fp = graft.ops.Standing.fingerprint(s"$d/documents.parquet")
    val tablePath = graft.ops.Scale.bucketPath(table)
    (table, graft.ops.Standing.ensureCounters(tablePath, fp)(
      shingleIndexIngestBucketed(Tables.documents(spark, d), table)))
  }

  /** q125: the standing gram index made real — postings written once
    * ([[gramIndexIngest]]), then BOTH heavy gram consumers answered from
    * the index without touching document text: per-source duplication
    * coverage (q87's semantics) and the count of contaminated training
    * docs (q62/q119's rule). The oracle recomputes everything from the
    * raw documents, so "index-derived == from-scratch" is itself the
    * correctness contract; the doc→source map comes from the postings
    * (contaminated docs always hold postings), keeping the query
    * index-only. The write is the one-time cost a curation pass
    * amortizes over every gram query it runs. */
  def qGramIndex(spark: SparkSession, d: String): DataFrame = {
    val (root, (nPostings, nGrams)) = ensureGramIndex(spark, d)
    val postings = gramIndex(spark, root)
    val cov = dupCoverageFrom(postings)
    val docSource = postings.select(col("doc_id"), col("source")).distinct()
    val contaminated = contaminationPairsFrom(postings)
      .select(col("train_doc").as("doc_id")).distinct()
      .join(docSource, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
    cov.join(contaminated, Seq("source"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .orderBy("source")
      // index size in the bench artifact: the ingest ran eagerly above,
      // so the counters ride the result plan as literals (the q73
      // cc_rounds discipline — zero extra passes)
      .observe("ix", max(lit(nPostings)).as("index_postings"),
        max(lit(nGrams)).as("index_grams"))
  }

  /** q127: the standing SHINGLE index made real — (doc_id, hs, n) written
    * once ([[shingleIndexIngest]]), then BOTH similarity-join regimes
    * answered from the index without re-tokenizing text: the τ=1/20
    * posting-count top-20 (q31's semantics) and the τ=1/2 dispatched join
    * (q103's semantics, probe run off the index). The oracle recomputes
    * both from raw documents, so "index-derived == from-scratch" is the
    * correctness contract — the q125 discipline for the 3-gram-hash
    * family. At 100 TB this is one tokenize+shingle pass per curation
    * cycle feeding every similarity query, with joins reading 8-byte
    * hashes instead of document bytes. */
  def qShingleIndex(spark: SparkSession, d: String): DataFrame = {
    val (root, (nDocs, nPostings)) = ensureShingleIndex(spark, d)
    val sets = shingleIndex(spark, root)
    val low = similarityJoinFromShingles(sets, 1, 20)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(20)
      .select(lit("tau_1_20_top20").as("consumer"),
        col("doc_a"), col("doc_b"), col("jaccard"))
    val high = similarityJoinFromShingles(sets, 1, 2)
      .select(lit("tau_1_2").as("consumer"),
        col("doc_a"), col("doc_b"), col("jaccard"))
    low.unionByName(high).orderBy("consumer", "doc_a", "doc_b")
      // ingest volume as plan literals (the q125 counter discipline)
      .observe("ix", max(lit(nDocs)).as("index_docs"),
        max(lit(nPostings)).as("index_postings"))
  }

  /** q128: q127's consumers answered from the BUCKETED standing shingle
    * index — same pair sets, same oracle (the from-scratch DuckDB
    * recompute), but every g-keyed stage (df-tail probe, posting-count
    * self-join) starts from the bucketed table's HashPartitioning and
    * plans with no exchange on g. The bucketBy shuffle is paid once at
    * ingest; q125's twin measured that trade at 1000× consumer-shuffle
    * reduction at sf10 (BENCHMARKS.md "Bucketed index measured"), and
    * BENCHMARKS.md "Bucketed shingle index" records this family's own A/B. */
  def qShingleBucketed(spark: SparkSession, d: String): DataFrame = {
    val (table, (nDocs, nPostings)) = ensureShingleBucketed(spark, d)
    val posting = shinglePostingsBucketed(spark, table)
    val sets = shingleSetsSidecar(spark, table)
    val low = similarityJoinFromPostings(posting, sets, 1, 20)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(20)
      .select(lit("tau_1_20_top20").as("consumer"),
        col("doc_a"), col("doc_b"), col("jaccard"))
    val high = similarityJoinFromPostings(posting, sets, 1, 2)
      .select(lit("tau_1_2").as("consumer"),
        col("doc_a"), col("doc_b"), col("jaccard"))
    low.unionByName(high).orderBy("consumer", "doc_a", "doc_b")
      .observe("ix", max(lit(nDocs)).as("index_docs"),
        max(lit(nPostings)).as("index_postings"))
  }

  private lazy val shingleIndexOracle: String = s"""
      WITH sh AS (
        SELECT doc_id, $duckShinglesSql AS shingles
        FROM (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS inter,
               len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)) AS un
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT * FROM (
        SELECT 'tau_1_20_top20' AS consumer, doc_a, doc_b,
               CAST(inter AS DOUBLE) / un AS jaccard
        FROM (SELECT * FROM pairs WHERE 20 * inter >= un
              ORDER BY CAST(inter AS DOUBLE) / un DESC, doc_a, doc_b
              LIMIT 20)
        UNION ALL
        SELECT 'tau_1_2', doc_a, doc_b, CAST(inter AS DOUBLE) / un
        FROM pairs WHERE 2 * inter >= un)
      ORDER BY consumer, doc_a, doc_b"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q127_shingle_index" -> (qShingleIndex _),
    "q128_shingle_bucketed" -> (qShingleBucketed _),
    "q62_contamination"  -> (qContamination _),
    "q87_dup_coverage"   -> (qDupCoverage _),
    "q59_minhash_verify" -> (qMinhashVerify _),
    "q54_dedup_canonical" -> (qDedupCanonical _),
    "q30_dedup_exact"   -> (qDedupExact _),
    "q31_ngram_jaccard" -> (qNgramJaccard _),
    "q32_minhash_lsh"   -> (qMinhashLsh _),
    "q33_simhash"       -> (qSimhash _),
    "q73_dedup_clusters" -> (qDedupClusters _),
    "q81_edit_distance"  -> (qEditDistance _),
    "q94_bloom_dedup"    -> (qBloomDedup _),
    "q103_simjoin_prefix" -> (qSimJoinPrefix _),
    "q132_simjoin_rarecap" -> (qSimJoinRareCap _),
    "q115_repeated_spans" -> (qRepeatedSpans _),
    "q119_decontaminate" -> (qDecontaminate _),
    "q125_gram_index"    -> (qGramIndex _),
  )

  val oracles: Map[String, String] = Map(
    // q32/q33/q59: exactness contracts — the hash-specific value (bucket
    // layout, signature values, LSH candidate set) is reduced to exact
    // accounting plus deterministic booleans the oracle pins as TRUE.
    "q32_minhash_lsh" -> s"""
      WITH sigs AS (
        SELECT doc_id FROM (SELECT doc_id, ${Text.duckTokens} AS toks
                            FROM documents)
        WHERE len(toks) >= 3)
      SELECT CAST(t.band AS INT) AS band,
             (SELECT COUNT(*) FROM sigs) AS n_sigs,
             TRUE AS exact_dups_bucketed
      FROM (SELECT unnest(range(0, ${NumBands})) AS band) t ORDER BY band""",
    "q33_simhash" -> """
      SELECT COUNT(*) AS n_docs, TRUE AS coverage_ok,
             TRUE AS groups_le_distinct_texts, TRUE AS exact_dups_grouped
      FROM documents""",
    // q115: fully exact — string spans, deterministic mask; DuckDB
    // reproduces the whole computation including the cleaned text.
    "q115_repeated_spans" -> s"""
      WITH t AS (
        SELECT doc_id, toks FROM
          (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents)
        WHERE len(toks) >= 8),
      spans AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(toks[CAST(i AS INT) + 1:CAST(i AS INT) + 8], ' ') AS g
        FROM t, LATERAL (SELECT unnest(range(0, len(toks) - 7)) AS i) u),
      rep AS (SELECT g FROM spans GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
      cov AS (
        SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS cp
        FROM (SELECT doc_id, pos FROM spans SEMI JOIN rep USING (g)) h,
             LATERAL (SELECT unnest(range(0, 8)) AS j) v),
      cstat AS (SELECT doc_id, COUNT(*) AS n_covered, list(cp) AS cps
                FROM cov GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
             CAST(COALESCE(c.n_covered, 0) AS INT) AS n_covered,
             md5(COALESCE(array_to_string(
               list_filter(t.toks, (tok, i) ->
                 c.cps IS NULL OR NOT list_contains(c.cps, i - 1)), ' '), ''))
               AS cleaned_md5
      FROM t LEFT JOIN cstat c USING (doc_id)
      ORDER BY t.doc_id""",
    "q59_minhash_verify" -> s"""
      WITH sh AS (
        SELECT doc_id, $duckShinglesSql AS shingles
        FROM (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT COUNT(*) AS n_exact_pairs, TRUE AS all_found_are_true_pairs,
             TRUE AS lsh_recall_ok
      FROM pairs WHERE jaccard >= 0.5""",
    // q127/q128: index-derived == from-scratch — the oracle recomputes
    // BOTH consumers (q31's τ=1/20 top-20, q103's τ=1/2 join) from raw
    // text; integer threshold compares keep it exact, the jaccard
    // division is the same int/int→double on both engines. One oracle
    // serves both registrations: q128 answers the identical consumers
    // from the BUCKETED index, so "bucketed == plain == from-scratch"
    // is pinned by the same SQL.
    "q127_shingle_index" -> shingleIndexOracle,
    "q128_shingle_bucketed" -> shingleIndexOracle,
    "q103_simjoin_prefix" -> s"""
      WITH sh AS (
        SELECT doc_id, $duckShinglesSql AS shingles
        FROM (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, jaccard FROM pairs
      WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""",
    // q132: fully exact within the DECLARED df ≤ 20 gram sub-universe —
    // the oracle recomputes the sub-universe, per-doc sizes, pair
    // counts, integer threshold, and score; jaccard is the same
    // int/int → double division on both engines.
    "q132_simjoin_rarecap" -> s"""
      WITH sh AS (
        SELECT doc_id, $duckShinglesSql AS shingles
        FROM (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents)
        WHERE len(toks) >= 3),
      post AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
      rare AS (SELECT g FROM post GROUP BY g HAVING COUNT(*) <= 20),
      rp AS (SELECT doc_id, g FROM post SEMI JOIN rare USING (g)),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM rp GROUP BY doc_id),
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    COUNT(*) AS inter
             FROM rp a JOIN rp b
               ON a.g = b.g AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
      FROM pr
      JOIN sz na ON na.doc_id = doc_a
      JOIN sz nb ON nb.doc_id = doc_b
      WHERE inter * 20 >= (na.n + nb.n - inter) * 1
      ORDER BY doc_a, doc_b""",
    "q62_contamination" -> s"""
      WITH toks AS (
        SELECT doc_id, source, ${Text.duckTokens} AS toks FROM documents),
      grams AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, len(toks) - 6),
                 i -> array_to_string(toks[i:i+7], ' ')))) AS g
        FROM toks WHERE len(toks) >= 8),
      train AS (SELECT doc_id, g FROM grams WHERE source <> 'src0'),
      eval_g AS (SELECT doc_id, g FROM grams WHERE source = 'src0'),
      rare_train AS (
        SELECT t.doc_id, t.g FROM train t
        JOIN (SELECT g FROM train GROUP BY g HAVING COUNT(*) <= 20) r USING (g))
      SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
             COUNT(*) AS shared_grams
      FROM eval_g e JOIN rare_train t USING (g)
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
      ORDER BY shared_grams DESC, eval_doc, train_doc LIMIT 20""",
    "q119_decontaminate" -> s"""
      WITH toks AS (
        SELECT doc_id, source, ${Text.duckTokens} AS toks FROM documents),
      grams AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, len(toks) - 6),
                 i -> array_to_string(toks[i:i+7], ' ')))) AS g
        FROM toks WHERE len(toks) >= 8),
      train_g AS (SELECT doc_id, g FROM grams WHERE source <> 'src0'),
      eval_g AS (SELECT doc_id AS eval_doc, g FROM grams WHERE source = 'src0'),
      rare_train AS (
        SELECT t.doc_id, t.g FROM train_g t
        JOIN (SELECT g FROM train_g GROUP BY g HAVING COUNT(*) <= 20) r
          USING (g)),
      contaminated AS (
        SELECT DISTINCT doc_id FROM (
          SELECT e.eval_doc, t.doc_id
          FROM eval_g e JOIN rare_train t USING (g)
          GROUP BY 1, 2 HAVING COUNT(*) >= 3)),
      train AS (SELECT doc_id, source FROM documents WHERE source <> 'src0')
      SELECT tr.source, COUNT(*) AS n_train,
             CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dropped,
             CAST(SUM(CASE WHEN c.doc_id IS NULL THEN tr.doc_id ELSE 0 END)
                  AS BIGINT) AS kept_id_sum
      FROM train tr LEFT JOIN contaminated c USING (doc_id)
      GROUP BY tr.source ORDER BY tr.source""",
    "q87_dup_coverage" -> s"""
      WITH toks AS (
        SELECT doc_id, source, ${Text.duckTokens} AS toks FROM documents),
      grams AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, len(toks) - 6),
                 i -> array_to_string(toks[i:i+7], ' ')))) AS g
        FROM toks WHERE len(toks) >= 8),
      df AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g)
      SELECT source, COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams,
             ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 6) AS dup_frac
      FROM grams JOIN df USING (g)
      GROUP BY source ORDER BY source""",
    // q125: the oracle recomputes BOTH index consumers from raw text, so
    // the persisted-postings round trip is value-checked end to end
    "q125_gram_index" -> s"""
      WITH toks AS (
        SELECT doc_id, source, ${Text.duckTokens} AS toks FROM documents),
      grams AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, len(toks) - 6),
                 i -> array_to_string(toks[i:i+7], ' ')))) AS g
        FROM toks WHERE len(toks) >= 8),
      df AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
      cov AS (
        SELECT source, COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_grams,
               ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS dup_frac
        FROM grams JOIN df USING (g)
        GROUP BY source),
      train AS (SELECT doc_id, g FROM grams WHERE source <> 'src0'),
      eval_g AS (SELECT doc_id, g FROM grams WHERE source = 'src0'),
      rare_train AS (
        SELECT t.doc_id, t.g FROM train t
        JOIN (SELECT g FROM train GROUP BY g HAVING COUNT(*) <= 20) r
          USING (g)),
      pairs AS (
        SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc
        FROM eval_g e JOIN rare_train t USING (g)
        GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      ccnt AS (
        SELECT d.source, COUNT(*) AS n_contaminated
        FROM (SELECT DISTINCT train_doc AS doc_id FROM pairs) c
        JOIN documents d USING (doc_id)
        GROUP BY d.source)
      SELECT cov.source, cov.n_grams, cov.n_dup_grams, cov.dup_frac,
             CAST(COALESCE(ccnt.n_contaminated, 0) AS BIGINT)
               AS n_contaminated
      FROM cov LEFT JOIN ccnt USING (source)
      ORDER BY cov.source""",
    "q94_bloom_dedup" -> """
      WITH corpus AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE source <> 'src0'),
      incoming AS (
        SELECT lang, md5(text) AS fp FROM documents WHERE source = 'src0'),
      c AS (
        SELECT lang, (corpus.fp IS NOT NULL) AS is_dup
        FROM incoming LEFT JOIN corpus ON incoming.fp = corpus.fp)
      SELECT lang, COUNT(*) AS n_incoming,
             CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS n_new
      FROM c GROUP BY lang ORDER BY lang""",
    "q54_dedup_canonical" -> """
      SELECT md5(text) AS fp, MIN(doc_id) AS keeper_doc, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY fp""",
    "q30_dedup_exact" -> """
      SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct
      FROM documents GROUP BY lang ORDER BY lang""",
    // q31/q73/q81 share the q103 all-pairs CTE at τ = 1/20, with the
    // threshold in INTEGER math (20·inter ≥ union) exactly like the
    // Spark-side prefix-filter verify — a double `>= 0.05` could flip on
    // ties for τ values without exact binary representation.
    "q31_ngram_jaccard" -> s"""
      WITH sh AS (
        SELECT doc_id, $duckShinglesSql AS shingles
        FROM (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS inter,
               len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)) AS un
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / un AS jaccard
      FROM pairs WHERE 20 * inter >= un
      ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""",
    "q73_dedup_clusters" -> s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id, $duckShinglesSql AS shingles
        FROM (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE 20 * len(list_intersect(a.shingles, b.shingles)) >=
              len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))),
      e2 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             UNION SELECT doc_b, doc_a FROM pairs),
      cc AS (
        SELECT doc_id AS id, doc_id AS label FROM documents
        UNION
        SELECT e2.dst AS id, cc.label FROM cc JOIN e2 ON e2.src = cc.id),
      comp AS (SELECT id, MIN(label) AS component FROM cc GROUP BY id)
      SELECT component, COUNT(*) AS n_docs
      FROM comp GROUP BY component ORDER BY component""",
    "q81_edit_distance" -> s"""
      WITH sh AS (
        SELECT doc_id, $duckShinglesSql AS shingles
        FROM (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS inter,
               len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)) AS un
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
      thresholded AS (
        SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / un AS jaccard
        FROM pairs WHERE 20 * inter >= un),
      top AS (
        SELECT * FROM thresholded
        ORDER BY jaccard DESC, doc_a, doc_b LIMIT 10)
      SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard,
             CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist,
             CAST(GREATEST(length(da.text), length(db.text)) AS INT) AS max_len
      FROM top
      JOIN documents da ON da.doc_id = doc_a
      JOIN documents db ON db.doc_id = doc_b
      ORDER BY jaccard DESC, doc_a, doc_b""",
    // q32/q33: xxhash64-based — not expressible in DuckDB; rows-only.
  )
}
