package graft

/** The engine's measured dispatch/sizing constants, hoisted to ONE
  * surface. Every value here was set by a box measurement (the "where
  * measured" pointer on each constant; the full table lives in SCALING.md
  * §"Tuning constants"), and every one of them is the kind of number that
  * needs RETUNING when the hardware changes — a 100× cluster re-derives
  * them from its own probes. They are plain constants: nothing in the
  * repo runs with other values, and retuning is a one-file edit here,
  * never a five-file source edit.
  *
  * The constants stay REFERENCED from their algorithm's scaladoc (the
  * measurement story reads best next to the dispatch it drives); this
  * object is the single point of truth for the values.
  */
object Tuning {
  /** Corpus size (vectors) above which PQ training-sample collection and
    * the encode scan repartition to core count instead of inheriting file
    * parallelism. Measured fork points (BENCHMARKS.md round-7 "PQ fan-out
    * gate", sf-ladder solo probes): 20k vectors −1.7×, 100k −1.2× (fan-out
    * loses — repartition overhead beats the extra cores), 200k +1.7×
    * (wins); 128k sits between the measured arms. Used by
    * [[graft.similarity.Pq]]. */
  val PqFanoutGateVectors: Long = 128L * 1024

  /** Largest per-group row count the window-rank (single-task-per-group
    * sort) exact-percentile form may handle before bucket selection takes
    * over. Measured crossover ~1M rows/group (q52 shape, QueryProbe solo:
    * sort wins at 0.3M, loses 3× at 3M, 5× at 30M — BENCHMARKS.md round-7
    * percentile table); 512k sits just under it and is also a comfortable
    * single-task sort memory-wise. Used by [[graft.ops.Percentiles]]. */
  val SortPathMaxGroupRows: Long = 512L * 1024

  /** Largest pair-rows-per-posting ratio (Σ df·(df−1)/2 over Σ df) at
    * which the posting-count similarity-join regime is still preferred
    * over prefix-filter+verify. Bracketed (BENCHMARKS.md round-7
    * "τ-dispatch crossover"): GenScale corpora sit at 0.5–4.9 where
    * posting-count wins 1.5–3× at every probed τ; one planted hot gram
    * pushes the ratio to 51.5 where prefix wins 2.9× at 5k docs and
    * diverges df² vs linear beyond. Used by [[graft.dedup.Dedup]]. */
  val PostingMaxPairRowsPerPosting: Double = 16.0

  /** Target bytes per FASTA output file; write fan-out = max(cores,
    * estimated bytes / this). The round-7 sf10 sweep caught the constant
    * fan-out this replaced (whole corpus rendered through 4 tasks → q101
    * at 137 s; volume-derived fan-out → 2.9 s steady). 64 MB matches the
    * parquet-side maxPartitionBytes convention — big enough that file
    * count tracks volume, small enough that one file is one task's write.
    * Used by [[graft.sources.Fasta.write]]. */
  val FastaWriteTargetBytes: Long = 64L << 20

  /** Largest query-batch size adcTopKBatch evaluates in ONE plan before
    * chunking. HISTORY: through r11 the batched projection computed Q
    * ADC distances per codes row as Q×M nested element_at lookups in
    * one generated method, whose per-row cost grew super-linearly past
    * Q≈64 as the method defeated whole-stage codegen (r10 sweep at 20k
    * vectors, single-plan: Q=256 169 s — SLOWER than 256 singles — plus
    * a 16 GB driver OOM from JIT deopt); 32 was the measured-best chunk.
    * r12 rewrote the scorer to explode qi FIRST and key the table
    * lookup by the qi COLUMN, so the generated expression is ONE M-term
    * sum at any Q — remeasured same-box A/B at Q=256: one plan 18.5 s
    * vs chunked-32 24.1 s at sf0.1 and 22.0 s vs 25.9 s at sf1, no OOM,
    * every chunk being a FULL extra codes scan on this path.
    * r13 swept the remaining ceiling — the distance-table plan literal —
    * to Q=2000 and found the r12 shape shipped M COPIES of the whole
    * Q×M×K literal per task binary (one copy per sum term: 59 KB/query,
    * 117.9 MiB task binary and 183 s at Q=2000). Per-subspace literals
    * (Pq.adcSubspaceTableCols — each referenced once) dropped the task
    * binary to ~3.8 KB/query (7.6 MiB at Q=2000) and the one-plan wall
    * to 2.6/4.6/8.6/23.3 s at Q=256/512/1024/2000 — LINEAR, no cliff
    * through the full sf0.1 corpus, so the ceiling rises to 2048
    * (task binary ≈ Q×M×K×8 B×2 ≈ 8 MiB there; chunked@256 measured
    * equal at toy sf but pays ceil(Q/chunk)−1 extra FULL corpus scans
    * at real scale). BENCHMARKS r13 has the sweep table.
    * Used by [[graft.similarity.Pq.adcTopKBatch]]. */
  val AdcBatchMaxQ: Int = 2048

  /** The IVF-PQ batch path's chunk ceiling ([[graft.similarity.IvfPq
    * .ivfPqTopKBatch]]) — SEPARATE from [[AdcBatchMaxQ]] because its
    * chunking is not overhead: each chunk scans only the UNION of its
    * members' probe partitions, and greedy probe-overlap packing
    * measured −13.5% scanned rows at Q=256/nprobe=6 (r11). On a
    * partition-pruned index, scanned volume — not plan width — is the
    * 10¹¹-vector cost, so chunks stay small; the r12 explode-first
    * scorer removed the codegen reason to chunk, not the pruning one. */
  val IvfPqBatchMaxQ: Int = 32

  /** Appended-mass fraction past which an IVF-PQ index should retrain
    * (the model-drift contract, r12 verdict task #7). The PQ codebooks
    * and IVF centroids quantize the distribution they trained on;
    * appends from that distribution are free, but once appended mass is
    * a substantial share of the trained corpus the model can be
    * quantizing a moved distribution — ~25% is the documented
    * operational threshold (Jégou et al. §V; FAISS practice; COVERAGE.md
    * drift note). [[graft.similarity.IvfPq.ivfPqAppend]] warns on stderr
    * at the crossing; [[graft.similarity.IvfPq.ivfPqDrift]] exposes the
    * fraction programmatically. */
  val IvfPqRetrainFraction: Double = 0.25

  /** Corpus size (vectors) at or above which the similarity family's
    * signature/assignment map work fans out to core count when the
    * embedding scan yields fewer splits than cores
    * (Similarity.fanoutToCores — a no-op at real scale, where splits ≥
    * cores). Measured arms (r14, warm solo, 32 cores): at sf1 (20k
    * vectors) the fan-out wins 1.6×/1.5× (q133 9.3→5.8 s, q135
    * 12.6→8.3 s — the dominant stage ran 10.6 s CPU on TWO tasks); at
    * sf0.1 (2k vectors) it LOSES ~0.3–1 s (the ~250 extra tasks cost
    * more than the ~0.1 s of spread CPU). 10k sits between the
    * measured arms, the [[PqFanoutGateVectors]] discipline. */
  val SimFanoutGateRows: Long = 10L * 1024

  /** Cap on the triangle census's wedge-prefilter Bloom sketch
    * ([[graft.graph.Graph.trianglesOriented]], r13; broadcast transport
    * since r14). The sketch rides a BROADCAST — bytes ship once per
    * executor, the task binary carries only the handle — so the cap no
    * longer prices a per-task-binary cost (the r13 reason it sat at
    * 2^28 = 32 MiB); what it bounds now is (a) executor/driver memory
    * for the materialized filter and (b) the per-task partial-agg
    * buffer while the sketch is BUILT (BloomFilterAggregate allocates
    * numBits/8 per map task). 2^31 bits = 256 MiB honors the 1% fpp's
    * ~9.6 bits/edge up to ~2.2e8 edges — 8× the old ceiling — and past
    * the cap the realized fpp still degrades smoothly (more surviving
    * wedges, each verified by the unchanged closing join — never a
    * wrong row). Measured at sf0.1: 41.1M wedges → ~0.3% close.
    * Executors with more headroom can raise this to hold 1% on
    * billion-edge graphs (~1.2 GB). */
  val TriangleBloomMaxBits: Long = 1L << 31

  /** Edge count up to which the triangle census lets the planner
    * BROADCAST census-join sides (the degree table, the closing edge
    * side); above it every census join is hinted sort-merge (r14).
    * Why a gate exists at all: the r14 join-free edge build gives the
    * checkpointed edge frame small plan-time size estimates, and the
    * planner then broadcasts O(E)-sized sides — measured locally as two
    * ~1 s single-threaded hashed-relation builds per census (q123 warm
    * 4.2 → 6.6 s), and at 100 TB an OOM (an O(E) broadcast is never
    * right for a full graph). The gate decides from the MEASURED edge
    * count the census already takes (guide §3.1: pick the strategy
    * deliberately): ≤ 2^19 edges ≈ 12 MB hashed relation — a sane
    * broadcast that q130's budget-bounded sampled census (2^17-edge
    * target) enjoys AT ANY CORPUS SIZE by construction; past the gate,
    * sort-merge, the shape the full q123/q124 censuses always planned
    * before the estimate got small. */
  val TriangleBroadcastMaxEdges: Long = 1L << 19

  /** Row count past which SMJ/cartesian per-key match buffers switch from
    * an on-heap ArrayBuffer to a spillable UnsafeExternalSorter
    * (`spark.sql.{sortMergeJoinExec,cartesianProductExec}.buffer.in.memory
    * .threshold`). Spark's default is effectively infinite, which turned
    * one skewed gram-join key into an executor OOM at sf10 (stage-1030
    * smj_findNextJoinRows — BENCHMARKS.md round-6). 64k rows ≈ single-digit
    * MB for the widest buffered rows here: negligible for normal keys,
    * disk instead of heap for pathological ones. Used by
    * [[graft.Sessions]] and [[graft.Bench]]. */
  val JoinBufferSpillRows: Long = 65536L
}
