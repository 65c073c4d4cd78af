package graft
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
object Bench {

  /** Flagship queries carry `ops.Observed` counters through the bench:
    * zero-extra-pass row/volume metrics that give a wall-time delta its
    * missing denominator (time moved — did VOLUME?). Each counter sums an
    * output column that is itself an input-side count, so the artifact
    * records how many source rows the query actually aggregated, not just
    * how long it took. The observed frames are `collect()`ed (outputs are
    * a handful of rows) so the metrics land on the acted-on QueryExecution
    * synchronously — `count()` plans a separate QE (Observed scaladoc). */
  private val observes: Map[String, DataFrame => DataFrame] = Map(
    "q01_pricing_summary" -> (df => graft.ops.Observed.withCounters(df,
      "obs", count(lit(1)).as("out_rows"),
      sum(col("count_order")).as("lineitems_aggregated"))),
    "q82_regional_revenue" -> (df => graft.ops.Observed.withCounters(df,
      "obs", count(lit(1)).as("out_rows"),
      sum(col("n_items")).as("joined_items"))),
    "q96_dataset_build" -> (df => graft.ops.Observed.withCounters(df,
      "obs", count(lit(1)).as("out_rows"),
      sum(col("n_chunks")).as("chunks"),
      sum(col("chunk_tokens")).as("chunk_tokens"))))

  /** Queries whose plans already carry IN-PLAN `observe` nodes (wedge
    * count, sampled-edge count, PQ shortlist size, CC rounds, index
    * ingest volumes — the expensive-tail and standing-index queries where
    * a budget breach needs its volume context, r9/r10). They are
    * collect()ed so the metrics land on the acted-on QueryExecution, and
    * every named observation row is harvested — no wrapper needed. */
  private val observedInPlan = Set("q123_triangles", "q124_triangles_sampled",
    "q104_pq_ann", "q122_pq_scan", "q73_dedup_clusters", "q126_pq_batch",
    "q125_gram_index", "q127_shingle_index", "q128_shingle_bucketed",
    "q129_ivf_pq", "q130_triangles_budget", "q131_ivf_pq_residual")

  /** The standing indexes, force-built in a SEPARATELY-TIMED ingest pass
    * before warmup (r11 verdict task #1). Through r11, first-touch ingest
    * cost landed on whichever registry query touched each index first —
    * warmup *usually* absorbed it, but warmup failures were silent, and
    * when the driver box's warmup did not establish an index the timed
    * q125/q126 read 8–16 s against reuse-path budgets (two consecutive
    * red gates on accounting, not plans). Now the accounting is
    * deterministic by construction: each Bench JVM builds every index it
    * will need HERE, on a named `xN_ingest_*` line with its own budget in
    * tools/check_bench.py, and the query lines always measure the serving
    * path their typicals describe (the honest production split — ingest
    * is a once-per-corpus cost, serving is the hot path). Failures are
    * LOUD: a dead ingest is recorded in `failed`, which check_bench
    * treats as exit 1.
    *
    * Entry: (ingest line name, registry queries that read the index,
    * ensure fn). The query set scopes the pass under
    * SPARK_GRAFT_BENCH_ONLY — a run benching one query builds only that
    * query's indexes. Short ids x1…x7 keep the compact JSON line's
    * one-prefix-per-entry convention collision-free. */
  private[graft] val standingIngests
      : Seq[(String, Set[String], (SparkSession, String) => String)] = Seq(
    ("x1_ingest_gram", Set("q125_gram_index"),
      (s, d) => { val (_, c) = graft.dedup.Dedup.ensureGramIndex(s, d)
        s"postings=${c._1}" }),
    ("x2_ingest_shingle", Set("q127_shingle_index"),
      (s, d) => { val (_, c) = graft.dedup.Dedup.ensureShingleIndex(s, d)
        s"postings=${c._2}" }),
    ("x3_ingest_shingle_bkt", Set("q128_shingle_bucketed"),
      (s, d) => { val (_, c) = graft.dedup.Dedup.ensureShingleBucketed(s, d)
        s"postings=${c._2}" }),
    ("x4_ingest_pq", Set("q122_pq_scan", "q126_pq_batch"),
      (s, d) => { val (_, n, _) = graft.similarity.Pq.pqIngest(s, d)
        s"vectors=$n" }),
    ("x5_ingest_ivfpq", Set("q129_ivf_pq"),
      (s, d) => { val (_, _, n, _) = graft.similarity.IvfPq.ivfPqIngest(s, d)
        s"vectors=$n" }),
    ("x6_ingest_ivfpq_res", Set("q131_ivf_pq_residual"),
      (s, d) => { val (_, _, n, _) =
        graft.similarity.IvfPq.ivfPqIngest(s, d, residual = true)
        s"vectors=$n" }),
    ("x7_ingest_semdedup", Set("q134_semdedup_direct"),
      (s, d) => { val (n, kept) =
        graft.similarity.Similarity.semDeDupIngest(s, d)
        // planes is DERIVED from corpus size since r13 (r12 verdict
        // task #3: fixed planes=8 made this line grow 5.2x at 10x
        // data); read the resolved dial back from the marker payload
        // so the ingest record carries it
        val planes = graft.ops.Standing
          .current(graft.ops.Scratch.root(s, d, "semdedup_idx"))
          .map(_._2.trim.split(" ")(0)).getOrElse("?")
        s"planes=$planes n=$n kept=$kept" }))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Budgets reads its table when first touched: touch it now, so a
    // missing or malformed table fails before the suite runs.
    System.err.println(
      s"BENCH_BUDGETS ${Budgets.TablePath} ${Budgets.Typicals.size} lines")
    val spark = Sessions.local("graft-bench", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // SPARK_GRAFT_BENCH_ONLY=<name[,name]>: bench a subset
    // SORTED name order, not Map order: a HashMap's iteration order
    // reshuffles whenever the key SET changes, so adding one query used
    // to re-deal every query's in-suite neighborhood — r11 measured q14
    // (0.4 s solo, 3 KB shuffle) reading 1.1–3.9 s purely because the
    // 131→133 re-deal parked it right behind q123's 456 MB wedge
    // shuffle. Sorted order pins each query's predecessor across rounds:
    // in-suite deltas compare apples to apples, and a new qNNN appends
    // near its numeric neighbors instead of reshuffling the deck.
    val queries = (sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").toSet
        SparkEntry.queries.filter { case (n, _) => keep(n) }
      case None => SparkEntry.queries
    }).toSeq.sortBy(_._1)
    // INGEST pass (before warmup): force-build every standing index any
    // selected query reads, each on its own timed line — see
    // standingIngests. Deterministic first-touch accounting: the timed
    // query pass below always measures the serving (reuse) path.
    val selected = queries.map(_._1).toSet
    // Leaked-block sweep between lines (r13 verdict item #1: the 32-core
    // in-suite pathology — q128 4.9→24 s at 32c while 5.0 s at 8c on
    // untouched code; old-gen accumulation was the standing hypothesis).
    // Queries that RETURN a frame derived from a localCheckpoint (the CC
    // loops, the census's canonical frame) leave their blocks pinned
    // until the ContextCleaner notices the GC'd reference — across 242
    // executions in one JVM that is exactly the accumulated storage
    // pressure the periodicGC=60s knob was papering over. Cross-query
    // state lives ONLY in on-disk standing indexes (Scratch roots,
    // bucketed tables), never in persistent RDDs, so dropping every
    // persistent RDD after a line's action is pure leak removal: it runs
    // OUTSIDE the timed region and changes no query's work (each line's
    // own persists are created and released inside its own execution).
    // Non-blocking: the unpersist is async block removal.
    def sweepLeakedBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    val ingests = standingIngests.filter(_._2.exists(selected))
    val ingestFailed = scala.collection.mutable.ArrayBuffer[String]()
    val ingestResults = ingests.map { case (name, _, fn) =>
      System.err.println(s"BENCH_INGEST $name")
      val t0 = System.nanoTime()
      try {
        val stats = fn(spark, sfDir)
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"BENCH_INGEST_DONE $name $sec%.2fs $stats")
        sweepLeakedBlocks()
        name -> sec
      } catch {
        case e: Throwable =>
          // LOUD: a dead ingest means every query over this index will
          // pay first-touch (or fail) — record it so check_bench exits 1
          System.err.println(s"BENCH_INGEST_FAIL $name: $e")
          ingestFailed += name
          name -> (System.nanoTime() - t0) / 1e9
      }
    }
    val observedOut = scala.collection.mutable.LinkedHashMap[String, String]()
    // One execution of `name`: the ONE action path, shared by the warmup,
    // the timed pass and the solo-retry pass, so all three run the
    // identical plan (collect for observed queries, count otherwise) and
    // the warmup fills the codegen cache with the classes the timed pass
    // uses. Throws on failure; the callers log it.
    def runAction(name: String, fn: (SparkSession, String) => DataFrame,
                  harvest: Boolean): Unit = {
      val wrapped = observes.get(name).map(w => w(fn(spark, sfDir)))
        .orElse(if (observedInPlan(name)) Some(fn(spark, sfDir)) else None)
      wrapped match {
        case Some(df) =>
          df.collect()
          // harvest EVERY named observation in the executed plan (the
          // "obs" wrapper and any in-plan nodes), merged flat; a field
          // name shared by several observations (q129's four per-query
          // probe scans each count scanned_rows) is qualified by its
          // observation name so the JSON object has no duplicate keys
          val fields = df.queryExecution.observedMetrics.toSeq
            .sortBy(_._1)
            .flatMap { case (nm, row) =>
              row.schema.fieldNames.zip(row.toSeq)
                .map { case (f, v) => (nm, f, v) } }
          val dup = fields.groupBy(_._2).collect {
            case (f, vs) if vs.size > 1 => f }.toSet
          if (harvest && fields.nonEmpty)
            observedOut(name) = fields
              .map { case (nm, f, v) =>
                "\"" + (if (dup(f)) s"${nm}_$f" else f) + "\":" + jsonValue(v) }
              .mkString("{", ",", "}")
        case None => fn(spark, sfDir).count()
      }
    }
    // Warmup pass: JIT + codegen compilation + parquet footer caches. The
    // timed pass then measures steady-state query compute, which is what a
    // long-lived cluster session sees. Progress goes to stderr so a JVM
    // death (OOM → SparkUncaughtExceptionHandler exits) names its query.
    // Failures print (r11 verdict: the silent catch discarded the only
    // evidence when the driver box's warmup died mid-pass) but don't
    // abort — the timed pass will surface the same failure as BENCH_FAIL.
    queries.foreach { case (name, fn) =>
      System.err.println(s"BENCH_WARM $name")
      try runAction(name, fn, harvest = false) catch {
        case e: Throwable => System.err.println(s"BENCH_WARM_FAIL $name: $e")
      }
      sweepLeakedBlocks()
    }
    // One explicit GC between passes: the timed pass starts from a clean
    // old gen instead of inheriting the warmup's garbage.
    System.gc()
    // One timed execution of `name`, for the timed pass and the solo
    // retry. stdout stays a single JSON line; failures go to stderr so a
    // broken query is visible instead of silently benching as
    // wall-clock-to-throw.
    def runTimed(name: String, fn: (SparkSession, String) => DataFrame,
                 harvest: Boolean): Double = {
      val t0 = System.nanoTime()
      try runAction(name, fn, harvest) catch {
        case e: Throwable => System.err.println(s"BENCH_FAIL $name: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Janino compiles over the timed pass: a warm pass over plans the
    // warmup already ran should compile (nearly) nothing, so a count that
    // grows names a cache miss or per-call data inlined into generated
    // source.
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    // Spark jobs started over the timed pass: the driver round trips it
    // paid. The bus is drained first so no warmup event is counted, and
    // again after so every timed-pass event is.
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(jobCounter)
    val results = queries.map { case (name, fn) =>
      System.err.println(s"BENCH_RUN $name")
      val r = name -> runTimed(name, fn, harvest = true)
      sweepLeakedBlocks()
      r
    }
    val codegen = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
      (CodeGenerator.compileTime - compileNs0) / 1000000L)
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(jobCounter)
    // SOLO-RETRY adjudication (r12 verdict task #1). Three consecutive
    // rounds shipped a red gate on a line that probed fine solo — the
    // shared host has multi-hour noisy-neighbor windows where one query's
    // in-suite reading lands 3-6x its steady state with byte-identical
    // shuffle volume (r12: q124 44.9 s in-suite vs 6.1-7.6 s solo), and
    // check_bench's whole-suite box factor cannot catch a window that
    // degrades MID-RUN. So Bench itself adjudicates: compute the exact
    // budget model the gate uses (graft.Budgets reads the same
    // tools/bench_budgets.txt as check_bench.py), and re-run each
    // over-budget QUERY line once, solo, at the end of the suite —
    // quiet-tail timing with a fresh GC, the same action, the same JVM
    // warmth. Both readings ship in the artifact (`retry` field); check_bench passes
    // the line as NOISY when the retry is within budget and keeps FAIL
    // when it is not (a real plan regression is slow twice). Ingest
    // lines retry too since r14, by REBUILDING into a fresh scratch
    // generation (a same-root re-run would measure the validity-marker
    // reuse no-op, not the build) — see the ingestRetries block below.
    val box = Budgets.boxFactor(ingestResults ++ results)
    val qmap = queries.toMap
    val queryRetries = results
      .filter { case (n, sec) => sec > Budgets.budget(n, box) }
      .map { case (name, sec) =>
        System.err.println(
          f"BENCH_RETRY $name (in-suite $sec%.2fs > budget " +
            f"${Budgets.budget(name, box)}%.2fs at box $box%.2f)")
        System.gc()
        val r = name -> runTimed(name, qmap(name), harvest = false)
        sweepLeakedBlocks()
        r
      }
    // INGEST-line retry (r13 verdict item #8): xN lines build
    // persistent standing state, so a same-root re-run would time
    // the validity-marker reuse no-op. Bump the Scratch GENERATION
    // once — every subsequent root/table resolves fresh — and
    // rebuild, which measures exactly what the in-suite line
    // measured (a cold build). Runs AFTER the query retries so
    // those still serve from the originally built indexes. The
    // fresh roots join the same shutdown-hook cleanup.
    val ingestOver = ingestResults
      .filter { case (n, sec) => sec > Budgets.budget(n, box) }
    val ingestRetries = if (ingestOver.isEmpty) Nil else {
      graft.ops.Scratch.bumpGeneration()
      val ifns = standingIngests.map(t => (t._1, t._3)).toMap
      ingestOver.flatMap { case (name, sec) =>
        System.err.println(
          f"BENCH_RETRY $name (ingest, fresh scratch generation; " +
            f"in-suite $sec%.2fs > budget " +
            f"${Budgets.budget(name, box)}%.2fs at box $box%.2f)")
        System.gc()
        val t0 = System.nanoTime()
        try {
          ifns(name)(spark, sfDir)
          val r = name -> (System.nanoTime() - t0) / 1e9
          sweepLeakedBlocks()
          Some(r)
        } catch {
          case e: Throwable =>
            // LOUD, and no retry reading ships: a crashed rebuild's
            // time-to-throw would otherwise adjudicate the line as
            // NOISY (a fast failure is always "within budget") —
            // the quiet-red-gate class the in-suite ingest pass's
            // `failed` field exists to kill. Recording the name in
            // `failed` makes check_bench exit 1 regardless.
            System.err.println(s"BENCH_RETRY_FAIL $name: $e")
            ingestFailed += name
            None
        }
      }
    }
    emit((ingestResults ++ results).toMap, sfDir,
      failed = ingestFailed.toSeq, observed = observedOut.toSeq,
      retry = queryRetries ++ ingestRetries, codegen = codegen,
      jobs = jobs.get)
    spark.stop()
  }

  /** Render one observed-metric value as VALID JSON regardless of its
    * runtime type: current counters are longs and SQL nulls, but a future
    * Double observation can carry NaN/Infinity (invalid JSON bare) and a
    * string-typed one needs quoting+escaping — raw toString would emit a
    * silently-broken artifact line. */
  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => "null"
    case f: Float if f.isNaN || f.isInfinite => "null"
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => n.toString
    case n: Double => n.toString
    case n: java.math.BigDecimal => n.toString
    case n: BigDecimal => n.toString
    case b: Boolean => b.toString
    case other => // strings and anything exotic: quoted, escaped
      "\"" + other.toString.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
  }

  // Output layout matters: the driver's BENCH_r{N}.json retains only the
  // FINAL 2000 chars of stdout (measured constant across r4–r7), so a
  // single verbose line (~4.5 KB at 123 queries) always lost its front
  // half — 46/123 per-query entries were unrecoverable from r7's
  // artifact. Two lines fix it:
  //   1. the verbose line (full names, seconds) for humans and local logs;
  //   2. a COMPACT line printed LAST — short id (name up to the first
  //      '_', unique across the registry) → integer milliseconds —
  //      ~1.6 KB at 123 queries, so the tail capture keeps it whole.
  // Compact entries are ordered cheapest-first: if the suite ever
  // outgrows the capture, truncation eats sub-second rows from the front
  // and tools/check_bench.py's regex fallback still sees every expensive
  // query. The total/metadata fields close BOTH lines so the last bytes
  // of any capture carry the headline number.
  private def emit(results: Map[String, Double], sfDir: String,
                   failed: Seq[String] = Nil,
                   observed: Seq[(String, String)] = Nil,
                   retry: Seq[(String, Double)] = Nil,
                   codegen: (Long, Long), jobs: Long): Unit = {
    def ms(v: Double): Double = math.rint(v * 1000) / 1000
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // observed counters ride the verbose line only — the compact line's
    // byte budget is what survives the driver's tail capture
    val obsJson = observed.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // solo-retry readings (over-budget lines re-run at suite end). On
    // BOTH lines: the retry map is empty on a quiet box and a handful of
    // entries in a noisy window, so it fits the compact line's tail-
    // capture byte budget — and the gate's adjudication must survive the
    // driver's 2000-char capture or the retry was measured for nothing.
    val retryVerbose = retry.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val retryCompact = retry.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + math.rint(v * 1000).toLong
    }.mkString("{", ",", "}")
    val meta = s""""n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""unit":"sec","metric":"total","value":${ms(total)}"""
    // the timed pass's compile count and time and its job count, verbose
    // line only
    val codegenJson =
      s"""{"compiles":${codegen._1},"compile_ms":${codegen._2}}"""
    println(s"""{"queries":$qs,"failed":$failedJson,"observed":$obsJson,""" +
      s""""retry":$retryVerbose,"codegen":$codegenJson,"jobs":$jobs,""" +
      s""""sf":"$sfDir",$meta}""")
    val qms = results.toSeq.sortBy(_._2).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + math.rint(v * 1000).toLong
    }.mkString("{", ",", "}")
    println(s"""{"qms":$qms,"failed":$failedJson,"retry":$retryCompact,""" +
      s""""sf":"$sfDir",$meta}""")
  }
}
