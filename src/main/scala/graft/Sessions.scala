package graft

import org.apache.spark.sql.SparkSession

/** Session factory (reference shape: src/common/spark_session.py:94-152).
  *
  * local[N] with shuffle.partitions=N (not the 200 default — reference
  * makes the same adjustment at src/common/spark_session.py:141), UTC,
  * AQE on. On a real cluster the same builder takes master from
  * spark-submit; nothing here is local-mode-specific except the default.
  *
  * The ONE session builder: tests, Bench, Verify and every tool main
  * build their session here, so a setting added here reaches all of them.
  *
  * It also installs [[graft.plans.SmallSort]] (a root ORDER BY over small
  * input sorts in one task, without a range exchange), the one planner
  * rule every graft session carries; `graft.functions.GraftExtensions`
  * installs the same rule on the `spark.sql.extensions` path, so a
  * cluster session plans sorts as a local one does.
  */
object Sessions {
  def local(appName: String = "graft",
            cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    // Shuffle partitions default to the core count (right at test SFs,
    // where per-partition payloads are tiny), overridable by env for
    // bigger local corpora. The CLUSTER rule this knob stands in for:
    // partition count scales with shuffle VOLUME (target ≲ a few hundred
    // MB/partition), not with core count — at sf10 the pinned 32 made
    // per-partition sort payloads 10× sf1's and pushed the heavy joins
    // into spill (measured in BENCHMARKS.md's second-decade table).
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString)
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .withExtensions(graft.plans.SmallSort.install)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata parquet carries naive (isAdjustedToUTC=false) timestamps;
      // read them as UTC instants (TIMESTAMP), not TIMESTAMP_NTZ, so
      // unix_micros/window arithmetic and the DuckDB oracle line up
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // One hot join key must spill, not OOM: SMJ/cartesian buffer a key's
      // whole match group on-heap (plain ArrayBuffer) until this row count,
      // only then switching to a spillable UnsafeExternalSorter. The
      // default threshold is effectively infinite, which at sf10 turned a
      // skewed gram join into an executor OOM. 64k rows ≈ single-digit MB
      // for our widest buffered rows — negligible for normal keys, disk
      // (not heap) for pathological ones.
      .config("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", graft.Tuning.JoinBufferSpillRows.toString)
      .config("spark.sql.cartesianProductExec.buffer.in.memory.threshold", graft.Tuning.JoinBufferSpillRows.toString)
      // A bench run shares one JVM across 238 query executions;
      // ContextCleaner reclaims old broadcasts/shuffles only after their
      // weak refs are GC'd, and a large heap may not GC for many queries —
      // stale executor state then inflates later queries (measured at
      // sf10: q71 35 s in-suite vs 4.3 s solo). Default periodicGC is
      // 30min; tighten it.
      .config("spark.cleaner.periodicGC.interval", "60s")
      // Compile each generated class once per JVM. Most of a small
      // query's cost is planning and codegen, not data, and Janino
      // compiles through a cache that two defaults defeat:
      //  - its size: the default 100 entries is fewer than the distinct
      //    classes one JVM cycles through (perfbench `mix`'s 8 queries
      //    alone exceed it), so under LRU every warm lookup missed;
      //  - artifact isolation: the cache key is (context classloader,
      //    source), and with isolation on every session CLONE runs its
      //    tasks under its own classloader — every streaming query
      //    (StreamExecution clones the session) and graft's scoped-conf
      //    clones (exprs.bloomSketchBytes, Dedup.writeBucketedBatch)
      //    recompiled classes already cached. graft adds no session
      //    artifacts (no addArtifact/addJar), so isolation buys nothing.
      // Measured on perfbench at 4 cores (BENCHMARKS.md, "Codegen
      // cache"): compiles per op 9.3 → 0 on mix and 14.1 → 0 on ingest,
      // compile ms per op 94 → 0 and 164 → 0; CPU per op −26% and −23%.
      // Both are read when a session is CREATED, so they take effect on
      // the JVM's first session only; a later getOrCreate keeps the first
      // session's values.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
