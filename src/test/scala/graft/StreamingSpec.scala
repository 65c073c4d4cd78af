package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming ↔ batch differential: the same transforms over the same
  * events must agree exactly, with the stream sliced into micro-batches
  * (one file per trigger) to exercise real cross-batch state. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val streamDir = "target/tmp/stream_events"

  /** Split sf0.001 events into 3 parquet files so maxFilesPerTrigger=1
    * yields 3 micro-batches. */
  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rmRf)
    f.delete(); ()
  }

  private lazy val prepared: Unit = {
    // Fixture files carry the raw ingest shape readEventsStream expects:
    // ts as a nanosecond long. Testdata flavor has varied across rounds
    // (TIMESTAMP(NANOS) → long under nanosAsLong; micros TIMESTAMP
    // directly) — normalize either to long nanos here.
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val ev =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) raw
      else raw.withColumn("ts", expr("unix_micros(ts) * 1000"))
    val dir = new java.io.File(streamDir)
    if (dir.exists) rmRf(dir)
    // Chronological micro-batches (how ingestion actually lands files):
    // out-of-order slices would make whole batches "late" vs the
    // watermark and the session operator would rightly drop them.
    def ns(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    val (t1, t2) = (ns("2024-01-11 00:00:00"), ns("2024-01-21 00:00:00"))
    ev.filter(col("ts") < t1).coalesce(1).write.parquet(s"$streamDir/f0")
    ev.filter(col("ts") >= t1 && col("ts") < t2).coalesce(1).write.parquet(s"$streamDir/f1")
    ev.filter(col("ts") >= t2).coalesce(1).write.parquet(s"$streamDir/f2")
    // flatten: move part files up so the source dir is one flat listing
    Seq("f0", "f1", "f2").foreach { sub =>
      new java.io.File(s"$streamDir/$sub").listFiles
        .filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$streamDir/$sub-$i.parquet"))
        }
      rmRf(new java.io.File(s"$streamDir/$sub"))
    }
  }

  private def batchEvents = Tables.events(spark, sf)

  test("windowed counts: streaming (3 micro-batches) == batch") {
    prepared
    val q = Streams.runToMemory(
      Streams.windowedCounts(Streams.readEventsStream(spark, streamDir)),
      "win_stream")
    try {
      val streamed = spark.table("win_stream")
        .collect().map(_.toString).sorted
      val batch = Streams.windowedCounts(batchEvents)
        .collect().map(_.toString).sorted
      assert(streamed.nonEmpty && streamed.sameElements(batch))
    } finally q.stop()
  }

  test("session windows: streaming session_window == batch lag-based q42") {
    prepared
    val q = Streams.runToMemory(
      Streams.sessions(Streams.readEventsStream(spark, streamDir)),
      "sess_stream")
    try {
      val streamed = spark.table("sess_stream")
        .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.queries.Extra.q42Sessionize(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch,
        s"diff: ${(streamed.toSet diff batch.toSet).take(5)}")
    } finally q.stop()
  }

  test("append mode + watermark emits only finalized windows (a prefix of batch)") {
    prepared
    val q = Streams.runToMemory(
      Streams.windowedCounts(Streams.readEventsStream(spark, streamDir)),
      "win_append", org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val appended = spark.table("win_append").collect().map(_.toString).toSet
      val batch = Streams.windowedCounts(batchEvents).collect().map(_.toString).toSet
      // Append emits a window only once the watermark passes its end: the
      // result must be a strict subset (the last day(s) stay open) and
      // every emitted row must match the batch result exactly.
      assert(appended.subsetOf(batch), "append rows must agree with batch")
      assert(appended.nonEmpty && appended.size < batch.size,
        s"expected open windows withheld: ${appended.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("foreachBatch sink: micro-batches land in parquet, total preserved") {
    prepared
    val outDir = "target/tmp/stream_out"
    if (new java.io.File(outDir).exists) rmRf(new java.io.File(outDir))
    val q = Streams.readEventsStream(spark, streamDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outDir)
      }
      .start()
    try {
      q.processAllAvailable()
      val landed = spark.read.parquet(outDir)
      assert(landed.count() == batchEvents.count())
      assert(landed.select("batch_id").distinct().count() == 3)
    } finally q.stop()
  }

  test("foreachBatch ingest + periodic compaction: maintenance composes with append") {
    prepared
    val outDir = "target/tmp/stream_compact"
    if (new java.io.File(outDir).exists) rmRf(new java.io.File(outDir))
    // The production ingestion loop: every micro-batch appends parquet;
    // every 2nd batch runs the small-file compaction job in-line. The
    // crash-safe swap inside IO.compact must be invisible to both the
    // appender (later batches keep landing) and readers (no lost rows).
    var compactions = 0
    val q = Streams.readEventsStream(spark, streamDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(outDir)
        if (id % 2 == 1) {
          graft.sources.IO.compact(spark, outDir, rowsPerFile = 1000000L)
          compactions += 1
        }
      }
      .start()
    try {
      q.processAllAvailable()
      assert(compactions >= 1, "at least one in-stream compaction must have run")
      graft.sources.IO.compact(spark, outDir, rowsPerFile = 1000000L) // final pass
      val landed = spark.read.parquet(outDir)
      assert(landed.count() == batchEvents.count(),
        "compaction must not lose or duplicate streamed rows")
      assert(landed.select("event_id").distinct().count() == batchEvents.count())
      val files = new java.io.File(outDir).listFiles
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"expected a fully compacted table, got $files files")
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per fingerprint across batches") {
    import org.apache.spark.sql.types._
    val dir = "target/tmp/stream_dedup"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    // batch 1: docs 1,2; batch 2: doc 3 + a duplicate of doc 1's text
    Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b1")
    Seq((3L, "epsilon zeta"), (4L, "alpha beta")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b2")
    Seq("b1", "b2").foreach { sub =>
      new java.io.File(s"$dir/$sub").listFiles.filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$sub-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$sub"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.runToMemory(Streams.streamingDedup(stream), "dedup_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val kept = spark.table("dedup_stream").collect()
        .map(_.getLong(0)).sorted
      assert(kept.sameElements(Array(1L, 2L, 3L)),
        s"duplicate (doc 4) must be dropped, first arrivals kept: ${kept.mkString(",")}")
    } finally q.stop()
  }

  test("streaming gram ingest: micro-batch-maintained index == batch index") {
    import org.apache.spark.sql.types._
    import graft.dedup.Dedup
    val dir = "target/tmp/stream_gram"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val t1 = "one two three four five six seven eight nine ten eleven twelve"
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Seq((1L, t1, "srcA"), (2L, t2, "srcB")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/w1")
    Seq((3L, t1, "srcB"), (4L, "tiny doc", "srcA"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/w2")
    Seq("w1", "w2").foreach { sub =>
      new java.io.File(s"$dir/$sub").listFiles.filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$sub-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$sub"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val base = java.nio.file.Files.createTempDirectory("stream_gram_idx").toString
    val root = s"$base/postings"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.streamingGramIngest(stream, root, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val allDocs = spark.read.parquet(dir)
    // two micro-batch appends == one batch ingest of the union, postings
    // AND the monoid-merged df sidecar (doc 4 is sub-n: no postings)
    assert(rows(Dedup.gramIndex(spark, root)) == rows(Dedup.gramPostings(allDocs)))
    assert(rows(Dedup.gramIndexDf(spark, root)) ==
      rows(Dedup.gramPostings(allDocs).groupBy("g").agg(sum(lit(1L)).as("df"))))
  }

  test("streaming shingle ingest: micro-batch-maintained index == batch index") {
    import org.apache.spark.sql.types._
    import graft.dedup.Dedup
    val dir = "target/tmp/stream_shingle"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val t1 = "one two three four five six seven eight nine ten eleven twelve"
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Seq((1L, t1, "srcA"), (2L, t2, "srcB")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/w1")
    Seq((3L, t1, "srcB"), (4L, "ab", "srcA")) // doc 4: < 3 tokens, no shingles
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dir/w2")
    Seq("w1", "w2").foreach { sub =>
      new java.io.File(s"$dir/$sub").listFiles.filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$sub-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$sub"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val base = java.nio.file.Files.createTempDirectory("stream_shingle_idx").toString
    val root = s"$base/shingles"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.streamingShingleIngest(stream, root, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // two micro-batch appends == one batch ingest of the union
    val root2 = s"$base/oneshot"
    graft.dedup.Dedup.shingleIndexIngest(spark.read.parquet(dir), root2)
    assert(rows(Dedup.shingleIndex(spark, root)) ==
      rows(Dedup.shingleIndex(spark, root2)))
  }

  test("stream-static dedup: streamed docs anti-join the historical corpus") {
    import org.apache.spark.sql.types._
    val dir = "target/tmp/stream_static_dedup"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    // historical corpus knows "alpha beta"; batches carry one known dup
    // each plus new docs — the anti join must drop exactly the known ones
    val corpus = Seq("alpha beta").toDF("text")
      .select(md5(col("text")).as("fp"))
    Seq((1L, "alpha beta"), (2L, "fresh one")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b1")
    Seq((3L, "another new"), (4L, "alpha beta")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b2")
    Seq("b1", "b2").foreach { sub =>
      new java.io.File(s"$dir/$sub").listFiles.filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$sub-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$sub"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.runToMemory(Streams.streamStaticDedup(stream, corpus),
      "stream_static_dedup", org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val kept = spark.table("stream_static_dedup").collect()
        .map(_.getLong(0)).sorted
      assert(kept.sameElements(Array(2L, 3L)),
        s"known docs 1,4 must be dropped, got: ${kept.mkString(",")}")
      // and the same transform in batch agrees (differential contract)
      val batch = Streams.streamStaticDedup(
        Seq((1L, "alpha beta"), (2L, "fresh one"), (3L, "another new"),
          (4L, "alpha beta")).toDF("doc_id", "text"), corpus)
        .collect().map(_.getLong(0)).sorted
      assert(batch.sameElements(kept))
    } finally q.stop()
  }

  test("transformWithState TTL dedup: first-seen admission, state expiry re-admits") {
    import org.apache.spark.sql.types._
    val dir = "target/tmp/stream_ttldedup"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    // transformWithState requires the RocksDB state store
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // A TimeMode.ProcessingTime query NEVER self-terminates: the
      // stateful operator demands a follow-up batch every batch
      // (shouldRunAnotherBatch ≡ true) to advance its clock, so even
      // Trigger.AvailableNow keeps scheduling no-data batches — measured
      // here, not guessed. Each stage therefore POLLS the memory sink
      // for its expected admissions and then stops the query; the two
      // stages share a checkpoint (exercising RocksDB state recovery);
      // TTL filtering applies at state READ time on the later run.
      val in = s"$dir/in"; new java.io.File(in).mkdirs()
      val ckpt = s"$dir/ckpt"
      def addBatch(sub: String, rows: Seq[(Long, String)]): Unit = {
        rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/stage_$sub")
        new java.io.File(s"$dir/stage_$sub").listFiles
          .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
            java.nio.file.Files.move(f.toPath,
              java.nio.file.Paths.get(s"$in/$sub-$i.parquet")) }
        rmRf(new java.io.File(s"$dir/stage_$sub"))
      }
      // the memory sink cannot RECOVER from a checkpoint (AnalysisException
      // on restart), so admissions land in a parquet file sink — the
      // shape a real ingest pipeline uses anyway
      val out = s"$dir/out"
      def admitted(): Array[Long] =
        try spark.read.parquet(out).collect().map(_.getLong(0)).sorted
        catch { case _: org.apache.spark.sql.AnalysisException => Array.empty }
      def runOnce(expectTotal: Int): Array[Long] = {
        val stream = spark.readStream.schema(schema).parquet(in)
        val q = Streams.streamingDedupTtl(stream,
            java.time.Duration.ofMillis(150)).toDF()
          .writeStream.outputMode(OutputMode.Append()).format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .start()
        try {
          val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
          while (admitted().length < expectTotal &&
                 q.exception.isEmpty && System.nanoTime < deadline)
            Thread.sleep(100)
          q.exception.foreach(e => fail(s"query failed: ${e.getMessage}"))
          admitted()
        } finally q.stop()
      }
      addBatch("b1", Seq((1L, "alpha beta"), (2L, "gamma delta")))
      val afterB1 = runOnce(expectTotal = 2)
      assert(afterB1.sameElements(Array(1L, 2L)), s"b1: ${afterB1.mkString(",")}")
      Thread.sleep(400) // >> TTL: doc 1's fingerprint state must expire
      // b2: a duplicate pair, plus a repeat of doc 1's text (state
      // expired -> re-admitted), against the recovered checkpoint
      addBatch("b2", Seq((5L, "epsilon zeta"), (6L, "epsilon zeta"),
        (7L, "alpha beta")))
      val afterB2 = runOnce(expectTotal = 4)
      // 5 admitted, its duplicate 6 dropped (same fingerprint; if both
      // land in one trigger the lowest doc_id wins the slot); 7
      // re-admitted because doc 1's state aged out
      assert(afterB2.sameElements(Array(1L, 2L, 5L, 7L)),
        s"expected 1,2,5,7 got: ${afterB2.mkString(",")}")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("crash recovery: replayed batch after a lost commit marker is " +
       "exactly-once in the file sink") {
    import org.apache.spark.sql.types._
    // The classic crash window: the FILE SINK committed batch N to its
    // _spark_metadata log, but the engine died before writing the
    // CHECKPOINT's commits/N marker. On restart Spark re-executes batch N
    // from the offsets log; the sink must recognize the already-committed
    // batch and skip it, and a metadata-log read of the output directory
    // must show every input row exactly once — no dups from the replay,
    // no losses from the skip.
    val dir = "target/tmp/stream_crash"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    val ckpt = s"$dir/ckpt"; val out = s"$dir/out"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def addFile(name: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/stage")
      new java.io.File(s"$dir/stage").listFiles
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$in/$name-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/stage"))
    }
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .selectExpr("doc_id", "upper(text) AS text_u")
        .writeStream.outputMode(OutputMode.Append()).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try { q.processAllAvailable() } finally q.stop()
    }
    addFile("b1", Seq((1L, "alpha"), (2L, "beta")))
    run()
    // simulate the crash: drop the checkpoint's commit marker for the
    // latest batch — sink state says "committed", checkpoint says "never
    // happened", so restart MUST replay it
    val commits = new java.io.File(s"$ckpt/commits").listFiles
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "expected at least one committed batch")
    assert(commits.last.delete(), "failed to remove the commit marker")
    // the local FS keeps a checksum shadow (.N.crc); leaving it behind
    // makes the replayed commit's rename fail with FileAlreadyExists
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    if (crc.exists) { crc.delete(); () }
    addFile("b2", Seq((3L, "gamma")))
    run() // replays b1's batch (skipped by the sink), then processes b2
    val got = spark.read.parquet(out) // reads THROUGH _spark_metadata
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.toSeq == Seq((1L, "ALPHA"), (2L, "BETA"), (3L, "GAMMA")),
      s"exactly-once violated: ${got.mkString(",")}")
    // sanity: the metadata log is load-bearing — the replay may leave
    // orphan part-files that a raw (non-streaming-aware) directory scan
    // would double-count; the committed view above is the sink contract
    assert(new java.io.File(s"$out/_spark_metadata").exists)
  }

  test("streaming host cap: single trigger == batch q105 row-for-row") {
    import org.apache.spark.sql.types._
    val dir = "target/tmp/stream_hostcap1"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    // whole corpus in ONE micro-batch → admission order == batch ranking
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/all")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 10).parquet(s"$dir/all")
    val q = Streams.runToMemory(Streams.streamingHostCap(stream, cap = 10).toDF(),
      "hostcap_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("hostcap_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.pipeline.Curation.qHostCap(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong)).toSet
      assert(streamed == batch,
        s"single-trigger streaming cap diverges from batch: ${
          (streamed diff batch) ++ (batch diff streamed)}")
    } finally q.stop()
  }

  test("streaming host cap: cap holds across micro-batches, ranks append-stable") {
    import org.apache.spark.sql.types._
    val dir = "target/tmp/stream_hostcap2"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    // host "h": 2 docs per batch with cap 3 → all of b1 admitted, exactly
    // one of b2; host "ok": 1 per batch, never capped
    Seq((1L, "aa", "h"), (2L, "bb", "h"), (10L, "xx", "ok"))
      .toDF("doc_id", "text", "source").coalesce(1).write.parquet(s"$dir/b1")
    Seq((3L, "cc", "h"), (4L, "dd", "h"), (11L, "yy", "ok"))
      .toDF("doc_id", "text", "source").coalesce(1).write.parquet(s"$dir/b2")
    Seq("b1", "b2").foreach { sub =>
      new java.io.File(s"$dir/$sub").listFiles.filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$sub-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$sub"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.runToMemory(Streams.streamingHostCap(stream, cap = 3).toDF(),
      "hostcap_stream2", org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val rows = spark.table("hostcap_stream2").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val h = rows.filter(_._2 == "h").sortBy(_._3)
      assert(h.length == 3, s"cap 3 must admit exactly 3 of host h's 4 docs: $h")
      // batch-1 docs admitted first (arrival order), ranks 1..2 stable;
      // the single b2 admission takes rank 3
      assert(h.take(2).map(_._1).toSet == Set(1L, 2L), s"b1 docs must hold ranks 1-2: $h")
      assert(h.map(_._3).sameElements(Array(1L, 2L, 3L)))
      assert(h(2)._1 == 3L || h(2)._1 == 4L)
      val ok = rows.filter(_._2 == "ok").sortBy(_._3)
      assert(ok.map(_._1).sameElements(Array(10L, 11L)) &&
             ok.map(_._3).sameElements(Array(1L, 2L)),
        s"uncapped host must admit everything with continuing ranks: $ok")
    } finally q.stop()
  }

  test("stream-static NEAR-dup: LSH bloom flags shared-shingle docs, map-only") {
    import org.apache.spark.sql.types._
    val dir = "target/tmp/stream_neardup"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val known = "the quick brown fox jumps over the lazy dog and runs away fast"
    val corpus = Seq((100L, known)).toDF("doc_id", "text")
    // b1: near-identical doc (one word changed → most shingles shared);
    // b2: unrelated doc + too-short doc (must be has_sig=false → clean)
    val nearDup = "the quick brown fox jumps over the lazy cat and runs away fast"
    val unrelated = "completely different content with no overlap whatsoever here today"
    Seq((1L, nearDup)).toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/b1")
    Seq((2L, unrelated), (3L, "hi")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b2")
    Seq("b1", "b2").foreach { sub =>
      new java.io.File(s"$dir/$sub").listFiles.filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$sub-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$sub"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.runToMemory(Streams.streamStaticNearDup(stream, corpus),
      "stream_neardup", org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val flags = spark.table("stream_neardup").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("near_dup_candidate"))
        .toMap
      assert(flags(1L), "near-identical doc must be flagged (LSH at s≈0.9 recalls)")
      assert(!flags(2L), "zero-overlap doc shares no shingle → no band collision")
      assert(!flags(3L), "too-short doc has no signature → never flagged")
      // differential: the identical transform in batch agrees exactly
      val batch = Streams.streamStaticNearDup(
        Seq((1L, nearDup), (2L, unrelated), (3L, "hi")).toDF("doc_id", "text"),
        corpus).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("near_dup_candidate"))
        .toMap
      assert(batch == flags)
    } finally q.stop()
  }

  test("dedup-within-watermark: nearby dupes dropped, state evicted after horizon") {
    import org.apache.spark.sql.types._
    val dir = "target/tmp/stream_dedup_wm"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Pins Spark's ACTUAL eviction cadence (measured, not modeled): state
    // cleanup in batch N runs with the watermark computed at the end of
    // batch N-1 — one batch of lag. b1: doc 3 duplicates doc 1 within the
    // 10-minute horizon → dropped. b2 (12:00) advances the event-time high
    // mark, but doc 1's fingerprint is only evicted at the END of b3 (the
    // first batch that RUNS with watermark 11:50 > 10:00+10m). So doc 5
    // (13:00, duplicate text) in b3 still hits live state → dropped; doc 7
    // (14:00, same text) in b4 arrives after eviction → kept. Bounded
    // state trades long-range duplicate detection for O(horizon) state.
    Seq((1L, "alpha beta", ts("2024-01-01 10:00:00")),
        (2L, "gamma delta", ts("2024-01-01 10:05:00")),
        (3L, "alpha beta", ts("2024-01-01 10:06:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/b1")
    Seq((4L, "epsilon", ts("2024-01-01 12:00:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/b2")
    Seq((5L, "alpha beta", ts("2024-01-01 13:00:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/b3")
    Seq((7L, "alpha beta", ts("2024-01-01 14:00:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/b4")
    Seq("b1", "b2", "b3", "b4").foreach { sub =>
      new java.io.File(s"$dir/$sub").listFiles.filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$sub-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$sub"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.runToMemory(
      Streams.streamingDedupWithinWatermark(stream, "ts", "10 minutes"),
      "dedup_wm_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val kept = spark.table("dedup_wm_stream").collect().map(_.getLong(0)).sorted
      assert(kept.sameElements(Array(1L, 2L, 4L, 7L)),
        s"got: ${kept.mkString(",")}")
    } finally q.stop()
  }

  test("userRunningStats totals are bitwise slicing-invariant (cents state)") {
    prepared
    def finalTotals(src: String, maxFiles: Int): Map[Long, Double] = {
      val name = s"stats_inv_$maxFiles"
      val q = Streams.runToMemory(
        Streams.userRunningStats(
          Streams.readEventsStream(spark, src, maxFiles)).toDF(),
        name, OutputMode.Update())
      try {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("n_events").desc)
        spark.table(name)
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      } finally q.stop()
    }
    val sliced = finalTotals(streamDir, 1) // 3 micro-batches
    val whole = finalTotals(streamDir, 3)  // single micro-batch
    assert(sliced == whole, "cents-long state must be slicing-invariant")
    // and exactly equal to the batch decimal sum
    val batch = batchEvents.groupBy("user_id")
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double").as("tot"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sliced == batch)
  }

  test("session windows, append mode: late rows below watermark are dropped") {
    import org.apache.spark.sql.types._
    val dir = "target/tmp/stream_sess_late"
    if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 30-min gap sessions, 1-hour watermark. Pins Spark's ACTUAL late-data
    // semantics (measured — they defied the naive model): session_window
    // applies NO row-level late filter. b3's 12:00 row arrives "late"
    // (watermark is already 14:00 from b2) yet is still admitted, forms
    // its own session, and is finalized/emitted as soon as the watermark
    // passes its close. Late data only disappears when it would need to
    // MERGE into an already-evicted session; a disjoint late session
    // passes through. Downstream consumers must therefore tolerate
    // out-of-order session emission — watermark ordering is not arrival
    // ordering.
    Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b1")
    Seq((1L, ts("2024-01-01 15:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b2")
    Seq((1L, ts("2024-01-01 12:00:00")), (1L, ts("2024-01-01 16:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b3")
    Seq((1L, ts("2024-01-01 20:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b4")
    Seq("b1", "b2", "b3", "b4").foreach { sub =>
      new java.io.File(s"$dir/$sub").listFiles.filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$sub-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$sub"))
    }
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.runToMemory(Streams.sessions(stream),
      "sess_late_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val emitted = spark.table("sess_late_stream")
        .collect()
        .map(r => (r.getTimestamp(1).toString, r.getLong(2)))
        .sortBy(_._1)
      val expected = Array(
        ("2024-01-01 10:00:00.0", 2L), // b1's 2-event session
        ("2024-01-01 12:00:00.0", 1L), // b3's LATE row: admitted, own session
        ("2024-01-01 15:00:00.0", 1L), // b2's singleton
        ("2024-01-01 16:00:00.0", 1L)) // b3's on-time row
      assert(emitted.sameElements(expected),
        s"pinned session_window late semantics changed; got: ${emitted.mkString(", ")}")
    } finally q.stop()
  }

  test("session windows: late-row admission uses the PREVIOUS batch's " +
       "watermark; eviction uses the current one (two-watermark model)") {
    import org.apache.spark.sql.types._
    // The measured model that explains every observed case (and the r4
    // confusion NOTES.md recorded): since the multi-stateful-operator work
    // (SPARK-39931), each batch carries TWO watermark values —
    //   lateEvents wm  = the previous batch's watermark → filters INPUT
    //   eviction wm    = the freshly advanced watermark → finalizes STATE
    // so a late row gets exactly one batch of grace: it survives iff the
    // watermark-advancing batch is the one immediately before it (its
    // filter still carries the OLD wm), and then merges into any live
    // session or forms its own. One batch later the advanced wm has
    // propagated into the filter and the same row is silently dropped —
    // in EVERY output mode (the filter sits in the session restore, ahead
    // of state; complete mode's no-eviction does not rescue it).
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    def prep(dir: String, batches: Seq[Seq[(Long, java.sql.Timestamp)]]): Unit = {
      if (new java.io.File(dir).exists) rmRf(new java.io.File(dir))
      new java.io.File(dir).mkdirs()
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b$i")
        new java.io.File(s"$dir/b$i").listFiles.filter(_.getName.endsWith(".parquet"))
          .zipWithIndex.foreach { case (f, j) =>
            java.nio.file.Files.move(f.toPath,
              java.nio.file.Paths.get(s"$dir/b$i-$j.parquet")) }
        rmRf(new java.io.File(s"$dir/b$i"))
      }
    }
    def run(dir: String, mode: String, name: String) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = Streams.sessions(stream).writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      val out = spark.table(name).collect()
        .map(r => (r.getTimestamp(1).toString, r.getLong(2))).sortBy(_._1).toSeq
      q.stop()
      out
    }
    // Case A — one-batch grace: wm advances to 14:00 in the 15:00 batch;
    // the NEXT batch's 10:20 row is filtered with the OLD wm (9:10), so
    // it is admitted and MERGES into the still-live 10:00 session (n=3).
    val graceDir = "target/tmp/stream_sess_grace"
    prep(graceDir, Seq(
      Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00"))),
      Seq((1L, ts("2024-01-01 15:00:00"))),
      Seq((1L, ts("2024-01-01 10:20:00"))),
      Seq((1L, ts("2024-01-01 20:00:00")))))
    assert(run(graceDir, "append", "sess_grace_a") ==
      Seq(("2024-01-01 10:00:00.0", 3L), ("2024-01-01 15:00:00.0", 1L)))
    assert(run(graceDir, "complete", "sess_grace_c") ==
      Seq(("2024-01-01 10:00:00.0", 3L), ("2024-01-01 15:00:00.0", 1L),
          ("2024-01-01 20:00:00.0", 1L)))
    // Case B — grace expired: the wm-advancing 15:00 batch comes FIRST;
    // by the time the 10:xx rows arrive the 14:00 wm has propagated into
    // the input filter. The 10:00/10:10 batch still slips through (its
    // filter carries the initial wm), but the third batch's 10:20 row is
    // dropped — even in complete mode, where its 10:00 session is STILL
    // LIVE in state and a merge would otherwise be possible.
    val expiredDir = "target/tmp/stream_sess_expired"
    prep(expiredDir, Seq(
      Seq((1L, ts("2024-01-01 15:00:00"))),
      Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00"))),
      Seq((1L, ts("2024-01-01 10:20:00")))))
    assert(run(expiredDir, "append", "sess_exp_a") ==
      Seq(("2024-01-01 10:00:00.0", 2L)))   // 15:00 never finalizes
    assert(run(expiredDir, "complete", "sess_exp_c") ==
      Seq(("2024-01-01 10:00:00.0", 2L), ("2024-01-01 15:00:00.0", 1L)))
  }

  test("stream-stream attribution join == batch join (3 micro-batches)") {
    prepared
    def clicks(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "click")
    def purchases(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase")
    val stream = Streams.readEventsStream(spark, streamDir)
    val q = Streams.runToMemory(
      Streams.attributionJoin(clicks(stream), purchases(stream)),
      "attr_stream", OutputMode.Append())
    try {
      val streamed = spark.table("attr_stream")
        .select("purchase_id", "click_id").collect().map(_.toString).sorted
      val batch = Streams.attributionJoin(
          clicks(batchEvents), purchases(batchEvents))
        .select("purchase_id", "click_id").collect().map(_.toString).sorted
      assert(streamed.nonEmpty && streamed.sameElements(batch),
        s"stream-stream join diverged: ${streamed.length} vs ${batch.length} rows")
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates across micro-batches") {
    prepared
    val q = Streams.runToMemory(
      Streams.userRunningStats(Streams.readEventsStream(spark, streamDir)).toDF(),
      "state_stream", OutputMode.Update())
    try {
      // Update mode: keep the LAST emitted row per user (final state).
      val finalRows = spark.table("state_stream")
        .groupBy("user_id").agg(max("n_events").as("n_events"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = batchEvents.groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(finalRows == batch)
    } finally q.stop()
  }

  test("streaming semantic-dedup ingest: micro-batch-maintained index == " +
       "one-shot direct-rule verdicts of the full corpus") {
    import org.apache.spark.sql.types._
    import graft.similarity.Similarity
    val emb = graft.Tables.embeddings(spark, sf)
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    // the index stands on the historical first third...
    val srcBase = java.nio.file.Files.createTempDirectory("sdd_base").toString
    emb.filter(col("vec_id") < cut1)
      .write.parquet(s"$srcBase/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("sdd_stream").toString
    val root = s"$base/idx"
    Similarity.semDeDupIngest(spark, srcBase, root)
    // ...and the stream delivers the rest in two id-ordered micro-batches
    // (arrival order IS the dedup order — the direct rule's semantics)
    val dir = s"$base/arrivals"
    new java.io.File(dir).mkdirs()
    Seq((emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2), "w1"),
        (emb.filter(col("vec_id") >= cut2), "w2")).foreach { case (df, w) =>
      df.coalesce(1).write.parquet(s"$dir/$w")
      new java.io.File(s"$dir/$w").listFiles
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
          case (f, i) => java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$w-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$w"))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.streamingSemDedupIngest(stream, root, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "keep").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
    // base ingest + two streamed appends == the one-shot direct rule
    // over the whole corpus, verdict-for-verdict
    assert(rows(Similarity.semDeDupIndex(spark, root)) ==
      rows(Similarity.semDeDupDirect(emb)))
  }

  test("streaming IVF-PQ ingest: micro-batch-maintained codes == the " +
       "batch append twin, and a checkpoint replay appends nothing") {
    import org.apache.spark.sql.types._
    import graft.similarity.IvfPq
    val emb = graft.Tables.embeddings(spark, sf)
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    // both roots train on the SAME base corpus (deterministic training +
    // encode, pinned by PqSpec/SimilaritySpec) — one is maintained by
    // the stream, the other by one batch append
    val srcBase = java.nio.file.Files.createTempDirectory("ivfs_base").toString
    emb.filter(col("vec_id") < cut1)
      .write.parquet(s"$srcBase/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("ivfs_stream").toString
    val (rootS, rootB) = (s"$base/idxS", s"$base/idxB")
    IvfPq.ivfPqIngest(spark, srcBase, rootS)
    IvfPq.ivfPqIngest(spark, srcBase, rootB)
    val rest = emb.filter(col("vec_id") >= cut1)
    IvfPq.ivfPqAppend(rest, rootB)
    // the stream delivers the rest as two micro-batches
    val dir = s"$base/arrivals"
    new java.io.File(dir).mkdirs()
    Seq((emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2), "w1"),
        (emb.filter(col("vec_id") >= cut2), "w2")).foreach { case (df, w) =>
      df.coalesce(1).write.parquet(s"$dir/$w")
      new java.io.File(s"$dir/$w").listFiles
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
          case (f, i) => java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/$w-$i.parquet")) }
      rmRf(new java.io.File(s"$dir/$w"))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.streamingIvfPqIngest(stream, rootS, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    def codes(root: String) = spark.read.parquet(root)
      .collect().map(_.toString).sorted.toSeq
    assert(codes(rootS) == codes(rootB),
      "stream-built codes must equal the batch-append twin row-for-row")
    // replay: a fresh stream over the SAME files and checkpoint has no
    // new data; and even a forced re-delivery appends nothing, because
    // the append is presence-keyed
    val (_, _, nBefore) = IvfPq.ivfPqAppend(rest, rootS)
    assert(codes(rootS) == codes(rootB) && nBefore == ids.length.toLong,
      "re-delivered batch must be a no-op (presence dedup)")
  }
}
