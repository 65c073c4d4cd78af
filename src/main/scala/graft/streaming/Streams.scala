package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface: file-source ingestion, watermarked
  * event-time windows, built-in session windows, and custom keyed state
  * via mapGroupsWithState.
  *
  * The reference has no streaming (SURVEY §2.7); this is north-star
  * surface. Design: every streaming transform here is a pure
  * `DataFrame → DataFrame` usable in batch too — the streaming/batch
  * differential spec (StreamingSpec) runs the same transform both ways
  * over the same events and requires identical results.
  *
  * At scale: file-source streams read new parquet as it lands (the
  * training-data ingestion pattern); watermarks bound state; session/
  * window aggregations shuffle once on (key, window).
  */
object Streams {

  /** events parquet schema for the file stream source (ts is TIMESTAMP
    * (NANOS) on disk → read as long, converted below). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of events parquet files.
    * `maxFilesPerTrigger=1` → one micro-batch per file (lets tests drive
    * real multi-batch state evolution). */
  def readEventsStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(eventsRawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  /** Watermarked tumbling-window counts per event_type. */
  def windowedCounts(events: DataFrame,
                     watermark: String = "1 hour",
                     windowLen: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // decimal sum → the incremental streaming state merge is exact and
      // therefore bitwise-equal to the batch twin regardless of batch
      // slicing (a double buffer would drift in the last ulp).
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("window_start"),
              col("event_type"), col("n"), col("sum_value"))

  /** Built-in session windows: 30-minute-gap sessions per user — the
    * streaming twin of queries.Extra.q42Sessionize. One stateful
    * aggregation emitting session-level rows; roll up per-user downstream
    * (chaining a second stateful agg would trip Spark's global-watermark
    * correctness check). */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
              col("n_events"))

  /** Streaming exact dedup: keep the first arrival per content
    * fingerprint across micro-batches (stateful dropDuplicates).
    * NOTE: fingerprint state is NEVER evicted in this form — global
    * first-wins semantics costs unbounded state on an unbounded stream.
    * For long-running ingestion use [[streamingDedupWithinWatermark]],
    * which bounds state at the cost of only catching duplicates that
    * arrive within the watermark horizon of each other. */
  def streamingDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fp", md5(col(textCol))).dropDuplicates("fp").drop("fp")

  /** Bounded-state streaming dedup: duplicates are dropped only if they
    * arrive within `watermark` (event-time) of the first copy — fingerprint
    * state is evicted once the watermark passes, so state size is
    * O(arrival rate × horizon), not O(stream length). This is the shape
    * that survives an unbounded 100 TB/day ingest; pair it with a periodic
    * batch `Dedup.dedupAgainst` sweep for the long-range duplicates. */
  def streamingDedupWithinWatermark(docs: DataFrame, tsCol: String,
                                    watermark: String = "1 hour",
                                    textCol: String = "text"): DataFrame =
    docs.withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")

  /** Stream-stream attribution join: each purchase matched to every click
    * by the same user within the preceding `attribution` window — the ad-
    * attribution shape. Works identically in batch (the differential spec
    * runs both). In streaming, the watermarks + the time-range predicate
    * are what let Spark bound join state: click state is droppable once
    * the watermark passes click_ts + attribution; without the range
    * condition the state store would grow forever. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      attribution: String = "30 minutes",
                      watermark: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermark)
    c.join(p, expr(
      s"""c_user = p_user AND
          purchase_ts >= click_ts AND
          purchase_ts <= click_ts + INTERVAL $attribution"""))
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"), col("purchase_ts"), col("click_ts"))
  }

  /** Stream-static dedup: incoming streamed documents anti-joined against
    * a STATIC historical fingerprint table — the ingest-vs-lake shape of a
    * continuous training-data pipeline (the streaming twin of
    * [[graft.dedup.Dedup.dedupAgainst]]). A stream-static left_anti join
    * is stateless on the stream side: each micro-batch probes the static
    * side and emits, nothing accumulates — so this composes freely with
    * the stateful in-stream dedup ([[streamingDedupWithinWatermark]]
    * upstream for intra-stream copies, this join for against-history
    * copies). At 100 TB the static side is a bucketed fingerprint table
    * (or [[graft.dedup.Dedup.bloomDedup]]'s bloom prefilter) rather than
    * a broadcast. */
  def streamStaticDedup(docs: DataFrame, corpusFps: DataFrame,
                        textCol: String = "text"): DataFrame =
    docs.withColumn("fp", md5(col(textCol)))
      .join(corpusFps, Seq("fp"), "left_anti")
      .drop("fp")

  /** Stream-static NEAR-dup candidate filter: incoming streamed documents
    * flagged when any MinHash LSH band key might collide with the static
    * corpus index — the approximate twin of [[streamStaticDedup]] (which
    * only catches byte-exact copies).
    *
    * Streaming shape: everything on the stream side is map-only (tokenize
    * → minhash signature → band keys as an ARRAY column → bloom probe per
    * element), so it is stateless and legal in any output mode — no
    * explode-then-regroup, which would need stateful aggregation. The
    * static side is collapsed to a bloom filter over its band keys before
    * the stream starts (the [[graft.dedup.Dedup.bloomDedup]] discipline):
    * blooms have NO false negatives, so every true LSH candidate is
    * flagged — false positives only send extra docs to the downstream
    * exact verify, never drop clean ones silently. At 100 TB the bloom is
    * a few GB broadcast once per index refresh, and the stream never
    * shuffles.
    *
    * The bloom is sized from the MEASURED distinct band-key count (one
    * extra pass over the already-computed key set), not a guessed
    * constant: an undersized filter drives the false-positive rate toward
    * 1 and silently flags nearly every streamed doc — safe but useless.
    * Pass `expectedItems > 0` to skip the measuring pass when the caller
    * already knows the cardinality (e.g. from the index build). */
  def streamStaticNearDup(docs: DataFrame, corpusDocs: DataFrame,
                          expectedItems: Long = 0L,
                          fpp: Double = 0.01): DataFrame = {
    import graft.dedup.Dedup
    val keys = Dedup.corpusBandKeys(corpusDocs).persist()
    val n = if (expectedItems > 0) expectedItems else math.max(keys.count(), 1L)
    // native bloom_filter_agg / might_contain (band keys are already
    // longs): the per-row membership probe is a Catalyst expression, not
    // a serialized Scala closure — the same r9 change as Dedup.bloomDedup
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    // capacity raise scoped to a session clone (exprs scaladoc).
    // BROADCAST transport since r14: the "few GB broadcast once per
    // index refresh" promise above was literal-transport in code — the
    // sketch bytes rode every micro-batch task binary. Now the handle
    // rides the plan and the bytes ship once per executor, surviving
    // across triggers for the stream's lifetime. Same probe decisions
    // (identical sketch bytes, same mightContainLong).
    val bfBc = graft.functions.exprs.bloomSketchBroadcast(
      keys, col("band_key"), n, numBits)
    keys.unpersist()
    val flag =
      if (bfBc == null) lit(false) // empty corpus: no candidates
      else exists(col("band_keys"),
        k => graft.functions.exprs.bloomMightContainBc(bfBc, k))
    Dedup.withBandKeys(docs)
      .withColumn("near_dup_candidate", col("has_sig") && flag)
      .drop("band_keys", "has_sig")
  }

  case class CappedDoc(doc_id: Long, source: String, rk: Long)

  /** Streaming per-host admission cap — the INGEST-side twin of the batch
    * per-host cap (Curation.capPerGroup / q105) via flatMapGroupsWithState:
    * at most `cap` documents are ever emitted per source host, and each
    * carries its admission rank.
    *
    * Semantics: within one micro-batch a host's rows are admitted in the
    * batch operator's deterministic order (md5(text), doc_id); across
    * batches admission is first-come-first-served — a stream cannot rank
    * against future arrivals, so WHICH docs fill the cap depends on
    * arrival order, but the cap itself is exact and already-admitted docs
    * are never revoked (ranks are append-stable). When all data shares
    * one trigger this equals the batch operator row-for-row
    * (StreamingSpec's differential).
    *
    * 100 TB design: state per host is ONE long (the admitted count) —
    * O(#hosts) total, no doc content retained; the per-trigger sort is
    * over a single host's rows within one micro-batch, bounded by trigger
    * size, not history. flatMapGroupsWithState (not mapGroups…) because
    * admission emits 0..cap rows per (host, trigger), not exactly one. */
  def streamingHostCap(docs: DataFrame, cap: Int): Dataset[CappedDoc] = {
    val spark2 = docs.sparkSession
    import spark2.implicits._
    docs.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .as[(Long, String, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (host: String, rows: Iterator[(Long, String, String)],
         state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val take = rows.toSeq.sortBy(r => (r._3, r._1))
            .take(math.max(0, cap - admitted).toInt)
          if (take.nonEmpty) state.update(admitted + take.size)
          take.iterator.zipWithIndex.map { case (r, i) =>
            CappedDoc(r._1, host, admitted + i + 1) }
      }
  }

  case class Admission(doc_id: Long, fp: String)

  /** First-seen gate whose per-fingerprint ValueState carries a TTL:
    * Spark evicts the entry `ttl` of processing time after the update, so
    * a duplicate arriving later than the horizon is re-admitted — and,
    * crucially, total state is bounded by one horizon's arrival volume. */
  private class FirstSeenTtl(ttl: java.time.Duration)
      extends StatefulProcessor[String, (Long, String), Admission] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig(ttl))
    override def handleInputRows(fp: String, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[Admission] =
      if (seen.exists() || rows.isEmpty) Iterator.empty
      else {
        seen.update(true)
        // deterministic within a trigger: lowest doc_id wins the slot
        Iterator.single(Admission(rows.map(_._1).min, fp))
      }
  }

  /** TTL-expiring streaming dedup via `transformWithState` — Spark 4's
    * arbitrary-state API over the RocksDB state store. First arrival per
    * content fingerprint is admitted; duplicates are dropped while the
    * fingerprint's state lives; the state self-expires after `ttl` of
    * processing time.
    *
    * This is the state-LIFECYCLE upgrade of the other two dedup shapes:
    * [[streamingDedup]] is exact forever but its state grows with corpus
    * lifetime; [[streamingDedupWithinWatermark]] bounds state by an
    * EVENT-time horizon (needs a timestamp column and a watermark); this
    * one bounds state by a WALL-clock horizon with no timestamp column at
    * all — the "don't re-ingest what we saw this week" contract of a
    * crawler front-end, at O(horizon arrival volume) state on RocksDB
    * (spills to disk, not executor heap).
    *
    * Run with `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (transformWithState requires it).
    *
    * Lifecycle caveat (measured): a TimeMode.ProcessingTime query never
    * self-terminates — the operator requests a follow-up batch after
    * EVERY batch to advance its clock, so `Trigger.AvailableNow` keeps
    * scheduling no-data batches and `awaitTermination` blocks forever.
    * Callers own the stop: consume the sink, then `query.stop()`. */
  def streamingDedupTtl(docs: DataFrame,
                        ttl: java.time.Duration): Dataset[Admission] = {
    val spark2 = docs.sparkSession
    import spark2.implicits._
    docs.select(col("doc_id"), md5(col("text")).as("fp")).as[(Long, String)]
      .groupByKey(_._2)
      .transformWithState(new FirstSeenTtl(ttl), TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state: running per-user totals via mapGroupsWithState —
    * order-insensitive state merge. State carries the total in CENTS
    * (long) per the repo's decimal discipline ([[graft.Num]]): the merge
    * is exact, so results are bitwise-identical under any batch slicing
    * (a raw double buffer could drift in the last ulp). */
  def userRunningStats(events: DataFrame): Dataset[UserStats] = {
    val spark2 = events.sparkSession
    import spark2.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Long)]) =>
          var n = 0L
          var cents = 0L
          rows.foreach { r => n += 1; cents += math.round(r._2 * 100) }
          val (pn, pc) = state.getOption.getOrElse((0L, 0L))
          val next = (pn + n, pc + cents)
          state.update(next)
          UserStats(uid, next._1, next._2 / 100.0)
      }
  }

  /** Run any streaming DataFrame to a named in-memory table and process
    * everything currently available (synchronous local smoke). */
  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q
  }

  /** Streaming maintenance of the standing gram index: every micro-batch
    * of incoming documents appends its postings partition-wise and its df
    * PARTIAL to the sidecar via [[graft.dedup.Dedup.gramIndexAppend]] —
    * the ingest-side twin of the batch curation pass, so the index the
    * gram consumers (q62/q87/q119/q125 shapes) read is never more than
    * one trigger stale. `foreachBatch` is the right operator here (not a
    * parquet sink): one batch feeds TWO sinks (postings + df sidecar)
    * from one tokenize pass, which a single-sink stream can't express.
    * Exactly-once: the foreachBatch batchId keys the append, and
    * [[graft.dedup.Dedup.gramIndexAppend]] is IDEMPOTENT per id (each
    * batch overwrites its own subdirectory of both sinks; a committed
    * batch is skipped) — so a micro-batch replayed from the checkpoint
    * after recovery, or a crash between the two sink writes, can neither
    * double-append nor leave postings without their df partial. The spec
    * pins stream-built index == batch-built index, and DedupSpec pins
    * replay idempotency + partial-crash repair directly. */
  def streamingGramIngest(docs: DataFrame, root: String,
                          checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.dedup.Dedup.gramIndexAppend(batch, root, batchId = batchId)
      }
      .start()

  /** Streaming maintenance of the standing SHINGLE index — the
    * [[streamingGramIngest]] twin for the similarity-join family
    * (q31/q103/q127 shapes): every micro-batch tokenizes + shingles its
    * documents once and appends (doc_id, hs, n) via
    * [[graft.dedup.Dedup.shingleIndexAppend]], so the index the
    * similarity consumers read is never more than one trigger stale.
    * Single sink (no df sidecar — set sizes ride each row), so plain
    * foreachBatch + the batchId-keyed idempotent append give exactly-once
    * under replay for free; StreamingSpec pins stream-built ==
    * batch-built. */
  def streamingShingleIngest(docs: DataFrame, root: String,
                             checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.dedup.Dedup.shingleIndexAppend(batch, root, batchId = batchId)
      }
      .start()

  /** Streaming maintenance of the standing SEMANTIC-dedup index
    * (q134's direct rule — [[graft.similarity.Similarity.semDeDupAppend]]):
    * each micro-batch of embeddings gets its verdicts against the
    * standing corpus plus its own smaller ids, exactly as the one-shot
    * ingest would have assigned them (the direct rule is id-order-exact,
    * so stream == batch is an EQUALITY, not an approximation —
    * StreamingSpec pins it). Replays are exactly-once via the
    * batch-dir commit protocol the append already implements. The
    * stream must deliver vec_ids in nondecreasing batches (arrival
    * order IS the dedup order — the rule's semantics, not a limitation:
    * first-seen-wins). */
  def streamingSemDedupIngest(emb: DataFrame, root: String,
                              checkpoint: String): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.similarity.Similarity.semDeDupAppend(batch, root,
          batchId = batchId)
        ()
      }
      .start()

  /** Streaming maintenance of the standing IVF-PQ index — the last
    * standing index without a streaming twin through r11 (gram, shingle,
    * semdedup all had one): each micro-batch of embeddings is encoded
    * with the STANDING model (no retrain — ivfPqAppend's contract,
    * including its documented drift limits) and appended into the
    * cluster-partitioned codes table, so the index ANN queries probe is
    * never more than one trigger stale. The codes layout has no
    * per-batch subdirectory (it would break partition-discovery
    * pruning), so exactly-once under checkpoint replay comes from
    * [[graft.similarity.IvfPq.ivfPqAppend]]'s presence dedup
    * instead of the batch-dir protocol: only rows whose vec_id is not
    * already standing are appended, which replays every crash point —
    * including a torn job commit — to the one-shot result.
    * Prerequisite: a completed `ivfPqIngest` (streams extend a trained
    * model; they never train one). StreamingSpec pins stream-built ==
    * batch-built and replay no-op. */
  def streamingIvfPqIngest(emb: DataFrame, root: String,
                           checkpoint: String): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.similarity.IvfPq.ivfPqAppend(batch, root)
        ()
      }
      .start()
}
