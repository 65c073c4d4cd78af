package graft.tools

import graft.{Sessions, Tables}
import graft.streaming.Streams

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

/** Streaming-at-scale measurement rig (NOT part of the query library):
  * drives the two ingest pipelines StreamingSpec pins for correctness —
  * RocksDB TTL dedup ([[Streams.streamingDedupTtl]]) and the per-host
  * admission cap ([[Streams.streamingHostCap]]) — from a real file source
  * at a chosen sf's document volume, and prints the numbers BENCHMARKS.md's
  * streaming section records: rows/s end-to-end, micro-batch count, RocksDB
  * state rows/size, and checkpoint-recovery time (stop after wave 1,
  * restart against the same checkpoint for wave 2, verify cross-wave
  * duplicates are dropped by the RECOVERED state).
  *
  * Usage: runMain graft.tools.StreamBench [sfDir] [workDir] [filesPerTrigger]
  */
object StreamBench {

  /** Push-style progress accumulator: `recentProgress` retains only the
    * last ~100 updates, so with filesPerTrigger=1 at larger sf the
    * batch count and max-state metrics silently undercounted once a run
    * crossed 100 micro-batches. A listener sees EVERY progress event.
    * Keyed by runId, not query id — a checkpoint-recovered query keeps
    * its id across restarts, and the two waves must not share maxima. */
  private final class ProgressAccumulator extends StreamingQueryListener {
    final class Acc {
      var batches = 0
      var maxStateRows = -1L
      var maxStateMem = -1L
      var maxSst = -1L
    }
    private val byRun =
      scala.collection.concurrent.TrieMap.empty[java.util.UUID, Acc]
    def acc(runId: java.util.UUID): Acc = byRun.getOrElseUpdate(runId, new Acc)
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val a = acc(p.runId)
      a.synchronized {
        if (p.numInputRows > 0) a.batches += 1
        val ops = p.stateOperators.toSeq
        if (ops.nonEmpty) {
          a.maxStateRows = math.max(a.maxStateRows, ops.map(_.numRowsTotal).max)
          a.maxStateMem = math.max(a.maxStateMem, ops.map(_.memoryUsedBytes).max)
          // RocksDB on-disk footprint: sum every *sst* custom metric per
          // operator (the exact key differs across providers/versions)
          val sst = ops.map { o =>
            import scala.jdk.CollectionConverters._
            o.customMetrics.asScala.collect {
              case (k, v) if k.toLowerCase.contains("sst") => v.longValue }.sum
          }.max
          a.maxSst = math.max(a.maxSst, sst)
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("localdata/sf1")
    val work = args.lift(1).getOrElse("target/tmp/streambench")
    val perTrigger = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = Sessions.local("graft-stream-bench")
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val dir = new java.io.File(work)
    if (dir.exists) rmRf(dir)
    new java.io.File(s"$work/in").mkdirs()

    val srcDir = new java.io.File(s"$sfDir/documents.parquet")
    val parts = srcDir.listFiles.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length >= 2, s"need >=2 part files, got ${parts.length}")
    val (wave1, wave2) = parts.splitAt(parts.length / 2)
    val schema = spark.read.parquet(srcDir.getPath).schema

    def stage(files: Seq[java.io.File], tag: String): Unit =
      files.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$work/in/$tag-$i.parquet")) }

    def sinkCount(out: String): Long =
      try spark.read.parquet(out).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }

    val progress = new ProgressAccumulator
    spark.streams.addListener(progress)

    /** poll the sink until `expect` rows arrive; return (seconds, batches,
      * max state rows, max state bytes, rocksdb sst bytes) — the state
      * metrics come from the push-style accumulator (every micro-batch),
      * not `recentProgress` (last ~100 only). */
    def drive(q: org.apache.spark.sql.streaming.StreamingQuery, out: String,
              expect: Long): (Double, Int, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val deadline = t0 + 600L * 1000 * 1000 * 1000
      while (sinkCount(out) < expect && q.exception.isEmpty &&
             System.nanoTime < deadline) Thread.sleep(100)
      val sec = (System.nanoTime() - t0) / 1e9
      q.exception.foreach(e => sys.error(s"stream failed: $e"))
      require(sinkCount(out) == expect,
        s"sink has ${sinkCount(out)} rows, expected $expect")
      // listener delivery is async: a fixed sleep is a race on a loaded
      // box (the final micro-batch's progress event can arrive later and
      // silently understate batches/max-state). Poll the accumulator
      // until its batch count stops moving for a grace period — the
      // QueryProbe quiescence pattern, capped at 10 s as a safety valve.
      val a = progress.acc(q.runId)
      var last = -1
      var stableMs = 0
      var waitedMs = 0
      while (stableMs < 600 && waitedMs < 10000) {
        val cur = a.synchronized(a.batches)
        if (cur == last) stableMs += 150 else { stableMs = 0; last = cur }
        Thread.sleep(150)
        waitedMs += 150
      }
      a.synchronized { (sec, a.batches, a.maxStateRows, a.maxStateMem, a.maxSst) }
    }

    // ---- pipeline 1: RocksDB TTL dedup, two waves + checkpoint recovery
    val in = s"$work/in"; val out1 = s"$work/out_dedup"; val ckpt1 = s"$work/ckpt_dedup"
    def docsStream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(in)
    def startDedup() = Streams.streamingDedupTtl(docsStream(),
        java.time.Duration.ofHours(1)).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("parquet")
      .option("path", out1).option("checkpointLocation", ckpt1).start()

    def distinctFps(files: Seq[java.io.File]): Long =
      spark.read.parquet(files.map(_.getPath): _*)
        .select(md5(col("text"))).distinct().count()

    stage(wave1, "w1")
    val w1Rows = spark.read.parquet(wave1.map(_.getPath): _*).count()
    val w1Expect = distinctFps(wave1)
    val q1 = startDedup()
    val (w1Sec, w1Batches, w1StateRows, w1StateMem, w1Sst) =
      try drive(q1, out1, w1Expect) finally q1.stop()
    println(f"STREAM dedup_ttl wave=1 rows_in=$w1Rows admitted=$w1Expect " +
      f"sec=$w1Sec%.2f rows_per_sec=${w1Rows / w1Sec}%.0f batches=$w1Batches " +
      f"state_rows=$w1StateRows state_mem=$w1StateMem rocksdb_sst=$w1Sst")

    // recovery: restart against the same checkpoint for wave 2; admissions
    // must equal distinct fps of BOTH waves (cross-wave dups dropped by the
    // RECOVERED RocksDB state, TTL >> run time)
    stage(wave2, "w2")
    val allExpect = distinctFps(parts.toSeq)
    val w2Rows = spark.read.parquet(wave2.map(_.getPath): _*).count()
    val tRestart = System.nanoTime()
    val q2 = startDedup()
    val (w2Sec, w2Batches, w2StateRows, w2StateMem, w2Sst) =
      try drive(q2, out1, allExpect) finally q2.stop()
    val restartSec = (System.nanoTime() - tRestart) / 1e9
    println(f"STREAM dedup_ttl wave=2(recovered) rows_in=$w2Rows " +
      f"admitted_total=$allExpect restart_to_done_sec=$restartSec%.2f " +
      f"drive_sec=$w2Sec%.2f rows_per_sec=${w2Rows / w2Sec}%.0f " +
      f"batches=$w2Batches state_rows=$w2StateRows state_mem=$w2StateMem " +
      f"rocksdb_sst=$w2Sst")
    val crossWaveDropped = w1Expect + distinctFps(wave2) - allExpect
    println(s"STREAM dedup_ttl cross_wave_dups_dropped_by_recovered_state=$crossWaveDropped")

    // ---- pipeline 2: per-host admission cap (one long state per host)
    val out2 = s"$work/out_cap"; val ckpt2 = s"$work/ckpt_cap"
    val cap = 100
    val allRows = Tables.documents(spark, sfDir)
    val capExpect = allRows.groupBy("source").count()
      .agg(sum(least(col("count"), lit(cap.toLong)))).head.getLong(0)
    val nHosts = allRows.select("source").distinct().count()
    val totalRows = allRows.count()
    val q3 = Streams.streamingHostCap(docsStream(), cap).toDF()
      .writeStream.outputMode(OutputMode.Append()).format("parquet")
      .option("path", out2).option("checkpointLocation", ckpt2).start()
    val (capSec, capBatches, capStateRows, capStateMem, capSst) =
      try drive(q3, out2, capExpect) finally q3.stop()
    println(f"STREAM host_cap rows_in=$totalRows admitted=$capExpect " +
      f"hosts=$nHosts sec=$capSec%.2f rows_per_sec=${totalRows / capSec}%.0f " +
      f"batches=$capBatches state_rows=$capStateRows state_mem=$capStateMem " +
      f"rocksdb_sst=$capSst")

    spark.stop()
  }

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmRf))
    f.delete()
  }
}
