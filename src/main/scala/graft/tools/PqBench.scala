package graft.tools

import graft.Sessions
import graft.similarity.Pq
import org.apache.spark.sql.GraftBridge

/** Split-phase PQ benchmark: times q122's INGEST (codebook train + corpus
  * encode + codes write) apart from its QUERY (ADC scan over the standing
  * codes + shortlist re-rank). The registered q122 bench row prices the
  * honest ingest+query total ON FIRST CALL and the standing-reuse path
  * thereafter (ops.Standing, r10); this probe exists because the
  * production hot path is the query side alone, and a regression there
  * would otherwise hide inside training noise ~10× its size. Query is
  * timed over `reps` repetitions (it is sub-second at small sf; the mean
  * of a warm loop is the stable number) after one warm pass of each
  * phase. The ingest timing deletes the validity marker first — without
  * that, the standing index would make the "timed ingest" a no-op — and
  * the marker-reuse path is timed as its own row.
  *
  * Batch sweep (r10): for each Q in `sweepQs`, times ONE adcTopKBatch
  * scan answering Q queries, with shuffle bytes and the in-plan
  * shortlist_pairs counter — the numbers that pin the q126 claim that
  * the post-scan shuffle tracks O(Q × k·refine) while the scan cost
  * stays flat. The singles baseline is measured once per run as a
  * per-query mean over `singlesSample` queries (running 256 literal
  * singles would cost minutes and add no information).
  *
  * Usage: runMain graft.tools.PqBench <sfDir> [reps] [sweepQs e.g. 4,16,64,256] [maxChunk]
  * `maxChunk` overrides the chunking ceiling for the sweep (e.g. 1024 =
  * force ONE plan per Q — the r12 explode-first A/B). Prints one JSON
  * line for the split phases, then one per sweep Q.
  */
object PqBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val sweepQs: Seq[Int] =
      if (args.length > 2) args(2).split(",").toSeq.map(_.trim.toInt)
      else Seq(4)
    val maxChunk =
      if (args.length > 3) args(3).toInt else graft.Tuning.AdcBatchMaxQ
    val spark = Sessions.local()
    val metrics = new QueryProbe.TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def ms(v: Double): Double = math.rint(v * 1000) / 1000
    // warm: JIT + codegen + parquet footers, same discipline as Bench
    val (warm, _) = time(Pq.pqIngest(spark, sfDir))
    Pq.pqQuery(spark, sfDir, warm._3, warm._1, warm._2).count()
    // standing reuse path: marker valid → no Spark job at all
    val (_, reuseSec) = time(Pq.pqIngest(spark, sfDir))
    // true rebuild timing: drop the marker so the ingest actually runs
    new java.io.File(warm._3, "_GRAFT_VALID").delete()
    val ((books, n, root), ingestSec) = time(Pq.pqIngest(spark, sfDir))
    val queryTimes = (1 to reps).map { _ =>
      time(Pq.pqQuery(spark, sfDir, root, books, n).count())._2
    }
    val querySec = queryTimes.sum / reps
    println(s"""{"metric":"pq_split","sf":"$sfDir","n_vectors":$n,""" +
      s""""pq_ingest_sec":${ms(ingestSec)},"pq_reuse_sec":${ms(reuseSec)},""" +
      s""""pq_query_sec":${ms(querySec)},""" +
      s""""query_reps":$reps,"query_min_sec":${ms(queryTimes.min)},""" +
      s""""query_max_sec":${ms(queryTimes.max)}}""")

    // batched amortization sweep: ONE codes scan answering Q queries vs
    // the per-query singles baseline — the numbers behind q126.
    val emb = graft.Tables.embeddings(spark, sfDir)
    val codes = Pq.pqCodes(spark, root)
    // singles baseline: per-query mean over a fixed sample, once
    val singlesSample = 4
    val sampleIds = (0L until singlesSample.toLong)
    sampleIds.foreach(q => // warm
      Pq.adcTopKOnCodes(codes, emb, q, 10, books, corpusSize = n).count())
    val singlesPer = (1 to reps).map { _ =>
      time(sampleIds.foreach(q =>
        Pq.adcTopKOnCodes(codes, emb, q, 10, books, corpusSize = n)
          .count()))._2
    }.sum / reps / singlesSample
    for (qn <- sweepQs) {
      val qIds = (0L until qn.toLong).toSeq
      val run = () => {
        val df = Pq.adcTopKBatch(codes, emb, qIds, 10, books,
          corpusSize = n, maxChunk = maxChunk)
        df.collect() // collect: the observe lands on THIS QE (not count's)
        // sum across chunk-indexed observations (pq_batch / pq_batch_cN)
        val sp = df.queryExecution.observedMetrics.collect {
          case (nm, row) if nm.startsWith("pq_batch") => row.getLong(0)
        }
        if (sp.isEmpty) -1L else sp.sum
      }
      run() // warm (codegen of the Q-wide projection)
      var shortlistPairs = -1L
      val batchTimes = (1 to reps).map { _ =>
        metrics.reset()
        val (sp, sec) = time(run())
        shortlistPairs = sp
        sec
      }
      GraftBridge.drainListenerBus(spark)
      val batchSec = batchTimes.sum / reps
      println(s"""{"metric":"pq_batch_sweep","sf":"$sfDir","n_vectors":$n,""" +
        s""""q":$qn,"max_chunk":$maxChunk,"batch_sec":${ms(batchSec)},""" +
        s""""batch_min_sec":${ms(batchTimes.min)},""" +
        s""""singles_per_query_sec":${ms(singlesPer)},""" +
        s""""singles_est_sec":${ms(singlesPer * qn)},""" +
        s""""shortlist_pairs":$shortlistPairs,""" +
        s""""shuffle_rd":${metrics.shuffleRead},""" +
        s""""shuffle_wr":${metrics.shuffleWrite}}""")
    }
    spark.stop()
  }
}
