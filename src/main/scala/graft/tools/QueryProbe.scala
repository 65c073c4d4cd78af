package graft.tools

import graft.{Sessions, SparkEntry}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftBridge

/** Ad-hoc probe: run the NAMED registry queries against a testdata dir,
  * once warm + once timed, printing per-query seconds PLUS the task-metric
  * totals that actually pin a query's scale behavior — shuffle read/write
  * bytes, spill, and input bytes — and one wall/cpu/gc/tasks line per
  * stage. Wall time on a shared box swings ±2.5×
  * (BENCHMARKS.md), but shuffle BYTES are deterministic for a fixed plan
  * and dataset, so "does work grow linearly in sf?" is answered here, not
  * by the clock. The rig for isolating one query's regression or scaling
  * law without paying a full Bench pass.
  *
  * Usage: runMain graft.tools.QueryProbe <sfDir> q108_bpe_train[,q112...] [reps]
  */
object QueryProbe {

  /** Sums task metrics across all tasks between resets. Queries run
    * sequentially on the driver thread but task-end events arrive on the
    * listener bus thread, so counters synchronize on the instance; read
    * them after `GraftBridge.drainListenerBus`, which waits until every
    * event of the finished action has been delivered. */
  final class TaskMetricsListener extends SparkListener {
    var shuffleRead, shuffleWrite, spillDisk, spillMem, input, tasks = 0L
    /** (stageId, name-head, wall ms, Σ task cpu ms, Σ task run ms, ntasks) —
      * per-stage attribution: a query slow with tiny shuffle is diagnosed
      * here (which STAGE burns the time, and is it cpu or scheduling). */
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val wall = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
      // taskMetrics is null for skipped/failed stages; an NPE here would be
      // swallowed by the listener bus (logged + dropped), silently losing
      // the stage line. Emit -1 markers instead.
      val tm = Option(si.taskMetrics)
      val cpuMs = tm.map(_.executorCpuTime / 1000000).getOrElse(-1L)
      val runMs = tm.map(_.executorRunTime).getOrElse(-1L)
      // gc splits run−cpu into collector pauses vs lock/IO blocking — the
      // two have opposite fixes (allocation rate vs contention).
      val gcMs = tm.map(_.jvmGCTime).getOrElse(-1L)
      stages += f"    stage=${si.stageId}%-4d wall=${wall}ms cpu=${cpuMs}ms run=${runMs}ms gc=${gcMs}ms tasks=${si.numTasks} ${si.name.takeWhile(_ != '\n').take(60)}"
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spillDisk += m.diskBytesSpilled
        spillMem += m.memoryBytesSpilled
        input += m.inputMetrics.bytesRead
        tasks += 1
      }
    }
    def reset(): Unit = synchronized {
      shuffleRead = 0; shuffleWrite = 0; spillDisk = 0; spillMem = 0
      input = 0; tasks = 0; stages.clear()
    }
    def line: String = synchronized {
      f"tasks=$tasks shuffle_rd=$shuffleRead shuffle_wr=$shuffleWrite " +
        f"input=$input spill_mem=$spillMem spill_disk=$spillDisk"
    }
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q108_bpe_train", "q112_bpe_encode"))
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Sessions.local("graft-probe")
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      for (r <- 1 to reps) {
        metrics.reset()
        val t0 = System.nanoTime()
        val cnt = fn(spark, d).count()
        val sec = (System.nanoTime() - t0) / 1e9
        GraftBridge.drainListenerBus(spark)
        println(f"PROBE $n rep=$r rows=$cnt sec=$sec%.2f ${metrics.line}")
        metrics.synchronized(metrics.stages.foreach(println))
      }
    }
    spark.stop()
  }
}
