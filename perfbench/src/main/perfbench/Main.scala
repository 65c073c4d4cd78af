package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. Sets up once (a session, the workload's inputs
  * and one untimed, checked warm pass), runs untimed passes for
  * [[WarmUpS]], then the timed closed loop for `--seconds`, and prints one
  * JSON line:
  * attempted/failed counts, every metric it measured and a detail record.
  * With `--trace 1` the window's even passes are traced and its odd passes
  * are not, and the kernels are timed after it, for the per-layer metrics.
  *
  * Args: --workload --seed --seconds --trace --spec --expected --data
  * --work --cores; optionally --spans <file> to write the traced run's spans
  * and --record <file> to write the fingerprints of the workload's ops
  * instead of checking them. */
object Main {

  /** Untimed passes after set-up. On `mix` a pass still gets faster for
    * about 25 s after set-up as the JIT reaches the driver's planning paths;
    * a window that opened at once would sit on that slope, and how far down
    * it got would depend on the host's speed twice over. */
  val WarmUpS = 10.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val w = Spec.load(a("spec")).getOrElse(name, sys.error(s"unknown workload $name"))
    val stored = Spec.loadExpected(a("expected"))
    val data = a("data")

    if (a.contains("record")) return record(w, data, seed, cores, work, stored, a("record"))

    // set-up: from JVM start (class loading, the first JIT and the session
    // included) to the end of the warm pass
    val spark = graft.Sessions.local("perfbench", cores)
    val wl = new Workload(spark, w, data, seed, s"$work/session")
    val expected = stored ++ wl.expectedStreams
    val run: (Op, Int) => Sample = (op, p) => Loop.attempt(op, p, expected.get)
    val warm = wl.passOps(0).map(run(_, 0))
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    phase("setup")
    val warmUp = Loop.window(wl.passOps, 1, WarmUpS, run)._1
    (warm ++ warmUp).filterNot(_.ok)
      .foreach(s => System.err.println(s"WARM_FAIL ${s.name}: ${s.error.get}"))
    val firstPass = (warm ++ warmUp).last.pass + 1
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    // --trace 1: the window's even passes are traced, with the tracing hooks
    // registered for those passes only, and its odd passes are not: traced
    // against untraced throughput is the tracing overhead, taken at the same
    // warmth and under the same load on the host
    val tr = if (trace) Some(new Trace(spark, Main.moduleOf)) else None
    val go: (Op, Int) => Sample = tr match {
      case Some(t) => (op, p) =>
        if (p % 2 == 0) t.op(op, around => Loop.attempt(op, p, expected.get, around = around))
        else run(op, p)
      case None => run
    }
    val beginPass: Int => Unit = p => tr.foreach(t => if (p % 2 == 0) t.attach() else t.detach())
    val gc0 = gcTotals()
    val cpu0 = processCpuNs()
    val jit0 = jitCpuNs()
    val steal0 = hostCpuTicks()
    val (window, ns) = Loop.window(wl.passOps, firstPass, seconds, go, beginPass = beginPass)
    val gc1 = gcTotals()
    val cpu1 = processCpuNs()
    val jit1 = jitCpuNs()
    for ((st0, all0) <- steal0; (st1, all1) <- hostCpuTicks() if all1 > all0)
      metrics("host.steal_ratio") = (st1 - st0).toDouble / (all1 - all0)
    phase("window")
    tr.foreach(_.detach())
    window.filterNot(_.ok).foreach(x => System.err.println(s"FAIL ${x.name}: ${x.error.get}"))
    val (tracedSamples, samples) = window.partition(x => trace && x.pass % 2 == 0)
    val s = Loop.summarize(samples, ns)
    val okOps = math.max(1, window.count(_.ok))
    metrics("jvm.gc_ms") = (gc1._1 - gc0._1).toDouble / okOps
    metrics("jvm.gc_count") = (gc1._2 - gc0._2).toDouble / okOps
    metrics("process.cpu_ms_per_op") = (cpu1 - cpu0) / 1e6 / okOps
    metrics("jvm.jit_cpu_ms") = (jit1 - jit0) / 1e6 / okOps
    metrics("jvm.retained_heap_mb") = retainedHeapMb()
    if (!trace) {
      metrics("setup_s") = setupS
      metrics("cpu_ms_per_op") = ((cpu1 - cpu0) - (jit1 - jit0)) / 1e6 / okOps
      metrics("ops_per_s") = s.opsPerS
      s.p50.foreach(metrics("latency_p50_ms") = _)
      s.p90.foreach(metrics("latency_p90_ms") = _)
      metrics("error_rate") = s.errorRate
      for (kind <- Seq("write", "read")) {
        val ks = Loop.summarize(samples.filter(_.kind == kind), ns)
        ks.p50.foreach(metrics(s"${kind}_p50_ms") = _)
        ks.p90.foreach(metrics(s"${kind}_p90_ms") = _)
        if (ks.latencies.nonEmpty) detail(s"${kind}_samples") = ks.latencies.size
      }
      if (w.ingests.nonEmpty) {
        val (idx, in) = indexBytes(wl, data, expected)
        metrics("index_bytes_per_input_byte") = idx / in
        detail("index_disk_bytes") = idx
        detail("index_input_bytes") = in
      }
    } else {
      val ts = Loop.summarize(tracedSamples, ns)
      val (layers, notes) = tr.get.report(cores)
      a.get("spans").foreach(tr.get.writeSpans)
      metrics ++= layers
      metrics("trace.ops_per_s") = ts.opsPerS
      metrics("trace.untraced_ops_per_s") = s.opsPerS
      metrics("trace.overhead_ratio") = 1 - ts.opsPerS / s.opsPerS
      if (w.ingests.nonEmpty)
        metrics("io.index_disk_bytes") = indexBytes(wl, data, expected)._1
      val (texts, vecs) = kernelInputs(spark, data)
      Kernels.measure(texts, vecs, seed).foreach { case (k, v) =>
        metrics(s"functions.$k.ns_per_row") = v }
      detail ++= notes
    }
    val all = warm ++ warmUp ++ window
    detail("window_s") = s.seconds
    detail("window_ops") = s.attempted
    detail("latency_samples") = s.latencies.size
    detail("op_p50_ms") = s.byOp.map { case (n, xs) => n -> Loop.median(xs) }
    detail("op_ms") = s.byOp
    detail("pass_s") = samples.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.ms).sum / 1000)
    detail("cores") = cores
    detail("settings") = settings(spark)
    phase("measured")
    spark.stop()
    phase("stopped")
    println(Json.obj(
      "attempted" -> all.size,
      "failed" -> all.count(!_.ok),
      "metrics" -> metrics,
      "detail" -> detail))
  }

  /** Progress on stderr: seconds since the JVM started. */
  private def phase(what: String): Unit = System.err.println(
    f"perfbench: $what done at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  /** Registry query name to the graft package whose registry holds it. */
  private lazy val registryModule: Map[String, String] = {
    import graft.{ops, queries, similarity, text}
    Seq(
      "graft.queries" -> (queries.Core.queries ++ queries.Extra.queries ++
        queries.Patterns.queries ++ queries.Analytics.queries),
      "graft.ops" -> (ops.Clustering.queries ++ ops.Packing.queries ++
        ops.Sketches.queries ++ ops.Sampling.queries ++ ops.Scale.queries ++
        ops.RangeJoin.queries ++ ops.Quality.queries ++ ops.Diff.queries ++
        ops.Incremental.queries),
      "graft.pipeline" -> graft.pipeline.Curation.queries,
      "graft.sources" -> graft.sources.Fasta.queries,
      "graft.text" -> (text.Text.queries ++ text.Bm25.queries ++ text.BpeTrain.queries),
      "graft.dedup" -> graft.dedup.Dedup.queries,
      "graft.similarity" -> (similarity.Similarity.queries ++ similarity.Pq.queries ++
        similarity.IvfPq.queries),
      "graft.multimodal" -> graft.multimodal.Multimodal.queries)
      .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  }

  /** Module of an op: the graft package whose registry or call it drives. */
  def moduleOf(op: String): String =
    if (op.startsWith("stream_")) "graft.streaming"
    else if (Workload.ingests.contains(op)) "graft.dedup"
    else registryModule.getOrElse(op, "graft")

  /** Session settings that shape the layers, as the session resolved them. */
  private def settings(spark: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.codegen.wholeStage",
      "spark.sql.autoBroadcastJoinThreshold").map { k =>
      k -> scala.util.Try(spark.conf.get(k)).getOrElse("unset")
    }.toMap

  /** Heap in use after a full GC. The context cleaner releases broadcasts
    * and shuffles of finished plans only after a GC, so it gets that GC and
    * a moment before the second one. */
  private def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU ns the JVM's JIT compiler threads have used so far, from each
    * thread's on-CPU time in /proc/self/task. The compiler threads are fixed
    * for the run (-XX:-UseDynamicNumberOfCompilerThreads), so the difference
    * of two readings is theirs alone. About half of a window's CPU goes to
    * compiling the generated classes of each op, and how much depends on how
    * far the compiler has fallen behind, which moves with the host's load;
    * `cpu_ms_per_op` leaves it out. */
  private def jitCpuNs(): Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles)
      .getOrElse(sys.error("cpu_ms_per_op reads /proc/self/task, which this OS lacks"))
    def read(t: java.io.File, f: String) = java.nio.file.Files.readString(new java.io.File(t, f).toPath)
    tasks.iterator.map { t =>
      try {
        if (Seq("C1 ", "C2 ", "Sweeper").exists(read(t, "comm").startsWith))
          read(t, "schedstat").trim.split(" ")(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (steal, total) CPU ticks of the host from /proc/stat where it exists:
    * the share of time the hypervisor gave the host's CPUs to others, which
    * slows every wall-clock metric of a run. */
  private def hostCpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val cpu = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (cpu(7), cpu.take(8).sum)
  }.toOption

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Disk bytes one rebuild of the workload's standing indexes adds, against
    * the bytes of the tables they index. Untimed, after the window. */
  private def indexBytes(wl: Workload, data: String,
                         expected: Map[String, String]): (Double, Double) = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    graft.ops.Scratch.bumpGeneration()
    val before = dirBytes(tmp)
    wl.groups.head.foreach(op => Loop.attempt(op, -1, expected.get))
    val added = dirBytes(tmp) - before
    val input = Seq("documents", "embeddings")
      .map(t => dirBytes(new java.io.File(s"$data/$t.parquet"))).sum
    (added.toDouble, input.toDouble)
  }

  private def kernelInputs(spark: SparkSession, data: String)
      : (Array[String], Array[Array[Float]]) = {
    val texts = graft.Tables.documents(spark, data).select("text").collect().map(_.getString(0))
    val vecs = graft.Tables.embeddings(spark, data).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    (texts, vecs)
  }

  /** Writes the fingerprints of every op with a stable one: each op runs
    * twice in one session and must agree with itself. */
  private def record(w: Spec.Workload, data: String, seed: Long, cores: Int,
                     work: String, stored: Map[String, String], out: String): Unit = {
    val spark = graft.Sessions.local("perfbench-record", cores)
    val wl = new Workload(spark, w, data, seed, s"$work/record")
    val fps = (0 to 1).map { p =>
      wl.passOps(p).filterNot(_.name.startsWith("stream_"))
        .map(op => op.name -> op.build()()).toMap
    }
    val unstable = fps(0).keys.filter(k => fps(0)(k) != fps(1)(k))
    if (unstable.nonEmpty) sys.error(s"unstable fingerprints: ${unstable.mkString(",")}")
    val merged = (stored ++ fps(0)).toSeq.sortBy(_._1)
    val pw = new java.io.PrintWriter(out)
    pw.println(merged.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}"))
    pw.close()
    spark.stop()
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => d.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = apply(scala.collection.immutable.ListMap(kv: _*))
}
