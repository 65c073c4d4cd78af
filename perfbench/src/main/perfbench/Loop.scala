package perfbench

import scala.util.control.NonFatal

/** One operation of a workload. `build` makes the plan (for a registry query,
  * the call into the module's registry function) and returns the action;
  * the action computes the op's full result and returns its fingerprint. */
final case class Op(name: String, kind: String, build: () => (() => String))

/** One attempted op. `ms` is a latency sample only when `ok`: a thrown or
  * wrong-output op counts as failed and never as a fast reading. */
final case class Sample(name: String, kind: String, pass: Int, ms: Double,
                        ok: Boolean, error: Option[String])

/** What a window of samples reports. `latencies` holds each ok sample as
  * (op name, ms); `passRates` holds each pass's ok ops over the seconds its
  * ops took. */
final case class Summary(attempted: Int, failed: Int, seconds: Double,
                         latencies: Vector[(String, Double)], passRates: Vector[Double]) {
  def ok: Int = attempted - failed
  /** Checked ops per second: the median pass rate, so one pass slowed by a
    * neighbour on the host does not move it. */
  def opsPerS: Double = Loop.median(passRates)
  def errorRate: Double = failed.toDouble / math.max(1, attempted)
  /** Each op's own latency samples. */
  def byOp: Map[String, Vector[Double]] = latencies.groupMap(_._1)(_._2)
  /** The geometric mean over the ops of each op's median latency. A pooled
    * median of ops that differ several-fold in cost jumps between ops as the
    * mix of samples shifts; this weighs every op once, whatever its count. */
  def p50: Option[Double] = Loop.geoMean(byOp.values.map(Loop.percentile(_, 0.5, 1)))
  /** The same over each op's 90th percentile, reported only when every op
    * has at least ten samples (one beyond its p90). */
  def p90: Option[Double] = Loop.geoMean(byOp.values.map(Loop.percentile(_, 0.9, 10)))
}

/** The closed loop: one client thread, each op sent when the last returned. */
object Loop {

  /** Op order of pass `pass` under `seed`: each group is shuffled by a seeded
    * generator and the groups keep their order (ingest writes precede the
    * reads they serve). Pass 0 is the untimed warm pass. */
  def order(groups: Seq[Seq[Op]], seed: Long, pass: Int): Seq[Op] = {
    val rng = new scala.util.Random(seed * 1000003L + pass)
    groups.flatMap(g => rng.shuffle(g))
  }

  /** Runs one op, times build plus action, and checks the fingerprint.
    * `around` wraps the build and the action (the tracer's spans). */
  def attempt(op: Op, pass: Int, expected: String => Option[String],
              clock: () => Long = () => System.nanoTime(),
              around: (String, () => Any) => Any = (_, f) => f()): Sample = {
    val t0 = clock()
    val result =
      try {
        val action = around("build", () => op.build()).asInstanceOf[() => String]
        Right(around("action", action).asInstanceOf[String])
      } catch { case NonFatal(e) => Left(e) }
    val ms = (clock() - t0) / 1e6
    result match {
      case Right(fp) if expected(op.name).contains(fp) =>
        Sample(op.name, op.kind, pass, ms, ok = true, None)
      case Right(fp) =>
        Sample(op.name, op.kind, pass, ms, ok = false, Some(
          s"fingerprint $fp, expected ${expected(op.name).getOrElse("none")}"))
      case Left(e) =>
        Sample(op.name, op.kind, pass, ms, ok = false, Some(e.toString))
    }
  }

  /** Whole passes, starting at `firstPass`, until `seconds` have elapsed:
    * the window ends at a pass boundary, so every op of the list is sampled
    * equally often whatever the seed. `beginPass` is called before each
    * pass's first op. Returns the samples and the elapsed nanoseconds. */
  def window(ops: Int => Seq[Op], firstPass: Int, seconds: Double,
             run: (Op, Int) => Sample,
             clock: () => Long = () => System.nanoTime(),
             beginPass: Int => Unit = _ => ()): (Vector[Sample], Long) = {
    val t0 = clock()
    val out = Vector.newBuilder[Sample]
    var pass = firstPass
    while (clock() - t0 < seconds * 1e9) {
      beginPass(pass)
      ops(pass).foreach(op => out += run(op, pass))
      pass += 1
    }
    (out.result(), clock() - t0)
  }

  def summarize(samples: Seq[Sample], elapsedNs: Long): Summary =
    Summary(samples.size, samples.count(!_.ok), elapsedNs / 1e9,
      samples.filter(_.ok).map(x => x.name -> x.ms).toVector,
      samples.groupBy(_.pass).values
        .map(p => p.count(_.ok) / (p.map(_.ms).sum / 1000)).toVector)

  /** Nearest-rank percentile; None below `minSamples` samples. */
  def percentile(xs: Seq[Double], q: Double, minSamples: Int): Option[Double] =
    if (xs.size < minSamples || xs.isEmpty) None
    else {
      val s = xs.sorted
      Some(s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1))))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5, 1).get

  /** Geometric mean; None when there is no value or any is None. */
  def geoMean(xs: Iterable[Option[Double]]): Option[Double] =
    if (xs.isEmpty || xs.exists(_.isEmpty)) None
    else Some(math.exp(xs.map(x => math.log(x.get)).sum / xs.size))
}
