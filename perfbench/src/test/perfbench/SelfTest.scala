package perfbench

/** The benchmark's own tests, on fake ops (no Spark): the checks and the
  * accounting of the closed loop that every workload runs through.
  * Run with `python3 perfbench/build.py --test`; exits 1 on a failure. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def op(name: String, fp: String): Op = Op(name, "read", () => () => fp)

  /** A clock that advances `stepNs` each time it is read. */
  private def ticking(stepNs: Long): () => Long = {
    var t = 0L
    () => { t += stepNs; t }
  }

  def main(args: Array[String]): Unit = {
    val ops = Seq(op("a", "fa"), op("b", "fb"), op("c", "fc"))
    val good = Map("a" -> "fa", "b" -> "fb", "c" -> "fc")

    check("a doctored expected fingerprint raises error_rate") {
      val doctored = good.updated("b", "not-fb")
      val samples = (0 until 4).flatMap(p => ops.map(o => Loop.attempt(o, p, doctored.get)))
      val s = Loop.summarize(samples, 1000000000L)
      val clean = Loop.summarize(
        (0 until 4).flatMap(p => ops.map(o => Loop.attempt(o, p, good.get))), 1000000000L)
      clean.errorRate == 0.0 && s.failed == 4 && s.errorRate == 4.0 / 12 &&
        samples.filter(!_.ok).forall(x => x.name == "b" && x.error.exists(_.contains("not-fb")))
    }

    check("an op without a stored fingerprint counts as failed") {
      !Loop.attempt(op("d", "fd"), 0, good.get).ok
    }

    check("a thrown op is not counted as a fast sample") {
      // the throwing op returns after one clock step, the good ones after
      // ten: a fast failure must not pull the percentiles down
      var slow = true
      val clock: () => Long = { var t = 0L; () => { t += (if (slow) 10 else 1); t } }
      val boom = Op("boom", "read", () => { slow = false; throw new RuntimeException("boom") })
      val samples = Seq(ops(0), boom, ops(1)).map { o =>
        slow = true
        Loop.attempt(o, 1, good.updated("boom", "x").get, clock)
      }
      val s = Loop.summarize(samples, 1000000000L)
      s.attempted == 3 && s.failed == 1 && s.latencies.size == 2 &&
        s.latencies.forall(_._2 == 10e-6) && s.byOp.keySet == Set("a", "b") && s.opsPerS == 2 / (samples.map(_.ms).sum / 1000) &&
        samples(1).error.exists(_.contains("boom"))
    }

    check("the same seed yields the same op sequence") {
      val groups = Seq(ops, Seq(op("x", "fx"), op("y", "fy"), op("z", "fz")))
      def names(seed: Long) = (0 until 5).map(p => Loop.order(groups, seed, p).map(_.name))
      names(7) == names(7) && names(7) != names(8) &&
        names(7).forall(ns => ns.take(3).toSet == Set("a", "b", "c")) &&
        names(7).map(_.mkString).distinct.size > 1
    }

    check("the window ends at a pass boundary after the requested time") {
      val begun = scala.collection.mutable.ArrayBuffer.empty[Int]
      val (samples, ns) = Loop.window(p => Loop.order(Seq(ops), 1, p), 1, 1e-6,
        (o, p) => Loop.attempt(o, p, good.get), ticking(100), begun += _)
      samples.size % ops.size == 0 && samples.nonEmpty && ns >= 1000 &&
        begun.toSeq == samples.map(_.pass).distinct
    }

    check("latency p50 weighs every op once, whatever its sample count") {
      // op a: 9 samples at 1 ms, op b: 1 sample at 100 ms; a pooled median
      // would read 1 ms, the per-op geometric mean reads sqrt(1 * 100)
      val xs = Vector.fill(9)(Sample("a", "read", 1, 1.0, ok = true, None)) :+
        Sample("b", "read", 1, 100.0, ok = true, None)
      val s = Loop.summarize(xs, 1000000000L)
      s.p50.exists(v => math.abs(v - 10.0) < 1e-9) && s.p90.isEmpty &&
        Loop.summarize(xs.take(9) ++ xs.take(9).map(_.copy(pass = 2)), 1L).p90.contains(1.0)
    }

    check("percentiles need enough samples beyond them") {
      val xs = (1 to 99).map(_.toDouble)
      Loop.percentile(xs, 0.9, 100).isEmpty &&
        Loop.percentile(xs :+ 100.0, 0.9, 100).contains(90.0) &&
        Loop.median(Seq(3.0, 1.0, 2.0)) == 2.0
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
