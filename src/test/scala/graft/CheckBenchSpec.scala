package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench gate's two halves, pinned together (r12 verdict task #1).
  *
  * 1. ONE BUDGET TABLE — [[Budgets]] exists because Bench must decide
  *    IN-PROCESS which over-budget lines to solo-retry before its JVM
  *    exits, while the gate (`tools/check_bench.py`) is a standalone
  *    script run on a stdout capture. Both read
  *    `tools/bench_budgets.txt`; this spec checks that every name in it
  *    is a line Bench can emit (a misspelled name would silently fall
  *    back to DEFAULT_TYPICAL) and that both parsers reject a malformed
  *    line by name.
  *
  * 2. ADJUDICATION — synthetic artifacts drive the real script end to
  *    end (python3 is on this box): an inflated line whose solo retry is
  *    within budget must gate exit 0 and print NOISY (the r12 q124 case:
  *    44.9 s in-suite, 6-8 s solo, byte-identical shuffle — pure box
  *    noise, and the third consecutive round red on it); an inflated
  *    retry must keep FAIL and exit 1 (a real regression is slow twice).
  */
class CheckBenchSpec extends AnyFunSuite {

  private def run(cmd: String*): (Int, String) = {
    val out = new StringBuilder
    val exit = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => { out ++= l; out += '\n' }))
    (exit, out.toString)
  }

  test("budget table: every name is a registry query or a Bench ingest line") {
    val lines = SparkEntry.queries.keySet ++ Bench.standingIngests.map(_._1)
    val unknown = Budgets.Typicals.keySet -- lines
    assert(unknown.isEmpty, s"budget names no bench line carries: $unknown")
    assert(Budgets.Typicals.contains("q01_pricing_summary"))
  }

  test("budget table: both parsers reject a malformed line and name it") {
    val good = Seq("# model", "DEFAULT_TYPICAL 0.5", "HEADROOM 2.5",
      "FLOOR_SEC 1.5", "q01_pricing_summary 1.6  # flagship")
    assert(Budgets.parse(good, "t")("q01_pricing_summary") == 1.6)
    for (bad <- Seq("q07_selfjoin_2hop 2,4", "q07_selfjoin_2hop",
      "q07_selfjoin_2hop 2.4 x", "q01_pricing_summary 1.6")) {
      val e = intercept[IllegalArgumentException](
        Budgets.parse(good :+ bad, "t.txt"))
      assert(e.getMessage.contains(s"t.txt:6") &&
        e.getMessage.contains(bad), e.getMessage)
      val tmp = java.io.File.createTempFile("budgets", ".txt")
      try {
        java.nio.file.Files.write(tmp.toPath,
          (good :+ bad).mkString("", "\n", "\n").getBytes("UTF-8"))
        val (exit, out) = run("python3", "-c",
          "import sys; sys.path.insert(0, 'tools'); import check_bench; " +
            "check_bench.load_budgets(sys.argv[1])", tmp.getPath)
        assert(exit != 0, out)
        assert(out.contains(s"${tmp.getPath}:6") && out.contains(bad), out)
      } finally { tmp.delete(); () }
    }
  }

  test("boxFactor mirrors the Python median (upper median, clamped)") {
    // even count: Python's ratios[len//2] is the UPPER median
    val rs = Seq("a" -> 0.5, "b" -> 1.0, "c" -> 1.5, "d" -> 2.0)
    // typicals default to 0.5 → ratios 1,2,3,4 → ratios(2)=3, clamped
    assert(Budgets.boxFactor(rs) == 3.0)
    assert(Budgets.boxFactor(Seq("a" -> 10.0)) == 4.0, "clamped high")
    assert(Budgets.boxFactor(Seq("a" -> 0.01)) == 0.5, "clamped low")
    assert(Budgets.boxFactor(Nil) == 1.0)
  }

  // --- end-to-end adjudication through the real script ---

  /** A quiet 10-line suite (every reading == its typical → box 1.0) with
    * q124 inflated to `q124Sec` and, optionally, a retry reading. */
  private def artifact(q124Sec: Double, retrySec: Option[Double]): String = {
    val quiet = Seq("q01_pricing_summary" -> 1.6, "q07_selfjoin_2hop" -> 2.4,
      "q103_simjoin_prefix" -> 2.1, "q108_bpe_train" -> 3.0,
      "q112_bpe_encode" -> 3.0, "q39_media_features" -> 1.8,
      "q69_approx_quantiles" -> 2.0, "q31_ngram_jaccard" -> 1.8,
      "q73_dedup_clusters" -> 4.5, "q123_triangles" -> 10.0)
    val qs = (quiet :+ ("q124_triangles_sampled" -> q124Sec))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val retry = retrySec
      .map(r => s"""{"q124_triangles_sampled":$r}""").getOrElse("{}")
    val total = quiet.map(_._2).sum + q124Sec
    s"""{"queries":$qs,"failed":[],"observed":{},"retry":$retry,""" +
      s""""sf":"x","n_queries":11,"n_failed":0,"unit":"sec",""" +
      s""""metric":"total","value":$total}"""
  }

  private def gate(artifactJson: String): (Int, String) = {
    val tmp = java.io.File.createTempFile("bench", ".json")
    try {
      java.nio.file.Files.write(tmp.toPath, artifactJson.getBytes("UTF-8"))
      run("python3", "tools/check_bench.py", tmp.getPath)
    } finally { tmp.delete(); () }
  }

  test("gate: inflated line + in-budget solo retry → NOISY, exit 0") {
    // q124 typical 10.5, budget 26.25 at box 1.0; 44.9 in-suite (the
    // literal r12 reading), 7.1 solo retry (the literal r12 probe)
    val (exit, out) = gate(artifact(44.9, Some(7.1)))
    assert(exit == 0, s"expected exit 0, got $exit:\n$out")
    assert(out.contains("NOISY q124_triangles_sampled"), out)
    assert(!out.contains("FAIL"), out)
    assert(out.contains("adjudicated"), out)
  }

  test("gate: inflated line + inflated retry → FAIL, exit 1") {
    val (exit, out) = gate(artifact(44.9, Some(43.0)))
    assert(exit == 1, s"expected exit 1, got $exit:\n$out")
    assert(out.contains("FAIL q124_triangles_sampled"), out)
    assert(out.contains("regression, not noise"), out)
  }

  test("gate: inflated line with no retry at all → FAIL, exit 1") {
    val (exit, out) = gate(artifact(44.9, None))
    assert(exit == 1, s"expected exit 1, got $exit:\n$out")
    assert(out.contains("FAIL q124_triangles_sampled"), out)
  }

  test("gate: quiet artifact stays exit 0 with an empty retry object") {
    val (exit, out) = gate(artifact(10.5, None))
    assert(exit == 0, s"expected exit 0, got $exit:\n$out")
    assert(!out.contains("NOISY") && !out.contains("FAIL"), out)
  }

  test("gate: compact-line artifact (short ids, millis) adjudicates too") {
    // the driver's tail capture usually keeps only the compact line;
    // retry rides it in the same short-id/millis convention
    val qms = Seq("q01" -> 1600, "q07" -> 2400, "q103" -> 2100,
      "q108" -> 3000, "q112" -> 3000, "q39" -> 1800, "q69" -> 2000,
      "q31" -> 1800, "q73" -> 4500, "q123" -> 10000, "q124" -> 44900)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val line = s"""{"qms":$qms,"failed":[],"retry":{"q124":7100},""" +
      s""""sf":"x","n_queries":11,"n_failed":0,"unit":"sec",""" +
      s""""metric":"total","value":77.1}"""
    val (exit, out) = gate(line)
    assert(exit == 0, s"expected exit 0, got $exit:\n$out")
    assert(out.contains("NOISY q124_triangles_sampled"), out)
  }

  /** r14: xN ingest lines retry too (fresh-scratch-generation rebuild),
    * closing the adjudication hole the r13 verdict named (item #8: a
    * noisy window on an ingest line needed manual adjudication). The
    * gate handles them with the same NOISY/FAIL rules as query lines. */
  private def ingestArtifact(x3Sec: Double, retrySec: Option[Double]): String = {
    val quiet = Seq("q01_pricing_summary" -> 1.6, "q07_selfjoin_2hop" -> 2.4,
      "q103_simjoin_prefix" -> 2.1, "q108_bpe_train" -> 3.0,
      "q112_bpe_encode" -> 3.0, "q39_media_features" -> 1.8,
      "q69_approx_quantiles" -> 2.0, "q31_ngram_jaccard" -> 1.8,
      "q73_dedup_clusters" -> 4.5, "q123_triangles" -> 10.0)
    val qs = (quiet :+ ("x3_ingest_shingle_bkt" -> x3Sec))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val retry = retrySec
      .map(r => s"""{"x3_ingest_shingle_bkt":$r}""").getOrElse("{}")
    val total = quiet.map(_._2).sum + x3Sec
    s"""{"queries":$qs,"failed":[],"observed":{},"retry":$retry,""" +
      s""""sf":"x","n_queries":11,"n_failed":0,"unit":"sec",""" +
      s""""metric":"total","value":$total}"""
  }

  test("gate: inflated INGEST line + in-budget fresh-root retry → NOISY, exit 0") {
    // x3 typical 8.5, budget 21.25 at box 1.0; 40 in-suite, 9.0 rebuilt
    // solo into a fresh scratch generation
    val (exit, out) = gate(ingestArtifact(40.0, Some(9.0)))
    assert(exit == 0, s"expected exit 0, got $exit:\n$out")
    assert(out.contains("NOISY x3_ingest_shingle_bkt"), out)
    assert(!out.contains("FAIL"), out)
  }

  test("gate: inflated INGEST line + inflated retry → FAIL, exit 1") {
    val (exit, out) = gate(ingestArtifact(40.0, Some(39.0)))
    assert(exit == 1, s"expected exit 1, got $exit:\n$out")
    assert(out.contains("FAIL x3_ingest_shingle_bkt"), out)
  }

  test("gate: compact-line INGEST retry (short id, millis) adjudicates too") {
    val qms = Seq("q01" -> 1600, "q07" -> 2400, "q103" -> 2100,
      "q108" -> 3000, "q112" -> 3000, "q39" -> 1800, "q69" -> 2000,
      "q31" -> 1800, "q73" -> 4500, "q123" -> 10000, "x3" -> 40000)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val line = s"""{"qms":$qms,"failed":[],"retry":{"x3":9000},""" +
      s""""sf":"x","n_queries":11,"n_failed":0,"unit":"sec",""" +
      s""""metric":"total","value":72.2}"""
    val (exit, out) = gate(line)
    assert(exit == 0, s"expected exit 0, got $exit:\n$out")
    assert(out.contains("NOISY x3_ingest_shingle_bkt"), out)
  }

  test("gate: regex fallback does not let retry readings overwrite " +
    "timed readings on a torn capture") {
    // a capture cut mid-line: no parseable JSON object, just pairs. The
    // retry object's "q124":7100 must not replace the timed 44900.
    val torn = """"q73":4500,"q123":10000,"q124":44900},"failed":[],""" +
      """"retry":{"q124":7100},"sf":"x","n_queries":11,"value":77.1"""
    val (exit, out) = gate(torn)
    assert(out.contains("NOISY q124_triangles_sampled"),
      s"retry should still adjudicate the recovered timed reading:\n$out")
    assert(exit == 0, s"expected exit 0, got $exit:\n$out")
  }
}
