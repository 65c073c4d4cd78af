package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the LINEARITY CONTRACT behind the BENCHMARKS.md scaling table:
  * `GenScale.scale` must produce data under which query outputs transform
  * PREDICTABLY — additive aggregates scale by the factor, averages and
  * group keys are invariant, and pair-producing joins (similarity,
  * contamination) yield exactly factor× the pairs with the base pairs as
  * the copy-0 subset. If a future GenScale edit broke an invariant (e.g.
  * salting stopped keeping copy vocabularies disjoint), the sf1 bench
  * would silently measure a superquadratic or lossy workload and the
  * scaling ratios in BENCHMARKS.md would be fiction — this suite makes
  * that a test failure instead. Factor 3 over sf0.001 keeps it fast. */
class ScaleLawSpec extends SparkSpec {

  private val factor = 3
  private lazy val scaledDir: String = {
    val out = Files.createTempDirectory("graft-scalelaw").toFile
    out.deleteOnExit()
    val d = out.getAbsolutePath
    graft.tools.GenScale.scale(spark, sf, d, factor)
    d
  }

  private def q(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("tables: fact rows scale by factor, fixed dims stay fixed") {
    def n(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    for (t <- Seq("lineitem", "orders", "customer", "events", "documents", "embeddings"))
      assert(n(scaledDir, t) == factor * n(sf, t), s"table $t")
    for (t <- Seq("region", "nation"))
      assert(n(scaledDir, t) == n(sf, t), s"fixed dim $t")
  }

  test("q01 pricing summary: groups invariant, sums x factor, avgs invariant") {
    val base = q("q01_pricing_summary", sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val scaled = q("q01_pricing_summary", scaledDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(scaled.keySet == base.keySet, "group keys must be invariant")
    def relEq(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(math.abs(a), 1.0)
    for ((k, b) <- base; s = scaled(k)) {
      for (i <- Seq(2, 3, 4, 5)) // sum_qty, sum_base_price, sum_disc_price, sum_charge
        assert(relEq(s.getDouble(i), factor * b.getDouble(i)), s"$k sum col $i")
      for (i <- Seq(6, 7, 8))    // avg_qty, avg_price, avg_disc
        assert(relEq(s.getDouble(i), b.getDouble(i)), s"$k avg col $i")
      assert(s.getLong(9) == factor * b.getLong(9), s"$k count_order")
    }
  }

  test("q30 exact dedup: per-lang docs AND distinct texts scale by factor") {
    // distinct x factor is the disjoint-vocabulary invariant at work: the
    // per-copy token salt makes every copy's texts globally unique, so each
    // copy contributes exactly the base number of distinct texts
    val base = q("q30_dedup_exact", sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val scaled = q("q30_dedup_exact", scaledDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scaled.keySet == base.keySet)
    for ((lang, (nDocs, nDist)) <- base) {
      assert(scaled(lang)._1 == factor * nDocs, s"$lang n_docs")
      assert(scaled(lang)._2 == factor * nDist, s"$lang n_distinct")
    }
  }

  test("similarity join pairs: exactly factor x, base pairs = the copy-0 subset") {
    // cross-copy vocabularies are disjoint => no cross-copy pair can reach
    // tau, so the scaled pair set is exactly `factor` per-copy images of
    // the base pair set, each with the SAME jaccard values
    val base = q("q103_simjoin_prefix", sf).collect()
    val scaled = q("q103_simjoin_prefix", scaledDir).collect()
    assert(base.nonEmpty, "base must produce pairs or the test is vacuous")
    assert(scaled.length == factor * base.length,
      s"pairs must scale exactly linearly: ${base.length} -> ${scaled.length}")
    val scaledMap = scaled.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (r <- base) {
      val k = (r.getLong(0), r.getLong(1)) // copy 0 keeps base doc_ids
      assert(scaledMap.contains(k), s"base pair $k missing from scaled run")
      assert(scaledMap(k) == r.getDouble(2), s"jaccard drifted for $k")
    }
  }

  test("opt-in heavy plant: exact count law, above phi, q71 non-empty, copy 0 clean") {
    import graft.tools.GenScale
    val out = Files.createTempDirectory("graft-plantlaw").toFile
    out.deleteOnExit()
    val d = out.getAbsolutePath
    GenScale.scale(spark, sf, d, factor, plantHeavy = true)
    // exact frequency law: whitespace structure is salt-invariant, so the
    // plant count is (factor-1) x the base injection-point count
    val injectable = spark.read.parquet(s"$sf/documents.parquet")
      .select(sum(size(filter(split(col("text"), " "), (t, i) =>
        (i + 1) % lit(GenScale.PlantEvery) === 0 && t =!= ""))).as("n"))
      .head.getLong(0)
    assert(injectable > 0, "base corpus must have injection points")
    val toks = Tables.documents(spark, d)
      .select(explode(graft.text.Text.tokens).as("t"))
    val planted = toks.filter(col("t") === GenScale.PlantToken).count()
    assert(planted == (factor - 1).toLong * injectable,
      s"plant count law: $planted != ${factor - 1} * $injectable")
    // the plant's share of the token stream clears q71's phi = 1% at any
    // factor >= 2 (the share is scale-free, so this survives the ladder)
    assert(planted * 100L > toks.count(), "plant must clear the phi threshold")
    // ... and the registered heavy-hitter query actually surfaces it
    val hh = q("q71_heavy_hitters", d).collect()
    assert(hh.map(_.getString(0)).contains(GenScale.PlantToken))
    // copy 0 stays verbatim: the subset invariant holds even when planting
    val srcMax = spark.read.parquet(s"$sf/documents.parquet")
      .agg(max(col("doc_id"))).head.getLong(0)
    assert(Tables.documents(spark, d).filter(col("doc_id") <= srcMax)
      .filter(col("text").contains(GenScale.PlantToken)).count() == 0)
  }

  test("contamination pairs: exactly factor x, rare-gram df cap unaffected") {
    // df of a salted gram equals the base gram's df (copies are disjoint),
    // so the dfCap filter selects the same grams per copy and the pair set
    // replicates exactly
    import graft.dedup.Dedup.{contaminationPairs, gramPostings}
    val base = contaminationPairs(gramPostings(Tables.documents(spark, sf))).collect()
    val scaled = contaminationPairs(gramPostings(Tables.documents(spark, scaledDir))).collect()
    assert(base.nonEmpty, "base must produce contamination pairs")
    assert(scaled.length == factor * base.length)
    val scaledSet = scaled.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (r <- base)
      assert(scaledSet.contains((r.getLong(0), r.getLong(1), r.getLong(2))),
        s"base contamination pair missing: $r")
  }
}
