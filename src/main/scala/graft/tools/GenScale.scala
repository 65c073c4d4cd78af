package graft.tools

import graft.{Sessions, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of a testdata directory — the measurement rig
  * behind BENCHMARKS.md's scaling table (sf0.1 → sf1), NOT part of the
  * query library. The driver's generator is read-only to us, so a 10×
  * corpus is derived from the sf0.1 tables under invariants that keep
  * every registered query's work honest at the new scale:
  *
  *  - **Relational tables** replicate with per-copy KEY OFFSETS
  *    (`key + copy * (max+1)`), so FK joins stay 1:N with the original
  *    fan-out — join/agg output cardinality scales linearly, never
  *    quadratically. Fixed dimensions (region, nation) stay fixed, as in
  *    TPC-H. Copy 0 is identical to the source ⇒ sf0.1 ⊂ sf1.
  *  - **documents** replicate with every `[a-z]+` token suffixed by a
  *    copy-specific letters-only salt ("zz" + letter — survives the
  *    `[^a-z]+` tokenizer as part of the token). Within a copy all
  *    token-level structure (exact-dup groups, near-dup Jaccard, gram
  *    df, BPE pair stats' shape) is preserved exactly; across copies the
  *    token vocabularies are DISJOINT, so no cross-copy near-dup pairs
  *    appear and dedup/contamination workloads scale linearly instead of
  *    quadratically in the copy count. (Naive replication would hand
  *    every doc 9 exact duplicates and inflate pair counts ~45×.)
  *  - **embeddings** replicate under a per-copy ORTHOGONAL transform
  *    (coordinate permutation + sign flips, seeded by the copy index):
  *    within-copy inner products — hence every cosine/KNN/ANN result
  *    structure — are preserved exactly in real arithmetic, while a
  *    vector and its rotated twin land near cosine 0 (|cos| ≳ 0.9 has
  *    vanishing probability at dim 64), so near-dup pair lists scale
  *    linearly.
  *  - **events** replicate with offset event/user ids into the SAME time
  *    range: 10× the event density per window, which is what a 10×
  *    traffic scale-up looks like to windowed/sessionized queries.
  *
  * Usage: runMain graft.tools.GenScale [srcDir] [outDir] [factor] [plant]
  */
object GenScale {

  /** Fixed heavy-hitter plant token (letters-only → survives the `[a-z]+`
    * tokenizer; ends in "qq" so no salted token — they end in "zz"+letter
    * — can ever collide with it). */
  val PlantToken = "heavyplantqq"

  /** One plant injection per this many whitespace tokens (~3% of the token
    * stream — comfortably above q71's φ = 1% threshold even after
    * punctuation splits inflate the `[a-z]+` token count). */
  val PlantEvery = 30

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "localdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val plant = args.length > 3 && args(3) == "plant"
    val spark = Sessions.local("graft-genscale")
    val counts = scale(spark, src, out, factor, plantHeavy = plant)
    counts.foreach { case (t, n) => println(s"GENSCALE $t rows=$n") }
    spark.stop()
  }

  /** Derive a `factor`× copy of testdata dir `src` into `out`; returns
    * per-table row counts. Separated from [[main]] so ScaleLawSpec can run
    * the scaler inside the shared test session (main stops its session). */
  def scale(spark: org.apache.spark.sql.SparkSession, src: String, out: String,
            factor: Int, plantHeavy: Boolean = false): Seq[(String, Long)] = {

    def read(t: String) = Tables.load(spark, src, t)
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")

    // fixed dims: verbatim
    for (t <- Seq("region", "nation")) write(read(t), t, 1)

    /** union of `factor` per-copy projections; copy 0 is the original */
    def replicate(df: DataFrame)(project: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => project(df, i)).reduce(_.unionAll(_))

    /** key + copy * (max+1): disjoint copies, FK integrity intact */
    def rep(t: String, keys: Seq[String], parts: Int): Unit = {
      val df = read(t)
      val offs = keys.map(k => k -> (df.agg(max(col(k).cast("long"))).head().getLong(0) + 1L)).toMap
      val scaled = replicate(df) { (d, i) =>
        d.select(d.columns.map { c =>
          if (offs.contains(c)) (col(c).cast("long") + lit(i.toLong * offs(c))).as(c)
          else col(c)
        }.toIndexedSeq: _*)
      }
      write(scaled, t, parts)
    }

    rep("customer", Seq("c_custkey"), 4)
    rep("supplier", Seq("s_suppkey"), 1)
    rep("part", Seq("p_partkey"), 4)
    rep("orders", Seq("o_orderkey", "o_custkey"), 8)
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 16)
    rep("events", Seq("event_id", "user_id"), 8)

    // documents: token-salted replication (copy 0 unsalted)
    //
    // OPT-IN heavy-hitter plant (round 7): the per-copy salt deliberately
    // makes copy vocabularies disjoint, which also dilutes EVERY token's
    // relative frequency by the copy count — so q71's φ = 1% threshold
    // correctly returns empty at sf1+ and the heavy-hitter path (and its
    // oracle) never runs on non-empty output at scale. With `plantHeavy`,
    // [[PlantToken]] is injected after every [[PlantEvery]]-th whitespace
    // token of every SALTED copy (copy 0 stays verbatim, preserving the
    // sfN ⊂ sf10N subset invariant):
    //  - frequency invariant (ScaleLawSpec): whitespace structure is
    //    salt-invariant, so plant occurrences = (factor − 1) ×
    //    Σ_docs (ws_tokens div PlantEvery) EXACTLY, and the plant's share
    //    of the token stream is scale-free (≈ (1 − 1/factor)/PlantEvery)
    //    — it survives every rung of the decade ladder.
    //  - no hot shingle: injections are isolated (never adjacent), so
    //    every 3-gram containing the plant also contains ≥ 2 doc-local
    //    salted tokens — gram df stays neighborhood-sized and the
    //    similarity joins' Σ_g df(g)² stays linear in the copy count.
    //    (Appending a RUN of plants at doc end would instead mint one
    //    gram shared by every doc — a quadratic posting join.)
    val docs = read("documents")
    val maxDoc = docs.agg(max(col("doc_id").cast("long"))).head().getLong(0) + 1L
    val plantInject: Column => Column = text =>
      array_join(transform(split(text, " "), (t, i) =>
        when((i + 1) % lit(PlantEvery) === 0 && t =!= "",
          concat(t, lit(" " + PlantToken))).otherwise(t)), " ")
    val docsOut = replicate(docs) { (d, i) =>
      val salted: Column =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "([a-z]+)", "$1zz" + ('a' + i - 1).toChar)
      val text: Column =
        if (plantHeavy && i != 0) plantInject(salted) else salted
      d.select(
        (col("doc_id") + lit(i * maxDoc)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }
    write(docsOut, "documents", 8)

    // embeddings: per-copy orthogonal transform (permutation + sign flip)
    val emb = read("embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val maxVec = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) + 1L
    val embOut = replicate(emb) { (d, i) =>
      val vec: Column =
        if (i == 0) col("embedding")
        else {
          val rnd = new scala.util.Random(0xC0FFEE + i)
          val perm = rnd.shuffle((0 until dim).toVector)
          val sign = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
          array((0 until dim).map { j =>
            (lit(sign(j)) * col("embedding").getItem(perm(j))).cast("float")
          }: _*)
        }
      d.select((col("vec_id") + lit(i * maxVec)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }
    write(embOut, "embeddings", 2)

    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => t -> Tables.load(spark, out, t).count())
  }
}
