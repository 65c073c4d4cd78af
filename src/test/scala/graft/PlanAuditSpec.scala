package graft

import graft.ops.Scale
import graft.queries.Core
import org.apache.spark.sql.functions._

/** Physical-plan audits: lock in the plans we designed for, so a
  * regression (lost pushdown, surprise shuffle, dropped broadcast) fails
  * tests instead of silently costing 10× at scale. */
class PlanAuditSpec extends SparkSpec {

  /** Final physical plan only (AQE's toString appends a duplicate
    * "== Initial Plan ==" section — cut it or every node counts twice). */
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** Formatted explain — scan details (PushedFilters/ReadSchema) are
    * printed in full here; the tree toString truncates them. */
  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Lines of `planStr` that are single-task (unpartitioned) Window
    * operators. WindowExec prints `Window [fns], [part], [order]`; either
    * trailing spec may be absent when empty, so two bracket groups are
    * ambiguous — an ORDER group is recognized by its sort markers
    * (partitioned-no-order windows, e.g. a per-group total, are fine). */
  private def unpartitionedWindows(planStr: String): List[String] = {
    planStr.linesIterator.filter(_.contains("Window ")).filter { l =>
      val groups = "\\], \\[".r.findAllIn(l).size + 1
      groups match {
        case g if g >= 3 => false            // [fns], [part], [order]
        case 2 =>                            // which spec is the 2nd group?
          val last = l.substring(l.lastIndexOf("], [") + 4)
          last.contains(" ASC ") || last.contains(" DESC ")
        case _ => true                       // [fns] only: global window
      }
    }.toList
  }

  test("q01: filter pushed to parquet, schema pruned, whole-stage codegen") {
    val f = formatted(Core.q01PricingSummary(spark, sf))
    assert(f.contains("PushedFilters") && f.contains("LessThanOrEqual(l_shipdate"))
    assert(!f.contains("l_orderkey"), "unused column not pruned from ReadSchema")
    // Spark prints whole-stage codegen spans as *(n) in the tree
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan(Core.q01PricingSummary(spark, sf))).isDefined)
  }

  test("q02: all three predicates reach the scan; only 4 columns read") {
    val f = formatted(Core.q02FilterProject(spark, sf))
    assert(f.contains("GreaterThan(o_totalprice") &&
           f.contains("EqualTo(o_orderstatus") &&
           f.contains("StringContains(o_orderpriority"))
    assert(!f.contains("o_orderdate"), "o_orderdate must be pruned from the scan")
  }

  test("q05: dimension joins are broadcast, fact side never shuffled for the join") {
    val p = plan(Core.q05BroadcastDims(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q12 top-k plans TakeOrderedAndProject (no global sort)") {
    val p = plan(Core.q12TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"), "global sort must not appear")
  }

  test("q01 aggregation is partial+final (map-side combine)") {
    val p = plan(Core.q01PricingSummary(spark, sf))
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final agg")
  }

  test("window queries shuffle once on the partition key") {
    val p = plan(Core.q16WindowRank(spark, sf))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id exchange:\n$p")
  }

  test("custom kernel expressions live inside whole-stage codegen spans") {
    val df = Tables.documents(spark, sf)
      .select(graft.functions.exprs.simhash64(graft.text.Text.tokens).as("sh"))
      .groupBy("sh").count()
    df.collect()
    val p = plan(df)
    // the projection computing simhash64 must sit inside a *(n) codegen
    // span — CodegenFallback would print it outside any starred operator
    val projLine = p.linesIterator.find(_.contains("simhash64"))
    assert(projLine.isDefined && projLine.get.contains("*("),
      s"simhash64 fell out of codegen:\n$p")
  }

  test("salted join: correct result, skew key spread over salts") {
    import spark.implicits._
    val left = (Seq.fill(1000)("hot") ++ Seq("a", "b", "c")).toDF("k")
      .withColumn("lv", lit(1))
    val right = Seq("hot", "a", "b", "z").toDF("k").withColumn("rv", lit(2))
    val plain = left.join(right, "k")
    val salted = Scale.saltedJoin(left, right, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("hot" -> 1000L, "a" -> 1L, "b" -> 1L))
  }

  test("null-skew join: == plain left join; null majority bypasses the join") {
    import spark.implicits._
    val left = ((1L to 40L).map(i => (Option.empty[Long], i)) ++
        Seq((Some(1L), 100L), (Some(2L), 200L), (Some(9L), 300L)))
      .toDF("k", "lv")
    val right = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "rv")
    val rewritten = Scale.leftJoinNullSkewSafe(left, right, "k")
    val plain = left.join(right, Seq("k"), "left")
    // identical multiset of rows (null keys unmatched, matched keys joined)
    assert(rewritten.exceptAll(plain).isEmpty && plain.exceptAll(rewritten).isEmpty)
    // the join operator itself only ever sees non-null keys: its left
    // input carries an isnotnull filter, and the null rows reach the
    // output through the union branch (scan -> filter -> project), never
    // through a join exchange — the property that deletes the hash(null)
    // straggler partition at scale. Asserted on the parquet-backed q106
    // (local relations constant-fold the filter away at optimization time).
    assert(plan(rewritten).contains("Union"))
    val q = Scale.qNullSkewJoin(spark, sf)
    val p = plan(q).toLowerCase
    assert(p.contains("union"), p)
    // Catalyst pushes the isnotnull(big_cust) THROUGH the CASE projection
    // into the scan's data filters (isnotnull(o_custkey) under the CASE
    // branch), and the bypass branch carries the complementary isnull —
    // both branches filter at the scan, the join sees only matchable rows
    assert(p.contains("isnotnull(o_custkey"), p)
    assert(p.contains("isnull(o_custkey"), p)
  }

  test("skew report: exact metrics on a planted key distribution") {
    import spark.implicits._
    // a×10, b×2, c×1, null×7 → sizes (1,2,10): p50 = rank ceil(0.5·3)=2 → 2,
    // p99 = rank 3 → 10, skew = 10/2, null_fraction = 7/20
    val df = (Seq.fill(10)(Some("a")) ++ Seq.fill(2)(Some("b")) ++
      Seq(Some("c")) ++ Seq.fill(7)(Option.empty[String])).toDF("k")
    val m = Scale.keySkewReport(df, "k").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("rows_total") == 20.0 && m("null_rows") == 7.0)
    assert(m("null_fraction") == 0.35)
    assert(m("keys_total") == 3.0 && m("max_group") == 10.0)
    assert(m("p50_group") == 2.0 && m("p99_group") == 10.0)
    assert(m("skew_ratio") == 5.0)
  }

  test("q110 skew report: no unpartitioned window; all-null key degrades " +
       "gracefully") {
    import spark.implicits._
    val q = Scale.qSkewReport(spark, sf)
    val unpart = unpartitionedWindows(plan(q))
    assert(unpart.isEmpty,
      s"single-task global-rank window in q110 plan:\n${unpart.mkString("\n")}")
    // 100%-null key — the exact pathology the report diagnoses — must
    // yield the report (null_fraction = 1, null group metrics), not an
    // empty DataFrame
    val m = Scale.keySkewReport(
        Seq.fill(5)(Option.empty[String]).toDF("k"), "k")
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(m.size == 8)
    assert(m("rows_total").contains(5.0) && m("null_rows").contains(5.0))
    assert(m("null_fraction").contains(1.0))
    assert(m("keys_total").contains(0.0))
    assert(m("p50_group").isEmpty && m("p99_group").isEmpty &&
           m("skew_ratio").isEmpty)
  }

  test("registry-wide audit: unpartitioned windows only where the input is " +
       "provably domain-bounded; CartesianProduct only in the cross-join demo") {
    // An unpartitioned Window is a single-task sort — acceptable ONLY when
    // its input is bounded by a small DOMAIN (dates, sources), never by
    // data size. A shuffle CartesianProduct is O(n·m) — acceptable ONLY as
    // the deliberate q08 teaching demo (1-row broadcast crossJoins plan as
    // BroadcastNestedLoopJoin and are fine; this catches the SHUFFLE-side
    // all-pairs explosion). One planning pass sweeps both; the sets stay
    // closed — a new query that sneaks either in fails here with its name.
    val allowedWindows = Map(
      // cumulative distinct users over the DATE domain (≤ |days| rows)
      "q64_cumulative_users" -> "date domain",
      // per-source token totals (≤ |sources| rows) feed the budget window
      "q85_mixture_sample" -> "source domain",
      // NTILE thresholds over the per-lang quartile table (≤ 4·|langs|)
      "q98_global_curriculum" -> "quantile-spec domain",
      // suffix-cumulative retention over the decile-bin table (≤ 11 rows)
      "q118_retention_curve" -> "decile-bin domain",
      // annContract's batch-mean floor mode: the mean recall over the
      // per-query contract rows (≤ |queries| = 4 rows; the window is the
      // one-pass way to attach the mean — a crossJoin of a 1-row agg
      // would re-execute the whole contract pipeline, the annContract
      // double-execution hazard). Its per-query mode plans no Window.
      "q129_ivf_pq" -> "query-batch domain",
      // q131 is q129's residual-code twin: the same batch-mean window
      "q131_ivf_pq_residual" -> "query-batch domain")
    val allowedCartesian = Set("q08_cross_join")
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        name -> fn(spark, sf).queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
    }
    val windowOffenders = plans.flatMap { case (name, p) =>
      val unpart = unpartitionedWindows(p)
      if (unpart.nonEmpty) Some(name -> unpart.head.trim.take(120)) else None
    }.filterNot { case (n, _) => allowedWindows.contains(n) }
    assert(windowOffenders.isEmpty,
      s"queries with undocumented single-task windows:\n${
        windowOffenders.map { case (n, l) => s"  $n: $l" }.mkString("\n")}")
    val cartesianOffenders = plans.collect {
      case (name, p) if p.contains("CartesianProduct") &&
                        !allowedCartesian.contains(name) => name
    }
    assert(cartesianOffenders.isEmpty,
      s"queries with undocumented CartesianProduct: $cartesianOffenders")
  }

  test("join-free co-occurrence pairs == distinct self-join formulation") {
    // r14: q07 itself now runs the join-free form, so the self-join
    // reference lives HERE (it used to be q07's own plan) — the pin
    // stays "arrays == join", not "arrays == arrays"
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct()
    val viaJoin = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_coorders"))
      .orderBy(col("n_coorders").desc, col("part_a"), col("part_b"))
      .limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val viaArrays = Core.q07SelfJoin2Hop(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaArrays.sameElements(viaJoin))
  }

  test("co-occurrence group-size cap: pairs subset, counts never higher") {
    val li = Tables.lineitem(spark, sf)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = toMap(Scale.coOccurrencePairs(li, "l_orderkey", "l_partkey"))
    val capped = toMap(Scale.coOccurrencePairs(li, "l_orderkey", "l_partkey",
      maxGroupSize = 4))
    assert(capped.nonEmpty && capped.size < full.size,
      "cap=4 must drop some pairs on this data")
    capped.foreach { case (pair, n) =>
      assert(full.contains(pair), s"capped pair $pair absent from full result")
      assert(n <= full(pair), s"capped count for $pair exceeds uncapped")
    }
    // generous cap reproduces the full result exactly
    assert(toMap(Scale.coOccurrencePairs(li, "l_orderkey", "l_partkey",
      maxGroupSize = 1 << 20)) == full)
  }

  test("q82 six-table join broadcasts dims; q83 correlated subquery decorrelates") {
    val p82 = Core.q82RegionalRevenue(spark, sf).queryExecution
      .executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p82.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      "the dimension chain must broadcast, not shuffle")
    val p83 = Core.q83Correlated(spark, sf).queryExecution
      .executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p83.contains("Subquery"),
      "the correlated scalar subquery must decorrelate into an aggregate+join")
    assert(p83.linesIterator.exists(_.contains("Join")),
      "decorrelation produces a join against the per-part aggregate")
  }

  test("binned range join == naive nested-loop join; plans hash, not loop") {
    import graft.ops.RangeJoin
    val top = Tables.orders(spark, sf)
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
      .select(col("o_orderkey"), col("o_orderdate"),
        expr("o_orderdate + INTERVAL 7 DAY").as("window_end"))
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_shipdate")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("o_orderkey", "l_orderkey", "l_shipdate")
      .collect().map(_.toString).sorted.toSeq
    val binned = RangeJoin.rangeJoinBinned(li, "l_shipdate", top,
      "o_orderdate", "window_end", binDays = 7)
    val naive = RangeJoin.rangeJoinNaive(li, "l_shipdate", top,
      "o_orderdate", "window_end")
    assert(pairs(binned).nonEmpty && pairs(binned) == pairs(naive),
      "binning must not change the matched pairs")
    val binnedPlan = binned.queryExecution.executedPlan.toString
    val naivePlan = naive.queryExecution.executedPlan.toString
    assert(!binnedPlan.contains("NestedLoop") &&
      (binnedPlan.contains("HashJoin") || binnedPlan.contains("SortMergeJoin")),
      s"binned range join must plan as an equi join:\n${binnedPlan.take(800)}")
    assert(naivePlan.contains("NestedLoop"),
      "the naive twin should demonstrate the nested-loop shape being avoided")
  }

  test("weighted sample plans TakeOrderedAndProject; IVF assignment has no exchange") {
    val ws = graft.ops.Sampling.weightedDocSample(spark, sf)
    assert(ws.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "ES sampling must be a bounded top-k, not a global sort")
    val emb = Tables.embeddings(spark, sf)
    val cents = graft.similarity.Similarity.trainCentroids(emb, k = 4, iters = 0)
    val assigned = graft.similarity.Similarity.assignClusters(emb, cents)
    assert(Scale.countExchanges(assigned) == 0,
      "centroid assignment must be a map-only narrow projection")
  }

  test("bucketed shingle index: df probe aggregation runs with NO exchange; " +
       "the posting-count consumer's only exchange is the pair groupBy") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, sf)
    val tbl = graft.ops.Scratch.bucketedTable(spark, sf, "shingle_spec")
    Dedup.shingleIndexIngestBucketed(docs, tbl)
    val posting = Dedup.shinglePostingsBucketed(spark, tbl)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the shuffle-join shape (tiny SF would broadcast and prove
    // nothing); at index scale SMJ is what the planner picks anyway
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dfAgg = posting.groupBy("g").agg(count(lit(1)).as("df"))
      dfAgg.collect()
      assert(Scale.countExchanges(dfAgg) == 0,
        s"bucketed df aggregation must not exchange:\n${plan(dfAgg)}")
      // full posting-count consumer: bucketed scan → SMJ on g (no
      // exchange) → pair groupBy (the one NECESSARY shuffle, keyed by
      // doc pair, not g)
      val joined = Dedup.similarityJoinPostingCount(posting, 1, 2)
      joined.collect()
      assert(Scale.countExchanges(joined) == 1,
        s"bucketed posting-count join must shuffle only at the pair " +
          s"groupBy:\n${plan(joined)}")
      // the plain-index twin of the same consumer pays the g-keyed
      // exchanges the bucketed table removed
      val sets = Dedup.shingleSetsSidecar(spark, tbl)
      val plainJoined = Dedup.similarityJoinPostingCount(
        Dedup.shinglePostings(sets), 1, 2)
      plainJoined.collect()
      assert(Scale.countExchanges(plainJoined) > 1,
        s"expected the plain posting path to exchange on g:\n${plan(plainJoined)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bloomDedup: ONE scan of the incoming batch, codegen might_contain, " +
       "no ScalaUDF") {
    import spark.implicits._
    // incoming from parquet so scans are countable; corpus in-memory so
    // its side prints as LocalTableScan, not a second parquet scan
    val incoming = Tables.documents(spark, sf).filter(col("source") === "src0")
    val corpus = Tables.documents(spark, sf).filter(col("source") =!= "src0")
      .select(md5(col("text")).as("fp")).distinct()
      .as[String].collect().toSeq.toDF("fp")
    val out = graft.dedup.Dedup.bloomDedup(incoming, corpus)
    val p = plan(out)
    assert(p.contains("might_contain"),
      s"bloom membership must be the native might_contain expression:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"no serialized closure on the ingest path:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1,
      s"incoming batch must be scanned exactly once, found $scans scans:\n$p")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    // Force the shuffle-join shape (tiny SF would broadcast) and drop the
    // 10 GB application-side floor so the sf0.1 fact side qualifies — at
    // real scale both conditions hold naturally.
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val bigOrders = Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 400000.0)   // selective creation side
      val joined = Tables.lineitem(spark, sf)
        .join(bigOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom-filter probe (might_contain) on the " +
          s"fact side:\n${optimized.take(2000)}")
      // and the filtered result still agrees with the unpruned join
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter(col("o_totalprice") > 400000.0),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(_.toString).sorted
      assert(joined.collect().map(_.toString).sorted.sameElements(expected))
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("AQE splits a skewed join partition at runtime (SCALING.md claim)") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      // one hot key carrying ~100× the data of the others
      val left = spark.range(200000)
        .select(when($"id" % 100 === 0, concat(lit("k"), $"id" % 50))
          .otherwise(lit("hot")).as("k"), $"id".as("v"))
      val right = (0 until 50).map(i => s"k$i").toDF("k")
        .union(Seq("hot").toDF("k"))
      // global agg after the join: partial+final, no keyed distribution
      // requirement — a groupBy(k) downstream would BLOCK the skew split
      // (splitting breaks the required hash distribution)
      val joined = left.join(right, "k").agg(count(lit(1)).as("n"), sum("v"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("isSkewJoin=true") || p.contains("skew=true"),
        s"AQE skew split did not trigger:\n$p")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("bucketed self-join + agg on the bucket key: zero shuffle exchanges") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val tbl = graft.ops.Scratch.bucketedTable(spark, sf, "li_spec")
    Scale.writeBucketed(li, tbl, "l_orderkey", buckets = 4)
    // force the bucket-aware SMJ path (broadcast would win at this toy SF)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.table(tbl)
      val joined = t.as("a").join(t.as("b"), "l_orderkey")
        .groupBy(col("a.l_orderkey")).agg(count(lit(1)).as("n"))
      joined.collect()
      assert(Scale.countExchanges(joined) == 0,
        s"bucketed join must not shuffle:\n${joined.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q86 knn join: query side broadcast; top-k is a partial+final " +
       "ObjectHashAggregate (shuffle is O(queries × k), not the cross " +
       "product)") {
    val df = graft.similarity.Similarity.qKnnJoin(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query batch must broadcast:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"),
      s"TopKByScore must plan as ObjectHashAggregate:\n${p.take(800)}")
    // partial (map-side) before the exchange: the string shows two
    // ObjectHashAggregate nodes around the q_id shuffle
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "bounded top-k must combine map-side before the q_id shuffle")
  }

  test("q96 dataset build: whole pipeline ≤ 4 shuffles (fp, lang window, " +
       "agg, output order)") {
    val df = graft.pipeline.Curation.qDatasetBuild(spark, sf)
    df.collect()
    val n = Scale.countExchanges(df)
    assert(n <= 4, s"filter→dedup→shard→chunk→manifest must stay ≤4 shuffles, got $n:\n" +
      df.queryExecution.executedPlan.toString.take(800))
  }

  test("q66 unigram LM: one corpus scan; tf and termCounts exchanges reused " +
       "across the three consumers") {
    // the tf subplan feeds three branches (join probe, vocab counts,
    // total); AQE stage reuse must collapse them to ONE scan + reused
    // exchanges — without it the corpus is tokenized three times
    val df = graft.text.Text.qUnigramLm(spark, sf)
    val p = plan(df)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"q66 must scan the corpus exactly once:\n${p.take(1200)}")
    assert("ReusedExchange".r.findAllIn(p).size >= 2,
      s"tf and termCounts exchanges must be reused:\n${p.take(1200)}")
  }

  test("q114 rerank stage 2 aggregates only the broadcast-pruned shortlist") {
    import graft.text.Bm25
    val docs = Tables.documents(spark, sf)
    val shortlist = Bm25.topK(docs, Bm25.QueryTerms, k = 5)
    val lm = Bm25.fluencyFor(docs, shortlist)
    // input pruned BEFORE the per-doc aggregate: output rows == |shortlist|,
    // not |corpus| (500 docs at this SF)
    assert(lm.count() == 5,
      "fluency must aggregate the shortlist only, never the corpus")
    val p = plan(lm)
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("doc_id")),
      s"the shortlist prune must be a broadcast join on doc_id:\n${p.take(1200)}")
  }

  test("q115 repeated-span mask: semi-join masking, never pairwise") {
    val df = graft.dedup.Dedup.qRepeatedSpans(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span masking must never go pairwise:\n${p.take(800)}")
    assert(p.contains("LeftSemi"),
      s"repeated-gram filter must be a semi join (output <= input rows " +
        s"regardless of gram heat):\n${p.take(800)}")
  }

  /** Run `body` with `kvs` set on the shared session, then restore. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Spark jobs `action` starts, counted under a job group of its own so
    * a stray job from another thread is not counted. */
  private def jobsOf(action: => Unit): Int = {
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "jobsOf")
    try { action; org.apache.spark.sql.GraftBridge.drainListenerBus(spark); n.get }
    finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private val RangeExchange = "Exchange rangepartitioning"

  test("small root sort (static pass): q02 sorts in one task — Coalesce 1, " +
       "no range exchange, ONE job per collect") {
    val p = plan(Core.q02FilterProject(spark, sf))
    assert(p.contains("Coalesce 1") && !p.contains(RangeExchange),
      s"a root sort over small input must not range-partition:\n$p")
    val df = Core.q02FilterProject(spark, sf)
    val jobs = jobsOf(df.collect())
    assert(jobs == 1, s"collect() must start 1 job (no sampling job, no " +
      s"exchange map stage), started $jobs")
  }

  test("small root sort (AQE pass): q82's final plan has no range exchange " +
       "once the aggregate's measured output is small") {
    // sf0.001 leaves q82 one row, a sort Catalyst drops outright; read
    // the sf0.01 tables next to it
    val df = Core.q82RegionalRevenue(spark, sf.stripSuffix("sf0.001") + "sf0.01")
    assert(df.collect().length > 1)
    val Array(fin, initial) = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")
    // the static estimate of a six-table join is large, so only the
    // runtime pass, reading the materialized stage's bytes, can fire
    assert(initial.contains(RangeExchange),
      s"q82's static plan was expected to keep the range exchange:\n$initial")
    assert(fin.contains("Coalesce 1") && !fin.contains(RangeExchange),
      s"the final AQE plan must sort the small aggregate in one task:\n$fin")
  }

  test("small root sort: autoBroadcastJoinThreshold=-1 turns it off " +
       "(q02 keeps the range exchange)") {
    assert(!plan(Core.q02FilterProject(spark, sf)).contains(RangeExchange))
    val p = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      plan(Core.q02FilterProject(spark, sf))
    }
    assert(p.contains(RangeExchange) && !p.contains("Coalesce 1"),
      s"with the threshold at -1 the sort must range-partition as before:\n$p")
  }

  test("small root sort never touches a sort under a limit: q12 stays " +
       "TakeOrderedAndProject with no Coalesce") {
    val unlimited = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    assert(plan(unlimited).contains("Coalesce 1"),
      "the same sort without the limit plans Coalesce 1")
    val p = plan(Core.q12TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject") && !p.contains("Coalesce"),
      s"a sort under a limit must stay a top-k:\n$p")
  }

  test("small root sort never touches a write: orderBy(k).write.parquet " +
       "writes as many files as without the rule") {
    val sorted = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .orderBy("l_orderkey")
    assert(plan(sorted).contains("Coalesce 1"), "the same sort, collected, " +
      "plans Coalesce 1")
    val root = java.nio.file.Files.createTempDirectory("smallsort_write").toString
    def files(rule: Boolean): Int = {
      val dir = s"$root/rule_$rule"
      val off = if (rule) Nil else Seq(
        "spark.sql.optimizer.excludedRules" -> graft.plans.SmallSort.ruleName,
        "spark.sql.adaptive.optimizer.excludedRules" -> graft.plans.SmallSort.ruleName)
      // keep every range partition its own file, so one task shows
      withConf(("spark.sql.adaptive.coalescePartitions.enabled" -> "false") +: off: _*) {
        sorted.write.parquet(dir)
      }
      new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    }
    val (withRule, without) = (files(rule = true), files(rule = false))
    assert(without > 1 && withRule == without,
      s"the write must range-partition into $without files, wrote $withRule")
  }

  test("small root sort never touches a streaming query's plan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("smallsort_stream").toString
    (1 to 40).map(i => (i % 5, i)).toDF("k", "v").write.parquet(s"$dir/in")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n")).orderBy("k")
    val batch = counts(spark.read.parquet(s"$dir/in"))
    assert(plan(batch).contains("Coalesce 1"), "the batch twin plans Coalesce 1")
    val q = counts(spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .parquet(s"$dir/in"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("smallsort_stream").option("checkpointLocation", s"$dir/ckpt")
      .start()
    val p = try {
      q.processAllAvailable()
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
    } finally q.stop()
    assert(spark.table("smallsort_stream").collect().map(_.getLong(1)).toSeq ==
      Seq.fill(5)(8L))
    assert(p.contains(RangeExchange) && !p.contains("Coalesce"),
      s"a streaming sort must plan as before:\n$p")
  }

  test("q85 mixture sampling: the per-source budget table joins by broadcast") {
    val docs = Tables.documents(spark, sf)
    val kept = graft.ops.Sampling.mixtureSample(
      docs, size(graft.text.Text.tokens), 20000L)
    assert(plan(kept).contains("BroadcastHashJoin"),
      "the O(|sources|) budget table must broadcast, never shuffle the corpus")
  }
}
