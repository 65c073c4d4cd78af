package graft

import graft.queries.Core

class CoreSpec extends SparkSpec {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Sessions.local carries the settings every graft session needs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    for (op <- Seq("sortMergeJoinExec", "cartesianProductExec"))
      assert(conf.get(s"spark.sql.$op.buffer.in.memory.threshold") ==
        Tuning.JoinBufferSpillRows.toString, op)
    // a SparkContext setting, not a SQL conf: read the context's conf
    assert(spark.sparkContext.getConf.get("spark.cleaner.periodicGC.interval") == "60s")
    // the codegen cache's size, and clones sharing its classloader key
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a warm plan compiles no new class: rerun, session clone, second stream") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.{DataFrame, GraftBridge}
    import org.apache.spark.sql.functions.{col, sum}
    def compiles(body: => Unit): Long = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    // a window, a filter and a sort: several generated classes
    def query(): DataFrame = Core.q16WindowRank(spark, sf)
    query().collect()
    assert(compiles(query().collect()) == 0, "same query, run again")
    assert(compiles(GraftBridge.withSession(query(),
      GraftBridge.cloneSession(spark)).collect()) == 0,
      "same query re-rooted onto a session clone")

    // every streaming query runs its batches on a clone of the session
    val in = java.nio.file.Files.createTempDirectory("graft-codegen-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-codegen-ckpt").toString
    spark.range(200).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(in)
    def stream(name: String): Unit = {
      val q = spark.readStream.schema("id LONG, k LONG").parquet(in)
        .writeStream
        .option("checkpointLocation", s"$ckpt/$name")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.groupBy("k").agg(sum("id")).collect(); () }
        .start()
      try q.awaitTermination() finally q.stop()
    }
    stream("first")
    assert(compiles(stream("second")) == 0,
      "second stream over the same source and batch plan")
  }

  test("every registered query has rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every oracle key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("q01 pricing summary: groups and totals") {
    val rows = Core.q01PricingSummary(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags × 2 linestatus
    val direct = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.lit("1998-09-02").cast("timestamp")).count()
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total == direct)
    // exact decimal sums: partition-invariant by construction
    val repart = Core.q01PricingSummary(spark, sf).collect()
    assert(rows.map(_.toString).sorted.sameElements(repart.map(_.toString).sorted))
  }

  test("q12 topk is ordered desc with deterministic tiebreak") {
    val prices = Core.q12TopK(spark, sf).collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.length == 10)
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("q16 window rank: one row per user") {
    val df = Core.q16WindowRank(spark, sf)
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("q01 plan pushes the shipdate filter into the parquet scan") {
    val plan = Core.q01PricingSummary(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"filter not pushed:\n$plan")
  }
}
