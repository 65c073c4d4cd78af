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
