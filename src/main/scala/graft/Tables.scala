package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * All engine entry points take an `sfDir` (e.g. `/root/testdata/sf0.01`)
  * and read the self-describing parquet directly (parquet embeds its
  * schema; reference: chapter_07/examples/parquet_operations.py:61-63).
  *
  * Reading that embedded schema is not free. `spark.read.parquet(path)`
  * without a schema makes the analyzer (`ResolveDataSource`) list the file
  * and then run a one-task Spark job to read its footer, on every read:
  * about 84 ms of analyzer time and one job per table read at sf0.1 on a
  * 4-core box (q82 reads six tables), against about 9 ms, the listing, and
  * no job with the schema supplied (BENCHMARKS.md, "Schema inference: one
  * job per table read"). So [[load]] infers each table's
  * schema once per JVM and reads through `spark.read.schema(s)`:
  *  - the memo is keyed by the table path's qualified name, length and
  *    modification time (one `getFileStatus`). A rewritten file gets a
  *    new key and is inferred again; so does a directory table that an
  *    overwrite recreated or whose files were added, removed or renamed.
  *    Stale entries are a few hundred bytes each and are never read again.
  *  - the session settings that shape inference,
  *    `spark.sql.legacy.parquet.nanosAsLong` and
  *    `spark.sql.parquet.inferTimestampNTZ.enabled`, are fixed by
  *    [[Sessions.local]], the only session factory, and no test changes
  *    them; a JVM whose sessions disagreed on them would share one
  *    inferred schema.
  * The file is still listed on every read, so new files are seen; only the
  * footer-read job is gone.
  *
  * At 100 TB each of these would be a partitioned parquet dataset (or an
  * Iceberg/Delta table) behind the same `DataFrame` surface; nothing in the
  * engine assumes single-file inputs.
  */
object Tables {
  private val schemas = new ConcurrentHashMap[(String, Long, Long), StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = graft.ops.IndexFs.stat(path)
    // infer outside the map's lock: computeIfAbsent would hold a bin lock
    // across a Spark job. Two racing first reads both infer, one wins.
    val schema = Option(schemas.get(key)).getOrElse {
      val inferred = spark.read.parquet(path).schema
      Option(schemas.putIfAbsent(key, inferred)).getOrElse(inferred)
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, d: String): DataFrame    = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = load(spark, d, "lineitem")
  /** `events.ts` on disk has varied across testdata generations: parquet
    * TIMESTAMP(NANOS) (read as a raw nanosecond LongType under
    * spark.sql.legacy.parquet.nanosAsLong=true, set by
    * [[Sessions]]/Verify/Bench) or a naive micros TIMESTAMP (read as
    * TimestampType with inferTimestampNTZ disabled). Normalize the long
    * flavor to TimestampType (µs) with integer division: a double division
    * would lose precision above 2^53 ns (~1970+104 days), silently
    * corrupting every timestamp. */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = load(spark, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
