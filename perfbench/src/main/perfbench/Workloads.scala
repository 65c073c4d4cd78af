package perfbench

import graft.dedup.Dedup
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum, xxhash64}

/** One workload's ops over one session. Graft is driven only through its
  * public entry points: the registry functions (`SparkEntry.queries`), the
  * standing-index ingest calls and `graft.streaming.Streams`.
  *
  * Query ops fingerprint the collected result. Ingest ops fingerprint the
  * counters the ingest call returns; the queries that serve from those
  * indexes fingerprint what they read. Stream ops fingerprint the
  * stream-built index, which must equal the batch-built index over the
  * same held-out documents. */
final class Workload(spark: SparkSession, spec: Spec.Workload, data: String,
                     seed: Long, work: String) {

  private val registry = graft.SparkEntry.queries

  private def queryOp(name: String): Op = {
    val fn = registry.getOrElse(name, sys.error(s"no registry query $name"))
    Op(name, "read", () => {
      val df = fn(spark, data)
      () => Fingerprint.of(df)
    })
  }

  private def ingestOp(name: String): Op =
    Op(name, "write", () => {
      val call = Workload.ingests.getOrElse(name, sys.error(s"no ingest $name"))
      () => Fingerprint.ofValue(call(spark, data))
    })

  /** The seeded held-out slice of `documents`, written as one parquet file
    * per micro-batch so a file stream with maxFilesPerTrigger=1 replays it
    * batch by batch. */
  private lazy val streamSource: String = {
    val dir = s"$work/stream_src"
    val docs = graft.Tables.documents(spark, data)
    val pick = xxhash64(col("doc_id"), lit(seed))
    val held = docs.where((pick % 100 + 100) % 100 < Workload.HeldOutPercent)
    val n = Workload.StreamBatches
    (0 until n).foreach { b =>
      val tmp = s"$dir/_w$b"
      held.where((xxhash64(col("doc_id"), lit(seed + 1)) % n + n) % n === b)
        .coalesce(1).write.parquet(tmp)
      new java.io.File(tmp).listFiles.filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/batch-$b.parquet")))
      Workload.deleteRec(new java.io.File(tmp))
    }
    dir
  }

  private def heldOut: DataFrame = spark.read.parquet(streamSource)

  private var streamRuns = 0
  private def freshRoot(kind: String): String = {
    streamRuns += 1
    s"$work/streams/${kind}_$streamRuns"
  }

  private def streamOp(kind: String): Op = Op(s"stream_$kind", "write", () => {
    val root = freshRoot(kind)
    val docs = spark.readStream.schema(heldOut.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamSource)
    val q = kind match {
      case "gram" => Streams.streamingGramIngest(docs, s"$root/index", s"$root/ckpt")
      case "shingle" => Streams.streamingShingleIngest(docs, s"$root/index", s"$root/ckpt")
      case other => sys.error(s"no stream $other")
    }
    () => {
      try q.processAllAvailable() finally q.stop()
      streamFingerprint(kind, s"$root/index", streamed = true)
    }
  })

  private def streamFingerprint(kind: String, root: String, streamed: Boolean): String =
    kind match {
      case "gram" =>
        val postings = Dedup.gramIndex(spark, root)
        Fingerprint.of(postings) + "|" + Fingerprint.of(
          if (streamed) Dedup.gramIndexDf(spark, root)
          else postings.groupBy("g").agg(sum(lit(1L)).as("df")))
      case "shingle" => Fingerprint.of(Dedup.shingleIndex(spark, root))
    }

  /** Fingerprints the stream ops must reproduce: the batch-built indexes
    * over the same held-out documents, built once per session. */
  lazy val expectedStreams: Map[String, String] = spec.streams.map { kind =>
    val root = s"$work/batch_$kind"
    kind match {
      case "gram" => Dedup.gramIndexIngest(heldOut, root)
      case "shingle" => Dedup.shingleIndexIngest(heldOut, root)
    }
    s"stream_$kind" -> streamFingerprint(kind, root, streamed = false)
  }.toMap

  val groups: Seq[Seq[Op]] = Seq(
    spec.ingests.map(ingestOp),
    spec.streams.map(streamOp),
    spec.queries.map(queryOp)).filter(_.nonEmpty)

  /** The ops of `pass` in seeded order. A workload that rebuilds standing
    * indexes moves to a fresh scratch generation first, so every pass
    * builds them again instead of reusing the last pass's. */
  def passOps(pass: Int): Seq[Op] = {
    if (spec.ingests.nonEmpty) graft.ops.Scratch.bumpGeneration()
    Loop.order(groups, seed, pass)
  }
}

object Workload {
  /** Share of `documents` the ingest workload streams, and in how many
    * micro-batches. */
  val HeldOutPercent = 20
  val StreamBatches = 2

  /** The standing-index ingest lines, called as graft.Bench calls them.
    * Each returns the ingest's own counters. */
  val ingests: Map[String, (SparkSession, String) => Any] = Map(
    "x1_ingest_gram" -> ((s, d) => Dedup.ensureGramIndex(s, d)._2),
    "x2_ingest_shingle" -> ((s, d) => Dedup.ensureShingleIndex(s, d)._2))

  def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete()
  }
}
