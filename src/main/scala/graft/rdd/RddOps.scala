package graft.rdd

import org.apache.spark.rdd.{PairRDDFunctions, RDD}
import org.apache.spark.rdd.RDD.rddToPairRDDFunctions
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** Monoid average with an integer-cents buffer ((sum_cents, count)) —
  * exact and associative, so the result is bitwise-identical under any
  * partitioning AND matches a sequential oracle (a plain double-sum
  * buffer is order-dependent at full precision). Registered via `udaf()`
  * in queries.Extra.q41MonoidAvg (A5). */
class CentsAvg extends Aggregator[Double, (Long, Long), Double] {
  def zero: (Long, Long) = (0L, 0L)
  def reduce(b: (Long, Long), v: Double): (Long, Long) =
    (b._1 + math.round(v * 100), b._2 + 1)
  def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, a._2 + b._2)
  def finish(b: (Long, Long)): Double = (b._1.toDouble / 100.0) / b._2
  def bufferEncoder: Encoder[(Long, Long)] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
  def outputEncoder: Encoder[Double] = org.apache.spark.sql.Encoders.scalaDouble
}

/** RDD-family row/partition operators (SURVEY §2.2 R1–R7, §2.5 A1–A7,
  * §2.8 P1–P5) — the reference's chapter 1–5 surface.
  *
  * Where the reference's point is the *result*, our idiomatic form is a
  * DataFrame expression (see queries.Core); this module exists for the
  * operators whose point is typed or partition-level *semantics*: the
  * 4-way reduction family, partition-preserving mapValues, in-mapper
  * combiners, glom. Worker closures run in-JVM — the Python
  * pickle/fork boundary of the reference (SURVEY §3.1) does not exist.
  */
object RddOps {

  // ----- R2: mapValues (R1/R3/R4 map/flatMap/filter are the Dataset
  // operators themselves — COVERAGE.md names the queries using them) ---
  /** R2: value-only transform on a pair RDD — preserves keys AND
    * partitioning (mapValues contract, mapvalues_transformation.py:8-18). */
  def mapValuesPreserving[K: scala.reflect.ClassTag, V: scala.reflect.ClassTag, U](
      rdd: RDD[(K, V)])(f: V => U): RDD[(K, U)] =
    rdd.mapValues(f)

  // ----- A1–A4: the 4-way reduction comparison ------------------------
  /** All four reductions of the reference's warmup (reduction_warmup.py:
    * 38-79), returning identical results — the monoid-law demonstration.
    * reduceByKey/aggregateByKey/combineByKey map-side combine; groupByKey
    * ships every value (the OOM warning case). */
  def sumByKey4Ways(rdd: RDD[(String, Int)]): Seq[Map[String, Int]] = {
    val viaReduce    = rdd.reduceByKey(_ + _)
    val viaGroup     = rdd.groupByKey().mapValues(_.sum)
    val viaAggregate = rdd.aggregateByKey(0)(_ + _, _ + _)
    val viaCombine   = rdd.combineByKey((v: Int) => v, (c: Int, v: Int) => c + v,
                                        (a: Int, b: Int) => a + b)
    Seq(viaReduce, viaGroup, viaAggregate, viaCombine).map(_.collect().toMap)
  }

  // ----- A5: monoid (sum,count) average -------------------------------
  /** The (sum, count) monoid average as a typed Aggregator — the buffer is
    * associative+commutative, so partial aggregation is safe under any
    * partitioning (the property movie_avg_rating.py:107-126 proves the
    * naive pairwise-mean lacks). */
  class MonoidAvg[IN](f: IN => Double) extends Aggregator[IN, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: IN): (Double, Long) = (b._1 + f(a), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(b: (Double, Long)): Double = b._1 / b._2
    def bufferEncoder: Encoder[(Double, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = org.apache.spark.sql.Encoders.scalaDouble
  }

  /** The deliberately WRONG pairwise-mean reduction, kept as the
    * counter-example twin (movie_avg_rating.py:107-111): not associative,
    * partition-count-dependent. */
  def wrongMeanByKey(rdd: RDD[(String, Double)]): Map[String, Double] =
    rdd.reduceByKey((x, y) => (x + y) / 2).collect().toMap

  // ----- A6/A7: in-mapper combiners -----------------------------------
  /** A7: one hashmap per partition, ≤ |keyspace| pairs emitted per
    * partition (dna_base_count_ver_3.py:34-60 shape, generalized). */
  def partitionCombineCounts[T](rdd: RDD[T])(keyOf: T => String): RDD[(String, Long)] =
    rdd.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t => val k = keyOf(t); m.update(k, m.getOrElse(k, 0L) + 1L) }
      m.iterator
    }.reduceByKey(_ + _)

  /** FASTA record classifier (R7, dna_base_count_ver_1.py:31-47 shape):
    * header lines count records under the "z" sentinel; sequence lines
    * emit one (base, 1) per valid base. */
  def fastaBaseCounts(lines: RDD[String]): Map[String, Long] = {
    val valid = Set('A', 'T', 'C', 'G', 'N')
    lines.flatMap { line =>
      val t = line.trim
      if (t.isEmpty) Iterator.empty
      else if (t.startsWith(">")) Iterator(("z", 1L))
      else t.toUpperCase.iterator.filter(valid).map(c => (c.toString, 1L))
    }.reduceByKey(_ + _).collect().toMap
  }

  // ----- P1–P5 + A7 partition introspection ---------------------------
  def numPartitions(ds: Dataset[_]): Int = ds.rdd.getNumPartitions
  /** P2: glom — materialize partitions (debug/test only). */
  def glom[T](rdd: RDD[T]): Array[Array[T]] = rdd.glom().collect()

  /** Per-partition (min, max, sum, count) stats — partition-visible
    * semantics (mappartitions_transformation.py:66-91). */
  def perPartitionStats(rdd: RDD[Int]): Array[(Int, Int, Long, Long)] =
    rdd.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        var mn = Int.MaxValue; var mx = Int.MinValue; var s = 0L; var n = 0L
        it.foreach { v => if (v < mn) mn = v; if (v > mx) mx = v; s += v; n += 1 }
        Iterator((mn, mx, s, n))
      }
    }.collect()

  /** Tolerant int parser (mappartitions_transformation.py:52-61 skip
    * semantics — bad records dropped, not thrown). */
  def parseIntsTolerant(lines: Dataset[String]): Dataset[Int] = {
    import lines.sparkSession.implicits._
    lines.flatMap(s => s.trim.toIntOption)
  }
}
