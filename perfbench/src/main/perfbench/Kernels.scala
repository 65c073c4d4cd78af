package perfbench

import graft.functions.{SpatialKernels, TextKernels}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** ns/row of the `graft.functions` kernels, called directly on rows shaped
  * like the data set's (its document texts and embeddings, with seeded
  * codebooks, centroids and neighbour lists), outside any Spark job. An
  * in-JVM nanoTime loop: each kernel is warmed for ten rounds, then timed in
  * five rounds of at least 20 ms, and the median round is reported. */
object Kernels {
  private val Reps = 5
  private val RoundNs = 20000000L

  def measure(texts: Array[String], vecs: Array[Array[Float]], seed: Long): Map[String, Double] = {
    val rng = new scala.util.Random(seed)
    val utf = texts.map(UTF8String.fromString)
    val tokens = utf.map(TextKernels.tokenizeLower)
    val grams = tokens.map(TextKernels.gram3SetSorted)
    val arrays = vecs.map(v => ArrayData.toArrayData(v))
    val m = 16
    val k = 16
    val sub = vecs(0).length / m
    val books = Array.fill(m, k)(Array.fill(sub)(rng.nextFloat() * 2 - 1))
    val halves = books.map(_.map(c => c.map(x => x.toDouble * x).sum / 2))
    val micro = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v.map(x => (x * 1e6).toLong)))
    val cents = Array.fill(16)(Array.fill(vecs(0).length)((rng.nextGaussian() * 1e4).toLong))
    // neighbour lists of 4-40 vertex ids and a Bloom sketch of one edge in
    // three, the census's closure regime
    val nbrs = Array.fill(texts.length)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(4 + rng.nextInt(37))(rng.nextInt(100000).toLong).sorted))
    val bf = BloomFilter.create(200000, 0.03)
    nbrs.foreach { a =>
      val xs = a.toLongArray
      for (i <- xs.indices; j <- i + 1 until xs.length if rng.nextInt(3) == 0) {
        val lo = math.min(xs(i), xs(j)); val hi = math.max(xs(i), xs(j))
        bf.putLong(XXH64.hashLong(hi, XXH64.hashLong(lo, 42L)))
      }
    }
    val n = texts.length
    var sink = 0L
    val kernels: Seq[(String, Int => Unit)] = Seq(
      "tokenizeLower" -> (i => sink += TextKernels.tokenizeLower(utf(i)).numElements()),
      "gram3SetSorted" -> (i => sink += TextKernels.gram3SetSorted(tokens(i)).numElements()),
      "minhash3gram" -> (i => sink += TextKernels.minhash3gram(tokens(i), 16).getLong(0)),
      "sortedIntersectCount" -> (i =>
        sink += TextKernels.sortedIntersectCount(grams(i), grams((i + 1) % n))),
      "pqEncode" -> (i =>
        sink += SpatialKernels.pqEncode(arrays(i % arrays.length), books, halves).getInt(0)),
      "nearestCentroidMicro" -> (i =>
        sink += SpatialKernels.nearestCentroidMicro(micro(i % micro.length), cents)),
      "bloomedWedgePairs" -> (i =>
        sink += SpatialKernels.bloomedWedgePairs(nbrs(i), bf, LongType).numElements()))
    val out = kernels.map { case (name, f) =>
      def round(): Double = {
        val t0 = System.nanoTime()
        var rows = 0L
        while (System.nanoTime() - t0 < RoundNs) {
          var i = 0
          while (i < n) { f(i); i += 1 }
          rows += n
        }
        (System.nanoTime() - t0).toDouble / rows
      }
      (1 to 10).foreach(_ => round()) // warm-up: long enough for the JIT's top tier
      name -> Loop.median((1 to Reps).map(_ => round()))
    }.toMap
    if (sink == 42) println("") // keeps the kernel results live
    out
  }
}
