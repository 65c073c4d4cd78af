package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** Custom Catalyst expressions (SURVEY §7.4 preference order (b)): native
  * `Expression`s with `doGenCode` that emit a single static kernel call —
  * they stay inside WholeStageCodegen (no UDF serialization, no
  * interpreted higher-order-function lambda dispatch per element).
  *
  * Used where composing built-ins is asymptotically fine but
  * constant-factor hostile: k-permutation MinHash (k passes of
  * interpreted `transform`/`array_min` otherwise) and SimHash (a 64-wide
  * interpreted fold otherwise).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernels.minhash(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.minhash($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextKernels.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

case class TokenizeLower(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenizeLower(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokenizeLower($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeLower =
    copy(child = newChild)
  override def prettyName: String = "tokenize_lower"
}

case class MinHash3Gram(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernels.minhash3gram(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.minhash3gram($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHash3Gram =
    copy(child = newChild)
  override def prettyName: String = "minhash_3gram"
}

case class Gram3SetSorted(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernels.gram3SetSorted(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.gram3SetSorted($c)")
  override protected def withNewChildInternal(newChild: Expression): Gram3SetSorted =
    copy(child = newChild)
  override def prettyName: String = "gram3_set_sorted"
}

case class GramNSetSorted(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernels.gramNSetSorted(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.gramNSetSorted($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): GramNSetSorted =
    copy(child = newChild)
  override def prettyName: String = "gramn_set_sorted"
}

case class HashSetSorted(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernels.hashSetSorted(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.hashSetSorted($c)")
  override protected def withNewChildInternal(newChild: Expression): HashSetSorted =
    copy(child = newChild)
  override def prettyName: String = "hash_set_sorted"
}

case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}

/** Dot product over array<float> in double, sequential fold — bitwise
  * equal to the `aggregate(zip_with(...))` SQL form it replaces. */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.dotFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.dotFloat($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FloatVecDot =
    copy(left = l, right = r)
  override def prettyName: String = "float_vec_dot"
}

/** Nearest-centroid assignment against a trained centroid matrix —
  * argmax over k dots in ONE expression. The naive declarative form
  * (`array_max(array(struct(vecDot(emb, c0), 0), ..., struct(..., -k)))`)
  * inlines k dot kernels as separate expression terms, so the generated
  * code and the serialized plan both grow O(k·d): at k=1600, d=64 that
  * measured 1.8 MB task binaries and assignment-dominated walls
  * (BENCHMARKS r13, the k-means dial section). Here the matrix rides
  * `ctx.addReferenceObj` — one object in the plan's references array,
  * model-sized on the wire — and the kernel is one two-level loop the
  * JIT compiles once. Bit-identical to the struct form: same
  * per-centroid double fold, and `Double.compare` reproduces Spark's
  * total ordering (ties → lowest cid, like max over negcid).
  * `cents` is a Seq-of-Seq so the case class keeps structural equality
  * (Catalyst canonicalization); the kernel-facing array is derived
  * lazily and serializes with the reference object. */
case class NearestCentroid(child: Expression, cents: Seq[Seq[Float]])
    extends UnaryExpression {
  @transient private lazy val matrix: Array[Array[Float]] =
    cents.map(_.toArray).toArray
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    SpatialKernels.nearestCentroid(input.asInstanceOf[ArrayData], matrix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", matrix, "float[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SpatialKernels.nearestCentroid($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroid"
}

/** Product-quantization encoder: array<float> → array<int> of M
  * subspace codes in ONE expression — [[NearestCentroid]]'s loop
  * treatment applied to PQ's per-subspace argmin, which as an
  * expression tree is M×K inlined dot terms (256 at the default
  * M=K=16; 4096 at the literature-standard K=256 — past what codegen
  * tolerates). Codebooks and the precomputed ||c||²/2 table ride
  * `addReferenceObj`; semantics are bit-identical to the tree form
  * (AssignmentSpec pins row-for-row equality and the tie-break). */
case class PqEncodeCodes(child: Expression, books: Seq[Seq[Seq[Float]]])
    extends UnaryExpression {
  @transient private lazy val matrix: Array[Array[Array[Float]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val halves: Array[Array[Double]] =
    books.map(_.map(c => c.map(x => x.toDouble * x).sum / 2.0).toArray).toArray
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SpatialKernels.pqEncode(input.asInstanceOf[ArrayData], matrix, halves)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refB = ctx.addReferenceObj("pqBooks", matrix, "float[][][]")
    val refH = ctx.addReferenceObj("pqHalves", halves, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SpatialKernels.pqEncode($c, $refB, $refH)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

/** [[NearestCentroid]]'s integer-exact twin for the PORTABLE k-means
  * path (q135): micro vectors against unit-quantized integer centroids,
  * argmax by plain long dot, ties → lowest cid
  * ([[SpatialKernels.nearestCentroidMicro]]). Every decision is BIGINT
  * arithmetic, so the q135 DuckDB oracle recomputes the assignment
  * exactly (ORDER BY dot DESC, cid). Same O(1)-plan property as
  * [[NearestCentroid]]: the matrix rides `addReferenceObj`. */
case class NearestCentroidMicro(child: Expression, cents: Seq[Seq[Long]])
    extends UnaryExpression {
  @transient private lazy val matrix: Array[Array[Long]] =
    cents.map(_.toArray).toArray
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    SpatialKernels.nearestCentroidMicro(input.asInstanceOf[ArrayData], matrix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("microCentroids", matrix, "long[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SpatialKernels.nearestCentroidMicro($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroidMicro =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroid_micro"
}

/** Bloom-prefiltered wedge-pair enumerator for the oriented triangle
  * census: array<long> of π-sorted out-neighbors → array<struct<x,y>>
  * of the i<j pairs whose id-canonical closing key might be an edge
  * ([[SpatialKernels.bloomedWedgePairs]]). Two structural properties
  * the filter-expression shape it replaces lacked:
  *
  *  1. the sketch rides a BROADCAST, not a plan literal — the task
  *     binary carries the handle (bytes ship once per executor via the
  *     broadcast machinery), so the size cap can honor 1% fpp on graphs
  *     far past the old 32 MiB per-task-binary bound
  *     ([[graft.Tuning.TriangleBloomMaxBits]]);
  *  2. non-closing wedges never materialize as rows — the probe runs
  *     inside the pair loop on primitive array reads, not on a
  *     generated join row per wedge.
  *
  * `bloom` may be null (empty edge set): every pair emits. Equality is
  * by broadcast reference — one instance per census plan, never shared. */
case class BloomedWedgePairs(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("x", elemType, nullable = false),
      StructField("y", elemType, nullable = false))), containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SpatialKernels.bloomedWedgePairs(input.asInstanceOf[ArrayData],
      if (bloom == null) null else bloom.value, elemType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfJava =
      if (bloom == null) "(org.apache.spark.util.sketch.BloomFilter) null"
      else {
        val ref = ctx.addReferenceObj("wedgeBloomBc", bloom,
          "org.apache.spark.broadcast.Broadcast")
        // hoist .value() to instance init: TorrentBroadcast.value() is an
        // assertValid + soft-ref deref per call — cheap but per ROW in
        // the consume path; one resolve per generated-class instance is
        // the right scope (r14 review find)
        // fresh name per expression: two censuses composed in one plan
        // must not share a hoisted filter variable
        ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter",
          "wedgeBloom",
          v => s"$v = (org.apache.spark.util.sketch.BloomFilter) $ref.value();")
      }
    val dtRef = ctx.addReferenceObj("wedgeElemType", elemType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SpatialKernels.bloomedWedgePairs($c, $bfJava, $dtRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomedWedgePairs =
    copy(child = newChild)
  override def prettyName: String = "bloomed_wedge_pairs"
}

/** Broadcast-transport Bloom membership probe: long → boolean, the
  * [[exprs.bloomMightContain]] literal probe with the sketch riding a
  * BROADCAST handle instead of a foldable byte-array plan literal
  * (guide §3.2: "the filter itself must … be broadcast"). Same probe
  * algorithm as Spark's `BloomFilterMightContain` (both call
  * `BloomFilter.mightContainLong` on the identical sketch bytes), so
  * probe decisions are bit-identical to the literal form —
  * FunctionsSpec pins column equality. Null input → null, like the
  * native expression (a null key can never assert membership). The
  * plan carries only the handle; the bytes ship once per executor, so
  * corpus-scale sketches (1% fpp at 10⁹ keys ≈ 1.2 GB) stop riding
  * every task binary — the same transport fix as the census's
  * [[BloomedWedgePairs]]. `bloom` must be non-null (empty-corpus
  * callers short-circuit to `lit(false)` before building a probe). */
case class BloomMightContainBc(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any =
    bloom.value.mightContainLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", bloom,
      "org.apache.spark.broadcast.Broadcast")
    // hoist .value() to instance init (the BloomedWedgePairs discipline):
    // TorrentBroadcast.value() is an assertValid + soft-ref deref per
    // call — cheap, but this probe sits in per-row consume paths
    val bf = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter",
      "bloomProbe",
      v => s"$v = (org.apache.spark.util.sketch.BloomFilter) $ref.value();")
    defineCodeGen(ctx, ev, c => s"$bf.mightContainLong($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContainBc =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain_bc"
}

/** Morton/Z-order code of two long columns (low 31 bits each) — the
  * space-filling-curve clustering key for multi-dimension data skipping. */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    SpatialKernels.zOrder2(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SpatialKernels.zOrder2($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder2 =
    copy(left = l, right = r)
  override def prettyName: String = "zorder2"
}

object exprs {
  private def e(c: Column): Expression = GraftBridge.expression(c)
  def minhashSignature(c: Column, k: Int): Column =
    GraftBridge.column(MinHashSignature(e(c), k))
  def simhash64(c: Column): Column = GraftBridge.column(SimHash64(e(c)))
  def tokenizeLower(c: Column): Column = GraftBridge.column(TokenizeLower(e(c)))
  def minhash3gram(c: Column, k: Int): Column =
    GraftBridge.column(MinHash3Gram(e(c), k))
  def hashSetSorted(c: Column): Column = GraftBridge.column(HashSetSorted(e(c)))
  def gram3SetSorted(c: Column): Column = GraftBridge.column(Gram3SetSorted(e(c)))
  def gramNSetSorted(c: Column, n: Int): Column =
    GraftBridge.column(GramNSetSorted(e(c), n))
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCount(e(a), e(b)))
  def vecDot(a: Column, b: Column): Column =
    GraftBridge.column(FloatVecDot(e(a), e(b)))
  def zorder2(a: Column, b: Column): Column =
    GraftBridge.column(ZOrder2(e(a), e(b)))
  def nearestCentroid(c: Column, cents: Array[Array[Float]]): Column =
    GraftBridge.column(NearestCentroid(e(c),
      cents.toSeq.map(_.toSeq)))
  def nearestCentroidMicro(c: Column, cents: Array[Array[Long]]): Column =
    GraftBridge.column(NearestCentroidMicro(e(c),
      cents.toSeq.map(_.toSeq)))
  def bloomedWedgePairs(c: Column,
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    GraftBridge.column(BloomedWedgePairs(e(c), bc))
  /** All i<j pairs of a sorted array as array<struct<x,y>> — the wedge
    * enumerator with no sketch attached: the codegen'd replacement for
    * the interpreted nested-`transform` pair expansion (one JIT'd loop
    * per row instead of per-element lambda dispatch). Generic over
    * atomic element types. */
  def sortedPairs(c: Column): Column =
    GraftBridge.column(BloomedWedgePairs(e(c), null))
  def pqEncodeCodes(c: Column, books: Array[Array[Array[Float]]]): Column =
    GraftBridge.column(PqEncodeCodes(e(c),
      books.toSeq.map(_.toSeq.map(_.toSeq))))

  /** Spark's native bloom sketch pair (the expressions behind the
    * optimizer's runtime join filters), exposed as Columns — they are not
    * in the public FunctionRegistry, but they ARE the codegen'd
    * replacement for a per-row `udf(bf.mightContain)` closure on the
    * ingest path. `bloomFilterAgg` builds the sketch as one aggregation
    * over a LONG column; `bloomMightContain` tests a long against the
    * collected sketch bytes as a foldable plan literal. */
  /** NOTE the clamp: BloomFilterAggregate silently caps both sizes at
    * the runtime-bloom-filter conf maxima (4M items / ~67M bits by
    * default — sized for the optimizer's join filters, not corpus
    * sketches), quietly degrading the realized fpp for lake-scale
    * sizing (stat.bloomFilter had no such cap). This builder stays PURE
    * — callers run the EAGER sketch collection through
    * [[bloomSketchBytes]], which raises the maxima on a session CLONE
    * for exactly that action (a session-wide raise would also let
    * Spark's own injected runtime join filters balloon on unrelated
    * queries, and the thread-local active session is the wrong one
    * under multi-threaded drivers). */
  def bloomFilterAgg(value: Column, expectedItems: Long, numBits: Long): Column =
    GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        e(value),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** Build the bloom sketch of `value` over `src` eagerly, with the
    * runtime-bloom maxima raised to cover the requested sizing — on a
    * SESSION CLONE, never the caller's session. The clamp is read when
    * the aggregate executes, and the r10 review caught the
    * set-then-restore shape this replaces: raising the maxima on the
    * shared session let a CONCURRENT query plan its own injected runtime
    * join filters against the raised caps, and two overlapping scoped
    * raises could restore each other's values out of order. The clone
    * (same SparkContext, independent SQLConf copy) holds the raise for
    * exactly this action; the frame is re-rooted onto it over the same
    * logical plan, so the work (and any cached fragment) is unchanged.
    * The clone shares the executor classloader (artifact isolation is
    * off in `Sessions.local`), so its tasks reuse compiled classes. */
  def bloomSketchBytes(src: org.apache.spark.sql.DataFrame,
                       value: Column, expectedItems: Long,
                       numBits: Long): Array[Byte] = {
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val scoped = GraftBridge.cloneSession(src.sparkSession)
    if (scoped.conf.get(itemsKey).toLong < expectedItems)
      scoped.conf.set(itemsKey, expectedItems.toString)
    if (scoped.conf.get(bitsKey).toLong < numBits)
      scoped.conf.set(bitsKey, numBits.toString)
    GraftBridge.withSession(src, scoped)
      .agg(bloomFilterAgg(value, expectedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]](0)
  }
  def bloomMightContain(bloomBytes: Array[Byte], value: Column): Column =
    GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        e(org.apache.spark.sql.functions.lit(bloomBytes)), e(value)))

  /** [[bloomSketchBytes]] delivered as a BROADCAST handle — the transport
    * every probe site uses since r14 (triangle census wedge filter, batch
    * bloomDedup, the streaming near-dup filter): the sketch bytes ship
    * once per executor via the broadcast machinery instead of riding
    * every task binary as a plan literal, so sketch caps can honor their
    * fpp at corpus scale (see [[graft.Tuning.TriangleBloomMaxBits]]).
    * Returns null when `src` is empty (no sketch to probe — callers
    * short-circuit, keeping the no-false-negative argument trivially
    * true for the empty corpus). */
  def bloomSketchBroadcast(src: org.apache.spark.sql.DataFrame,
                           value: Column, expectedItems: Long, numBits: Long)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter] = {
    val bytes = bloomSketchBytes(src, value, expectedItems, numBits)
    if (bytes == null) null
    else src.sparkSession.sparkContext.broadcast(
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes)))
  }

  /** Probe `value` against a broadcast Bloom sketch — identical
    * decisions to [[bloomMightContain]] over the same sketch bytes
    * (FunctionsSpec pins column equality); see [[BloomMightContainBc]]
    * for why the transport matters at scale. */
  def bloomMightContainBc(
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      value: Column): Column =
    GraftBridge.column(BloomMightContainBc(e(value), bc))
}
