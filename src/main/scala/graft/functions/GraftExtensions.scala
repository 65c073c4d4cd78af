package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration of the custom Catalyst expressions, two ways:
  *
  *  - [[Registry.register]] — imperative, for an existing session
  *    (`SELECT simhash64(...)` from spark.sql afterwards); functions only;
  *  - [[GraftExtensions]] — `SparkSessionExtensions` injection for
  *    `spark.sql.extensions=graft.functions.GraftExtensions`, the
  *    cluster-wide deployment path (SURVEY §7.4(c) registration point):
  *    the functions plus the [[RewriteTokenize]] optimizer rule, the
  *    [[graft.plans.IntervalJoinStrategy]] planner strategy and the
  *    [[graft.plans.SmallSort]] rule (static and AQE passes) — the last is
  *    the one rule `graft.Sessions.local` installs too, so a cluster
  *    session and a local one plan a root ORDER BY alike.
  */
object Registry {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "tokenize_lower"         -> (es => TokenizeLower(es.head)),
    "minhash_signature"      -> (es => MinHashSignature(es.head, 16)),
    "minhash_3gram"          -> (es => MinHash3Gram(es.head, 16)),
    "simhash64"              -> (es => SimHash64(es.head)),
    "gram3_set_sorted"       -> (es => Gram3SetSorted(es.head)),
    "hash_set_sorted"        -> (es => HashSetSorted(es.head)),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
    "float_vec_dot"          -> (es => FloatVecDot(es(0), es(1))),
    "zorder2"                -> (es => ZOrder2(es(0), es(1))))

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    ext.injectOptimizerRule(_ => RewriteTokenize)
    // the custom-operator tier: plans PointInIntervalJoin → IntervalJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    graft.plans.SmallSort.install(ext)
  }
}
