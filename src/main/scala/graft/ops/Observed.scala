package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Zero-extra-pass pipeline counters via `Dataset.observe`: data-quality
  * metrics (row counts, null counts, domain violations) accumulate DURING
  * the main job's single pass — the production alternative to running a
  * second aggregation over the input (which at 100 TB means a second
  * 100 TB scan). The observation is an `AggregateExpression` evaluated by
  * `CollectMetricsExec` inline in the plan; it never changes the data
  * flowing through, adds no shuffle, and the result is available from the
  * driver after any action completes.
  *
  * Streaming twin: the same `observe` surfaces per-micro-batch metrics via
  * `StreamingQueryListener` — identical call, both execution modes.
  */
object Observed {

  /** The standard ingest-audit counter set over documents-shaped data:
    * rows, null/empty texts, and byte volume — the "did the upstream feed
    * break" dashboard row. */
  def withIngestAudit(docs: DataFrame, name: String = "ingest"): DataFrame =
    docs.observe(name,
      count(lit(1)).as("rows"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L)).as("empty_texts"),
      sum(length(col("text")).cast("long")).as("text_bytes"))

  /** Observed metrics of the LAST completed action on `df` (batch path).
    *
    * Gotcha: the metrics land on the QueryExecution that actually RAN.
    * `df.collect()` executes `df.queryExecution`; but `df.count()` plans
    * a SEPARATE aggregate QE, and `df.write...` wraps the plan in a
    * fresh QE around the insert command (measured: a write leaves this
    * frame's metrics zeroed) — so read metrics from the frame you
    * collect()ed, or harvest any other action's QE through
    * `GraftBridge.observedFromAction` (a scoped `QueryExecutionListener`
    * + listener-bus flush), the route the index ingests use. */
  def metrics(df: DataFrame, name: String): Option[Row] =
    df.queryExecution.observedMetrics.get(name)
}
