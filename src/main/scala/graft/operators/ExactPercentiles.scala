package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-percentile latency histogram with the reference's index formulas
  * (SURVEY.md §2.6 A3, `network-latency/processor.go:499-556`):
  *
  *   - mean   = sum / count                     (integer division)
  *   - median = even n: (l[n/2-1] + l[n/2]) / 2 (integer division), odd: l[n/2]
  *   - p95    = l[int(n * 0.95)]                (0-based, double-truncated index)
  *   - p99    = l[int(n * 0.99)]
  *   - bucket counts with strict `<` against the histogram's own percentiles
  *
  * These deliberately differ from textbook percentiles (`percentile()` would
  * interpolate) — the formulas are reproduced exactly for oracle parity.
  *
  * The index formula requires the full multiset, so exactness IS the
  * memory cost: the aggregate buffers each group's distinct values. That
  * is right for group cardinalities like per-(node-pair, msg-type) latency
  * sets (thousands of entries).
  *
  * The double-truncated index is computed as `floor(count * 0.95D)`:
  * `0.95` must be an IEEE double in the oracle too (`CAST(0.95 AS DOUBLE)`
  * in DuckDB — its bare literal is DECIMAL, which rounds differently:
  * e.g. n=60 gives 56 in double math, 57 in decimal math).
  */
object ExactPercentiles {

  /** Single-pass scalable form (default): the custom
    * [[graft.agg.ExactIntHistogramAgg]] aggregate — buffer bounded by
    * distinct values per group, not rows; identical output to the
    * built-ins-only `histogramViaCollect` reference in CatalystNativeSpec
    * (property-tested + oracle-checked). */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.agg.ExactIntHistogramAgg.column(valueCol).as("h"))
      .select((groupCols.map(col) :+ col("h.*")): _*)
}
