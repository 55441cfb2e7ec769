package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance: keep count/sum aggregates
  * current by folding in a CDC delta ([[graft.maintain.Versioned.snapshotDiff]]
  * rows tagged insert/delete; an update is delete+insert of the key)
  * instead of re-aggregating the table.
  *
  * Counts and sums are self-maintainable aggregates: insert contributes
  * (+1, +v), delete (−1, −v), so the maintenance job's cost is
  * O(|delta| + |affected groups|) — at 100 TB the view update touches only
  * the day's changes, never the table. Groups whose count reaches zero are
  * dropped (the group disappeared). min/max are NOT self-maintainable under
  * deletes (a deleted extremum forces a per-group rescan) — deliberately
  * out of scope; that asymmetry is the textbook boundary of delta
  * maintenance.
  */
object Incremental {

  /** `baseAgg` must be `delta`'s source aggregated as
    * (groupCols*, n_rows, sum_<c>*); `delta` carries `__change`
    * ('insert'/'delete'), the group columns, and the summed columns.
    * Returns the updated aggregate, same shape as `baseAgg`.
    */
  def applyDelta(baseAgg: DataFrame, delta: DataFrame, groupCols: Seq[String],
                 sumCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "applyDelta requires at least one group column")
    val sign = when(col("__change") === "insert", lit(1L))
      .when(col("__change") === "delete", lit(-1L))
      .otherwise(raise_error(concat(lit("unknown __change: "), col("__change"))))
    val deltaAgg = delta.groupBy(groupCols.map(col): _*)
      .agg(sum(sign).as("__dn"),
        sumCols.map(c => sum(sign * col(c)).as(s"__d_$c")): _*)
    baseAgg.join(deltaAgg, groupCols, "full_outer")
      .select(groupCols.map(col) ++
        Seq((coalesce(col("n_rows"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
          .as("n_rows")) ++
        sumCols.map(c =>
          (coalesce(col(s"sum_$c"), lit(0L)) + coalesce(col(s"__d_$c"), lit(0L)))
            .as(s"sum_$c")): _*)
      .filter(col("n_rows") > 0)
  }
}
