package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for each left row, the single most recent right row
  * with `rightTime <= leftTime`, per key — the temporal-lookup operator Spark
  * lacks natively (DuckDB/kdb `ASOF JOIN`, pandas `merge_asof`).
  *
  * Spark-first composition (preference (a) of the operator ladder — no custom
  * SparkPlan needed): the right side is converted into validity intervals
  * `[rightTime, lead(rightTime))` with one window pass, after which the as-of
  * semantics become an ordinary equi-join on the key plus a range predicate
  * that matches exactly one interval per left row.
  *
  * Scale shape: one window shuffle on the right side (small: it is the
  * dimension/score table) + one equi-join shuffle on the key. Each left row
  * matches ≤ 1 right row, so there is no fan-out. Catalyst plans the equi key
  * as the join key and the range as a join filter — no theta-join explosion.
  */
object AsOfJoin {

  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: Column, rightTime: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(right(_)): _*).orderBy(rightTime)
    val withValidity = right
      .withColumn("__valid_from", rightTime)
      .withColumn("__valid_to", lead(rightTime, 1).over(w))
    val keyCond = keys.map(k => left(k) === withValidity(k)).reduce(_ && _)
    val rangeCond = leftTime >= col("__valid_from") &&
      (col("__valid_to").isNull || leftTime < col("__valid_to"))
    val rightKeyCols = keys.map(withValidity(_))
    left.join(withValidity, keyCond && rangeCond, "left")
      .drop("__valid_from", "__valid_to")
      .drop(rightKeyCols.head, rightKeyCols.tail: _*)
  }
}
