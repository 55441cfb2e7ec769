package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Decision-stump feature ranking by Gini impurity — the feature-selection
  * audit run before training a classifier ([[Perceptron]]) or building a
  * rule filter: for each candidate token, how much does splitting the
  * corpus on "document contains token" purify the label?
  *
  * Exactness: every input to the score is an exact BIGINT count (docs n,
  * positives p, docs-with-token n1, positives-with-token p1 — presence
  * counts over a `distinct` (doc, token) frame), and the gain
  * `Gini(parent) − Σ (n_c/n)·Gini(child_c)` is ONE fixed-operand-order
  * IEEE expression over them — the Spearman/Flesch discipline, so the
  * score itself hash-compares across engines. Empty children contribute 0.
  *
  * Scale shape: one distinct-presence aggregate (map-combined), one
  * per-token count aggregate joined to the label, a 30-token
  * TakeOrdered cut (no global sort), and the 1-row parent-count frame
  * broadcasts into the final projection. Output is 30 rows.
  */
object FeatureSelect {

  def giniStumps(docs: DataFrame, labelCol: Column): DataFrame = {
    val base = docs.select(col("doc_id").as("doc"), labelCol.cast("long").as("y"),
        graft.dedup.Dedup.tokens(col("text")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val presence = base
      .select(col("doc"), col("y"), explode(col("t")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
    val perToken = presence.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("y")).as("p1"))
      .orderBy(col("df").desc, col("token"))
      .limit(30)
    val parent = base.agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
    def gini(pos: Column, tot: Column): Column =
      when(tot > 0,
        lit(1.0) -
          (pos.cast("double") / tot.cast("double")) *
            (pos.cast("double") / tot.cast("double")) -
          ((tot - pos).cast("double") / tot.cast("double")) *
            ((tot - pos).cast("double") / tot.cast("double")))
        .otherwise(0.0)
    perToken.crossJoin(broadcast(parent))
      .withColumn("gini_gain",
        gini(col("p"), col("n")) -
          (col("df").cast("double") / col("n").cast("double")) *
            gini(col("p1"), col("df")) -
          ((col("n") - col("df")).cast("double") / col("n").cast("double")) *
            gini(col("p") - col("p1"), col("n") - col("df")))
      .select(col("token"), col("df"), col("p1"), col("gini_gain"))
  }
}
