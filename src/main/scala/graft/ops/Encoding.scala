package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-encoding primitives for model-training pipelines: leakage-safe
  * target encoding and the hashing trick. Both are exact-integer
  * constructions — category statistics and hashed counts are BIGINTs,
  * every emitted rate is ONE gated division — so encoded features
  * hash-compare across engines.
  */
object Encoding {

  /** Leave-one-out target encoding of a categorical column: each row gets
    * its category's label mean EXCLUDING itself, enc = (Σy(cat) − y) /
    * (n(cat) − 1) — the standard high-cardinality-categorical feature
    * that, unlike a plain category mean, does not leak the row's own
    * label into its own feature (the difference between offline CV
    * metrics that hold up and ones that don't). Singleton categories
    * gate to NULL (there is no "other rows" mean); the global prior
    * rides along for downstream imputation.
    *
    * Scale shape: ONE map-combined aggregate to |categories| rows,
    * broadcast back over the fact — the fact table never shuffles. At
    * web-scale cardinality (categories beyond broadcast size) swap the
    * hint for a plain equi-join; the algebra is unchanged.
    */
  def targetEncodeLOO(df: DataFrame, catCol: Column, label: Column): DataFrame = {
    val base = df.withColumn("__cat", catCol).withColumn("__y", label.cast("long"))
    val stats = base.groupBy(col("__cat"))
      .agg(sum(col("__y")).as("__cat_sum"), count(lit(1)).as("__cat_cnt"))
    val prior = base.agg(
      sum(col("__y")).as("__tot_sum"), count(lit(1)).as("__tot_cnt"))
    base
      .join(broadcast(stats), Seq("__cat"))
      .crossJoin(broadcast(prior))
      .withColumn("enc_loo",
        when(col("__cat_cnt") > 1,
          (col("__cat_sum") - col("__y")).cast("double") /
            (col("__cat_cnt") - 1).cast("double")))
      .withColumn("prior",
        when(col("__tot_cnt") > 0,
          col("__tot_sum").cast("double") / col("__tot_cnt").cast("double")))
      .drop("__cat", "__cat_sum", "__tot_sum", "__tot_cnt")
      .withColumnRenamed("__y", "y")
      .withColumnRenamed("__cat_cnt", "cat_cnt")
  }

  /** Leakage-safe standardization: z-scores for EVERY row from moments
    * fitted on the TRAIN rows only — the fit/transform split that keeps
    * validation statistics out of the features (fitting on the full
    * frame is the classic silent leak). The transform is algebraically
    * reduced to exact integers: z = (x·n_train − Σx) / √(n_train·Σx² −
    * (Σx)²) — numerator an exact DECIMAL(38), ONE correctly-rounded
    * sqrt, ONE division, so scores hash-compare. σ is the population
    * deviation of the train split; zero-variance fits gate to NULL.
    * Scale shape: one map-combined train aggregate, broadcast back —
    * the fact never shuffles.
    */
  def standardizeByTrain(df: DataFrame, valueCents: Column,
                         trainFlag: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.withColumn("__x", valueCents.cast("long"))
      .withColumn("is_train", trainFlag.cast("boolean"))
    val stats = base.filter(col("is_train"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
        sum(dec(col("__x")) * dec(col("__x"))).cast("decimal(38,0)").as("__sxx"))
    base.crossJoin(broadcast(stats))
      .withColumn("z", {
        val d = (dec(col("__n")) * col("__sxx") -
          dec(col("__sx")) * dec(col("__sx"))).cast("double")
        when(col("__n") > 0 && d > 0.0,
          (dec(col("__x")) * dec(col("__n")) - dec(col("__sx"))).cast("double") /
            sqrt(d))
      })
      .withColumnRenamed("__x", "x_cents")
      .drop("__n", "__sx", "__sxx")
  }

  /** The hashing trick (Weinberger et al., "Feature Hashing for Large
    * Scale Multitask Learning", ICML 2009): whitespace tokens of
    * `textCol` land in `k` hashed feature slots; emitted SPARSE as
    * `(doc, idx, cnt, signed_sum)` rows — `cnt` the plain collision-summed
    * count and `signed_sum` the ±1-signed variant whose collisions cancel
    * in expectation (the paper's unbiased inner-product construction).
    * Hash and sign are two independent fields of the md5U32 uniform, so
    * the layout replays bit-exactly anywhere.
    *
    * Sparse IS the scale shape: a dense k-vector per document multiplies
    * storage by k/|distinct tokens|; the sparse rows aggregate
    * map-side and downstream dot products are (doc, idx)-keyed joins.
    */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
                  k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val u32 = graft.functions.Md5Field.md5U32(concat(lit("fh:"), col("tok")))
    docs
      .select(col(idCol).as("doc"), explode(graft.dedup.Dedup.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc"), pmod(u32, lit(k.toLong)).as("idx"),
        when(pmod((u32 / k).cast("long"), lit(2L)) === 0, lit(1L))
          .otherwise(lit(-1L)).as("sgn"))
      .groupBy(col("doc"), col("idx"))
      .agg(count(lit(1)).as("cnt"), sum(col("sgn")).as("signed_sum"))
  }
}
