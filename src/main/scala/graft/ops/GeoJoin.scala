package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial radius self-join by grid binning — the bin-and-conquer shape
  * every distributed spatial engine uses (reference scope: the telematics
  * lake stores GPS points; proximity queries are the natural next read).
  *
  * Points land in `radius`-sized grid cells; each point is exploded to its
  * 3×3 cell neighborhood on ONE side only and equi-joined on the cell key,
  * so every candidate pair materializes exactly once per ordered pair and
  * the `id_a < id_b` filter keeps one — no distinct, no cartesian, and the
  * exact distance predicate prunes the corner candidates. Cost is
  * O(Σ cell_pop²) over occupied cells: the valve is the cell size — it
  * equals the query radius, so candidates are only points that COULD match
  * (within 2·r∞). A pathological all-points-one-cell distribution is a
  * data problem (salt the dense cell and verify both halves), same playbook
  * as [[SkewJoin]].
  *
  * Integer coordinates and squared distance keep every emitted column
  * exact — cross-engine hash-comparable with no floating point anywhere.
  */
object GeoJoin {

  /** Pairs of points within `radius` (inclusive, Euclidean) of each other.
    * `points` needs (`id`, `x`, `y`) integer columns; emits
    * (id_a, id_b, dist2) with id_a < id_b, dist2 = squared distance.
    */
  def radiusJoin(points: DataFrame, radius: Long): DataFrame = {
    require(radius > 0, s"radius must be positive, got $radius")
    def cell(c: Column): Column = floor(c.cast("long").cast("double") / radius).cast("long")
    val base = points.select(col("id").cast("long").as("id"),
      col("x").cast("long").as("x"), col("y").cast("long").as("y"))
    val binned = base
      .withColumn("cx", cell(col("x"))).withColumn("cy", cell(col("y")))
    // one side carries its 3x3 neighborhood; the other its own cell — each
    // candidate ordered pair materializes exactly once (a point has ONE
    // cell, listed once in the other point's 9-cell neighborhood)
    val probe = binned
      .withColumn("ddx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("ddy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("ddx")).as("cellx"), (col("cy") + col("ddy")).as("celly"))
    val build = binned.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx").as("cellx"), col("cy").as("celly"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    probe.join(build, Seq("cellx", "celly"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist2", d2)
      .filter(col("dist2") <= radius * radius)
      .select(col("id_a"), col("id_b"), col("dist2"))
  }

  /** Nearest neighbor within `radius` per point: both directions of
    * [[radiusJoin]]'s pairs, min by (dist2, neighbor id) — deterministic
    * ties — via one aggregate; points with no neighbor inside the radius
    * are absent (the radius bound is what keeps the search distributed —
    * unbounded NN needs an expanding-ring or a spatial index).
    */
  def nearestWithin(points: DataFrame, radius: Long): DataFrame = {
    val pairs = radiusJoin(points, radius)
    val both = pairs.select(col("id_a").as("id"), col("id_b").as("nn"), col("dist2"))
      .unionByName(pairs.select(col("id_b").as("id"), col("id_a").as("nn"),
        col("dist2")))
    both.groupBy(col("id"))
      .agg(min(struct(col("dist2"), col("nn"))).as("best"))
      .select(col("id"), col("best.nn").as("nn_id"), col("best.dist2").as("dist2"))
  }
}
