package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Md5Field.md5U32

/** Count-Min sketch: a mergeable `depth × width` integer counter grid for
  * approximate frequency queries over corpora too large (or too streaming)
  * to keep exact per-item counts — the classic heavy-hitter summary
  * (Cormode & Muthukrishnan 2005).
  *
  * Why an engine wants it at 100 TB: the exact token/entity frequency table
  * is itself data-sized (billions of keys), while the sketch is a FIXED
  * `depth·width`-row table regardless of corpus size — it map-side combines
  * into ≤ `depth·width` rows per partition before the (only) shuffle, unions
  * across days/sources by cell-wise addition, and broadcasts to serve any
  * number of point queries without touching the corpus again. Estimates are
  * **overestimate-only** (every cell a true count plus non-negative
  * collision mass; the min over `depth` rows keeps the guarantee), which is
  * exactly the right one-sidedness for "is this item frequent enough to
  * block/keep" pipeline gates.
  *
  * Determinism: cells are `md5U32("cm<r>:" || item) mod width` — the same
  * deterministic uniform the sampling operators use, so a verification
  * engine replays the whole grid bit-exactly (no seed state, no
  * partitioning dependence).
  */
object CountMin {

  private def cellsOf(item: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { r =>
      pmod(md5U32(concat(lit(s"cm$r:"), item.cast("string"))), lit(width.toLong))
    }: _*)

  /** The sketch grid: one row per touched `(r, cell)` with its exact counter
    * (untouched cells are implicitly 0 — readers `coalesce`). One
    * map-combined shuffle of ≤ `depth·width` distinct keys; the result is
    * metadata-sized and mergeable with any other grid of the same shape by
    * `(r, cell)`-wise addition.
    */
  def sketch(items: DataFrame, itemCol: String,
             depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    items
      .select(posexplode(cellsOf(col(itemCol), depth, width)).as(Seq("r", "cell")))
      .groupBy(col("r"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates for `queryItems`: probe the `depth` cells of
    * each item against the broadcast grid, estimate = min over rows. The
    * corpus is never re-read; cost is `depth` rows per query item joined to
    * a metadata-sized table.
    */
  def estimate(grid: DataFrame, queryItems: DataFrame, itemCol: String,
               depth: Int = 4, width: Int = 512): DataFrame =
    queryItems
      .select(col(itemCol).as("item"),
        posexplode(cellsOf(col(itemCol), depth, width)).as(Seq("r", "cell")))
      .join(broadcast(grid), Seq("r", "cell"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
}
