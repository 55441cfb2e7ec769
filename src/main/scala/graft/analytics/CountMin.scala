package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Md5Field.md5U32

/** Count-Min sketch: a mergeable `Depth × Width` (4 × 512) integer counter grid for
  * approximate frequency queries over corpora too large (or too streaming)
  * to keep exact per-item counts — the classic heavy-hitter summary
  * (Cormode & Muthukrishnan 2005).
  *
  * Why an engine wants it at 100 TB: the exact token/entity frequency table
  * is itself data-sized (billions of keys), while the sketch is a FIXED
  * `Depth·Width`-row table regardless of corpus size — it map-side combines
  * into ≤ `Depth·Width` rows per partition before the (only) shuffle, unions
  * across days/sources by cell-wise addition, and broadcasts to serve any
  * number of point queries without touching the corpus again. Estimates are
  * **overestimate-only** (every cell a true count plus non-negative
  * collision mass; the min over `Depth` rows keeps the guarantee), which is
  * exactly the right one-sidedness for "is this item frequent enough to
  * block/keep" pipeline gates.
  *
  * Determinism: cells are `md5U32("cm<r>:" || item) mod Width` — the same
  * deterministic uniform the sampling operators use, so a verification
  * engine replays the whole grid bit-exactly (no seed state, no
  * partitioning dependence).
  */
object CountMin {

  private val Depth = 4
  private val Width = 512

  private def cellsOf(item: Column): Column =
    array((0 until Depth).map { r =>
      pmod(md5U32(concat(lit(s"cm$r:"), item.cast("string"))), lit(Width.toLong))
    }: _*)

  /** The sketch grid: one row per touched `(r, cell)` with its exact counter
    * (untouched cells are implicitly 0 — readers `coalesce`). One
    * map-combined shuffle of ≤ `Depth·Width` distinct keys; the result is
    * metadata-sized and mergeable with any other grid of the same shape by
    * `(r, cell)`-wise addition.
    */
  def sketch(items: DataFrame, itemCol: String): DataFrame =
    items
      .select(posexplode(cellsOf(col(itemCol))).as(Seq("r", "cell")))
      .groupBy(col("r"), col("cell"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-frequency estimates for `queryItems`: probe the `Depth` cells of
    * each item against the broadcast grid, estimate = min over rows. The
    * corpus is never re-read; cost is `Depth` rows per query item joined to
    * a metadata-sized table.
    */
  def estimate(grid: DataFrame, queryItems: DataFrame, itemCol: String): DataFrame =
    queryItems
      .select(col(itemCol).as("item"),
        posexplode(cellsOf(col(itemCol))).as(Seq("r", "cell")))
      .join(broadcast(grid), Seq("r", "cell"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
}
