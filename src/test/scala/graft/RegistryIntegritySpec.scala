package graft

import graft.queries._
import org.scalatest.funsuite.AnyFunSuite

/** The registry is the union of nine per-subsystem maps joined with `++`,
  * which silently keeps only the last of two entries with the same name.
  * Pin the inventory: every query has an oracle and vice versa, and no name
  * is defined in two objects.
  */
class RegistryIntegritySpec extends AnyFunSuite {

  private val inventory = 416

  test("every registry query has an oracle, and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"queries without oracle: ${(q -- o).toSeq.sorted}; " +
      s"oracles without query: ${(o -- q).toSeq.sorted}")
    assert(q.size == inventory && o.size == inventory)
  }

  test("no query name is defined in two subsystem objects") {
    val defs = Seq(TelematicsQueries.defs, AnalyticsQueries.defs, PipelineQueries.defs,
      CurationQueries.defs, VersionedQueries.defs, TpchQueries.defs,
      SelectionQueries.defs, SummaryQueries.defs, StatQueries.defs)
    val oracles = Seq(TelematicsQueries.oracles, AnalyticsQueries.oracles,
      PipelineQueries.oracles, CurationQueries.oracles, VersionedQueries.oracles,
      TpchQueries.oracles, SelectionQueries.oracles, SummaryQueries.oracles,
      StatQueries.oracles)
    def shadowed(maps: Seq[Map[String, _]]) =
      maps.flatMap(_.keys).groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(defs.map(_.size).sum == inventory, s"defined in two objects: ${shadowed(defs)}")
    assert(oracles.map(_.size).sum == inventory,
      s"oracle defined in two objects: ${shadowed(oracles)}")
  }
}
