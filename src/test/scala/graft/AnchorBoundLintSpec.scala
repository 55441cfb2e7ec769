package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint fencing the eager-anchor scale envelope (VERDICT r17
  * #6). Every eager materialization goes through [[Anchor]], whose
  * scaladoc states the storage caveat and what each bound class means, and
  * names its bound as a typed argument. This spec keeps that structural:
  *  - no `localCheckpoint(` anywhere in the main tree, dev tools included,
  *    outside `Anchor.scala`;
  *  - the number of `.anchor(Bound.<Class>` sites per class matches the
  *    inventory below, so a new anchor of ANY class, or one whose bound is
  *    not a literal class, fails until its author updates the inventory
  *    (the FoldAnchorLint whitelist discipline: drift forces a human look);
  *  - the `Bound.Data` sites are exactly the documented exceptions, named
  *    by file and enclosing def, each carrying its reason at the site.
  */
class AnchorBoundLintSpec extends AnyFunSuite {

  /** bound class -> `.anchor(Bound.<Class>` sites across the main tree. */
  private val inventory: Map[String, Int] = Map(
    "Metadata" -> 40, // group/class frames, histograms, k-row totals, top-k lists
    "Fixture" -> 34, // planted-graph, versioned, media and delta-batch fixtures
    "PerEntity" -> 39, // one row per user/doc/node/part
    "Data" -> 3 // the exceptions below
  )

  /** The data-scale exceptions, as `file:enclosing def`. */
  private val dataSites: Seq[String] = Seq(
    "NgramLm.scala:perplexityFilter", // one score row per test doc
    "VersionedQueries.scala:branchMergeQ", // the snapshot it commits
    "Winnowing.scala:fingerprintPairs" // the selected-fingerprint table
  )

  // a bound that is not a `Bound.<Class>` literal counts under its own
  // name, which is not in the inventory, so the spec fails on it
  private val site = "\\.anchor\\(\\s*(?:Bound\\.)?(\\w+)".r

  test("no eager materialization bypasses Anchor") {
    val raw = MainSources.all.collect {
      case (f, t) if f.getName != "Anchor.scala" &&
          "localCheckpoint\\s*\\(".r.findFirstIn(t).isDefined => f.getName
    }
    assert(raw.isEmpty,
      s"raw localCheckpoint outside Anchor.scala: ${raw.mkString(", ")}. " +
        "Materialize through `df.anchor(bound)` (graft.Anchor).")
  }

  test("every eager-anchor site is inventoried with a documented bound") {
    val counts = MainSources.all
      .flatMap { case (_, t) => site.findAllMatchIn(t).map(_.group(1)) }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val drift = (counts.keySet ++ inventory.keySet).toSeq.sorted.flatMap { k =>
      val have = counts.getOrElse(k, 0)
      val want = inventory.getOrElse(k, 0)
      if (have != want) Seq(s"$k: $have sites (inventoried $want)") else Nil
    }
    assert(drift.isEmpty,
      "anchor site count per bound class drifted from the inventory. An " +
        "anchor stores NON-RELIABLE blocks (see graft.Anchor): every new " +
        "site must name its true bound and be counted in " +
        s"AnchorBoundLintSpec's inventory. Drift: ${drift.mkString("; ")}")
  }

  test("data-scale anchors are exactly the documented exceptions") {
    val found = MainSources.all.flatMap { case (f, t) =>
      site.findAllMatchIn(t).filter(_.group(1) == "Data").map { m =>
        val enclosing = "\\bdef\\s+(\\w+)".r.findAllMatchIn(t.substring(0, m.start))
          .toSeq.lastOption.fold("?")(_.group(1))
        s"${f.getName}:$enclosing"
      }
    }.sorted
    assert(found == dataSites,
      s"Bound.Data sites ${found.mkString(", ")} differ from the documented " +
        s"exceptions ${dataSites.mkString(", ")}")
  }
}
