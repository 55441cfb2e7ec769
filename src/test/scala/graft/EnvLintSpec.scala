package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint fencing the environment-variable inventory: the main
  * tree reads exactly these variables, each by a string literal, so adding
  * a knob means editing this spec.
  */
class EnvLintSpec extends AnyFunSuite {

  private val inventory = Set(
    "SPARK_GRAFT_CPUS", // local cores (GraftSession.cpus)
    "SPARK_GRAFT_SF_DIR", // Bench's sf dir
    "SPARK_GRAFT_BENCH_OUT", // Bench's per-query sink
    "SPARK_GRAFT_ONLY", // Verify's query subset
    "SPARK_GRAFT_EXTRA_CONF" // ProfileOne's extra session confs
  )

  private val read = "\\bsys\\.env\\b|\\bSystem\\.getenv\\b".r
  private val literal =
    "^\\s*(?:\\.\\s*(?:get|getOrElse|apply|contains)\\s*)?\\(\\s*\"(\\w+)\"".r

  test("the main tree reads exactly the inventoried env variables, by literal") {
    val reads = MainSources.all.flatMap { case (f, t) =>
      read.findAllMatchIn(t).map(m =>
        f.getName -> literal.findFirstMatchIn(t.substring(m.end)).map(_.group(1)))
    }
    val dynamic = reads.collect { case (f, None) => f }
    assert(dynamic.isEmpty,
      s"env reads without a string-literal name in ${dynamic.mkString(", ")}")
    val names = reads.flatMap(_._2).toSet
    assert(names == inventory,
      s"env variables read: ${names.toSeq.sorted.mkString(", ")}; inventoried: " +
        inventory.toSeq.sorted.mkString(", "))
  }
}
