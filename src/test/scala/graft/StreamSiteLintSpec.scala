package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint keeping `graft.queries.OneShotStream` the one stream
  * lifecycle in the main tree: a memory sink, an `AvailableNow` trigger and
  * a blocking wait on a stream appear only in `OneShotStream.scala`, so a
  * new live-stream query is one `OneShotStream.drain` or `run` call and
  * cannot leak its sink's temp view.
  */
class StreamSiteLintSpec extends AnyFunSuite {

  private val site =
    "format\\(\"memory\"\\)|AvailableNow|awaitTermination\\(|processAllAvailable\\(".r

  test("streams are started, awaited and read back only by OneShotStream") {
    val sites = MainSources.all.flatMap { case (f, t) =>
      if (f.getName == "OneShotStream.scala") Nil
      else t.linesIterator.zipWithIndex.collect {
        case (line, i) if site.findFirstIn(line).nonEmpty => s"${f.getName}:${i + 1}"
      }.toSeq
    }
    assert(sites.isEmpty,
      s"hand-rolled stream lifecycles: ${sites.mkString(", ")}. Run a " +
        "one-shot stream through graft.queries.OneShotStream.")
  }
}
