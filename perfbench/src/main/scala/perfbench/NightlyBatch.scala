package perfbench

import scala.collection.mutable

/** `nightly_batch`: the reference's nightly cron job and `cleanup.sql`
  * ([[DailyCycle]]) followed each night by its share of the pipeline jobs
  * that call registry operators ([[RegistryKernels]]), on one session.
  *
  * A run replays nights 1 to [[DailyCycle.Cycles]] whatever its time. An op is
  * one cycle or one kernel call: [[NightlyBatch.Passes]] passes over the
  * kernels in seeded order, dealt over the nights so that night `d` ends with
  * call `Passes * kernels * d / Cycles` (rounded down).
  */
final class NightlyBatch(ctx: Context) extends Workload {
  import NightlyBatch._
  private val daily = new DailyCycle(ctx)
  private val registry = new RegistryKernels(ctx)

  /** A round empties the live tables and opens the kernels' input tables. */
  val setupRounds = 3

  def setup(round: Int): Unit = {
    daily.setup()
    registry.setup()
  }

  /** One cycle on a throw-away table set, then [[NightlyBatch.WarmupPasses]]
    * untimed kernel passes.
    */
  def warmup(): Unit = {
    daily.warmup()
    (1 to WarmupPasses).foreach(_ => registry.warmup())
  }

  def run(deadlineNs: Long): Seq[OpResult] = {
    val calls = Vector.fill(Passes)(registry.order).flatten
    val out = mutable.ArrayBuffer[OpResult]()
    def op(kind: String, label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      val err =
        try { ctx.tracer.withOp(out.size + 1L, label)(body); "" }
        catch { case e: Throwable => s"$kind threw ${e.getClass.getName}: ${e.getMessage}" }
      out += OpResult(kind, (System.nanoTime() - t0) / 1e6, err.isEmpty, err)
      Gc.settle(ctx.spark)
    }
    var next = 0
    for (d <- 1 to DailyCycle.Cycles) {
      op("cycle", "")(daily.night(d))
      while (next < calls.size * d / DailyCycle.Cycles) {
        val name = calls(next)
        op(name, name)(registry.call(name))
        next += 1
      }
    }
    out.toSeq
  }

  def checks(): Seq[(String, Option[String])] = daily.checks() ++ registry.checks()

  /** The daily tables and the kernels' fixture tables, against the events
    * and registry input parquet they derive from.
    */
  def space(): (Long, Long) = {
    val (dt, di) = daily.space()
    val (rt, ri) = registry.space()
    (dt + rt, di + ri)
  }

  def layerFigures(): Map[String, Double] = daily.layerFigures() ++ registry.layerFigures()
}

object NightlyBatch {
  val Passes = 2
  /** After one cold pass the construction-bound kernels still ran 20–30 %
    * slower in the first measured pass than in the second (JIT).
    */
  val WarmupPasses = 2
}
