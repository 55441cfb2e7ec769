package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Sums shuffle write/read bytes over completed stages since the last
  * [[reset]] — the scale probes' per-sample shuffle columns.
  */
private[tools] class ShuffleListener extends SparkListener {
  val write = new java.util.concurrent.atomic.AtomicLong
  val read = new java.util.concurrent.atomic.AtomicLong
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }
  def reset(): Unit = { write.set(0L); read.set(0L) }
}
