package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics of one span: every stage whose job ran under the span's
  * job group, summed, plus the task durations of each stage (for skew).
  */
final class SpanTotals {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var inputBytes = 0L
  var persistDiskBytes = 0L
  var peakExecBytes = 0L
  val stageDurations = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val stageShuffleRead = mutable.Map[Int, Long]()

  def mb(bytes: Long): Double = bytes / 1048576.0
  def tempBytes: Long = shuffleWriteBytes + spillBytes + persistDiskBytes

  /** max/median task time in the stage that read the most shuffle bytes
    * (the join stage on a shuffle path), else in the longest stage. */
  def taskSkew: Double = {
    val multi = stageDurations.filter(_._2.size >= 2)
    if (multi.isEmpty) return 1.0
    val byRead = multi.keys.maxBy(s => stageShuffleRead.getOrElse(s, 0L))
    val stage =
      if (stageShuffleRead.getOrElse(byRead, 0L) > 0) byRead
      else multi.maxBy(_._2.sum)._1
    val d = multi(stage).sorted
    val med = Stats.median(d.map(_.toDouble).toSeq)
    if (med <= 0) 1.0 else d.last / med
  }
}

/** Tags every stage with the job group (the benchmark span) whose job
  * submitted it, and sums the task metrics per span. Spark delivers
  * listener events on one thread, so the maps are only written there;
  * readers drain the bus first and then read under the lock.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, String]()
  private val totals = mutable.Map[String, SpanTotals]()
  @volatile private var currentSpan: String = null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orNull
    currentSpan = span
    if (span != null) e.stageIds.foreach(s => stageSpan(s) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, null)
    val m = e.taskMetrics
    if (span == null || m == null) return
    val t = totals.getOrElseUpdate(span, new SpanTotals)
    t.tasks += 1
    t.cpuNs += m.executorCpuTime
    t.runMs += m.executorRunTime
    t.gcMs += m.jvmGCTime
    t.spillBytes += m.diskBytesSpilled
    t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    val read = m.shuffleReadMetrics.totalBytesRead
    t.shuffleReadBytes += read
    t.inputBytes += m.inputMetrics.bytesRead
    t.peakExecBytes = math.max(t.peakExecBytes, m.peakExecutionMemory)
    t.stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
      e.taskInfo.duration
    t.stageShuffleRead(e.stageId) = t.stageShuffleRead.getOrElse(e.stageId, 0L) + read
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val span = currentSpan
    if (span != null && info.blockId.isRDD && info.storageLevel.useDisk)
      totals.getOrElseUpdate(span, new SpanTotals).persistDiskBytes += info.diskSize
  }

  /** The totals of `span` once every event posted so far is delivered. */
  def totalsOf(sc: SparkContext, span: String): SpanTotals = {
    org.apache.spark.ListenerDrain(sc)
    synchronized(totals.getOrElse(span, new SpanTotals))
  }
}
