package graft.cdcbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._

/** Jobs, stages and tasks per streaming epoch (keyed by the local property
  * Spark sets on every job of a micro-batch), and executor CPU plus shuffle
  * bytes per benchmark span (keyed by [[TraceListener.SpanKey]]).
  */
final class TraceListener extends SparkListener {
  import TraceListener._

  final class Tally {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val shuffleBytes = new AtomicLong
  }
  val byBatch = new ConcurrentHashMap[Long, Tally]()
  val bySpan = new ConcurrentHashMap[String, Tally]()
  private val stageOwner = new ConcurrentHashMap[Int, Seq[Tally]]()
  private val events = new AtomicLong

  private def owners(props: java.util.Properties): Seq[Tally] =
    if (props == null) Nil
    else Seq(
      Option(props.getProperty(BatchKey)).map(b => byBatch.computeIfAbsent(b.toLong, _ => new Tally)),
      Option(props.getProperty(SpanKey)).map(s => bySpan.computeIfAbsent(s, _ => new Tally))
    ).flatten

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val os = owners(e.properties)
    os.foreach(_.jobs.incrementAndGet())
    if (os.nonEmpty) e.stageIds.foreach(id => stageOwner.put(id, os))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val os = stageOwner.getOrDefault(e.stageInfo.stageId, Nil)
    os.foreach { t =>
      t.stages.incrementAndGet()
      t.cpuNs.addAndGet(e.stageInfo.taskMetrics.executorCpuTime)
      t.shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    stageOwner.getOrDefault(e.stageId, Nil).foreach(_.tasks.incrementAndGet())
  }

  /** Wait until the asynchronous listener bus has delivered everything
    * posted so far (no new event for 50 ms).
    */
  def settle(): Unit = {
    var last = -1L
    while (events.get() != last) { last = events.get(); Thread.sleep(50) }
  }
}

object TraceListener {
  /** Set by MicroBatchExecution on every job of an epoch. */
  val BatchKey = "streaming.sql.batchId"
  val SpanKey = "cdcbench.span"
}
