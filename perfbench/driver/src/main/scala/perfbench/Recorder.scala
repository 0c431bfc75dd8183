package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler._

/** One closed span. Times are epoch microseconds, so driver spans and the
  * listener's job times (epoch milliseconds) share one clock. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long, attrs: Map[String, Double])

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRecord(val id: Int, val op: Int, val desc: String, val start: Long) {
  var end: Long = start
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  /** Task durations, per stage of the job. */
  val stageTaskMs = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Long]]()
}

object Recorder {
  /** Local property that tags every job with the operation that ran it. */
  val OpProperty = "perfbench.op"

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of the whole process (driver and executor threads). */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** GC seconds of the whole process so far. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** Traced-run recorder: driver-side spans around the public calls plus a
  * SparkListener that keys every job on the operation that submitted it
  * (through [[Recorder.OpProperty]]) and on its job description — the
  * `graft.merge: …` labels the table layer sets.
  *
  * Tracing is switched per operation: [[op]] attaches the listener only
  * for traced operations, so untraced operations in the same process
  * measure the tracing overhead. Everything stays in memory until the
  * run writes it out at the end.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  import Recorder._

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.ArrayBuffer[JobRecord]()
  private val stageJob = mutable.HashMap[Int, JobRecord]()
  private val jobById = mutable.HashMap[Int, JobRecord]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var currentOp = 0
  private var tracing = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(0)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val j = new JobRecord(e.jobId, op, desc, e.time * 1000L)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    }
  }

  /** Run `f` as one root operation. When `traced`, the listener is
    * attached for its duration and its jobs carry the operation id. */
  def op[T](name: String, traced: Boolean)(f: => T): T = {
    if (!traced) return f
    nextId += 1
    currentOp = nextId
    sc.setLocalProperty(OpProperty, currentOp.toString)
    sc.addSparkListener(this)
    tracing = true
    try span(name)(f)
    finally {
      // the listener bus is asynchronous: drain it before detaching so
      // every job of this operation is seen
      ListenerBusBridge.drain(sc)
      sc.removeSparkListener(this)
      tracing = false
      sc.setLocalProperty(OpProperty, null)
    }
  }

  /** A child span of the current operation; a no-op outside a traced one.
    * Each span records the process CPU and GC seconds spent during it. */
  def span[T](name: String)(f: => T): T = {
    if (!tracing) return f
    val id = if (stack.isEmpty) currentOp else { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val (cpu0, gc0) = (processCpuS(), gcS())
    val t0 = nowMicros()
    try f
    finally {
      val t1 = nowMicros()
      stack = stack.tail
      spans += Span(id, parent, currentOp, name, t0, t1,
        Map("process_cpu_s" -> (processCpuS() - cpu0), "gc_s" -> (gcS() - gc0)))
    }
  }
}
