package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Where the process's CPU went over an interval, by thread group, with
  * the host's CPU steal over the same interval. All figures are seconds
  * except `stealShare`.
  *
  *  - `client`: the calling thread, which runs the engine's driver code:
  *    planning, file listing, log and commit work.
  *  - `executor`: Spark's task threads (`Executor task launch worker…`).
  *  - `otherJava`: every other Java thread (scheduler, listener bus,
  *    broadcast, shuffle and cleaner threads).
  *  - `jit`: time the JIT compilers spent compiling.
  *  - `process`: the whole process, GC and compiler threads included.
  */
final case class Usage(wall: Double, process: Double, client: Double, executor: Double,
                       otherJava: Double, jit: Double, gc: Double, stealShare: Double) {
  /** CPU spent running the engine's own code: the client thread and the
    * task threads. Unlike `process` it leaves out JIT and GC threads,
    * which follow the JVM's warm-up more than the engine's work. */
  def engine: Double = client + executor

  def fields: Seq[(String, Double)] = Seq(
    "wall_s" -> wall, "process_cpu_s" -> process,
    "engine_cpu_s" -> engine, "client_cpu_s" -> client, "executor_cpu_s" -> executor,
    "other_java_cpu_s" -> otherJava, "jit_s" -> jit, "gc_s" -> gc, "steal_share" -> stealShare)
}

/** One reading of the counters [[Usage]] is the difference of. */
final class Clocks private (val wallNs: Long, val processNs: Long,
                            val threadNs: Map[Long, (String, Long)], val clientId: Long,
                            val jitMs: Long, val gcMs: Long, val steal: Long, val ticks: Long) {
  /** Usage from this reading to `later`. A thread that started in between
    * counts from zero; one that ended in between counts only in
    * `process`. */
  def until(later: Clocks): Usage = {
    def group(pick: (Long, String) => Boolean): Double =
      later.threadNs.iterator.collect { case (id, (name, ns)) if pick(id, name) =>
        ns - threadNs.get(id).map(_._2).getOrElse(0L)
      }.sum / 1e9
    def isExecutor(name: String) = name.startsWith("Executor task launch worker")
    val ticksDelta = later.ticks - ticks
    Usage(
      wall = (later.wallNs - wallNs) / 1e9,
      process = (later.processNs - processNs) / 1e9,
      client = group((id, _) => id == clientId),
      executor = group((_, name) => isExecutor(name)),
      otherJava = group((id, name) => id != clientId && !isExecutor(name)),
      jit = (later.jitMs - jitMs) / 1e3,
      gc = (later.gcMs - gcMs) / 1e3,
      stealShare = if (ticksDelta > 0) (later.steal - steal).toDouble / ticksDelta else 0.0)
  }
}

object Clocks {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean

  /** Read every counter now; the calling thread is the client. */
  def now(): Clocks = {
    val ids = threads.getAllThreadIds
    val cpu = threads.getThreadCpuTime(ids)
    val infos = threads.getThreadInfo(ids)
    val perThread = ids.indices.collect {
      case i if infos(i) != null && cpu(i) >= 0 => ids(i) -> (infos(i).getThreadName, cpu(i))
    }.toMap
    val (steal, ticks) = hostTicks()
    new Clocks(System.nanoTime(), os.getProcessCpuTime, perThread,
      Thread.currentThread().getId, jit.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      steal, ticks)
  }

  /** (steal, total) CPU ticks of the host since boot, from /proc/stat;
    * zeros where it cannot be read. */
  private def hostTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal; guest time is
        // already inside user and nice
        (f(7), f.take(8).sum)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }
}
