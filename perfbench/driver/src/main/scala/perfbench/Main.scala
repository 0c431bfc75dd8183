package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** What a workload measured: raw samples and values for the Python side to
  * reduce, plus the outcome of its output checks. */
final class Result {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  /** Record one wrong answer; returns false so checks can be chained. */
  def wrong(msg: String): Boolean = {
    if (failures.size < 20) failures += msg
    false
  }
}

/** Everything a workload needs. `traced(i)` says whether timed operation
  * `i` runs with the recorder attached: in a traced run operations go
  * untraced, traced, traced, untraced in blocks of four, so the untraced
  * ones measure the tracing overhead in the same process and a steady
  * warm-up trend cancels out of the difference. */
final class Ctx(val spark: SparkSession, val work: File, val data: File,
                val seed: Long, val seconds: Double, val trace: Boolean,
                val rec: Recorder, val res: Result) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def traced(i: Int): Boolean = trace && (i % 4 == 1 || i % 4 == 2)

  private def addUsage(prefix: String, u: Usage): Unit =
    u.fields.foreach { case (k, v) => res.add(s"$prefix.$k", v) }

  /** Run the workload's set-up, recording its wall time, CPU by thread
    * group and host steal under `setup.*`. */
  def setUp[A](f: => A): A = {
    val c0 = Clocks.now()
    val out = f
    addUsage("setup", c0.until(Clocks.now()))
    out
  }

  /** Run operations i = 0, 1, … until `seconds` have passed (at least
    * `minOps` of them, and four in a traced run), recording each one's
    * wall time, CPU by thread group and host steal under `op.*`, and
    * whether it was traced under `op.traced`. `prepare(i)` makes the
    * operation's input and `finish` looks at its outcome, both outside its
    * clock. The heap left after a full collection at the end is recorded
    * as `retained_heap_mb`. Returns the number of operations. */
  def closedLoop[A](minOps: Int)(prepare: Int => A)(op: (Int, A) => Unit)
                   (finish: (Int, A) => Unit): Int = {
    val floor = if (trace) math.max(minOps, 4) else minOps
    val start = System.nanoTime()
    var i = 0
    retainedHeapMb() // every run starts its timed loop from a collected heap
    while (i < floor || (System.nanoTime() - start) / 1e9 < seconds) {
      val input = prepare(i)
      val c0 = Clocks.now()
      try op(i, input)
      catch { case scala.util.control.NonFatal(e) =>
        res.failed += 1
        res.wrong(s"operation #$i threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      addUsage("op", c0.until(Clocks.now()))
      res.add("op.traced", if (traced(i)) 1.0 else 0.0)
      finish(i, input)
      i += 1
    }
    res.values("retained_heap_mb") = retainedHeapMb()
    res.attempted += i
    i
  }

  /** Heap in use right after a full collection, in MB: the least of three
    * collections a moment apart, since Spark's cleaner thread frees
    * broadcast and shuffle state only after the collection that queued it. */
  private def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
}

/** The benchmark driver. One process runs one workload:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --data <dir>`. It writes its raw measurements to `<work>/result.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work"))
    work.mkdirs()
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val res = new Result
    val rec = new Recorder(spark.sparkContext)
    val ctx = new Ctx(spark, work, new File(opts.getOrElse("data", "")), opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", rec, res)
    val extra: Map[String, Any] = opts("workload") match {
      case "scd2_daily" => Scd2Daily.run(ctx)
      case "query_suite" => QuerySuite.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spark.stop()

    implicit val formats: Formats = DefaultFormats
    val out = Map(
      "workload" -> opts("workload"),
      "cores" -> cores,
      "session_s" -> sessionS,
      "samples" -> res.samples.map { case (k, v) => k -> v.toSeq },
      "values" -> res.values,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "failures" -> res.failures.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)),
      "jobs" -> rec.jobs.map(j => Map("id" -> j.id, "op" -> j.op, "desc" -> j.desc,
        "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill, "input_bytes" -> j.inputBytes,
        "input_records" -> j.inputRecords,
        "stage_task_ms" -> j.stageTaskMs.values.map(_.toSeq).toSeq))
    ) ++ extra
    Files.writeString(Paths.get(work.getPath, "result.json"), Serialization.write(out))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Total bytes of the regular files under `dir`. */
  def dirBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles()).toSeq.flatten.map(dirBytes).sum

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }
}
