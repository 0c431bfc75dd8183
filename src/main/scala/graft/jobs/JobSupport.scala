package graft.jobs

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.UUID

/** Plumbing the header and items jobs share: the batch id, the phase
  * clock and the run-metrics CSV sink. */
private[jobs] object JobSupport {

  private val BatchStamp =
    DateTimeFormatter.ofPattern("yyyyMMddHHmmss").withZone(ZoneOffset.UTC)

  /** `<UTC yyyyMMddHHmmss>_<file name>`, computed on the driver (the
    * reference computes the same value through the cluster:
    * src/header_etl.py:70-73). */
  def batchId(filename: String): String =
    BatchStamp.format(Instant.now()) + "_" + filename

  def secondsSince(nanos: Long): Double =
    (System.nanoTime() - nanos) / 1e9

  /** Run-metrics CSV sink, one dir per batch, append semantics with
    * header (reference: src/header_etl.py:338-340). Written DRIVER-SIDE:
    * a `Seq(m).toDF().coalesce(1).write.csv` would pay a full Spark job
    * (plan + schedule + task + commit protocol) for ONE row inside every
    * batch — pure fixed overhead. Same on-disk layout: `dir` holds one
    * headered part file; none of the values need CSV quoting (no
    * separators or newlines in batch ids / app ids / numbers). */
  def writeMetrics(m: Product, dir: String): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"part-00000-${UUID.randomUUID()}.csv"),
      m.productElementNames.mkString(",") + "\n" +
        m.productIterator.mkString(",") + "\n")
  }
}
