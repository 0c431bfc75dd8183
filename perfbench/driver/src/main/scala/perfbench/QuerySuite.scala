package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

object QuerySuite {
  /** The timed subset of `SparkEntry.queries`, by the module family its
    * operators live in: one or two cheap queries per family, so a pass
    * takes about five seconds and a run holds three. The tables family
    * reads through the graft source and merges insert-only. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_agg"),
    "text" -> Seq("q15_token_stats"),
    "vector" -> Seq("q48_sql_cosine"),
    "streaming" -> Seq("q50_stream_dedup"),
    "tables" -> Seq("q58_incremental_dedup", "q89_graft_relation"))

  private def runQuery(ctx: Ctx, name: String): (StructType, Array[Row]) =
    try {
      val df = SparkEntry.queries(name)(ctx.spark, ctx.data.getPath)
      (df.schema, df.collect())
    } finally graft.ops.Caches.releaseAll()

  def run(ctx: Ctx): Map[String, Any] = {
    val res = ctx.res
    val queries = Families.flatMap { case (f, qs) => qs.map(_ -> f) }
    // set-up: one warm pass over the subset
    ctx.setUp(queries.foreach { case (q, _) => runQuery(ctx, q) })

    val rnd = new scala.util.Random(ctx.seed)
    // per query: the last pass's result, and each pass's answer as sorted rows
    val last = mutable.HashMap[String, (StructType, Array[Row])]()
    val digests = mutable.HashMap[String, mutable.ArrayBuffer[Seq[String]]]()
    ctx.closedLoop(minOps = 3)(_ => rnd.shuffle(queries)) { (i, order) =>
      val famS = mutable.LinkedHashMap(Families.map(_._1 -> 0.0): _*)
      ctx.rec.op("pass", ctx.traced(i)) {
        order.foreach { case (q, fam) =>
          val t0 = System.nanoTime()
          val out = ctx.rec.span(q)(runQuery(ctx, q))
          val dt = (System.nanoTime() - t0) / 1e9
          res.add(s"query_s.$q", dt)
          famS(fam) += dt
          last(q) = out
          digests.getOrElseUpdate(q, mutable.ArrayBuffer()) +=
            out._2.map(_.mkString("|")).toSeq.sorted
        }
      }
      famS.foreach { case (f, s) => res.add(s"suite.$f.s", s) }
    } { (_, _) => () }

    // a pass is wrong if any of its answers differs from the last pass's;
    // the last pass's answers are then checked against the oracle SQL by
    // the Python side, from the parquet written here
    val passes = digests.values.map(_.size).max
    (0 until passes).foreach { p =>
      if (digests.exists { case (_, d) => d.lift(p).exists(_ != d.last) }) {
        res.failed += 1
        res.wrong(s"pass $p: a query answered differently from the last pass")
      }
    }
    val verify = new File(ctx.work, "verify")
    Main.deleteRec(verify)
    last.foreach { case (q, (schema, rows)) =>
      ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(new File(verify, q).getPath)
    }
    Files.writeString(Paths.get(verify.getPath, "oracle_sql.json"),
      org.json4s.jackson.Serialization.write(
        queries.map(_._1).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)(
        org.json4s.DefaultFormats))
    Map("families" -> Families.toMap)
  }
}
