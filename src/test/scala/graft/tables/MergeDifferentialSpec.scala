package graft.tables

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential test of MERGE with matched and not-matched clauses: random
  * upserts run through [[VersionedTable]] and through a plain-DataFrame
  * model of Delta's clause semantics, evaluated on the pre-merge table,
  * must leave the same rows and report the same counts — or both reject a
  * target row matched by more than one source row. In the model each
  * matched target row takes the first matched clause whose condition holds
  * (NULL counts as not holding), and a source row is inserted when no
  * target row satisfies the merge condition and the insert condition
  * holds. The cases mix NULL keys, duplicate source keys, a non-key
  * conjunct in the condition, insert conditions, both orders of the update
  * and delete clauses, schema evolution and tables of one or several
  * files. */
class MergeDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** One upsert: target rows (id, g, v), source rows (id, g, nv, op), the
    * clauses' conditions (`None` = unconditioned) and their order. */
  private case class Upsert(target: Seq[(Option[Int], Int, Option[String])],
                            source: Seq[(Option[Int], Int, Option[String], Option[String])],
                            grouped: Boolean,
                            nonKey: Boolean,
                            update: Option[Option[String]],
                            delete: Option[Option[String]],
                            deleteFirst: Boolean,
                            insertCond: Option[String],
                            evolve: Boolean,
                            files: Int) {
    def condition: String = "e.id = s.id" + (if (nonKey) " AND e.g <= s.g" else "")
    def updateSet: Map[String, String] =
      Map("v" -> "s.nv", "g" -> "e.g + s.g") ++ (if (evolve) Map("score" -> "s.g * 10") else Map.empty)
    def insertValues: Map[String, String] =
      Map("id" -> "s.id", "g" -> "s.g", "v" -> "s.nv") ++ (if (evolve) Map("score" -> "s.g") else Map.empty)
  }

  /** What a merge leaves: the table's rows and (inserted, updated,
    * deleted, rows after), or the rejection. */
  private type Outcome = Either[String, (Seq[String], (Long, Long, Long, Long))]
  private val Rejected = Left("multiple source rows matched the same target row")

  private def render(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")

  private def sourceFrame(u: Upsert): DataFrame = {
    val plain = u.source.toDF("id", "g", "nv", "op")
    if (u.grouped) plain.groupBy("id").agg(max("g").as("g"), max("nv").as("nv"), max("op").as("op"))
    else plain
  }

  /** The clause semantics over the pre-merge rows `pre`. */
  private def model(pre: DataFrame, u: Upsert): Outcome = {
    val schema = if (u.evolve) pre.schema.add(StructField("score", IntegerType, nullable = true)) else pre.schema
    val preRows = pre.collect().toSeq.map(r => if (u.evolve) Row.fromSeq(r.toSeq :+ null) else r)
    val target = spark.createDataFrame(
      spark.sparkContext.parallelize(preRows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }, 1),
      schema.add(StructField("__tid", LongType, nullable = false))).alias("e")
    val src = sourceFrame(u).alias("s")
    def holds(c: Option[Option[String]]): org.apache.spark.sql.Column =
      c.fold(lit(false))(cond => coalesce(cond.fold(lit(true))(expr), lit(false)))
    val (upd, del) = (holds(u.update), holds(u.delete))
    val action = if (u.deleteFirst) when(del, "D").when(upd, "U").otherwise("N")
      else when(upd, "U").when(del, "D").otherwise("N")
    val updated = schema.fields.map(f =>
      u.updateSet.get(f.name).map(expr).getOrElse(col(s"e.${f.name}")).cast(f.dataType).as(f.name))
    val pairs = target.join(src, expr(u.condition), "inner")
      .select((col("e.__tid") +: action.as("__act") +: updated): _*).collect().toSeq
    val byTarget = pairs.groupBy(_.getLong(0))
    if (byTarget.values.exists(_.size > 1)) Rejected
    else {
      val kept = preRows.indices.flatMap { i =>
        byTarget.get(i.toLong).map(_.head) match {
          case Some(p) if p.getString(1) == "D" => None
          case Some(p) if p.getString(1) == "U" => Some(Row.fromSeq(p.toSeq.drop(2)))
          case _ => Some(preRows(i))
        }
      }
      val unmatched = src.join(target, expr(u.condition), "left_anti")
      val inserted = u.insertCond.fold(unmatched)(c => unmatched.filter(expr(c)))
        .select(schema.fields.map(f =>
          u.insertValues.get(f.name).map(expr).getOrElse(lit(null)).cast(f.dataType).as(f.name)): _*)
        .collect().toSeq
      val acts = pairs.map(_.getString(1))
      val rows = kept ++ inserted
      Right((rows.map(render).sorted,
        (inserted.size.toLong, acts.count(_ == "U").toLong, acts.count(_ == "D").toLong, rows.size.toLong)))
    }
  }

  /** The same upsert through the table's MERGE. */
  private def engine(t: VersionedTable, u: Upsert): Outcome = {
    val m0 = t.alias("e").merge(sourceFrame(u).alias("s"), u.condition)
    def update(b: MergeBuilder) = u.update.fold(b)(c => b.whenMatchedUpdate(c.orNull, u.updateSet))
    def delete(b: MergeBuilder) = u.delete.fold(b)(c => b.whenMatchedDelete(c.orNull))
    val m1 = if (u.deleteFirst) update(delete(m0)) else delete(update(m0))
    val m2 = m1.whenNotMatchedInsert(u.insertCond.orNull, u.insertValues)
    val m = try Some((if (u.evolve) m2.withSchemaEvolution() else m2).execute())
      catch { case e: IllegalStateException if e.getMessage.contains(Rejected.value) => None }
    m.fold[Outcome](Rejected) { metrics =>
      val rows = t.read.collect().toSeq
      Right((rows.map(render).sorted,
        (metrics("numTargetRowsInserted").toLong, metrics("numTargetRowsUpdated").toLong,
          metrics("numTargetRowsDeleted").toLong, rows.size.toLong)))
    }
  }

  /** Asserts the engine and the model agree on `u`; returns the outcome. */
  private def agree(u: Upsert): Outcome = {
    val t = VersionedTable.create(spark, u.target.toDF("id", "g", "v").repartition(u.files),
      Files.createTempDirectory("graft-merge-diff").toString + "/t")
    val expected = model(t.read, u)
    assert(engine(t, u) == expected, s"$u")
    expected
  }

  private val base = Upsert(
    target = Seq((Some(1), 1, Some("a")), (Some(2), 2, Some("b")), (Some(3), 3, None), (None, 4, Some("n"))),
    source = Seq((Some(2), 5, Some("B"), Some("U")), (Some(3), 1, Some("C"), Some("D")),
      (Some(5), 2, Some("E"), None), (None, 3, Some("N"), Some("U"))),
    grouped = false, nonKey = false, update = Some(None), delete = None, deleteFirst = false,
    insertCond = None, evolve = false, files = 1)

  test("an upsert matches the clause model: NULL keys never match and are inserted") {
    agree(base)
    agree(base.copy(grouped = true, files = 3))
  }

  test("duplicate source keys: rejected when they share a target row, all inserted when not") {
    val dupMatched = base.copy(source = base.source :+ ((Some(2), 6, Some("B2"), Some("U"))))
    assert(agree(dupMatched) == Rejected)
    val twice = agree(base.copy(source = base.source ++ Seq((Some(7), 1, Some("x"), None), (Some(7), 2, Some("y"), None))))
    assert(twice.exists(_._1.count(_.startsWith("7|")) == 2), s"$twice")
  }

  test("a non-key conjunct and an insert condition decide matches and inserts") {
    // s.g >= e.g holds for key 2 only: key 3 is unmatched and inserted again
    agree(base.copy(nonKey = true))
    agree(base.copy(nonKey = true, insertCond = Some("s.g > 1"), files = 3))
    agree(base.copy(insertCond = Some("s.op IS NOT NULL")))
  }

  test("update and delete clauses apply in the order they were added, NULL conditions failing") {
    for (first <- Seq(true, false); upd <- Seq(None, Some("e.v <> s.nv")); del <- Seq(None, Some("s.op = 'D'")))
      agree(base.copy(update = Some(upd), delete = Some(del), deleteFirst = first, files = if (first) 1 else 2))
    agree(base.copy(update = None, delete = Some(Some("e.g > 2"))))
  }

  test("schema evolution: both writes carry the evolved column") {
    agree(base.copy(evolve = true))
    agree(base.copy(evolve = true, delete = Some(Some("s.op = 'D'")), deleteFirst = true, files = 3))
  }

  test("random upserts match the clause model") {
    val key = Gen.frequency(5 -> Gen.choose(1, 5).map(Option(_)), 1 -> Gen.const(Option.empty[Int]))
    val str = Gen.frequency(4 -> Gen.oneOf("a", "b", "c").map(Option(_)), 1 -> Gen.const(Option.empty[String]))
    val cond = (cs: Seq[String]) => Gen.oneOf(None +: cs.map(Option(_)))
    val gen = for {
      target <- Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.zip(key, Gen.choose(1, 4), str)))
      source <- Gen.choose(1, 5).flatMap(n => Gen.listOfN(n,
        Gen.zip(key, Gen.choose(1, 4), str, Gen.oneOf(Some("U"), Some("D"), None))))
      grouped <- Gen.oneOf(true, false)
      nonKey <- Gen.frequency(3 -> false, 1 -> true)
      update <- Gen.option(cond(Seq("e.v <> s.nv", "s.op <> 'D'")))
      delete <- if (update.isEmpty) cond(Seq("s.op = 'D'", "e.g > 2")).map(Some(_))
        else Gen.option(cond(Seq("s.op = 'D'", "e.g > 2")))
      deleteFirst <- Gen.oneOf(true, false)
      insertCond <- cond(Seq("s.g > 1", "s.nv IS NOT NULL"))
      evolve <- Gen.frequency(3 -> false, 1 -> true)
      files <- Gen.oneOf(1, 3)
    } yield Upsert(target, source, grouped, nonKey, update, delete, deleteFirst, insertCond, evolve, files)
    val prop = Prop.forAll(gen) { u => agree(u); Prop.passed }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(Seed(17L))
    val result = SCTest.check(params, prop)
    assert(result.passed, s"property failed: ${result.status}")
  }
}
