package graft

import java.nio.file.Files

import graft.tables.VersionedTable
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale properties the engine
  * relies on (scan pushdown, column pruning, broadcast dimension joins,
  * partition pruning through the versioned table) must stay visible in
  * the executed plan — a silent regression here costs nothing at sf0.01
  * and everything at 100 TB. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q2: filters reach the parquet scan and columns are pruned") {
    val p = plan("q2_filter_sum")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount)"),
      "filter pushdown missing from scan")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"),
      "column pruning regressed — scan reads more than the 3 needed columns")
  }

  test("q3: dimension side is broadcast, fact side is not shuffled for the join") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), "customer dim must broadcast")
    assert(!p.contains("SortMergeJoin"), "fact side must not sort-merge")
  }

  test("q1: aggregation is map-side partial before the shuffle") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), "partial aggregation missing")
  }

  test("q26: LSH candidate generation joins on bucket equality — never a cross product") {
    val p = plan("q26_embed_neardup_lsh")
    assert(!p.contains("CartesianProduct"),
      "LSH pair path must bucket-join, not cross-join")
    // the only nested-loop join allowed is none: candidates come from the
    // exploded bucket equi-join, verification from id equi-joins
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "LSH pair path must not degrade to a nested-loop join")
  }

  test("q16: minhash bucket self-join is an equi-join") {
    val p = plan("q16_minhash_lsh")
    assert(!p.contains("CartesianProduct"),
      "banded LSH must join on band keys, not cross-join")
  }

  test("IVF anchor selection is a per-partition top-K, not a global sort") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.ops.Similarity.ivfAnchorFrame(emb, "vec_id", "embedding", 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"anchor pick must be TakeOrderedAndProject:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"anchor pick must not totally order the corpus:\n$p")
  }

  test("q43: as-of join is one window pass — no range join, no nested loop") {
    val p = plan("q43_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of join must not plan as a nested-loop/cross join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "as-of join must execute as a window pass")
  }

  test("q44: range join plans as an equi-join on (key, bucket), never BNLJ") {
    val p = plan("q44_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bucketed range join must stay an equi-join")
  }

  test("late-split probes are key-equi joins with theta residuals, never BNLJ") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val exN = Seq(("K1", ts("2023-01-26 08:00:00"), ts("2023-01-26 12:00:00")))
      .toDF("contratto_cod", "ex_from", "ex_to")
    val staged = Seq(("K1", ts("2023-01-26 10:00:00")))
      .toDF("contratto_cod", "valid_from_ts")
    val (splits, bound) = graft.jobs.HeaderEtlJob.lateSplitProbes(exN, staged)
    Seq("splits" -> splits, "bound" -> bound).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name probe must stay an equi-join with residual filters:\n$p")
      assert(p.contains("Join") || p.contains("BroadcastHashJoin"),
        s"$name probe must contain the key join:\n$p")
    }
  }

  /** Runs `body` and returns how many queries it executed and the
    * analyzed plan of each whose analyzed or optimized plan `offending`
    * flags. */
  private def auditQueries(offending: LogicalPlan => Boolean)(body: => Unit): (Int, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ran = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        ran.incrementAndGet()
        if (offending(qe.analyzed) || offending(qe.optimizedPlan)) seen.add(qe.analyzed.toString)
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    (ran.get, seen.asScala.toSeq)
  }

  private def fullOuter(p: LogicalPlan): Boolean = p.exists {
    case j: Join => j.joinType == FullOuter
    case _ => false
  }

  test("a steady items day runs no full-outer join and no union") {
    val root = Files.createTempDirectory("graft-items-plan").toString
    val cols = Seq("contratto_cod", "numero_annuncio", "list_total", "contracted_price",
      "total_discount", "data_attivazione", "data_fine_prestazione", "product_code", "quantity",
      "causale_annullamento", "data_annullamento", "status_item", "creazione_dta")
    def day(date: String, rows: Seq[(String, String)]): Unit = {
      val path = s"$root/crm/items_$date.txt"
      graft.jobs.TestCsv.write(path, cols, rows.map { case (cod, price) =>
        Seq(cod, "10", "1000.00", price, "0.00", "2023-01-01", "2023-12-31",
          "PROD1", "1", "", "", "L", "2023-01-01")
      })
      graft.jobs.ItemsEtlJob.run(spark, path, s"$root/landing/items")
    }
    day("20230601", Seq("A1" -> "100.00", "A2" -> "200.00", "A3" -> "300.00"))
    val (ran, seen) = auditQueries(p => fullOuter(p) || p.exists(_.isInstanceOf[Union])) {
      // a changed item, an unchanged one and a new key
      day("20230602", Seq("A1" -> "150.00", "A2" -> "200.00", "A4" -> "400.00"))
    }
    assert(ran > 0, "the listener saw no query")
    assert(seen.isEmpty, s"queries with a full-outer join or a union:\n${seen.mkString("\n")}")
    val open = VersionedTable.forPath(spark, s"$root/landing/items").read
      .filter(col("valid_to") === lit(java.sql.Date.valueOf("9999-12-31")))
    assert(open.count() == 4)
    GraftSession.deleteRec(new java.io.File(root))
  }

  test("q66 and q92: an upsert runs no full-outer join") {
    val (ran, seen) = auditQueries(fullOuter) {
      try Seq("q66_merge_evolve", "q92_concurrent_merge").foreach(q =>
        SparkEntry.queries(q)(spark, dir).collect())
      finally graft.ops.Caches.releaseAll()
    }
    assert(ran > 0, "the listener saw no query")
    assert(seen.isEmpty, s"queries with a full-outer join:\n${seen.mkString("\n")}")
  }

  test("versioned table read prunes partitions under filters") {
    val root = Files.createTempDirectory("graft-prune-spec").toString
    val base = spark.range(0, 300).selectExpr("id", "cast(id % 3 + 2021 as int) as y")
    val t = VersionedTable.create(spark, base, s"$root/t", Seq("y"))
    val q = t.read.filter(col("y") === 2022)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(y") && p.contains("(y"),
      s"partition pruning missing from versioned-table scan:\n$p")
    assert(q.count() == 100)
    GraftSession.deleteRec(new java.io.File(root))
  }

  test("format(graft) and dv'd reads plan as one parquet scan over the log's file index") {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, RowDataSourceScanExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = Files.createTempDirectory("graft-relation-plan").toString
    val t = VersionedTable.create(spark,
      spark.range(0, 400).selectExpr("id", "id % 4 AS grp").repartition(2), s"$root/t")
    // one FileSourceScanExec over LogFileIndex, no join, the filter pushed;
    // `columnar`: batches read and turned into rows above the scan
    def audit(q: org.apache.spark.sql.DataFrame, columnar: Boolean): Unit = {
      val p = q.queryExecution.executedPlan
      val scans = p.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1 && scans.head.relation.location.getClass.getSimpleName == "LogFileIndex",
        s"one scan over the log's file index:\n$p")
      assert(scans.head.dataFilters.exists(_.references.exists(_.name == "grp")),
        s"the filter must reach the scan's DataFilters:\n$p")
      assert(p.collect { case j: BaseJoinExec => j }.isEmpty, s"no join:\n$p")
      assert(p.collect { case r: RowDataSourceScanExec => r }.isEmpty, s"no row relation:\n$p")
      assert(p.exists(_.isInstanceOf[ColumnarToRowExec]) == columnar, s"columnar=$columnar:\n$p")
    }
    val viaSource = spark.read.format("graft").load(s"$root/t").filter(col("grp") === 1)
    audit(viaSource, columnar = true)
    assert(viaSource.count() == 100)
    assert(t.delete("id % 10 = 3", deletionVectors = true) == 40)
    audit(t.read.filter(col("grp") === 1), columnar = false)
    audit(spark.read.format("graft").load(s"$root/t").filter(col("grp") === 1), columnar = false)
    assert(t.read.filter(col("grp") === 1).count() == 80)
    GraftSession.deleteRec(new java.io.File(root))
  }

  test("PQ ADC scan is map-only with whole-stage codegen'd top-k heaps") {
    // the production shape: PQ encodes the raw float column directly —
    // a transform() cast lambda here would break whole-stage codegen
    // (higher-order functions are CodegenFallback)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val df = graft.ops.Similarity.pqTopK(emb, "vec_id", "embedding",
      queryId = 0, k = 10)
    df.collect() // finalize AQE so codegen marks are visible in the plan
    val p = df.queryExecution.executedPlan.toString
    // both top-k steps must be per-partition heaps, never a global sort
    assert(p.contains("TakeOrderedAndProject"), "ADC/refine top-k must heap")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "PQ path must not shuffle-join the corpus")
    // codegen'd operators carry a *(stage) mark; the ADC scoring
    // projection must be inside one
    assert(p.linesIterator.exists(l => l.contains("graft_pq_adc") && l.contains("*(")),
      s"ADC projection must be whole-stage codegen'd:\n${p.take(2000)}")
  }

  test("per-source cap and length-batching are ONE keyed window shuffle each") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val capped = graft.ops.Sampling.perGroupCap(docs, "doc_id", "source", 5)
    val pc = capped.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(pc).length == 1,
      s"per-group cap must shuffle exactly once:\n$pc")
    val toks = docs.selectExpr("doc_id",
      "size(split(trim(text), '\\\\s+')) AS n_tokens")
    val batched = graft.ops.Packing
      .lengthBucketBatches(toks, "doc_id", "n_tokens", 16L, 8)
    val pb = batched.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(pb).length == 1,
      s"length-batching must shuffle exactly once:\n$pb")
  }

  test("q79: shuffle-shards export is ONE keyed window shuffle, shard assigned map-side") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Sampling.shuffleShards(docs, "doc_id", numShards = 8, seed = 7L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"shuffle-shards must shuffle exactly once (the per-shard window):\n$p")
    // the exchange key is the shard itself — the map-side hash expression,
    // not a later-computed column (proves assignment happens pre-shuffle)
    assert(p.contains("Exchange hashpartitioning(shard"),
      s"the single shuffle must be keyed by the map-side shard column:\n$p")
  }

  test("q82: span dedup plans as equi-joins + keyed windows — no range join, no cross product") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.TextDedup.repeatedSpanDedup(docs, "doc_id", "text", k = 6)
    df.collect() // finalize AQE so the real join strategies are visible
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"span coverage must come from the running-max window, not a cross join:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the (id,pos) start join must stay an equi-join:\n${p.take(2000)}")
    // the disk-budget linchpin at 9M docs: the exploded gram stream is
    // exchanged ONCE and read once (the per-gram window) — two
    // materialized gram exchanges is the shape that filled the 300×
    // disk quota. Walk the FINAL adaptive plan tree (the string form
    // interleaves initial sections and the cached base's own nested
    // adaptive plan).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // QueryStageExec nodes are leaves whose real subtree hangs off
    // .plan — a plain collect() never descends past the first stage
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => allNodes(q.plan)
      case _ => p.children.flatMap(allNodes)
    })
    val ghStages = allNodes(finalPlan).collect {
      case s: ShuffleQueryStageExec
        if s.outputPartitioning.toString.contains("__gh") => s
    }
    val (ghReused, ghReal) =
      ghStages.partition(_.plan.isInstanceOf[ReusedExchangeExec])
    assert(ghReal.length == 1 && ghReused.isEmpty,
      s"the gram stream must cross exactly one exchange, consumed once " +
        s"(got ${ghReal.length} materialized + ${ghReused.length} reused):\n$finalPlan")
  }

  test("q86: bucketed co-located join — the ONLY exchange is the final aggregation's") {
    val df = SparkEntry.queries("q86_bucketed_join")(spark, dir)
    try {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"merge hint must pin SMJ:\n${p.take(1500)}")
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"bucket layout must feed the join directly — one exchange (the agg) only:\n$p")
      assert(p.contains("Bucketed: true"), "scans must report consuming the bucket layout")
    } finally graft.ops.Caches.releaseAll()
  }

  test("q83: token chunking is map-only — zero exchanges in the plan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Packing.chunkTokens(docs, "doc_id", "text", 40, 10)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("ANN query from postings: the bucket IN-list is pushed into the postings scan") {
    // the structural half of ScaleBench's measured-flat ann_query row:
    // served from the write-once postings layout, a query's bucket list
    // must reach the parquet reader as a pushed In filter (row-group
    // stats skip everything else on a bucket-sorted layout; the 100 TB
    // layout partitions by bucket and prunes whole directories)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val tmp = Files.createTempDirectory("graft-postings-plan").toString
    graft.ops.Similarity
      .lshPostings(emb, "vec_id", "embedding", tables = 8, bits = 8)
      .repartitionByRange(4, col("bucket"))
      .sortWithinPartitions("bucket")
      .write.parquet(s"$tmp/p")
    val postings = spark.read.parquet(s"$tmp/p")
    val p = graft.ops.Similarity
      .lshTopKFromPostings(postings, emb, "vec_id", "embedding",
        queryId = 5L, k = 10, tables = 8, bits = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(bucket"),
      s"bucket IN-list must reach the postings parquet scan:\n$p")
    // the one nested-loop in the plan is the documented 1-row query-
    // vector crossJoin(broadcast) — the candidate FETCH itself must be
    // a hash equi-join on the id, never a corpus-wide cross product
    assert(p.contains("BroadcastHashJoin [vec_id"),
      s"candidate fetch must be a hash equi-join on vec_id:\n$p")
    assert(!p.contains("CartesianProduct"),
      "no unbroadcast cartesian product anywhere in the query")
    GraftSession.deleteRec(new java.io.File(tmp))
  }

  test("ANN lookup fetch: bucket IN-list prunes partitions AND the id IN-list is pushed to the scan") {
    // the structural half of the id-keyed lookup layout (the fix for the
    // candidate-fetch linear term): a fetch by candidate ids must prune
    // to the candidates' bucket DIRECTORIES (exact, metadata-only) and
    // push the id IN-list into the surviving parquet scans — never read
    // the vectors frame end-to-end
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val tmp = Files.createTempDirectory("graft-lookup-plan").toString
    graft.ops.Similarity.writeVectorLookup(emb, "vec_id", s"$tmp/l", nBuckets = 16)
    val lookup = spark.read.parquet(s"$tmp/l")
    val ids = Seq(3L, 17L, 42L)
    val fetch = graft.ops.Similarity.fetchVectorsById(lookup, "vec_id", ids, nBuckets = 16)
    val p = fetch.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:") && p.contains("id_bucket"),
      s"bucket IN-list must prune lookup partitions:\n$p")
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"id IN-list must be pushed into the lookup parquet scan:\n$p")
    // semantic check: the pruned fetch returns exactly the requested rows
    assert(fetch.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq == ids)
    GraftSession.deleteRec(new java.io.File(tmp))
  }
}
