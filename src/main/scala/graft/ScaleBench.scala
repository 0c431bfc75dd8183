package graft

import java.nio.file.Files

import graft.tools.CorpusDataGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-linearity measurement for the LLM-pipeline flagships, the ANN
  * index/query halves, and the streaming drains: runs each operator on a
  * generated corpus at 1× and `factor`× (default 10×) and reports the
  * time ratio — the empirical check behind every "corpus-linear, would
  * hold at 100 TB" claim that was previously only plan-audited (exchange
  * counts). A corpus-linear op with shuffle constants should land well
  * under ratio ≈ factor × 1.5; an op whose ratio approaches factor² is
  * quadratic and the claim is wrong. Two rows carry STRONGER claims than
  * linear: ann_query_postings (top-k from the prebuilt postings layout)
  * must stay well UNDER the factor — a query must not pay corpus-linear
  * postings cost — and the streaming rows must hold per-row cost
  * constant (ratio ≤ factor) with state bounded by the watermark
  * horizon, not the corpus.
  *
  * Protocol per (op, size): one untimed warmup absorbs the op's codegen
  * (otherwise the SMALL size pays compilation and every ratio flatters),
  * then `reps` timed runs, median. Inputs are written to parquet first
  * and read back, so each measurement includes the scan but not the
  * generator. Planted duplicate/span/near-dup rates in the generator are
  * scale-independent, so per-row work is constant across sizes.
  *
  * Output: one JSON line per op + a `"metric":"scale"` summary line, and
  * the whole record to SPARK_GRAFT_SCALE_FILE (default scale_last.json).
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // zstd shuffle/spill compression (static conf, so set here, not in
      // tune()): span_dedup at 300× (9M docs) writes ~70 GB of
      // concurrently-live lz4 shuffle files inside ONE rep — over this
      // host's disk quota (the preopt no-space failure kept in
      // scale_r11_300x_preopt.json). zstd holds the same rep at roughly
      // 0.6× the bytes for ~10% CPU — the trade every disk-constrained
      // production deployment makes. Bench keeps lz4 so query medians
      // stay comparable across rounds.
      .config("spark.io.compression.codec", "zstd")
      // Compress disk-spilled CACHE blocks with the same codec: the
      // staged minhash pipeline persists a wide gram/signature frame
      // (MEMORY_AND_DISK) whose int-array columns the columnar cache
      // stores with PassThrough encoding — spilled raw, they sit at the
      // disk-quota edge during the 300× run and the resulting spill
      // pressure was the r12 verdict's named superlinearity suspect.
      // Same deployment-knob rule as the codec above: set here, never
      // in the library session.
      .config("spark.rdd.compress", "true")
      // Bound every unsafe sorter (shuffle writers, external sorts) to
      // ~4M records before it spills. local[32] shares one 24 g heap:
      // left unbounded, 32 concurrent shuffle-map tasks legitimately
      // grow toward the full execution pool and the JVM OOMs in GC
      // thrash (measured on the 300× gram exchange); squeezed by a
      // memory-hungry cache instead, they degrade to hundreds of tiny
      // spills per task whose merge step opens them all at once and
      // blows the 20k fd hard limit (also measured). ~4M × ~40 B rows
      // ≈ 160 MB per task — dozens of spill files, not hundreds, and
      // ~5 GB of concurrent writer memory across 32 tasks. A real
      // cluster gives each task GBs and never needs this.
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "4000000")
      // Data-scaled reducer headroom, the deployment half of the
      // "shuffle partitions scale with the corpus" contract documented
      // in Similarity.cosinePairsLsh: heavy stages keep up to 512
      // reducers (a 9M-doc gram sort partitioned 32 ways put one task's
      // share past its execution-memory slice and OOM'd the first 300×
      // span_dedup attempt; 512 is ~64-128 MB/task there), AQE coalesces
      // tiny stages back to ~cores. Set HERE and not in GraftSession:
      // it is deployment tuning like the zstd/force-spill knobs above,
      // and globally it taxed every fixture-scale exchange with a
      // 512-bucket map output (2-3× on multi-shuffle jobs).
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    val baseDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "30000").toLong
    val baseVecs = sys.env.getOrElse("SPARK_GRAFT_SCALE_VECS", "20000").toLong
    // 1M base × factor 10 = 10M events at top scale: the drain is then
    // ROW-dominated (tens of seconds) rather than micro-batch-machinery
    // dominated, so the ratio measures per-row cost, not fixed overhead
    // (r8's 1M drains finished in ~6 s, mostly setup)
    val baseEvents = sys.env.getOrElse("SPARK_GRAFT_SCALE_EVENTS", "1000000").toLong
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    // comma list restricting which rows run (empty = all): the 100× run
    // re-measures only the cheap flagships at 3M docs / 2M vectors —
    // where shuffles actually spill — without paying the quadratic-ish
    // small-corpus tools (exact n-gram Jaccard oracle etc.) at that size
    val opFilter: String => Boolean = {
      val s = sys.env.getOrElse("SPARK_GRAFT_SCALE_OPS", "").trim
      // ngram_jaccard (exact all-pairs tool, quadratic by contract) only
      // runs when NAMED — see its row comment for the sizing rule
      if (s.isEmpty) name => name != "ngram_jaccard"
      else s.split(",").map(_.trim).filter(_.nonEmpty).toSet
    }
    val root = Files.createTempDirectory("graft-scale").toString

    // task-level input metrics (records/bytes actually READ by executors,
    // post partition-pruning and row-group skipping) — the evidence the
    // ann_fetch_lookup row's sublinearity claim rests on. The listener is
    // async; readers drain the bus through the bridge before reading.
    val inRecords = new java.util.concurrent.atomic.AtomicLong()
    val inBytes = new java.util.concurrent.atomic.AtomicLong()
    // Per-Spark-stage skew/spill record (r13 verdict tasks 3 and 6): for
    // every stage of a timed rep, the task-duration max/median ratio (the
    // guide §2.5 skew signal — a hot join key shows up as one straggler
    // reducer), total task time, and the stage's spill / shuffle bytes.
    // The per-op JSON line carries the last rep's top stages so the
    // superlinear-stage / skewed-key questions are answerable from the
    // artifact, not from a UI no one can open after the fact.
    final class StageRec(var name: String = "") {
      val durs = scala.collection.mutable.ArrayBuffer[Long]()
      var spill = 0L; var shufW = 0L; var shufR = 0L
    }
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val im = te.taskMetrics.inputMetrics
        inRecords.addAndGet(im.recordsRead)
        inBytes.addAndGet(im.bytesRead)
        val rec = stageAgg.computeIfAbsent(te.stageId, _ => new StageRec())
        rec.synchronized {
          rec.durs += te.taskInfo.duration
          rec.spill += te.taskMetrics.diskBytesSpilled
          rec.shufW += te.taskMetrics.shuffleWriteMetrics.bytesWritten
          rec.shufR += te.taskMetrics.shuffleReadMetrics.totalBytesRead: Unit
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val rec = stageAgg.computeIfAbsent(sc.stageInfo.stageId, _ => new StageRec())
        rec.name = sc.stageInfo.name.takeWhile(_ != '$').take(60)
      }
    })
    /** Drain the bus and render the top-`n` stages of the rep just timed
      * (by total task time) as JSON; resets the per-stage aggregation. */
    def stageSummary(n: Int = 5): String = {
      try org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      catch { case scala.util.control.NonFatal(_) => }
      import scala.jdk.CollectionConverters._
      val rows = stageAgg.asScala.toSeq.map { case (id, r) =>
        val ds = r.durs.sorted
        val med = if (ds.isEmpty) 0L else ds(ds.size / 2)
        val mx = if (ds.isEmpty) 0L else ds.last
        (id, r, ds.map(_.toDouble).sum / 1e3, mx.toDouble / math.max(med, 1L), ds.size)
      }.sortBy(-_._3).take(n)
      stageAgg.clear()
      rows.map { case (id, r, totS, maxMed, nTasks) =>
        s"""{"stage":$id,"name":"${esc(r.name)}","tasks":$nTasks,""" +
          s""""task_total_s":${r3(totS)},"max_med":${r3(maxMed)},""" +
          s""""spill_gb":${r3(r.spill / 1e9)},"shuf_w_gb":${r3(r.shufW / 1e9)},""" +
          s""""shuf_r_gb":${r3(r.shufR / 1e9)}}"""
      }.mkString("[", ",", "]")
    }

    // between reps: release registered caches, then force-drop ANY block
    // still held (iterative ops leave truncated-lineage localCheckpoint
    // RDDs whose async ContextCleaner removal otherwise lands inside the
    // next rep's window and reads as op variance), force-delete every
    // completed shuffle's files (the async GC-driven cleanup lags a
    // rep loop by minutes; the leak measured ~5 GB/rep on the 300×
    // span rows and no-spaced the final rep with 40+ GB of dead files
    // on disk — safe here because each rep builds a fresh frame and
    // nothing re-reads a previous rep's exchanges), sync, GC
    def purge(): Unit = {
      graft.ops.Caches.releaseAll()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(r => try r.unpersist(blocking = true)
        catch { case scala.util.control.NonFatal(_) => })
      try org.apache.spark.GraftSparkBridge
        .cleanAllShuffles(spark.sparkContext)
      catch { case scala.util.control.NonFatal(_) => }
      try Runtime.getRuntime.exec(Array("sync")).waitFor()
      catch { case scala.util.control.NonFatal(_) => }
      System.gc()
      Thread.sleep(200)
    }

    // ---- the claims-at-scale: five flagships + breadth + ANN rows ------
    // each op is a per-(op,scale) SETUP (untimed — closes over the
    // inputs; the ANN query row uses it to build its write-once postings
    // layout, exactly what ingest would have produced) returning the
    // thunk whose result frame is measured. The measurement materializes
    // with queryExecution.toRdd.count() — executing the op's OWN plan
    // with all output columns live. A plain .count() would let Catalyst
    // prune unused projections (it deletes shuffleShards' whole Window,
    // turning the measurement into a scan count).
    def log2ceil(scale: Int): Int =
      (math.log(scale) / math.log(2)).ceil.toInt
    // id-lookup buckets ∝ corpus (rows per bucket constant) — the same
    // "layout grows with the data, per-query work doesn't" rule the
    // postings' bits follow
    def lookupBuckets(scale: Int): Int = 32 * scale
    // write the two ANN layouts for a scale once (setup, untimed) —
    // shared by the query row and the fetch row, whichever runs first
    def ensureAnnLayouts(scale: Int, embs: DataFrame): Unit = {
      val pDir = s"$root/postings_$scale"
      if (!new java.io.File(pDir).exists()) {
        graft.ops.Similarity
          .lshPostings(embs, "vec_id", "embedding",
            tables = 8, bits = 8 + log2ceil(scale))
          .repartitionByRange(cpus.toInt, col("bucket"))
          .sortWithinPartitions("bucket")
          .write.parquet(pDir)
      }
      val lDir = s"$root/lookup_$scale"
      if (!new java.io.File(lDir).exists()) {
        graft.ops.Similarity.writeVectorLookup(embs, "vec_id", lDir,
          nBuckets = lookupBuckets(scale))
      }
    }
    val ops: Seq[(String, (DataFrame, DataFrame, Int) => () => DataFrame)] = Seq(
      // staged = true: the deployment shape for dedicated dedup batches —
      // each stage's pair output is materialized and completed shuffles
      // are synchronously released, so live shuffle disk is bounded by
      // the LARGEST stage (the unstaged single-action pipeline kept
      // every exchange live at once and no-spaced the 300× row on this
      // host's ~80 GB quota). SPARK_GRAFT_MINHASH_STAGED=0 restores the
      // single-action shape for comparison runs.
      // prefilterMinDocs = 0: BOTH scale points must run the SAME
      // (large-corpus, prefiltered) pipeline or the ratio compares two
      // different algorithms — the 30k-doc 1× baseline would otherwise
      // take the small-corpus direct path the gate reserves for fixture
      // workloads and flatter t1 by ~4×.
      "minhash_lsh_pairs" -> ((docs, _, _) => () =>
        graft.ops.TextDedup.minHashLshPairs(docs, "doc_id", "text",
          prefilterMinDocs = 0L,
          staged = !sys.env.get("SPARK_GRAFT_MINHASH_STAGED").contains("0"))),
      "span_dedup" -> ((docs, _, _) => () =>
        graft.ops.TextDedup.repeatedSpanDedup(docs, "doc_id", "text")),
      // LSH sized to the corpus (standard rule: buckets ∝ n, i.e.
      // bits += log2(scale)) so expected bucket occupancy — and with it
      // candidate pairs per row — stays constant; near-identical planted
      // dups agree on the extra hyperplane signs w.h.p., so recall holds
      "semantic_dedup" -> ((_, embs, scale) => () =>
        graft.ops.SemanticDedup
          .semanticDedup(embs, "vec_id", "embedding", threshold = 0.9,
            bits = 10 + log2ceil(scale))),
      "curation_pipeline" -> ((docs, _, _) => () =>
        graft.ops.Curation.chain(docs)), // the exact q77 chain, shared
      // shards scale with the corpus (the documented contract: a shard is
      // output-file-sized), so per-shard sort work stays constant
      "shuffle_shards" -> ((docs, _, scale) => () =>
        graft.ops.Sampling
          .shuffleShards(docs, "doc_id", numShards = 64 * scale)),
      // breadth rows beyond the five flagships: one hash-agg shuffle,
      // the gram-explode + anti-join decontamination (eval set sampled
      // from the corpus so it scales with it, as real eval suites do
      // when corpora grow), and the map-only text-analysis baseline
      "exact_dedup" -> ((docs, _, _) => () =>
        graft.ops.TextDedup.exactDedup(docs, "doc_id", "text")),
      // q17's combo-bucketed simhash pairs: the candidate join is bounded
      // by the maxBucket occupancy guard, so the claim is corpus-linear;
      // the stages_last_rep skew record (max/med task time on the bucket
      // join) is the r13-verdict task-6 evidence
      "simhash_pairs" -> ((docs, _, _) => () =>
        graft.ops.TextDedup.simHashPairs(docs, "doc_id", "text")),
      // q23's EXACT posting-list Jaccard (the all-pairs ground-truth
      // tool): inherently quadratic in hot-shingle occupancy — every doc
      // pair sharing a shingle is enumerated inside that shingle's
      // reducer, which no exact algorithm avoids. NOT in the default row
      // set (SPARK_GRAFT_SCALE_OPS=ngram_jaccard to run): at the default
      // 30k-doc base the generator's shared preamble alone implies
      // ~30k²/2 × 7 ≈ 3·10⁹ enumerated pairs in ONE task. Run it at a
      // small base (SPARK_GRAFT_SCALE_DOCS=5000, factor 2) to RECORD the
      // quadratic growth + straggler shape instead of claiming it.
      "ngram_jaccard" -> ((docs, _, _) => () =>
        graft.ops.TextDedup.exactJaccardPairs(docs, "doc_id", "text")),
      "decontaminate" -> ((docs, _, _) => () =>
        graft.ops.Decontaminate.clean(docs,
          docs.filter(col("doc_id") % 1000 === 2).select("text"),
          "doc_id", "text")),
      "text_analysis" -> ((docs, _, _) => () =>
        graft.ops.TextAnalysis.analyze(docs, "text")),
      // ---- the ANN surface, measured as its two production halves ----
      // ingest: the write-once multi-table LSH postings pass — map-only
      // explode, the corpus-linear claim. Signature width grows by
      // log2(scale) (buckets ∝ n) so downstream bucket occupancy is
      // constant across sizes, same rule as semantic_dedup above.
      "ann_ingest_postings" -> ((_, embs, scale) => () =>
        graft.ops.Similarity.lshPostings(embs, "vec_id", "embedding",
          tables = 8, bits = 8 + log2ceil(scale))),
      // query: top-k served ENTIRELY from prebuilt write-once layouts —
      // the postings (range-partitioned + sorted by bucket, so the
      // query's bucket IN-list prunes row groups via min/max stats — the
      // local stand-in for the documented partitionBy("bucket") layout
      // at 100 TB) AND the id-keyed vector lookup (hash-bucketed by id,
      // buckets ∝ corpus), through which the exact re-rank fetches ONLY
      // the candidates' rows. This closes r8's one remaining linear
      // term: the re-rank no longer scans the vectors frame end-to-end.
      // Claim: ratio well under the corpus factor — a query must not pay
      // ANY corpus-linear cost. The fetch half's read volume is measured
      // separately (ann_fetch_lookup below).
      "ann_query_postings" -> ((_, embs, scale) => {
        ensureAnnLayouts(scale, embs)
        val postings = spark.read.parquet(s"$root/postings_$scale")
        val lookup = spark.read.parquet(s"$root/lookup_$scale")
        () =>
          graft.ops.Similarity.lshTopKFromPostingsLookup(postings, lookup,
            "vec_id", "embedding", queryId = 5L, k = 10,
            nBuckets = lookupBuckets(scale),
            tables = 8, bits = 8 + log2ceil(scale))
      }),
      // ingest: the write-once PQ codes column (FAISS IVFADC's storage
      // half) — codebook trained once in setup on a fixed-size sample
      // (amortized over the table's life, and constant-cost by design),
      // the timed pass is the map-only encode of every vector.
      "pq_ingest_codes" -> ((_, embs, _) => {
        val codebook = graft.ops.Similarity
          .pqTrainCodebook(embs, "vec_id", "embedding", m = 8, kCent = 16)
        () => graft.ops.Similarity.pqCodes(embs, "embedding", codebook)
      })
    )

    // ---- streaming rows: watermarked micro-batch pipelines -------------
    // measured as the WALL TIME of a Trigger.AvailableNow drain through
    // the noop sink, maxFilesPerTrigger=4 over 32 time-ordered files →
    // ~8 micro-batches at every size, so the ratio isolates per-row
    // cost. State across scales: the window agg's is scale-CONSTANT
    // (the generator's fixed 24 h span fixes the window count); the
    // dedup's is bounded by the WATERMARK HORIZON — keys first seen
    // within the trailing 10 minutes, ∝ event rate × horizon, the same
    // bound a production deployment sizes state stores by (vs plain
    // dropDuplicates, which grows with all-time distinct keys). Each
    // run uses a fresh checkpoint, so every drain replays the whole
    // input.
    val streamOps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "stream_window_agg" -> (ev =>
        graft.streaming.StreamingEventStats.windowedCounts(ev)),
      "stream_dedup" -> (ev =>
        graft.streaming.StreamingEventStats
          .dedupWithinWatermark(ev, Seq("event_id"), "ts", "10 minutes"))
    )

    val out = scala.collection.mutable.ArrayBuffer[String]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // op -> scale -> median seconds
    val med = scala.collection.mutable.LinkedHashMap[(String, Int), Double]()
    // op -> scale -> sorted timed runs: the summary line carries each
    // scale's run SPREAD so a noisy baseline (which flatters the ratio)
    // is visible in the artifact itself, not only in a side note
    val allRuns = scala.collection.mutable.LinkedHashMap[(String, Int), Seq[Double]]()
    val counts = scala.collection.mutable.LinkedHashMap[(String, Int), Long]()
    // scale -> bytesRead of the last ann_fetch_lookup rep (claim evidence)
    val fetchBytes = scala.collection.mutable.LinkedHashMap[Int, Long]()

    // shared protocol: `setup` runs once untimed (builds the thunk —
    // e.g. writes the ANN postings layout), then one untimed warmup
    // (codegen + page cache) and `reps` timed runs, median recorded.
    // `extra` lets a row add fields (the streaming rows record their
    // driving event count — docs/vecs are corpus context only there).
    def measure(name: String, scale: Int, nd: Long, nv: Long,
                extra: String = "")
               (setup: => () => Long): Unit =
      try {
        val run = setup
        run() // untimed warmup
        purge()
        // each rep samples external user CPU + hypervisor steal the way
        // Bench reps do (r13 verdict ask: 300× records must self-describe
        // contamination — a single multi-minute rep is exactly where a
        // co-tenant burst is both most likely and least visible). No
        // retry here: scale reps cost minutes; disclosure over re-runs.
        var lastStages = "[]"
        val timed = (1 to reps).map { _ =>
          stageSummary() // reset stage aggregation to this rep's window
          val sampler = new Bench.ExtCpuSampler()
          val t0 = System.nanoTime()
          val rows = run()
          val sec = (System.nanoTime() - t0) / 1e9
          val ext = sampler.stop()
          lastStages = stageSummary()
          counts((name, scale)) = rows
          purge()
          (sec, ext)
        }.sortBy(_._1)
        val runs = timed.map(_._1)
        med((name, scale)) = runs(runs.size / 2)
        allRuns((name, scale)) = runs
        val line =
          s"""{"section":"scale_op","op":"$name","scale":$scale,"docs":$nd,"vecs":$nv,$extra""" +
            s""""rows_out":${counts((name, scale))},"median_s":${r3(med((name, scale)))},""" +
            s""""runs":${runs.map(r3).mkString("[", ",", "]")},""" +
            s""""ext":${timed.map(t => r3(t._2.avg)).mkString("[", ",", "]")},""" +
            s""""steal":${timed.map(t => r3(t._2.steal)).mkString("[", ",", "]")},""" +
            s""""stages_last_rep":$lastStages}"""
        out += line
        println(line) // progress is visible live; the summary reprints nothing
      } catch {
        case e: Throwable =>
          errors(s"${name}_$scale") =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }

    Seq(1, factor).foreach { scale =>
      val nd = baseDocs * scale
      val nv = baseVecs * scale
      val dDir = s"$root/docs_$scale"
      val eDir = s"$root/embs_$scale"
      CorpusDataGen.documents(spark, nd, partitions = cpus.toInt)
        .write.parquet(dDir)
      CorpusDataGen.embeddings(spark, nv, partitions = cpus.toInt)
        .write.parquet(eDir)
      val docs = spark.read.parquet(dDir)
      val embs = spark.read.parquet(eDir)
      ops.filter(o => opFilter(o._1)).foreach { case (name, fn) =>
        measure(name, scale, nd, nv) {
          val thunk = fn(docs, embs, scale) // setup: untimed, once per size
          () => thunk().queryExecution.toRdd.count()
        }
      }

      // the candidate-fetch half of the lookup-served ANN query, measured
      // on its own with a FIXED-width id list (16 ids at every scale —
      // a bounded probe's shape doesn't grow with the corpus): rows_out
      // records the executors' ACTUAL recordsRead for the fetch (drained
      // task InputMetrics, post partition-pruning + row-group skipping),
      // and the summary asserts that read volume stays ~FLAT across
      // scales — the direct measurement that the re-rank's data access
      // is corpus-independent, not merely that its wall time hides
      // inside job-launch overhead. The local pruning unit is a bucket
      // FILE (hash-bucketed ids span the full range, so one small file =
      // one row group with full-range stats), making read volume
      // ≤ |distinct probe buckets| × rows-per-bucket — rows-per-bucket
      // constant by the buckets-∝-corpus rule. The probe width must stay
      // BELOW the smallest scale's bucket count (32 here), or baseline
      // bucket saturation (64 ids over 32 buckets all hit) deflates t1
      // and fakes growth that is really a plateau at |probe| buckets.
      if (opFilter("ann_fetch_lookup")) {
        measure("ann_fetch_lookup", scale, nd, nv) {
          ensureAnnLayouts(scale, embs)
          val lookup = spark.read.parquet(s"$root/lookup_$scale")
          val stride = math.max(1L, nv / 16)
          val ids = (0 until 16).map(_ * stride)
          () => {
            inRecords.set(0); inBytes.set(0)
            graft.ops.Similarity
              .fetchVectorsById(lookup, "vec_id", ids, lookupBuckets(scale))
              .queryExecution.toRdd.count(): Unit
            org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
            fetchBytes(scale) = inBytes.get()
            inRecords.get() // → rows_out: records actually read
          }
        }
      }

      // streaming rows: time-ordered 32-file layout (range-partitioned
      // by the monotonic-in-ts event_id) so the drain's watermark
      // advances monotonically instead of dropping random late rows.
      // The file stream source orders files by MODIFICATION TIME, and
      // 32 parallel write tasks finish in arbitrary order — so the
      // mtimes are explicitly restamped in part-file-name order (=
      // range-partition order = ascending ts) after the write; without
      // this, one end-of-day file landing in the first micro-batch
      // jumps the watermark and the drain measures the late-drop path,
      // not the operator.
      val nEvents = baseEvents * scale
      val vDir = s"$root/events_$scale"
      val streamActive = streamOps.filter(o => opFilter(o._1))
      if (streamActive.nonEmpty) {
      CorpusDataGen.events(spark, nEvents, partitions = cpus.toInt)
        .repartitionByRange(32, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.parquet(vDir)
      val evBase = new java.io.File(vDir).lastModified()
      new java.io.File(vDir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex
        .foreach { case (f, i) => f.setLastModified(evBase + i * 1000L) }
      val evSchema = spark.read.parquet(vDir).schema
      streamActive.foreach { case (name, fn) =>
        measure(name, scale, nd, nv, extra = s""""events":$nEvents,""") {
          () => {
            // fresh checkpoint per drain, under root: never deleted
            // inside the timed region, reclaimed by the final cleanup
            val ck = Files
              .createTempDirectory(java.nio.file.Paths.get(root), "ck")
              .toString
            val src = spark.readStream.schema(evSchema)
              .option("maxFilesPerTrigger", 4).parquet(vDir)
            val q = fn(src).writeStream.format("noop")
              .option("checkpointLocation", ck)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            // the operator's OUTPUT rows (what reached the sink): the
            // window agg must emit its finalized windows and the dedup
            // ~90% survivors — a late-drop regression would crater
            // this count, where the input count would hide it
            q.recentProgress.map(_.sink.numOutputRows).filter(_ > 0).sum
          }
        }
      }
      }
    }

    // per-op pass bar: corpus-linear rows allow factor × 1.5 (shuffle
    // constants); the rows whose CLAIM is stronger than linear get a
    // stricter bar, so a regression back to linear fails loudly instead
    // of printing linear_ok over a falsified flat/constant claim —
    // ann_query must stay far under the factor (flat query cost), the
    // streaming drains at most the factor (constant per-row cost)
    def bar(name: String): Double = name match {
      case "ann_query_postings" | "ann_fetch_lookup" => math.max(2.0, factor * 0.3)
      case n if n.startsWith("stream_") => factor.toDouble
      case _ => factor * 1.5
    }
    val ratios = (ops.map(_._1) :+ "ann_fetch_lookup")
      .concat(streamOps.map(_._1)).flatMap { name =>
      for (t1 <- med.get((name, 1)); tN <- med.get((name, factor)))
        yield {
          // the fetch row's claim is about DATA ACCESS, not just wall
          // time: rows_out carries the executors' recordsRead, and the
          // pass requires that read volume (plus bytesRead) stays ~flat
          // across corpus scales — sublinear fetch made falsifiable
          val evidence = if (name.startsWith("stream_")) {
            // throughput the constant-per-row claim predicts stays flat:
            // with a row-dominated drain, rows/s at 10× ≈ rows/s at 1×
            s""""rows_per_s_t1":${r3(baseEvents / math.max(t1, 1e-9))},""" +
              s""""rows_per_s_t$factor":${
                r3(baseEvents * factor / math.max(tN, 1e-9))},"""
          } else if (name == "ann_fetch_lookup") {
            val r1 = counts.getOrElse((name, 1), 0L)
            val rN = counts.getOrElse((name, factor), 0L)
            val rowsRatio = rN.toDouble / math.max(r1.toDouble, 1.0)
            s""""rows_read_t1":$r1,"rows_read_t$factor":$rN,""" +
              s""""rows_ratio":${r3(rowsRatio)},""" +
              s""""bytes_read_t1":${fetchBytes.getOrElse(1, -1L)},""" +
              s""""bytes_read_t$factor":${fetchBytes.getOrElse(factor, -1L)},""" +
              s""""rows_ok":${rowsRatio < 2.0},"""
          } else ""
          // self-describing noise evidence: each scale's max/min run
          // ratio. A wide spread_t1 means the baseline median is soft
          // and the headline ratio inherits that uncertainty — readers
          // should not need a side file to see it.
          def spread(s: Seq[Double]): Double =
            if (s.size < 2 || s.head <= 0) -1.0 else s.last / s.head
          val spreads =
            s""""spread_t1":${r3(spread(allRuns.getOrElse((name, 1), Nil)))},""" +
              s""""spread_t$factor":${
                r3(spread(allRuns.getOrElse((name, factor), Nil)))},"""
          val timeOk = tN / math.max(t1, 1e-9) < bar(name)
          val ok = if (name == "ann_fetch_lookup")
            timeOk && counts.getOrElse((name, factor), Long.MaxValue).toDouble /
              math.max(counts.getOrElse((name, 1), 0L).toDouble, 1.0) < 2.0
          else timeOk
          s""""$name":{"t1":${r3(t1)},"t$factor":${r3(tN)},""" +
            s""""ratio":${r3(tN / math.max(t1, 1e-9))},"bar":${r3(bar(name))},""" +
            spreads + evidence + s""""linear_ok":$ok}"""
        }
    }
    val errJson = errors
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    // top-level self-description of 1× baseline noise (ADVICE r11): the
    // WORST per-op baseline spread, so a reader of just the summary line
    // knows how soft the ratios' denominators are without opening the
    // per-op records
    val baselineSpreadMax = {
      val spreads = allRuns.collect {
        case ((_, 1), runs) if runs.size >= 2 && runs.head > 0 =>
          runs.last / runs.head
      }
      if (spreads.isEmpty) -1.0 else spreads.max
    }
    val summary =
      s"""{"metric":"scale","unit":"ratio","base_docs":$baseDocs,"base_vecs":$baseVecs,"base_events":$baseEvents,""" +
        s""""factor":$factor,"cpus":$cpus,"baseline_spread_max":${r3(baselineSpreadMax)},""" +
        s""""ops":{${ratios.mkString(",")}},"errors":$errJson}"""
    out += summary

    try {
      val dest = sys.env.getOrElse("SPARK_GRAFT_SCALE_FILE", "scale_last.json")
      Files.writeString(java.nio.file.Paths.get(dest), out.mkString("", "\n", "\n"))
    } catch { case scala.util.control.NonFatal(_) => }
    println(summary)
    GraftSession.deleteRec(new java.io.File(root))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  private def r3(d: Double): Double = math.rint(d * 1000) / 1000
  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => " "
                case '\r' => ""; case c if c < ' ' => " "; case c => c.toString }
}
