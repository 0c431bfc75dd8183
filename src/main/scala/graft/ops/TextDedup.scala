package graft.ops

import graft.expressions.{HashedShingles, MinHashSig, PackedByteAgreement, PackSigBytes, SimHash64}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators (SURVEY.md §7.6 —
  * training-data-pipeline extensions beyond the reference's keyed dedup).
  *
  * All variants are expression-only (codegen'd, no UDFs) and bucketed —
  * never all-pairs: MinHash-LSH joins only within band buckets, SimHash
  * joins only within 16-bit signature blocks. At 100 TB the shuffle is
  * bounded by (docs × bands) band keys, and candidate verification only
  * touches LSH-colliding pairs.
  */
object TextDedup {

  /** Whitespace word tokens, lowercased. */
  def tokens(textCol: String): Column =
    split(lower(trim(col(textCol))), "\\s+")

  /** Distinct word n-gram shingles of `textCol` as an array column.
    * Guarded: texts shorter than `n` tokens yield an empty array —
    * sequence(0, negative) would produce a DESCENDING sequence and a
    * slice(…, 0, …) runtime error. */
  def shingles(textCol: String, n: Int): Column = {
    // the token array is BOUND once as a lambda var: referencing the
    // split(...) expression textually inside the transform lambda would
    // re-split the text once per shingle, interpreted (lambda bodies
    // never reach codegen or CSE)
    expr(s"element_at(transform(array(split(lower(trim($textCol)), '\\\\s+')), __t -> " +
      s"CASE WHEN size(__t) < $n THEN array() " +
      s"ELSE array_distinct(transform(sequence(0, size(__t) - $n), " +
      s"i -> concat_ws(' ', slice(__t, i + 1, $n)))) END), 1)")
  }

  /** Distinct word n-gram shingles as 64-bit HASHES — the native
    * [[graft.expressions.HashedShingles]] expression (one codegen'd
    * static call; the SQL split/transform/array_distinct tree it
    * replaces was ~9× slower to run and dominated first-run Janino
    * compile time). Set semantics identical to [[shingles]] up to 64-bit
    * hash collisions — the downstream Jaccard values are unchanged. */
  def hashedShingles(textCol: String, n: Int): Column =
    GraftColumnBridge.column(
      HashedShingles(GraftColumnBridge.expression(col(textCol)), n))

  /** Exact content dedup: one row per distinct text with the lowest id as
    * canonical and the copy count. Single hash-aggregate shuffle. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(textCol)
      .agg(min(idCol).as(s"canonical_$idCol"), count(lit(1)).as("n_copies"))

  /** MinHash signature column over a shingle-hash array column — the
    * native [[graft.expressions.MinHashSig]] expression (a JVM loop
    * inside whole-stage codegen; the SQL higher-order-function
    * formulation it replaces interpreted 128 lambdas per shingle and
    * measured ~15 s for 5000 docs). */
  private def signature(shCol: String, numHashes: Int, seed: Long): Column =
    GraftColumnBridge.column(
      MinHashSig(GraftColumnBridge.expression(col(shCol)), numHashes, seed))

  /** MinHash + LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Pipeline: shingle → murmur3 hash → `numHashes` minhash signature →
    * bands of `bandRows` rows hashed to a band key → explode → self-join
    * on band key (the ONLY join; bucket-local) → distinct candidate pairs
    * → estimated-Jaccard prefilter on byte-packed signatures (narrow
    * joins; cuts random band collisions before any wide row moves)
    * → exact Jaccard on the true shingle sets → filter ≥ `threshold`.
    *
    * With bandRows=2 and 64 bands, a pair at Jaccard 0.5 is caught with
    * p = 1-(1-0.5²)⁶⁴ ≈ 1-1e-8 — the exact-verification output is
    * indistinguishable from the all-pairs answer, at bucket-join cost.
    *
    * `maxBucket` bounds the candidate work: band buckets with occupancy
    * above it contribute sparse segmented successor edges instead of
    * all intra-bucket pairs — see [[LshBuckets.candidates]]. Without
    * the guard the candidate set is QUADRATIC in corpus-wide
    * boilerplate: every doc sharing a template (license header,
    * navigation chrome — here the generator's shared 9-token preamble)
    * has some minhash slots decided by the template's shingles, so a
    * scale-PROPORTIONAL slice of the corpus agrees on those bands even
    * though pairwise Jaccard is ~0.04. Measured at 900k docs: the top
    * three buckets held 12k/9.8k/8.1k docs = 154M of 162M candidate
    * pairs (3× the 300k-doc corpus → 9.2× pairs), and carrying two
    * ~1 KB shingle arrays per candidate through the verification joins
    * filled 80 GB of shuffle disk. With the guard, candidates are
    * linear in n. Recall: a true pair whose similarity comes from
    * doc-SPECIFIC content collides on bands (≈J^bandRows·numBands ≈ 16
    * at J=0.5) whose keys mix doc-specific shingle minima, so those
    * buckets are duplicate-cluster-sized, stay under the cap, and keep
    * the exact LSH guarantee; inside an over-cap TRUE cluster the
    * verified edges keep the cluster connected for component/dedup
    * consumers. The EXCEPTION is a pair whose similarity is driven by
    * the shared template itself (e.g. J = 0.6 mostly from a common
    * license header): its collisions land in the over-cap buckets and
    * the pair is emitted only if the ids sit within a few verified
    * hops — see the caveat on [[LshBuckets.candidates]]. Raise the cap
    * (to `Int.MaxValue` for exact LSH semantics) if enumerating
    * template-driven pairs outweighs bounding candidate cost.
    *
    * `prefilterMinDocs` gates the packed-signature prefilter + gram
    * semi-prune (below): both exist to keep the WIDE (~1 KB/doc) gram
    * frame out of the verification shuffles, a cost proportional to
    * corpus BYTES — at fixture scale (thousands of docs) the pruned
    * exchanges are KBs and the prefilter's fixed plumbing (two signature
    * joins, a persist, a distinct, two semi joins) is pure overhead
    * (measured +0.7 s on the q28 cluster fixture). Corpora under the
    * gate verify candidates directly against the gram frame — the exact
    * same output, since the prefilter only REMOVES candidates the exact
    * Jaccard join would reject anyway (up to its ~3e-7 miss rate, which
    * the direct path doesn't have). The doc count is a count() on the
    * cache the occupancy probe just materialized — batch-stat metadata,
    * no extra shuffle.
    *
    * `staged = true` bounds live shuffle-disk footprint for dedicated
    * batch runs: each pipeline stage's (small) output is materialized
    * into its registered cache and every completed shuffle's files are
    * synchronously released before the next stage runs, so peak disk is
    * the LARGEST single stage, not the sum of all stages — a single
    * lazy action keeps every exchange live simultaneously, which at 9M
    * docs (300×) exceeded an ~80 GB quota where no single stage came
    * close. Costs two extra pipeline barriers; results are identical.
    * See the safety contract on [[Caches.purgeShuffles]]: do not enable
    * while unrelated plans run concurrently in the same session.
    *
    * @return (idCol_1, idCol_2, jaccard) with idCol_1 < idCol_2
    */
  def minHashLshPairs(df: DataFrame,
                      idCol: String,
                      textCol: String,
                      shingleSize: Int = 3,
                      numHashes: Int = 128,
                      bandRows: Int = 2,
                      threshold: Double = 0.5,
                      seed: Long = 42L,
                      maxBucket: Int = 4096,
                      prefilterMinDocs: Long = 100000L,
                      staged: Boolean = false): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")
    // persisted: consumed by both sides of the candidate self-join and by
    // the verification joins — avoids recomputing the 128-hash signatures.
    // Registered with Caches so the caller can release after materializing.
    // __bands is a native UnaryExpression (BandHashes): the SQL
    // transform-lambda formulation re-evaluated the inlined shingle +
    // minhash pipeline interpreted once per band — 64× per row.
    // __sig feeds BOTH __bands and the packed prefilter signature: the
    // two projections collapse into one and whole-stage codegen's
    // subexpression elimination evaluates MinHashSig once per row.
    val sigExpr = signature("__grams", numHashes, seed)
    val base = Caches.registered(df
      .select(col(idCol), hashedShingles(textCol, shingleSize).as("__grams"))
      .filter(size(col("__grams")) > 0)
      .select(col(idCol), col("__grams"),
        GraftColumnBridge.column(graft.expressions.BandHashes(
          GraftColumnBridge.expression(sigExpr), bandRows)).as("__bands"),
        GraftColumnBridge.column(PackSigBytes(
          GraftColumnBridge.expression(sigExpr))).as("__psig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    val bands = base.select(col(idCol), explode(col("__bands")).as("__band"))

    // The eager probe job yields the max raw band occupancy (the
    // [[LshBuckets.candidates]] mega-bucket guard signal, handed down as
    // knownMaxOcc so no second probe runs) and materializes `base`'s
    // cache as a side effect. The prefilter gate's corpus size is then a
    // count() ON THE MATERIALIZED CACHE — an InMemoryTableScan over
    // batch row counts, no shuffle — rather than band rows / numBands:
    // inferring docs from the explode undercounts any doc whose band
    // array came out null/empty, and an undercount at the gate boundary
    // would silently flip a large corpus onto the direct (unprefiltered)
    // path — output-identical but defeating the scale path (ADVICE r12).
    val probeRow = bands.groupBy(col("__band")).agg(count(lit(1)).as("__occ"))
      .agg(max(col("__occ"))).head()
    val maxOcc = if (probeRow.isNullAt(0)) 0L else probeRow.getLong(0)
    val nDocs = base.count()
    // staged: the probe's group-by exchange carries ~every distinct band
    // key (≈ docs × bands rows pre-combine) — release it before the
    // candidate stage piles its own exchanges on top
    if (staged) Caches.purgeShuffles(df)

    // boilerplate/mega-cluster guard — see [[LshBuckets.candidates]]
    val candidatesPlan =
      LshBuckets.candidates(bands, idCol, "__band", maxBucket,
        knownMaxOcc = Some(maxOcc))

    // exact-Jaccard verification against a gram frame — shared by the
    // direct (small-corpus) and prefiltered (large-corpus) paths.
    // The joins stay sort-merge: the shingle side is ~1 KB/doc, so a
    // shuffled-hash build (docs/partitions rows PER CONCURRENT TASK,
    // on-heap) measured as a heap OOM at 3M docs / 32 tasks / 24 g,
    // while SMJ's external sort spills and completes. Contrast
    // cosinePairsLsh, where the ~dim·4-byte vector side IS hash-built —
    // build width decides the strategy.
    def verifyExact(pairs: DataFrame, gramFrame: DataFrame): DataFrame =
      pairs
        .join(gramFrame.select(col(idCol).as("__id1"), col("__grams").as("__g1")), "__id1")
        .join(gramFrame.select(col(idCol).as("__id2"), col("__grams").as("__g2")), "__id2")
        .withColumn("jaccard",
          expr("size(array_intersect(__g1, __g2)) / cast(size(array_union(__g1, __g2)) AS double)"))
        .filter(col("jaccard") >= threshold)
        .select(col("__id1").as(s"${idCol}_1"), col("__id2").as(s"${idCol}_2"),
          round(col("jaccard"), 3).as("jaccard"))

    // small corpus: candidates → exact verification, no prefilter
    // plumbing (see the scaladoc gate rationale). Recall here is the
    // pure LSH guarantee — the over-cap chain/star edges are verified
    // EXACTLY, with no prefilter miss rate at all.
    if (nDocs < prefilterMinDocs)
      return verifyExact(candidatesPlan, base.select(col(idCol), col("__grams")))

    // staged: the candidate stage (bucket distinct/occupancy machinery +
    // the band self-join) is the pipeline's widest shuffle consumer;
    // materialize its narrow (two-long) pair output and release those
    // exchanges before the prefilter joins run
    val candidates =
      if (staged) {
        val c = Caches.registered(candidatesPlan
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        c.count()
        Caches.purgeShuffles(df)
        c
      } else candidatesPlan

    // Estimated-Jaccard prefilter (the Hamming-prefilter move from
    // [[Similarity.cosinePairsLsh]]): a candidate pair's byte-packed
    // signatures agree on slot i with probability J + (1−J)/256 (true
    // agreement plus the packed-byte collision rate), so the agreement
    // count of a TRUE pair at exactly `threshold` is Binomial(numHashes,
    // p_t) plus the always-equal zero-padding bytes of the last packed
    // long; the cutoff sits 5σ below that expectation (miss rate ~3e-7,
    // negligible against the bands' own ~1e-8 collision miss rate —
    // NOTE the over-cap chain/star edges from [[LshBuckets.candidates]]
    // pass through this filter too, so a missed borderline CHAIN edge
    // would cost cluster connectivity, not just one pair; the K=2 chain
    // redundancy covers isolated misses). Random band collisions
    // (J ≈ 0.04 → expected agreement ≈ numHashes/23) fall far below the
    // cutoff, so the expensive gram-side exact joins see only
    // plausibly-true pairs. The prefilter join chain carries 128-BYTE
    // packed signatures, not ~1 KB shingle arrays — shuffle_hash build
    // sides stay executor-resident under the same partitions-scale-
    // with-corpus contract documented in cosinePairsLsh.
    val pT = threshold + (1.0 - threshold) / 256.0
    val padBytes = ((numHashes + 7) / 8) * 8 - numHashes
    val minAgree = math.max(0, math.floor(numHashes * pT + padBytes -
      5.0 * math.sqrt(numHashes * pT * (1.0 - pT)))).toInt
    val psigs = base.select(col(idCol), col("__psig"))
    // persisted: consumed by the id semi-prune below AND the final pair
    // joins — two longs per row, and the prefilter leaves roughly the
    // true-pair set, so the cache is ∝ duplicate pairs, not candidates
    val prefiltered = Caches.registered(candidates
      .join(psigs.select(col(idCol).as("__id1"), col("__psig").as("__p1"))
        .hint("shuffle_hash"), "__id1")
      .join(psigs.select(col(idCol).as("__id2"), col("__psig").as("__p2"))
        .hint("shuffle_hash"), "__id2")
      .filter(GraftColumnBridge.column(PackedByteAgreement(
        GraftColumnBridge.expression(col("__p1")),
        GraftColumnBridge.expression(col("__p2")))) >= minAgree)
      .select(col("__id1"), col("__id2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // staged: materialize the (duplicate-rate-∝) prefiltered pair cache
    // and release the prefilter joins' exchanges before verification
    if (staged) {
      prefiltered.count()
      Caches.purgeShuffles(df)
    }

    // Semi-prune the gram frame to ids that SURVIVED the prefilter
    // before the wide verification joins: without this, BOTH pair joins
    // shuffle+sort the full ~1 KB/doc gram frame even when survivors are
    // a few pairs per thousand docs (measured at 100× / 3M docs: the two
    // full-gram exchanges dominated the operator and were its spill-IO
    // variance source). Survivor ids are ∝ the duplicate rate, so AQE
    // turns the semi join into a broadcast at runtime and the gram frame
    // is pruned with NO shuffle; on a pathological mostly-duplicates
    // corpus the prune degrades to one extra gram shuffle (3 instead of
    // 2) — linear either way, never quadratic.
    val survivorIds = prefiltered.select(col("__id1").as(idCol))
      .union(prefiltered.select(col("__id2").as(idCol)))
      .distinct()
    val grams = base.select(col(idCol), col("__grams"))
      .join(survivorIds, Seq(idCol), "left_semi")
    // post-prune both verification sides are survivor-sized — see
    // verifyExact for why the joins stay sort-merge
    verifyExact(prefiltered, grams)
  }

  /** SimHash signature packed into ONE bigint — the native
    * [[graft.expressions.SimHash64]] expression (bit b = sign of
    * Σ_features ±1 by feature-hash bit b; a JVM loop inside whole-stage
    * codegen. The SQL fold it replaces allocated two 64-slot arrays per
    * fold step and measured ~20 s for 5000 docs; carrying the bits as a
    * 64-int ARRAY through the join also made the candidate shuffle 64×
    * wider than this single long). */
  private def simhashSig(shCol: String): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(col(shCol))))

  /** 14 block boundaries over 64 bits: 8 blocks of 5 bits + 6 of 4. */
  private val SimhashBlocks: Seq[(Int, Int)] = {
    val sizes = Seq.fill(8)(5) ++ Seq.fill(6)(4)
    sizes.scanLeft(0)(_ + _).zip(sizes).map { case (off, len) => (off, len) }
  }
  private val NumSimhashBlocks = SimhashBlocks.size

  /** Block value i, extracted from the packed signature by shift+mask. */
  private def blockSql(sigCol: String, i: Int): String = {
    val (off, len) = SimhashBlocks(i)
    s"(shiftright($sigCol, $off) & ${(1L << len) - 1})"
  }

  /** One combo bucket key for block pair (i, j) — shared by the full
    * 91-combo array and the occupancy-probe subset so probe keys hash
    * into EXACTLY the real buckets. */
  private def comboKeySql(sigCol: String, i: Int, j: Int): String =
    s"hash($i, $j, ${blockSql(sigCol, i)}, ${blockSql(sigCol, j)})"

  /** Bucket keys: one per PAIR of blocks (C(14,2) = 91 combos). If two
    * signatures differ in ≤ 12 bits, at least 2 of the 14 blocks agree
    * (pigeonhole), so they share at least one combo key — perfect recall
    * for maxHamming ≤ 12. ~9-bit combo keys keep random collisions low
    * where single 4-5-bit blocks would bucket half the corpus together. */
  private[graft] def simhashComboSql(sigCol: String): String = {
    val combos = for {
      i <- 0 until NumSimhashBlocks; j <- (i + 1) until NumSimhashBlocks
    } yield comboKeySql(sigCol, i, j)
    combos.mkString("array(", ",", ")")
  }

  /** Occupancy-PROBE subset of the combo keys: the 7 disjoint block
    * pairs (0,1),(2,3),…,(12,13) — every block appears in exactly one
    * probed combo, so any cohort agreeing on ≥ 13 of the 14 blocks is
    * GUARANTEED to land in a probed combo (≥ 6 of the 7 pairs fully
    * shared), and partially-agreeing cohorts are caught statistically:
    * simhash bits are majority votes over ALL of a doc's features, so
    * shared-template bias spreads across all 64 bit positions and
    * elevates every combo's occupancy roughly uniformly rather than
    * pinning a combo the probe skipped. Probing 7 of 91 combos cuts the
    * eager occupancy agg ~13× (see [[LshBuckets.candidates]] for the
    * false-clean contract: a missed over-cap bucket costs quadratic
    * candidate work in that bucket, never a wrong answer). */
  private[graft] def simhashProbeComboSql(sigCol: String): String =
    (0 until NumSimhashBlocks by 2)
      .map(i => comboKeySql(sigCol, i, i + 1))
      .mkString("array(", ",", ")")

  /** SimHash near-duplicate pairs: combo-bucketed join on the packed
    * signature's block pairs, exact Hamming filter via `bit_count(xor)`
    * ≤ `maxHamming`, then (by default) exact-Jaccard verification of the
    * surviving candidates for precision.
    *
    * Recall is what simhash inherently offers: a pair at EXACTLY Jaccard
    * 0.5 expects Hamming ≈ 64·acos(2/3)/π ≈ 17 > the default threshold,
    * so borderline pairs can be missed (measured: 24/25 at sf0.1, 25/25
    * at sf0.01); [[minHashLshPairs]] is the variant with a near-1 recall
    * guarantee at the Jaccard threshold. Precision after verification is
    * exact.
    * @return (idCol_1, idCol_2, hamming) with idCol_1 < idCol_2 */
  def simHashPairs(df: DataFrame,
                   idCol: String,
                   textCol: String,
                   shingleSize: Int = 3,
                   maxHamming: Int = 12,
                   verifyJaccard: Option[Double] = Some(0.5),
                   maxBucket: Int = 4096): DataFrame = {
    require(maxHamming <= NumSimhashBlocks - 2,
      "combo recall guarantee only holds for maxHamming <= numBlocks - 2")
    val base = Caches.registered(df
      .select(col(idCol), hashedShingles(textCol, shingleSize).as("__grams"))
      .filter(size(col("__grams")) > 0)
      .withColumn("__sig", simhashSig("__grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // occupancy probe on 7 of the 91 combos (block-disjoint, keys
    // identical to the real buckets') — see [[simhashProbeComboSql]].
    // The probe job also materializes the base cache.
    val probeMaxOcc = LshBuckets.maxRawOccupancy(
      base.select(col(idCol),
        explode(expr(simhashProbeComboSql("__sig"))).as("__bucket")), "__bucket")

    val candidates = if (probeMaxOcc <= maxBucket) {
      // CLEAN corpus (the common case): the signature is ONE long, so it
      // rides the bucket self-join directly and the Hamming filter runs
      // BEFORE the distinct — at fixture scale the ~9-bit combo keys make
      // the candidate set mostly random collisions (measured: 2.37M raw
      // pairs from 5k docs), and distinct-then-join-sigs over those was
      // the whole cost of the operator (2.9 s vs 2.0 s for this shape).
      // At corpus scale the same ordering keeps the distinct's shuffle
      // proportional to TRUE pairs, not collisions.
      val bsig = base.select(col(idCol), col("__sig"),
        explode(expr(simhashComboSql("__sig"))).as("__bucket"))
      bsig.alias("l").join(bsig.alias("r"),
          col("l.__bucket") === col("r.__bucket") &&
            col(s"l.$idCol") < col(s"r.$idCol"), "inner")
        .select(col(s"l.$idCol").as("__id1"), col(s"r.$idCol").as("__id2"),
          expr("cast(bit_count(l.__sig ^ r.__sig) AS int)").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
    } else {
      // over-cap corpus: the generic guard (segmented chains + star) —
      // the bucket frame carries only (id, bucket); identical texts
      // share ALL 91 combo keys, so a big exact-dup cluster is a
      // guaranteed mega-bucket — same guard as minhash. knownMaxOcc
      // hands the probe result over so no second probe job runs.
      val buckets = base.select(col(idCol),
        explode(expr(simhashComboSql("__sig"))).as("__bucket"))
      val sigs = base.select(col(idCol), col("__sig"))
      LshBuckets.candidates(buckets, idCol, "__bucket", maxBucket,
          knownMaxOcc = Some(probeMaxOcc))
        .join(sigs.select(col(idCol).as("__id1"), col("__sig").as("__s1")), "__id1")
        .join(sigs.select(col(idCol).as("__id2"), col("__sig").as("__s2")), "__id2")
        .select(col("__id1"), col("__id2"),
          expr("cast(bit_count(__s1 ^ __s2) AS int)").as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }

    val verified = verifyJaccard match {
      case Some(t) =>
        val grams = base.select(col(idCol), col("__grams"))
        // sort-merge, not shuffle_hash — same build-width rule as
        // minHashLshPairs: a ~1 KB/doc build side OOMs concurrent
        // on-heap hash builds at corpus scale; the external sort spills
        candidates
          .join(grams.select(col(idCol).as("__id1"), col("__grams").as("__g1")), "__id1")
          .join(grams.select(col(idCol).as("__id2"), col("__grams").as("__g2")), "__id2")
          .filter(expr(
            s"size(array_intersect(__g1, __g2)) / cast(size(array_union(__g1, __g2)) AS double) >= $t"))
      case None => candidates
    }
    verified.select(col("__id1").as(s"${idCol}_1"), col("__id2").as(s"${idCol}_2"),
      col("hamming"))
  }

  /** Connected components over an undirected pair/edge frame: every
    * vertex converges to the SMALLEST id reachable from it, which becomes
    * the component (cluster) label.
    *
    * Algorithm: each round does (1) min-label propagation over edges,
    * then (2) a POINTER JUMP — `label := label(label)` — on the freshly
    * propagated labels. The jump doubles the distance a label has
    * travelled, so the reach after round k is ~2^(k+1), i.e. convergence
    * in **O(log diameter)** rounds instead of the O(diameter) of plain
    * propagation (a 100-vertex chain resolves in 7 rounds, not 100).
    * Correctness invariant: a vertex's label is always the id of some
    * node reachable from it and only ever decreases, so the fixed point
    * (labels constant along every edge) is exactly min-reachable-id.
    *
    * Scale: each round is two equi-joins + one hash aggregate over
    * (edges + vertices) — no all-pairs work, and O(log d) sequential
    * rounds even for chain-shaped duplicate graphs. Both joins shrink as
    * components converge: propagation joins edges against the CHANGED
    * frontier only (an unchanged neighbour's label was already folded in
    * the last round it changed — labels are monotone decreasing, so this
    * is round-for-round identical to full propagation), and the jump's
    * lookup side holds only non-root labels (label(c)==c is an identity
    * the left-join's coalesce already supplies). Each round's labels
    * are `localCheckpoint`ed: without lineage truncation the logical plan
    * DOUBLES twice per round (labels feeds the propagation union twice,
    * the propagation feeds the jump join twice → O(4^rounds) plan nodes)
    * and Catalyst re-optimization, not the data, becomes the bottleneck.
    * The convergence probe is the count action that materializes the
    * round's checkpoint (a count over a carried `__changed` flag), so no
    * round pays a separate recomputation job; the previous round's
    * checkpoint blocks are released as soon as the next materializes.
    * The RESULT is checkpoint-backed: materialize it before calling
    * [[Caches.releaseAll]] (release truncates recomputability).
    * @return (id, cluster) — cluster = min reachable id */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(edges, srcCol, dstCol, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds executed (the
    * last round is the one that observes no change). Exposed so specs
    * can assert the O(log diameter) bound. */
  def connectedComponentsWithRounds(edges: DataFrame, srcCol: String,
                                    dstCol: String, maxIter: Int = 25): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persisted: every propagation round joins against the edge list —
    // without this the edge-producing plan (often a whole LSH candidate
    // pipeline) re-runs once per round
    val sym = Caches.registered(
      edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
        .union(edges.select(col(dstCol).as("__a"), col(srcCol).as("__b")))
        .persist(lvl))
    val idType = sym.schema("__a").dataType
    // eager checkpoint: round plans start from a flat LogicalRDD scan.
    // `__changed` marks the FRONTIER — vertices whose label moved last
    // round (everything, initially) and so are the only ones whose label
    // can still teach a neighbour anything.
    var labels = sym.select(col("__a").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .withColumn("__changed", lit(true))
      .localCheckpoint(true)
    // Scale-adaptive loop parallelism (guide §2: derive partitioning
    // from input size, never a constant tuned for local mode or the
    // cluster): the label-init above just materialized the edge cache,
    // so its EXACT in-memory size is available. Every round is two
    // joins + an agg over (edges + labels); a kilobyte-scale duplicate
    // graph otherwise inherits the session's parallelism constant —
    // dozens of empty map tasks per round × O(log d) rounds of pure
    // scheduler overhead — while corpus-scale edge sets keep the
    // session's value (it is the CAP, same contract as the streaming
    // state scaling). Partitioning never changes join/agg results; the
    // previous setting is restored after the loop.
    val session = edges.sparkSession
    val symBytes =
      try sym.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val prevShuffle = session.conf.get("spark.sql.shuffle.partitions")
    val perPart = 16L * 1024 * 1024
    val loopParts = math.max(1L,
      math.min(prevShuffle.toLong, (symBytes + perPart - 1) / perPart))
    val symLoop =
      if (loopParts < sym.rdd.getNumPartitions) sym.coalesce(loopParts.toInt)
      else sym
    session.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    var converged = labels.isEmpty
    var i = 0
    try {
    while (!converged && i < maxIter) {
      // (1) propagate: new label = min over self + CHANGED neighbours'
      // labels only (the frontier). Equivalent to full propagation round
      // by round: labels only decrease, so a neighbour u whose label is
      // unchanged since it last entered the frontier was min()-folded
      // into this vertex back then — re-sending label(u) cannot lower
      // anything. The edge join therefore shrinks with the frontier as
      // components converge, instead of rejoining every edge against
      // every label each round.
      // The previous label rides along as `__old` (NULL on edge rows;
      // min() ignores NULLs and each id has exactly one labels row, so
      // min(__old) IS the previous label — no extra join to recover it).
      val frontier = labels.filter(col("__changed"))
        .select(col("id").as("__fid"), col("cluster").as("__fcl"))
      val prop = labels.select(col("id"), col("cluster"), col("cluster").as("__old"))
        .union(symLoop.join(frontier, symLoop("__b") === col("__fid"))
          .select(col("__a").as("id"), col("__fcl").as("cluster"),
            lit(null).cast(idType).as("__old")))
        .groupBy("id").agg(min("cluster").as("cluster"), min("__old").as("__old"))
        .persist(lvl)
      // (2) pointer jump: label := label(label). Only NON-ROOT rows
      // (cluster != id) go into the lookup side: label(c)==c makes the
      // jump an identity, and the left join's coalesce already supplies
      // exactly that identity on a miss — byte-identical result, but the
      // build side shrinks to the not-yet-rooted vertices (most of the
      // graph roots within the first rounds).
      val jump = prop.filter(col("cluster") =!= col("id"))
        .select(col("id").as("__jid"), col("cluster").as("__jcl"))
      // lazy checkpoint: the convergence count below is the action that
      // computes the round AND persists its blocks — one pass, and the
      // next round's plan starts from the flat checkpoint scan.
      val next = prop.join(jump, prop("cluster") === jump("__jid"), "left")
        .select(prop("id"),
          coalesce(col("__jcl"), prop("cluster")).as("cluster"),
          (coalesce(col("__jcl"), prop("cluster")) =!= col("__old")).as("__changed"))
        .localCheckpoint(false)
      val changed = next.agg(count(when(col("__changed"), lit(1)))).first().getLong(0)
      prop.unpersist(false)
      GraftColumnBridge.unpersistCheckpoint(labels)
      labels = next
      converged = changed == 0
      i += 1
    }
    } finally session.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    val result = labels
    Caches.registeredRelease(() => GraftColumnBridge.unpersistCheckpoint(result))
    (labels.select("id", "cluster"), i)
  }

  /** Duplicate-cluster assignment for a document frame: near-dup pairs
    * (MinHash-LSH, exact-verified) → connected components → every doc
    * labeled with its cluster's canonical (minimum) id; docs in no pair
    * form singleton clusters. `is_canonical` marks the one row per
    * cluster a dedup pipeline would keep.
    * @return (idCol, cluster_id, is_canonical) */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol,
      shingleSize = shingleSize, threshold = threshold)
    val cc = connectedComponents(pairs, s"${idCol}_1", s"${idCol}_2")
    df.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  /** EXACT n-gram Jaccard pairs via an inverted-index join: explode
    * shingle hashes, self-join on the shingle, count shared shingles per
    * pair, jaccard = |∩| / (n1 + n2 − |∩|). Only pairs sharing at least
    * one shingle are ever scored — the exact answer at posting-list-join
    * cost, never a full cross product. (An earlier all-pairs
    * array_intersect formulation took 689 s on 5000 docs; this runs the
    * identical result in ~3 s. Worst case degrades with shingle-sharing
    * density, as any exact algorithm must.) */
  def exactJaccardPairs(df: DataFrame,
                        idCol: String,
                        textCol: String,
                        shingleSize: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    val grams = df
      .select(col(idCol), hashedShingles(textCol, shingleSize).as("__g"))
      .filter(size(col("__g")) > 0)
      .select(col(idCol), col("__g"), size(col("__g")).as("__n"))
    val postings = grams.select(col(idCol), col("__n"), explode(col("__g")).as("__sh"))
    postings.alias("l")
      .join(postings.alias("r"),
        col("l.__sh") === col("r.__sh") && col(s"l.$idCol") < col(s"r.$idCol"))
      .groupBy(col(s"l.$idCol").as("__id1"), col(s"r.$idCol").as("__id2"),
        col("l.__n").as("__n1"), col("r.__n").as("__n2"))
      .agg(count(lit(1)).as("__common"))
      .withColumn("jaccard",
        col("__common") / (col("__n1") + col("__n2") - col("__common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("__id1").as(s"${idCol}_1"), col("__id2").as(s"${idCol}_2"),
        round(col("jaccard"), 3).as("jaccard"))
  }

  /** Sub-document (paragraph-level) exact dedup — the Dolma/RefinedWeb
    * pipeline step that removes boilerplate repeated ACROSS documents
    * (headers, footers, licence blocks) while keeping each document's
    * unique content: split every document on `delim`, keep only the
    * globally FIRST occurrence of each normalized paragraph (first =
    * lowest (`idCol`, position) — deterministic), drop empty paragraphs,
    * and reassemble each document's surviving paragraphs in their
    * original order, joined by `joiner`. Documents whose every paragraph
    * was seen earlier vanish from the output entirely.
    *
    * Scale shape: two keyed shuffles, no all-pairs anywhere — a
    * row_number window over the normalized-paragraph key picks winners,
    * then one hash aggregation per document reassembles (collect_list of
    * (pos, para) structs, sorted in the expression layer — per-document
    * memory is bounded by that document's own paragraph count). At
    * 100 TB both shuffles carry (paragraph, doc, pos) rows — proportional
    * to corpus size, never to its square.
    * @return (idCol, textCol) — callers re-join for other columns */
  def paragraphDedup(df: DataFrame,
                     idCol: String,
                     textCol: String,
                     delim: String = "\\n{2,}",
                     joiner: String = "\n\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val paras = df
      .select(col(idCol),
        posexplode(split(col(textCol), delim)).as(Seq("__pos", "__para")))
      .filter(trim(col("__para")) =!= "")
    val w = Window.partitionBy(lower(trim(col("__para"))))
      .orderBy(col(idCol), col("__pos"))
    paras
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          s => s.getField("__para")),
        joiner).as(textCol))
  }

  /** ExactSubstr-style repeated-SPAN dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): every corpus-wide
    * duplicated token window of length `k` keeps ONLY its globally first
    * occurrence (ordered by (id, position)); all other occurrences'
    * tokens are removed and each document's surviving tokens are
    * reassembled in order. Catches verbatim boilerplate *inside*
    * otherwise-distinct documents — the spans paragraph dedup misses
    * when the delimiters differ — and intra-document repetition past the
    * first copy. Matching is case-insensitive; output keeps original
    * casing.
    *
    * Scale shape — corpus-linear, no suffix array and no all-pairs,
    * and (the property the disk budget lives or dies by at 9M docs /
    * 1.1B tokens) the gram stream crosses exactly ONE exchange, read
    * once, and the corpus text exactly one (the cached parallelism
    * exchange — the reassembly join aligns to it and re-shuffles
    * nothing):
    *  1. tokenize once into a CACHED, id-partitioned (id, tokens)
    *     frame; the native [[graft.expressions.GramHashes]]
    *     expression builds every position's k-gram hash in one
    *     primitive JVM loop per document as the gram explode reads
    *     the cache, so nothing is shuffled to see k−1 positions ahead
    *     — the per-document `lead` window (a full (id, pos, hash)
    *     shuffle of the corpus, ~20 GB of live shuffle files at 9M
    *     docs) is GONE, and the incompressible hash array is never
    *     stored;
    *  2. ONE exchange of the exploded (id, pos, gramHash) stream,
    *     hash-partitioned by the gram hash and read ONCE: occurrence
    *     count and first occurrence (count>1 + min(id,pos) per gram)
    *     are unbounded-frame window aggregates, so each gram row
    *     learns its dup-start verdict in a single pass — the former
    *     groupBy-then-join shape wrote the gram stream to shuffle
    *     disk twice (partial-agg rows are ~distinct grams, i.e. ~all
    *     of them, since most grams are unique);
    *  3. each document's dup-start positions aggregate into one sorted
    *     array (an exchange ∝ DUPLICATED positions only, a few percent
    *     of the corpus) that joins back onto the cached token frame on
    *     its own partitioning — the token arrays never re-shuffle; the
    *     per-token coverage flags come from the native
    *     [[graft.expressions.SpanCoverage]] two-pointer loop on the
    *     document row (the former shape ran a running-max window over
    *     the ENTIRE position stream: an exchange + sort of ~1.2B rows
    *     and a corpus-wide collect_list re-aggregation). NOT a range
    *     join and NOT a k× position explosion (heavy duplication
    *     costs nothing extra);
    *  4. reassembly `zip_with`s the coverage array against the
    *     document's cached token array in the same join projection.
    * A hot duplicated gram (a million-occurrence boilerplate line) is
    * one window group in step 2 — the identical one-reducer bytes ANY
    * hash-by-gram plan sends there; WindowExec buffers one group at a
    * time in a spillable buffer and its per-group state is one
    * (count, min) cell, so the hot gram costs sort-spill, never heap.
    * Documents shorter than `k` tokens pass through untouched; a fully
    * duplicated document survives as its empty string (filter on
    * `n_kept > 0` to drop). Documents that were ALREADY empty or
    * whitespace-only on input have no tokens at all and are absent from
    * the output — re-join on the id column to carry them.
    * @return (idCol, textCol, n_kept, n_removed) */
  def repeatedSpanDedup(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8): DataFrame = {
    require(k >= 2, "a span of fewer than 2 tokens is not a span")
    import org.apache.spark.sql.expressions.Window
    // a whitespace-only document trims to "" and splits to [""]; the
    // element filter leaves it an EMPTY array, so it explodes to no
    // rows anywhere below and is absent from the output (the contract).
    // The explicit not-null id filter changes nothing semantically (a
    // null-id doc can never survive the final inner id join); it keeps
    // the cached subtree identical under every consumer.
    //
    // The id repartition with an EXPLICIT partition count exists for
    // PARALLELISM, not distribution: tokenize + gram hashing otherwise
    // run on the INPUT SPLITS — a fixture-sized parquet is one or two
    // splits, pinning the whole map phase to two cores (measured:
    // 4.4 s → 67 s at 30k docs). The explicit count opts out of AQE
    // coalescing, which would fold a small corpus right back to one
    // partition. The persist (the minHashLshPairs precedent — released
    // via Caches.releaseAll) materializes tokens + gram hashes ONCE
    // for the three consumers (gram stream, position stream,
    // reassembly join); without it the position branch re-evaluates
    // the tokenize transform per inferred filter and each consumer
    // re-scans the input.
    //
    // __ghArr(i) = hash of the k lowercased tokens at i..i+k-1, built
    // by the native GramHashes expression in one primitive JVM loop
    // per document — nothing is shuffled to see k−1 positions ahead
    // (the former lead()-window shape exchanged the whole (id, pos,
    // hash) corpus for exactly that), and no interpreted HOF chain
    // re-boxes every token (a k−1-level zip_with fold measured ~2×
    // the whole operator at 30k docs). Tail slots hold partial folds
    // and are cut by the pos <= n−k filter. Gram equality is equality
    // of the k-tuple of lowercased tokens (hash collisions at ~1B
    // distinct grams: ~2^-34, and the hash never reaches the output);
    // matching is case-insensitive, original casing survives in
    // __toks for reassembly. No exchange below carries a token string
    // except the final reassembly join.
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // the cache holds ONLY (id, tokens): the gram-hash array has a
    // single consumer (the explode below) and is ~9 incompressible GB
    // at 9M docs — caching it to disk was part of the first 300×
    // disk-quota overflow; recomputing it from the cached tokens is
    // one cheap native loop
    // DISK_ONLY, deliberately: a MEMORY_AND_DISK token cache at 9M
    // docs (~15 GB columnar) grabs the unified pool's storage share
    // WHILE the gram exchange's map tasks are shuffle-writing in the
    // same stage — execution starves, every task degrades to hundreds
    // of tiny spills, and the spill MERGE opens them all at once
    // (measured: "Too many open files" at the 20k fd hard limit, with
    // 46 GB of disk free). On disk the cache is compressed columnar
    // batches behind the OS page cache; the fixture-scale cost is
    // noise, and execution keeps the whole pool at every scale.
    val base = Caches.registered(df
      .filter(col(idCol).isNotNull)
      .repartition(parallelism, col(idCol))
      .select(col(idCol),
        filter(split(trim(col(textCol)), "\\s+"), t => t =!= "").as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val ghArr = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.GramHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__toks")), k))
    val grams = base
      .select(col(idCol), size(col("__toks")).as("__n"),
        posexplode(ghArr).as(Seq("__pos", "__gh")))
      .filter(col("__pos") <= col("__n") - k)
      .select(col(idCol), col("__pos"), col("__gh"))
    // ONE exchange of the gram stream, hash-partitioned by gram hash
    // and read ONCE: occurrence count and globally-first occurrence
    // are per-gram WINDOW aggregates (unbounded frame), so every gram
    // row learns in a single pass whether it is a non-first occurrence
    // of a duplicated gram. The groupBy-then-join alternative writes
    // the gram stream to shuffle disk twice (partial-agg rows ≈
    // distinct grams ≈ all grams, since most grams are unique; at 9M
    // docs the second copy is ~20 GB of concurrently-live shuffle
    // files — the 300× disk-quota failure), and the AQE reused-
    // exchange that would deduplicate them proved canonically fragile
    // under a cached-relation subtree. A corpus-wide common span
    // (boilerplate) puts Θ(n) rows in ONE gram key — the identical
    // one-reducer bytes ANY hash-by-gram plan (join or window) sends
    // there; WindowExec buffers one gram group at a time in a
    // spillable buffer, and the per-group state is one (count, min)
    // cell, so the hot gram costs sort-spill, never heap.
    val perGram = Window.partitionBy(col("__gh"))
    // min(struct(id, pos)) = the globally-first occurrence (the
    // row_number()=1 row an ordered window would pick, computed
    // without imposing a per-gram sort order)
    val dupStarts = grams
      .withColumn("__cnt", count(lit(1)).over(perGram))
      .withColumn("__fst", min(struct(col(idCol), col("__pos"))).over(perGram))
      .filter(col("__cnt") > 1 &&
        !(col(idCol) === col("__fst")(idCol) &&
          col("__pos") === col("__fst")("__pos")))
      .select(col(idCol), col("__pos"))
    // coverage: aggregate each document's dup-start positions into one
    // SORTED array (rows ∝ duplicated positions only — a few percent
    // of the corpus) and compute the per-token coverage flags with the
    // native SpanCoverage two-pointer loop on the document row itself.
    // The former shape ran a running-max window over the ENTIRE (id,
    // pos) position stream unioned with the starts — an exchange +
    // sort of ~1.2B narrow rows and a corpus-wide collect_list
    // re-aggregation, which together with the gram exchange overflowed
    // the 300× disk quota. The explicit-count repartition matches the
    // cached base's partitioning exactly, so the reassembly join below
    // re-exchanges NOTHING: the token arrays never leave their cached
    // partitions.
    val docStarts = dupStarts
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
      .repartition(parallelism, col(idCol))
    // reassembly on the document row: coverage flags zip against the
    // cached token array. zip_with (not element_at inside a filter
    // lambda over a derived column) keeps the coverage array in
    // ARGUMENT position — evaluated once per row, not re-evaluated per
    // element if Catalyst inlines the defining expression (the HOF
    // lambda-inlining trap). Empty-token documents (whitespace-only
    // input) are filtered out — the contract says they are absent.
    val covArr = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SpanCoverage(
        org.apache.spark.sql.GraftColumnBridge.expression(
          coalesce(col("__starts"), array().cast("array<int>"))),
        org.apache.spark.sql.GraftColumnBridge.expression(
          size(col("__toks"))), k))
    base.select(col(idCol), col("__toks"))
      .filter(size(col("__toks")) > 0)
      .join(docStarts, Seq(idCol), "left")
      .withColumn("__covArr", covArr)
      .withColumn("n_kept",
        size(filter(col("__covArr"), c => !c)).cast("long"))
      .select(col(idCol),
        array_join(
          transform(
            filter(
              zip_with(col("__toks"), col("__covArr"),
                (t, c) => struct(t.as("t"), c.as("c"))),
              s => !s.getField("c")),
            s => s.getField("t")),
          " ").as(textCol),
        col("n_kept"),
        (size(col("__covArr")) - col("n_kept")).cast("long").as("n_removed"))
  }
}
