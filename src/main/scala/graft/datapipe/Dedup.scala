package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All pure DataFrame/Catalyst plans — shuffles only on the natural keys
  * (text hash, LSH bucket, simhash band), so every stage scales by adding
  * partitions. No driver-side loops, no UDFs: shingles, the MinHash
  * signature, its band keys and the SimHash fingerprint are kernels in
  * [[HotPathKernels]], [[MinHashKernel]] and [[TextKernels]], called from
  * whole-stage generated code.
  *
  * Scale notes (10^10-document corpora):
  *  - exact dedup: one hash-shuffle on xxhash64(text); map-side partial agg.
  *  - MinHash-LSH: candidate generation shuffles on (band_idx, band_key) —
  *    uniform by construction; verification joins only candidate pairs,
  *    never the full cross product.
  *  - SimHash: Manku-style multi-table banding — C(k+2, 2) two-block
  *    composite keys (~26 bits each) find all pairs within Hamming k
  *    exactly (pigeonhole), with bucket key spaces that keep growing past
  *    the 65,536-bucket ceiling a single 16-bit block key would impose.
  */
object Dedup {

  /** Persisted LSH intermediates (signature state + banded frames) the
    * minhash/simhash plans read — registered here so a pipeline can free
    * them without nuking the session's whole cache. */
  private val lshState = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private def registerLsh(df: DataFrame): DataFrame = lshState.synchronized {
    lshState += df; df
  }

  /** Release every persisted LSH intermediate registered in this JVM by
    * [[minhashPairs]]/[[simhashPairs]] (and the `*State`/`*Candidates`
    * builders under them) — the targeted alternative to
    * `spark.catalog.clearCache()` for a long-running pipeline cycling
    * distinct corpora. Safe while returned plans are still lazy: unpersist
    * only drops cached blocks, later actions recompute.
    *
    * The registry is JVM-global, not per-session: frames registered under a
    * session that has since stopped are skipped (unpersisting against a dead
    * SparkContext throws), and two concurrent pipelines share one registry —
    * a release here drops BOTH pipelines' cached LSH frames (CacheManager
    * dedupes by plan, so the other pipeline recomputes, it does not break). */
  def releaseLshState(): Unit = lshState.synchronized {
    try lshState.foreach { df =>
      try {
        if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false)
      } catch { case NonFatal(_) => () } // e.g. the session raced to stop
    } finally lshState.clear()
  }

  /** tokens = lowercase whitespace split. */
  def tokensCol(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Distinct k-token shingles (texts shorter than k yield one whole-text
    * shingle) in one fused pass (r6) — the interpreted
    * transform/slice/concat_ws composition it replaced, kept as the
    * reference in HotPathEquivalenceSpec, was the measured dominant cost of
    * the minhash state build. */
  def distinctShingles(tokens: Column, k: Int): Column =
    HotPathFunctions.distinct_shingles(tokens, k)

  /** The per-permutation salts of the MinHash signature (deterministic,
    * seeded splitmix): permutation i re-hashes a shingle hash XORed with
    * salt i (bitwise ops + xxhash64: overflow-free under ANSI mode, unlike
    * an affine a·h+b family) — the masks [[MinHashKernel]] replays; `drop`
    * selects the independent sub-split family above the signature's. */
  private[datapipe] def minhashSalts(numHashes: Int): Seq[Long] =
    (0 until numHashes).map { i =>
      var x = i.toLong * 2 + 1 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      (x ^ (x >>> 31)) | 1L
    }

  /** 128-bit exact-text grouping key: two independently seeded xxhash64s
    * of the text. A single 64-bit key carries ~3% birthday-collision odds
    * at 10^9 distinct documents — a collision silently merges two different
    * documents; the composite drops that below 1e-18 while the key stays
    * 16 bytes (grouping by the raw text would shuffle full documents).
    * `xxhash64(a, b)` chains: each argument seeds the next, so the salt
    * goes FIRST — `xxhash64(t, salt)` would hash the salt seeded by the
    * first half, a function of it that adds no bits. */
  def textKey128(t: Column): Column =
    struct(xxhash64(t), xxhash64(lit(0x9E3779B97F4A7C15L), t))

  /** Exact dedup: group identical texts, keep the smallest id.
    * Returns (idCol, n_copies). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(textKey128(col(textCol)).as("text_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(idCol, "n_copies")

  /** Exact-duplicate pre-collapse shared by the banded schemes: group the
    * corpus on `keyExpr` (text hash for MinHash, the fingerprint itself for
    * SimHash), elect the smallest id per group as representative, and emit
    * the (representative, member) star edges that stand in for the group's
    * C(m,2) within-group pairs. Returns (reps, starEdges):
    *  - reps: one input row per distinct key (the representative's row);
    *  - starEdges: (id_a = rep, id_b = member) for every non-representative.
    *
    * Without this collapse a boilerplate-heavy web corpus — 10^6 copies of
    * one template page — lands in the SAME bucket of EVERY band and the
    * banded self-join materializes ~bands·10^12 candidate rows before any
    * distinct. After it, an exact-duplicate group of any size contributes
    * exactly one banded row and (m-1) star edges: candidate volume is
    * O(distinct docs), never O(docs²). The star is closure-equivalent to
    * the full within-group clique for the downstream consumer
    * ([[dedupClusters]] / connected components); cross-group near-dup pairs
    * are emitted at representative level, which again closes identically
    * because every member has jaccard/hamming 0 to its representative. */
  private def collapseExact(base: DataFrame, keyExpr: Column): (DataFrame, DataFrame) = {
    // r6: min-per-group attached via a window over the group key — ONE
    // exchange of the (text-carrying) rows instead of the r5 groupBy +
    // join-back (which shuffled the keyed rows a second time for the join
    // and the thin (key, min) frame once more). Same rows out; a mega-group
    // (10^6 identical texts) occupies one window partition exactly as it
    // occupied one join bucket before.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__grp_key")
    val keyed = base.withColumn("__grp_key", keyExpr)
      .withColumn("__rep_id", min(col("id")).over(w))
    val reps = keyed.filter(col("id") === col("__rep_id"))
      .drop("__grp_key", "__rep_id")
    val stars = keyed.filter(col("id") =!= col("__rep_id"))
      .select(col("__rep_id").as("id_a"), col("id").as("id_b"))
    (reps, stars)
  }

  /** The hot-bucket cap of every banded scheme ([[minhashPairs]],
    * [[simhashPairs]], Similarity.nearDupBuckets): a bucket of `banded`
    * (keyed by `keyCols`) wider than `maxBucket` rows is re-keyed by its
    * rows' `subs` (array<bigint>, one output row per element) — keys from an
    * INDEPENDENT hash family that near-duplicates still share with high
    * probability, while the unrelated rows crowding a saturated bucket
    * scatter across it. A cold bucket keeps one row per input row with
    * sub_bucket = 0 (recall untouched); hot and cold rows never share a
    * bucket, so 0 cannot meet a hot row's sub key. The hot set is tiny by
    * construction (≤ rows/maxBucket buckets), so it broadcasts. */
  private[datapipe] def capHotBuckets(banded: DataFrame, keyCols: Seq[String],
      subs: Column, maxBucket: Long): DataFrame = {
    val hot = banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") > maxBucket)
    banded.join(broadcast(hot), keyCols, "left")
      .withColumn("sub_bucket", explode(
        when(col("__bucket_n").isNotNull, subs).otherwise(array(lit(0L)))))
      .drop("__bucket_n")
  }

  /** The banded near-dup engine both schemes run: band → hot-bucket cap
    * ([[capHotBuckets]]) → self-join → `verify` → distinct. A scheme supplies
    *  - `bands`: per rep row, `array<struct<key: bigint, subs: array<bigint>>>`
    *    — one bucket key per band and the sub keys that re-key it when hot;
    *  - `carry`: the rep columns `verify` reads, as `<c>_a` / `<c>_b`;
    *  - `verify`: a predicate checked BEFORE the distinct — filter-then-
    *    distinct ≡ distinct-then-filter row for row, and a pair sharing many
    *    bands arrives once per band, so the distinct's exchange carries
    *    fewer rows (SimHash: measured 648k → ~100k at sf0.1).
    * Returns distinct (id_a < id_b, carried columns) rep-level candidates.
    *
    * Plan shape: the self-join and the distinct carry only (ids, band key,
    * sub key, carried columns), never a scheme's heavy arrays. Two frames
    * are persisted and registered: `reps` (scanned by the census, the probe
    * and the caller's verification — for MinHash the signature subtree, 66
    * minima passes per row, would otherwise run once per consumer; measured
    * 2× wall) and the thin keyed frame both join sides scan. */
  private def bandedCandidates(reps: DataFrame, bands: Column, carry: Seq[String],
      maxBucket: Long, verify: Column): DataFrame = {
    val state = registerLsh(reps.persist(StorageLevel.MEMORY_AND_DISK))
    val banded = state
      .select(col("id") +: carry.map(col) :+ posexplode(bands).as(Seq("band_idx", "b")): _*)
      .select(col("id") +: carry.map(col) :+ col("band_idx") :+
        col("b.key").as("band_key") :+ col("b.subs").as("subs"): _*)
    val keyed = registerLsh(capHotBuckets(banded, Seq("band_idx", "band_key"),
      col("subs"), maxBucket).drop("subs").persist(StorageLevel.MEMORY_AND_DISK))
    def side(s: String): DataFrame = keyed.select(
      Seq(col("band_idx"), col("band_key"), col("sub_bucket"), col("id").as(s"id_$s")) ++
        carry.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), Seq("band_idx", "band_key", "sub_bucket"))
      .filter(col("id_a") < col("id_b") && verify)
      .select((Seq("id_a", "id_b") ++ carry.map(_ + "_a") ++ carry.map(_ + "_b")).map(col): _*)
      .distinct()
  }

  /** Exact-dup pre-collapse plus the per-representative MinHash state:
    * (reps = one row per distinct text carrying `id`, `shingles`
    * (array<string>, distinct), `sh_hashes` and `sig` (array<long> of
    * `numHashes` minima); stars = (id_a = rep, id_b = member) exact-dup
    * edges). Public so a verification harness can materialize the
    * signatures and re-derive the banded pairing INDEPENDENTLY: all-pairs
    * band-slice matching + exact Jaccard over this table must reproduce
    * [[minhashPairs]] exactly whenever no bucket exceeds the hot cap (the
    * `dedup_minhash` DuckDB oracle does precisely that). */
  def minhashState(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 64): (DataFrame, DataFrame) = {
    val all = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // pre-collapse exact duplicates on the 128-bit text key (same stance as
    // exactDedup: a star edge asserts jaccard 1.0, so a key collision would
    // fabricate a near-dup pair — the composite key makes that ~1e-18)
    val (reps0, stars) = collapseExact(all, textKey128(col("text")))
    val base = reps0
      .withColumn("shingles", distinctShingles(tokensCol(col("text")), k))
      // materialize the shingle hashes once, then ALL numHashes permutation
      // minima in one fused pass (r6: identical values to the r5
      // composition, which evaluated numHashes interpreted
      // transform+array_min passes per row — the measured dedup_minhash hot
      // spot; HotPathEquivalenceSpec keeps it as the reference)
      .withColumn("sh_hashes", transform(col("shingles"), s => xxhash64(s)))
      .withColumn("sig",
        HotPathFunctions.minhash_minima(col("sh_hashes"), minhashSalts(numHashes)))
    (base, stars)
  }

  /** Rep-level MinHash-LSH candidate pairs (pre-verification), the rep
    * shingles and the exact-dup stars. Band i's key is the fused
    * `band_hashes` over signature slice i (value-identical to
    * xxhash64(concat_ws(",", casts)); HotPathEquivalenceSpec); its one sub
    * key is an extra `subRows`-hash band from permutations the signature
    * does not use — an independent family, so a true near-dup pair at
    * Jaccard s still collides w.p. ~s^subRows. */
  private[datapipe] def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int,
      maxBucket: Long, subRows: Int): (DataFrame, DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val (base, stars) = minhashState(df, idCol, textCol, k, numHashes)
    val extraSalts = minhashSalts(numHashes + subRows).drop(numHashes)
    val reps = base
      .withColumn("band_hashes", HotPathFunctions.band_hashes(col("sig"), numHashes / bands))
      .withColumn("sub_key", element_at(HotPathFunctions.band_hashes(
        HotPathFunctions.minhash_minima(col("sh_hashes"), extraSalts), subRows), 1))
    val bandKeys = array((1 to bands).map(j => struct(element_at(col("band_hashes"), j).as("key"),
      array(col("sub_key")).as("subs"))): _*)
    (bandedCandidates(reps, bandKeys, Nil, maxBucket, lit(true)),
      reps.select(col("id"), col("shingles")), stars)
  }

  /** MinHash + LSH near-duplicate pairs: exact-dup pre-collapse → shingle →
    * signature → [[bandedCandidates]] → exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) with jaccard ≥ threshold; exact-duplicate
    * groups appear as (representative, member) star edges at jaccard 1.0 and
    * cross-group pairs at representative level (closure-equivalent to the
    * full pair set under [[dedupClusters]] — see [[collapseExact]]).
    *
    * The heavy shingle payload is joined back only for the surviving
    * candidate pairs. Within a bucket wider than `maxBucket` a true pair at
    * Jaccard s survives w.p. ~s^subRows per band — and near-dup pairs share
    * many of the `bands` tables, so the miss probability compounds down;
    * pairs in buckets at or under the cap are never dropped.
    *
    * Caching contract: the returned (lazy) plan reads two persisted
    * intermediates (signature state and the thin banded frame) that stay
    * registered until the session ends — repeated identical calls reuse
    * the same entries (CacheManager dedupes by plan), and a long-running
    * pipeline cycling many distinct corpora should call
    * [[releaseLshState]] (or `spark.catalog.clearCache()`) between them. */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Long = 10000L, subRows: Int = 2): DataFrame = {
    val (candidates, sh, stars) = minhashCandidates(
      df, idCol, textCol, k, numHashes, bands, maxBucket, subRows)
    candidates
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .unionByName(stars.withColumn("jaccard", lit(1.0d)))
  }

  /** Block boundaries for the Manku-style scheme: `blocks` contiguous bit
    * ranges covering the 64-bit fingerprint, widths as even as possible. */
  private def blockRanges(blocks: Int): Seq[(Int, Int)] = { // (offset, width)
    val base = 64 / blocks
    val rem = 64 % blocks
    val widths = (0 until blocks).map(i => if (i < rem) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** The (id, simhash) fingerprint table [[simhashPairs]] pairs over.
    * Public so a verification harness can materialize the fingerprints and
    * re-derive the pairing INDEPENDENTLY: because the multi-table banding
    * has exact recall within `maxHamming` (pigeonhole, see
    * [[simhashCandidates]]), an all-pairs `bit_count(xor)` over this table
    * must reproduce [[simhashPairs]] exactly whenever no bucket exceeds the
    * hot cap (the `dedup_simhash` DuckDB oracle does precisely that). */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import PipeFunctions._
    df.select(col(idCol).as("id"),
      simhash64(array_distinct(tokensCol(col(textCol)))).as("simhash"))
  }

  /** SimHash candidate pairs within `maxHamming`, distance-verified, under
    * Manku-style multi-table banding: split the 64-bit fingerprint into
    * `blocks = maxHamming + 2` bit-blocks; ≤ maxHamming differing bits
    * touch ≤ maxHamming blocks, leaving ≥ 2 intact, so EVERY true pair
    * shares at least one of the C(blocks, 2) two-block composite keys
    * (pigeonhole) — exact recall. The composite keys are ~26 bits wide
    * (vs the 16-bit single-block keys of the naive 4-band scheme), so the
    * per-table bucket count scales to 10^9+ corpora instead of capping at
    * 65,536 buckets whose population — and the within-bucket self-join —
    * would otherwise grow linearly/quadratically with corpus size.
    *
    * Hot-bucket sub keys (multi-probe): one per NON-combo block, its
    * (slot, block value) packed into one long — a pair still meets in a
    * hot table if ANY block outside the combo is intact. With ≥ 2 intact
    * blocks, a pair is lost to the cap only when it has EXACTLY 2 (one
    * dirty bit in each of the k other blocks) AND its single intact table
    * is saturated; for ≥ 3, some shared table keeps an intact non-combo
    * block. */
  private[datapipe] def simhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, maxBucket: Long = 10000L): (DataFrame, DataFrame) = {
    require(maxHamming >= 1 && maxHamming <= 6,
      "blocks = maxHamming + 2 must stay within the 64-bit fingerprint")
    // pre-collapse identical fingerprints (hamming 0 by definition — every
    // exact text duplicate, and any token-set duplicate, lands here): a
    // 10^6-copy boilerplate group otherwise shares the bucket of EVERY
    // two-block table and the self-join goes quadratic
    val (reps, stars) = collapseExact(simhashTable(df, idCol, textCol), col("simhash"))
    val candidates = bandedCandidates(reps, simhashBandKeys(maxHamming), Seq("simhash"),
      maxBucket, bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))) <= maxHamming)
    (candidates, stars)
  }

  /** The band keys of [[simhashCandidates]] over the `simhash` column, one
    * struct per table (i, j) in (i, j) order: `key` packs block i into the
    * high 32 bits and block j into the low 32 (every block is at most 22
    * bits wide, so the lanes are disjoint), `subs` the (slot, block value)
    * of every other block. */
  private[datapipe] def simhashBandKeys(maxHamming: Int): Column = {
    val blocks = maxHamming + 2
    val ranges = blockRanges(blocks)
    def block(i: Int): Column = {
      val (off, w) = ranges(i)
      shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1L))
    }
    array((for (i <- 0 until blocks; j <- (i + 1) until blocks) yield
      struct(shiftleft(block(i), 32).bitwiseOR(block(j)).as("key"),
        array((0 until blocks).filterNot(m => m == i || m == j).map(m =>
          lit(m.toLong << 32).bitwiseOR(block(m))): _*).as("subs"))): _*)
  }

  /** SimHash near-duplicate pairs within `maxHamming` (default 3):
    * multi-table banded candidates verified with bit_count(xor). Recall is
    * exact by pigeonhole (see [[simhashCandidates]]) for every pair whose
    * shared buckets are not oversized; identical fingerprints pre-collapse
    * to (representative, member) star edges at hamming 0 (closure-equivalent
    * under [[dedupClusters]]); buckets wider than `maxBucket` are sub-split
    * by multi-probe over the non-combo fingerprint blocks, confining any
    * recall loss to pairs with exactly 2 intact blocks whose single shared
    * table is saturated (see [[simhashCandidates]]).
    *
    * Caching contract (same as [[minhashPairs]]): the returned lazy plan
    * reads two persisted intermediates (the fingerprint reps and the keyed
    * banded frame) that stay registered until the session ends — repeated
    * identical calls reuse them (CacheManager dedupes by plan); a
    * long-running pipeline cycling many DISTINCT corpora should call
    * [[releaseLshState]] (or `spark.catalog.clearCache()`) between them or
    * the cached frames accumulate. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Long = 10000L): DataFrame = {
    val (candidates, stars) =
      simhashCandidates(df, idCol, textCol, maxHamming, maxBucket)
    candidates
      .select(col("id_a"), col("id_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .unionByName(stars.withColumn("hamming", lit(0))) // bit_count is INT
  }

  // ------------------------------------------------------------------
  // Near-duplicate clustering: connected components over a pair set
  // ------------------------------------------------------------------

  /** One alternating large-star + small-star contraction round — exposed
    * (package-private) for PipePlanShapeSpec. Input and output edge
    * sets are directed large → small; output is pre-checkpoint. */
  private[datapipe] def alternatingStep(e: DataFrame): DataFrame = {
    // r6: the per-star minima are attached via windows over src — one
    // exchange+sort per star phase instead of the r5 groupBy + join-back
    // (two exchanges each, with the symmetrized edge set scanned twice).
    // 6 exchanges/round → 3. Row-level equivalence with the r5 form:
    //  - large-star: m = least(src, min(dst) over src-partition) is exactly
    //    the joined lsMin value per src; same filters/selects follow.
    //  - small-star: the r5 UNION's second branch emitted (src, m) once per
    //    DISTINCT src (from ssMin); the window form emits it once per ls
    //    row — duplicates that the terminal distinct() collapses anyway.
    // A mega-star's edges land in one window partition exactly as they
    // landed in one join bucket before (same key, same skew posture).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val ls = sym.withColumn("m", least(col("src"), min("dst").over(w)))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
    // small-star: u and all its (smaller) neighbors attach to u's min
    // neighbor — contracts each star one level toward the component min.
    val ssw = ls.withColumn("m", min("dst").over(w))
    ssw.select(col("dst").as("src"), col("m").as("dst"))
      .union(ssw.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Connected components over an undirected edge list `(srcCol, dstCol)`
    * — the alternating large-star / small-star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14).
    * Returns `(id, component)` for every vertex that appears in an edge,
    * with `component` = the smallest vertex id in its component.
    *
    * Why this algorithm at corpus scale (the consumer is near-dup pair
    * sets over 10^9+ documents):
    *  - converges in O(log² n) rounds worst-case (single digits in
    *    practice — near-dup graphs are unions of shallow quasi-cliques),
    *    vs O(diameter) for plain label propagation, whose worst case is a
    *    10^6-hop chain of pairwise-similar documents;
    *  - each round is two windowed min-aggregations on the vertex id
    *    ([[alternatingStep]]) — no `collect_set` of neighbor lists, so a
    *    mega-component (every boilerplate page sharing one template)
    *    never materializes a giant array in one task: its star edges
    *    spread across tasks by vertex key;
    *  - every intermediate edge set is `localCheckpoint`ed: the iteration
    *    would otherwise stack every round onto one logical plan and
    *    re-analysis cost grows superlinearly with rounds (a long-lineage
    *    iterative plan is the classic Spark iterative-algorithm trap; a
    *    fault-tolerant deployment would use reliable `checkpoint` to a
    *    cluster FS instead — same call shape).
    *
    * Convergence is detected by an order-insensitive edge-set signature
    * (count + sum of per-edge xxhash64 widened to decimal — overflow-safe
    * under ANSI) going stable across one round; the star transforms are
    * idempotent on their fixpoint, so the extra round is the detection
    * cost, not a correctness risk. Fails fast (require) if `maxIter`
    * rounds pass without convergence rather than returning a partial
    * clustering. */
  def connectedComponents(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 50): DataFrame = {
    // normalize: long ids, self-loops dropped, directed large → small
    var e = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(greatest(col("s"), col("d")).as("src"),
        least(col("s"), col("d")).as("dst"))
      .distinct()
      .localCheckpoint(false) // r6: materialized by the signature below

    def signature(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var sig = signature(e)
    var converged = e.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // r6: LAZY localCheckpoint — the signature aggregation right below is
      // the round's action and materializes (and caches) the checkpoint
      // RDD, so each round runs ONE job instead of an eager-checkpoint job
      // plus the signature job. Lineage is still truncated at construction.
      val next = alternatingStep(e).localCheckpoint(false)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      // localCheckpoint leaves are not in the CacheManager — Dataset
      // .unpersist is a no-op on them; free the blocks directly (the
      // engine's RoundOutput.ckptRdds pattern).
      org.apache.spark.sql.GraftColumnBridge.checkpointRdd(e)
        .foreach(_.unpersist(blocking = false))
      e = next
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds " +
        s"(edge signature still moving: $sig)")
    // a (count, sum-of-hash) signature collision (~2^-64 per round) could
    // stop the loop on a non-fixpoint and silently mis-cluster. The true
    // fixpoint of the alternation is exactly a union of stars, so assert
    // that shape loudly: one outgoing edge per src, and no vertex on both
    // sides (a chain). Two cheap post-convergence aggregations.
    require(e.groupBy("src").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).isEmpty,
      "connectedComponents: converged edge set is not a star union " +
        "(multiple roots per member — signature collision?)")
    require(e.join(e.select(col("src").as("dst")).distinct(),
      Seq("dst"), "left_semi").isEmpty,
      "connectedComponents: converged edge set has chains " +
        "(signature collision?)")
    // converged edge set is a union of stars (member, componentMin)
    e.select(col("src").as("id"), col("dst").as("cid"))
      .union(e.select(col("dst").as("id"), col("dst").as("cid")))
      .groupBy("id").agg(min("cid").as("component"))
  }

  /** Near-duplicate clusters: connected components over a candidate/verified
    * pair set (from [[minhashPairs]], [[simhashPairs]], embedding near-dup
    * buckets, or any blocking scheme), attached back to EVERY document —
    * documents in no pair form singleton clusters. Returns
    * `(idCol, cluster_id)` with `cluster_id` = smallest member id, the
    * canonical representative a training-data pipeline keeps. */
  def dedupClusters(
      df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cc_id"), col("component"))
    df.select(col(idCol).cast("long").as(idCol))
      .join(comp, col(idCol) === col("__cc_id"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
  }

  /** Host-level mirror detection (Bharat/Broder-style): hosts serving
    * near-identical document SETS — mirrors, CDNs, scraped copies — which a
    * crawler wants to fold into one crawl target instead of fetching twice.
    * Per host, take the distinct set of per-document fingerprints
    * (`fpExpr(text)`; default xxhash64 of the full text — callers pass a
    * shingle/prefix fingerprint for near-dup resemblance); emit every host
    * pair sharing ≥ `minShared` fingerprints with the set-resemblance
    * estimate `jaccard = shared / (|A| + |B| - shared)`.
    *
    * Scale posture (10^6 hosts × 10^10 docs): the pairing joins host SETS
    * on the fingerprint — never documents on documents — and fingerprints
    * carried by more than `maxHostsPerFp` hosts are excluded as
    * non-discriminative BEFORE the self-join (boilerplate/empty-page
    * fingerprints shared by every host would otherwise make one bucket
    * quadratic in the host count — the same hot-bucket hazard as
    * [[minhashPairs]], killed here by frequency, the standard
    * stopword-fingerprint move: a fingerprint on >64 hosts identifies no
    * mirror pair anyway). After the filter every fingerprint group is
    * ≤ maxHostsPerFp wide, so candidate volume is O(fps · maxHostsPerFp²)
    * with tiny constants, and the per-pair aggregation shuffles on the
    * (host_a, host_b) key. Host set sizes `n_a`/`n_b` count ALL distinct
    * fingerprints (pre-filter), so excluded common fingerprints only
    * lower the estimate — they never manufacture similarity. */
  def mirrorHosts(df: DataFrame, hostCol: String, textCol: String,
      fpExpr: Column => Column = t => xxhash64(t),
      minShared: Long = 1L, maxHostsPerFp: Int = 64): DataFrame = {
    val fp = df.select(col(hostCol).as("host"), fpExpr(col(textCol)).as("fp"))
      .distinct()
    val sizes = fp.groupBy("host").agg(count(lit(1)).as("n"))
    // r6: the discriminative-frequency gate as a window count over fp —
    // one exchange of the fp set instead of the r5 groupBy + join-back
    // (same rows kept: distinct (host, fp) rows whose fp is on 2..max hosts)
    val discriminative = fp
      .withColumn("__nh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("__nh") >= 2 && col("__nh") <= maxHostsPerFp)
      .drop("__nh")
    val pairs = discriminative.as("a")
      .join(discriminative.as("b"), Seq("fp"))
      .filter(col("a.host") < col("b.host"))
      .groupBy(col("a.host").as("host_a"), col("b.host").as("host_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(sizes.select(col("host").as("host_a"), col("n").as("n_a")), Seq("host_a"))
      .join(sizes.select(col("host").as("host_b"), col("n").as("n_b")), Seq("host_b"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .select("host_a", "host_b", "shared", "n_a", "n_b", "jaccard")
  }

  /** Exact n-gram Jaccard for a given candidate pair set (id_a, id_b) —
    * the verification kernel alone, reusable outside LSH. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, k: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      distinctShingles(tokensCol(col(textCol)), k).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }
}
