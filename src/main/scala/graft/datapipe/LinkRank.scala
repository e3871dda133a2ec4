package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph rank scoring — the classic crawl-ordering signal (PageRank
  * over the host/url graph, the batch analog of OPIC "cash" propagation):
  * a crawler that fetches high-rank hosts first finds most of the useful
  * web early, and a training-data pipeline uses the same score as a
  * quality prior.
  *
  * Fixed-iteration power method, expressed as DataFrame plans:
  *  - each iteration is one key-shuffle join (edges ⋈ ranks on src) + one
  *    aggregation (sum of contributions by dst) — the natural partitioning
  *    at any scale; nothing is ever collected to the driver;
  *  - dangling mass (vertices with no outlinks) is folded back uniformly
  *    each iteration, so total rank stays 1 (asserted in the spec);
  *  - iteration count is FIXED (no convergence threshold): deterministic
  *    output for a given graph, no per-iteration driver decision beyond
  *    the dangling-mass action;
  *  - per-iteration `localCheckpoint` truncates the logical plan (the
  *    iterative-lineage trap — see [[Dedup.connectedComponents]]); blocks
  *    of the superseded iteration are freed explicitly.
  *
  * Scale notes (10^9-host graphs): the edge list is the big side, so it
  * is `repartition(src)`-ed ONCE and persisted — the cached frame reports
  * `HashPartitioning(src)` to Catalyst, so every iteration's join shuffles
  * only the rank side (24 bytes a row) into the edges' partitioning and
  * never moves the edges again (the bucketed-corpus lesson from the fetch
  * join). Hub skew (a host with 10^7 inlinks) lands in the contribution
  * AGGREGATION, which is a partial-agg shuffle — map-side combine absorbs
  * it; no salting needed.
  */
object LinkRank {

  /** One power-method iteration — exposed (package-private) for the
    * datapipe plan audit: `e` must be the repartition(src)-ed persisted
    * edge frame, `degrees`/`ranks` the (id, …, out_deg) frames. Returns
    * the next (id, rank, out_deg) frame, pre-checkpoint.
    *
    * The dangling mass is computed INSIDE the plan (1-row aggregate
    * broadcast-crossed into the update) rather than as a per-iteration
    * `head()` on the driver — one fewer explicit driver synchronization
    * point per iteration (the broadcast subtree still materializes as a
    * stage, so sandbox wall clock is NEUTRAL — measured both ways in
    * BENCH/BASELINE.md; kept because it also removes the loop-carried
    * driver-side scalar). */
  private[datapipe] def rankStep(
      e: DataFrame, degrees: DataFrame, ranks: DataFrame,
      n: Long, damping: Double): DataFrame = {
    val danglingDf = ranks.filter(col("out_deg") === 0L)
      .agg(coalesce(sum(col("rank")), lit(0.0)).as("dangling_mass"))
    // shuffle_hash hint on the rank side: build the hash table on the
    // small (id, rank) frame and STREAM the edge cache — a sort-merge join
    // would re-sort the 10^9-edge side every iteration (the audited plan
    // shape: ShuffledHashJoin BuildRight, zero Exchange and zero Sort on
    // the edge branch).
    val contribs = e.join(
        ranks.filter(col("out_deg") > 0L).hint("shuffle_hash"),
        col("src") === col("id"))
      .select(col("dst").as("id"), (col("rank") / col("out_deg")).as("c"))
      .groupBy("id").agg(sum(col("c")).as("in_sum"))
    // same FP association as the scalar form: ((1-d)/n) + ((d·mass)/n) + d·in
    degrees.join(contribs, Seq("id"), "left")
      .crossJoin(broadcast(danglingDf))
      .select(col("id"),
        (lit((1.0 - damping) / n) +
          lit(damping) * col("dangling_mass") / lit(n.toDouble) +
          lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"),
        col("out_deg"))
  }

  /** Iterations per eager checkpoint of `pageRank` (the others are lazy). */
  private val CheckpointEvery = 4

  /** PageRank over a directed edge list. Returns `(id, rank)` for every
    * vertex appearing as src or dst; ranks sum to 1.
    *
    * `CheckpointEvery` (r5 — the measured per-iteration driver-action floor,
    * BENCH/BASELINE.md r4): only every j-th iteration materializes its
    * checkpoint EAGERLY (a driver-blocking action); the iterations between
    * use LAZY localCheckpoints. A lazy checkpoint still converts the frame
    * to a LogicalRDD leaf at construction — plan depth stays bounded at one
    * iteration, the iterative-lineage trap stays closed — but the driver no
    * longer blocks per iteration: it constructs the whole window's plans
    * up-front while the per-iteration dangling-mass broadcast jobs (which
    * force each intermediate rank frame exactly once, caching it) chain
    * asynchronously in the scheduler. Superseded rank frames' blocks are
    * freed only at eager points, when the window is provably materialized. */
  def pageRank(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .repartition(col("src")) // persisted partitioning: iterations shuffle
      .persist()               // only the rank side (see scale notes)
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    val n = verts.count()
    if (n == 0) { e.unpersist(); return verts.withColumn("rank", lit(0.0)) }

    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    // (id, out_deg) for every vertex; 0 for dangling
    val degrees = verts.join(outDeg, verts("id") === outDeg("src"), "left")
      .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"))
      .localCheckpoint(true)

    var ranks = degrees.select(col("id"), lit(1.0 / n).as("rank"), col("out_deg"))
      .localCheckpoint(true)
    var iter = 0
    var pendingFree: List[DataFrame] = Nil
    while (iter < iterations) {
      val eager = (iter + 1) % CheckpointEvery == 0 || iter == iterations - 1
      val next = rankStep(e, degrees, ranks, n, damping)
        .localCheckpoint(eager)
      pendingFree ::= ranks
      if (eager) {
        // the blocking materialization just completed → every lazy frame in
        // the window is computed and nothing downstream reads it again
        pendingFree.foreach(df =>
          org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
            .foreach(_.unpersist(blocking = false)))
        pendingFree = Nil
      }
      ranks = next
      iter += 1
    }
    e.unpersist()
    // the result depends only on the final (eager) ranks checkpoint — free
    // the setup frames' blocks instead of waiting out the ContextCleaner
    Seq(verts, degrees).foreach(df =>
      org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
        .foreach(_.unpersist(blocking = false)))
    ranks.select("id", "rank")
  }

  /** Priority tier of a PageRank value: min(9, floor(log2(max(1,
    * floor(rank·n·4))))) — an average-rank vertex (rank·n = 1) tiers at 2,
    * hubs saturate at 9, below-average vertices at 0. A pure per-row
    * function (no global sort/ntile at any graph size).
    *
    * Ulp robustness, stated precisely: a distributed rank and a sequential
    * replay (CrawlOracle.hostRankBoost) differ by summation-order ulps
    * (~1e-15 relative). The outer log2 collapses every integer crossing of
    * the inner floor except the POWERS OF TWO, so the two sides disagree
    * only when a host's rank·n·4 lands within that ulp band of one of the
    * ten boundaries {1,2,4,…,512} — a ~1e-12-per-host event, which is the
    * reason the quantizer is log2-tiered rather than per-integer. No
    * deterministic quantizer of ulp-divergent inputs can have an empty
    * disagreement set; this one makes it ten points. */
  def rankTier(rank: org.apache.spark.sql.Column, n: Long): org.apache.spark.sql.Column =
    least(lit(9),
      length(bin(greatest(lit(1L), floor(rank * lit(n.toDouble) * lit(4.0))))) - 1)
      .cast("int")

  /** Host-graph rank from a page/outlink edge set expressed on strings:
    * hashes hosts to stable 64-bit ids (xxhash64 — the engine's accepted
    * 64-bit-collision stance, same as the url_hash seen keys), ranks the
    * host graph, and returns `(host, rank)` — the frontier-priority
    * signal. Self-edges (intra-host links) are dropped: they dominate raw
    * counts but carry no cross-host endorsement. */
  def hostRank(
      hostEdges: DataFrame, srcCol: String = "src_host", dstCol: String = "dst_host",
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val e = hostEdges
      .select(col(srcCol).as("sh"), col(dstCol).as("dh"))
      .filter(col("sh") =!= col("dh"))
    val ids = e.select(col("sh").as("host")).union(e.select(col("dh").as("host")))
      .distinct()
      .select(col("host"), xxhash64(col("host")).as("id"))
    val ranked = pageRank(
      e.select(xxhash64(col("sh")).as("src"), xxhash64(col("dh")).as("dst")),
      iterations = iterations, damping = damping)
    ids.join(ranked, "id").select("host", "rank")
  }
}
