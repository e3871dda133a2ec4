package graft.spider

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

import graft.spider.core.{Corpus, CrawlConfig, RoundCounters}
import graft.spider.expr.SpiderFunctions._
import graft.spider.sketch.Sketches

/** One crawl round as a typed Dataset/DataFrame job (SURVEY.md §3.2).
  *
  * Stage structure (each a declarative Catalyst plan; the exchanges on
  * host / url_hash are the explicit node boundaries):
  *
  *   1 dequeue:  frontier ⨝ broadcast(robots) → robots gate (F1/E7)
  *               → NARROW per-(host, priority) counts give eligible/dequeued
  *                 counters AND a per-host priority cutoff: entries whose
  *                 priority is strictly below the cutoff provably cannot be
  *                 in the host's politeness-budget top-k (the ordering is
  *                 priority-first), so the expensive full-row window ranks
  *                 only winnable rows — at a 10^10-entry frontier the rank
  *                 touches ~hosts·budget rows, not the whole frontier
  *               → per-host rank by (priority desc, warc_ts, url_hash, url)
  *               (O1/W1: the window's hash exchange on host IS the explicit
  *               host partitioning; the window sort is the within-partition
  *               sort; trailing keys make the order total ⇒ replayable)
  *   2 fetch:    pages ⨝ broadcast(dequeued) on url (J1) — the dequeued side
  *               is politeness-budget-bounded (≤ budget rows per host), so it
  *               is always the broadcast side; no shuffle of the fat corpus.
  *               crawled + hoststate table writes are STAGED here — they
  *               overlap the discovery stage below (commit stays atomic: the
  *               manifest rename happens only after every write lands)
  *   3 extract:  extract_text / extract_outlinks (E5/E6, Catalyst exprs)
  *   4 discover: explode (G1) → url_canonicalize (E1) → xxhash64 (E3)
  *               → in-batch dedup (groupBy url, min parent warc_ts)
  *               → sharded-Bloom prefilter (F2, filters via
  *                 SparkContext.broadcast — never expression-tree literals)
  *               → exact seen check (J3), FLIPPED: the bucketed seen history
  *                 is SCANNED (semi-join against the broadcast candidate
  *                 keys, bucket column in the join key) and never shuffled;
  *                 candidates then anti-join the tiny hit set. One job
  *                 computes candN + enqueuedN + the round's Bloom delta
  *                 before the round returns.
  *   5 commit:   frontier/seen staged; CrawlDriver finalizes the manifest
  *
  * A round is a function of values: it takes the merged Bloom and seen-row
  * count through the previous round and returns its exact counters, its
  * Bloom delta and its next-round state frames. Its only concurrency is
  * inside it (the scheduling counts, the residual checkpoint and the
  * discovery plan overlap the fetch job) plus the catalog's staged writes.
  *
  * The Bloom prefilter splits candidates into definitely-new (bloom says
  * absent — a Bloom filter has no false negatives, so these skip the exact
  * membership probe entirely) and maybe-seen (only these probe the seen
  * table, which resolves false positives exactly). The seen-set SEMANTICS
  * are always the exact check; the sketch only saves work.
  */
object CrawlEngine {

  /** What one round returns. Every field is final when runRound returns;
    * only the round's staged table writes may still be draining. */
  case class RoundOutput(
      round: Int,
      eligibleN: Long,
      dequeuedN: Long,
      fetchedN: Long,
      linksN: Long,
      /** rows re-admitted into frontierNext by the timed re-crawl (0 when
        * cfg.recrawlEvery == 0 or no source round exists yet). */
      recrawlN: Long,
      /** distinct discovered candidates, and the new ones admitted into
        * frontierNext and the seen delta */
      candN: Long,
      enqueuedN: Long,
      /** the sharded Bloom over the enqueued urls (None when none were);
        * the driver merges it into the previous round's Bloom */
      bloomDelta: Option[Array[Byte]],
      persisted: Seq[DataFrame],
      /** Block-backed RDDs of the round's `localCheckpoint` leaves —
        * `Dataset.unpersist()` is a no-op on these (not in the CacheManager),
        * so CrawlDriver.cleanup unpersists them directly instead of leaving
        * the blocks to the ContextCleaner's GC pace. */
      ckptRdds: Seq[org.apache.spark.rdd.RDD[_]],
      broadcasts: Seq[Broadcast[_]],
      /** Next-round state, persisted — lets CrawlDriver pipeline commits:
        * round r+1 computes over these cached frames while round r's table
        * writes (same content) drain in the background. */
      frontierNext: DataFrame,
      seenDelta: DataFrame,
      hostStateNext: DataFrame) {
    /** |frontierNext|: the residual, the enqueued urls and the timed
      * re-crawl re-admissions — the frontier row count the manifest records. */
    def frontierOut: Long = (eligibleN - dequeuedN) + enqueuedN + recrawlN
  }

  /** The round's seen-set input, split by representation:
    *   - `committed`: the committed history as vectorized parquet scans (the
    *     flip path's fastest scan-and-semi-join input);
    *   - `committedV2`: the same files through the DSv2 bucket-reporting
    *     reader ([[graft.spider.source.SeenSource]]) — the classic path
    *     joins THIS side storage-partitioned, no exchange of the history;
    *   - `extra`: the previous round's not-yet-committed delta when commits
    *     are pipelined (an in-memory checkpoint frame — file-based readers
    *     cannot see it, so the classic path joins it separately; it is
    *     round-sized, so that join is cheap at any scale). */
  case class SeenInput(
      committed: DataFrame,
      committedV2: DataFrame,
      extra: Option[DataFrame]) {
    /** Everything, vectorized-parquet + in-memory — the flip path's input. */
    def scanAll: DataFrame = extra.foldLeft(committed)(_.unionByName(_))
  }

  private val frontierCols =
    Seq("url", "url_hash", "host", "host_hash", "priority", "discovered_round", "warc_ts")

  /** seen_bucket storage/probe key — MUST match the layout recorded in the
    * catalog manifest (validated by CrawlDriver on resume). */
  def seenBucketCol(urlHash: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(urlHash, lit(buckets.toLong)).cast("int")

  /** The dequeue + fetch-side frames of one round — pure PLAN construction
    * (no actions; persists are lazy registrations). */
  case class DequeueFrames(
      eligible: DataFrame,
      hb: DataFrame,
      ranked: DataFrame,
      dequeued: DataFrame,
      residual: DataFrame,
      extracted: DataFrame) {
    /** The frames persisted by [[buildDequeue]]. */
    def cached: Seq[DataFrame] = Seq(eligible, hb, ranked, extracted)
  }

  /** Build the dequeue/fetch plans for `round` over `frontier` (stage 1 +
    * the fetch join of stage 2; see runRound's stage map). `frontierInBound`
    * (the driver passes the exact |frontier|) only picks broadcast-vs-shuffle
    * strategies. */
  def buildDequeue(
      spark: SparkSession,
      pages: DataFrame,
      robots: DataFrame,
      frontier: DataFrame,
      round: Int,
      cfg: CrawlConfig,
      frontierInBound: Long,
      robotsRows: Long): DequeueFrames = {
    val defaultDelayMs = 1000L
    // Robots side: broadcast while small; above the threshold shuffle-join
    // by host — the exchange this puts under the gate is the host
    // partitioning the dequeue window requires anyway, so the round still
    // pays one full-row host exchange (plan-audited).
    val robotsSide =
      if (robotsRows <= CrawlConfig.robotsBroadcastMax) broadcast(robots) else robots
    val gated = frontier
      .join(robotsSide, Seq("host"), "left_outer")
      .withColumn("crawl_delay_ms", coalesce(col("crawl_delay_ms"), lit(defaultDelayMs)))
      .withColumn("allowed",
        coalesce(robots_allows(col("url"), col("disallow_prefixes")), lit(true)))

    val eligible = gated.filter(col("allowed"))
      .withColumn("budget", greatest(lit(1L), floor(lit(cfg.roundLenMs) / col("crawl_delay_ms"))))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // narrow per-(host, priority) counts: feeds both the scheduling
    // counters (arithmetic, no ranking) and the priority cutoff below
    val hb = eligible.groupBy("host", "priority")
      .agg(count(lit(1)).as("n"), first(col("budget")).as("budget"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // per-host priority cutoff: for priority band p of host h, the count
    // of strictly-higher-priority eligible entries is `higher_cum`; if
    // higher_cum ≥ budget, every entry at band p ranks > budget (ordering
    // is priority-first) and can be dropped BEFORE the window — exact.
    val wCum = Window.partitionBy("host").orderBy(col("priority").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cutoffs0 = hb
      .withColumn("higher_cum", coalesce(sum(col("n")).over(wCum), lit(0L)))
      .filter(col("higher_cum") < col("budget"))
      .groupBy("host").agg(min("priority").as("prio_cutoff"))
    // hosts ≤ frontier rows, so the frontier bound caps the cutoff table
    // size without waiting for any count
    val cutoffs =
      if (frontierInBound <= CrawlConfig.cutoffBroadcastMax) broadcast(cutoffs0) else cutoffs0
    val withCut = eligible.join(cutoffs, Seq("host"))

    val ranked = rankPerHost(
      withCut.filter(col("priority") >= col("prio_cutoff")).drop("prio_cutoff"), cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dequeued = ranked.filter(col("rank_in_host") <= col("budget"))
    // Residual = everything eligible but not dequeued: over-budget survivors
    // of the window plus the cutoff-pruned bands (never ranked at all).
    // Two-phase ranking drops phase-1 losers from `ranked`, so the residual
    // is computed against the full eligible set in that mode.
    val residual =
      if (cfg.twoPhaseDequeue)
        eligible.join(dequeued.select("url_hash"), Seq("url_hash"), "left_anti")
          .select(frontierCols.map(col): _*)
      else
        ranked.filter(col("rank_in_host") > col("budget"))
          .select(frontierCols.map(col): _*)
          .unionByName(withCut.filter(col("priority") < col("prio_cutoff"))
            .select(frontierCols.map(col): _*))

    // ---- fetch-simulation + extraction plan ----
    val fetchTs = timestamp_micros(
      lit(Corpus.FetchBaseMicros + round.toLong * cfg.roundLenMs * 1000L) +
        (col("rank_in_host") - 1).cast("long") * col("crawl_delay_ms") * lit(1000L))

    // J1 strategy: broadcast the dequeued side while it is small (no pages
    // movement, but the broadcast build is driver-serial); above
    // fetchBroadcastMax switch to a shuffled hash join — if `pages` was
    // pre-partitioned by url (the bench does this), only the small dequeued
    // side shuffles and the probe is fully parallel. This is the strategy
    // that survives scale: a 10^10-URL frontier round can never broadcast
    // its dequeued set.
    val dequeuedSel = dequeued.select("url", "url_hash", "host", "rank_in_host", "crawl_delay_ms")
    val fetchSide =
      if (frontierInBound <= cfg.fetchBroadcastMax) broadcast(dequeuedSel)
      else dequeuedSel.hint("shuffle_hash")
    val extracted = pages
      .join(fetchSide, Seq("url"), "inner")
      // ONE html decode (E5+E6 fused); text under the host's template
      .withColumn("page", extract_page(col("html"), col("host")))
      .withColumn("outlinks", col("page.outlinks"))
      .withColumn("etext", col("page.text"))
      .withColumn("n_links", size(col("outlinks")).cast("int"))
      .withColumn("fetch_ts", fetchTs)
      .drop("page", "html")
      .persist(StorageLevel.MEMORY_AND_DISK)

    DequeueFrames(eligible, hb, ranked, dequeued, residual, extracted)
  }

  def runRound(
      spark: SparkSession,
      pages: DataFrame,
      robots: DataFrame,
      frontier: DataFrame,
      seen: SeenInput,
      hostStatePrev: DataFrame,
      round: Int,
      cfg: CrawlConfig,
      /** merged seen Bloom through round-1 — gates THIS round's prefilter
        * (exact semantics: a stale filter could mark a just-enqueued URL
        * "definitely new") */
      bloom: Array[Byte],
      /** exact seen rows through round-1 — the flip-vs-classic signal */
      seenRows: Long,
      /** exact |frontier| — strategy decisions only; the counters are
        * assembled by CrawlDriver. */
      frontierIn: Long,
      stage: (String, DataFrame) => Unit,
      /** exact robots row count (driver materializes the table once) —
        * drives the broadcast-vs-host-shuffle robots gate strategy. */
      robotsRows: Long = 0L,
      /** PREVIOUS round's extracted-links count — the flip-vs-classic seen
        * strategy signal. Using last round's magnitude instead of this
        * round's exact linksN lets the whole discovery subtree (bloom
        * broadcast, probe plan, checkpoint compile — measured 2-3 s of
        * driver-serial work) compile on a pool thread DURING the fetch job
        * instead of on the round tail. Strategy-only: both join paths are
        * exact (equivalence-tested), so a stale signal can only cost
        * speed, never correctness. 0 (round 1) reads as "links ≪ seen" —
        * the flip regime, right for a seeded round. */
      prevLinksN: Long = 0L,
      /** Timed re-crawl source (cfg.recrawlEvery > 0): the COMMITTED crawl
        * log of round `round + 1 - recrawlEvery` — columns (url, url_hash,
        * host, fetch_ts) — whose urls are re-admitted into frontierNext at
        * this round's tail, bypassing the seen gate by design. Reading the
        * committed table (not a carried frame) keeps re-admission a pure
        * function of committed state: resume replays it identically. */
      recrawl: Option[DataFrame] = None,
      /** exact |recrawl| from the source round's committed counters —
        * feeds frontierOut. */
      recrawlN: Long = 0L,
      /** hostRank priority signal (cfg.hostRankFromRound): `(host, boost)`
        * with boost ∈ [1, 9] — newly discovered urls joined by host get
        * `priorityAtRound + boost` (absent hosts boost 0). The driver
        * computes it once per run from the committed hostedges graph and
        * pre-wraps the broadcast hint when the table is small enough, so
        * this side is strategy-ready as passed. */
      hostBoost: Option[DataFrame] = None): RoundOutput = {

    // ---- 1 dequeue: robots gate + per-host politeness budget top-k ----
    // (O1/W1: the window's hash exchange on host IS the explicit host
    // partitioning; trailing sort keys make the order total ⇒ replayable.)
    val dq = buildDequeue(spark, pages, robots, frontier, round, cfg, frontierIn, robotsRows)
    val hb = dq.hb
    val extracted = dq.extracted

    // 1a: narrow scheduling stats. groupBy(host, priority) over two thin
    // columns replaces the old full-row ranked-count job; dequeuedN is exact
    // arithmetic (Σ_h min(budget_h, Σ_p n_hp)) — ranking not needed to count.
    // The scalar ACTION runs as a Future overlapping the fetch job: nothing
    // in the round's dataflow needs these counts (strategy choices use the
    // exact frontierIn), only the end-of-round counters do.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val hbRowF = Future {
      hb.groupBy("host").agg(sum("n").as("tot"), first("budget").as("b"))
        .agg(coalesce(sum(least(col("tot"), col("b"))), lit(0L)),
          coalesce(sum("tot"), lit(0L)))
        .head()
    }

    // Residual is final as soon as the dequeue plans exist — checkpoint it
    // NOW on a pool thread so its plan compilation (the window/rank subtree,
    // the most expensive plan of the round to compile) overlaps the fetch
    // phase below instead of sitting on the round's tail.
    val residualCkptF = Future { dq.residual.localCheckpoint(false) }

    // ---- 4 discover (PLAN build + compile, overlapping the fetch job) ----
    // Everything driver-serial about the discovery stage — broadcasting the
    // previous round's sketch, building the candidate / probe plans, and
    // compiling the new-entries checkpoint (toRdd) — runs on a pool thread
    // WHILE the fetch job executes below. Measured 2-3 s per round of tail
    // time in round 2; now it hides behind the 4-20 s fetch. The future is
    // not job-free: under AQE, building newCkpt (localCheckpoint(false))
    // runs the checkpoint's shuffle stages as jobs on this pool thread, and
    // they compete with the fetch for executor slots.
    val discoveryF = Future {
      val cand = extracted
        .select(col("warc_ts").as("parent_ts"), explode(col("outlinks")).as("raw_url"))
        .withColumn("url", url_canonicalize(col("raw_url")))
        // E2 via the shared core (UrlCanonical.host), NOT parse_url: the
        // built-in nulls out URLs java.net.URI rejects, which would drop
        // candidates the oracle keeps (engine≡oracle would diverge).
        .withColumn("host", url_host(col("url")))
        .filter(col("host").isNotNull)
        .groupBy("url")
        .agg(min(col("parent_ts")).as("warc_ts"), min(col("host")).as("host"))
        .withColumn("url_hash", xxhash64(col("url")))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // Sharded Bloom arrives via SparkContext.broadcast — tasks pull the
      // blocks once per executor; the expression tree stays tiny at any
      // filter size (round 1 shipped the filter as a literal: task binaries
      // ballooned and a driver-held monolith cannot exist at 10^10 URLs).
      val bloomBc = spark.sparkContext.broadcast(Sketches.shardedFrom(bloom))

      // J3 strategy, cost-based with no count job on the path: prevLinksN
      // (last round's links, a proxy for this round's candidate volume) vs
      // seenRows (manifest-exact). Flip — scan seen, broadcast candidate
      // keys — only in its winning regime, seen ≫ candidates; otherwise the
      // fully-distributed classic join (storage-partitioned over DSv2).
      val flip = prevLinksN <= CrawlConfig.seenFlipMax &&
        seenRows.toDouble >= cfg.seenFlipRatio * math.max(1L, prevLinksN)
      val flagged = flagAgainstSeen(cand, seen, bloomBc, cfg, flip)
        .persist(StorageLevel.MEMORY_AND_DISK)

      // hostRank boost (left join on the candidate's host): rows under an
      // unranked or below-average host keep the plain round priority. The
      // boost side arrives strategy-wrapped (broadcast while small); above
      // the threshold the join shuffles the round-sized candidate side only.
      val withBoost = hostBoost match {
        case Some(b) => flagged.filter(col("is_new")).join(b, Seq("host"), "left_outer")
          .withColumn("prio", (lit(Corpus.priorityAtRound(round)) +
            coalesce(col("boost"), lit(0))).cast("int"))
        case None => flagged.filter(col("is_new"))
          .withColumn("prio", lit(Corpus.priorityAtRound(round)))
      }
      val newEntries = withBoost.select(
        col("url"), col("url_hash"), col("host"),
        xxhash64(col("host")).as("host_hash"),
        col("prio").as("priority"),
        lit(round).as("discovered_round"),
        col("warc_ts"))

      // Crawl-trap guard (cfg.maxNewPerHost): admit at most K new urls per
      // host per round, ranked by the frontier's own total order. Dropped
      // rows never reach the seen delta or the Bloom aggregate (both read
      // this frame's checkpoint), so they stay re-discoverable later.
      val admitted =
        if (cfg.maxNewPerHost > 0) capPerHost(newEntries, cfg) else newEntries

      // Local checkpoint (see hostStateNextP): cached blocks + truncated
      // plan. Its toRdd compiles the plan here and, under AQE, runs the
      // shuffle stages below it as jobs; the final stage is materialized by
      // whichever consumer runs first (the staged write racing the
      // pipelined next round's first job).
      val newCkpt = admitted.localCheckpoint(false)
      (cand, bloomBc, flagged, newCkpt)
    }

    // A round that throws returns no RoundOutput for the driver to free, so
    // it frees its own frames: first the pool work settles (a checkpoint
    // still compiling would register blocks after the release), then
    // everything this round cached.
    var hostStateCkpt: Option[DataFrame] = None
    try {
    val s2 = extracted.agg(count(lit(1)), coalesce(sum("n_links"), lit(0L))).head()
    val fetchedN = s2.getLong(0)
    val linksN = s2.getLong(1)
    // the stats future has long since finished (it raced the fetch job)
    val hbRow = Await.result(hbRowF, Duration.Inf)
    val dequeuedN = hbRow.getLong(0)
    val eligibleN = hbRow.getLong(1)

    val crawledDelta = extracted.select(
      col("url"), col("url_hash"), col("host"), lit(round).as("round"),
      col("rank_in_host"), col("fetch_ts"), col("etext").as("text"),
      col("lang"), col("n_links"))

    // ---- per-host politeness clocks ----
    val roundHost = extracted.groupBy("host").agg(
      count(lit(1)).as("n"),
      max(col("fetch_ts")).as("last_fetch_ts"),
      first(col("crawl_delay_ms")).as("delay"))
    val hostStateNext = hostStatePrev
      .select(col("host"), col("next_allowed_ts").as("prev_ts"),
        col("crawl_delay_ms").as("prev_delay"), col("fetched_total").as("prev_total"))
      .join(roundHost, Seq("host"), "full_outer")
      .select(
        col("host"),
        xxhash64(col("host")).as("host_hash"),
        coalesce(
          timestamp_micros(unix_micros(col("last_fetch_ts")) + col("delay") * lit(1000L)),
          col("prev_ts")).as("next_allowed_ts"),
        coalesce(col("delay"), col("prev_delay")).as("crawl_delay_ms"),
        (coalesce(col("prev_total"), lit(0L)) + coalesce(col("n"), lit(0L))).as("fetched_total"))

    // Stage the two frames that are final after extraction — their writes
    // overlap the discovery anti-join below. hostStateNext is lazily
    // local-checkpointed: the blocks cache like persist(), but the logical
    // plan is TRUNCATED to a leaf — without it, pipelined rounds nest each
    // round's full plan inside the next and plan trees grow without bound
    // (the iterative-lineage trap; snapshot reads used to truncate this).
    val hostStateNextP = hostStateNext.localCheckpoint(false)
    hostStateCkpt = Some(hostStateNextP)
    stage("crawled", crawledDelta)
    stage("hoststate", hostStateNextP)
    // hostRank signal source (cfg.hostRankFromRound): this round's distinct
    // host-level outlink pairs — canonical/host semantics identical to the
    // discovery path (and the oracle), but NOT seen-filtered: the
    // link graph measures endorsement, not crawl admission. Host-level
    // cardinality (≤ hosts²-bounded, in practice ≈ pages' host fan-out), so
    // the distinct is cheap next to the discovery dedup. Only rounds that
    // feed the rank pay it; committed like any table, read back by the
    // driver's one-time rank job.
    if (cfg.hostRankFromRound > 0 && round <= cfg.hostRankFromRound) {
      val hostEdges = extracted
        .select(col("host").as("src_host"), explode(col("outlinks")).as("raw_url"))
        .withColumn("dst_host", url_host(url_canonicalize(col("raw_url"))))
        .filter(col("dst_host").isNotNull)
        .select("src_host", "dst_host").distinct()
      stage("hostedges", hostEdges)
    }

    // timed re-crawl re-admissions (see the `recrawl` param): the source
    // round's crawl log mapped to frontier entries — recrawlPriority, this
    // round as discovered_round, the source fetch_ts as the ordering
    // timestamp (deterministic on both engine and oracle sides)
    def withRecrawl(base: DataFrame): DataFrame = recrawl match {
      case Some(rc) => base.unionByName(rc.select(
        col("url"), col("url_hash"), col("host"),
        xxhash64(col("host")).as("host_hash"),
        lit(CrawlConfig.recrawlPriority).as("priority"),
        lit(round).as("discovered_round"),
        col("fetch_ts").as("warc_ts")))
      case None => base
    }

    // ---- tail: both checkpoint leaves were compiled during the fetch ----
    // frontierNext is a UNION OF TWO LEAVES — the residual checkpoint and
    // the newEntries checkpoint, both compiled on pool threads while the
    // fetch job ran — so the round tail only assembles frames and stages
    // writes; the union itself stays un-checkpointed (depth-1 over leaves,
    // lineage bounded).
    val (cand, bloomBc, flagged, newCkpt) = Await.result(discoveryF, Duration.Inf)
    val residualCkpt = Await.result(residualCkptF, Duration.Inf)
    val frontierNext = withRecrawl(residualCkpt.unionByName(newCkpt))
    val seenDelta = newCkpt.select(col("url_hash"), col("url"))
      .withColumn("seen_bucket", seenBucketCol(col("url_hash"), cfg.seenBuckets))
    stage("frontier", frontierNext)
    stage("seen", seenDelta)

    // ONE job: candidate count + enqueued count + the round's Bloom delta
    // (sharded, over the new urls only — nulls are skipped by the agg). It
    // runs last, while the staged writes drain.
    val (candN, enqueuedN, bloomDelta) =
      if (cfg.maxNewPerHost > 0) {
        // Capped admission: enqueuedN and the Bloom delta must cover the
        // ADMITTED set only (dropped candidates stay unseen — the sketch
        // keeps its "exactly the seen set" invariant and the counters match
        // the oracle's). candN still counts every distinct candidate, so
        // this path pays a second small job over the admitted checkpoint —
        // only when the feature is on.
        val candN = flagged.agg(count(lit(1))).head().getLong(0)
        val s4 = newCkpt.agg(count(lit(1)), seenBloomAgg(col("url_hash"), cfg)).head()
        val enqueuedN = s4.getLong(0)
        (candN, enqueuedN, if (enqueuedN > 0) Some(s4.getAs[Array[Byte]](1)) else None)
      } else {
        val s3 = flagged.agg(count(lit(1)), sum(when(col("is_new"), 1L).otherwise(0L)),
          seenBloomAgg(when(col("is_new"), col("url_hash")), cfg)).head()
        val candN = s3.getLong(0)
        val enqueuedN = if (s3.isNullAt(1)) 0L else s3.getLong(1)
        (candN, enqueuedN, if (enqueuedN > 0) Some(s3.getAs[Array[Byte]](2)) else None)
      }

    val ckptRdds = Seq(residualCkpt, newCkpt, hostStateNextP)
      .flatMap(GraftColumnBridge.checkpointRdd)
    RoundOutput(round, eligibleN, dequeuedN, fetchedN, linksN, recrawlN,
      candN, enqueuedN, bloomDelta,
      dq.cached ++ Seq(cand, flagged, hostStateNextP, frontierNext, seenDelta),
      ckptRdds, Seq(bloomBc), frontierNext, seenDelta, hostStateNextP)
    } catch {
      case NonFatal(e) =>
        Seq(hbRowF, residualCkptF, discoveryF).foreach(Await.ready(_, Duration.Inf))
        (dq.cached ++ residualCkptF.value.flatMap(_.toOption) ++ hostStateCkpt).foreach(release)
        discoveryF.value.flatMap(_.toOption).foreach { case (cand, bloomBc, flagged, newCkpt) =>
          Seq(cand, flagged, newCkpt).foreach(release)
          bloomBc.destroy()
        }
        throw e
    }
  }

  /** The sharded seen-Bloom aggregate over `urlHash` (nulls skipped) under
    * cfg's sketch params. */
  private[spider] def seenBloomAgg(urlHash: Column, cfg: CrawlConfig): Column =
    Sketches.shardedBloomAgg(urlHash, cfg.bloomShards,
      math.max(1024L, cfg.bloomExpectedItems / cfg.bloomShards), cfg.bloomFpp)

  /** Free a frame's cached blocks, `persist`ed or `localCheckpoint`ed
    * (`Dataset.unpersist` is a no-op on the latter). */
  private[spider] def release(df: DataFrame): Unit = {
    df.unpersist()
    GraftColumnBridge.checkpointRdd(df).foreach(_.unpersist(blocking = false))
  }

  /** J3: mark each candidate `is_new` against the exact seen set.
    *
    * Flipped strategy (`flip`): the bucketed seen history is SCANNED —
    * semi-joined (url_hash + seen_bucket columns only) against the
    * broadcast probe keys — and never shuffled; candidates then left-join
    * the tiny hit set (broadcast). Per-round cost is one parallel scan of
    * seen, not a 10^10-row exchange. The Bloom prefilter shrinks the probe
    * set (bloom-absent candidates are provably unseen and skip the probe
    * entirely — a Bloom filter has no false negatives).
    *
    * Classic (giant candidate rounds): join the maybe-seen candidates on
    * (seen_bucket, url_hash) against the DSv2 committed side
    * ([[graft.spider.source.SeenSource]]). The join is
    * STORAGE-PARTITIONED — the history's reported bucket grouping satisfies
    * the join's distribution, only the round-sized candidate side shuffles
    * (into the bucket grouping), and the pipelined in-flight delta (also
    * round-sized) joins separately.
    */
  private[spider] def flagAgainstSeen(
      cand: DataFrame,
      seen: SeenInput,
      bloomBc: Broadcast[Array[Array[Byte]]],
      cfg: CrawlConfig,
      flip: Boolean): DataFrame = {
    val maybeSeen = bloom_sharded_might_contain(bloomBc, col("url_hash"))
    val flagged0 =
      if (flip) {
        val seenKeys = seen.scanAll.select("url_hash", "seen_bucket")
        val probeKeys = cand.filter(maybeSeen).select(col("url_hash"))
          .withColumn("seen_bucket", seenBucketCol(col("url_hash"), cfg.seenBuckets))
        val hits = seenKeys
          .join(broadcast(probeKeys), Seq("seen_bucket", "url_hash"), "left_semi")
          .select(col("url_hash")).withColumn("seen_hit", lit(true))
        cand.join(broadcast(hits), Seq("url_hash"), "left_outer")
      } else {
        // shuffle_hash on the candidate side: build the round-sized hash
        // table, STREAM the history — a sort-merge join would sort the
        // whole seen history every round
        val candB = cand.filter(maybeSeen)
          .withColumn("seen_bucket", seenBucketCol(col("url_hash"), cfg.seenBuckets))
          .hint("shuffle_hash")
        val withC = candB.join(
          seen.committedV2.select("seen_bucket", "url_hash").withColumn("hit_c", lit(true)),
          Seq("seen_bucket", "url_hash"), "left_outer")
        val withAll = seen.extra match {
          case Some(d) =>
            // same (bucket, hash) keys; the delta is round-sized, but the
            // committed join's output carries the bucket grouping, not the
            // hash partitioning this join needs, so the candidate side is
            // shuffled a second time here.
            withC.join(
              d.select("seen_bucket", "url_hash").withColumn("hit_d", lit(true)),
              Seq("seen_bucket", "url_hash"), "left_outer")
              .withColumn("seen_hit", coalesce(col("hit_c"), col("hit_d")))
              .drop("hit_c", "hit_d")
          case None => withC.withColumnRenamed("hit_c", "seen_hit")
        }
        cand.filter(!maybeSeen).withColumn("seen_hit", lit(null).cast("boolean"))
          .unionByName(withAll.drop("seen_bucket"))
      }
    flagged0.withColumn("is_new", col("seen_hit").isNull).drop("seen_hit")
  }

  /** O1/W1: canonical per-host dequeue ranking. Plain single window by
    * default; a two-phase (salted pre-rank, then exact re-rank) variant for
    * mega-host skew (J4): per-(host,salt) top-budget is a superset of the
    * per-host top-budget, so phase 2 over the ~S·budget survivors per host is
    * exact while phase 1 spreads a hot host over S tasks. */
  private[spider] def rankPerHost(eligible: DataFrame, cfg: CrawlConfig): DataFrame =
    rankInHost(eligible, cfg, col("budget"), "presel_rank", "rank_in_host")

  /** O4: crawl-trap admission cap — at most `maxNewPerHost` new urls per
    * host per round, by the frontier's total order. One row_number window
    * partitioned by host over the ROUND's new entries (round-sized, never
    * frontier-sized; the host exchange it introduces is the partitioning the
    * next dequeue wants anyway). A trap host is EXACTLY the case where one
    * round's discoveries are mega-skewed — millions of outlinks from one
    * host land in a single window task — so under cfg.twoPhaseDequeue the
    * same salted pre-rank as rankPerHost spreads that host over S tasks
    * first: per-(host, salt) top-K is a superset of the per-host top-K, so
    * the exact phase-2 window sees at most S·K rows per host. */
  private[spider] def capPerHost(newEntries: DataFrame, cfg: CrawlConfig): DataFrame =
    rankInHost(newEntries, cfg, lit(cfg.maxNewPerHost), "__adm_pre", "__adm_rn")
      .filter(col("__adm_rn") <= cfg.maxNewPerHost)
      .drop("__adm_rn")

  /** `df` with `rankCol` = its row_number within its host by the frontier's
    * total order (priority desc, warc_ts, url_hash, url). Under
    * cfg.twoPhaseDequeue a salted window (`preCol`, dropped again) first
    * keeps each (host, url_hash mod saltFactor) partition's top `k` rows,
    * a superset of the host's top `k`. */
  private def rankInHost(df: DataFrame, cfg: CrawlConfig, k: Column,
      preCol: String, rankCol: String): DataFrame = {
    val order = Seq(col("priority").desc, col("warc_ts").asc,
      col("url_hash").asc, col("url").asc)
    val pre =
      if (!cfg.twoPhaseDequeue) df
      else {
        val wSalt = Window.partitionBy(col("host"),
          pmod(col("url_hash"), lit(CrawlConfig.saltFactor.toLong)))
          .orderBy(order: _*)
        df.withColumn(preCol, row_number().over(wSalt))
          .filter(col(preCol) <= k)
          .drop(preCol)
      }
    pre.withColumn(rankCol, row_number().over(Window.partitionBy("host").orderBy(order: _*)))
  }
}
