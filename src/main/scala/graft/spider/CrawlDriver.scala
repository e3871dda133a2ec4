package graft.spider

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

import graft.spider.core._
import graft.spider.sketch.Sketches
import graft.spider.state.{CrawlCatalog, SketchParams}

/** Multi-round crawl driver (SURVEY.md §3.2): opens-or-resumes the IceLite
  * catalog, then runs rounds r0+1..R, committing a snapshot per round.
  *
  * Snapshot commits run a DEPTH-1 PIPELINE: round r+1 consumes round r's
  * in-memory state frames — `localCheckpoint` leaves, which cache the
  * blocks AND truncate Catalyst lineage (no unbounded iterative plans) —
  * while round r's table writes drain on pool threads; round r's manifest
  * rename (the single atomic commit point) happens after its writes land
  * and before round r+1's. The first round of a run (fresh or resumed)
  * reads its state back from the committed snapshot instead (lineage
  * truncation then comes from the files), and the final round commits
  * before `run` returns. Kill/resume replays identically: a killed run
  * restarts from the last committed manifest and, because every ordering
  * the contract depends on is a pure function of (state, round), reaches
  * the same crawl ordering and URL-seen set as an uninterrupted run
  * (pipelining only bounds the loss at ≤2 rounds of work instead of 1).
  */
object CrawlDriver {

  private def sketchParamsOf(cfg: CrawlConfig): SketchParams =
    SketchParams(cfg.seenBuckets, cfg.bloomShards, cfg.bloomExpectedItems, cfg.bloomFpp)

  /** The sharded seen Bloom over `urls`' url_hash column. */
  private[spider] def bloomOf(urls: DataFrame, cfg: CrawlConfig): Array[Byte] =
    urls.agg(CrawlEngine.seenBloomAgg(col("url_hash"), cfg)).head().getAs[Array[Byte]](0)

  /** Run (or resume) a crawl; returns the catalog positioned at cfg.rounds. */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      seeds: Dataset[FrontierEntry],
      robots: Dataset[RobotsRule],
      cfg: CrawlConfig,
      stateDir: String): CrawlCatalog = {

    val catalog = new CrawlCatalog(stateDir, spark)
    val params = sketchParamsOf(cfg)
    // In-crawl expiration deletes below the newest compaction anchor at or
    // before latest-keepLast+1; the deepest in-flight reader under commit
    // pipelining resolves its seen history at round r-2 (round r's seen
    // probe, which its staged seen write may still be materializing), so
    // keepLast must keep the anchor at or below that (>= 2), +1 margin.
    // Only the ACTIVE combination is constrained: expireEveryRounds with
    // expireKeepLast == 0 is inert (the loop never fires expiration), so it
    // is not rejected.
    require(cfg.expireEveryRounds == 0 || cfg.expireKeepLast == 0 ||
        cfg.expireKeepLast >= 3,
      s"expireEveryRounds=${cfg.expireEveryRounds} requires expireKeepLast >= 3 " +
        s"(got ${cfg.expireKeepLast}): in-flight pipelined readers reach two rounds back")
    // timed re-crawl reads the source round's COMMITTED crawl log inside
    // round r (r0 = r+1-recrawlEvery): under depth-1 commit pipelining the
    // newest final manifest at round r's start is r-2, so the cadence must
    // reach at least that far back.
    require(cfg.recrawlEvery == 0 || cfg.recrawlEvery >= 3,
      s"recrawlEvery=${cfg.recrawlEvery} must be >= 3 (commit-pipeline depth): " +
        "the source round's manifest must be final when its crawl log is re-read")
    // the hostRank signal re-reads the hostedges manifests of rounds
    // 1..hostRankFromRound on every resume; expiration deletes manifests
    require(cfg.hostRankFromRound == 0 || cfg.expireKeepLast == 0,
      "hostRankFromRound does not compose with snapshot expiration " +
        "(expired rounds drop the hostedges manifests the rank re-reads on resume)")
    // storage-partitioned classic seen join over the DSv2 seen reader:
    // group by the reported bucket partitioning and allow shuffling the
    // (small) candidate side into it. Session-global planner settings —
    // saved here and restored in the finally below so the crawl does not
    // leak them into the caller's unrelated queries.
    val bucketingKeys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.shuffle.enabled")
    val priorBucketing = bucketingKeys.map(k => k -> spark.conf.getOption(k))
    bucketingKeys.foreach(spark.conf.set(_, "true"))
    try {
    val robotsDf = robots.toDF()
    // a run that fails frees this cache unless the caller had it cached
    // already; a finished run leaves it for the next crawl over the same rules
    val ownsRobotsCache = robotsDf.storageLevel == StorageLevel.NONE
    robotsDf.persist()
    // materialize once; the exact count picks broadcast vs host-shuffle for
    // the per-round robots gate
    val robotsRows = robotsDf.count()

    // (startRound, sketch blob) — resume validates the storage layout and
    // rebuilds the Bloom when the stored params are incompatible with cfg
    // (filters built under different (shards, n, fpp) cannot be merged).
    val (startRound, bloom0) = catalog.latestRound match {
      case Some(r) =>
        val stored = catalog.sketchParams(r).getOrElse(throw new IllegalStateException(
          s"catalog at $stateDir has no sketch_params manifest entry; " +
            "it was written by an incompatible engine version"))
        require(stored.seenBuckets == cfg.seenBuckets,
          s"cannot resume: catalog seen table is bucketed ${stored.seenBuckets}-way " +
            s"but cfg.seenBuckets=${cfg.seenBuckets} (the bucket layout is fixed per catalog)")
        val bloomCompatible = stored.bloomShards == cfg.bloomShards &&
          stored.bloomExpectedItems == cfg.bloomExpectedItems &&
          stored.bloomFpp == cfg.bloomFpp
        val blob = (catalog.readBloom(r), bloomCompatible) match {
          case (Some(b), true) => b
          case _ => // params changed or no stored Bloom
            System.err.println(s"[crawl] rebuilding seen Bloom from catalog " +
              s"(stored params $stored, cfg params $params)")
            bloomOf(catalog.readSeen(r), cfg)
        }
        (r, blob)
      case None =>
        val seedsDf = seeds.toDF().persist()
        val nSeeds = seedsDf.count()
        val blob = bloomOf(seedsDf, cfg)
        import spark.implicits._
        val emptyHostState = spark.emptyDataset[HostState].toDF()
        val seenDelta = seedsDf.select(col("url_hash"), col("url"))
          .withColumn("seen_bucket", CrawlEngine.seenBucketCol(col("url_hash"), cfg.seenBuckets))
        catalog.commitRound(0, seedsDf, seenDelta, emptyHostState, None, Some(blob), params,
          RoundCounters(0, 0, 0, 0, 0, 0, 0, nSeeds, 0, nSeeds, nSeeds))
        seedsDf.unpersist()
        (0, blob)
    }

    // Cross-round state through the newest round: the merged Bloom, the
    // exact seen-row count and |frontier|, from the manifest for the round
    // the run starts from, then from each round's returned counters.
    var bloom = bloom0
    var seenRows = catalog.seenRowsThrough(startRound)
    var frontierIn =
      catalog.manifest(startRound).get("tables").get("frontier").get("rows").asLong()

    // Depth-1 commit pipeline: `pending` is the previous round, its table
    // writes draining on pool threads while this round computes over its
    // persisted state frames; it finalizes (manifest rename) right after
    // this round's compute, preserving manifest order. `retired` frames are
    // unpersisted two rounds back — the current round's background writes
    // may still read the previous round's caches (hoststate chains one
    // round), so frames live for two rounds after their own.
    case class Pend(round: Int, pc: CrawlCatalog#PendingCommit,
        out: CrawlEngine.RoundOutput, counters: RoundCounters, bloomAfter: Array[Byte]) {
      def finalizeCommit(): Unit = pc.finalizeCommit(Some(bloomAfter), params, counters)
    }
    var pending: Option[Pend] = None
    var retired: Option[CrawlEngine.RoundOutput] = None
    // the newest round: pending, retired, or (when the pending round's
    // finalize throws) neither
    var current: Option[Pend] = None

    // hostRank priority signal (cfg.hostRankFromRound = K): computed ONCE
    // per run — at the first round ≥ K+2, when round K's manifest is final
    // even under depth-1 commit pipelining — from the committed hostedges
    // graph of rounds 1..K. Pure function of committed state ⇒ a resumed
    // run recomputes the identical table. The boost is a per-row function
    // of (rank, n): quantize rank·n·4 to a long, integer log2 via bit
    // length (bin()), clamp to [0, 9]; only boost ≥ 1 rows are kept (0 is
    // the join default), and the side is broadcast while small.
    var hostBoostCache: Option[DataFrame] = None
    // the checkpointed frame behind the (possibly broadcast-hinted) boost —
    // kept so its blocks can be freed when the run ends (the hint wrapper
    // shares the same underlying LogicalRDD)
    var hostBoostCkpt: Option[DataFrame] = None
    def hostBoost(r: Int): Option[DataFrame] = {
      if (cfg.hostRankFromRound == 0 || r < cfg.hostRankFromRound + 2) None
      else {
        if (hostBoostCache.isEmpty) {
          // per-round frames are distinct but their UNION is not (an edge
          // rediscovered every round) — the rank is over the edge SET
          val edges = catalog.readHostEdges(cfg.hostRankFromRound).distinct()
          val ranked = graft.datapipe.LinkRank.hostRank(
            edges, "src_host", "dst_host", CrawlConfig.hostRankIters).persist()
          val n = ranked.count() // = |vertices|: hostRank emits every vertex
          val boost = ranked.select(col("host"),
            graft.datapipe.LinkRank.rankTier(col("rank"), n).as("boost"))
            .filter(col("boost") >= 1)
            .localCheckpoint(true)
          ranked.unpersist()
          val bn = boost.count()
          hostBoostCkpt = Some(boost)
          hostBoostCache = Some(
            if (bn <= CrawlConfig.cutoffBroadcastMax) broadcast(boost) else boost)
        }
        hostBoostCache
      }
    }
    def cleanup(out: CrawlEngine.RoundOutput): Unit = {
      out.persisted.foreach(_.unpersist())
      // localCheckpoint-backed frames are NOT in the CacheManager, so the
      // Dataset.unpersist above is a no-op for them — free their blocks
      // explicitly instead of waiting out the ContextCleaner's GC pace.
      // (A round may log "non-existent accumulator" task-end errors: the
      // final stage of its newCkpt = admitted.localCheckpoint(false) reports
      // SQL metrics after that checkpoint's execution is gone.)
      out.ckptRdds.foreach(_.unpersist(blocking = false))
      out.broadcasts.foreach(_.destroy())
    }

    // Frees what outlives a round: the retired and newest round outputs and
    // the run-long hostRank checkpoint; when the crawl failed, also the
    // round whose commit is pending and the robots cache. Background work
    // settles first: a write still planning would re-cache a frame freed
    // under it. Round outputs are freed once each (destroying a broadcast
    // twice throws), and a stopped SparkContext has nothing left to free.
    def releaseRun(failed: Boolean): Unit = if (!spark.sparkContext.isStopped) {
      val rounds = (pending ++ current).toSeq.distinct
      rounds.foreach(_.pc.abandon())
      (rounds.map(_.out) ++ retired).distinct.foreach(cleanup)
      // The hostRank boost lives for the whole run (it joins every boosted
      // round); Dataset.unpersist is a no-op on its checkpoint-backed frame.
      hostBoostCkpt.foreach(CrawlEngine.release)
      if (failed && ownsRobotsCache) robotsDf.unpersist()
    }

    try {
    for (r <- (startRound + 1) to cfg.rounds) {
      // Inputs: from the previous round's in-memory frames (identical
      // content to its in-flight files), or on a run's first round from
      // the snapshot.
      def seenInput(committedRound: Int, extra: Option[DataFrame]) =
        CrawlEngine.SeenInput(
          catalog.readSeenBucketed(committedRound),
          catalog.readSeenV2(committedRound, cfg.seenBuckets),
          extra)
      val (frontier, seen, hostState, prevLinksN) = pending match {
        case Some(p) =>
          (p.out.frontierNext, seenInput(p.round - 1, Some(p.out.seenDelta)),
            p.out.hostStateNext, p.out.linksN)
        case None =>
          // prev links (the flip-strategy signal) is exact from the
          // manifest counters; 0 for a seed-only round-0 parent.
          (catalog.readFrontier(r - 1), seenInput(r - 1, None),
            catalog.readHostState(r - 1), catalog.countersOf(r - 1).links_extracted)
      }
      // timed re-crawl source: the committed crawl log of round r0 (final
      // by construction — the recrawlEvery >= pipeline-depth+1 require
      // above), plus its exact row count from the committed counters
      val (recrawlSrc, recrawlN) = {
        val r0 = r + 1 - cfg.recrawlEvery
        if (cfg.recrawlEvery > 0 && r0 >= 1)
          (catalog.readCrawledRound(r0), catalog.countersOf(r0).fetched)
        else (None, 0L)
      }
      val pc = catalog.beginCommit(r)
      val out = CrawlEngine.runRound(spark, pages, robotsDf, frontier, seen,
        hostState, r, cfg, bloom, seenRows, frontierIn, pc.stage, robotsRows,
        prevLinksN, recrawlSrc, recrawlN, hostBoost(r))

      // Exact counters + incremental sketch: bloom(r) = bloom(r-1) ⊎ delta
      // per shard; frontier_in(r) = frontier_out(r-1).
      val counters = RoundCounters(r, frontierIn, frontierIn - out.eligibleN,
        out.dequeuedN, out.fetchedN, out.dequeuedN - out.fetchedN, out.linksN,
        out.candN, out.candN - out.enqueuedN, out.enqueuedN, out.frontierOut)
      bloom = out.bloomDelta.fold(bloom)(Sketches.mergeShardedBlobs(bloom, _))
      seenRows += out.enqueuedN
      frontierIn = out.frontierOut
      val done = Pend(r, pc, out, counters, bloom)
      current = Some(done)

      // Finalize the previous round (its writes drained during our compute),
      // then retire frames two rounds back.
      pending.foreach { p =>
        p.finalizeCommit()
        retired.foreach(cleanup)
        retired = Some(p.out)
      }
      // Periodic INCREMENTAL seen compaction rides this round's commit:
      // staged only now — after the previous round's manifest landed —
      // because the compaction planner reads committed lineage through
      // round r-1; it folds this round's delta by chaining off its staged
      // write and drains on a pool thread like the other table writes.
      if (cfg.compactSeenEvery > 0 && r % cfg.compactSeenEvery == 0)
        pc.stageSeenCompaction(CrawlConfig.compactMaxFilesPerBucket)
      if (r < cfg.rounds) {
        pending = Some(done)
      } else {
        done.finalizeCommit()
        pending = None
        retired.foreach(cleanup)
        retired = Some(out)
      }
      // In-crawl expiration (VERDICT r3 task #2): bound the live manifest /
      // state-file count every K rounds instead of only after the crawl.
      // Runs after this round's commit block, so the newest committed
      // manifest is r-1 (r on the final round); the horizon lands below the
      // newest compaction anchor inside the retention window, which every
      // in-flight reader's seen resolution already sits above.
      if (cfg.expireKeepLast > 0 && cfg.expireEveryRounds > 0 &&
          r % cfg.expireEveryRounds == 0)
        catalog.expireSnapshots(cfg.expireKeepLast)
    }
    } catch {
      case NonFatal(e) =>
        // the cleanup must not hide the crawl's own exception
        try releaseRun(failed = true) catch { case NonFatal(s) => e.addSuppressed(s) }
        throw e
    }
    releaseRun(failed = false)
    // Post-crawl table maintenance (all commits final by here): bound the
    // catalog's metadata/state-file count by the retention window.
    if (cfg.expireKeepLast > 0) catalog.expireSnapshots(cfg.expireKeepLast)
    catalog
    } finally {
      priorBucketing.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  /** Convenience: synthesize the corpus fixtures from `sfDir`, crawl, return
    * the crawled table through the final round. */
  def crawlFromSf(spark: SparkSession, sfDir: String, cfg: CrawlConfig,
      stateDir: String, replicate: Int = 1, spreadHosts: Boolean = false): DataFrame = {
    import graft.spider.synth.PagesSynth
    val pages = PagesSynth.cached(PagesSynth.pages(spark, sfDir, replicate, spreadHosts))
    val robots =
      if (spreadHosts)
        PagesSynth.robotsFor(spark, pages
          .select(graft.spider.expr.SpiderFunctions.url_host(col("url")).as("host"))
          .distinct())
      else PagesSynth.robots(spark, sfDir)
    val catalog = run(spark, pages, PagesSynth.seeds(spark, sfDir, cfg),
      robots, cfg, stateDir)
    // the crawled table is committed files — the corpus cache can go
    // (matters when a caller runs several crawls in one session, e.g. the
    // bench's fetch-join A/B)
    pages.unpersist()
    catalog.readCrawled(cfg.rounds)
  }
}
