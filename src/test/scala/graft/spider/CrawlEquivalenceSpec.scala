package graft.spider

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spider.core._
import graft.spider.state.CrawlCatalog
import graft.spider.synth.PagesSynth

/** The core correctness gate (SURVEY.md §5.3-5.6): the distributed engine
  * must replay the single-threaded oracle exactly — crawl ordering, URL-seen
  * set, per-url extracted text bytes, per-round counters — and must do so
  * across parallelism levels and across kill/resume. */
class CrawlEquivalenceSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs: Seq[CrawlOracle.Doc] = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .collect()
      .map(r => CrawlOracle.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq
  }
  private lazy val oraclePages = CrawlOracle.synthPages(docs)

  private lazy val pagesDf = {
    val df = PagesSynth.pages(spark, sfDir).persist()
    df.count()
    df
  }

  private def tmpState(): String =
    Files.createTempDirectory("graft-crawl-").toString

  private def engineCrawl(cfg: CrawlConfig, stateDir: String = tmpState()): CrawlCatalog =
    CrawlDriver.run(spark, pagesDf, PagesSynth.seeds(spark, sfDir, cfg),
      PagesSynth.robots(spark, sfDir), cfg, stateDir)

  private def crawledTuples(catalog: CrawlCatalog, round: Int) =
    catalog.readCrawled(round)
      .select(col("round"), col("host"), col("rank_in_host"), col("url"),
        col("url_hash"), unix_micros(col("fetch_ts")).as("fetch_us"),
        col("text"), col("lang"), col("n_links"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getString(7), r.getInt(8)))
      .sortBy(t => (t._1, t._2, t._3))
      .toSeq

  private def oracleTuples(res: CrawlOracle.Result) =
    res.crawled.map(c => (c.round, c.host, c.rankInHost, c.url, c.urlHash,
      c.fetchTsMicros, c.text, c.lang, c.nLinks))

  private def seenSet(catalog: CrawlCatalog, round: Int): Set[Long] =
    catalog.readSeen(round).select("url_hash").collect().map(_.getLong(0)).toSet

  private def frontierSet(catalog: CrawlCatalog, round: Int) =
    catalog.readFrontier(round)
      .select(col("url"), col("url_hash"), col("host"), col("priority"),
        col("discovered_round"), unix_micros(col("warc_ts")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3),
        r.getInt(4), r.getLong(5)))
      .toSet

  private def oracleFrontierSet(res: CrawlOracle.Result) =
    res.frontierEnd.map(e =>
      (e.url, e.urlHash, e.host, e.priority, e.discoveredRound, e.warcTsMicros)).toSet

  test("synthesized corpus: engine pages ≡ oracle pages, byte-for-byte") {
    val engine = pagesDf
      .select(col("url"), unix_micros(col("warc_ts")).as("us"), col("html"),
        col("text"), col("lang"))
      .collect()
    val byUrl = oraclePages.map(p => p.url -> p).toMap
    assert(engine.length == oraclePages.size)
    engine.foreach { r =>
      val p = byUrl(r.getString(0))
      assert(r.getLong(1) == p.warcTsMicros, s"warc_ts mismatch ${p.url}")
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), p.html), s"html mismatch ${p.url}")
      assert(r.getString(3) == p.text)
      assert(r.getString(4) == p.lang)
    }
  }

  test("extract_text inverts the wrap byte-for-byte over the whole corpus " +
      "(both per-host templates active)") {
    import graft.spider.expr.SpiderFunctions._
    val bad = pagesDf.filter(
      extract_text(col("html"), url_host(col("url"))) =!= col("text")).count()
    assert(bad == 0L)
    // the host registry really dispatches BOTH templates on this corpus
    val tpls = pagesDf.select(url_host(col("url")).as("h")).distinct().collect()
      .map(r => core.Templates.forHost(r.getString(0)).id).toSet
    assert(tpls == Set("p", "item"), s"active templates: $tpls")
  }

  test("3-round crawl ≡ oracle: ordering, seen set, text bytes, counters, host totals") {
    val cfg = CrawlConfig(rounds = 3)
    val oracleRes = CrawlOracle.run(oraclePages, CrawlOracle.seeds(docs, cfg), cfg)
    val catalog = engineCrawl(cfg)

    assert(crawledTuples(catalog, 3) == oracleTuples(oracleRes))
    assert(seenSet(catalog, 3) == oracleRes.seen)
    assert(frontierSet(catalog, 3) == oracleFrontierSet(oracleRes))
    (1 to 3).foreach { r =>
      assert(catalog.countersOf(r) == oracleRes.counters(r - 1), s"round $r counters")
    }
    val engineHostTotals = catalog.readHostState(3)
      .select("host", "fetched_total").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      .filter(_._2 > 0)
    assert(engineHostTotals == oracleRes.hostFetched.filter(_._2 > 0))
  }

  test("two-phase salted dequeue ≡ plain window (J4/W1 skew path is exact)") {
    val cfg = CrawlConfig(rounds = 3, twoPhaseDequeue = true)
    val oracleRes = CrawlOracle.run(oraclePages, CrawlOracle.seeds(docs, cfg), cfg)
    val catalog = engineCrawl(cfg)
    assert(crawledTuples(catalog, 3) == oracleTuples(oracleRes))
    assert(seenSet(catalog, 3) == oracleRes.seen)
    assert(frontierSet(catalog, 3) == oracleFrontierSet(oracleRes))
  }

  test("flipped seen probe ≡ classic shuffled join (strategy never changes semantics)") {
    val oracleRes = CrawlOracle.run(oraclePages,
      CrawlOracle.seeds(docs, CrawlConfig(rounds = 3)), CrawlConfig(rounds = 3))
    // ratio 0 forces the flip every round; MaxValue forces the classic
    // join, storage-partitioned over the DSv2 seen reader; both must agree.
    val flip = engineCrawl(CrawlConfig(rounds = 3, seenFlipRatio = 0.0))
    val classicV2 = engineCrawl(CrawlConfig(rounds = 3, seenFlipRatio = Double.MaxValue))
    assert(crawledTuples(flip, 3) == oracleTuples(oracleRes))
    assert(crawledTuples(classicV2, 3) == oracleTuples(oracleRes))
    assert(seenSet(flip, 3) == oracleRes.seen)
    assert(seenSet(classicV2, 3) == oracleRes.seen)
    (1 to 3).foreach { r =>
      assert(flip.countersOf(r) == oracleRes.counters(r - 1), s"flip round $r counters")
      assert(classicV2.countersOf(r) == oracleRes.counters(r - 1), s"v2 round $r counters")
    }
  }

  test("timed re-crawl (recrawlEvery=3) ≡ oracle: versioned crawl log, ordering, " +
      "seen set, frontier, counters; re-fetch gaps are >= recrawlEvery") {
    val cfg = CrawlConfig(rounds = 7, recrawlEvery = 3)
    val oracleRes = CrawlOracle.run(oraclePages, CrawlOracle.seeds(docs, cfg), cfg)
    val catalog = engineCrawl(cfg)
    assert(crawledTuples(catalog, 7) == oracleTuples(oracleRes))
    assert(seenSet(catalog, 7) == oracleRes.seen)
    assert(frontierSet(catalog, 7) == oracleFrontierSet(oracleRes))
    (1 to 7).foreach { r =>
      assert(catalog.countersOf(r) == oracleRes.counters(r - 1), s"round $r counters")
    }
    // the feature actually fired: the crawl log is versioned — some url has
    // >1 (url, round) row — and every consecutive re-fetch of a url lands
    // at least recrawlEvery rounds after the previous fetch (re-admission
    // happens at the end of round srcRound + recrawlEvery - 1)
    val roundsByUrl = oracleRes.crawled.groupBy(_.url).values.map(_.map(_.round).sorted)
    val multi = roundsByUrl.filter(_.size > 1)
    assert(multi.nonEmpty, "no url was re-crawled — recrawl never fired")
    multi.foreach { rs =>
      rs.sliding(2).foreach { case Seq(a, b) =>
        assert(b - a >= cfg.recrawlEvery, s"re-fetch gap $a->$b < recrawlEvery")
      }
    }
  }

  test("timed re-crawl kill/resume: resume mid-cadence ≡ uninterrupted " +
      "(re-admission is a pure function of committed state)") {
    val cfg = CrawlConfig(rounds = 7, recrawlEvery = 3)
    val full = engineCrawl(cfg)
    val stateDir = tmpState()
    engineCrawl(cfg.copy(rounds = 4), stateDir) // kill after round 4
    val resumed = engineCrawl(cfg, stateDir)    // resume 5..7
    assert(crawledTuples(resumed, 7) == crawledTuples(full, 7))
    assert(seenSet(resumed, 7) == seenSet(full, 7))
    assert(frontierSet(resumed, 7) == frontierSet(full, 7))
  }

  test("hostRank priority (hostRankFromRound=2) ≡ oracle: the link-graph " +
      "boost changes admission priorities identically on both sides") {
    val cfg = CrawlConfig(rounds = 6, hostRankFromRound = 2)
    val oracleRes = CrawlOracle.run(oraclePages, CrawlOracle.seeds(docs, cfg), cfg)
    val catalog = engineCrawl(cfg)
    assert(crawledTuples(catalog, 6) == oracleTuples(oracleRes))
    assert(seenSet(catalog, 6) == oracleRes.seen)
    assert(frontierSet(catalog, 6) == oracleFrontierSet(oracleRes))
    (1 to 6).foreach { r =>
      assert(catalog.countersOf(r) == oracleRes.counters(r - 1), s"round $r counters")
    }
    // non-vacuity: the signal actually fired — some discovery from round 4
    // on carries a boosted priority (plain would be priorityAtRound(r))
    val boosted = oracleRes.frontierEnd.count(e =>
      e.discoveredRound >= cfg.hostRankFromRound + 2 &&
        e.priority > Corpus.priorityAtRound(e.discoveredRound))
    assert(boosted > 0, "no frontier entry carries a hostRank boost — vacuous")
    // and it changed behavior vs the unboosted crawl, not just labels
    val plain = CrawlOracle.run(oraclePages,
      CrawlOracle.seeds(docs, cfg.copy(hostRankFromRound = 0)),
      cfg.copy(hostRankFromRound = 0))
    assert(oracleFrontierSet(plain) != oracleFrontierSet(oracleRes))
  }

  test("hostRank boost tier: SQL bit-length formula ≡ oracle integer log2 " +
      "over a dense rank grid (incl. exact power-of-two boundaries)") {
    import spark.implicits._
    val n = 97L
    // dense sweep through all tiers plus the exact tier boundaries
    // (rank·n·4 = 2^k), where a naive float log2 would flap
    val grid = (1 to 4000).map(i => i / (n * 4.0 * 3.0)) ++
      (0 to 12).map(k => math.pow(2.0, k) / (n * 4.0))
    val got = grid.toDF("rank")
      .select(graft.datapipe.LinkRank.rankTier(col("rank"), n).as("tier"))
      .collect().map(_.getInt(0)).toSeq
    val want = grid.map(r => CrawlOracle.rankTierScalar(r, n))
    assert(got == want)
    assert(want.toSet == (0 to 9).toSet, s"grid missed tiers: ${want.toSet}")
  }

  test("hostRank kill/resume: boost recomputed from committed hostedges " +
      "≡ uninterrupted (pure function of committed state)") {
    val cfg = CrawlConfig(rounds = 6, hostRankFromRound = 2)
    val full = engineCrawl(cfg)
    val stateDir = tmpState()
    engineCrawl(cfg.copy(rounds = 4), stateDir) // kill after the first boosted round
    val resumed = engineCrawl(cfg, stateDir)    // resume 5..6: boost re-derived
    assert(crawledTuples(resumed, 6) == crawledTuples(full, 6))
    assert(seenSet(resumed, 6) == seenSet(full, 6))
    assert(frontierSet(resumed, 6) == frontierSet(full, 6))
  }

  test("crawl-trap guard (maxNewPerHost=3) ≡ oracle: capped admission, " +
      "ordering, seen set, frontier, counters; dropped urls stay unseen") {
    val cfg = CrawlConfig(rounds = 5, maxNewPerHost = 3)
    val oracleRes = CrawlOracle.run(oraclePages, CrawlOracle.seeds(docs, cfg), cfg)
    val catalog = engineCrawl(cfg)
    assert(crawledTuples(catalog, 5) == oracleTuples(oracleRes))
    assert(seenSet(catalog, 5) == oracleRes.seen)
    assert(frontierSet(catalog, 5) == oracleFrontierSet(oracleRes))
    (1 to 5).foreach { r =>
      assert(catalog.countersOf(r) == oracleRes.counters(r - 1), s"round $r counters")
    }
    // every surviving frontier entry group honors the per-(host, round)
    // admission bound (seeds are discovered_round 0 and exempt; residuals
    // keep their discovery round, and dequeue only shrinks a group)
    val perHostRound = oracleRes.frontierEnd.filter(_.discoveredRound >= 1)
      .groupBy(e => (e.host, e.discoveredRound)).values.map(_.size)
    assert(perHostRound.forall(_ <= 3),
      s"oracle frontier group exceeded cap: ${perHostRound.max}")
    // non-vacuity: the cap actually bound. Both runs replay identically
    // until the round where the cap first bites (the cap only gates
    // ADMISSION at round end), so at the FIRST divergent round the
    // pre-admission discovery is still identical and the capped run must
    // enqueue strictly fewer urls. (No subset/size relation holds later:
    // a different frontier dequeues different pages under the politeness
    // budget, so the capped run legitimately discovers urls the uncapped
    // run never reaches within the horizon.)
    val plain = CrawlOracle.run(oraclePages,
      CrawlOracle.seeds(docs, cfg.copy(maxNewPerHost = 0)),
      cfg.copy(maxNewPerHost = 0))
    val firstDiff = oracleRes.counters.zip(plain.counters)
      .find { case (a, b) => a != b }
    assert(firstDiff.isDefined, "cap never bound — runs identical")
    val (capC, plainC) = firstDiff.get
    assert(capC.candidates_new == plainC.candidates_new,
      "first divergence must be at admission, not discovery")
    assert(capC.enqueued < plainC.enqueued,
      s"first divergent round enqueued ${capC.enqueued} !< ${plainC.enqueued}")
    // and the engine honors the per-(host, round) admission bound in the
    // committed frontier (residuals belong to earlier rounds, so filter by
    // discovered round > 0; seeds are round 0)
    val engAdm = catalog.readFrontier(5)
      .filter(col("discovered_round") === 5)
      .groupBy("host").count().collect().map(_.getLong(1))
    assert(engAdm.forall(_ <= 3), s"round-5 admission exceeded cap: ${engAdm.max}")
  }

  test("crawl-trap guard two-phase ≡ plain window (salted admission cap is " +
      "exact): unit equivalence on a mega-skewed round + e2e ≡ oracle") {
    // Unit: one trap host contributes 5000 of 5060 new entries (the exact
    // shape the salted pre-rank exists for), ties in priority broken by the
    // total order (url_hash, url). Per-(host, salt) top-K ⊇ per-host top-K,
    // so both variants must select the SAME rows.
    import spark.implicits._
    val rows = (0 until 5000).map { i =>
      (s"http://trap.example/p$i", Hash64.string(s"http://trap.example/p$i"),
        "trap.example", 5 - (i % 3), 1700000000000000L + (i % 7).toLong)
    } ++ (0 until 60).map { i =>
      (s"http://ok${i % 6}.example/p$i", Hash64.string(s"http://ok$i"),
        s"ok${i % 6}.example", 5, 1700000000000000L + i.toLong)
    }
    val df = rows.toDF("url", "url_hash", "host", "priority", "ts")
      .withColumn("warc_ts", timestamp_micros(col("ts"))).drop("ts")
    def run(two: Boolean) = CrawlEngine.capPerHost(df,
        CrawlConfig(maxNewPerHost = 3, twoPhaseDequeue = two))
      .select("host", "url").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val plain = run(two = false)
    val salted = run(two = true)
    assert(plain == salted, "two-phase admission selected different rows")
    assert(plain.count(_._1 == "trap.example") == 3)
    // E2E: the oracle is phase-agnostic — the salted engine path must still
    // replay it exactly with the cap binding.
    val cfg = CrawlConfig(rounds = 4, maxNewPerHost = 3, twoPhaseDequeue = true)
    val oracleRes = CrawlOracle.run(oraclePages, CrawlOracle.seeds(docs, cfg), cfg)
    val catalog = engineCrawl(cfg)
    assert(crawledTuples(catalog, 4) == oracleTuples(oracleRes))
    assert(seenSet(catalog, 4) == oracleRes.seen)
    assert(frontierSet(catalog, 4) == oracleFrontierSet(oracleRes))
  }

  test("crawl-trap guard kill/resume: capped admission is a pure function " +
      "of round state — resume ≡ uninterrupted") {
    val cfg = CrawlConfig(rounds = 5, maxNewPerHost = 3)
    val full = engineCrawl(cfg)
    val stateDir = tmpState()
    engineCrawl(cfg.copy(rounds = 3), stateDir) // kill after round 3
    val resumed = engineCrawl(cfg, stateDir)    // resume 4..5
    assert(crawledTuples(resumed, 5) == crawledTuples(full, 5))
    assert(seenSet(resumed, 5) == seenSet(full, 5))
    assert(frontierSet(resumed, 5) == frontierSet(full, 5))
  }

  test("kill/resume: rounds 0-1 then resume 2-3 ≡ uninterrupted 0-3") {
    val dirA = tmpState()
    engineCrawl(CrawlConfig(rounds = 1), dirA) // "killed" after round 1
    val resumed = engineCrawl(CrawlConfig(rounds = 3), dirA) // resumes at 2
    val fresh = engineCrawl(CrawlConfig(rounds = 3))
    assert(crawledTuples(resumed, 3) == crawledTuples(fresh, 3))
    assert(seenSet(resumed, 3) == seenSet(fresh, 3))
    assert(frontierSet(resumed, 3) == frontierSet(fresh, 3))
    (1 to 3).foreach(r => assert(resumed.countersOf(r) == fresh.countersOf(r)))
  }

  test("Bloom rebuilt on resume under new sketch params ≡ uninterrupted crawl " +
      "under them; the manifest records the new params") {
    val cfg = CrawlConfig(rounds = 4, bloomFpp = 0.01)
    val stateDir = tmpState()
    engineCrawl(CrawlConfig(rounds = 2), stateDir) // "killed" after round 2, fpp 0.03
    val resumed = engineCrawl(cfg, stateDir)       // resumes at 3 with fpp 0.01
    val full = engineCrawl(cfg)
    assert(resumed.sketchParams(2).map(_.bloomFpp).contains(0.03))
    assert(crawledTuples(resumed, 4) == crawledTuples(full, 4))
    assert(seenSet(resumed, 4) == seenSet(full, 4))
    assert(frontierSet(resumed, 4) == frontierSet(full, 4))
    (1 to 4).foreach(r => assert(resumed.countersOf(r) == full.countersOf(r), s"round $r counters"))
    // the rebuilt Bloom covers exactly the seen set, so it matches bit for bit
    assert(java.util.Arrays.equals(resumed.readBloom(4).get, full.readBloom(4).get))
    val params = resumed.manifest(4).get("sketch_params")
    assert(params.get("bloom_fpp").asDouble() == 0.01)
    assert(params.get("bloom_shards").asInt() == cfg.bloomShards)
    assert(params.get("bloom_expected_items").asLong() == cfg.bloomExpectedItems)
  }

  test("partitioned robots gate ≡ broadcast gate (strategy fork is exact)") {
    import PlanShapes._
    val cfg = CrawlConfig()
    val robots = PagesSynth.robots(spark, sfDir).toDF()
    // every corpus url at its seed priority: the gate blocks some of them
    // and the per-host budgets bind, so the dequeue keeps a residual
    val frontier =
      PagesSynth.seedsFromPages(spark, pagesDf, perReplicaDocs = Int.MaxValue, cfg).toDF()
    val bound = frontier.count()
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    /** (broadcasts the robots side, eligible, dequeued, residual, extracted) */
    def gate(robotsRows: Long) = withConfs(staticPlanning: _*) {
      val dq = CrawlEngine.buildDequeue(spark, pagesDf, robots, frontier, 1, cfg,
        frontierInBound = bound, robotsRows = robotsRows)
      try {
        val plan = inlineCaches(finalPlan(dq.eligible), dq.eligible)
        val broadcastsRobots = nodes(plan).exists {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
            b.output.exists(_.name == "disallow_prefixes")
          case _ => false
        }
        (broadcastsRobots, dq.eligible.count(),
          rowsOf(dq.dequeued), rowsOf(dq.residual), rowsOf(dq.extracted))
      } finally dq.cached.foreach(CrawlEngine.release)
    }
    val (bcast, bEligible, bDequeued, bResidual, bExtracted) = gate(0L)
    val (shuf, sEligible, sDequeued, sResidual, sExtracted) =
      gate(CrawlConfig.robotsBroadcastMax + 1)
    assert(bcast && !shuf, "the two robots gates must be two plans")
    assert(bEligible < bound && bResidual.nonEmpty, "the gate and the budgets must bind")
    assert(sEligible == bEligible)
    assert(sDequeued == bDequeued)
    assert(sResidual == bResidual)
    assert(sExtracted == bExtracted)
  }

  test("seen compaction ≡ no compaction (pure layout; manifests carry the base)") {
    val compacted = engineCrawl(CrawlConfig(rounds = 5, compactSeenEvery = 2))
    val plain = engineCrawl(CrawlConfig(rounds = 5, compactSeenEvery = 0))
    assert(crawledTuples(compacted, 5) == crawledTuples(plain, 5))
    assert(seenSet(compacted, 5) == seenSet(plain, 5))
    assert(frontierSet(compacted, 5) == frontierSet(plain, 5))
    (1 to 5).foreach(r => assert(compacted.countersOf(r) == plain.countersOf(r)))
    // compaction rounds recorded in their manifests; base rows = full history
    assert(compacted.manifest(2).has("seen_base"))
    assert(compacted.manifest(4).has("seen_base"))
    assert(!compacted.manifest(3).has("seen_base"))
    val baseRows = compacted.manifest(4).get("seen_base").get("rows").asLong()
    val deltaRows = (0 to 4).map(r =>
      compacted.manifest(r).get("tables").get("seen").get("rows").asLong()).sum
    assert(baseRows == deltaRows)
    // the probe input after compaction = base + deltas since, nothing older
    assert(seenSet(compacted, 4).size.toLong == baseRows)
  }

  test("kill/resume across a compaction boundary; torn compaction dir is invisible") {
    val cfg = (r: Int) => CrawlConfig(rounds = r, compactSeenEvery = 2)
    val dirA = tmpState()
    engineCrawl(cfg(3), dirA) // "killed" after round 3 (base committed at r2)
    // Simulate a compaction torn mid-write by the kill: a data dir with no
    // manifest entry must be invisible to the resumed run.
    val torn = java.nio.file.Paths.get(dirA, "seen_base", "data", "r00004", "seen_bucket=0")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-00000-torn.parquet"), Array[Byte](1, 2, 3))
    val resumed = engineCrawl(cfg(5), dirA) // resumes at 4; recompacts at r4
    val fresh = engineCrawl(cfg(5))
    assert(crawledTuples(resumed, 5) == crawledTuples(fresh, 5))
    assert(seenSet(resumed, 5) == seenSet(fresh, 5))
    assert(frontierSet(resumed, 5) == frontierSet(fresh, 5))
    (1 to 5).foreach(r => assert(resumed.countersOf(r) == fresh.countersOf(r)))
  }

  test("determinism across shuffle-partition counts (stand-in for cluster sizes)") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val a = engineCrawl(CrawlConfig(rounds = 2))
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      val b = engineCrawl(CrawlConfig(rounds = 2))
      assert(crawledTuples(a, 2) == crawledTuples(b, 2))
      assert(seenSet(a, 2) == seenSet(b, 2))
      assert(frontierSet(a, 2) == frontierSet(b, 2))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("invariants: budgets never exceeded, robots never violated, crawled ∩ frontier = ∅") {
    val cfg = CrawlConfig(rounds = 3)
    val catalog = engineCrawl(cfg)
    val crawled = catalog.readCrawled(3)
    // budget per host from robots-derived delay
    val overBudget = crawled.groupBy("host", "round").count()
      .join(PagesSynth.robots(spark, sfDir).toDF(), Seq("host"))
      .filter(col("count") > greatest(lit(1L), floor(lit(cfg.roundLenMs) / col("crawl_delay_ms"))))
      .count()
    assert(overBudget == 0L)
    // robots: no crawled url may be disallowed for its host
    import graft.spider.expr.SpiderFunctions._
    val violations = crawled.join(PagesSynth.robots(spark, sfDir).toDF(), Seq("host"))
      .filter(!robots_allows(col("url"), col("disallow_prefixes")))
      .count()
    assert(violations == 0L)
    // J7: frontier must contain nothing already crawled
    val overlap = catalog.readFrontier(3)
      .join(crawled.select("url_hash"), Seq("url_hash"), "left_semi").count()
    assert(overlap == 0L)
  }
}
