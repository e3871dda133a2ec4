package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.spider.{CrawlDriver, CrawlEngine, CrawlOracle}
import graft.spider.core.{CrawlConfig, Hash64, HtmlCodec, Templates, UrlCanonical}
import graft.spider.expr.SpiderFunctions._
import graft.spider.sketch.Sketches
import graft.spider.state.CrawlCatalog
import graft.spider.synth.PagesSynth

/** The crawl workload. Each run: set up the inputs (repeated, median
  * reported), crawl from scratch for the measured seconds (at least once),
  * then check every crawl against a `CrawlOracle.run` replay of the same
  * pages and seeds. */
object CrawlBench {

  case class Shape(docs: Int, seedsPerHost: Int, cfg: CrawlConfig)

  /** crawl_deep: the 5,000-page, 20-host corpus with tight budgets (4 s
    * rounds, 3-8 fetches per host), 3 seeds per host, 2 rounds. Round volume
    * is bounded by the budgets and the admission cap (binding every round);
    * the seed draw moves it by a few percent. Every round stages the seen
    * compaction, which rewrites nothing within 2 rounds (no bucket reaches
    * its file threshold). The traced run resumes a finished crawl for
    * `resumeRounds` more rounds, in which the timed re-crawl and snapshot
    * expiration fire too. */
  def deep(small: Boolean): Shape = {
    val cfg = CrawlConfig(rounds = 2, roundLenMs = 4000L, compactSeenEvery = 1,
      expireKeepLast = 3, expireEveryRounds = 2, recrawlEvery = 3, maxNewPerHost = 6)
    Shape(if (small) 500 else 5000, if (small) 2 else 3, cfg)
  }
  val resumeRounds = 2

  /** One crawl of the timed region. */
  case class Rep(dir: String, traced: Boolean, wallS: Double, cpuS: Double, t0: Long,
      commits: Map[Int, Long], filesWritten: Int, bytesWritten: Long)

  def run(ctx: Ctx, shape: Shape, res: Result): Unit = {
    val spark = ctx.spark
    val cfg = shape.cfg
    val inputDir = ctx.path("input")

    // ---- set-up: inputs, corpus synthesis and caching (repeated) ----
    var docs: Seq[CrawlOracle.Doc] = Nil
    var pages: DataFrame = null
    val prepS = (1 to Ctx.SetupReps).map { _ =>
      if (pages != null) pages.unpersist(blocking = true)
      val t0 = System.nanoTime()
      docs = Inputs.documents(shape.docs)
      Inputs.writeDocuments(spark, docs, ctx.seed, inputDir)
      pages = Inputs.cached(PagesSynth.pages(spark, inputDir))
      Stats.secs(t0, System.nanoTime())
    }
    val seedList = Inputs.seedEntries(docs, shape.seedsPerHost, ctx.seed, cfg)
    val seeds = Inputs.seedFrame(spark, seedList)
    val robots = PagesSynth.robots(spark, inputDir)
    val trace = new Trace
    def crawl(c: CrawlConfig, dir: String): CrawlCatalog =
      trace.span(s"CrawlDriver.run rounds=${c.rounds}", "driver") {
        CrawlDriver.run(spark, pages, seeds, robots, c, dir)
      }
    res.put("setup_s", ctx.sessionS + Stats.median(prepS), "s")
    ctx.log(s"setup: session ${ctx.sessionS} prep $prepS")

    // ---- timed region ----
    val heap = new HeapWatch
    val gc0 = HeapWatch.gcSeconds
    val ticks0 = HeapWatch.cpuTicks
    val reps = mutable.ArrayBuffer[Rep]()
    val tRegion = System.nanoTime()
    def more = Stats.secs(tRegion, System.nanoTime()) < ctx.seconds ||
      (ctx.trace && reps.size < 2)
    while (more) {
      val traced = ctx.trace && reps.size % 2 == 1
      val dir = ctx.path(s"state/rep-${reps.size}")
      val w = new Watcher(dir, countFiles = traced)
      if (traced) spark.sparkContext.addSparkListener(trace.listener)
      val cpu0 = HeapWatch.cpuSeconds
      val t0 = System.nanoTime()
      try crawl(cfg, dir)
      finally {
        w.stop()
        if (traced) ctx.detach(trace)
      }
      reps += Rep(dir, traced, Stats.secs(t0, System.nanoTime()), HeapWatch.cpuSeconds - cpu0,
        t0, w.commitTimes, w.filesWritten, w.bytesWritten)
      ctx.log(s"crawl ${reps.size - 1} traced=$traced ${reps.last.wallS} s, commits at " +
        reps.last.commits.toSeq.sorted.map { case (r, t) => f"$r:${Stats.secs(t0, t)}%.2f" }.mkString(" "))
    }
    val gcS = HeapWatch.gcSeconds - gc0
    ctx.stealShare(res, ticks0)
    val peakMiB = heap.stop()
    val runs = reps.toVector

    // ---- resume (traced run): the last crawl, stopped after its final
    // committed round, resumed in the same session ----
    val after = cfg.copy(rounds = cfg.rounds + resumeRounds)
    val resumed = if (ctx.trace) {
      val dir = runs.last.dir
      val w = new Watcher(dir, countFiles = false)
      val t0 = System.nanoTime()
      try crawl(after, dir) finally w.stop()
      Some((dir, Stats.secs(t0, w.commitTimes(cfg.rounds + 1))))
    } else None

    // ---- correctness: every crawl against the oracle replay ----
    val tOracle = System.nanoTime()
    val oracle = CrawlOracle.run(CrawlOracle.synthPages(docs), seedList, cfg)
    val oracleS = Stats.secs(tOracle, System.nanoTime())
    val fetchedPerRep = runs.map(r => verify(ctx, r.dir, cfg, oracle, res))
    resumed.foreach { case (dir, _) =>
      verify(ctx, dir, after, CrawlOracle.run(CrawlOracle.synthPages(docs), seedList, after), res)
    }
    ctx.log(s"verified: oracle $oracleS s, fetched $fetchedPerRep, resumed $resumed")

    val untraced = runs.filterNot(_.traced)
    def commitIntervals(r: Rep): Seq[Double] =
      (1 to cfg.rounds).flatMap(i =>
        for (a <- r.commits.get(i - 1); b <- r.commits.get(i)) yield Stats.secs(a, b))
    res.put("first_commit_s", Stats.median(untraced.map(r => Stats.secs(r.t0, r.commits(1)))), "s")
    if (!ctx.trace) {
      res.put("run_s", Stats.median(untraced.map(_.wallS)), "s")
      res.put("cpu_s", Stats.median(untraced.map(_.cpuS)), "s")
      res.put("urls_per_s", Stats.median(
        runs.zip(fetchedPerRep).map { case (r, f) => f / r.wallS }), "1/s")
    } else {
      val traced = runs.filter(_.traced)
      res.put("round_s_p50", Stats.median(traced.flatMap(commitIntervals)), "s")
      res.put("peak_heap_mib", peakMiB, "MiB")
      val last = traced.last
      val fetched = fetchedPerRep(runs.indexOf(last)).toDouble
      res.put("oracle.urls_per_s", fetched / oracleS, "1/s")
      res.put("spark.gc_s", gcS, "s")
      tracedLayers(ctx, trace, traced, untraced, cfg, res)
      res.put("catalog.resume_s", resumed.get._2, "s")
      res.put("catalog.files_written", Stats.median(traced.map(_.filesWritten.toDouble)), "count")
      res.put("catalog.mib_written", Stats.median(traced.map(_.bytesWritten / 1048576.0)), "MiB")
      val live = Watcher.dataFiles(Paths.get(last.dir))
      val cat = new CrawlCatalog(last.dir, spark)
      val seenN = cat.readSeen(after.rounds).count()
      res.put("catalog.files_live", live.size.toDouble, "count")
      res.put("catalog.bytes_per_url", live.map(_._2).sum.toDouble / seenN, "B")
      val c = (1 to after.rounds).map(cat.countersOf)
      res.put("engine.fetch_hit_ratio", c.map(_.fetched).sum.toDouble / c.map(_.dequeued).sum, "ratio")
      res.put("engine.new_link_ratio", c.map(_.enqueued).sum.toDouble / c.map(_.links_extracted).sum, "ratio")
      res.put("catalog.resume_read_s", resumeReads(ctx, last.dir, after.rounds), "s")
      sketchHealth(ctx, cat, after, res)
      roundReplay(ctx, pages, robots, cat, after, res)
      kernels(ctx, pages, res)
    }
  }

  /** Expected engine rows per round: (round, host, rank, url, url_hash,
    * fetch_ts µs, text digest, lang, n_links), sorted. `corrupt` flips one
    * digest so the gate can be shown to trip. */
  type Row = (Int, String, Int, String, Long, Long, Long, String, Int)
  private def expectedRows(o: CrawlOracle.Result, corrupt: Boolean): Map[Int, Seq[Row]] = {
    val rows = o.crawled.map(c => (c.round, c.host, c.rankInHost, c.url, c.urlHash,
      c.fetchTsMicros, Hash64.string(c.text), c.lang, c.nLinks))
    val out = if (corrupt && rows.nonEmpty) rows.updated(0, rows(0).copy(_7 = rows(0)._7 + 1)) else rows
    out.groupBy(_._1).map { case (r, rs) => r -> rs.sortBy(t => (t._2, t._3)) }
  }

  /** Check one crawl's catalog: per-round counters and crawl rows (order,
    * fetch time and text digest), then the final seen set. Returns the URLs
    * fetched. */
  private def verify(ctx: Ctx, dir: String, cfg: CrawlConfig, o: CrawlOracle.Result,
      res: Result): Long = {
    val expected = expectedRows(o, ctx.corruptDigest)
    val cat = new CrawlCatalog(dir, ctx.spark)
    val rows = cat.readCrawled(cfg.rounds)
      .select(col("round"), col("host"), col("rank_in_host"), col("url"), col("url_hash"),
        unix_micros(col("fetch_ts")), xxhash64(col("text")), col("lang"), col("n_links"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getString(7), r.getInt(8)))
      .groupBy(_._1)
    var fetched = 0L
    (1 to cfg.rounds).foreach { r =>
      val c = cat.countersOf(r)
      fetched += c.fetched
      res.check(c == o.counters(r - 1), s"$dir round $r counters $c != ${o.counters(r - 1)}")
      val got = rows.getOrElse(r, Array.empty[Row]).toSeq.sortBy(t => (t._2, t._3))
      res.check(got == expected.getOrElse(r, Nil),
        s"$dir round $r crawl rows differ (${got.size} vs ${expected.getOrElse(r, Nil).size})")
    }
    val seen = cat.readSeen(cfg.rounds).select("url_hash").collect().map(_.getLong(0)).toSet
    res.check(seen == o.seen, s"$dir seen set differs (${seen.size} vs ${o.seen.size})")
    fetched
  }

  /** Layer split of the traced crawls, from the listener's stages and jobs. */
  private def tracedLayers(ctx: Ctx, trace: Trace, traced: Seq[Rep], untraced: Seq[Rep],
      cfg: CrawlConfig, res: Result): Unit = {
    val st = trace.allStages
    def sum(layers: Set[String])(f: trace.StageAgg => Double) =
      st.filter(a => layers(a.layer)).map(f).sum / traced.size
    val eng = Set("engine")
    res.put("engine.task_s", sum(eng)(_.runS), "s")
    res.put("engine.task_cpu_s", sum(eng)(_.cpuS), "s")
    res.put("engine.shuffle_read_mib", sum(eng)(_.shuffleRead / 1048576.0), "MiB")
    res.put("engine.shuffle_write_mib", sum(eng)(_.shuffleWrite / 1048576.0), "MiB")
    res.put("engine.spill_mib", sum(eng)(_.spill / 1048576.0), "MiB")
    res.put("engine.task_skew", (1.0 +: st.filter(_.layer == "engine").map(_.skew)).max, "ratio")
    val allTask = st.map(_.runS).sum
    res.put("engine.unattributed_task_share",
      if (allTask > 0) st.filter(_.layer == "unattributed").map(_.runS).sum / allTask else 0.0, "ratio")
    val rounds = cfg.rounds.toDouble * traced.size
    res.put("engine.jobs_per_round", trace.jobSpans.size / rounds, "count")
    res.put("engine.stages_per_round", st.count(_.tasks > 0) / rounds, "count")
    res.put("engine.task_deser_s", st.map(_.deserS).sum / traced.size, "s")
    res.put("catalog.task_s", sum(Set("catalog", "catalog.compaction"))(_.runS), "s")
    res.put("catalog.compaction_task_s", sum(Set("catalog.compaction"))(_.runS), "s")

    val splits = traced.map(r => Trace.selfTimes(trace.jobSpans, r.t0, r.t0 + (r.wallS * 1e9).toLong))
    trace.write(ctx.path("spans.jsonl"))
    ctx.layerSplit(res, splits, traced.map(_.wallS), untraced.map(_.wallS))
    res.put("engine.driver_gap_s", Stats.median(splits.map(_._2)), "s")
  }

  /** What a resume reads before its first round: the manifest, sketch
    * parameters, the Bloom, the seen row count, frontier and host state. */
  private def resumeReads(ctx: Ctx, dir: String, round: Int): Double = {
    val t0 = System.nanoTime()
    val cat = new CrawlCatalog(dir, ctx.spark)
    val r = cat.latestRound.get
    cat.sketchParams(r)
    cat.readBloom(r)
    cat.seenRowsThrough(r)
    cat.readFrontier(r).count()
    cat.readHostState(r).count()
    require(r == round, s"latest round $r != $round")
    Stats.secs(t0, System.nanoTime())
  }

  /** Observed false-positive rate of the final seen Bloom on a seeded set of
    * hashes known to be absent from the seen set. */
  private def sketchHealth(ctx: Ctx, cat: CrawlCatalog, cfg: CrawlConfig, res: Result): Unit = {
    val r = cfg.rounds
    val blob = cat.readBloom(r).getOrElse(sys.error("crawl committed no Bloom"))
    val shards = Sketches.shardedFrom(blob).map(Sketches.bloomFrom)
    val seen = cat.readSeen(r).select("url_hash").collect().map(_.getLong(0)).toSet
    val rnd = new scala.util.Random(ctx.seed ^ 0xb100L)
    val probes = Iterator.continually(rnd.nextLong()).filterNot(seen).take(200000).toArray
    val hits = probes.count(h => shards(Sketches.shardOf(h, shards.length)).mightContainLong(h))
    res.put("sketch.bloom_fpp_observed", hits.toDouble / probes.length, "ratio")
    res.put("sketch.bloom_fpp_configured", cfg.bloomFpp, "ratio")
    res.put("sketch.bloom_mib", blob.length / 1048576.0, "MiB")
  }

  /** One more round's stages on the final committed state, each acted on
    * alone: the dequeue frames from `CrawlEngine.buildDequeue`, then
    * discovery through the public expressions and sketches. */
  private def roundReplay(ctx: Ctx, pages: DataFrame, robots: org.apache.spark.sql.Dataset[_],
      cat: CrawlCatalog, cfg: CrawlConfig, res: Result): Unit = {
    val spark = ctx.spark
    val r = cfg.rounds
    val robotsDf = robots.toDF().persist()
    val robotsRows = robotsDf.count()
    val bound = cat.manifest(r).get("tables").get("frontier").get("rows").asLong()
    def timed(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; res.put(name, Stats.secs(t0, System.nanoTime()), "s")
    }
    val f = CrawlEngine.buildDequeue(spark, pages, robotsDf, cat.readFrontier(r), r + 1, cfg,
      bound, robotsRows)
    timed("round.gate_s")(f.eligible.count())
    timed("round.rank_s") { f.hb.count(); f.ranked.count() }
    timed("round.fetch_extract_s")(f.extracted.count())
    val cands = f.extracted.select(explode(col("outlinks")).as("raw"))
      .select(url_canonicalize(col("raw")).as("url"))
      .select(col("url"), xxhash64(col("url")).as("url_hash"), url_host(col("url")).as("host"))
      .filter(col("host").isNotNull).distinct().persist()
    timed("round.discover_s")(cands.count())
    val bloom = spark.sparkContext.broadcast(Sketches.shardedFrom(cat.readBloom(r).get))
    timed("round.bloom_probe_s")(cands.filter(bloom_sharded_might_contain(bloom, col("url_hash"))).count())
    val fresh = cands.join(cat.readSeen(r).select("url_hash"), Seq("url_hash"), "left_anti").persist()
    timed("round.seen_join_s")(fresh.count())
    val perShard = math.max(1024L, cfg.bloomExpectedItems / cfg.bloomShards)
    timed("round.sketch_build_s")(fresh.agg(
      Sketches.shardedBloomAgg(col("url_hash"), cfg.bloomShards, perShard, cfg.bloomFpp)).head())
    Seq(fresh, cands, f.extracted, f.ranked, f.hb, f.eligible, robotsDf).foreach(_.unpersist())
    bloom.destroy()
  }

  /** Pure-Scala `spider.core` kernels against their Catalyst expressions on
    * the same sampled pages and links, both on the session's cores. */
  private def kernels(ctx: Ctx, pages: DataFrame, res: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val sample = pages.select(col("html"), url_host(col("url")).as("host")).limit(6000)
      .as[(Array[Byte], String)].collect()
    val mib = sample.map(_._1.length.toLong).sum / 1048576.0
    val links = sample.flatMap(p => HtmlCodec.extractOutlinks(p._1)).toSeq
    val linkRows = Iterator.fill(40)(links).flatten.toVector
    val threads = spark.sparkContext.defaultParallelism

    def parallel[A](xs: IndexedSeq[A])(f: A => Long): Unit = {
      val slices = xs.grouped(math.max(1, (xs.size + threads - 1) / threads)).toSeq
      val ts = slices.map { s =>
        val t = new Thread(() => { var acc = 0L; s.foreach(x => acc += f(x)); HeapWatch.sink(acc) })
        t.start(); t
      }
      ts.foreach(_.join())
    }
    /** Seconds per pass: passes repeated until at least `minS` seconds. */
    def perPass(minS: Double)(pass: => Unit): Double = {
      pass // warm
      var n = 0; val t0 = System.nanoTime()
      while (n == 0 || Stats.secs(t0, System.nanoTime()) < minS) { pass; n += 1 }
      Stats.secs(t0, System.nanoTime()) / n
    }
    val coreExtract = perPass(0.5)(parallel(sample.toIndexedSeq) { case (h, host) =>
      Templates.extractTextFor(host, h).length + HtmlCodec.extractOutlinks(h).size
    })
    val pagesDf = Inputs.cached(sample.toSeq.toDF("html", "host"))
    val exprExtract = perPass(0.5)(pagesDf.select(extract_page(col("html"), col("host")))
      .write.format("noop").mode("overwrite").save())
    val coreCanon = perPass(0.5)(parallel(linkRows) { u =>
      Hash64.string(UrlCanonical.canonicalize(u))
    })
    val linksDf = Inputs.cached(linkRows.toDF("u"))
    val exprCanon = perPass(0.5)(linksDf.select(xxhash64(url_canonicalize(col("u"))))
      .write.format("noop").mode("overwrite").save())
    pagesDf.unpersist(); linksDf.unpersist()
    res.put("core.extract_mib_s", mib / coreExtract, "MiB/s")
    res.put("expr.extract_mib_s", mib / exprExtract, "MiB/s")
    res.put("core.canon_kurl_s", linkRows.size / 1e3 / coreCanon, "kURL/s")
    res.put("expr.canon_kurl_s", linkRows.size / 1e3 / exprCanon, "kURL/s")
    res.put("expr.extract_overhead", exprExtract / coreExtract, "ratio")
    res.put("expr.canon_overhead", exprCanon / coreCanon, "ratio")
  }
}
