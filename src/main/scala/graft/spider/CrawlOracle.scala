package graft.spider

import scala.collection.mutable
import graft.spider.core._

/** Single-threaded, row-at-a-time crawl oracle (SURVEY.md §0, §3.3).
  *
  * Operational definition of the reference semantics — a faithful model of
  * EC-Spider's sequential fetch-parse-extract worker loop: a per-host
  * priority queue (priority desc, warc_ts, url_hash, url), a `HashSet[Long]`
  * URL-seen set, per-host politeness budgets and robots gating. Written with
  * NO Spark on purpose; the distributed engine must replay it exactly
  * (same crawl order under the canonical tiebreak, same seen set, same
  * extracted bytes). Shares the pure-Scala core (UrlCanonical, HtmlCodec,
  * Corpus) with the engine so the semantics exist in exactly one place.
  */
object CrawlOracle {

  case class Doc(docId: Long, text: String, lang: String, source: String)

  case class OraclePage(url: String, warcTsMicros: Long, html: Array[Byte], text: String, lang: String)

  case class Entry(url: String, urlHash: Long, host: String, priority: Int,
      discoveredRound: Int, warcTsMicros: Long)

  case class Crawled(url: String, urlHash: Long, host: String, round: Int,
      rankInHost: Int, fetchTsMicros: Long, text: String, lang: String, nLinks: Int)

  case class Result(
      crawled: Vector[Crawled],
      seen: Set[Long],
      frontierEnd: Vector[Entry],
      hostFetched: Map[String, Long],
      counters: Vector[RoundCounters])

  /** Build the synthetic corpus exactly as the Spark synthesizer does
    * (FIXTURES.md §1) — pure functions of the documents rows. */
  def synthPages(docs: Seq[Doc]): Vector[OraclePage] = {
    val sorted = docs.sortBy(_.docId)
    val byIdx: Int => Doc = sorted.apply
    val n = sorted.length.toLong
    sorted.iterator.map { d =>
      val url = Corpus.urlOf(d.source, d.docId)
      val m = Corpus.nLinks(url)
      val outlinks = (1 to m).map { j =>
        val tgt = byIdx(Corpus.linkTargetDoc(url, j, n).toInt)
        Corpus.urlOf(tgt.source, tgt.docId)
      }
      OraclePage(url, Corpus.warcTsMicros(d.docId),
        Templates.wrapFor(UrlCanonical.host(url), d.docId, d.text, outlinks),
        d.text, d.lang)
    }.toVector
  }

  def seeds(docs: Seq[Doc], cfg: CrawlConfig): Vector[Entry] =
    docs.sortBy(_.docId).take(cfg.nSeeds).map { d =>
      val url = UrlCanonical.canonicalize(Corpus.urlOf(d.source, d.docId))
      Entry(url, Hash64.string(url), UrlCanonical.host(url), cfg.seedPriority, 0,
        Corpus.warcTsMicros(d.docId))
    }.toVector

  /** Sequential reference of the hostRank priority signal: PageRank over the
    * host edge SET (self-edges dropped, same fixed-iteration power method and
    * FP association as [[graft.datapipe.LinkRank.rankStep]]), tiered by
    *
    *   boost = min(9, floor(log2(max(1, floor(rank · n · 4)))))
    *
    * via integer bit length — the same quantize-then-log2 the engine runs in
    * SQL (`length(bin(...)) - 1`). Engine and oracle agree unless a host's
    * rank·n·4 lands within summation-order ulps (~1e-15 relative) of one of
    * the ten power-of-two tier boundaries — see the precise statement on
    * [[graft.datapipe.LinkRank.rankTier]]. Only boosts ≥ 1 are kept (0 is
    * the default). */
  private[spider] def hostRankBoost(
      edges: Set[(String, String)], iters: Int,
      damping: Double = 0.85): Map[String, Int] = {
    val e = edges.filter { case (s, d) => s != d }.toVector.sorted
    if (e.isEmpty) return Map.empty
    val verts = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = verts.size
    val idx = verts.zipWithIndex.toMap
    val outDeg = new Array[Long](n)
    e.foreach { case (s, _) => outDeg(idx(s)) += 1 }
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      var mass = 0.0
      for (i <- 0 until n) if (outDeg(i) == 0L) mass += rank(i)
      val inSum = new Array[Double](n)
      e.foreach { case (s, d) => inSum(idx(d)) += rank(idx(s)) / outDeg(idx(s)) }
      rank = Array.tabulate(n)(i =>
        ((1.0 - damping) / n) + damping * mass / n + damping * inSum(i))
    }
    verts.indices.iterator.map(i => verts(i) -> rankTierScalar(rank(i), n))
      .filter(_._2 >= 1).toMap
  }

  /** Scalar twin of [[graft.datapipe.LinkRank.rankTier]] (a grid spec pins
    * the two to identical integers). */
  private[spider] def rankTierScalar(rank: Double, n: Long): Int =
    math.min(9, 63 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, math.floor(rank * n * 4.0).toLong)))

  /** The sequential fetch-parse-extract loop. */
  def run(pages: Seq[OraclePage], seedList: Seq[Entry], cfg: CrawlConfig): Result = {
    val pageByUrl: Map[String, OraclePage] = pages.map(p => p.url -> p).toMap
    val seen = mutable.HashSet[Long](seedList.map(_.urlHash): _*)
    var frontier: Vector[Entry] = seedList.toVector
    val crawled = Vector.newBuilder[Crawled]
    val hostFetched = mutable.HashMap[String, Long]().withDefaultValue(0L)
    val counters = Vector.newBuilder[RoundCounters]
    // timed re-crawl (cfg.recrawlEvery): per-round log of fetched entries,
    // re-admitted recrawlEvery-1 rounds later (so the re-fetch lands exactly
    // recrawlEvery rounds after the fetch, budget permitting)
    val fetchedAtRound = mutable.HashMap[Int, Vector[Crawled]]()
    // hostRank priority signal (cfg.hostRankFromRound = K): host-level edge
    // SET accumulated over rounds 1..K (canonical/host semantics of the
    // discovery path, NOT seen-filtered — endorsement, not admission);
    // ranked once after round K, boosting discoveries from round K+2 on
    // (the engine's commit-pipeline-depth stance).
    val hostEdges = mutable.HashSet[(String, String)]()
    var hostBoost: Map[String, Int] = Map.empty

    for (r <- 1 to cfg.rounds) {
      val frontierIn = frontier.size.toLong
      var blocked = 0L; var dequeuedN = 0L; var fetchedN = 0L; var missingN = 0L
      var linksN = 0L
      // all distinct canonical candidates this round (counter basis)
      val roundCandUrls = mutable.HashSet[String]()
      // unseen candidate url -> (hash, host, min parent warc_ts)
      val candidates = mutable.LinkedHashMap[String, (Long, String, Long)]()
      val residuals = Vector.newBuilder[Entry]
      val roundFetched = Vector.newBuilder[Crawled]

      frontier.groupBy(_.host).foreach { case (host, entries) =>
        val disallow = Corpus.robotsDisallow(host)
        val allowed = entries.filter(e => Corpus.robotsAllows(e.url, disallow))
        blocked += entries.size - allowed.size
        val delay = Corpus.crawlDelayMs(host)
        val b = Corpus.budget(cfg.roundLenMs, delay)
        val sorted = allowed.sortBy(e => (-e.priority, e.warcTsMicros, e.urlHash, e.url))
        val (dq, rest) = sorted.splitAt(b)
        residuals ++= rest
        dequeuedN += dq.size
        dq.zipWithIndex.foreach { case (e, idx) =>
          pageByUrl.get(e.url) match {
            case None => missingN += 1
            case Some(p) =>
              val links = HtmlCodec.extractOutlinks(p.html)
              linksN += links.size
              fetchedN += 1
              hostFetched(host) = hostFetched(host) + 1
              val row = Crawled(e.url, e.urlHash, host, r, idx + 1,
                Corpus.fetchTsMicros(r, idx + 1, delay, cfg.roundLenMs),
                Templates.extractTextFor(host, p.html), p.lang, links.size)
              crawled += row
              roundFetched += row
              links.foreach { raw =>
                val cu = UrlCanonical.canonicalize(raw)
                val h = Hash64.string(cu)
                val lhost = UrlCanonical.host(cu)
                if (lhost != null && cfg.hostRankFromRound > 0 &&
                    r <= cfg.hostRankFromRound)
                  hostEdges += ((host, lhost))
                if (lhost != null) {
                  roundCandUrls += cu
                  if (!seen.contains(h)) candidates.get(cu) match {
                    case Some((hh, hst, ts)) =>
                      candidates(cu) = (hh, hst, math.min(ts, p.warcTsMicros))
                    case None => candidates(cu) = (h, lhost, p.warcTsMicros)
                  }
                }
              }
          }
        }
      }
      val candN = roundCandUrls.size.toLong
      val boostOn = cfg.hostRankFromRound > 0 && r >= cfg.hostRankFromRound + 2
      val freshAll = candidates.iterator.map { case (url, (h, host, ts)) =>
        val b = if (boostOn) hostBoost.getOrElse(host, 0) else 0
        Entry(url, h, host, Corpus.priorityAtRound(r) + b, r, ts)
      }.toVector
      // crawl-trap guard (cfg.maxNewPerHost): top-K per host under the
      // frontier total order; dropped candidates are NOT marked seen, so a
      // later round can re-discover and admit them (the engine's stance)
      val fresh =
        if (cfg.maxNewPerHost > 0)
          freshAll.groupBy(_.host).valuesIterator.flatMap(es =>
            es.sortBy(e => (-e.priority, e.warcTsMicros, e.urlHash, e.url))
              .take(cfg.maxNewPerHost)).toVector
        else freshAll
      fresh.foreach(e => seen += e.urlHash)
      if (cfg.recrawlEvery > 0) fetchedAtRound(r) = roundFetched.result()
      // timed re-crawl: re-admit urls fetched in round r+1-recrawlEvery —
      // straight past the seen gate (they are, by definition, seen); the
      // entry's ordering tuple is deterministic (recrawlPriority, the
      // source row's fetch_ts as warc_ts, url_hash, url), discovered this
      // round. The engine replays this from the committed crawl log.
      val recrawl: Vector[Entry] =
        if (cfg.recrawlEvery > 0)
          fetchedAtRound.getOrElse(r + 1 - cfg.recrawlEvery, Vector.empty).map(c =>
            Entry(c.url, c.urlHash, c.host, CrawlConfig.recrawlPriority, r, c.fetchTsMicros))
        else Vector.empty
      frontier = residuals.result() ++ fresh ++ recrawl
      counters += RoundCounters(r, frontierIn, blocked, dequeuedN, fetchedN,
        missingN, linksN, candN, candN - fresh.size.toLong, fresh.size.toLong,
        frontier.size.toLong)
      if (cfg.hostRankFromRound > 0 && r == cfg.hostRankFromRound)
        hostBoost = hostRankBoost(hostEdges.toSet, CrawlConfig.hostRankIters)
    }

    Result(
      crawled.result().sortBy(c => (c.round, c.host, c.rankInHost)),
      seen.toSet,
      frontier.sortBy(e => (e.host, -e.priority, e.warcTsMicros, e.urlHash, e.url)),
      hostFetched.toMap,
      counters.result())
  }
}
