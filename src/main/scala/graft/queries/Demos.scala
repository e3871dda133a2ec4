package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.datapipe.{Dedup, LinkRank, Multimodal, Similarity, TextStats}
import graft.datapipe.PipeFunctions._
import graft.spider.{CrawlDriver, CrawlEngine}
import graft.spider.core.{Corpus, CrawlConfig, Hash64, HtmlCodec, UrlCanonical}
import graft.spider.expr.SpiderFunctions._
import graft.spider.sketch.Sketches
import graft.spider.synth.PagesSynth

/** The operator inventory as runnable demo queries (SURVEY.md §2 "Key"
  * column + the training-data pipeline operators): one entry per operator
  * for SparkEntry.queries, with DuckDB oracle SQL where the semantics are
  * ANSI-SQL-expressible over the driver tables (FIXTURES.md §4). Demos are
  * deterministically ordered and cast so Spark and DuckDB schemas agree
  * (ranks/counts/lengths → BIGINT on both sides).
  */
object Demos {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** pages cache keyed by (session id, sfDir): the synth corpus is reused by
    * many demo queries within one Verify/Bench process. Keying on the session
    * id (not just sfDir) keeps a stopped-and-recreated session from handing
    * out DataFrames bound to a dead SparkContext. */
  private val pagesCache = scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()
  private def pages(s: SparkSession, dir: String): DataFrame =
    pagesCache.getOrElseUpdate((s, dir), PagesSynth.cached(PagesSynth.pages(s, dir)))

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One CorpusStore layout per (session, sfDir): written once, reopened by
    * the corpus_bucketed demo (the write is the expensive half). */
  private val corpusStoreCache = scala.collection.concurrent.TrieMap[(SparkSession, String), String]()
  private def bucketedPages(s: SparkSession, dir: String): DataFrame = {
    val d = corpusStoreCache.getOrElseUpdate((s, dir), {
      val path = tmpDir("graft-q-corpus-")
      graft.spider.synth.CorpusStore.write(s, pages(s, dir), path, buckets = 4)
      path
    })
    graft.spider.synth.CorpusStore.open(s, d)
  }

  /** ONE crawl catalog per (session, sfDir, FULL config) — the same key
    * as [[oracleCrawlRes]]. The crawl-state demos (crawl_round1 /
    * crawl_multiround / round_counters / checkpoint_roundtrip) share the
    * 3-round `sharedCfg` catalog: rounds are pure functions of (committed
    * state, round), so round-k results are identical whether the catalog
    * ran k or 3 rounds — and the bench stops charging a fresh crawl to
    * each demo (round-1 bench-attribution fix). */
  private val sharedCfg = CrawlConfig(rounds = 3)
  private val crawlCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String, CrawlConfig), graft.spider.state.CrawlCatalog]()
  private def crawl(s: SparkSession, dir: String,
      cfg: CrawlConfig): graft.spider.state.CrawlCatalog =
    crawlCache.getOrElseUpdate((s, dir, cfg),
      CrawlDriver.run(s, pages(s, dir), PagesSynth.seeds(s, dir, cfg),
        PagesSynth.robots(s, dir), cfg, tmpDir("graft-q-crawl-")))

  /** Build the session-shared fixtures (pages cache + crawl catalog) outside
    * any timed region — bench attribution honesty. */
  def prewarm(s: SparkSession, dir: String): Unit = {
    pages(s, dir)
    Seq(sharedCfg, recrawlCfg, hostrankCfg, hostcapCfg).foreach(crawl(s, dir, _))
    ensureRobotsFixture(s, dir)
    ensureCrawlFixtures(s, dir)
    ensureFixture("oraclerecrawl", dir)(p => writeCrawlLogFixture(s, dir, recrawlCfg, p))
    ensureFixture("oraclehostrank", dir)(p => writeCrawlLogFixture(s, dir, hostrankCfg, p))
    ensureFixture("oraclehostcap", dir)(p => writeCrawlLogFixture(s, dir, hostcapCfg, p))
    ensureMediaFixtures(s, dir)
    bucketedPages(s, dir) // the one-time CorpusStore write is fixture setup,
    ()                    // not what the corpus_bucketed demo measures
  }

  /** Fixture parquet dir for oracles over data DuckDB cannot derive itself:
    * hash-derived tables (robots rules) and single-threaded oracle replays
    * (the CrawlOracle crawl log / counters, shared-kernel expected columns —
    * the extract_text "one implementation, two executions" trust model,
    * surfaced through the driver's independent DuckDB compare). Written by
    * the consuming query (and by prewarm, outside any timed region), read
    * back by the oracle SQL via `read_parquet`. Keyed by the sf basename so
    * a bench run at another sf cannot clobber the verify run's fixture; the
    * static oracle SQL references the driver's verify sf (0.01). */
  private def fixturePath(name: String, dir: String): String =
    s"/tmp/graft-verify-fixtures/$name-${new java.io.File(dir).getName}"

  /** Write-once-per-JVM: fixture content is a pure function of sfDir, so
    * later callers (e.g. inside Bench's timed region) skip the coalesce(1)
    * write instead of re-paying — and re-overwriting mid-read — it.
    *
    * Gated on the VERIFY sf: the static oracle SQL only ever reads the
    * `-sf0.01` fixture paths, so at any other sf the write — and the
    * single-threaded oracle replay plus the driver-side documents collect
    * feeding it — would produce files nothing reads. A bench run at sf0.1+
    * skips all of it (the engine-side work the queries RETURN is
    * unaffected; fixtures are a verify side-channel only). Override the
    * tag with -Dgraft.verify.fixtureSf if a future driver verifies at a
    * different sf. */
  private val fixtureSfTag = sys.props.getOrElse("graft.verify.fixtureSf", "sf0.01")
  private val writtenFixtures = scala.collection.concurrent.TrieMap[String, Unit]()
  private def ensureFixture(name: String, dir: String)(write: String => Unit): Unit =
    if (new java.io.File(dir).getName == fixtureSfTag)
      writtenFixtures.getOrElseUpdate(fixturePath(name, dir),
        write(fixturePath(name, dir)))

  /** Robots rules recomputed in PLAIN SCALA from the shared Corpus core —
    * independent of the Spark synth path the engine queries use, so the
    * scan_robots / robots_filter DuckDB rows check the distributed synth
    * against the single-threaded core. */
  private def ensureRobotsFixture(s: SparkSession, dir: String): Unit =
    ensureFixture("robots", dir) { p =>
      import s.implicits._
      oracleDocs(s, dir).map(_.source).distinct.sorted
        .map(src => s"$src.example.com")
        .map(h => (h, Corpus.robotsDisallow(h), Corpus.crawlDelayMs(h)))
        .toDF("host", "disallow_prefixes", "crawl_delay_ms")
        .coalesce(1).write.mode("overwrite").parquet(p)
    }

  /** Outlink edges recomputed by the single-threaded CrawlOracle synth —
    * shared by the extract_outlinks expected-fixture and the link_rank
    * power-iteration oracle (both read the same parquet). */
  private def ensureOutlinksFixture(s: SparkSession, dir: String): Unit =
    ensureFixture("oracleoutlinks", dir) { p =>
      import s.implicits._
      graft.spider.CrawlOracle.synthPages(oracleDocs(s, dir))
        .flatMap(pg => HtmlCodec.extractOutlinks(pg.html).map(o => (pg.url, o)))
        .toDF("url", "outlink")
        .coalesce(1).write.mode("overwrite").parquet(p)
    }

  /** Sequential multimodal replay (r5): the same synth/decode/frame-sample
    * kernels ([[Multimodal.synthMediaRow]]/[[Multimodal.featuresOf]]/
    * [[Multimodal.framesOf]]) run single-threaded over the collected
    * documents — the CrawlOracle execution model — and the results are
    * materialized as expected fixtures, so the driver's DuckDB compare
    * checks the distributed mapPartitions execution against a sequential
    * one (the extract_text "one implementation, two executions" channel). */
  private def ensureMediaFixtures(s: SparkSession, dir: String): Unit =
    ensureFixture("oraclemedia", dir) { p =>
      import s.implicits._
      val rows = oracleDocs(s, dir).sortBy(_.docId)
        .map(d => Multimodal.synthMediaRow(d.docId, Multimodal.truncate512(d.text)))
      val feats = rows.map(r => Multimodal.featuresOf(r, 16))
      feats.map(f => (f.media_id, f.codec, f.decoded_w, f.decoded_h, f.n_samples))
        .toDF("media_id", "codec", "decoded_w", "decoded_h", "n_samples")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/decode")
      feats.map(f => (f.media_id, f.kind, f.n_bytes.toLong, f.feature.length.toLong))
        .toDF("media_id", "kind", "n_bytes", "feature_dim")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/features")
      rows.flatMap(r => Multimodal.framesOf(r.media_id, r.bytes, 4))
        .toDF()
        .coalesce(1).write.mode("overwrite").parquet(s"$p/frames")
    }

  /** documents rows collected once per (session, sf) — the single-threaded
    * oracle replays (CrawlOracle, shared kernels) run over these. */
  private val oracleDocsCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Seq[graft.spider.CrawlOracle.Doc]]()
  private def oracleDocs(s: SparkSession, dir: String): Seq[graft.spider.CrawlOracle.Doc] =
    oracleDocsCache.getOrElseUpdate((s, dir),
      t(s, dir, "documents").select("doc_id", "text", "lang", "source").collect()
        .map(r => graft.spider.CrawlOracle.Doc(
          r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq)

  /** CrawlOracle runs cached per (session, sf, FULL config) — the whole
    * case class is the key so a config differing in any policy knob can
    * never be served another config's crawl log. */
  private val oracleCrawlCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String, CrawlConfig), graft.spider.CrawlOracle.Result]()
  private def oracleCrawlRes(s: SparkSession, dir: String,
      cfg: CrawlConfig): graft.spider.CrawlOracle.Result =
    oracleCrawlCache.getOrElseUpdate((s, dir, cfg), {
      val docs = oracleDocs(s, dir)
      graft.spider.CrawlOracle.run(
        graft.spider.CrawlOracle.synthPages(docs),
        graft.spider.CrawlOracle.seeds(docs, cfg), cfg)
    })

  /** Oracle crawl log → fixture parquet (engine crawled-table schema). */
  private def writeCrawlLogFixture(s: SparkSession, dir: String,
      cfg: CrawlConfig, path: String): Unit = {
    import s.implicits._
    oracleCrawlRes(s, dir, cfg).crawled
      .map(c => (c.url, c.urlHash, c.host, c.round, c.rankInHost,
        c.fetchTsMicros, c.text, c.lang, c.nLinks))
      .toDF("url", "url_hash", "host", "round", "rank_in_host",
        "fetch_us", "text", "lang", "n_links")
      .withColumn("fetch_ts", timestamp_micros(col("fetch_us"))).drop("fetch_us")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Oracle counters (incl. the round-0 seed commit row the engine writes)
    * → fixture parquet. */
  private def writeCountersFixture(s: SparkSession, dir: String,
      cfg: CrawlConfig, path: String): Unit = {
    import s.implicits._
    val res = oracleCrawlRes(s, dir, cfg)
    val nSeeds = graft.spider.CrawlOracle.seeds(oracleDocs(s, dir), cfg).size.toLong
    val seedRow = graft.spider.core.RoundCounters(
      0, 0, 0, 0, 0, 0, 0, nSeeds, 0, nSeeds, nSeeds)
    (seedRow +: res.counters).toDF()
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The flagship crawl keys' fixtures (VERDICT r4 task #2): the oracle's
    * crawl log + counters at `sharedCfg`. */
  private def ensureCrawlFixtures(s: SparkSession, dir: String): Unit = {
    ensureFixture("oraclecrawl", dir)(p =>
      writeCrawlLogFixture(s, dir, sharedCfg, p))
    ensureFixture("oraclecounters", dir)(p =>
      writeCountersFixture(s, dir, sharedCfg, p))
  }

  /** The timed-recrawl config — the versioned crawl log the
    * recrawl_requeue demo reads (5 rounds, recrawlEvery 3:
    * round-1 fetches are re-admitted at the end of round 3 and re-fetched
    * from round 4 on, so the log carries real (url, round) versions). */
  private val recrawlCfg = CrawlConfig(rounds = 5, recrawlEvery = 3)

  /** The hostRank-priority config: 5 rounds,
    * rank over the committed rounds-1..2 host graph boosting discoveries
    * from round 4 on — the crawl_hostrank demo compares its full versioned
    * crawl log against the CrawlOracle replay under the same policy. */
  private val hostrankCfg = CrawlConfig(rounds = 5, hostRankFromRound = 2)

  /** The crawl-trap-guard config: 4 rounds with
    * per-host admission capped at 3 new urls/round — the cap binds hard on
    * this corpus (every host discovers far more than 3 links per round), so
    * the crawl_hostcap demo exercises the capped frontier end to end against
    * the CrawlOracle replay under the same policy. */
  private val hostcapCfg = CrawlConfig(rounds = 4, maxNewPerHost = 3)

  /** Near-dup clusters over the documents table via distributed connected
    * components, with two cross-cutting star-edge blocking families — text
    * prefix (the near-dup relation this corpus actually carries) and exact
    * length (an independent key standing in for a second signal, e.g. a
    * simhash band) — so components merge TRANSITIVELY across families
    * (multi-hop chains, max component 8 at sf0.01). SQL-reproducible keys
    * on purpose: the DuckDB oracle recomputes the same components with a
    * recursive-CTE reachability closure. (Production entry point is
    * Dedup.dedupClusters over minhashPairs/simhashPairs output.) */
  private def docClusters(d0: DataFrame): DataFrame = {
    val d = d0.select(col("doc_id"), col("text"), col("n_chars"))
    // r6: min-per-key attached via a window — one exchange per family
    // instead of the groupBy + join-back (same rows out)
    def starEdges(key: Column): DataFrame = {
      val w = Window.partitionBy("k")
      d.select(col("doc_id"), key.as("k"))
        .withColumn("mn", min("doc_id").over(w))
        .filter(col("doc_id") =!= col("mn"))
        .select(col("doc_id").as("src"), col("mn").as("dst"))
    }
    val edges = starEdges(substring(col("text"), 1, 24))
      .unionByName(starEdges(col("n_chars")))
    Dedup.dedupClusters(d, "doc_id", edges, "src", "dst")
  }

  /** The DuckDB-side url expression for the synthesized corpus. */
  private val duckUrl =
    "'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)"
  private val duckWarcTs =
    s"make_timestamp(${Corpus.WarcBaseMicros} + doc_id * ${Corpus.MicrosPerMinute})"

  // ------------------------------------------------------------------
  // A. corpus scan/synth demos (DuckDB-checkable because the generator is a
  //    pure function of the documents table)
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/S2: corpus scan — the synthesizer is verified column-by-column
    "scan_pages" -> ((s, dir) =>
      pages(s, dir).select(col("url"), col("lang"), col("warc_ts")).orderBy("url")),

    // S2 at scale (round 3): the url-bucketed on-disk corpus layout
    // (CorpusStore) — written once, reopened as an external bucketed table
    // whose scan reports HashPartitioning(url); same oracle as scan_pages,
    // so the layout round-trip is DuckDB-checked end to end
    "corpus_bucketed" -> ((s, dir) =>
      bucketedPages(s, dir).select(col("url"), col("lang"), col("warc_ts"))
        .orderBy("url")),

    // E5: extraction inverts the wrap byte-for-byte ⇒ equals documents.text
    "extract_text" -> ((s, dir) =>
      pages(s, dir).select(col("url"),
        extract_text(col("html"), url_host(col("url"))).as("text"))
        .orderBy("url")),

    // E2: host component via built-in parse_url
    "url_host" -> ((s, dir) =>
      pages(s, dir).select(col("url"), expr("parse_url(url, 'HOST')").as("host"))
        .orderBy("url")),

    // byte-length projection (pushdown demo: html never read)
    "pages_text_bytes" -> ((s, dir) =>
      pages(s, dir).select(col("url"), octet_length(col("text")).cast("long")
        .as("text_bytes")).orderBy("url")),

    // J1: fetch-simulation join (seed frontier ⋈ pages on url)
    "fetch_join" -> ((s, dir) =>
      PagesSynth.seeds(s, dir, CrawlConfig()).toDF().select("url")
        .join(pages(s, dir), Seq("url")).select(col("url"), col("lang"))
        .orderBy("url")),

    // A3: per-host aggregation
    "host_agg" -> ((s, dir) =>
      pages(s, dir)
        .select(expr("parse_url(url, 'HOST')").as("host"),
          octet_length(col("text")).cast("long").as("b"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"), sum(col("b")).as("text_bytes"))
        .orderBy("host")),

    // A4: heavy-hitter hosts
    "heavy_hitters" -> ((s, dir) =>
      pages(s, dir).select(expr("parse_url(url, 'HOST')").as("host"))
        .groupBy("host").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 25).orderBy("host")),

    // A5: exact distinct counts (approx variant is rows-only below)
    "distinct_exact" -> ((s, dir) =>
      pages(s, dir).agg(
        countDistinct(expr("parse_url(url, 'HOST')")).as("n_hosts"),
        countDistinct(col("url")).as("n_urls"))),

    // E9: time bucketing
    "ts_bucket" -> ((s, dir) =>
      pages(s, dir).groupBy(date_trunc("day", col("warc_ts")).as("day"))
        .agg(count(lit(1)).as("n")).orderBy("day")),

    // S3: seed-list source (hash columns omitted: DuckDB-checkable shape)
    "seed_frontier" -> ((s, dir) =>
      PagesSynth.seeds(s, dir, CrawlConfig()).toDF()
        .select("url", "host", "priority", "discovered_round", "warc_ts")
        .orderBy("url")),

    // S4: robots rules table (hash-derived → rows-only)
    // S4: the robots source vs the PLAIN-SCALA shared-core fixture (the
    // rules are hash-derived, so DuckDB replays them from the fixture the
    // single-threaded core wrote — independent of the Spark synth path)
    "scan_robots" -> ((s, dir) => {
      ensureRobotsFixture(s, dir)
      PagesSynth.robots(s, dir).toDF()
        .select(col("host"), size(col("disallow_prefixes")).cast("long").as("n_disallow"),
          col("crawl_delay_ms"))
        .orderBy("host")
    }),

    // F3: scope filter (allowed-host whitelist)
    "scope_filter" -> ((s, dir) =>
      pages(s, dir).select(col("url"), expr("parse_url(url, 'HOST')").as("host"))
        .filter(col("host").isin("src0.example.com", "src1.example.com", "src2.example.com"))
        .orderBy("url")),

    // ------------------------------------------------------------------
    // B. scheduler-operator demos over the TPC-H-ish tables (oracle-checked)
    // ------------------------------------------------------------------

    // W1: per-key politeness-budget top-k
    "politeness_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
        .orderBy("o_custkey", "rank")
    }),

    // O1: explicit repartition + sortWithinPartitions + per-key rank
    "frontier_dequeue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .repartition(col("l_suppkey"))
        .sortWithinPartitions("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      li.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 2)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "rank")
        .orderBy("l_suppkey", "rank")
    }),

    // O2: global ordered cap (TakeOrderedAndProject)
    "round_topk" -> ((s, dir) =>
      t(s, dir, "orders").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100).select("o_orderkey", "o_totalprice")),

    // J3: exact anti-join (the seen-set semantics)
    "seen_antijoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // J7: semi-join
    "semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),

    // J4: explicit salted-key skew join ≡ plain join (verified by oracle)
    "skew_salted_join" -> ((s, dir) => {
      val S = 8L
      val big = t(s, dir, "lineitem")
        .withColumn("salt", pmod(xxhash64(col("l_partkey").cast("string")), lit(S)))
      val small = t(s, dir, "orders")
        .withColumn("salt", explode(sequence(lit(0L), lit(S - 1))))
      // r6: shuffled-hash join, building on the replicated small side —
      // salting bounds every (key, salt) bucket by construction, so the
      // per-partition build side is bounded at any scale and the two
      // sort-merge sorts (the plan's dominant cost) are avoided. Deliberate
      // strategy pick per the optimization guide §3.1; result identical.
      big.join(small.hint("shuffle_hash"), big("l_orderkey") === small("o_orderkey")
          && big("salt") === small("salt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // J6: as-of (latest version at/before a cutoff)
    "asof_latest" -> ((s, dir) => {
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events").filter(col("ts") <= cutoff)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_id", "ts").orderBy("user_id")
    }),

    // W3: lag window (recrawl/price-history delta analog)
    "recrawl_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          lag("value", 1).over(w).as("prev_value"))
        .orderBy("user_id", "event_id")
    }),

    // W2: priority tiers
    "priority_rank" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderpriority").distinct()
        .withColumn("tier",
          dense_rank().over(Window.orderBy("o_orderpriority")).cast("long"))
        .orderBy("o_orderpriority")),

    // A6: rollup report
    "report_rollup" -> ((s, dir) =>
      t(s, dir, "events").rollup("event_type")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
        .orderBy(col("event_type").asc_nulls_first)),

    // U1: union-dedup (frontier advance analog)
    "frontier_union" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_totalprice") > 200000).select("o_orderkey")
        .unionByName(o.filter(col("o_orderstatus") === "O").select("o_orderkey"))
        .distinct().orderBy("o_orderkey")
    }),

    // U2: except (residual frontier analog)
    "frontier_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select("o_orderkey")
        .except(o.filter(col("o_totalprice") > 200000).select("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // E10: JSON field extraction (a real JSON path op on the Spark side;
    // the DuckDB oracle keeps its regex form — same values either way)
    "json_props" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),

    // ------------------------------------------------------------------
    // C. training-data pipeline (oracle-checked where SQL-expressible)
    // ------------------------------------------------------------------

    // exact dedup over a corpus with injected duplicates
    "dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val dup = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
      Dedup.exactDedup(dup, "doc_id", "text").orderBy("doc_id")
    }),

    // token counting
    "token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")),

    // host-level mirror detection (Bharat/Broder): sources sharing
    // document fingerprints, ranked by set resemblance. The demo
    // fingerprint is the raw 24-char text prefix (SQL-reproducible
    // byte-for-byte; production default is xxhash64 of the full text —
    // fixed 8-byte keys); the frequency gate that makes the pairing
    // survive boilerplate at scale is exercised with maxHostsPerFp=64.
    "host_mirror" -> ((s, dir) =>
      Dedup.mirrorHosts(t(s, dir, "documents"), "source", "text",
        tx => substring(tx, 1, 24))
        .orderBy("host_a", "host_b")),

    // near-dup clustering: distributed connected components over
    // cross-cutting blocking families — see docClusters above.
    "dedup_clusters" -> ((s, dir) =>
      docClusters(t(s, dir, "documents")).orderBy("doc_id")),

    // the consuming step: keep ONE representative per near-dup cluster —
    // the deduplicated corpus a training pipeline writes out. Canonical =
    // smallest doc_id in the cluster (deterministic, join-free to name:
    // cluster_id IS the representative).
    "dedup_canonical" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      docClusters(d).filter(col("doc_id") === col("cluster_id"))
        .join(d.select(col("doc_id"), col("n_chars")), "doc_id")
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    // the END-TO-END cleaning pass a training-data job runs as ONE
    // declarative plan: language gate → quality gate → exact-dedup
    // collapse → per-source corpus report. Exercised on a corpus with
    // injected exact duplicates (ids +100000) so the dedup stage binds.
    // Scale shape: the gates are per-row expressions Catalyst fuses into
    // the scan (one WholeStageCodegen span, no shuffle); the collapse is
    // ONE hash-agg on the 128-bit text key electing the min-id row via min_by
    // (map-side partial agg — a boilerplate page duplicated 10^6 times
    // still contributes one row per map partition); the report is a
    // second tiny hash-agg keyed by source. No joins anywhere.
    "corpus_pipeline" -> ((s, dir) => {
      val d0 = t(s, dir, "documents").select("doc_id", "source", "text")
      val d = d0.unionByName(d0.withColumn("doc_id", col("doc_id") + 100000))
      // ONE fused text-features pass feeds both gates (r6): quality columns
      // and the language decision read the same materialized struct
      val gated = TextStats.qualityFrom(TextStats.withTextFeatures(d, "text"), "__tf")
        .withColumn("lang_pred", TextStats.langIdFrom(col("__tf")))
        .filter(col("lang_pred") === "en" && col("quality_score") >= 0.5)
      val reps = gated
        .groupBy(Dedup.textKey128(col("text")).as("text_key"))
        .agg(min_by(
          struct(col("doc_id"), col("source"),
            col("n_tokens").cast("long").as("n_tokens"), col("quality_score")),
          col("doc_id")).as("rep"))
        .select(col("rep.*"))
      reps.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          round(avg(col("quality_score")), 6).as("avg_quality"))
        .orderBy("source")
    }),

    // ------------------------------------------------------------------
    // D. crawl-specific + sketch + ANN operators (no ANSI-SQL equivalent →
    //    no oracleSql entry; each is verified against the oracle module /
    //    brute force in the scalatest suites)
    // ------------------------------------------------------------------

    // E1: canonicalization collapses equivalence classes back to the input
    "url_canonicalize" -> ((s, dir) =>
      pages(s, dir).select(col("url"),
        url_canonicalize(concat(lit("HTTPS://"),
          upper(substring(col("url"), 9, 3)), substring(col("url"), 12, 100000),
          lit("#frag"))).as("canonical"))
        .withColumn("matches", col("canonical") === col("url"))
        .orderBy("url")),

    // E3/E4: 64-bit hashing — oracle: expected columns recomputed in plain
    // Scala by the shared Hash64/UrlCanonical core (xxhash64 seed 42)
    "url_hash64" -> ((s, dir) => {
      ensureFixture("oraclehash64", dir) { p =>
        import s.implicits._
        oracleDocs(s, dir).map { d =>
          val url = Corpus.urlOf(d.source, d.docId)
          (url, Hash64.string(url), Hash64.string(UrlCanonical.host(url)))
        }.toDF("url", "url_hash", "host_hash")
          .coalesce(1).write.mode("overwrite").parquet(p)
      }
      pages(s, dir).select(col("url"), xxhash64(col("url")).as("url_hash"),
        xxhash64(expr("parse_url(url, 'HOST')")).as("host_hash")).orderBy("url")
    }),

    // E6/G1: outlink extraction + explode — oracle: the single-threaded
    // shared-core extractor replayed over the oracle corpus (one impl,
    // two executions; the DuckDB row checks the distributed path)
    "extract_outlinks" -> ((s, dir) => {
      ensureOutlinksFixture(s, dir)
      pages(s, dir).select(col("url"),
        explode(extract_outlinks(col("html"))).as("outlink"))
        .orderBy("url", "outlink")
    }),

    // link-graph rank: PageRank over the host graph extracted from the
    // corpus outlinks — the crawl-ordering / quality-prior signal. Fixed
    // 10 iterations (deterministic). DuckDB-checked (r5): the oracle
    // unrolls the same 10 power iterations in SQL over the independently
    // synthesized outlinks fixture (itself byte-checked by the
    // extract_outlinks key); ranks rounded to 9 decimals on both sides so
    // float-summation-order ulps cannot flip the compare (LinkRankSpec
    // still checks the unrounded operator at 1e-9).
    "link_rank" -> ((s, dir) => {
      ensureOutlinksFixture(s, dir)
      val edges = pages(s, dir).select(url_host(col("url")).as("src_host"),
          explode(extract_outlinks(col("html"))).as("out"))
        .select(col("src_host"), url_host(col("out")).as("dst_host"))
      LinkRank.hostRank(edges)
        .withColumn("rank", round(col("rank"), 9))
        .orderBy("host")
    }),

    // F1/E7: robots gate — DuckDB-checked (VERDICT r3 task #6): the rules
    // are hash-derived (not SQL-expressible), so the query materializes the
    // robots table to a fixture parquet and the oracle re-executes the gate
    // (join + longest-prefix disallow + count) independently over it.
    "robots_filter" -> ((s, dir) => {
      val robots = PagesSynth.robots(s, dir).toDF()
      ensureRobotsFixture(s, dir)
      pages(s, dir).select(col("url"), expr("parse_url(url, 'HOST')").as("host"))
        .join(broadcast(robots), Seq("host"))
        .filter(robots_allows(col("url"), col("disallow_prefixes")))
        .groupBy("host").agg(count(lit(1)).as("n_allowed")).orderBy("host")
    }),

    // A5 approx variant — duck-checkable form: the exact count plus a
    // bounded-relative-error predicate on the HLL++ estimate (the estimate
    // itself is impl-specific; the BOUND is the checkable contract)
    "approx_distinct" -> ((s, dir) =>
      pages(s, dir).agg(
        approx_count_distinct(col("url")).as("approx_urls"),
        countDistinct(col("url")).as("exact_urls"))
        .select(col("exact_urls"),
          (abs(col("approx_urls") - col("exact_urls")).cast("double") <=
            col("exact_urls").cast("double") * 0.15).as("approx_ok"))),

    // A1(b): Catalyst-native Bloom build; F2: membership check. The filter
    // is sized to the corpus (a literal is fine at this size; the ENGINE
    // ships its sharded filters via SparkContext.broadcast — see
    // bloom_prefilter below for that path).
    "bloom_build" -> ((s, dir) => {
      val p = pages(s, dir)
      val bytes = p.agg(Sketches.bloomAgg(xxhash64(col("url")), 1 << 17, 0.03))
        .head().getAs[Array[Byte]](0)
      p.select(col("url"))
        .withColumn("might_contain", bloom_might_contain(lit(bytes), xxhash64(col("url"))))
        .agg(count(lit(1)).as("n"),
          sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_contained"))
    }),

    // A1(a): the treeAggregate variant
    "treeagg_bloom" -> ((s, dir) => {
      import s.implicits._
      val hashes = pages(s, dir).select(xxhash64(col("url"))).as[Long]
      val bf = Sketches.treeAggBloom(hashes, 1 << 17, 0.03)
      val bytes = Sketches.bloomBytes(bf)
      pages(s, dir).select(col("url"))
        .withColumn("might_contain", bloom_might_contain(lit(bytes), xxhash64(col("url"))))
        .agg(sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_contained"))
    }),

    // A2: cuckoo filter build (supports deletion; see CuckooFilterSpec) —
    // duck-checkable contract: every inserted key is present (cardinality
    // == distinct urls; no insert drops at this load factor)
    "cuckoo_build" -> ((s, dir) => {
      val bytes = pages(s, dir)
        .agg(Sketches.cuckooAgg(xxhash64(col("url")), 1 << 16))
        .head().getAs[Array[Byte]](0)
      val cf = graft.spider.sketch.CuckooFilter.deserialize(bytes)
      import s.implicits._
      Seq(cf.cardinality).toDF("n_items")
    }),

    // F2 split at scale: SHARDED bloom prefilter, shipped to tasks via
    // SparkContext.broadcast (the engine's seen-sketch path — no filter
    // bytes in the expression tree / task binaries). DuckDB-checked (r5)
    // via the sketch contracts, the bloom_build/approx_distinct model:
    // no-false-negative (every inserted seed must probe true → 0 misses)
    // and bounded false positives (fpp sized at 0.03; the 3% bound holds
    // with huge margin at this load factor, and the probe outcome is a
    // deterministic function of the hash state, not a random draw).
    "bloom_prefilter" -> ((s, dir) => {
      val cfg = CrawlConfig()
      val seeds = PagesSynth.seeds(s, dir, cfg).toDF()
      val blob = seeds
        .agg(Sketches.shardedBloomAgg(col("url_hash"), cfg.bloomShards, 1 << 14, 0.03))
        .head().getAs[Array[Byte]](0)
      val bc = s.sparkContext.broadcast(Sketches.shardedFrom(blob))
      val nSeeds = seeds.count()
      pages(s, dir).select(xxhash64(col("url")).as("url_hash"))
        .join(seeds.select(col("url_hash"), lit(true).as("is_seed")),
          Seq("url_hash"), "left")
        .withColumn("maybe_seen", bloom_sharded_might_contain(bc, col("url_hash")))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("is_seed") && !col("maybe_seen"), 1L).otherwise(0L))
            .as("n_seed_misses"),
          ((sum(when(col("maybe_seen"), 1L).otherwise(0L)) - lit(nSeeds))
            .cast("double") <= count(lit(1)).cast("double") * 0.03)
            .as("fp_within_bound"))
    }),

    // the end-to-end slices — ALL reading the one shared 3-round catalog,
    // DuckDB-checked against the single-threaded CrawlOracle's crawl log
    // (the flagship keys' independent channel, VERDICT r4 task #2)
    "crawl_round1" -> ((s, dir) => {
      ensureCrawlFixtures(s, dir)
      crawl(s, dir, sharedCfg).readCrawled(1)
        .orderBy("host", "rank_in_host")
    }),

    "crawl_multiround" -> ((s, dir) => {
      ensureCrawlFixtures(s, dir)
      crawl(s, dir, sharedCfg).readCrawled(3)
        .groupBy("round").agg(count(lit(1)).as("n_fetched"),
          countDistinct("host").as("n_hosts")).orderBy("round")
    }),

    // timed re-crawl (the reference's price-history loop): the versioned
    // crawl log — urls re-admitted recrawlEvery rounds after each fetch,
    // so (url, round) accumulates versions; prev_round is the recrawl-lag
    // consumption over that series. Oracle: the CrawlOracle replay under
    // the same recrawl policy.
    "recrawl_requeue" -> ((s, dir) => {
      ensureFixture("oraclerecrawl", dir)(p =>
        writeCrawlLogFixture(s, dir, recrawlCfg, p))
      val w = Window.partitionBy("url").orderBy("round")
      crawl(s, dir, recrawlCfg).readCrawled(recrawlCfg.rounds)
        .select(col("url"), col("round"), col("rank_in_host"))
        .withColumn("prev_round", lag(col("round"), 1).over(w))
        .orderBy("url", "round")
    }),

    // hostRank frontier priority (VERDICT r4 task #9): the full versioned
    // crawl log of a rank-boosted crawl — link-graph PageRank over the
    // committed rounds-1..2 host edges tiers admission priorities from
    // round 4 on, changing dequeue order. Oracle: the CrawlOracle replay
    // under the same policy (sequential power method, same quantized tier).
    "crawl_hostrank" -> ((s, dir) => {
      ensureFixture("oraclehostrank", dir)(p =>
        writeCrawlLogFixture(s, dir, hostrankCfg, p))
      crawl(s, dir, hostrankCfg).readCrawled(hostrankCfg.rounds)
        .orderBy("round", "host", "rank_in_host")
    }),

    // Crawl-trap guard: the full crawl log of a per-host-admission-capped
    // crawl (maxNewPerHost=3 — binding on every host of this corpus, so
    // the frontier, dequeue order and seen set all differ from the uncapped
    // run). Oracle: the CrawlOracle replay under the same cap.
    "crawl_hostcap" -> ((s, dir) => {
      ensureFixture("oraclehostcap", dir)(p =>
        writeCrawlLogFixture(s, dir, hostcapCfg, p))
      crawl(s, dir, hostcapCfg).readCrawled(hostcapCfg.rounds)
        .orderBy("round", "host", "rank_in_host")
    }),

    // A7/S6: per-round counters out of the snapshot manifests — oracle:
    // the CrawlOracle's own counters fixture
    "round_counters" -> ((s, dir) => {
      import s.implicits._
      ensureCrawlFixtures(s, dir)
      val catalog = crawl(s, dir, sharedCfg)
      (1 to 2).map(catalog.countersOf).toDF().orderBy("round")
    }),

    // S6/S7: checkpoint write → read-back identity (round-1 tables of the
    // shared catalog; latest_round reflects the catalog's 3 rounds) —
    // oracle: row counts re-derived from the CrawlOracle counters fixture
    "checkpoint_roundtrip" -> ((s, dir) => {
      import s.implicits._
      ensureCrawlFixtures(s, dir)
      val catalog = crawl(s, dir, sharedCfg)
      Seq((catalog.readFrontier(1).count(), catalog.readSeen(1).count(),
        catalog.latestRound.getOrElse(-1)))
        .toDF("frontier_rows", "seen_rows", "latest_round")
    }),

    // 2.10: session windows (batch form of the streaming analog)
    "session_demo" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
        .orderBy("user_id", "session_start")),

    // MinHash-LSH near-dup over a corpus with injected near-duplicates.
    // DuckDB-checked (r5): the query materializes the per-representative
    // MinHash state (signatures + shingles) and the exact-dup stars; the
    // oracle re-derives the ENTIRE pairing independently — all-pairs band-
    // slice matching over the signatures + exact Jaccard over the shingles
    // (no bucket exceeds the hot cap at this size, so banded ≡ all-pairs).
    "dedup_minhash" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val near = d.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" tail marker extra")))
      val input = d.unionByName(near)
      ensureFixture("minhashstate", dir) { p =>
        val (reps, stars) = Dedup.minhashState(input, "doc_id", "text",
          k = 3, numHashes = 64)
        reps.select("id", "sig", "shingles")
          .coalesce(1).write.mode("overwrite").parquet(s"$p/reps")
        stars.coalesce(1).write.mode("overwrite").parquet(s"$p/stars")
      }
      Dedup.minhashPairs(input, "doc_id", "text",
          k = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dup. DuckDB-checked (r5): recall within maxHamming is
    // EXACT by pigeonhole, so all-pairs bit_count(xor) over the
    // materialized fingerprint table must equal the banded join's output.
    "dedup_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val near = d.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" zz")))
      val input = d.unionByName(near)
      ensureFixture("simhashtable", dir) { p =>
        Dedup.simhashTable(input, "doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(p)
      }
      Dedup.simhashPairs(input, "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // exact n-gram Jaccard on explicit pairs
    "ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select("doc_id", "text")
      val near = d.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" tail marker")))
      val pairs = d.filter(col("doc_id") < 50)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 100000).as("id_b"))
      Dedup.ngramJaccard(d.unionByName(near), "doc_id", "text", pairs)
        .orderBy("id_a")
    }),

    // brute-force cosine top-k (the exact ANN baseline). DuckDB-checked
    // (r5): the oracle recomputes cosine top-k with its own list functions.
    // Both sides work in DOUBLE (the float32 parquet column is upcast
    // before any arithmetic) and round the reported score to 6 decimals,
    // so engine-vs-oracle differences are confined to summation-order ulps
    // (~1e-15) — far inside the rounding grid.
    "embed_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id_raw"), col("embedding").as("qvec"))
      Similarity.bruteTopK(e, "vec_id", "embedding", q, "query_id_raw", "qvec", 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed ANN (the scale path: planes scale with the corpus so
    // bucket width stays ~constant; multi-probe recovers recall on the
    // query side only; recall vs brute checked in SimilaritySpec).
    // DuckDB-checked (r5): the query materializes the LSH state (bucketed
    // corpus + query probe buckets — hash state, the minhashState trust
    // model); the oracle re-derives the candidate join, dedup, exact
    // cosine, ranking and top-k independently. Both sides double + round 6.
    "embed_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id_raw"), col("embedding").as("qvec"))
      val nPlanes = Similarity.planesFor(e.count(), targetBucket = 64)
      ensureFixture("annlsh", dir) { p =>
        Similarity.lshCorpus(e, "embedding", nPlanes, 64)
          .select(col("vec_id"), col("bucket"), col("embedding").as("v"))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/corpus")
        Similarity.lshProbes(q, "qvec", nPlanes, 64, multiProbe = 1)
          .select(col("query_id_raw").as("query_id"), col("bucket"), col("qvec").as("qv"))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/probes")
      }
      Similarity.lshTopK(e, "vec_id", "embedding", q, "query_id_raw", "qvec", 5,
          nPlanes = nPlanes, dim = 64, multiProbe = 1)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // IVF-bucketed ANN (the data-ADAPTIVE scale path alongside LSH: coarse
    // k-means quantizer trained on a deterministic sample, one narrow list
    // column on the corpus, query probes its nProbe nearest lists; recall
    // vs brute checked in SimilaritySpec)
    // DuckDB-checked (r5): same fixture trust model as embed_ann_lsh —
    // the materialized list assignments + query probes are the index
    // state; the oracle re-derives the probe join + exact re-rank.
    "embed_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id_raw"), col("embedding").as("qvec"))
      val cents = Similarity.ivfTrain(e, "vec_id", "embedding",
        nList = Similarity.listsFor(e.count(), targetList = 64))
      ensureFixture("annivf", dir) { p =>
        Similarity.ivfCorpus(e, "embedding", cents)
          .select(col("vec_id"), col("ivf_list"), col("embedding").as("v"))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/corpus")
        Similarity.ivfProbes(q, "qvec", cents, nProbe = 3)
          .select(col("query_id_raw").as("query_id"), col("ivf_list"), col("qvec").as("qv"))
          .coalesce(1).write.mode("overwrite").parquet(s"$p/probes")
      }
      Similarity.ivfTopK(e, "vec_id", "embedding", q, "query_id_raw", "qvec", 5,
          cents, nProbe = 3)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // embedding near-duplicate pairs (corpus ∪ exact copies); oversized
    // buckets sub-split with an independent plane family (bounded
    // self-join). DuckDB-checked (r5): the materialized (bucket,
    // sub_bucket) blocking state is the hash state; the oracle re-derives
    // the within-block self-join + cosine threshold independently. The
    // 0.999 boundary is FP-safe on this fixture: pair cosines cluster at
    // ~1.0 (exact copies) and far below (random vectors) — no pair sits
    // within ulps of the threshold on either engine.
    "embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val dup = e.withColumn("vec_id", col("vec_id") + 100000)
      val all = e.unionByName(dup)
      val nPlanes = Similarity.planesFor(e.count() * 2, targetBucket = 64)
      ensureFixture("neardupbuckets", dir) { p =>
        Similarity.nearDupBuckets(all, "embedding", nPlanes, 64,
            maxBucket = 200L, extraPlanes = 4)
          .select(col("vec_id"), col("bucket"), col("sub_bucket"),
            col("embedding").as("v"))
          .coalesce(1).write.mode("overwrite").parquet(p)
      }
      Similarity.embeddingNearDupPairs(all, "vec_id", "embedding",
          threshold = 0.999, nPlanes = nPlanes, dim = 64, maxBucket = 200L)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    }),

    // language-ID heuristic (distribution over the corpus) — fused
    // text-features path (r6; values identical to TextStats.langId)
    "lang_id" -> ((s, dir) =>
      TextStats.withTextFeatures(t(s, dir, "documents").select("text"), "text")
        .select(TextStats.langIdFrom(col("__tf")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n")).orderBy("lang_pred")),

    // quality features + composite score
    "text_quality" -> ((s, dir) =>
      TextStats.qualityFeatures(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("punct_ratio"), col("quality_score"))
        .orderBy("doc_id")),

    // rolling-hash document fingerprint — oracle: the shared TextKernels
    // kernel replayed single-threaded into a fixture
    "doc_fingerprint" -> ((s, dir) => {
      ensureFixture("oraclefp", dir) { p =>
        import s.implicits._
        oracleDocs(s, dir)
          .map(d => (d.docId, graft.datapipe.TextKernels.rollingFingerprint(
            d.text.getBytes("UTF-8"), 16)))
          .toDF("doc_id", "fingerprint")
          .coalesce(1).write.mode("overwrite").parquet(p)
      }
      t(s, dir, "documents").select(col("doc_id"),
        doc_fingerprint(col("text"), lit(16)).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // multimodal: binary column + batched feature extraction. DuckDB-
    // checked (r5): distributed mapPartitions ≡ the sequential replay
    // fixture (ensureMediaFixtures — the extract_text trust model).
    "multimodal_features" -> ((s, dir) => {
      import s.implicits._
      ensureMediaFixtures(s, dir)
      val media = Multimodal.synthMedia(s, dir).as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media, dim = 16).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"),
          size(col("feature")).cast("long").as("feature_dim"))
        .orderBy("media_id")
    }),

    // multimodal: REAL container decode (BMP/PNG pixels / WAV samples via
    // MediaCodec; opaque payloads → declared stub) — decoded metadata
    // surfaced per media row; same sequential-replay DuckDB channel
    "multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      ensureMediaFixtures(s, dir)
      val media = Multimodal.synthMedia(s, dir).as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media, dim = 16).toDF()
        .select(col("media_id"), col("codec"), col("decoded_w"), col("decoded_h"),
          col("n_samples"))
        .orderBy("media_id")
    }),

    // multimodal: frame sampling — REAL animated-PNG decode where the
    // payload is APNG, deterministic byte-window fallback otherwise;
    // same sequential-replay DuckDB channel
    "frame_sample" -> ((s, dir) => {
      ensureMediaFixtures(s, dir)
      Multimodal.frameSample(Multimodal.synthMedia(s, dir), k = 4)
        .orderBy("media_id", "frame_idx")
    }))

  /** The link_rank oracle: 10 power iterations unrolled as chained CTEs
    * over the host edges derived from the outlinks fixture. Mirrors
    * [[graft.datapipe.LinkRank.hostRank]] exactly: self-edges dropped,
    * edge multiplicity kept, n = |distinct hosts|, rank₀ = 1/n, rankₖ =
    * (1-d)/n + d·dangling/n + d·Σ(rank/out_deg over in-edges), d = 0.85. */
  private def linkRankOracleSql: String = {
    val fx = "/tmp/graft-verify-fixtures/oracleoutlinks-sf0.01/*.parquet"
    val iters = (1 to 10).map { i =>
      val p = s"r${i - 1}"
      // MATERIALIZED: DuckDB inlines plain CTEs, and each iteration
      // references its predecessor 3× — inlining would re-evaluate the
      // whole chain exponentially (3^10 plans); materialization keeps the
      // unrolled recursion linear
      s"r$i AS MATERIALIZED (SELECT d.host, ((1.0 - 0.85)/(SELECT n FROM nv) " +
        s"+ 0.85 * (SELECT COALESCE(SUM(rank), 0) FROM $p WHERE out_deg = 0)" +
        s"/(SELECT n FROM nv) " +
        s"+ 0.85 * COALESCE(c.in_sum, 0)) AS rank, d.out_deg " +
        s"FROM deg d LEFT JOIN (SELECT eo.dst AS host, " +
        s"SUM(r.rank / r.out_deg) AS in_sum FROM eo JOIN $p r " +
        s"ON eo.src = r.host WHERE r.out_deg > 0 GROUP BY 1) c " +
        s"ON d.host = c.host)"
    }.mkString(", ")
    s"WITH eo AS MATERIALIZED (SELECT split_part(url, '/', 3) AS src, " +
      s"split_part(outlink, '/', 3) AS dst FROM read_parquet('$fx') " +
      "WHERE split_part(url, '/', 3) <> split_part(outlink, '/', 3)), " +
      "verts AS (SELECT src AS host FROM eo UNION SELECT dst FROM eo), " +
      "nv AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts), " +
      "odeg AS (SELECT src AS host, COUNT(*) AS d FROM eo GROUP BY 1), " +
      "deg AS MATERIALIZED (SELECT v.host, COALESCE(o.d, 0) AS out_deg FROM verts v " +
      "LEFT JOIN odeg o ON v.host = o.host), " +
      "r0 AS MATERIALIZED (SELECT host, 1.0/(SELECT n FROM nv) AS rank, out_deg FROM deg), " +
      iters +
      " SELECT host, round(rank, 9) AS rank FROM r10 ORDER BY host"
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL — one entry per SQL-expressible key above. Columns
  // are aliased to the same names and cast to the same types as the Spark
  // results; every query is deterministically ordered.
  // ------------------------------------------------------------------

  /** Shared DuckDB fragments of the TextStats semantics — ONE copy spliced
    * into the lang_id, text_quality and corpus_pipeline oracles so the
    * stopword lists, diacritic evidence, tie rules and quality formula
    * cannot drift between them. Column names assumed: `text` in the source
    * CTE; the feature aliases (h_*, *d, cjk, nc, nt, np, nu) downstream. */
  private val duckToks =
    "list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))"
  private def duckHits(words: String) =
    s"len(list_intersect($duckToks, [$words]))"
  /** Language evidence columns (over `text`): stopword hits per language,
    * diacritic counts, CJK share numerator, and `nc` = length(text). */
  private val duckLangFeatureCols =
    duckHits("'the','and','of','to','is','in','that','with','for','a'") + " AS h_en, " +
      duckHits("'le','la','les','et','de','des','est','dans','pour','une'") + " AS h_fr, " +
      duckHits("'el','la','los','las','y','de','es','en','que','una'") + " AS h_es, " +
      duckHits("'der','die','das','und','ist','von','mit','für','ein','nicht'") + " AS h_de, " +
      "length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk, " +
      "length(text) AS nc, " +
      "length(text) - length(regexp_replace(text, '[àâçéèêëîïôùûœ]', '', 'g')) AS frd, " +
      "length(text) - length(regexp_replace(text, '[áéíóúñ¿¡]', '', 'g')) AS esd, " +
      "length(text) - length(regexp_replace(text, '[äöüß]', '', 'g')) AS ded"
  /** The TextStats.langId decision CASE over the feature columns above. */
  private val duckLangCase =
    "CASE WHEN CAST(cjk AS DOUBLE) / greatest(CAST(nc AS DOUBLE), 1.0) > 0.15 THEN 'zh' " +
      "WHEN h_fr + frd > h_en AND h_fr + frd >= h_es + esd AND " +
      "h_fr + frd >= h_de + ded AND h_fr + frd > 0 THEN 'fr' " +
      "WHEN h_es + esd > h_en AND h_es + esd >= h_de + ded AND h_es + esd > 0 THEN 'es' " +
      "WHEN h_de + ded > h_en AND h_de + ded > 0 THEN 'de' " +
      "WHEN h_en > 0 THEN 'en' ELSE 'und' END"
  /** Token count (whitespace split, empty-text guard) over `text`. */
  private val duckNTokens =
    "CASE WHEN trim(text) = '' THEN 0 ELSE " +
      "len(regexp_split_to_array(trim(text), '\\s+')) END"
  /** Quality feature columns over `text` (token/punct/upper counts). */
  private val duckQualityFeatureCols =
    s"$duckNTokens AS nt, " +
      "length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS np, " +
      "length(regexp_replace(text, '[^A-Z]', '', 'g')) AS nu"
  /** The TextStats quality score over (nt, np, nc, nu, `hits` = English
    * stopword hit count). */
  private def duckQualityScore(hits: String) =
    "CASE WHEN nt < 5 THEN 0.0 ELSE 1.0 " +
      "- least(CAST(np AS DOUBLE) / greatest(CAST(nc AS DOUBLE), 1.0) * 2, 0.5) " +
      "- least(CAST(nu AS DOUBLE) / greatest(CAST(nc AS DOUBLE), 1.0), 0.3) " +
      s"+ least(CAST($hits AS DOUBLE) * 0.02, 0.2) END"

  private val oracleSql0: Map[String, String] = Map(
    "scan_pages" ->
      s"SELECT $duckUrl AS url, lang, $duckWarcTs AS warc_ts FROM documents ORDER BY url",
    "corpus_bucketed" ->
      s"SELECT $duckUrl AS url, lang, $duckWarcTs AS warc_ts FROM documents ORDER BY url",
    "extract_text" ->
      s"SELECT $duckUrl AS url, text FROM documents ORDER BY url",
    "url_host" ->
      s"SELECT $duckUrl AS url, source || '.example.com' AS host FROM documents ORDER BY url",
    "pages_text_bytes" ->
      s"SELECT $duckUrl AS url, CAST(strlen(text) AS BIGINT) AS text_bytes FROM documents ORDER BY url",
    "fetch_join" ->
      s"SELECT $duckUrl AS url, lang FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 10) ORDER BY url",
    "host_agg" ->
      ("SELECT source || '.example.com' AS host, count(*) AS n_pages, " +
        "CAST(sum(strlen(text)) AS BIGINT) AS text_bytes FROM documents GROUP BY 1 ORDER BY 1"),
    "heavy_hitters" ->
      ("SELECT source || '.example.com' AS host, count(*) AS n FROM documents " +
        "GROUP BY 1 HAVING count(*) >= 25 ORDER BY 1"),
    "distinct_exact" ->
      ("SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_hosts, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_urls FROM documents"),
    "ts_bucket" ->
      (s"SELECT CAST(date_trunc('day', $duckWarcTs) AS TIMESTAMP) AS day, count(*) AS n " +
        "FROM documents GROUP BY 1 ORDER BY 1"),
    "seed_frontier" ->
      (s"SELECT $duckUrl AS url, source || '.example.com' AS host, 100 AS priority, " +
        s"0 AS discovered_round, $duckWarcTs AS warc_ts FROM " +
        "(SELECT * FROM documents ORDER BY doc_id LIMIT 10) ORDER BY url"),
    "scope_filter" ->
      (s"SELECT $duckUrl AS url, source || '.example.com' AS host FROM documents " +
        "WHERE source IN ('src0', 'src1', 'src2') ORDER BY url"),
    "politeness_topk" ->
      ("SELECT o_custkey, o_orderkey, rank FROM (SELECT o_custkey, o_orderkey, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rank " +
        "FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank"),
    "frontier_dequeue" ->
      ("SELECT l_suppkey, l_orderkey, l_linenumber, rank FROM (SELECT l_suppkey, l_orderkey, " +
        "l_linenumber, row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, " +
        "l_orderkey, l_linenumber) AS rank FROM lineitem) WHERE rank <= 2 ORDER BY l_suppkey, rank"),
    "round_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "seen_antijoin" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders " +
        "WHERE o_custkey = c_custkey AND o_totalprice > 300000) ORDER BY c_custkey"),
    "semi_join" ->
      ("SELECT c_custkey FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "skew_salted_join" ->
      ("SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1"),
    "asof_latest" ->
      ("SELECT user_id, event_id, ts FROM (SELECT user_id, event_id, ts, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events " +
        "WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1 ORDER BY user_id"),
    "recrawl_lag" ->
      ("SELECT user_id, event_id, value, lag(value) OVER (PARTITION BY user_id ORDER BY ts, " +
        "event_id) AS prev_value FROM events ORDER BY user_id, event_id"),
    "priority_rank" ->
      ("SELECT o_orderpriority, dense_rank() OVER (ORDER BY o_orderpriority) AS tier FROM " +
        "(SELECT DISTINCT o_orderpriority FROM orders) ORDER BY o_orderpriority"),
    "report_rollup" ->
      ("SELECT event_type, count(*) AS n, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY ROLLUP(event_type) ORDER BY event_type NULLS FIRST"),
    "frontier_union" ->
      ("SELECT o_orderkey FROM orders WHERE o_totalprice > 200000 UNION " +
        "SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey"),
    "frontier_except" ->
      ("SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O' EXCEPT " +
        "SELECT o_orderkey FROM orders WHERE o_totalprice > 200000 ORDER BY o_orderkey"),
    "json_props" ->
      ("SELECT event_id, CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS INTEGER) AS k " +
        "FROM events ORDER BY event_id"),
    "dedup_exact" ->
      ("WITH d AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 100000, text " +
        "FROM documents) SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM d " +
        "GROUP BY text ORDER BY doc_id"),
    "token_count" ->
      ("SELECT doc_id, CAST(CASE WHEN trim(text) = '' THEN 0 ELSE " +
        "len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) " +
        "AS n_tokens FROM documents ORDER BY doc_id"),
    // mirror detection re-derived from scratch: same prefix fingerprint,
    // same 2..64 discriminative-frequency gate, same resemblance estimate
    "host_mirror" ->
      ("WITH fp AS (SELECT DISTINCT source AS host, substr(text, 1, 24) AS fp " +
        "FROM documents), " +
        "disc AS (SELECT host, fp FROM fp WHERE fp IN " +
        "(SELECT fp FROM fp GROUP BY fp HAVING count(*) BETWEEN 2 AND 64)), " +
        "sz AS (SELECT host, count(*) AS n FROM fp GROUP BY host), " +
        "pr AS (SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared " +
        "FROM disc a JOIN disc b ON a.fp = b.fp AND a.host < b.host GROUP BY 1, 2) " +
        "SELECT host_a, host_b, shared, sa.n AS n_a, sb.n AS n_b, " +
        "CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard " +
        "FROM pr JOIN sz sa ON sa.host = pr.host_a " +
        "JOIN sz sb ON sb.host = pr.host_b ORDER BY host_a, host_b"),
    // connected components re-derived sequentially: same two star-edge
    // families, then a recursive-CTE reachability closure over the
    // symmetrized edges; component id = min reachable vertex.
    "dedup_clusters" ->
      ("WITH RECURSIVE " +
        "doc AS (SELECT doc_id, substr(text,1,24) AS k1, n_chars AS k2 FROM documents), " +
        "g1 AS (SELECT k1, min(doc_id) AS mn FROM doc GROUP BY 1), " +
        "g2 AS (SELECT k2, min(doc_id) AS mn FROM doc GROUP BY 1), " +
        "e AS (SELECT d.doc_id AS src, g1.mn AS dst FROM doc d JOIN g1 USING (k1) " +
        "WHERE d.doc_id <> g1.mn " +
        "UNION SELECT d.doc_id AS src, g2.mn AS dst FROM doc d JOIN g2 USING (k2) " +
        "WHERE d.doc_id <> g2.mn), " +
        "sym AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e), " +
        "reach(id, label) AS (SELECT doc_id, doc_id FROM doc " +
        "UNION SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.id) " +
        "SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id " +
        "ORDER BY doc_id"),
    // representatives: docs that are their own component minimum
    "dedup_canonical" ->
      ("WITH RECURSIVE " +
        "doc AS (SELECT doc_id, substr(text,1,24) AS k1, n_chars AS k2 FROM documents), " +
        "g1 AS (SELECT k1, min(doc_id) AS mn FROM doc GROUP BY 1), " +
        "g2 AS (SELECT k2, min(doc_id) AS mn FROM doc GROUP BY 1), " +
        "e AS (SELECT d.doc_id AS src, g1.mn AS dst FROM doc d JOIN g1 USING (k1) " +
        "WHERE d.doc_id <> g1.mn " +
        "UNION SELECT d.doc_id AS src, g2.mn AS dst FROM doc d JOIN g2 USING (k2) " +
        "WHERE d.doc_id <> g2.mn), " +
        "sym AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e), " +
        "reach(id, label) AS (SELECT doc_id, doc_id FROM doc " +
        "UNION SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.id), " +
        "comp AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id) " +
        "SELECT c.doc_id, d.n_chars FROM comp c JOIN documents d USING (doc_id) " +
        "WHERE c.doc_id = c.cluster_id ORDER BY c.doc_id"),
    // E1 expected-column oracle: the query canonicalizes an equivalence-
    // class variant (upper-cased scheme+host + fragment) of each corpus url;
    // the oracle independently states the expected fixed point — canonical
    // must equal the original url, matches must be true, for every row.
    "url_canonicalize" ->
      (s"SELECT url, url AS canonical, true AS matches FROM " +
        s"(SELECT $duckUrl AS url FROM documents) ORDER BY url"),
    // F1/E7 oracle: re-execute the robots gate over the materialized rules
    // (written by the query itself — see robotsFixture): per-host count of
    // corpus urls whose canonical path matches no disallow prefix.
    "robots_filter" ->
      ("WITH robots AS (SELECT * FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/robots-sf0.01/*.parquet')), " +
        "pages AS (SELECT source || '.example.com' AS host, " +
        "'/doc/' || CAST(doc_id AS VARCHAR) AS path FROM documents) " +
        "SELECT host, count(*) AS n_allowed FROM pages JOIN robots USING (host) " +
        "WHERE len(list_filter(disallow_prefixes, p -> starts_with(path, p))) = 0 " +
        "GROUP BY host ORDER BY host"),
    // S4: the robots source rows vs the plain-Scala shared-core fixture
    "scan_robots" ->
      ("SELECT host, CAST(len(disallow_prefixes) AS BIGINT) AS n_disallow, " +
        "crawl_delay_ms FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/robots-sf0.01/*.parquet') " +
        "ORDER BY host"),
    // Flagship e2e keys vs the single-threaded CrawlOracle's crawl log
    // (materialized by the query as a fixture; the driver's DuckDB compare
    // is then an independent engine ≡ oracle channel).
    "crawl_round1" ->
      ("SELECT url, url_hash, host, round, rank_in_host, fetch_ts, text, lang, n_links " +
        "FROM read_parquet('/tmp/graft-verify-fixtures/oraclecrawl-sf0.01/*.parquet') " +
        "WHERE round = 1 ORDER BY host, rank_in_host"),
    "crawl_multiround" ->
      ("SELECT round, count(*) AS n_fetched, " +
        "CAST(count(DISTINCT host) AS BIGINT) AS n_hosts " +
        "FROM read_parquet('/tmp/graft-verify-fixtures/oraclecrawl-sf0.01/*.parquet') " +
        "GROUP BY round ORDER BY round"),
    // timed re-crawl: the oracle replay under the same recrawl policy
    "recrawl_requeue" ->
      ("SELECT url, round, rank_in_host, " +
        "lag(round) OVER (PARTITION BY url ORDER BY round) AS prev_round " +
        "FROM read_parquet('/tmp/graft-verify-fixtures/oraclerecrawl-sf0.01/*.parquet') " +
        "ORDER BY url, round"),
    // hostRank-boosted crawl vs the oracle replay under the same policy
    "crawl_hostrank" ->
      ("SELECT url, url_hash, host, round, rank_in_host, fetch_ts, text, lang, n_links " +
        "FROM read_parquet('/tmp/graft-verify-fixtures/oraclehostrank-sf0.01/*.parquet') " +
        "ORDER BY round, host, rank_in_host"),
    // admission-capped (crawl-trap guard) crawl vs the oracle replay
    "crawl_hostcap" ->
      ("SELECT url, url_hash, host, round, rank_in_host, fetch_ts, text, lang, n_links " +
        "FROM read_parquet('/tmp/graft-verify-fixtures/oraclehostcap-sf0.01/*.parquet') " +
        "ORDER BY round, host, rank_in_host"),
    // manifest counters vs the oracle's counters fixture
    "round_counters" ->
      ("SELECT round, frontier_in, robots_blocked, dequeued, fetched, " +
        "fetch_missing, links_extracted, candidates_new, deduped_seen, " +
        "enqueued, frontier_out " +
        "FROM read_parquet('/tmp/graft-verify-fixtures/oraclecounters-sf0.01/*.parquet') " +
        "WHERE round IN (1, 2) ORDER BY round"),
    "checkpoint_roundtrip" ->
      ("SELECT CAST(max(CASE WHEN round = 1 THEN frontier_out END) AS BIGINT) " +
        "AS frontier_rows, " +
        "CAST(sum(CASE WHEN round <= 1 THEN enqueued END) AS BIGINT) AS seen_rows, " +
        "3 AS latest_round " +
        "FROM read_parquet('/tmp/graft-verify-fixtures/oraclecounters-sf0.01/*.parquet')"),
    // shared-kernel expected-column fixtures
    "url_hash64" ->
      ("SELECT url, url_hash, host_hash FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/oraclehash64-sf0.01/*.parquet') " +
        "ORDER BY url"),
    "extract_outlinks" ->
      ("SELECT url, outlink FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/oracleoutlinks-sf0.01/*.parquet') " +
        "ORDER BY url, outlink"),
    "doc_fingerprint" ->
      ("SELECT doc_id, fingerprint FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/oraclefp-sf0.01/*.parquet') " +
        "ORDER BY doc_id"),
    // sketch contracts DuckDB can check exactly: a Bloom/cuckoo filter has
    // NO false negatives, so probing exactly the inserted key set must
    // report every key present.
    "bloom_build" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS BIGINT) " +
        "AS n_contained FROM documents"),
    // sketch contracts: every inserted seed probes true (0 misses) and the
    // false-positive count stays within the sized fpp bound (see the query)
    "bloom_prefilter" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_urls, CAST(0 AS BIGINT) " +
        "AS n_seed_misses, true AS fp_within_bound FROM documents"),
    // multimodal: distributed execution vs the sequential-replay fixtures
    "multimodal_decode" ->
      ("SELECT media_id, codec, decoded_w, decoded_h, n_samples FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/oraclemedia-sf0.01/decode/*.parquet') " +
        "ORDER BY media_id"),
    "multimodal_features" ->
      ("SELECT media_id, kind, n_bytes, feature_dim FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/oraclemedia-sf0.01/features/*.parquet') " +
        "ORDER BY media_id"),
    "frame_sample" ->
      ("SELECT media_id, frame_idx, frame_hash, codec, n_frames FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/oraclemedia-sf0.01/frames/*.parquet') " +
        "ORDER BY media_id, frame_idx"),
    "treeagg_bloom" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_contained FROM documents",
    "cuckoo_build" ->
      "SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_items FROM documents",
    "approx_distinct" ->
      ("SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_urls, " +
        "true AS approx_ok FROM documents"),
    // session windows re-derived as gaps-and-islands: a new session starts
    // when the gap to the previous event reaches the 30-minute timeout
    // (Spark merges windows only while next.start < prev.end).
    "session_demo" ->
      ("WITH m AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp FROM m) " +
        "SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start, " +
        "count(*) AS n_events FROM g GROUP BY user_id, grp " +
        "ORDER BY user_id, session_start"),
    // language-ID heuristic re-derived in SQL (same stopword lists,
    // diacritic evidence, CJK share and tie rules as TextStats.langId)
    "lang_id" ->
      (s"WITH f AS (SELECT $duckLangFeatureCols FROM documents), " +
        s"p AS (SELECT $duckLangCase AS lang_pred FROM f) " +
        "SELECT lang_pred, count(*) AS n FROM p GROUP BY 1 ORDER BY 1"),
    // quality features re-derived in SQL (same ratios, caps and literals)
    "text_quality" ->
      (s"WITH f AS (SELECT doc_id, $duckQualityFeatureCols, length(text) AS nc, " +
        duckHits("'the','and','of','to','is','in','that','with','for','a'") +
        " AS h_en FROM documents) " +
        "SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, " +
        "CAST(np AS DOUBLE) / greatest(CAST(nc AS DOUBLE), 1.0) AS punct_ratio, " +
        duckQualityScore("h_en") + " AS quality_score " +
        "FROM f ORDER BY doc_id"),
    // exact n-gram Jaccard re-derived with DuckDB list functions (same
    // tokenization, 3-gram construction, distinct sets and double division)
    "ngram_jaccard" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 100000, text || ' tail marker' FROM documents), " +
        "tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk " +
        "FROM corpus), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct([array_to_string(tk[i:i+2], ' ') FOR i IN " +
        "range(1, len(tk) - 1)]) END AS sh FROM tok), " +
        "pr AS (SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents " +
        "WHERE doc_id < 50) " +
        "SELECT id_a, id_b, CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard " +
        "FROM pr JOIN sh a ON a.doc_id = pr.id_a JOIN sh b ON b.doc_id = pr.id_b " +
        "ORDER BY id_a"),
    // SimHash pairing re-derived from the materialized fingerprint table:
    // recall within hamming 3 is exact by pigeonhole, so the banded join
    // must equal this all-pairs bit_count(xor) (reps = min id per
    // fingerprint, exact-dup members as hamming-0 star edges — the same
    // collapse the engine applies).
    "dedup_simhash" ->
      ("WITH sh AS (SELECT * FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/simhashtable-sf0.01/*.parquet')), " +
        "g AS (SELECT id, simhash, min(id) OVER (PARTITION BY simhash) AS rep FROM sh), " +
        "reps AS (SELECT id, simhash FROM g WHERE id = rep) " +
        "SELECT a.id AS id_a, b.id AS id_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
        "FROM reps a JOIN reps b ON a.id < b.id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 " +
        "UNION ALL SELECT rep AS id_a, id AS id_b, CAST(0 AS INT) AS hamming " +
        "FROM g WHERE id <> rep " +
        "ORDER BY id_a, id_b"),
    // MinHash-LSH pairing re-derived from the materialized signatures:
    // all-pairs over the 16 four-hash band slices (band-hash equality in
    // the engine ⟺ slice equality here) + exact Jaccard over the shingle
    // sets, + the exact-dup stars at 1.0. Valid while no bucket exceeds
    // the hot cap (10,000 ≫ any bucket at sf0.01), where banded ≡ all-pairs.
    "dedup_minhash" ->
      ("WITH reps AS (SELECT * FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/minhashstate-sf0.01/reps/*.parquet')), " +
        "banded AS (SELECT id, j AS band_idx, sig[j*4+1:j*4+4] AS band " +
        "FROM reps, generate_series(0, 15) t(j)), " +
        "cand AS (SELECT DISTINCT a.id AS ia, b.id AS ib FROM banded a JOIN banded b " +
        "ON a.band_idx = b.band_idx AND a.band = b.band AND a.id < b.id) " +
        "SELECT ia AS id_a, ib AS id_b, " +
        "CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) / " +
        "CAST(len(list_distinct(list_concat(x.shingles, y.shingles))) AS DOUBLE) AS jaccard " +
        "FROM cand JOIN reps x ON x.id = ia JOIN reps y ON y.id = ib " +
        "WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) / " +
        "CAST(len(list_distinct(list_concat(x.shingles, y.shingles))) AS DOUBLE) >= 0.5 " +
        "UNION ALL SELECT id_a, id_b, CAST(1.0 AS DOUBLE) AS jaccard FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/minhashstate-sf0.01/stars/*.parquet') " +
        "ORDER BY id_a, id_b"),
    // exact cosine top-k recomputed with DuckDB's own list math; both
    // sides upcast float32 → double before arithmetic and round the score
    // to 6 decimals (summation-order ulps ~1e-15 sit far inside the grid)
    "embed_cosine_topk" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "scored AS (SELECT qid, vec_id, list_cosine_similarity(v, qv) AS cos " +
        "FROM e CROSS JOIN q WHERE vec_id <> qid), " +
        "ranked AS (SELECT qid AS query_id, vec_id AS neighbor_id, " +
        "round(cos, 6) AS cosine, CAST(row_number() OVER " +
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, cosine, rank FROM ranked " +
        "WHERE rank <= 5 ORDER BY query_id, rank"),
    // ANN re-derived from the materialized index state (the minhashState
    // trust model: buckets/probes are hash state; candidate join, dedup,
    // exact cosine, ranking and top-k are re-run independently in DuckDB)
    "embed_ann_lsh" ->
      ("WITH c AS (SELECT * FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/annlsh-sf0.01/corpus/*.parquet')), " +
        "p AS (SELECT * FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/annlsh-sf0.01/probes/*.parquet')), " +
        "q AS (SELECT DISTINCT query_id, qv FROM p), " +
        "cand AS (SELECT DISTINCT p.query_id, c.vec_id FROM c JOIN p USING (bucket) " +
        "WHERE c.vec_id <> p.query_id), " +
        "scored AS (SELECT cand.query_id, cand.vec_id, " +
        "list_cosine_similarity(c.v, q.qv) AS cos FROM cand " +
        "JOIN c ON c.vec_id = cand.vec_id JOIN q ON q.query_id = cand.query_id), " +
        "ranked AS (SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cosine, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) " +
        "AS INT) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, cosine, rank FROM ranked " +
        "WHERE rank <= 5 ORDER BY query_id, rank"),
    "embed_ann_ivf" ->
      ("WITH c AS (SELECT * FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/annivf-sf0.01/corpus/*.parquet')), " +
        "p AS (SELECT * FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/annivf-sf0.01/probes/*.parquet')), " +
        "q AS (SELECT DISTINCT query_id, qv FROM p), " +
        "cand AS (SELECT DISTINCT p.query_id, c.vec_id FROM c JOIN p USING (ivf_list) " +
        "WHERE c.vec_id <> p.query_id), " +
        "scored AS (SELECT cand.query_id, cand.vec_id, " +
        "list_cosine_similarity(c.v, q.qv) AS cos FROM cand " +
        "JOIN c ON c.vec_id = cand.vec_id JOIN q ON q.query_id = cand.query_id), " +
        "ranked AS (SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cosine, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) " +
        "AS INT) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, cosine, rank FROM ranked " +
        "WHERE rank <= 5 ORDER BY query_id, rank"),
    // near-dup pairing re-derived from the materialized (bucket, sub_bucket)
    // blocking state: within-block self-join + cosine threshold in DuckDB
    "embed_neardup" ->
      ("WITH b AS (SELECT * FROM " +
        "read_parquet('/tmp/graft-verify-fixtures/neardupbuckets-sf0.01/*.parquet')) " +
        "SELECT a.vec_id AS id_a, c.vec_id AS id_b, " +
        "round(list_cosine_similarity(a.v, c.v), 6) AS cosine " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.sub_bucket = c.sub_bucket " +
        "AND a.vec_id < c.vec_id " +
        "WHERE list_cosine_similarity(a.v, c.v) >= 0.999 " +
        "ORDER BY id_a, id_b"),
    // the composed cleaning pass re-derived end-to-end in SQL: the same
    // lang-id CASE and quality formula as the duck-green lang_id /
    // text_quality oracles, then group-by-text arg_min collapse (= the
    // engine's 128-bit-text-key min_by) and the per-source rollup. avg is
    // rounded to 6 on both sides (summation-order ulps sit inside the grid).
    "corpus_pipeline" ->
      ("WITH corpus AS (SELECT doc_id, source, text FROM documents " +
        "UNION ALL SELECT doc_id + 100000, source, text FROM documents), " +
        s"f AS (SELECT doc_id, source, text, $duckLangFeatureCols, " +
        s"$duckQualityFeatureCols FROM corpus), " +
        s"p AS (SELECT doc_id, source, text, nt, $duckLangCase AS lang_pred, " +
        duckQualityScore("h_en") + " AS quality_score " +
        "FROM f), " +
        "gated AS (SELECT * FROM p WHERE lang_pred = 'en' AND quality_score >= 0.5), " +
        "reps AS (SELECT arg_min(source, doc_id) AS source, " +
        "arg_min(nt, doc_id) AS n_tokens, " +
        "arg_min(quality_score, doc_id) AS quality_score " +
        "FROM gated GROUP BY text) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "round(avg(quality_score), 6) AS avg_quality " +
        "FROM reps GROUP BY source ORDER BY source"),
    // PageRank re-derived by unrolling the same 10 power iterations in SQL
    // over the oracle outlinks fixture (byte-checked by extract_outlinks):
    // same vertex set, self-edge drop, edge multiplicity, damping 0.85,
    // uniform dangling-mass fold; rounded to 9 decimals on both sides
    "link_rank" -> linkRankOracleSql)

  /** The driver-facing oracle map. The SQL literals above reference the
    * default verify-sf fixture paths (`…-sf0.01/`); when the
    * `-Dgraft.verify.fixtureSf` override moves the fixture WRITES, this one
    * exit point rewrites the READ paths to match — the two can never point
    * at different sf tags (a split would either fail on missing files or,
    * worse, silently compare against a stale other-sf fixture). */
  val oracleSql: Map[String, String] =
    if (fixtureSfTag == "sf0.01") oracleSql0
    else oracleSql0.map { case (k, v) =>
      k -> v.replace("-sf0.01/", s"-$fixtureSfTag/")
    }
}
