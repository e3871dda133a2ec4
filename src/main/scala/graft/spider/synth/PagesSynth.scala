package graft.spider.synth

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.spider.core.{Corpus, CrawlConfig, FrontierEntry, RobotsRule}
import graft.spider.expr.SpiderFunctions._

/** Deterministic Common-Crawl-style corpus synthesizer (SURVEY.md §2.1 S2,
  * FIXTURES.md §1) — a pure function of the driver-provided documents table;
  * no wall clock, no randomness beyond seeded xxhash64. The single-threaded
  * oracle builds the identical corpus from the same rows via the shared core
  * functions; a spec asserts the two are row-identical.
  *
  * All columns are built with Catalyst expressions (concat / xxhash64 /
  * pmod / sequence+explode / collect_list), so the generator itself is a
  * distributed, codegen-friendly plan — at bench scale it is replicated ×K
  * with shifted doc_ids rather than collected to the driver.
  */
object PagesSynth {

  final val ReplicaStride = 10000000L // doc_id' = doc_id + k·10^7 (FIXTURES §1)

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Base docs count; the synth link graph is closed over [0, nDocs·K). */
  private def assertContiguous(docs: DataFrame): Long = {
    val row = docs.agg(count("*"), max("doc_id")).head()
    val n = row.getLong(0)
    require(row.getLong(1) == n - 1,
      s"documents.doc_id expected contiguous 0..${n - 1}")
    n
  }

  /** The `pages` table: (url, warc_ts, html, text, lang). `replicate`=K
    * scales the corpus ×K deterministically for the bench; `spreadHosts`
    * additionally gives each replica k>0 its own host namespace
    * (source → source + "rk"), so the frontier spans K×20 hosts — replica 0
    * keeps the base hosts, which keeps the seed list valid. */
  def pages(spark: SparkSession, sfDir: String, replicate: Int = 1,
      spreadHosts: Boolean = false, noiseLen: Int = 0): DataFrame = {
    val docs0 = documents(spark, sfDir).select("doc_id", "text", "lang", "source")
    val n0 = assertContiguous(docs0)
    val nTotal = n0 * replicate

    def spread(src: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) =
      if (!spreadHosts) src
      else concat(src, when(k === 0, lit("")).otherwise(concat(lit("r"), k.cast("string"))))

    val docs =
      if (replicate == 1) docs0
      else docs0.crossJoin(
          spark.range(replicate).select(col("id").as("k")))
        .withColumn("doc_id", col("doc_id") + col("k") * lit(ReplicaStride))
        .withColumn("source", spread(col("source"), col("k")))
        .drop("k")

    val base = docs
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example.com/doc/"), col("doc_id")))
      .withColumn("warc_ts", timestamp_micros(
        lit(Corpus.WarcBaseMicros) + col("doc_id") * lit(Corpus.MicrosPerMinute)))
      .withColumn("n_links", (pmod(xxhash64(col("url")), lit(4L)) + 1).cast("int"))

    // link j of url targets doc index pmod(xxhash64(url#j), nTotal); replica
    // index maps back to a base doc (same source/text) with a shifted doc_id.
    val tgtMap = docs0.select(col("doc_id").as("tgt_base"), col("source").as("tgt_source"))
    val links = base
      .select(col("doc_id"), col("url"),
        explode(sequence(lit(1), col("n_links"))).as("j"))
      .withColumn("idx",
        pmod(xxhash64(concat(col("url"), lit("#"), col("j").cast("string"))), lit(nTotal)))
      .withColumn("tgt_base", col("idx") % lit(n0))
      .withColumn("tgt_k", (col("idx") / lit(n0)).cast("long"))
      .join(broadcast(tgtMap), "tgt_base")
      .withColumn("tgt_doc", col("tgt_base") + col("tgt_k") * lit(ReplicaStride))
      .withColumn("tgt_source", spread(col("tgt_source"), col("tgt_k")))
      .withColumn("tgt_url", concat(lit("https://"), col("tgt_source"),
        lit(".example.com/doc/"), col("tgt_doc")))
      .groupBy("doc_id")
      .agg(transform(sort_array(collect_list(struct(col("j"), col("tgt_url")))),
        x => x.getField("tgt_url")).as("outlinks"))

    base.join(links, "doc_id")
      .withColumn("html", wrap_html(col("doc_id"), col("text"), col("outlinks"),
        concat(col("source"), lit(".example.com")), noiseLen))
      .select("url", "warc_ts", "html", "text", "lang")
  }

  /** `pages` persisted and materialized once, for a session that re-joins
    * it every round or query. r6: the partition layout is chosen before
    * persisting — a sandbox-scale documents file scans as ONE split (4 MB
    * openCost floor) and the replicate crossJoin inherits ≤ replicate
    * non-empty partitions, so every scan stage of the cache would run
    * serial; a scan that already meets the session parallelism (the
    * production case) is kept as is, so nothing is tuned to the local core
    * count. */
  def cached(pages: DataFrame): DataFrame = {
    val par = pages.sparkSession.sparkContext.defaultParallelism
    val df = (if (pages.rdd.getNumPartitions < par) pages.repartition(par) else pages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Seed frontier: first `nSeeds` urls by doc_id, priority = seedPriority. */
  def seeds(spark: SparkSession, sfDir: String, cfg: CrawlConfig): Dataset[FrontierEntry] = {
    import spark.implicits._
    documents(spark, sfDir)
      .orderBy("doc_id").limit(cfg.nSeeds)
      .withColumn("url", url_canonicalize(concat(lit("https://"), col("source"),
        lit(".example.com/doc/"), col("doc_id"))))
      .select(
        col("url"),
        xxhash64(col("url")).as("url_hash"),
        concat(col("source"), lit(".example.com")).as("host"),
        xxhash64(concat(col("source"), lit(".example.com"))).as("host_hash"),
        lit(cfg.seedPriority).as("priority"),
        lit(0).as("discovered_round"),
        timestamp_micros(lit(Corpus.WarcBaseMicros) +
          col("doc_id") * lit(Corpus.MicrosPerMinute)).as("warc_ts"))
      .as[FrontierEntry]
  }

  /** Per-host robots rules derived deterministically from the host hash
    * (FIXTURES.md §3); one row per corpus host. */
  def robots(spark: SparkSession, sfDir: String): Dataset[RobotsRule] = {
    robotsFor(spark, documents(spark, sfDir)
      .select(concat(col("source"), lit(".example.com")).as("host")).distinct())
  }

  /** Seed frontier drawn from an already-synthesized (possibly host-spread)
    * corpus: the first `perReplicaDocs` docs of every replica — spreads the
    * seeds over all replica host namespaces for bench-scale frontiers. */
  def seedsFromPages(spark: SparkSession, pages: DataFrame, perReplicaDocs: Int,
      cfg: CrawlConfig): Dataset[FrontierEntry] = {
    import spark.implicits._
    import graft.spider.expr.SpiderFunctions.{url_canonicalize, url_host}
    pages
      .withColumn("doc", regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long"))
      .filter(pmod(col("doc"), lit(ReplicaStride)) < perReplicaDocs)
      .withColumn("url", url_canonicalize(col("url")))
      .withColumn("host", url_host(col("url")))
      .select(
        col("url"), xxhash64(col("url")).as("url_hash"),
        col("host"), xxhash64(col("host")).as("host_hash"),
        lit(cfg.seedPriority).as("priority"),
        lit(0).as("discovered_round"), col("warc_ts"))
      .as[FrontierEntry]
  }

  /** Same rules over an arbitrary host set (e.g. a host-spread bench corpus). */
  def robotsFor(spark: SparkSession, hosts: DataFrame): Dataset[RobotsRule] = {
    import spark.implicits._
    hosts.select(
        col("host"),
        when(pmod(xxhash64(col("host")), lit(5L)) === 0, array(lit("/doc/1")))
          .otherwise(array().cast("array<string>")).as("disallow_prefixes"),
        (lit(500L) + lit(250L) * pmod(xxhash64(col("host")), lit(4L))).as("crawl_delay_ms"))
      .as[RobotsRule]
  }
}
