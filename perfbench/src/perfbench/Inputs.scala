package perfbench

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.spider.CrawlOracle
import graft.spider.core.{Corpus, CrawlConfig, FrontierEntry, Hash64, UrlCanonical}

/** Seeded input generators. Every table the program reads is made here; the
  * same workload seed gives byte-identical inputs. The `documents` and
  * `embeddings` tables follow the schema of the repo's synthetic sf tables
  * (doc_id contiguous from 0, text of short technical words, lang label,
  * source = src<doc_id mod Hosts>). Their content comes from a fixed corpus
  * seed, so the work a query does is the same for every workload seed; the
  * workload seed draws the crawl's seed URLs and the tables' row order. */
object Inputs {

  final val CorpusSeed = 42L
  /** Sources (crawl hosts) the documents are spread over. */
  final val Hosts = 20

  private val words = Array(
    "a", "the", "batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "customer", "vector", "of", "and", "to", "is", "le", "la",
    "der", "die", "el", "los", "de", "und", "en")
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "de", "de", "fr", "fr", "es", "es")

  /** `n` documents over `Hosts` sources. About 1% of texts repeat an earlier
    * document's text, so the exact-dedup and near-dup operators bind. */
  def documents(n: Int): Seq[CrawlOracle.Doc] = {
    val rnd = new scala.util.Random(CorpusSeed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 10 && rnd.nextInt(100) == 0) texts(rnd.nextInt(i))
        else Iterator.fill(8 + rnd.nextInt(93))(words(rnd.nextInt(words.length))).mkString(" ")
      CrawlOracle.Doc(i.toLong, texts(i), langs(rnd.nextInt(langs.length)), s"src${i % Hosts}")
    }
  }

  /** Writes the rows in an order drawn from `seed`. */
  def writeDocuments(spark: SparkSession, docs: Seq[CrawlOracle.Doc], seed: Long,
      dir: String): Unit = {
    import spark.implicits._
    new scala.util.Random(seed).shuffle(docs)
      .map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** `n` float32 vectors of dimension 64 around 16 cluster centres, rows in
    * an order drawn from `seed`. */
  def writeEmbeddings(spark: SparkSession, n: Int, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(CorpusSeed ^ 0x5eed)
    val centres = Array.fill(16, 64)(rnd.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = rnd.nextInt(centres.length)
      (i.toLong, Array.tabulate(64)(d => (centres(c)(d) + 0.3 * rnd.nextGaussian()).toFloat), c)
    }
    new scala.util.Random(seed).shuffle(rows).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Seed list: `perHost` documents of every host, drawn with the workload
    * seed, as oracle entries (the engine's rows are built from the same
    * list). Equal seeds per host keep round volume within a few percent
    * across draws. */
  def seedEntries(docs: Seq[CrawlOracle.Doc], perHost: Int, seed: Long,
      cfg: CrawlConfig): Vector[CrawlOracle.Entry] = {
    val rnd = new scala.util.Random(seed ^ 0xc0ffee)
    docs.groupBy(_.source).toSeq.sortBy(_._1)
      .flatMap { case (_, ds) => rnd.shuffle(ds.toVector).take(perHost) }
      .sortBy(_.docId).map { d =>
        val url = UrlCanonical.canonicalize(Corpus.urlOf(d.source, d.docId))
        CrawlOracle.Entry(url, Hash64.string(url), UrlCanonical.host(url), cfg.seedPriority, 0,
          Corpus.warcTsMicros(d.docId))
      }.toVector
  }

  def seedFrame(spark: SparkSession, seeds: Seq[CrawlOracle.Entry]): Dataset[FrontierEntry] = {
    import spark.implicits._
    seeds.map(e => FrontierEntry(e.url, e.urlHash, e.host, Hash64.string(e.host), e.priority,
      e.discoveredRound, Instant.EPOCH.plusNanos(e.warcTsMicros * 1000L))).toDS()
  }

  /** Rows of `df` as a persisted frame spread over the session's cores. */
  def cached(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val out = (if (df.rdd.getNumPartitions < par) df.repartition(par) else df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }
}
