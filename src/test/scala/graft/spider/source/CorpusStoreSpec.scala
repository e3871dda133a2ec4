package graft.spider.source

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spider.PlanShapes.{exchangesAbove, finalPlan, nodes}
import graft.spider.SparkTestBase
import graft.spider.core.CrawlConfig
import graft.spider.synth.{CorpusStore, PagesSynth}

/** The bucketed on-disk corpus layout: byte-identical round-trip, an
  * exchange-free fetch join above the bucketed scan, and a full crawl over
  * the opened table equal to one over the in-memory corpus. */
class CorpusStoreSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private val buckets = 4

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-corpus-").toString
    val pages = PagesSynth.pages(spark, sfDir, replicate = 2, spreadHosts = true)
    val rows = CorpusStore.write(spark, pages, d, buckets)
    assert(rows == pages.count())
    d
  }

  private def opened(): DataFrame = CorpusStore.open(spark, dir)

  test("round-trips the corpus byte-for-byte") {
    val orig = PagesSynth.pages(spark, sfDir, replicate = 2, spreadHosts = true)
    val got = opened()
    assert(got.count() == orig.count())
    // except is symmetric-checked both ways; html carries the full payload
    assert(got.exceptAll(orig).isEmpty && orig.exceptAll(got).isEmpty)
    assert(CorpusStore.rowCount(dir) == orig.count())
  }

  test("fetch-shaped join: only the probe side shuffles, corpus scan stays in place") {
    val pages = opened()
    val probe = pages.select("url").sample(0.3, seed = 7)
      .withColumn("rank_in_host", lit(1))
    val joined = pages.join(probe.hint("shuffle_hash"), Seq("url"), "inner")
    val plan = finalPlan(joined)
    val bucketedScan: SparkPlan => Boolean = {
      case s: FileSourceScanExec => s.bucketedScan
      case _ => false
    }
    assert(nodes(plan).exists(bucketedScan), s"no bucketed scan in plan:\n$plan")
    assert(exchangesAbove(plan)(bucketedScan).isEmpty, s"corpus side re-shuffled:\n$plan")
    assert(joined.count() == probe.count())
  }

  test("crawl over the opened table ≡ crawl over the in-memory corpus") {
    val cfg = CrawlConfig(rounds = 2)
    def crawl(pages: DataFrame): Array[(String, Int)] = {
      val robots = PagesSynth.robotsFor(spark,
        pages.select(graft.spider.expr.SpiderFunctions.url_host(col("url")).as("host"))
          .distinct())
      val seeds = PagesSynth.seedsFromPages(spark, pages, perReplicaDocs = 5, cfg)
      val state = Files.createTempDirectory("graft-corpus-crawl-").toString
      val catalog = graft.spider.CrawlDriver.run(spark, pages, seeds, robots, cfg, state)
      catalog.readCrawled(cfg.rounds).select("url", "round")
        .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    }
    val viaStore = crawl(opened())
    val viaMemory = crawl(
      PagesSynth.pages(spark, sfDir, replicate = 2, spreadHosts = true).cache())
    assert(viaStore.sameElements(viaMemory))
  }
}
