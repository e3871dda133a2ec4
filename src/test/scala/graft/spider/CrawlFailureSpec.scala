package graft.spider

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spider.core.CrawlConfig
import graft.spider.state.CrawlCatalog
import graft.spider.synth.PagesSynth

/** A crawl that fails mid-run hands its own exception to the caller and
  * leaves no cached blocks behind in the session. */
class CrawlFailureSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("a fetch failure after round 1 commits reaches the caller; no cached RDD survives") {
    val stateDir = Files.createTempDirectory("graft-crawl-fail-").toString
    // every pages scan fails once round 1's manifest is committed: under the
    // depth-1 commit pipeline that is round 3's fetch, while round 2's
    // commit is still pending
    val round1 = Paths.get(stateDir, "snapshots", "snapshot-00001.json").toString
    val failAfterRound1 = udf { (_: String) =>
      if (Files.exists(Paths.get(round1)))
        throw new IllegalStateException("injected fetch failure")
      true
    }
    val pages = PagesSynth.pages(spark, sfDir).filter(failAfterRound1(col("url")))
    val cfg = CrawlConfig(rounds = 4)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet

    val e = intercept[Exception] {
      CrawlDriver.run(spark, pages, PagesSynth.seeds(spark, sfDir, cfg),
        PagesSynth.robots(spark, sfDir), cfg, stateDir)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => Option(c.getMessage).exists(_.contains("injected fetch failure"))),
      s"the crawl's own exception did not reach the caller: $e")
    assert(new CrawlCatalog(stateDir, spark).latestRound.contains(1))

    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(leaked.isEmpty, s"cached RDDs left by the failed crawl: ${leaked.values}")
    assert(sc.getPersistentRDDs.size <= before.size)
  }
}
