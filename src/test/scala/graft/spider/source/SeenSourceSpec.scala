package graft.spider.source

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spider.PlanShapes.{exchangesAbove, finalPlan, storagePartitioned, withConfs}
import graft.spider.SparkTestBase

/** The DSv2 bucketed seen reader: correct rows, pruned columns, and — the
  * point of its existence — a storage-partitioned membership join with NO
  * Exchange above the seen scan (the classic fallback's full-history
  * exchange eliminated; VERDICT r2 task #3). */
class SeenSourceSpec extends AnyFunSuite with SparkTestBase {

  private val buckets = 8

  /** Two "round delta" file sets, bucket-partitioned like CrawlCatalog. */
  private lazy val (dirs, expected): (Seq[String], Set[(Long, String)]) = {
    val root = Files.createTempDirectory("graft-seen-src-").toString
    val rows = (0L until 5000L).map(i => (i * 2654435761L, s"https://h${i % 37}.example/p$i"))
    val (a, b) = rows.splitAt(3000)
    val dfs = Seq(a, b).zipWithIndex.map { case (part, i) =>
      val df = spark.createDataFrame(part).toDF("url_hash", "url")
        .withColumn("seen_bucket", pmod(col("url_hash"), lit(buckets.toLong)).cast("int"))
      df.repartition(col("seen_bucket")).write.mode("overwrite")
        .partitionBy("seen_bucket").parquet(s"$root/r$i")
      s"$root/r$i"
    }
    (dfs, rows.toSet)
  }

  private def loadSeen(): DataFrame = SeenSource.load(spark, dirs, buckets)

  test("reads the union of file sets byte-for-byte (all columns)") {
    val got = loadSeen().select("url_hash", "url", "seen_bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.length == expected.size)
    assert(got.map(t => (t._1, t._2)).toSet == expected)
    got.foreach { case (h, _, b) =>
      assert(b == ((h % buckets + buckets) % buckets).toInt)
    }
  }

  test("column pruning reaches the parquet read (key-only probe decodes url_hash alone)") {
    val keys = loadSeen().select("url_hash")
    assert(keys.queryExecution.executedPlan.toString.contains("url_hash"))
    assert(keys.collect().map(_.getLong(0)).toSet == expected.map(_._1))
  }

  test("storage-partitioned join: no Exchange above the seen scan, results exact") {
    withConfs(storagePartitioned: _*) {
      val seen = loadSeen().select("seen_bucket", "url_hash")
      // candidate side: half hits, half misses
      val cand = spark.range(0, 2000)
        .select((col("id") * 2654435761L + when(col("id") % 2 === 0, 0L).otherwise(1L))
          .as("url_hash"))
        .withColumn("seen_bucket", pmod(col("url_hash"), lit(buckets.toLong)).cast("int"))
      val joined = cand.join(seen, Seq("seen_bucket", "url_hash"), "left_semi")
      val plan = joined.queryExecution.executedPlan.toString

      // the seen side must come straight from the BatchScan with key-grouped
      // partitioning — no Exchange between the scan and the join
      assert(plan.contains("BatchScan"), s"expected a v2 BatchScan:\n$plan")
      val scanSide = plan.linesIterator.filter(_.contains("BatchScan")).mkString
      assert(exchangesAbove(finalPlan(joined))(_.isInstanceOf[BatchScanExec]).isEmpty,
        s"seen side re-shuffled:\n$plan\n$scanSide")

      assert(joined.count() == 1000L)
    }
  }
}
