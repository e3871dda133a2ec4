package graft.spider

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.{LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.spider.PlanShapes._
import graft.spider.core.{CrawlConfig, Hash64, RoundCounters}
import graft.spider.sketch.Sketches
import graft.spider.state.{CrawlCatalog, SketchParams}
import graft.spider.synth.PagesSynth

/** The crawl round's exchange, join and window shapes, asserted on the
  * executed plans of the engine's own frames over the sf0.001 corpus and a
  * small committed seen history. Nothing here runs a crawl. */
class CrawlPlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = CrawlConfig()

  private lazy val pages = PagesSynth.pages(spark, sfDir)
  private lazy val robots = PagesSynth.robots(spark, sfDir).toDF()
  private lazy val frontier =
    PagesSynth.seedsFromPages(spark, pages, perReplicaDocs = Int.MaxValue, cfg).toDF()
  private lazy val cand = frontier.select("url", "url_hash", "host", "warc_ts")

  /** Two committed rounds of seen deltas, bucketed as the engine writes them. */
  private lazy val catalog: CrawlCatalog = {
    val c = new CrawlCatalog(Files.createTempDirectory("graft-plan-shape-").toString, spark)
    val params = SketchParams(cfg.seenBuckets, cfg.bloomShards, cfg.bloomExpectedItems, cfg.bloomFpp)
    (0 to 1).foreach { r =>
      val pc = c.beginCommit(r)
      pc.stage("seen", frontier.filter(pmod(col("url_hash"), lit(3L)) === r)
        .select(col("url_hash"), col("url"),
          CrawlEngine.seenBucketCol(col("url_hash"), cfg.seenBuckets).as("seen_bucket")))
      pc.finalizeCommit(None, params, RoundCounters(r, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    }
    c
  }

  /** A join input that arrives through a (possibly reused) broadcast. */
  private def viaBroadcast(p: SparkPlan): Boolean = p match {
    case i: InputAdapter => viaBroadcast(i.child)
    case r: ReusedExchangeExec => viaBroadcast(r.child)
    case _ => p.isInstanceOf[BroadcastExchangeExec]
  }

  /** The sharded Bloom over the committed seen history, built as the engine
    * builds it on resume. */
  private lazy val bloom = spark.sparkContext.broadcast(
    Sketches.shardedFrom(CrawlDriver.bloomOf(catalog.readSeen(1), cfg)))

  private def joinsOver(plan: SparkPlan)(isScan: SparkPlan => Boolean): Seq[BaseJoinExec] =
    nodes(plan).collect { case j: BaseJoinExec if nodes(j).exists(isScan) => j }

  test("flipped seen probe: seen scans read url_hash alone and are never shuffled") {
    withConfs(staticPlanning: _*) {
      val seen = CrawlEngine.SeenInput(catalog.readSeenBucketed(1),
        catalog.readSeenV2(1, cfg.seenBuckets), None)
      val plan = finalPlan(CrawlEngine.flagAgainstSeen(cand, seen, bloom, cfg, flip = true))
      val isSeenScan: SparkPlan => Boolean = {
        case s: FileSourceScanExec => s.relation.partitionSchema.fieldNames.contains("seen_bucket")
        case _ => false
      }
      val seenScans = nodes(plan).collect { case s: FileSourceScanExec if isSeenScan(s) => s }
      assert(seenScans.size == 2, plan)
      seenScans.foreach(s => assert(s.requiredSchema.fieldNames.toSeq == Seq("url_hash"), s))
      // the only exchange over the history is the broadcast of the hit set
      assert(exchangesAbove(plan)(isSeenScan).forall(_.isInstanceOf[BroadcastExchangeExec]), plan)
      // the optimizer pushes the semi join below the union: one per scan
      val semis = nodes(plan).collect { case j: BaseJoinExec if j.joinType == LeftSemi => j }
      assert(semis.size == seenScans.size, plan)
      semis.foreach { j =>
        val (seenSide, probeSide) = j.children.partition(nodes(_).exists(isSeenScan))
        assert(seenSide.size == 1 && exchangesAbove(seenSide.head)(isSeenScan).isEmpty, plan)
        assert(probeSide.forall(viaBroadcast), plan)
      }
      val hitsJoin = nodes(plan).collect { case j: BaseJoinExec if j.joinType == LeftOuter => j }
      assert(hitsJoin.size == 1, plan)
      assert(hitsJoin.head.children.exists(c => viaBroadcast(c) && nodes(c).exists(isSeenScan)), plan)
    }
  }

  test("classic seen path: storage-partitioned, shuffled-hash join built on the candidates") {
    withConfs(staticPlanning ++ storagePartitioned: _*) {
      val seen = CrawlEngine.SeenInput(catalog.readSeenBucketed(1),
        catalog.readSeenV2(1, cfg.seenBuckets), None)
      val plan = finalPlan(CrawlEngine.flagAgainstSeen(cand, seen, bloom, cfg, flip = false))
      val isV2Scan: SparkPlan => Boolean = _.isInstanceOf[BatchScanExec]
      assert(nodes(plan).exists(isV2Scan), plan)
      assert(exchangesAbove(plan)(isV2Scan).isEmpty, plan)
      joinsOver(plan)(isV2Scan) match {
        case Seq(j: ShuffledHashJoinExec) =>
          val build = if (j.buildSide == BuildLeft) j.left else j.right
          assert(!nodes(build).exists(isV2Scan), s"the seen history is the build side:\n$plan")
        case other => fail(s"expected one ShuffledHashJoin over the seen scan, got " +
          s"${other.map(_.nodeName)}:\n$plan")
      }
    }
  }

  test("classic seen path with the in-flight delta: delta joined on (seen_bucket, url_hash), is_new exact") {
    withConfs(staticPlanning ++ storagePartitioned: _*) {
      // the previous round's uncommitted delta, an in-memory checkpoint as
      // the engine carries it, disjoint from the committed rounds
      val deltaRows = frontier.filter(pmod(col("url_hash"), lit(6L)) === 2)
        .select(col("url_hash"), col("url")).localCheckpoint(true)
      val delta = deltaRows
        .withColumn("seen_bucket", CrawlEngine.seenBucketCol(col("url_hash"), cfg.seenBuckets))
      // as in a crawl, the Bloom already covers the in-flight delta
      val bloomAll = spark.sparkContext.broadcast(Sketches.shardedFrom(
        CrawlDriver.bloomOf(catalog.readSeen(1).unionByName(deltaRows), cfg)))
      try {
        val seen = CrawlEngine.SeenInput(catalog.readSeenBucketed(1),
          catalog.readSeenV2(1, cfg.seenBuckets), Some(delta))
        val flagged = CrawlEngine.flagAgainstSeen(cand, seen, bloomAll, cfg, flip = false)
        val plan = finalPlan(flagged)
        val isV2Scan: SparkPlan => Boolean = _.isInstanceOf[BatchScanExec]
        assert(nodes(plan).exists(isV2Scan), plan)
        // the committed history still joins storage-partitioned: no
        // exchange between its scan and the shuffled-hash join over it
        // (the delta join above re-shuffles that join's candidate-sized
        // output, not the history)
        joinsOver(plan)(isV2Scan).collect { case j: ShuffledHashJoinExec => j } match {
          case Seq(j) =>
            val seenSide = j.children.filter(nodes(_).exists(isV2Scan))
            assert(seenSide.size == 1 && exchangesAbove(seenSide.head)(isV2Scan).isEmpty, plan)
            val build = if (j.buildSide == BuildLeft) j.left else j.right
            assert(!nodes(build).exists(isV2Scan), s"the seen history is the build side:\n$plan")
          case other => fail(s"expected one ShuffledHashJoin over the seen scan, got " +
            s"${other.map(_.nodeName)}:\n$plan")
        }
        val deltaJoins = nodes(plan).collect {
          case j: BaseJoinExec if j.children.exists(_.output.exists(_.name == "hit_d")) => j
        }
        assert(deltaJoins.size == 1, plan)
        Seq(deltaJoins.head.leftKeys, deltaJoins.head.rightKeys).foreach { keys =>
          assert(keys.map(_.references.map(_.name).toSet) ==
            Seq(Set("seen_bucket"), Set("url_hash")), plan)
        }

        val committed = catalog.readSeen(1).select("url_hash")
        val expected = cand.join(committed.unionByName(deltaRows.select("url_hash")),
          Seq("url_hash"), "left_anti").select("url_hash").collect().map(_.getLong(0)).sorted
        val isNew = flagged.filter(col("is_new")).select("url_hash")
          .collect().map(_.getLong(0)).sorted
        assert(flagged.count() == cand.count())
        assert(deltaRows.count() > 0 && expected.length < cand.count() - committed.count())
        assert(isNew.toSeq == expected.toSeq)
      } finally {
        CrawlEngine.release(deltaRows)
        bloomAll.destroy()
      }
    }
  }

  test("dequeue: one full-row host exchange under the rank window, cutoff filter below it") {
    val fullRowByHost: SparkPlan => Boolean = {
      case e: ShuffleExchangeExec => e.output.exists(_.name == "url") &&
        (e.outputPartitioning match {
          case HashPartitioning(Seq(a: Attribute), _) => a.name == "host"
          case _ => false
        })
      case _ => false
    }
    val cutoffPredicate: SparkPlan => Boolean = {
      case f: FilterExec => f.condition.references.exists(_.name == "prio_cutoff")
      case j: BaseJoinExec => j.condition.exists(_.references.exists(_.name == "prio_cutoff"))
      case _ => false
    }
    withConfs(staticPlanning: _*) {
      // robots broadcast, then robots too large to broadcast: the host
      // exchange of the robots join must serve the rank window too
      for (robotsRows <- Seq(0L, CrawlConfig.robotsBroadcastMax + 1)) {
        val dq = CrawlEngine.buildDequeue(spark, pages, robots, frontier, 1, cfg,
          frontierInBound = 1000L, robotsRows = robotsRows)
        try {
          val plan = inlineCaches(finalPlan(dq.dequeued), dq.ranked, dq.eligible)
          val rank = nodes(plan).collect {
            case w: WindowExec if w.windowExpression.exists(_.name == "rank_in_host") => w
          }
          assert(rank.size == 1, plan)
          val hostExchanges = nodes(rank.head).filter(fullRowByHost)
          assert(hostExchanges.size == 1, s"robotsRows=$robotsRows:\n$plan")
          if (robotsRows == 0L)
            assert(nodes(hostExchanges.head).exists(cutoffPredicate), plan)
        } finally dq.cached.foreach(CrawlEngine.release)
      }
    }
  }

  test("fetch join above fetchBroadcastMax: shuffled-hash, url-partitioned pages not re-shuffled") {
    withConfs(staticPlanning: _*) {
      val byUrl = pages.repartition(8, col("url")).persist(StorageLevel.MEMORY_AND_DISK)
      val dq = CrawlEngine.buildDequeue(spark, byUrl, robots, frontier, 1, cfg,
        frontierInBound = cfg.fetchBroadcastMax + 1, robotsRows = 0L)
      try {
        val plan = inlineCaches(finalPlan(dq.extracted), dq.extracted)
        val isPages: SparkPlan => Boolean = {
          case s: InMemoryTableScanExec => s.output.exists(_.name == "html")
          case _ => false
        }
        assert(joinsOver(plan)(isPages).map(_.getClass) == Seq(classOf[ShuffledHashJoinExec]), plan)
        assert(!nodes(plan).exists(_.isInstanceOf[SortMergeJoinExec]), plan)
        assert(exchangesAbove(plan)(isPages).isEmpty, plan)
      } finally (dq.cached :+ byUrl).foreach(CrawlEngine.release)
    }
  }

  test("two-phase capPerHost and rankPerHost: salted window, bound filter, exact window") {
    import spark.implicits._
    // one trap host holds almost every row
    val rows = (0 until 500).map(i => (s"http://trap.example/p$i", "trap.example", 5 - i % 3)) ++
      (0 until 60).map(i => (s"http://ok${i % 6}.example/p$i", s"ok${i % 6}.example", 5))
    val entries = rows.map { case (u, h, p) => (u, Hash64.string(u), h, p) }
      .toDF("url", "url_hash", "host", "priority")
      .withColumn("warc_ts", timestamp_micros(lit(1700000000000000L) + pmod(col("url_hash"), lit(7L))))
      .withColumn("budget", lit(5L))
    val twoPhase = cfg.copy(twoPhaseDequeue = true, maxNewPerHost = 3)

    /** Two windows, (host, salt) below host, with the bound on `preselCol`
      * filtered between them. */
    def assertTwoPhase(df: DataFrame, preselCol: String): SparkPlan = {
      val plan = finalPlan(df)
      val windows = nodes(plan).collect { case w: WindowExec => w }
      assert(windows.map(_.partitionSpec.size).sorted == Seq(1, 2), plan)
      val exact = windows.find(_.partitionSpec.size == 1).get
      val salted = windows.find(_.partitionSpec.size == 2).get
      assert(nodes(exact).exists {
        case f: FilterExec => f.condition.references.exists(_.name == preselCol) &&
          nodes(f).exists(_ eq salted)
        case _ => false
      }, s"no $preselCol bound between the two windows:\n$plan")
      plan
    }

    withConfs(staticPlanning: _*) {
      val capPlan = assertTwoPhase(CrawlEngine.capPerHost(entries, twoPhase), "__adm_pre")
      assert(nodes(capPlan).count(_.isInstanceOf[ShuffleExchangeExec]) == 2, capPlan)
      assertTwoPhase(CrawlEngine.rankPerHost(entries, twoPhase), "presel_rank")
    }
  }
}
