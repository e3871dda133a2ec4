package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

import graft.spider.PlanShapes._
import graft.spider.SparkTestBase

/** The datapipe operators' exchange, join and aggregate shapes, asserted on
  * executed plans over the sf0.001 documents and a small random graph. */
class PipePlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private val nonKeyedJoin: SparkPlan => Boolean = {
    case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
    case _ => false
  }
  private def nonKeyedJoins(plan: SparkPlan): Seq[SparkPlan] = nodes(plan).filter(nonKeyedJoin)

  /** A random directed graph, edges cached under `repartition(src)`. */
  private def withEdgeCache[T](body: DataFrame => T): T = {
    val e = spark.range(2000).select(
      pmod(xxhash64(col("id")), lit(400L)).as("src"),
      pmod(xxhash64(col("id"), lit(1)), lit(400L)).as("dst"))
      .repartition(col("src")).persist()
    try body(e) finally e.unpersist()
  }

  test("mirrorHosts: frequency gate below both sides of the fingerprint self-join") {
    withConfs(staticPlanning: _*) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(concat(lit("h"), pmod(col("doc_id"), lit(50L))).as("host"), col("text"))
      val plan = finalPlan(Dedup.mirrorHosts(docs, "host", "text"))
      assert(nonKeyedJoins(plan).isEmpty, plan)
      val gate: SparkPlan => Boolean = {
        case f: FilterExec => f.condition.sql.contains(">= 2")
        case _ => false
      }
      val selfJoins = nodes(plan).collect {
        case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "fp")) => j
      }
      assert(selfJoins.size == 1, plan)
      // `nodes` follows a ReusedExchange to the gated frame it reuses
      assert(selfJoins.head.children.forall(nodes(_).exists(gate)), plan)
    }
  }

  test("corpus_pipeline: join-free, three exchanges, map-side collapse in the scan stage") {
    withConfs(staticPlanning: _*) {
      val plan = finalPlan(graft.queries.Demos.queries("corpus_pipeline")(spark, sfDir))
      assert(!nodes(plan).exists(_.isInstanceOf[BaseJoinExec]), plan)
      val partitionings = nodes(plan).collect {
        case e: ShuffleExchangeExec => e.outputPartitioning.getClass.getSimpleName
      }
      assert(partitionings.sorted ==
        Seq("HashPartitioning", "HashPartitioning", "RangePartitioning"), plan)
      val partialCollapse = nodes(plan).collect {
        case a: SortAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => a
      }
      assert(partialCollapse.nonEmpty, plan)
      partialCollapse.foreach { a =>
        val below = nodes(a)
        assert(!below.exists(_.isInstanceOf[Exchange]), a)
        assert(below.exists(_.isInstanceOf[FilterExec]), a)
        assert(below.exists(_.isInstanceOf[FileSourceScanExec]), a)
      }
      assert(nodes(plan).exists {
        case a: HashAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
        case _ => false
      }, plan)
    }
  }

  test("LinkRank.rankStep: the edge cache feeds a shuffled-hash join with no exchange") {
    withConfs(staticPlanning: _*) {
      withEdgeCache { e =>
        // pageRank's own setup around one iteration
        val verts = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct().localCheckpoint(true)
        val n = verts.count()
        val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
        val degrees = verts.join(outDeg, verts("id") === outDeg("src"), "left")
          .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"))
          .localCheckpoint(true)
        val ranks = degrees.select(col("id"), lit(1.0 / n).as("rank"), col("out_deg"))
          .localCheckpoint(true)
        val plan = finalPlan(LinkRank.rankStep(e, degrees, ranks, n, 0.85))

        // the nodes from `p` down to the edge cache, passing no other join
        def pathToEdges(p: SparkPlan): Option[List[SparkPlan]] = p match {
          case s: InMemoryTableScanExec => Some(List(s))
          case _: BaseJoinExec => None
          case o => o.children.view.flatMap(pathToEdges).headOption.map(o :: _)
        }
        val edgeJoins = nodes(plan).collect {
          case j: BaseJoinExec if j.children.exists(pathToEdges(_).nonEmpty) => j
        }
        assert(edgeJoins.nonEmpty, plan)
        edgeJoins.foreach { j =>
          assert(j.isInstanceOf[ShuffledHashJoinExec], plan)
          j.children.flatMap(pathToEdges).foreach(path =>
            assert(!path.exists(_.isInstanceOf[Exchange]), plan))
        }
      }
    }
  }

  test("Dedup banded engine: thin self-join inputs, hot set broadcast, keyed joins only") {
    // the persisted frames' scans, expanded into the plans that fill them
    def deep(p: SparkPlan): Seq[SparkPlan] = nodes(p).flatMap {
      case s: InMemoryTableScanExec => s +: deep(s.relation.cachedPlan)
      case o => Seq(o)
    }
    val census: SparkPlan => Boolean = {
      case f: FilterExec => f.condition.references.exists(_.name == "__bucket_n")
      case _ => false
    }
    withConfs(staticPlanning: _*) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
      Dedup.releaseLshState() // the frames persist under these confs
      try for ((scheme, candidates) <- Seq(
          "minhash" -> Dedup.minhashCandidates(docs, "doc_id", "text", k = 3,
            numHashes = 64, bands = 16, maxBucket = 10000L, subRows = 2)._1,
          "simhash" -> Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)._1)) {
        val plan = deep(finalPlan(candidates))
        assert(!plan.exists(nonKeyedJoin), s"$scheme:\n${plan.head}")
        val selfJoins = plan.collect {
          case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "sub_bucket")) => j
        }
        assert(selfJoins.size == 1, s"$scheme:\n${plan.head}")
        val inputs = selfJoins.head.children.flatMap(_.output)
        val heavy = inputs.filter(a => a.dataType.isInstanceOf[ArrayType] ||
          Seq("shingles", "sh_hashes").exists(a.name.startsWith))
        assert(heavy.isEmpty, s"$scheme self-join carries ${heavy.map(_.name)}")
        assert(selfJoins.head.children.flatMap(deep).exists {
          case b: BroadcastExchangeExec => deep(b).exists(census)
          case _ => false
        }, s"$scheme: the hot set does not reach the self-join through a broadcast\n${plan.head}")
      } finally Dedup.releaseLshState()
    }
  }

  test("Dedup.alternatingStep: no cartesian or nested-loop join") {
    withConfs(staticPlanning: _*) {
      withEdgeCache { e =>
        val normalized = e
          .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val plan = finalPlan(Dedup.alternatingStep(normalized))
        assert(nonKeyedJoins(plan).isEmpty, plan)
      }
    }
  }
}
