package graft.spider

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Physical-plan helpers for the specs that assert plan shapes. All suites
  * share the one [[SparkTestBase]] session, so conf changes go through
  * [[withConfs]], which restores them. */
object PlanShapes {

  /** AQE off and auto-broadcast off: the plan is final before it runs, and
    * only the engine's own `broadcast`/hint calls choose a join. */
  val staticPlanning: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The two DSv2 bucketing confs a crawl sets, so that the classic seen
    * join can use the seen reader's reported bucket partitioning. */
  val storagePartitioned: Seq[(String, String)] = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true")

  /** Run `body` under the given session confs; each key gets its prior
    * value (or its absence) back afterwards. */
  def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val conf = SparkTestBase.session.conf
    val saved = confs.map { case (k, _) => k -> conf.getOption(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** The physical plan, out of its AQE wrapper when there is one. */
  def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Every node of `plan`, through AQE query stages and reused exchanges
    * (cache scans stay leaves; see [[inlineCaches]]). */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case p => p.children.flatMap(nodes)
  })

  /** The exchanges that have a node matching `isScan` somewhere below them. */
  def exchangesAbove(plan: SparkPlan)(isScan: SparkPlan => Boolean): Seq[Exchange] =
    nodes(plan).collect { case e: Exchange if nodes(e).exists(isScan) => e }

  /** `plan` with the scans of the given persisted frames' caches replaced by
    * the plans that fill those caches. */
  def inlineCaches(plan: SparkPlan, frames: DataFrame*): SparkPlan = {
    val caches = frames.map(f => nodes(finalPlan(f))
      .collectFirst { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
      .getOrElse(throw new IllegalArgumentException(s"not persisted:\n${finalPlan(f)}")))
    plan.transform {
      case s: InMemoryTableScanExec if caches.exists(_ eq s.relation.cacheBuilder) =>
        s.relation.cachedPlan
    }
  }
}
