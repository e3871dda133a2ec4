package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory tracing for the traced run. Spans are (name, layer, start, end)
  * in nanoseconds of `System.nanoTime`; nothing is written until the run
  * ends. Two sources feed it:
  *   - the benchmark's own spans around each public call it makes;
  *   - a [[SparkListener]] that records every job as a span and sums task
  *     metrics per stage. A job, and each of its stages, is attributed to a
  *     layer by the first `graft.*` frame of the call site of its SQL
  *     execution (the stack captured when the action was called), or of its
  *     first stage when it belongs to no execution.
  */
final class Trace {

  case class Span(name: String, layer: String, t0: Long, t1: Long)

  /** Task-metric totals of one stage. */
  final class StageAgg(val layer: String) {
    var tasks = 0
    var runS, cpuS, deserS = 0.0
    var shuffleRead, shuffleWrite, spill, outBytes = 0L
    val durations = mutable.ArrayBuffer[Double]()
    def skew: Double = {
      if (durations.size < 2) 1.0
      else {
        val s = durations.sorted
        val med = s(s.size / 2)
        if (med <= 0) 1.0 else s.last / med
      }
    }
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val stages = mutable.LinkedHashMap[Int, StageAgg]()
  private val stageJobGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (Long, String, String)]()
  private val jobsByGroup = mutable.HashMap[String, Int]().withDefaultValue(0)

  def span[T](name: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      synchronized { spans += Span(name, layer, t0, t1) }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Write every span as one JSON line (name, layer, start and duration in
    * seconds from the first span). */
  def write(path: String): Unit = {
    val all = allSpans.sortBy(_.t0)
    val base = all.headOption.map(_.t0).getOrElse(0L)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = all.map { s =>
      val o = m.createObjectNode()
      o.put("name", s.name); o.put("layer", s.layer)
      o.put("start_s", (s.t0 - base) / 1e9); o.put("dur_s", (s.t1 - s.t0) / 1e9)
      m.writeValueAsString(o)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
  def allStages: Seq[StageAgg] = synchronized(stages.values.toSeq)
  def stagesOfGroup(g: String): Seq[StageAgg] = synchronized(
    stages.iterator.collect { case (id, a) if stageJobGroup.get(id).contains(g) => a }.toSeq)
  def jobsOfGroup(g: String): Int = synchronized(jobsByGroup(g))
  def jobSpans: Seq[Span] = allSpans.filter(_.name.startsWith("job:"))

  /** Layer of a call site: the first frame inside the program (`graft.*`),
    * mapped to the module that owns it. */
  private def frameOf(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim)
      .find(_.startsWith("graft.")).getOrElse("")

  private def layerOf(frame: String): String =
    if (frame.isEmpty) "unattributed"
    else if (frame.startsWith("graft.spider.state.CrawlCatalog"))
      if (frame.toLowerCase.contains("compact")) "catalog.compaction" else "catalog"
    else if (frame.startsWith("graft.spider.CrawlEngine")) "engine"
    else if (frame.startsWith("graft.spider.CrawlDriver")) "driver"
    else if (frame.startsWith("graft.datapipe") || frame.startsWith("graft.queries")) "datapipe"
    else "other"

  /** Layer of each SQL execution, from the call site of the action that
    * started it. Jobs of an execution take its layer even when they are
    * submitted from another thread (adaptive query stages are). */
  private val execLayer = mutable.HashMap[Long, String]()

  val listener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Trace.this.synchronized {
          val own = layerOf(frameOf(s.details))
          execLayer(s.executionId) =
            if (own != "unattributed") own
            else s.rootExecutionId.flatMap(execLayer.get).getOrElse(own)
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val group = prop("spark.jobGroup.id").getOrElse("")
      val first = e.stageInfos.sortBy(_.stageId).headOption
      val layer = prop("spark.sql.execution.id").flatMap(x => execLayer.get(x.toLong))
        .filter(_ != "unattributed")
        .getOrElse(layerOf(first.map(s => frameOf(s.details)).getOrElse(""))) match {
          // a query key's result, written by the benchmark: the plan is the key's
          case "unattributed" if group.nonEmpty => "datapipe"
          case l => l
        }
      e.stageIds.foreach { id =>
        stageJobGroup(id) = group
        stages.getOrElseUpdate(id, new StageAgg(layer))
      }
      jobStart(e.jobId) = (System.nanoTime(), layer, group)
      jobsByGroup(group) += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, layer, group) =>
        spans += Span(s"job:${e.jobId}:$group", layer, t0, System.nanoTime())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg("unattributed"))
        a.tasks += 1
        a.runS += m.executorRunTime / 1e3
        a.cpuS += m.executorCpuTime / 1e9
        a.deserS += m.executorDeserializeTime / 1e3
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.durations += e.taskInfo.duration / 1e3
      }
    }
  }
}

object Trace {

  /** Split the wall interval [t0, t1] across layers: at every instant the
    * layers with a running job share it equally; an instant with no job
    * running is unexplained driver time. Returns (self seconds per layer,
    * unexplained seconds); the values sum to the interval's length. */
  def selfTimes(spans: Seq[Trace#Span], t0: Long, t1: Long): (Map[String, Double], Double) = {
    val clipped = spans.flatMap { s =>
      val a = math.max(s.t0, t0); val b = math.min(s.t1, t1)
      if (b > a) Some((a, b, s.layer)) else None
    }
    val events = (clipped.map(c => (c._1, 1, c._3)) ++ clipped.map(c => (c._2, -1, c._3)))
      .sortBy(e => (e._1, e._2))
    val active = mutable.HashMap[String, Int]().withDefaultValue(0)
    val self = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    var idle = 0.0
    var prev = t0
    events.foreach { case (t, d, layer) =>
      val dt = (t - prev) / 1e9
      val live = active.filter(_._2 > 0).keys
      if (live.isEmpty) idle += dt
      else live.foreach(l => self(l) += dt / live.size)
      active(layer) += d
      prev = t
    }
    idle += (t1 - prev) / 1e9
    (self.toMap, idle)
  }
}
