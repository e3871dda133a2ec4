package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val workDir: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val small: Boolean,
    val corruptDigest: Boolean, val sessionS: Double) {

  def path(rel: String): String = Paths.get(workDir, rel).toString

  private val born = System.nanoTime()
  /** Progress line on stderr (the JVM log), stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${Stats.secs(born, System.nanoTime())}%7.2f] $msg")

  /** Detach the trace listener once the listener bus has delivered every
    * event of the jobs run so far. */
  def detach(trace: Trace): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(150)
    spark.sparkContext.removeSparkListener(trace.listener)
  }

  /** Share of the machine's CPU time the host stole since `ticks0`: a
    * validity check on the timed region, reported by traced runs. */
  def stealShare(res: Result, ticks0: (Long, Long)): Unit = if (trace) {
    val (steal, all) = HeapWatch.cpuTicks
    res.put("machine.steal_share",
      if (all > ticks0._2) (steal - ticks0._1).toDouble / (all - ticks0._2) else 0.0, "ratio")
  }

  /** Report the traced wall split: self seconds per layer (median over the
    * traced repetitions), the share no job explains, and the tracing
    * overhead = traced minus untraced median wall. */
  def layerSplit(res: Result, splits: Seq[(Map[String, Double], Double)],
      tracedWalls: Seq[Double], untracedWalls: Seq[Double]): Unit = {
    def med(f: ((Map[String, Double], Double)) => Double) = Stats.median(splits.map(f))
    Seq("engine" -> Seq("engine"), "catalog" -> Seq("catalog"),
      "compaction" -> Seq("catalog.compaction"), "driver" -> Seq("driver"),
      "datapipe" -> Seq("datapipe"), "other" -> Seq("other", "unattributed")).foreach {
      case (name, layers) =>
        res.put(s"trace.${name}_self_s", med(s => layers.map(s._1.getOrElse(_, 0.0)).sum), "s")
    }
    res.put("trace.unexplained_share", Stats.median(
      splits.zip(tracedWalls).map { case ((_, idle), w) => idle / w }), "ratio")
    res.put("trace.run_s", Stats.median(tracedWalls), "s")
    res.put("trace.overhead_s", Stats.median(tracedWalls) - Stats.median(untracedWalls), "s")
  }
}

object Ctx {
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3
}

/** Benchmark entry point, launched with plain `java` by `perfbench/run.py`:
  *
  * {{{
  * BenchMain --workload <crawl_deep|corpus_analytics> --seed N
  *           --seconds S --trace 0|1 --work DIR --out FILE
  *           [--small] [--corrupt-digest]
  * }}}
  *
  * Writes one JSON object to FILE: correctness counts, metrics by name with
  * units, and (corpus_analytics) where its results and oracle SQL are. */
object BenchMain {

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).toSet
    val workload = args("--workload")
    val work = args("--work")
    Files.createDirectories(Paths.get(work))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val probePre = if (args("--trace") == "1") Some(probe(cores)) else None
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = Stats.secs(t0, System.nanoTime())

    val ctx = new Ctx(spark, work, args("--seed").toLong, args("--seconds").toDouble,
      args("--trace") == "1", flags("--small"), flags("--corrupt-digest"),
      sessionS)
    val res = new Result
    try {
      workload match {
        case "train" => // session start only: loads the classes a class-data archive keeps
        case "crawl_deep" => CrawlBench.run(ctx, CrawlBench.deep(ctx.small), res)
        case "corpus_analytics" => Analytics.run(ctx, res)
        case other => sys.error(s"unknown workload $other")
      }
      probePre.foreach { pre =>
        res.put("machine.probe_gibs_pre", pre, "GiB/s")
        res.put("machine.probe_gibs_post", probe(cores), "GiB/s")
      }
    } finally spark.stop()
    if (workload != "train") write(res, args("--out"))
  }

  /** The memory-bandwidth probe `graft.Bench` uses as its phase check, at a
    * size that fits beside the benchmark's heap. */
  private def probe(threads: Int): Double =
    graft.spider.tools.ScalingBench.bandwidthProbe(threads, mibPerThread = 64, passes = 3)

  private def write(res: Result, out: String): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", res.attempted)
    root.put("failed", res.failed)
    val notes = root.putArray("notes")
    res.notes.foreach(notes.add)
    val metrics = root.putObject("metrics")
    res.metrics.foreach { case (k, (v, u)) =>
      val o = metrics.putObject(k); o.put("value", v); o.put("unit", u)
    }
    val extra = root.putObject("extra")
    res.extra.foreach { case (k, v) => extra.put(k, v) }
    Files.writeString(Paths.get(out), m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}
