package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.datapipe.{Dedup, Similarity}
import graft.spider.CrawlOracle
import graft.spider.core.HtmlCodec

/** corpus_analytics: the `graft.datapipe` operators through their declared
  * query keys, no crawl code. Each sweep runs every key once and writes its
  * result; the results of every sweep are checked against the keys' oracle
  * SQL in DuckDB by `run.py`. */
object Analytics {

  val keys = Seq("dedup_minhash", "dedup_simhash", "dedup_canonical", "dedup_clusters",
    "link_rank", "embed_ann_ivf", "corpus_pipeline")

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val input = ctx.path("input")
    // doc ids stay contiguous and below 100000: the queries inject
    // near-duplicates at id + 100000
    val nDocs = if (ctx.small) 300 else 500
    val nVecs = if (ctx.small) 300 else 500

    // ---- set-up: inputs (repeated) ----
    var docs: Seq[CrawlOracle.Doc] = Nil
    val prepS = (1 to Ctx.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      docs = Inputs.documents(nDocs)
      Inputs.writeDocuments(spark, docs, ctx.seed, input)
      Inputs.writeEmbeddings(spark, nVecs, ctx.seed, input)
      Stats.secs(t0, System.nanoTime())
    }
    res.put("setup_s", ctx.sessionS + Stats.median(prepS), "s")
    ctx.log(s"setup: session ${ctx.sessionS} prep $prepS")
    // the traced run compares traced with untraced sweeps, so neither may be
    // the JVM's first
    if (ctx.trace) sweep(ctx, "warmup")

    // ---- timed region: whole sweeps ----
    val trace = new Trace
    val heap = new HeapWatch
    val gc0 = HeapWatch.gcSeconds
    val ticks0 = HeapWatch.cpuTicks
    case class Sweep(traced: Boolean, t0: Long, wallS: Double, cpuS: Double,
        perKey: Seq[(String, Double)])
    val sweeps = mutable.ArrayBuffer[Sweep]()
    val tRegion = System.nanoTime()
    while (Stats.secs(tRegion, System.nanoTime()) < ctx.seconds || (ctx.trace && sweeps.size < 2)) {
      // the MinHash/SimHash keys keep their LSH state cached; drop it so
      // every sweep builds it, as the JVM's first did
      Dedup.releaseLshState()
      val traced = ctx.trace && sweeps.size % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(trace.listener)
      val cpu0 = HeapWatch.cpuSeconds
      val t0 = System.nanoTime()
      val perKey =
        try sweep(ctx, s"sweep-${sweeps.size}", if (traced) Some(trace) else None)
        finally if (traced) ctx.detach(trace)
      sweeps += Sweep(traced, t0, Stats.secs(t0, System.nanoTime()),
        HeapWatch.cpuSeconds - cpu0, perKey)
      ctx.log(s"sweep ${sweeps.size - 1} traced=$traced ${sweeps.last.wallS} s $perKey")
    }
    val gcS = HeapWatch.gcSeconds - gc0
    ctx.stealShare(res, ticks0)
    val peakMiB = heap.stop()
    val runs = sweeps.toVector

    // the fixtures' MinHash/SimHash state is read from the last sweep's cache
    writeFixtures(ctx, docs)
    Dedup.releaseLshState()
    res.extra("results") = runs.indices.map(i => ctx.path(s"results/sweep-$i")).mkString("\n")
    res.extra("input") = input
    val sqlPath = ctx.path("oracle_sql.json")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val sql = m.createObjectNode()
    keys.foreach(k => sql.put(k, fixturePaths(ctx, SparkEntry.oracleSql(k))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sqlPath), m.writeValueAsString(sql))
    res.extra("oracle_sql") = sqlPath

    val untraced = runs.filterNot(_.traced)
    res.put("first_commit_s", Stats.median(untraced.map(_.perKey.head._2)), "s")
    if (!ctx.trace) {
      res.put("run_s", Stats.median(untraced.map(_.wallS)), "s")
      res.put("cpu_s", Stats.median(untraced.map(_.cpuS)), "s")
      res.put("urls_per_s", Stats.median(untraced.map(nDocs / _.wallS)), "1/s")
    } else {
      val traced = runs.filter(_.traced)
      res.put("round_s_p50", Stats.median(traced.flatMap(_.perKey.map(_._2))), "s")
      res.put("peak_heap_mib", peakMiB, "MiB")
      res.put("spark.gc_s", gcS, "s")
      keys.foreach { k =>
        val st = trace.stagesOfGroup(k)
        res.put(s"$k.s", Stats.median(traced.map(_.perKey.toMap.apply(k))), "s")
        res.put(s"$k.jobs", trace.jobsOfGroup(k).toDouble / traced.size, "count")
        res.put(s"$k.shuffle_mib", st.map(_.shuffleRead).sum / 1048576.0 / traced.size, "MiB")
        res.put(s"$k.spill_mib", st.map(_.spill).sum / 1048576.0 / traced.size, "MiB")
        res.put(s"$k.task_skew", (1.0 +: st.map(_.skew)).max, "ratio")
      }
      val splits = traced.map(s =>
        Trace.selfTimes(trace.jobSpans, s.t0, s.t0 + (s.wallS * 1e9).toLong))
      trace.write(ctx.path("spans.jsonl"))
      ctx.layerSplit(res, splits, traced.map(_.wallS), untraced.map(_.wallS))
      res.put("engine.driver_gap_s", Stats.median(splits.map(_._2)), "s")
    }
  }

  /** Run every key once, writing each result; returns per-key seconds. With
    * a trace, each key's jobs carry the key as their job group. */
  private def sweep(ctx: Ctx, name: String, trace: Option[Trace] = None): Seq[(String, Double)] = {
    val spark = ctx.spark
    val out = keys.map { k =>
      if (trace.isDefined) spark.sparkContext.setJobGroup(k, k)
      val t0 = System.nanoTime()
      def query(): Unit = SparkEntry.queries(k)(spark, ctx.path("input"))
        .write.mode("overwrite").parquet(ctx.path(s"results/$name/$k"))
      try trace.fold(query())(_.span(s"SparkEntry.queries($k)", "datapipe")(query()))
      finally if (trace.isDefined) spark.sparkContext.clearJobGroup()
      k -> Stats.secs(t0, System.nanoTime())
    }
    out
  }

  private val FixtureRoot = "/tmp/graft-verify-fixtures/"

  /** Point the oracle SQL at the fixtures this benchmark writes. */
  private def fixturePaths(ctx: Ctx, sql: String): String =
    "/tmp/graft-verify-fixtures/([a-z0-9]+)-sf0\\.01/".r
      .replaceAllIn(sql, mt => java.util.regex.Matcher.quoteReplacement(ctx.path(s"fixtures/${mt.group(1)}") + "/"))
      .ensuring(!_.contains(FixtureRoot), "oracle SQL still reads an unmapped fixture")

  /** The index and hash state the oracle SQL re-derives results from, made
    * by the same public functions and parameters the queries use, written
    * inside the benchmark's own directory. */
  private def writeFixtures(ctx: Ctx, docs: Seq[CrawlOracle.Doc]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def fx(name: String) = ctx.path(s"fixtures/$name")
    val d = spark.read.parquet(ctx.path("input/documents.parquet")).select("doc_id", "text")
    val near = d.withColumn("doc_id", col("doc_id") + 100000)
    val (reps, stars) = Dedup.minhashState(
      d.unionByName(near.withColumn("text", concat(col("text"), lit(" tail marker extra")))),
      "doc_id", "text", k = 3, numHashes = 64)
    reps.select("id", "sig", "shingles").coalesce(1).write.mode("overwrite")
      .parquet(fx("minhashstate") + "/reps")
    stars.coalesce(1).write.mode("overwrite").parquet(fx("minhashstate") + "/stars")
    Dedup.simhashTable(d.unionByName(near.withColumn("text", concat(col("text"), lit(" zz")))),
      "doc_id", "text").coalesce(1).write.mode("overwrite").parquet(fx("simhashtable"))

    val e = spark.read.parquet(ctx.path("input/embeddings.parquet"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id_raw"), col("embedding").as("qvec"))
    val cents = Similarity.ivfTrain(e, "vec_id", "embedding",
      nList = Similarity.listsFor(e.count(), targetList = 64))
    Similarity.ivfCorpus(e, "embedding", cents)
      .select(col("vec_id"), col("ivf_list"), col("embedding").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(fx("annivf") + "/corpus")
    Similarity.ivfProbes(q, "qvec", cents, nProbe = 3)
      .select(col("query_id_raw").as("query_id"), col("ivf_list"), col("qvec").as("qv"))
      .coalesce(1).write.mode("overwrite").parquet(fx("annivf") + "/probes")

    CrawlOracle.synthPages(docs)
      .flatMap(pg => HtmlCodec.extractOutlinks(pg.html).map(o => (pg.url, o)))
      .toDF("url", "outlink").coalesce(1).write.mode("overwrite").parquet(fx("oracleoutlinks"))
  }
}
