package graft.spider.state

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.spider.core.RoundCounters

/** Immutable sketch/layout parameters recorded in every manifest and
  * validated on resume: the seen-bucket layout must match the probe's
  * bucket function, and Bloom filters built under different (shards,
  * expectedItems, fpp) cannot be merged. */
case class SketchParams(seenBuckets: Int, bloomShards: Int,
    bloomExpectedItems: Long, bloomFpp: Double)

/** "IceLite" — an Iceberg-style snapshot layer over Parquet (SURVEY.md §2.1
  * S5-S7, §4.4). This sandbox ships no Iceberg runtime jar, so crawl state
  * (frontier, seen set, per-host politeness clocks, crawled output, seen-set
  * sketches) checkpoints to immutable per-round parquet directories plus
  * numbered JSON snapshot manifests carrying per-partition lineage and
  * counters. Commit = write temp manifest + ATOMIC_MOVE rename; readers
  * resolve `latest` = max valid manifest, so a killed run leaves no visible
  * partial state and resume replays from the last committed round.
  *
  * The `seen` table is committed hash-bucketed: directory partitions
  * `seen_bucket=pmod(url_hash, N)` (N recorded in the manifest and validated
  * on resume), the IceLite analog of an Iceberg bucket-partitioned table.
  * The per-round membership probe then scans buckets — never shuffles the
  * monotonically-growing history (the round-1 #1 scale defect).
  *
  * Commits are STAGED: table writes are independent Spark jobs over already-
  * persisted parents, so the engine launches them as soon as each frame is
  * final (crawled/hoststate overlap the discovery anti-join) and the
  * manifest rename at `finalizeCommit` remains the single atomic point.
  */
class CrawlCatalog(val root: String, spark: SparkSession) {

  private val mapper = new ObjectMapper()
  private def snapDir: Path = Paths.get(root, "snapshots")
  private def dataDir(table: String, round: Int): String =
    s"$root/$table/data/r${"%05d".format(round)}"
  private def bloomPath(round: Int): Path =
    Paths.get(root, "sketches", s"round-${"%05d".format(round)}.bloom.bin")
  private def manifestPath(round: Int): Path =
    snapDir.resolve(s"snapshot-${"%05d".format(round)}.json")
  private def expiredPath: Path = snapDir.resolve("expired.json")

  Files.createDirectories(snapDir)
  Files.createDirectories(Paths.get(root, "sketches"))

  /** Highest round with a committed (atomically persisted) manifest. */
  def latestRound: Option[Int] = {
    if (!Files.isDirectory(snapDir)) return None
    val stream = Files.list(snapDir)
    val rs =
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
          s.stripPrefix("snapshot-").stripSuffix(".json").toInt }
        .toSeq
      finally stream.close()
    if (rs.isEmpty) None else Some(rs.max)
  }

  /** Metadata commit: write a temp file, then ATOMIC_MOVE it over `target`
    * — a killed writer leaves either the old or the new file, never a torn
    * one. */
  private def writeAtomically(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(".tmp-" + target.getFileName)
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def manifest(round: Int): JsonNode = {
    // Unconditional horizon guard (not just when the file is missing): a
    // crash mid-sweep can leave a below-horizon manifest on disk with its
    // state dirs already gone — readable-but-broken. The rollup's `through`
    // is the single source of truth for what is expired.
    if (round <= expiredThrough)
      throw new IllegalStateException(
        s"snapshot $round is expired (horizon $expiredThrough): only crawled " +
          "data and counters survive expiration — see expireSnapshots")
    mapper.readTree(manifestPath(round).toFile)
  }

  /** Write one table's round delta/state and return (rows, per-partition
    * lineage). Lineage comes from the parquet file footers — driver-side
    * metadata only, no extra Spark job; the same way an Iceberg manifest
    * records per-file row counts. For partitioned writes (the bucketed seen
    * table) the lineage key is the bucket value, mirroring Iceberg's
    * per-partition manifest entries. */
  private def writeTable(table: String, round: Int, df: DataFrame): (Long, Seq[(Int, Long)]) = {
    val dir = dataDir(table, round)
    val partitioned = df.columns.contains("seen_bucket")
    // Cluster rows by bucket before a partitioned write: without it every
    // write task emits a file per bucket value it touches (tasks × buckets
    // small files per round — measured as a commit-drain that GREW with
    // core count). One exchange of the small delta → one file per bucket.
    val toWrite =
      if (partitioned) df.repartition(org.apache.spark.sql.functions.col("seen_bucket"))
      else df
    // Committer v2 (task-side renames, no serial driver-side job-commit
    // rename pass): safe HERE because IceLite's atomicity comes from the
    // manifest ATOMIC_MOVE in finalizeCommit, never from job-commit
    // atomicity — a torn table write without a manifest is invisible.
    val w = toWrite.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
    (if (partitioned) w.partitionBy("seen_bucket") else w).parquet(dir)

    if (partitioned) bucketLineage(dir)
    else {
      val conf = spark.sessionState.newHadoopConf()
      val rootPath = new org.apache.hadoop.fs.Path(dir)
      val fs = rootPath.getFileSystem(conf)
      val files = fs.listStatus(rootPath)
        .filter(st => st.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName).toSeq
      val parts = inParallel(files) { st =>
        val pid = st.getPath.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
        (pid, footerRows(st, conf))
      }
      (parts.map(_._2).sum, parts)
    }
  }

  private def footerRows(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  // Footer reads are tiny but each costs a sandboxed FS round trip —
  // fan them out (bucketed tables have one file per bucket).
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
  }

  /** Per-bucket (rows) lineage of a `seen_bucket=`-partitioned dir from the
    * parquet footers — driver-side metadata only, shared by the delta write
    * path and the incremental compaction. */
  private def bucketLineage(dir: String): (Long, Seq[(Int, Long)]) = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(dir)
    val fs = rootPath.getFileSystem(conf)
    val bdirs = fs.listStatus(rootPath)
      .filter(_.getPath.getName.startsWith("seen_bucket="))
      .sortBy(_.getPath.getName).toSeq
    val parts = inParallel(bdirs) { bdir =>
      val bucket = bdir.getPath.getName.stripPrefix("seen_bucket=").toInt
      val rows = fs.listStatus(bdir.getPath)
        .filter(_.getPath.getName.startsWith("part-"))
        .map(footerRows(_, conf)).sum
      (bucket, rows)
    }
    (parts.map(_._2).sum, parts)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** INCREMENTAL seen compaction (the Iceberg bin-pack model): build
    * `seen_base/data/r<round>` — a complete bucketed base through `round` —
    * from the previous base plus the delta file sets after it (including
    * this round's just-written delta). Per bucket:
    *
    *   - accumulated file count ≥ `maxFilesPerBucket` → REWRITE: the bucket's
    *     rows are bin-packed to one consolidated file by a partition-PRUNED
    *     Spark job over just the rewritten buckets (PartitionFilters on
    *     `seen_bucket`) — compaction I/O is O(touched buckets' rows), never
    *     O(full history);
    *   - below the threshold → CARRY FORWARD: the bucket's existing files are
    *     hard-linked into the new base — metadata-only, zero data I/O (the
    *     local-FS analog of an Iceberg manifest entry referencing an existing
    *     data file; falls back to a copy on filesystems without links).
    *
    * Per-bucket file count is therefore bounded by the threshold, the probe
    * plan still reads ONE base dir + the deltas since (branch count
    * O(rounds mod compactSeenEvery)), and a bucket that stops receiving
    * deltas is never rewritten again. Atomicity is the usual IceLite story:
    * a kill mid-compaction leaves a torn data dir with no manifest entry —
    * invisible; the next compaction attempt clears it first. */
  private def compactSeen(round: Int, maxFilesPerBucket: Int): (Long, Seq[(Int, Long)]) = {
    import org.apache.spark.sql.functions.col
    require(maxFilesPerBucket >= 1, s"maxFilesPerBucket must be >= 1")
    val target = Paths.get(dataDir("seen_base", round))
    deleteTree(target) // torn previous attempt (kill mid-compaction)
    def listDir(p: Path): Seq[Path] = {
      if (!Files.isDirectory(p)) return Nil
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val sources = (seenPathsThrough(round - 1) :+ dataDir("seen", round))
      .map(Paths.get(_)).filter(Files.isDirectory(_))
    val byBucket = scala.collection.mutable.SortedMap[Int, Vector[Path]]()
    val contributing = Vector.newBuilder[Path]
    sources.foreach { src =>
      var any = false
      listDir(src).filter(_.getFileName.toString.startsWith("seen_bucket=")).foreach { bdir =>
        val b = bdir.getFileName.toString.stripPrefix("seen_bucket=").toInt
        val files = listDir(bdir).filter { f =>
          val n = f.getFileName.toString
          n.startsWith("part-") && Files.size(f) > 0
        }
        if (files.nonEmpty) {
          byBucket(b) = byBucket.getOrElse(b, Vector.empty) ++ files
          any = true
        }
      }
      if (any) contributing += src // a drained round's delta dir holds no
      // bucket dirs at all — reading it would fail schema inference
    }
    val (rewrite, carry) = byBucket.toSeq.partition(_._2.size >= maxFilesPerBucket)
    Files.createDirectories(target)
    if (rewrite.nonEmpty) {
      // ONE partition-pruned job over just the rewritten buckets: each
      // source dir is read under its own basePath so `seen_bucket` resolves
      // as a partition column and the isin filter prunes untouched buckets
      // at the scan; repartition(seen_bucket) → one file per bucket.
      val touched = rewrite.map(_._1)
      val all = contributing.result()
        .map(src => spark.read.option("basePath", src.toString).parquet(src.toString))
        .reduce(_.unionByName(_))
        .filter(col("seen_bucket").isin(touched: _*))
      all.repartition(col("seen_bucket"))
        .write.mode("append") // into the fresh empty target
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .partitionBy("seen_bucket").parquet(target.toString)
    }
    carry.foreach { case (b, files) =>
      val bdir = target.resolve(s"seen_bucket=$b")
      Files.createDirectories(bdir)
      files.foreach { f =>
        val dst = bdir.resolve(f.getFileName.toString)
        Files.deleteIfExists(dst)
        try Files.createLink(dst, f)
        catch {
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
    bucketLineage(target.toString)
  }

  /** A staged commit for one round: `stage` launches the table write on a
    * background thread immediately (overlapping later round jobs);
    * `finalizeCommit` awaits every staged write, then atomically renames the
    * manifest. Nothing is visible to readers before the rename. */
  final class PendingCommit private[CrawlCatalog] (round: Int) {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    private val staged =
      scala.collection.concurrent.TrieMap[String, Future[(Long, Seq[(Int, Long)])]]()
    @volatile private var seenBase: Option[Future[(Long, Seq[(Int, Long)])]] = None

    /** Stage an INCREMENTAL compaction of the seen history through THIS
      * commit's round (see [[CrawlCatalog.compactSeen]]): only buckets whose
      * accumulated file count crossed `maxFilesPerBucket` are rewritten;
      * everything else carries forward by reference. Recorded in the
      * manifest as `seen_base` (per-bucket row counts; per-round deltas
      * still listed in their own manifests), so readers union base + deltas
      * after it — O(rounds since last compaction) dirs instead of
      * O(rounds). MUST be staged after (a) this round's seen delta was
      * staged (the compaction folds its files — the future chains off that
      * write) and (b) the previous round's manifest was finalized (the
      * compaction planner reads committed lineage through round-1); the
      * driver stages it right after the pipelined finalize. */
    def stageSeenCompaction(maxFilesPerBucket: Int): Unit = {
      val seenF = staged.getOrElse("seen",
        throw new IllegalStateException("stage the seen delta before compaction"))
      // runs once this round's delta files have landed
      seenBase = Some(seenF.map(_ => compactSeen(round, maxFilesPerBucket)))
    }

    def stage(table: String, df: DataFrame): Unit = {
      // Capture the session's active state: the write runs on a pool thread.
      staged.put(table, Future(writeTable(table, round, df)))
    }

    /** Wait out every staged write, failed or not: for a commit the
      * failed crawl will never finalize, before its frames are freed. */
    def abandon(): Unit =
      (staged.values ++ seenBase).foreach(Await.ready(_, Duration.Inf))

    def finalizeCommit(
        bloomBytes: Option[Array[Byte]],
        params: SketchParams,
        counters: RoundCounters): Unit = {
      val node = mapper.createObjectNode()
      node.put("snapshot_id", round)
      node.put("parent_id", round - 1)
      node.put("round", round)

      val tables = node.putObject("tables")
      // Deterministic manifest order regardless of staging order.
      staged.toSeq.sortBy(_._1).foreach { case (name, f) =>
        val stats = Await.result(f, Duration.Inf)
        val t = tables.putObject(name)
        t.put("path", dataDir(name, round))
        t.put("rows", stats._1)
        val arr = t.putArray("partitions")
        stats._2.foreach { case (pid, rows) =>
          val p = arr.addObject(); p.put("pid", pid); p.put("rows", rows)
        }
      }

      seenBase.foreach { f =>
        val stats = Await.result(f, Duration.Inf)
        val b = node.putObject("seen_base")
        b.put("path", dataDir("seen_base", round))
        b.put("through", round)
        b.put("rows", stats._1)
        val arr = b.putArray("partitions")
        stats._2.foreach { case (pid, rows) =>
          val p = arr.addObject(); p.put("pid", pid); p.put("rows", rows)
        }
      }

      bloomBytes.foreach { bytes =>
        writeAtomically(bloomPath(round), bytes)
        node.put("bloom", bloomPath(round).toString)
      }
      val pn = node.putObject("sketch_params")
      pn.put("seen_buckets", params.seenBuckets)
      pn.put("bloom_shards", params.bloomShards)
      pn.put("bloom_expected_items", params.bloomExpectedItems)
      pn.put("bloom_fpp", params.bloomFpp)

      countersToJson(node.putObject("counters"), counters)

      writeAtomically(manifestPath(round),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    }
  }

  def beginCommit(round: Int): PendingCommit = new PendingCommit(round)

  /** One-shot commit (round-0 seeds, tests): stage everything, finalize. */
  def commitRound(
      round: Int,
      frontier: DataFrame,
      seenDelta: DataFrame,
      hostState: DataFrame,
      crawledDelta: Option[DataFrame],
      bloomBytes: Option[Array[Byte]],
      params: SketchParams,
      counters: RoundCounters): Unit = {
    val pc = beginCommit(round)
    pc.stage("frontier", frontier)
    pc.stage("seen", seenDelta)
    pc.stage("hoststate", hostState)
    crawledDelta.foreach(df => pc.stage("crawled", df))
    pc.finalizeCommit(bloomBytes, params, counters)
  }

  def sketchParams(round: Int): Option[SketchParams] = {
    val m = manifest(round)
    if (!m.has("sketch_params")) None
    else {
      val p = m.get("sketch_params")
      Some(SketchParams(p.get("seen_buckets").asInt(), p.get("bloom_shards").asInt(),
        p.get("bloom_expected_items").asLong(), p.get("bloom_fpp").asDouble()))
    }
  }

  def countersOf(round: Int): RoundCounters = {
    // expired rounds keep their counters in the expiration rollup
    if (round <= expiredThrough)
      return expiredState.flatMap(_.counters.get(round)).getOrElse(
        throw new IllegalStateException(s"no rollup counters for expired round $round"))
    countersFromJson(manifest(round).get("counters"), round)
  }

  /** The ten per-round counter fields — the ONE list every counters-JSON
    * writer/reader (manifest `counters` object, expiration rollup) shares,
    * so a new counter cannot silently diverge between them. */
  private val counterFields: Seq[(String, RoundCounters => Long)] = Seq(
    "frontier_in" -> (_.frontier_in), "robots_blocked" -> (_.robots_blocked),
    "dequeued" -> (_.dequeued), "fetched" -> (_.fetched),
    "fetch_missing" -> (_.fetch_missing), "links_extracted" -> (_.links_extracted),
    "candidates_new" -> (_.candidates_new), "deduped_seen" -> (_.deduped_seen),
    "enqueued" -> (_.enqueued), "frontier_out" -> (_.frontier_out))

  private def countersToJson(o: ObjectNode, c: RoundCounters): Unit =
    counterFields.foreach { case (name, get) => o.put(name, get(c)) }

  private def countersFromJson(n: JsonNode, round: Int): RoundCounters = {
    val v = counterFields.map { case (name, _) => n.get(name).asLong() }
    RoundCounters(round, v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9))
  }

  def readFrontier(round: Int): DataFrame =
    spark.read.parquet(manifest(round).get("tables").get("frontier").get("path").asText())

  def readHostState(round: Int): DataFrame =
    spark.read.parquet(manifest(round).get("tables").get("hoststate").get("path").asText())

  /** Seen set through `round`, WITH the `seen_bucket` partition column —
    * the engine's membership probe filters on it (bucket pruning). Reads
    * the latest compacted base at or before `round` (if any) plus the
    * per-round deltas after it, so the union (and the probe plan's branch
    * count) is O(rounds since the last compaction), not O(rounds). Each
    * dir is read under its own root so partition discovery resolves per
    * file set. */
  def readSeenBucketed(round: Int): DataFrame = {
    // A drained round may commit an empty delta: a partitioned write with 0
    // rows leaves no bucket dirs at all, so schema inference would fail —
    // seenPathsThrough skips those via the manifest row counts.
    // Each spark.read.parquet costs a driver-side FS listing + partition
    // discovery; fan them out (they sit on the round critical path when the
    // next round's input is assembled).
    val dfs = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.traverse(seenPathsThrough(round))(p => Future(spark.read.parquet(p))),
        Duration.Inf)
    }
    if (dfs.nonEmpty) dfs.reduce(_.unionByName(_))
    else {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("url_hash", LongType), StructField("url", StringType),
          StructField("seen_bucket", IntegerType))))
    }
  }

  /** Seen set without the storage-layout column (public/table shape). */
  def readSeen(round: Int): DataFrame = readSeenBucketed(round).drop("seen_bucket")

  /** The committed seen file sets through `round` (latest base + deltas
    * after it, empties skipped) — inputs for the DSv2 bucket-reporting
    * reader, which needs paths rather than frames. */
  def seenPathsThrough(round: Int): Seq[String] = {
    val (base, deltas) = seenLineage(round)
    val basePath = base.filter(_.get("rows").asLong() > 0L).map(_.get("path").asText())
    basePath.toSeq ++ deltas.flatMap { r =>
      val t = manifest(r).get("tables").get("seen")
      if (t.get("rows").asLong() == 0L) None else Some(t.get("path").asText())
    }
  }

  /** Latest compacted base at or before `round` (if any) + the delta rounds
    * after it. The walk stops at the base, so on an expired catalog (where a
    * base always sits just above the horizon) it never touches an expired
    * manifest. */
  private def seenLineage(round: Int): (Option[JsonNode], Range) = {
    val base = (round to 0 by -1).view
      .map(r => manifest(r))
      .collectFirst { case m if m.has("seen_base") => m.get("seen_base") }
    val from = base.map(_.get("through").asInt() + 1).getOrElse(0)
    (base, from to round)
  }

  /** Cumulative seen rows through `round` from manifest metadata alone: the
    * latest base records the full history's count, deltas add the rest —
    * exact, no file reads, and (unlike summing every round's delta) valid on
    * an expired catalog. */
  def seenRowsThrough(round: Int): Long = {
    val (base, deltas) = seenLineage(round)
    base.map(_.get("rows").asLong()).getOrElse(0L) +
      deltas.map(r => manifest(r).get("tables").get("seen").get("rows").asLong()).sum
  }

  /** Committed seen history as the bucket-partitioning-reporting DSv2 table
    * (see [[graft.spider.source.SeenSource]]) — the classic membership
    * join's exchange-free input. */
  def readSeenV2(round: Int, buckets: Int): DataFrame =
    graft.spider.source.SeenSource.load(spark, seenPathsThrough(round), buckets)

  /** Crawled output accumulated through `round` (round 0 commits none).
    * Crawled data survives snapshot expiration: rounds at or below the
    * expiration horizon come from the rollup, later ones from their
    * manifests (after a crash mid-expiration both may exist on disk; the
    * split below never double-reads). */
  def readCrawled(round: Int): DataFrame = {
    val through = expiredThrough
    val legacy = expiredState.toSeq.flatMap(_.crawled)
      .collect { case (r, p) if r <= round => p }
    val paths = legacy ++ (math.max(1, through + 1) to round).flatMap { r =>
      val t = manifest(r).get("tables").get("crawled")
      if (t == null || t.get("rows").asLong() == 0L) None
      else Some(t.get("path").asText())
    }
    require(paths.nonEmpty, s"no crawled data through round $round")
    spark.read.parquet(paths: _*)
  }

  /** The crawl log of EXACTLY round `round` — one manifest table path (or
    * the expiration rollup's recorded path), no union over history. The
    * timed-recrawl re-admission source: crawled data dirs are live output,
    * never deleted by expiration, so the read survives any retention
    * window. None when the round fetched nothing. */
  def readCrawledRound(round: Int): Option[DataFrame] = {
    val path: Option[String] =
      if (round <= expiredThrough)
        expiredState.toSeq.flatMap(_.crawled).collectFirst {
          case (r, p) if r == round => p
        }
      else {
        val t = manifest(round).get("tables").get("crawled")
        // rows==0 guard as in readHostEdges/seenPathsThrough: don't rely on
        // the committer having emitted a schema-carrying empty part-file
        if (t == null || t.get("rows").asLong() == 0L) None
        else Some(t.get("path").asText())
      }
    path.map(p => spark.read.parquet(p))
  }

  /** Union of the committed per-round `hostedges` tables through `round`
    * (rounds without one — round 0, rounds past cfg.hostRankFromRound —
    * skipped): the hostRank priority signal's edge set. Requires the
    * manifests to exist, so it does not compose with snapshot expiration
    * (enforced in CrawlDriver). */
  def readHostEdges(round: Int): DataFrame = {
    val paths = (1 to round).flatMap { r =>
      val t = manifest(r).get("tables").get("hostedges")
      if (t == null || t.get("rows").asLong() == 0L) None
      else Some(t.get("path").asText())
    }
    if (paths.nonEmpty) spark.read.parquet(paths: _*)
    else { // rounds 1..round fetched nothing: a valid, empty edge set
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("src_host", StringType),
          StructField("dst_host", StringType))))
    }
  }

  def readBloom(round: Int): Option[Array[Byte]] = {
    val m = manifest(round)
    if (m.has("bloom")) Some(Files.readAllBytes(Paths.get(m.get("bloom").asText()))) else None
  }

  // ------------------------------------------------------------------
  // Snapshot expiration (the Iceberg `expire_snapshots` maintenance action)
  // ------------------------------------------------------------------

  /** Rollup of everything readers still need from expired rounds: the horizon,
    * the crawled data paths (live output — never deleted), and per-round
    * counters. One file, replaced atomically on each expiration. */
  private[state] case class ExpiredState(through: Int,
      crawled: Seq[(Int, String)], counters: Map[Int, RoundCounters])

  /** Cached per catalog instance: the rollup is immutable between
    * expirations (which refresh the cache after their atomic commit), and
    * readers — including the hot `manifest()` horizon guard — consult it on
    * every call. A fresh `CrawlCatalog` re-reads it from disk. */
  @volatile private var expiredCache: Option[Option[ExpiredState]] = None

  private[state] def expiredState: Option[ExpiredState] = expiredCache match {
    case Some(v) => v
    case None =>
      val loaded = loadExpired()
      expiredCache = Some(loaded)
      loaded
  }

  private def loadExpired(): Option[ExpiredState] = {
    if (!Files.exists(expiredPath)) return None
    val n = mapper.readTree(expiredPath.toFile)
    val crawled = n.get("crawled").elements().asScala
      .map(c => (c.get("round").asInt(), c.get("path").asText())).toSeq
    val counters = n.get("counters").elements().asScala
      .map(c => countersFromJson(c, c.get("round").asInt()))
      .map(c => c.round -> c).toMap
    Some(ExpiredState(n.get("through").asInt(), crawled, counters))
  }

  /** Rounds at or below this are expired: their manifests are gone (or, after
    * a crash mid-expiration, possibly present but ignored) and their
    * superseded state dirs deleted; crawled output and counters live on in
    * the rollup. */
  def expiredThrough: Int = expiredState.map(_.through).getOrElse(-1)

  /** Expire snapshots older than the newest compaction at or before
    * `latestRound - keepLast + 1` — the IceLite analog of Iceberg's
    * `expire_snapshots`. Everything a retained round's readers reach stays:
    * the anchor compaction base covers the expired seen deltas, crawled data
    * dirs are live output (recorded in the rollup, never deleted), and
    * counters roll up. What goes: expired manifests, frontier/hoststate
    * state dirs, seen delta dirs, superseded older bases, and sketch blobs —
    * so a long crawl's metadata and state-file count is bounded by the
    * retention window instead of growing with round count.
    *
    * Crash-safe by ordering: the rollup is ATOMIC_MOVE-committed FIRST, and
    * every reader treats rounds ≤ rollup.through as expired regardless of
    * whether their manifests/dirs were already deleted — a kill between the
    * rollup commit and the deletes leaves only unreferenced garbage, and
    * re-running expiration is idempotent. Returns the new horizon, or None
    * if nothing could be expired (no eligible compaction anchor). */
  def expireSnapshots(keepLast: Int): Option[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val latest = latestRound.getOrElse(return None)
    val oldestKeep = math.max(0, latest - keepLast + 1)
    val prior = expiredState
    val curThrough = prior.map(_.through).getOrElse(-1)
    // Anchor: newest compacted base at or before the retention point. Reads
    // of any retained round r >= anchor resolve their seen history from a
    // base >= anchor and never touch an expired manifest.
    val anchor = (oldestKeep to (curThrough + 1) by -1).find { r =>
      Files.exists(manifestPath(r)) && manifest(r).has("seen_base")
    }
    def sweep(through: Int): Unit = {
      (0 to through).foreach { r =>
        Seq("frontier", "hoststate", "seen", "seen_base", "hostedges")
          .foreach(t => deleteTree(Paths.get(dataDir(t, r))))
        Files.deleteIfExists(bloomPath(r))
        Files.deleteIfExists(manifestPath(r))
      }
    }
    val horizon = anchor.map(_ - 1).filter(_ > curThrough).getOrElse {
      // No new horizon, but a crash between a previous rollup commit and its
      // deletes may have left garbage below the committed horizon — sweep it.
      if (curThrough >= 0) sweep(curThrough)
      return None
    }

    // 1. Commit the new rollup (old rollup ∪ newly expired rounds).
    val node = mapper.createObjectNode()
    node.put("through", horizon)
    val crawledArr = node.putArray("crawled")
    prior.toSeq.flatMap(_.crawled).foreach { case (r, p) =>
      val c = crawledArr.addObject(); c.put("round", r); c.put("path", p)
    }
    val countersArr = node.putArray("counters")
    def addCounters(c: RoundCounters): Unit = {
      val o = countersArr.addObject()
      o.put("round", c.round)
      countersToJson(o, c)
    }
    prior.toSeq.flatMap(_.counters.values).foreach(addCounters)
    ((curThrough + 1) to horizon).foreach { r =>
      if (Files.exists(manifestPath(r))) {
        val m = manifest(r)
        val t = m.get("tables").get("crawled")
        if (t != null && t.get("rows").asLong() != 0L) {
          val c = crawledArr.addObject(); c.put("round", r); c.put("path", t.get("path").asText())
        }
        addCounters(countersOf(r))
      }
    }
    writeAtomically(expiredPath, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    expiredCache = Some(loadExpired()) // readers see the new horizon at once

    // 2. Delete what no retained reader can reach.
    sweep(horizon)
    Some(horizon)
  }
}
