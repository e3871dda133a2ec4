package graft.spider.core

import java.time.Instant

/** Engine schemas (SURVEY.md §1.2) as typed Dataset row classes. Column
  * names are normative — the checkpoint layout, the oracle comparison and
  * the SparkEntry demo queries all key on them. */

/** Input corpus row — exactly the BASELINE.json input_hint shape. */
case class PageRow(
    url: String,
    warc_ts: Instant,
    html: Array[Byte],
    text: String,
    lang: String)

/** Crawl frontier entry (checkpointed per round). */
case class FrontierEntry(
    url: String,
    url_hash: Long,
    host: String,
    host_hash: Long,
    priority: Int,
    discovered_round: Int,
    warc_ts: Instant)

/** Output record — one fetched+extracted page. */
case class CrawledPage(
    url: String,
    url_hash: Long,
    host: String,
    round: Int,
    rank_in_host: Int,
    fetch_ts: Instant,
    text: String,
    lang: String,
    n_links: Int)

/** Exact URL-seen set row (everything ever enqueued). */
case class SeenUrl(url_hash: Long, url: String)

/** Per-host politeness state. */
case class HostState(
    host: String,
    host_hash: Long,
    next_allowed_ts: Instant,
    crawl_delay_ms: Long,
    fetched_total: Long)

/** Per-host robots rules. */
case class RobotsRule(host: String, disallow_prefixes: Seq[String], crawl_delay_ms: Long)

/** Crawl parameters — everything the ordering contract depends on. */
case class CrawlConfig(
    rounds: Int = 3,
    roundLenMs: Long = 4000L,
    nSeeds: Int = 10,
    seedPriority: Int = 100,
    /** salted two-phase dequeue ranking for mega-host skew (J4/W1) */
    twoPhaseDequeue: Boolean = false,
    /** dequeued rows above this switch the fetch join from broadcast to
      * shuffled-hash (pages side pre-partitioned by url stays in place) */
    fetchBroadcastMax: Long = 100000L,
    bloomExpectedItems: Long = 1L << 20,
    bloomFpp: Double = 0.03,
    /** Bloom shards (by pmod(url_hash, shards)); each shard is an
      * independent filter, so the seen-sketch grows by adding shards
      * instead of one monolithic filter (SURVEY.md §2.5). */
    bloomShards: Int = 16,
    /** seen-set storage buckets: seen deltas are committed under
      * seen_bucket=pmod(url_hash,N) directory partitions, so membership
      * probes touch buckets, not the whole history. Fixed per catalog —
      * resume validates it against the snapshot manifest. Scale N with the
      * corpus (sandbox default 16; a 10^10-URL catalog wants 2^10+ so a
      * bucket stays executor-sized). */
    seenBuckets: Int = 16,
    /** flip only when the seen history is at least this many times the
      * candidate bound — the flip's purpose is seen ≫ candidates (it trades
      * a driver-serial broadcast of the candidate keys for NOT shuffling
      * the history; when the two sides are comparable the fully-distributed
      * classic join is both faster and scales better). */
    seenFlipRatio: Double = 4.0,
    /** Compact the seen history every K rounds (0 = off): round r ≡ 0 mod K
      * additionally commits `seen_base` = a complete bucketed base through
      * r, so the membership probe reads O(1 + rounds mod K) file sets
      * instead of one per round — at hundreds of rounds the probe plan's
      * branch count and the per-bucket small-file count stay bounded. The
      * compaction is INCREMENTAL (Iceberg bin-pack model): only buckets
      * whose file count crossed `CrawlConfig.compactMaxFilesPerBucket` are
      * rewritten; the rest carry forward by reference — compaction I/O per
      * commit is O(touched buckets' rows), not O(full history). Pure layout:
      * results are invariant (equivalence test pins compaction on ≡ off). */
    compactSeenEvery: Int = 8,
    /** After the crawl, expire snapshots older than the newest compaction at
      * or before `latest - expireKeepLast + 1` (0 = keep everything) — the
      * Iceberg `expire_snapshots` maintenance action. Crawled output and
      * per-round counters survive in a rollup; superseded frontier/hoststate/
      * seen-delta state and old manifests are deleted, bounding a long
      * crawl's metadata and state-file count by the retention window.
      * Resume-safe: the retained window always includes the latest manifest
      * and every file set its readers reach. */
    expireKeepLast: Int = 0,
    /** Also run expiration DURING the crawl, every this many rounds (0 =
      * post-crawl only) — so a months-long crawl's manifest and state-file
      * count is bounded while it runs, not just after it ends. Inert unless
      * `expireKeepLast > 0`; when both are set, `expireKeepLast >= 3` is
      * required (enforced in CrawlDriver): commit pipelining keeps in-flight
      * readers that reach two rounds back, so the retention window must pin
      * the r-2 reference plus one round of margin.
      * Safe under commit pipelining: expiration only
      * deletes below the newest compaction anchor at or before
      * `latest - keepLast + 1`, and every live reader (the pending round's
      * inputs, the in-flight compaction's sources, resume) resolves its seen
      * history from a base at or above that anchor — their file sets are
      * disjoint from the sweep by construction. */
    expireEveryRounds: Int = 0,
    /** Timed re-crawl — the reference's price-history loop (SURVEY.md §3.1-3):
      * every URL fetched in round r is RE-ADMITTED to the frontier at the
      * end of round r + recrawlEvery - 1 (so, budget permitting, it is
      * re-fetched exactly recrawlEvery rounds after its last fetch, and the
      * `crawled` table — keyed (url, round) — accumulates a version time
      * series per url). 0 = off (fetch-once semantics). Re-admission
      * BYPASSES the URL-seen gate by design (the seen set still blocks
      * duplicate DISCOVERY); re-admitted entries carry
      * `CrawlConfig.recrawlPriority` and compete for per-host budget like
      * any frontier entry, so a starved re-crawl simply stays pending.
      * Engine constraint: must be
      * ≥ 3 (the snapshot commits run one round deep, see
      * [[graft.spider.CrawlDriver]]) so the source round's manifest is
      * final when its crawl log is re-read; the oracle accepts any value
      * ≥ 1. */
    recrawlEvery: Int = 0,
    /** Link-graph frontier-priority signal (VERDICT r4 task #9): when K > 0,
      * rounds 1..K additionally commit a per-round `hostedges` table (the
      * round's distinct (src_host, dst_host) outlink pairs — host-level, so
      * it is corpus-hosts-sized, not frontier-sized); from round K + 2
      * onward (the +2 keeps the source manifests final under depth-1 commit
      * pipelining, the recrawlEvery stance) every newly DISCOVERED url's
      * priority is boosted by its host's PageRank tier over that committed
      * graph:
      *
      *   boost(host) = min(9, floor(log2(max(1, floor(rank · n · 4)))))
      *
      * — a pure per-row function of the rank (n = vertex count): an
      * average-rank host (rank·n = 1) gets +2, hubs saturate at +9,
      * below-average hosts get 0. No global sort or ntile, so the tiering
      * needs no single-partition pass at any graph size, and the integer
      * quantization (floor to a long, then bit-length) makes engine and
      * oracle agree despite float-summation-order ulps. The rank is computed
      * ONCE per run from committed state — a pure function of it, so resume
      * replays identically. 0 = off. Does not yet compose with snapshot
      * expiration (requires expireKeepLast == 0: expired rounds drop their
      * hostedges manifests). */
    hostRankFromRound: Int = 0,
    /** Crawl-trap guard: per round, at most this many NEWLY DISCOVERED urls
      * per host are admitted to the frontier (0 = unlimited). The classic
      * crawl hazard at 10^10-URL scale is an infinite URL space — calendar
      * pages, session ids, faceted search — where one host manufactures
      * unbounded novel links; without a cap the frontier (and the seen set)
      * grow without bound on garbage while real hosts starve. Admission
      * keeps the top entries per host under the frontier's own total order
      * (priority desc, warc_ts, url_hash, url) — one row_number window over
      * the round's new entries, partitioned by host (the same host
      * partitioning the dequeue needs). Dropped candidates are NOT marked
      * seen: they stay re-discoverable, so a later, quieter round can still
      * admit them — the cap bounds per-round admission, it never blacklists
      * a url. Counters and the Bloom delta reflect admitted urls only
      * (enqueued = admitted; the sketch stays exactly the seen set). */
    maxNewPerHost: Int = 0)

object CrawlConfig {

  /** Links-per-round bound under which the exact seen anti-join runs
    * flipped: scan seen once (no shuffle of the history), semi-join it
    * against the broadcast candidate keys, then anti-join the candidates
    * against the (tiny) hit set. Above the bound the classic join runs,
    * storage-partitioned over the DSv2 seen reader. Sits at the crossover
    * measured against an 8M-row history (BENCH/BASELINE.md r4). */
  val seenFlipMax: Long = 2000000L

  /** Robots-rule rows above this stop broadcasting the robots table into
    * the frontier gate and shuffle-join it by host instead — at a
    * 10^10-URL frontier the robots table is 10^7-10^8 host rows (with
    * prefix lists), no longer broadcastable. The host exchange this
    * introduces is the SAME partitioning the dequeue window needs, so
    * Catalyst reuses it: the round still pays exactly one full-row host
    * exchange. */
  val robotsBroadcastMax: Long = 5000000L

  /** Salt buckets per host of the two-phase dequeue ranking and admission
    * cap (`twoPhaseDequeue`). */
  val saltFactor: Int = 16

  /** Hosts above this stop broadcasting the per-host priority cutoffs and
    * shuffle-join them instead (the exchange is then reused by the dequeue
    * window, which partitions by host anyway). */
  val cutoffBroadcastMax: Long = 1000000L

  /** Per-bucket file-count threshold for the incremental compaction: a
    * bucket accumulating this many files (its base file plus one delta
    * file per round that touched it) is bin-packed back to one file; below
    * it the bucket's files are carried into the new base by reference
    * (hard link — no data I/O). Bounds every bucket's file count (probe
    * cost) while sparing cold buckets the O(bucket-history) rewrite. */
  val compactMaxFilesPerBucket: Int = 4

  /** Priority for re-admitted (timed re-crawl) frontier entries. Equal to
    * the default seed priority: tracked items re-crawl ahead of freshly
    * discovered URLs, the reference's price-tracking stance. */
  val recrawlPriority: Int = 100

  /** Power iterations for the hostRank priority signal. */
  val hostRankIters: Int = 10

  /** Next power of two ≥ `x`, clamped to [lo, hi] (both powers of two). */
  private[core] def pow2Clamp(x: Long, lo: Int, hi: Int): Int = {
    var p = lo.toLong
    while (p < x && p < hi) p <<= 1
    math.min(p, hi.toLong).toInt
  }

  /** Derive the layout constants from the expected total URL volume instead
    * of hand-picking them (VERDICT r2 task #6). Targets:
    *   - `seenBuckets`: ~64k seen rows per bucket per round-set (a bucket's
    *     key column stays a few MB — executor-sized probe units), capped at
    *     4096 (the 10^10-URL regime; more buckets than that only multiplies
    *     files);
    *   - `bloomShards`: each shard ≤ ~64 MB serialized at the configured
    *     fpp (bits/item = ln(1/fpp)/ln²2), so shard transport and per-task
    *     probe paging stay bounded — 10^10 items at fpp 0.03 (~9.1 GB of
    *     filter) lands on 256 shards.
    * The sandbox default (2^20 items) reproduces the hand-picked 16/16, so
    * behavior at test scale is unchanged. Layout stays fixed per catalog —
    * resume still validates it against the snapshot manifest. */
  def autoSized(expectedItems: Long, base: CrawlConfig = CrawlConfig()): CrawlConfig = {
    require(expectedItems > 0, "expectedItems must be positive")
    val buckets = pow2Clamp(expectedItems / 65536L, 16, 4096)
    val bitsPerItem = math.log(1.0 / base.bloomFpp) / (math.log(2.0) * math.log(2.0))
    val filterBytes = (expectedItems * bitsPerItem / 8.0).toLong
    val shards = pow2Clamp(filterBytes / (64L << 20), 16, 4096)
    base.copy(seenBuckets = buckets, bloomShards = shards,
      bloomExpectedItems = expectedItems)
  }
}

/** Per-round counters → snapshot manifest (SURVEY.md §4.4). */
case class RoundCounters(
    round: Int,
    frontier_in: Long,
    robots_blocked: Long,
    dequeued: Long,
    fetched: Long,
    fetch_missing: Long,
    links_extracted: Long,
    candidates_new: Long,
    deduped_seen: Long,
    enqueued: Long,
    frontier_out: Long)
