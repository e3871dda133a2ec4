package graft.spider.core

/** Deterministic corpus geometry (FIXTURES.md §1-§3) — pure functions of
  * (doc_id, source, n_docs), shared by the Spark synthesizer, the DuckDB
  * oracle SQL, and the single-threaded crawl oracle. No wall clock, no
  * randomness beyond seeded xxhash64.
  */
object Corpus {
  /** 2024-01-01T00:00:00Z in microseconds. */
  final val WarcBaseMicros = 1704067200000000L
  /** 2024-06-01T00:00:00Z in microseconds — base of the synthetic fetch clock. */
  final val FetchBaseMicros = 1717200000000000L
  final val MicrosPerMinute = 60000000L

  def urlOf(source: String, docId: Long): String =
    "https://" + source + ".example.com/doc/" + docId

  def warcTsMicros(docId: Long): Long = WarcBaseMicros + docId * MicrosPerMinute

  /** Out-degree of a page: 1..4, a pure function of its url. */
  def nLinks(url: String): Int = (Hash64.pmod(Hash64.string(url), 4) + 1).toInt

  /** Target doc index of link j (1-based) of `url`, in [0, nDocs). */
  def linkTargetDoc(url: String, j: Int, nDocs: Long): Long =
    Hash64.pmod(Hash64.string(url + "#" + j), nDocs)

  // --- robots rules (FIXTURES.md §3): derived from the host hash ---

  def robotsDisallow(host: String): Seq[String] =
    if (Hash64.pmod(Hash64.string(host), 5) == 0) Seq("/doc/1") else Seq.empty

  def crawlDelayMs(host: String): Long =
    500L + 250L * Hash64.pmod(Hash64.string(host), 4)

  /** Per-round politeness budget: how many fetches fit into one round. */
  def budget(roundLenMs: Long, delayMs: Long): Int =
    math.max(1L, roundLenMs / math.max(1L, delayMs)).toInt

  /** Priority of a URL discovered in round r (seeds: r=0 → 100). */
  def priorityAtRound(round: Int): Int = math.max(1, 100 - round)

  /** Synthetic fetch timestamp: pure function of (round, rank, delay). */
  def fetchTsMicros(round: Int, rankInHost: Int, delayMs: Long, roundLenMs: Long): Long =
    FetchBaseMicros + round.toLong * roundLenMs * 1000L + (rankInHost - 1).toLong * delayMs * 1000L

  /** robots gate: path must not start with any disallow prefix. */
  def robotsAllows(canonicalUrl: String, disallowPrefixes: Seq[String]): Boolean = {
    if (disallowPrefixes == null || disallowPrefixes.isEmpty) return true
    val p = UrlCanonical.path(canonicalUrl)
    !disallowPrefixes.exists(pre => pre != null && pre.nonEmpty && p.startsWith(pre))
  }
}
