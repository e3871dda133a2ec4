package graft.datapipe

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spider.SparkTestBase
import graft.spider.core.Hash64

class DedupSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text")

  test("exactDedup: injected duplicates collapse to min id with n_copies=2") {
    val dup = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100000))
    val out = Dedup.exactDedup(dup, "doc_id", "text").collect()
    assert(out.length == 500)
    assert(out.forall(r => r.getLong(1) == 2L && r.getLong(0) < 100000))
  }

  test("textKey128: the second half is not a function of the first") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val keys = docs.select(Dedup.textKey128(col("text")).as("k"))
      .select(col("k.*")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.length == 500)
    // a salt chained AFTER the text would make the second half
    // XXH64(salt, seed = first): 64 bits of key, not 128
    assert(!keys.exists { case (a, b) => b == XXH64.hashLong(0x9E3779B97F4A7C15L, a) })
  }

  test("minhashPairs: finds all injected near-duplicates, none spurious below threshold") {
    val near = docs.withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" tail marker extra")))
    val pairs = Dedup.minhashPairs(docs.unionByName(near), "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.5).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 500L).map(i => (i, i + 100000)).toSet
    val recall = expected.count(found).toDouble / expected.size
    assert(recall >= 0.95, s"recall=$recall")
    // precision: verification is exact Jaccard, so every returned pair must
    // really have jaccard >= 0.5 — recompute two pairs in plain Scala
    val textOf = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def textAt(id: Long): String =
      if (id < 100000) textOf(id) else textOf(id - 100000) + " tail marker extra"
    def shingles(t: String) =
      t.trim.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    pairs.take(5).foreach { r =>
      val (sa, sb) = (shingles(textAt(r.getLong(0))), shingles(textAt(r.getLong(1))))
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - r.getDouble(2)) < 1e-9, s"jaccard mismatch: $j vs ${r.getDouble(2)}")
    }
  }

  test("simhashPairs: recall is exact for hamming<=3 (vs brute force on a sample, " +
      "closure-equivalent under the identical-fingerprint star collapse)") {
    val sample = docs.filter(col("doc_id") < 120)
    val out = Dedup.simhashPairs(sample, "doc_id", "text", maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    // brute force in plain Scala with the same simhash definition
    def simhash(t: String): Long = {
      val votes = new Array[Int](64)
      t.trim.toLowerCase.split("\\s+").distinct.foreach { tok =>
        val h = Hash64.string(tok)
        (0 until 64).foreach(b => if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1)
      }
      (0 until 64).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
    }
    val rows = sample.collect().map(r => (r.getLong(0), simhash(r.getString(1))))
    val brute = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    // precision: every engine pair is a true hamming<=3 pair
    assert(out.subsetOf(brute),
      s"spurious pairs: ${out.diff(brute).take(5)}")
    // recall, closure form: identical-fingerprint groups are emitted as
    // (rep, member) stars and cross-group pairs at rep level — the
    // union-find closure must EQUAL the brute-force closure exactly
    val ids = rows.map(_._1)
    val cOut = unionFind(0, out.toSeq.map(p => (p._1, p._2)))
    val cBrute = unionFind(0, brute.toSeq.map(p => (p._1, p._2)))
    ids.foreach { v =>
      assert(cOut.getOrElse(v, v) == cBrute.getOrElse(v, v),
        s"closure mismatch at doc $v")
    }
    // and every cross-fingerprint brute pair appears at rep level
    val repOf = rows.groupBy(_._2).values
      .flatMap(g => g.map(x => x._1 -> g.map(_._1).min)).toMap
    brute.foreach { case (a, b, d) =>
      val (ra, rb) = (repOf(a), repOf(b))
      if (ra != rb) {
        val key = (math.min(ra, rb), math.max(ra, rb), d)
        assert(out.contains(key), s"missing rep-level pair $key for ($a,$b,$d)")
      }
    }
  }

  test("simhash candidate count stays ~0 on 5000 distinct docs (26-bit composite keys)") {
    // 5000 docs with hash-derived token soups → near-uniform fingerprints.
    // Old 4×16-bit banding: E[collisions] ≈ 4·C(5000,2)/2^16 ≈ 760 spurious
    // candidates (and growing linearly with corpus). The C(5,2) two-block
    // ~26-bit keys give E ≈ 10·C(5000,2)/2^26 ≈ 2.
    val synth = spark.range(5000).selectExpr("id as doc_id",
      "array_join(transform(sequence(0, 29), j -> concat('t', xxhash64(id, j) % 100000)), ' ') as text")
    val candidates = Dedup.simhashCandidates(synth, "doc_id", "text", maxHamming = 3)._1
    val n = candidates.count()
    assert(n <= 50, s"expected ~0 spurious candidates on distinct docs, got $n")
  }

  // -------------------- hot-bucket caps (VERDICT r4 task 1) --------------

  test("minhash: 10^4 identical docs collapse — zero banded candidates, " +
      "star edges only (candidate volume O(docs), not O(docs^2))") {
    // before the exact-dup pre-collapse this fixture put all 10^4 docs in
    // the same bucket of all 16 bands → ~16·C(10^4,2) ≈ 8·10^8 candidate
    // rows; the test itself would not terminate in reasonable time
    val synth = spark.range(10000).selectExpr("id as doc_id",
      "'the same boilerplate template page body text' as text")
    val (candidates, _, stars) = Dedup.minhashCandidates(
      synth, "doc_id", "text", k = 3, numHashes = 64, bands = 16,
      maxBucket = 10000L, subRows = 2)
    assert(candidates.count() == 0L)
    assert(stars.count() == 9999L)
    val pairs = Dedup.minhashPairs(synth, "doc_id", "text").collect()
    assert(pairs.length == 9999)
    assert(pairs.forall(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0))
  }

  test("minhash: forced sub-split (maxBucket=1) preserves near-dup recall") {
    val near = docs.withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" tail marker extra")))
    val found = Dedup.minhashPairs(docs.unionByName(near), "doc_id", "text",
        k = 3, numHashes = 64, bands = 16, threshold = 0.5,
        maxBucket = 1L, subRows = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 500L).map(i => (i, i + 100000)).toSet
    val recall = expected.count(found).toDouble / expected.size
    // every 2-wide bucket is "hot" at maxBucket=1 → every pair must survive
    // the independent-family sub-split in at least one of its shared bands
    assert(recall >= 0.9, s"recall=$recall under forced sub-split")
  }

  test("simhash: identical-fingerprint docs collapse to star edges at hamming 0") {
    val synth = spark.range(5000).selectExpr("id as doc_id",
      "'constant boilerplate token soup page' as text")
    val (candidates, stars) =
      Dedup.simhashCandidates(synth, "doc_id", "text", maxHamming = 3)
    assert(candidates.count() == 0L)
    assert(stars.count() == 4999L)
    val pairs = Dedup.simhashPairs(synth, "doc_id", "text").collect()
    assert(pairs.length == 4999)
    assert(pairs.forall(r => r.getLong(0) == 0L && r.getAs[Number](2).longValue == 0L))
  }

  test("simhash band keys: 21/22-bit blocks (maxHamming = 1) keep table (0, 1) " +
      "keys apart when block 1's high bits equal block 0's value") {
    import spark.implicits._
    // fp 1: block0 = 1, block1 = 0; fp 1 << 38: block0 = 0, block1 = 1 << 16
    // (blocks 22/21/21 bits at offsets 0, 22, 43)
    val keys = Seq(1L, 1L << 38).toDF("simhash")
      .select(Dedup.simhashBandKeys(maxHamming = 1).getItem(0).getField("key"))
      .collect().map(_.getLong(0))
    assert(keys.distinct.length == 2, s"table (0, 1) keys collide: ${keys.toSeq}")
  }

  test("simhash: forced sub-split (maxBucket=1) loses ONLY the documented corner " +
      "(pairs with exactly 2 intact blocks); >=3 intact blocks always survive") {
    val sample = docs.filter(col("doc_id") < 120)
    val near = sample.withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" zz")))
    val corpus = sample.unionByName(near)
    val fps = corpus.select(col("doc_id"),
        graft.datapipe.PipeFunctions.simhash64(
          array_distinct(Dedup.tokensCol(col("text")))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // blocks = maxHamming + 2 = 5; widths 13,13,13,13,12 (Dedup.blockRanges)
    val ranges = Seq((0, 13), (13, 13), (26, 13), (39, 13), (52, 12))
    def intactBlocks(a: Long, b: Long): Int = {
      val x = a ^ b
      ranges.count { case (off, w) => ((x >>> off) & ((1L << w) - 1L)) == 0L }
    }
    val baseline = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3,
      maxBucket = 1L).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(baseline), "cap must not invent pairs")
    // the multi-probe sub-split guarantee: a pair with >= 3 intact blocks
    // keeps an intact non-combo block in some shared table — NEVER lost
    baseline.diff(capped).foreach { case (a, b) =>
      val n = intactBlocks(fps(a), fps(b))
      assert(n == 2, s"pair ($a,$b) with $n intact blocks lost to the cap")
    }
    baseline.filter(p => intactBlocks(fps(p._1), fps(p._2)) >= 3).foreach { p =>
      assert(capped.contains(p), s"pair $p with >=3 intact blocks missing")
    }
  }

  test("banded engine, capped path: both schemes' candidates ≡ a plain-Scala " +
      "re-derivation at caps 1 (every bucket hot) and 2 (hot beside cold)") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // two near copies per doc: (doc, copy, copy) buckets hold 3 rows, so at
    // cap 2 hot 3-row buckets sit beside cold 2-row ones
    def variant(off: Long, suffix: String) = docs
      .withColumn("doc_id", col("doc_id") + off)
      .withColumn("text", concat(col("text"), lit(suffix)))
    val corpus = docs.unionByName(variant(100000, " zz")).unionByName(variant(200000, " zz yy"))
    val caps = Seq(1L, 2L)

    /** Pairs a < b within one bucket of (id, sub keys) members; a bucket
      * over `cap` rows pairs only members sharing a sub key. */
    def bucketPairs[S](members: Seq[(Long, Set[S])], cap: Long): Seq[(Long, Long)] =
      for ((a, sa) <- members; (b, sb) <- members
           if a < b && (members.size <= cap || sa.intersect(sb).nonEmpty)) yield (a, b)
    /** (hot buckets, cold buckets of 2 or more rows) */
    def census(buckets: Iterable[Seq[_]], cap: Long): (Int, Int) =
      (buckets.count(_.size > cap), buckets.count(b => b.size >= 2 && b.size <= cap))
    def assertSamePairs(what: String, got: Set[(Long, Long)], expected: Set[(Long, Long)]): Unit = {
      val (missing, extra) = (expected -- got, got -- expected)
      assert(missing.isEmpty && extra.isEmpty, s"$what: ${missing.size} missing " +
        s"${missing.take(5)}, ${extra.size} extra ${extra.take(5)}")
    }

    try {
      // MinHash: band j's key is xxhash64 of signature slice j joined by
      // ",", the sub key the same over minima of 2 extra salts
      val (reps, _) = Dedup.minhashState(corpus, "doc_id", "text", k = 3, numHashes = 64)
      val extra = Dedup.minhashSalts(66).drop(64)
      def bandKey(xs: Seq[Long]): Long = Hash64.string(xs.mkString(","))
      val mh = reps.select("id", "sig", "sh_hashes").collect().toSeq.map { r =>
        val shh = r.getSeq[Long](2)
        val sub = bandKey(extra.map(s => shh.map(h => XXH64.hashLong(h ^ s, Hash64.Seed)).min))
        (r.getLong(0), r.getSeq[Long](1).grouped(4).map(bandKey).toSeq, sub)
      }
      val mhBuckets = mh.flatMap { case (id, keys, sub) =>
        keys.zipWithIndex.map { case (key, j) => (j, key) -> (id, Set(sub)) }
      }.groupBy(_._1).values.map(_.map(_._2))
      // SimHash: 5 blocks of 13,13,13,13,12 bits; table (i, j) keys on
      // blocks i and j, its sub keys are the (slot, value) of the others
      val ranges = Seq((0, 13), (13, 13), (26, 13), (39, 13), (52, 12))
      def blk(fp: Long, m: Int): Long = (fp >>> ranges(m)._1) & ((1L << ranges(m)._2) - 1L)
      val fps = Dedup.simhashTable(corpus, "doc_id", "text").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._2).values.map(_.minBy(_._1)).toSeq // identical fps collapse to the min id
      val fpOf = fps.toMap
      val shBuckets = (for (i <- 0 until 5; j <- (i + 1) until 5) yield {
        val rest = (0 until 5).filterNot(m => m == i || m == j)
        fps.groupBy { case (_, fp) => (blk(fp, i), blk(fp, j)) }.values
          .map(_.map { case (id, fp) => (id, rest.map(m => (m, blk(fp, m))).toSet) })
      }).flatten

      caps.foreach { cap =>
        val (hot, cold) = census(mhBuckets, cap)
        assert(hot > 0 && (cap == 1 || cold > 0), s"minhash cap $cap: $hot hot, $cold cold")
        val expected = mhBuckets.flatMap(bucketPairs(_, cap)).toSet
        val got = Dedup.minhashCandidates(corpus, "doc_id", "text", k = 3, numHashes = 64,
            bands = 16, maxBucket = cap, subRows = 2)._1
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assertSamePairs(s"minhash cap $cap", got, expected)
      }
      caps.foreach { cap =>
        val (hot, cold) = census(shBuckets, cap)
        assert(hot > 0 && (cap == 1 || cold > 0), s"simhash cap $cap: $hot hot, $cold cold")
        val expected = shBuckets.flatMap(bucketPairs(_, cap))
          .filter { case (a, b) => java.lang.Long.bitCount(fpOf(a) ^ fpOf(b)) <= 3 }.toSet
        val got = Dedup.simhashCandidates(corpus, "doc_id", "text", maxHamming = 3,
            maxBucket = cap)._1
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assertSamePairs(s"simhash cap $cap", got, expected)
      }
    } finally Dedup.releaseLshState()
  }

  test("shingles: short texts yield one whole-text shingle") {
    import spark.implicits._
    val out = Seq("one two").toDF("text")
      .select(Dedup.distinctShingles(Dedup.tokensCol(col("text")), 3)).head().getSeq[String](0)
    assert(out == Seq("one two"))
  }

  test("ngramJaccard: identical texts → 1.0") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(d, "doc_id", "text", pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) == 0.0)
  }

  test("mirrorHosts: mirrored hosts pair with the exact resemblance; a " +
      "boilerplate fingerprint on every host is frequency-gated out") {
    import spark.implicits._
    val body = (0 until 10).map(i => s"unique doc body number $i with content")
    val rows =
      body.map(t => ("m1.example.com", t)) ++
        body.take(8).map(t => ("m2.example.com", t)) ++
        Seq(("m2.example.com", "m2 own a"), ("m2.example.com", "m2 own b")) ++
        (0 until 10).map(i => ("u.example.com", s"unrelated body $i")) ++
        // one text served by ALL hosts — with maxHostsPerFp=2 it is
        // non-discriminative and must not manufacture any pair
        Seq("m1", "m2", "u").map(h => (s"$h.example.com", "BOILERPLATE"))
    val df = rows.toDF("host", "text")

    val gated = Dedup.mirrorHosts(df, "host", "text", maxHostsPerFp = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(gated.toSeq ==
      Seq(("m1.example.com", "m2.example.com", 8L, 11L, 11L, 8.0 / 14.0)))

    // without the gate the boilerplate links every host to every other
    val ungated = Dedup.mirrorHosts(df, "host", "text", maxHostsPerFp = 64)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(ungated == Map(
      ("m1.example.com", "m2.example.com") -> 9L,
      ("m1.example.com", "u.example.com") -> 1L,
      ("m2.example.com", "u.example.com") -> 1L))
  }

  test("mirrorHosts: 10^4 hosts sharing one boilerplate text stay O(hosts) — " +
      "the frequency gate kills the quadratic bucket before the self-join") {
    import spark.implicits._
    // every host serves the same boilerplate plus one unique page: ungated,
    // the boilerplate fingerprint alone would emit ~5·10^7 candidate pairs
    val n = 10000
    val rows = (0 until n).flatMap(i =>
      Seq((s"h$i.example.com", "SHARED BOILERPLATE FOOTER"),
        (s"h$i.example.com", s"unique page body $i")))
    val out = Dedup.mirrorHosts(rows.toDF("host", "text"), "host", "text")
    assert(out.isEmpty, "frequency gate failed — boilerplate manufactured pairs")
  }

  // -------------------- connected components --------------------

  /** Sequential union-find reference for component checking. */
  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = (edges.flatMap(e => Seq(e._1, e._2)) ++ (0L until n)).distinct
    verts.map(v => v -> find(v)).toMap
  }

  test("connectedComponents: 100-vertex chain contracts to one component in few rounds") {
    import spark.implicits._
    // worst case for label propagation (diameter 100); the alternating
    // star algorithm must converge in O(log n)-ish rounds — maxIter=15
    // would fail a propagation-style implementation loudly.
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Dedup.connectedComponents(chain, maxIter = 15).collect()
    assert(out.length == 100)
    assert(out.forall(_.getLong(1) == 0L))
  }

  test("connectedComponents: matches union-find on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 400L
    val edges = Seq.fill(300)((rnd.nextLong().abs % n, rnd.nextLong().abs % n))
      .filter(e => e._1 != e._2)
    val expected = unionFind(0, edges) // only touched vertices
    val out = Dedup.connectedComponents(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(out.keySet == touched.toSet)
    touched.foreach { v => assert(out(v) == expected(v), s"vertex $v") }
  }

  test("connectedComponents: ring + star + duplicate/reversed edges; empty input") {
    import spark.implicits._
    val ring = (10L until 20L).map(i => (i, if (i == 19) 10L else i + 1))
    val star = (1L to 5L).map(i => (100L, 100L + i))
    val noise = Seq((11L, 10L), (10L, 11L), (101L, 100L)) // reversed + dup
    val out = Dedup.connectedComponents((ring ++ star ++ noise).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L until 20L).forall(out(_) == 10L))
    assert((Seq(100L) ++ (101L to 105L)).forall(out(_) == 100L))
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("src", "dst"))
      .isEmpty)
  }

  test("dedupClusters over minhashPairs: injected near-dups cluster to canonical id; " +
      "unpaired docs are singletons") {
    val near = docs.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" tail marker extra")))
    val corpus = docs.unionByName(near)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val pairSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val byId = Dedup.dedupClusters(corpus, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.size == 600)
    // the clustering must be EXACTLY the union-find closure of the pair set
    // (docs in no pair are singletons — the corpus does contain some real
    // near-dups among originals at threshold 0.5, so derive, don't assume)
    val expected = unionFind(0, pairSet)
    byId.foreach { case (id, c) =>
      assert(c == expected.getOrElse(id, id), s"doc $id: $c vs expected")
    }
    // and the injected copies really did pair with their originals
    val clustered = (0L until 100L).count(i => byId(i + 100000) == byId(i))
    assert(clustered >= 95, s"clustered=$clustered") // minhash recall bound
  }
}
