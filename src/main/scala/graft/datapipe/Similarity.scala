package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — exact, one broadcast of the query
  * set, no shuffle of the corpus (scales linearly with corpus size; the
  * right choice when |queries| is small). Scale path: random-hyperplane LSH
  * bucketing — the corpus is hashed once into buckets (one narrow column),
  * candidates come from the query's bucket only, then exact cosine re-ranks.
  * Both are pure Catalyst plans (built-ins plus the HotPathKernels dot
  * products), no UDFs.
  *
  * Near-duplicate-by-embedding is the same kernel with a threshold instead
  * of top-k.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns — fused one-pass kernel
    * (r6), bit-identical to the r5 zip_with/aggregate composition (same FP
    * fold order, same null/zero-divisor semantics; HotPathEquivalenceSpec
    * keeps that composition as its reference). */
  def cosine(a: Column, b: Column): Column =
    HotPathFunctions.cosine_sim(a, b)

  /** The shared exact re-rank tail of every top-k variant (brute, LSH, IVF):
    * drop self-matches, exact cosine, per-query rank window (ties broken by
    * ascending id — deterministic), top-k, canonical output shape. */
  private def rerankTopK(candidates: DataFrame, idCol: String, vecCol: String,
      qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val scored = candidates
      .filter(col(qidCol) =!= col(idCol))
      .withColumn("cosine", cosine(col(vecCol), col(qvecCol)))
    val w = Window.partitionBy(qidCol)
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol).as("query_id"), col(idCol).as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Exact brute-force cosine top-k. `queries` must be small (broadcast). */
  def bruteTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame =
    rerankTopK(corpus.crossJoin(broadcast(queries)),
      idCol, vecCol, qidCol, qvecCol, k)

  /** Deterministic pseudo-random hyperplanes (seeded splitmix; no wall
    * clock / Random in the data path). `seedOffset` selects an independent
    * plane family (second-level bucketing, multi-table variants). */
  private[datapipe] def planes(nPlanes: Int, dim: Int, seedOffset: Int = 0): Seq[Seq[Double]] = {
    def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        // uniform in [-1, 1): fine for sign-projection hyperplanes
        mix((p.toLong + seedOffset) * 131071 + d).toDouble / Long.MaxValue.toDouble
      }
    }
  }

  /** Plane count scaled to the corpus: 2^planes ≈ corpus / targetBucket, so
    * the expected bucket width stays ~targetBucket as the corpus grows —
    * the round-1 fixed nPlanes=6 capped the space at 64 buckets whose
    * population (and any within-bucket join) grew linearly with corpus. */
  def planesFor(corpusRows: Long, targetBucket: Long = 256L): Int = {
    val ratio = math.max(1.0, corpusRows.toDouble / math.max(1L, targetBucket))
    math.max(4, math.ceil(math.log(ratio) / math.log(2.0)).toInt)
  }

  /** Random-hyperplane LSH bucket id (int of nPlanes sign bits) — fused
    * one-pass kernel (r6), bit-identical to the r5 per-plane composition
    * (HotPathEquivalenceSpec). */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int, seedOffset: Int = 0): Column =
    HotPathFunctions.lsh_bucket(vec, planes(nPlanes, dim, seedOffset))

  /** Corpus side of the LSH index: the input plus a `bucket` column.
    * Public so a verification harness can materialize the bucketed corpus
    * and re-derive the candidate join + exact re-rank INDEPENDENTLY (the
    * `embed_ann_lsh` DuckDB oracle: given the bucket/probe state, the
    * pairing and ranking are plain relational algebra). */
  def lshCorpus(corpus: DataFrame, vecCol: String,
      nPlanes: Int, dim: Int): DataFrame =
    corpus.withColumn("bucket", lshBucket(col(vecCol), nPlanes, dim))

  /** Query side of the LSH index: one row per (query, probe bucket) —
    * the query's own bucket plus every bucket within Hamming `multiProbe`
    * of it. Public for the same oracle-materialization reason as
    * [[lshCorpus]]. */
  def lshProbes(queries: DataFrame, qvecCol: String,
      nPlanes: Int, dim: Int, multiProbe: Int): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= 2, "multiProbe ∈ {0, 1, 2}")
    val qb0 = queries.withColumn("bucket0", lshBucket(col(qvecCol), nPlanes, dim))
    val probes: Seq[Column] = (col("bucket0") +:
      (if (multiProbe >= 1)
        (0 until nPlanes).map(i => col("bucket0").bitwiseXOR(lit(1 << i)))
      else Nil)) ++
      (if (multiProbe >= 2)
        for (i <- 0 until nPlanes; j <- (i + 1) until nPlanes)
          yield col("bucket0").bitwiseXOR(lit((1 << i) | (1 << j)))
      else Nil)
    qb0.withColumn("bucket", explode(array(probes: _*))).drop("bucket0")
  }

  /** Approximate top-k: candidates share one of the query's probe buckets,
    * then exact cosine re-ranks. `multiProbe = p` additionally probes every
    * bucket within Hamming distance p of the query's (p ∈ {0, 1, 2}): the
    * standard recall lever that does NOT widen the corpus-side buckets —
    * only the (small, broadcast) query side fans out, ×(1 + nPlanes) at
    * p = 1 and ×(1 + nPlanes + C(nPlanes, 2)) at p = 2. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nPlanes: Int = 8, dim: Int = 64, multiProbe: Int = 1): DataFrame = {
    val cb = lshCorpus(corpus, vecCol, nPlanes, dim)
    val qb = lshProbes(queries, qvecCol, nPlanes, dim, multiProbe)
    val candidates = cb.join(broadcast(qb), Seq("bucket"))
      // a candidate can arrive via several probes — dedup before ranking
      .dropDuplicates(qidCol, idCol)
    rerankTopK(candidates, idCol, vecCol, qidCol, qvecCol, k)
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the data-ADAPTIVE scale path. Sign-LSH is
  // oblivious to the corpus distribution; IVF clusters it: a coarse
  // quantizer (k-means centroids) assigns every corpus vector to one
  // inverted list (a narrow int column, exactly like the LSH bucket), and
  // a query probes only its nProbe nearest lists before the exact cosine
  // re-rank. The centroid model (nList × dim doubles) is the ONLY
  // collected/broadcast state — the FAISS IVF-flat shape re-expressed as
  // Catalyst plans.
  // ------------------------------------------------------------------

  /** L2-normalize an array column; cosine = plain dot afterwards. */
  private def normalized(v: Column): Column = {
    val n = sqrt(aggregate(transform(v, x => x * x), lit(0.0d), (acc, x) => acc + x))
    transform(v, x => x / n)
  }

  /** Dot of `vec` against every centroid in the (normalized) literal model:
    * array<double> of length nList — fused one-pass kernel (r6),
    * bit-identical to the r5 transform/aggregate composition
    * (HotPathEquivalenceSpec). */
  private def centroidDots(vec: Column, cents: Seq[Seq[Double]]): Column =
    HotPathFunctions.matrix_dots(vec, cents)

  /** 0-based nearest-centroid index by cosine (centroids are normalized, and
    * the vector's own norm is constant across centroids, so argmax dot ==
    * argmax cosine; ties resolve to the first max — deterministic). */
  def ivfList(vec: Column, cents: Seq[Seq[Double]]): Column = {
    val dots = centroidDots(vec, cents)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** List count scaled to the corpus: ~targetList vectors per inverted list,
    * the IVF sizing analog of [[planesFor]]. */
  def listsFor(corpusRows: Long, targetList: Long = 256L): Int =
    math.max(4, math.ceil(corpusRows.toDouble / math.max(1L, targetList)).toInt)

  /** Train the coarse quantizer: Lloyd iterations over a DETERMINISTIC
    * hash-ordered sample (standard IVF practice — the quantizer trains on a
    * bounded sample, so training cost is independent of corpus size; the
    * only full-corpus step is the single assignment pass in [[ivfTopK]]).
    * Every distributed step is a DataFrame plan (posexplode → per-dimension
    * avg → re-assembled vectors); only the nList×dim model is collected,
    * because it IS the broadcast model. Empty lists keep their previous
    * centroid. Fully deterministic: seeded hash ordering, no Random. */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String, nList: Int,
      iters: Int = 3, sampleN: Int = 4096): Seq[Seq[Double]] = {
    require(nList >= 1 && iters >= 0)
    def renorm(c: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    val sample = corpus
      .select(col(idCol).cast("string").as("id"), normalized(col(vecCol)).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(math.max(sampleN, nList))
      .cache()
    var cents: IndexedSeq[Seq[Double]] = sample.select("v").limit(nList).collect()
      .map(r => r.getSeq[Double](0).toIndexedSeq: Seq[Double]).toIndexedSeq
    require(cents.length == nList,
      s"corpus sample smaller than nList: ${cents.length} < $nList")
    (1 to iters).foreach { _ =>
      // r6: collect the (cid, pos, mean) rows directly — nList×dim rows,
      // the same bounded model state as before — and assemble the vectors
      // on the driver, instead of a second shuffle + collect_list/sort
      // aggregation per iteration. The per-(cid,pos) avg plan (and so
      // every mean value) is unchanged; assembly by ascending pos is
      // exactly the old array_sort-by-(pos,·) order (pos unique per cid).
      val rows = sample
        .withColumn("cid", ivfList(col("v"), cents))
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
        .collect()
      val means = rows.groupBy(_.getInt(0)).map { case (cid, rs) =>
        cid -> (rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq: Seq[Double])
      }
      cents = cents.indices.map(i => renorm(means.getOrElse(i, cents(i))))
    }
    sample.unpersist()
    cents
  }

  /** Corpus side of the IVF index: the input plus its `ivf_list`
    * assignment. Public for oracle materialization (see [[lshCorpus]]). */
  def ivfCorpus(corpus: DataFrame, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame =
    corpus.withColumn("ivf_list", ivfList(col(vecCol), cents))

  /** Query side of the IVF index: one row per (query, probed list) — the
    * query's nProbe nearest lists by centroid dot, ties by list index.
    * Public for oracle materialization (see [[lshCorpus]]). */
  def ivfProbes(queries: DataFrame, qvecCol: String,
      cents: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    require(nProbe >= 1)
    val nList = cents.length
    // rank the centroid dots on the query side: struct sort on (-dot, i)
    val dots = centroidDots(col(qvecCol), cents)
    val ranked = array_sort(zip_with(dots, sequence(lit(0), lit(nList - 1)),
      (d, i) => struct((-d).as("nd"), i.as("i"))))
    queries
      .withColumn("probe", explode(slice(ranked, 1, math.min(nProbe, nList))))
      .withColumn("ivf_list", col("probe.i"))
      .drop("probe")
  }

  /** IVF top-k: one corpus pass assigns each vector to its inverted list,
    * the (small, broadcast) query side probes its nProbe nearest lists, and
    * exact cosine re-ranks the candidates. Lists are disjoint, so no
    * candidate dedup is needed. Same output shape as [[lshTopK]]. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      cents: Seq[Seq[Double]], nProbe: Int = 4): DataFrame = {
    val cb = ivfCorpus(corpus, vecCol, cents)
    val qb = ivfProbes(queries, qvecCol, cents, nProbe)
    // lists are disjoint per query, so no candidate dedup is needed
    rerankTopK(cb.join(broadcast(qb), Seq("ivf_list")),
      idCol, vecCol, qidCol, qvecCol, k)
  }

  /** The (bucket, sub_bucket) blocking state [[embeddingNearDupPairs]]
    * self-joins on: level-1 LSH bucket for every row, plus an INDEPENDENT
    * extra-plane sub-bucket for rows in buckets wider than `maxBucket`
    * (0 in cold buckets; the cap step all banded schemes share,
    * Dedup.capHotBuckets). Public so a verification harness can materialize
    * it and re-derive the pairing independently — given the blocking
    * state, the within-block self-join + cosine threshold is plain
    * relational algebra (the `embed_neardup` DuckDB oracle). */
  def nearDupBuckets(corpus: DataFrame, vecCol: String,
      nPlanes: Int, dim: Int, maxBucket: Long, extraPlanes: Int): DataFrame =
    Dedup.capHotBuckets(
      corpus.withColumn("bucket", lshBucket(col(vecCol), nPlanes, dim)), Seq("bucket"),
      array(lshBucket(col(vecCol), extraPlanes, dim, seedOffset = nPlanes).cast("long")),
      maxBucket).withColumn("sub_bucket", col("sub_bucket").cast("int"))

  /** Embedding near-duplicate pairs: same LSH bucket AND cosine ≥ threshold.
    * Exact within-bucket. Buckets larger than `maxBucket` are sub-split with
    * an INDEPENDENT plane family, capping the within-bucket self-join at
    * ~maxBucket·corpus instead of quadratic blowup when the level-1 space
    * saturates. Identical vectors always share both levels (recall 1.0 for
    * exact copies); for near-dups at threshold θ the sub-split can only drop
    * pairs inside oversized buckets, each with probability
    * ≈ extraPlanes·arccos(θ)/π (θ = 0.999 → < 1%). */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, dim: Int = 64,
      maxBucket: Long = 10000L, extraPlanes: Int = 4): DataFrame = {
    val cb2 = nearDupBuckets(corpus, vecCol, nPlanes, dim, maxBucket, extraPlanes)
    val a = cb2.select(col("bucket"), col("sub_bucket"),
      col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = cb2.select(col("bucket"), col("sub_bucket"),
      col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, Seq("bucket", "sub_bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
