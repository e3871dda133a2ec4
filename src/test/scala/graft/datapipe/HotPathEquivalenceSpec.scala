package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spider.SparkTestBase

/** r6 optimization contract: every fused hot-path kernel produces
  * BIT-IDENTICAL results to the r5 built-in composition it replaced —
  * including the floating-point paths (same fold order) and the null/edge
  * semantics the operators can encounter. The r5 compositions live here, as
  * the references this spec keeps asserting equality against. */
class HotPathEquivalenceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** k-token shingles; texts shorter than k yield one whole-text shingle:
    * the interpreted transform/slice/concat_ws composition
    * `Dedup.distinctShingles` fuses (with its array_distinct). */
  private def shinglesCol(tokens: Column, k: Int): Column =
    when(size(tokens) < k, array(concat_ws(" ", tokens)))
      .otherwise(transform(sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", slice(tokens, i + 1, lit(k)))))

  /** MinHash signature (array<long> of length numHashes) over a shingle
    * array column: per salt, `numHashes` interpreted transform/array_min
    * passes, each allocating an intermediate array. */
  private def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val hashes = transform(shingles, s => xxhash64(s))
    array(Dedup.minhashSalts(numHashes).map(a =>
      array_min(transform(hashes, h => xxhash64(h.bitwiseXOR(lit(a)))))): _*)
  }

  private def cosineReference(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (acc, x) => acc + x))
    dot / (na * nb)
  }

  /** The r5 per-plane LSH bucket: one interpreted dot product per plane. */
  private def lshBucketReference(
      vec: Column, nPlanes: Int, dim: Int, seedOffset: Int = 0): Column = {
    val ps = Similarity.planes(nPlanes, dim, seedOffset)
    val bits = ps.zipWithIndex.map { case (plane, i) =>
      val dot = aggregate(zip_with(vec, typedLit(plane), (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x)
      when(dot > 0, lit(1 << i)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  private def centroidDotsReference(vec: Column, cents: Seq[Seq[Double]]): Column =
    transform(typedLit(cents), c =>
      aggregate(zip_with(vec, c, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x))

  /** The r5 regex/split composition of [[TextStats.qualityFeatures]]. */
  private def qualityFeaturesReference(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nTokens = TextStats.tokenCount(t)
    val punct = length(regexp_replace(t, "[^\\p{Punct}]", ""))
    val upper = length(regexp_replace(t, "[^A-Z]", ""))
    val stopHits = size(array_intersect(array_distinct(split(trim(lower(t)), "\\s+")),
      typedLit(TextStats.stopwordsOf("en"))))
    df.withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("mean_token_len",
        when(nTokens > 0, nChars.cast("double") / nTokens.cast("double")).otherwise(lit(0.0d)))
      .withColumn("punct_ratio",
        punct.cast("double") / greatest(nChars.cast("double"), lit(1.0d)))
      .withColumn("upper_ratio",
        upper.cast("double") / greatest(nChars.cast("double"), lit(1.0d)))
      .withColumn("stopword_hits", stopHits)
      .withColumn("quality_score", TextStats.qualityScore(nTokens))
  }

  private def assertSameColumns(df: DataFrame): Unit = {
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.get(0) == r.get(1), s"fused=${r.get(0)} reference=${r.get(1)}")
    }
  }

  // deterministic pseudo-random doubles (no Random in tests either)
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def dvec(seed: Long, dim: Int): Seq[Double] =
    (0 until dim).map(d => mix(seed * 8191 + d).toDouble / Long.MaxValue.toDouble)

  test("minhash_minima ≡ the minhashSignature reference composition") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat and more words here",
      "one", "", "   ", "\tword\tword2\n", "ü ö ä diacritics für",
      "汉字 test 漢字", "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    val df = texts.toDF("text")
      .withColumn("sh", array_distinct(
        shinglesCol(Dedup.tokensCol(col("text")), 3)))
      .withColumn("shh", transform(col("sh"), s => xxhash64(s)))
    val salts = Dedup.minhashSalts(66)
    assertSameColumns(df.select(
      HotPathFunctions.minhash_minima(col("shh"), salts),
      minhashSignature(col("sh"), 66)))
    // empty array edge: both sides give an array of nulls
    val empty = Seq(Seq.empty[Long]).toDF("shh")
    assertSameColumns(empty.select(
      HotPathFunctions.minhash_minima(col("shh"), salts.take(4)),
      array(salts.take(4).map(a =>
        array_min(transform(col("shh"), h => xxhash64(h.bitwiseXOR(lit(a)))))): _*)))
  }

  test("band_hashes ≡ the banded-key reference composition") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat and more words here",
      "one", "", "   ", "ü ö ä diacritics für", "汉字 test 漢字")
    val salts = Dedup.minhashSalts(64)
    val df = texts.toDF("text")
      .withColumn("shh", transform(array_distinct(
        shinglesCol(Dedup.tokensCol(col("text")), 3)), s => xxhash64(s)))
      .withColumn("sig", HotPathFunctions.minhash_minima(col("shh"), salts))
    val rows = 4
    def refBands(sig: org.apache.spark.sql.Column, bands: Int, r: Int) =
      array((0 until bands).map(j => xxhash64(concat_ws(",",
        transform(slice(sig, j * r + 1, r), x => x.cast("string"))))): _*)
    assertSameColumns(df.select(
      HotPathFunctions.band_hashes(col("sig"), rows),
      refBands(col("sig"), 64 / rows, rows)))
    // the subRows=2 sub-key form: element 1 of a 2-wide banding over the
    // extra minima ≡ xxhash64(concat_ws(",", element_at casts))
    val extra = Dedup.minhashSalts(66).drop(64)
    val sub = df.withColumn("sm", HotPathFunctions.minhash_minima(col("shh"), extra))
    assertSameColumns(sub.select(
      element_at(HotPathFunctions.band_hashes(col("sm"), 2), 1),
      xxhash64(concat_ws(",",
        element_at(col("sm"), 1).cast("string"),
        element_at(col("sm"), 2).cast("string")))))
    // all-null signature (empty shingle-hash array): concat_ws skips the
    // null elements on both sides
    val empty = Seq(Seq.empty[Long]).toDF("shh")
      .withColumn("sig", HotPathFunctions.minhash_minima(col("shh"), salts.take(8)))
    assertSameColumns(empty.select(
      HotPathFunctions.band_hashes(col("sig"), 2),
      refBands(col("sig"), 4, 2)))
  }

  test("distinctShingles ≡ array_distinct(shinglesCol) on tricky token arrays") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a a", "one two", "one", "", "   ", "\tword\tword2\n",
      "rep rep rep word rep rep rep word rep", "x y z x y z x y z",
      "ü ö ä diacritics für", "汉字 test 漢字 test 汉字 test")
    for (k <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("text")
        .withColumn("t", Dedup.tokensCol(col("text")))
      assertSameColumns(df.select(
        Dedup.distinctShingles(col("t"), k),
        array_distinct(shinglesCol(col("t"), k))))
    }
    // null-element and empty-array edges
    val edge = Seq(Seq("a", null, "b", "a", null, "b"), Seq.empty[String])
      .toDF("t")
    assertSameColumns(edge.select(
      Dedup.distinctShingles(col("t"), 3),
      array_distinct(shinglesCol(col("t"), 3))))
  }

  test("cosine_sim ≡ the cosineReference composition (exact doubles)") {
    val pairs = (0 until 50).map(i => (dvec(i, 64), dvec(i + 1000, 64))) ++
      Seq((dvec(7, 64), dvec(7, 64))) // identical vectors → cosine 1-ish ulps
    val df = pairs.toDF("a", "b")
    assertSameColumns(df.select(
      Similarity.cosine(col("a"), col("b")),
      cosineReference(col("a"), col("b"))))
    // length mismatch → null on both sides
    val mism = Seq((dvec(1, 8), dvec(2, 4))).toDF("a", "b")
    assertSameColumns(mism.select(
      Similarity.cosine(col("a"), col("b")),
      cosineReference(col("a"), col("b"))))
  }

  test("lsh_bucket ≡ the lshBucketReference composition") {
    val vecs = (0 until 100).map(i => Tuple1(dvec(i, 64))).toDF("v")
    for (nPlanes <- Seq(4, 8, 13); off <- Seq(0, 8))
      assertSameColumns(vecs.select(
        Similarity.lshBucket(col("v"), nPlanes, 64, off),
        lshBucketReference(col("v"), nPlanes, 64, off)))
  }

  test("matrix_dots ≡ the centroidDotsReference composition (exact doubles)") {
    val cents = (0 until 9).map(i => dvec(i + 500, 64))
    val vecs = (0 until 40).map(i => Tuple1(dvec(i, 64))).toDF("v")
    assertSameColumns(vecs.select(
      HotPathFunctions.matrix_dots(col("v"), cents),
      centroidDotsReference(col("v"), cents)))
  }

  private val trickyTexts = Seq(
    "The quick brown fox, with THE usual punct!?",
    "le la les et de des est dans pour une",
    "el la los y de es en que una",
    "der die das und ist von mit für ein nicht",
    "àâçéèêëîïôùûœ áéíóúñ¿¡ äöüß",
    "汉字汉字汉字汉字 short", "", " ", "  a  ", "\tword\tand word ",
    "leading vertical tab", "trailing space ", "ALL CAPS AND (BRACKETS)",
    "the the the the duplicated stopword", "a", "und", "12345 !@#$% ^&*()",
    "mixed 汉 ascii ü end")

  test("text_features fields ≡ the r5 regex/split compositions") {
    val df = trickyTexts.toDF("text")
      .withColumn("__tf", HotPathFunctions.text_features(col("text")))
    val toks = split(trim(lower(col("text"))), "\\s+")
    def hitsRef(lang: String) = size(array_intersect(array_distinct(toks),
      typedLit(TextStats.stopwordsOf(lang))))
    val checks: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "nc" -> length(col("text")),
      "nt" -> TextStats.tokenCount(col("text")),
      "np" -> length(regexp_replace(col("text"), "[^\\p{Punct}]", "")),
      "nu" -> length(regexp_replace(col("text"), "[^A-Z]", "")),
      "h_en" -> hitsRef("en"), "h_fr" -> hitsRef("fr"),
      "h_es" -> hitsRef("es"), "h_de" -> hitsRef("de"),
      "cjk" -> (length(col("text")) -
        length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", ""))),
      "frd" -> (length(col("text")) -
        length(regexp_replace(col("text"), s"[${TextStats.frDiacritics}]", ""))),
      "esd" -> (length(col("text")) -
        length(regexp_replace(col("text"), s"[${TextStats.esDiacritics}]", ""))),
      "ded" -> (length(col("text")) -
        length(regexp_replace(col("text"), s"[${TextStats.deDiacritics}]", ""))))
    checks.foreach { case (field, ref) =>
      val rows = df.select(col("text"), col("__tf").getField(field), ref).collect()
      rows.foreach { r =>
        assert(r.get(1) == r.get(2),
          s"field $field on ${r.get(0)}: fused=${r.get(1)} reference=${r.get(2)}")
      }
    }
  }

  test("langIdFrom / qualityFrom ≡ the reference implementations on tricky texts") {
    val df = trickyTexts.toDF("text")
    assertSameColumns(
      TextStats.withTextFeatures(df, "text")
        .select(TextStats.langIdFrom(col("__tf")), TextStats.langId(col("text"))))
    val fused = TextStats.qualityFeatures(df, "text")
    val ref = qualityFeaturesReference(df, "text")
    assert(fused.columns.toSeq == ref.columns.toSeq)
    val cols = Seq("n_chars", "n_tokens", "mean_token_len", "punct_ratio",
      "upper_ratio", "stopword_hits", "quality_score").map(col)
    val a = fused.select(cols: _*).collect().map(_.toSeq)
    val b = ref.select(cols: _*).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("langIdFrom / qualityFrom ≡ references on the sf0.001 documents corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    assertSameColumns(
      TextStats.withTextFeatures(docs, "text")
        .select(TextStats.langIdFrom(col("__tf")), TextStats.langId(col("text"))))
    val cols = Seq("n_chars", "n_tokens", "mean_token_len", "punct_ratio",
      "upper_ratio", "stopword_hits", "quality_score").map(col)
    val a = TextStats.qualityFeatures(docs, "text").select(cols: _*).collect().map(_.toSeq)
    val b = qualityFeaturesReference(docs, "text").select(cols: _*).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
