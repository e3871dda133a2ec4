package graft.datapipe

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{instanceCall, staticCall}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.spider.core.Hash64

/** Hot-path fused kernels (optimization round r6).
  *
  * The r1-r5 operators expressed their per-row kernels as compositions of
  * higher-order built-ins (`transform`/`aggregate`/`zip_with`). Those are
  * semantically ideal but HigherOrderFunction lambdas are evaluated
  * INTERPRETED (they do not participate in whole-stage codegen), and the
  * MinHash/cosine/LSH kernels invoke them 60-70× per row with a fresh
  * intermediate array each — measured as the dominant cost of the
  * dedup_minhash / embed_* bench queries (OPTIMIZATION_r06.md §measure).
  *
  * Each kernel below replaces one such composition with a single tight-loop
  * pass over Catalyst values that is BIT-IDENTICAL to the built-in
  * composition it replaces (same hash kernels, same floating-point
  * accumulation order, same null semantics on every input that can occur in
  * the operators' plans). [[HotPathFunctions]] exposes each as one Spark
  * `StaticInvoke`/`Invoke`, so it compiles into whole-stage generated code.
  * `HotPathEquivalenceSpec` asserts exact equality — including the FP
  * paths — against the original formulations, which it keeps as the
  * reference implementations.
  */
object HotPathKernels {
  private val space = UTF8String.fromString(" ")
  private val comma = UTF8String.fromString(",")

  /** Distinct k-token shingles in ONE pass over a token array — fused
    * equivalent of `array_distinct(shinglesCol(tokens, k))`, the
    * reference composition HotPathEquivalenceSpec keeps:
    * for n = size(tokens) < k one whole-text shingle (all tokens joined by
    * " "), else one shingle per window i ∈ [0, n-k] joining tokens
    * [i, i+k) — `concat_ws` semantics (null elements skipped, "" for
    * all-null), distinct by first occurrence. Measured: the interpreted
    * transform/slice/concat_ws composition was ~3 s of the dedup_minhash
    * bench query; this is the same work in one tight loop. */
  def distinctShingles(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    def joined(from: Int, len: Int): UTF8String = {
      val parts = new Array[UTF8String](len)
      var i = 0
      while (i < len) { // null tokens stay null — concatWs skips them
        if (!tokens.isNullAt(from + i)) parts(i) = tokens.getUTF8String(from + i)
        i += 1
      }
      UTF8String.concatWs(space, parts: _*)
    }
    if (n < k) return new GenericArrayData(Array[Any](joined(0, n)))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= n - k) {
      seen.add(joined(i, k))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** All LSH band keys in ONE pass over a MinHash signature (`array<long>`,
    * length = bands·rows): element j is `xxhash64(concat_ws(",",
    * transform(slice(sig, j*rows+1, rows), x => x.cast("string"))))` — the
    * banded-key composition of the MinHash band keys that
    * [[Dedup.bandedCandidates]] blocks on. Bit-identity by
    * construction: long→string is the same `Long.toString` the Cast uses,
    * null elements are skipped by `UTF8String.concatWs` exactly as
    * `concat_ws` skips them, and the hash IS Spark's `XxHash64Function`
    * over the joined string (seed 42). */
  def bandHashes(sig: ArrayData, rows: Int): ArrayData = {
    val bands = sig.numElements() / rows
    val out = new Array[Long](bands)
    val parts = new Array[UTF8String](rows)
    var j = 0
    while (j < bands) {
      var i = 0
      while (i < rows) {
        parts(i) =
          if (sig.isNullAt(j * rows + i)) null
          else UTF8String.fromString(java.lang.Long.toString(sig.getLong(j * rows + i)))
        i += 1
      }
      out(j) = XxHash64Function.hash(UTF8String.concatWs(comma, parts: _*), StringType, Hash64.Seed)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Cosine similarity of two `array<double>` values in one fused pass —
    * bit-identical to the `zip_with`/`aggregate` composition: dot and both
    * squared norms are independent sequential left-folds (same FP order as
    * three separate `aggregate` calls), result `dot / (sqrt(na2) *
    * sqrt(nb2))` with Spark's Divide semantics (zero divisor → null under
    * non-ANSI, error under ANSI — `failOnError` is captured from the session
    * at plan time exactly like `Divide` does). Any null element or length
    * mismatch → null, matching the null-propagation of the zip_with form. */
  def cosine(a: ArrayData, b: ArrayData, failOnError: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null // zip_with pads with null → null
    var dot = 0.0d
    var na2 = 0.0d
    var nb2 = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na2 += x * x
      nb2 += y * y
      i += 1
    }
    val denom = math.sqrt(na2) * math.sqrt(nb2)
    if (denom == 0.0d) {
      if (failOnError) throw new ArithmeticException("Division by zero")
      null
    } else dot / denom
  }

  /** Every per-row text feature the TextStats operators consume, in ONE pass
    * over the string (plus one pass over its lowercased form for the
    * stopword hits) — replacing the 6 `regexp_replace` passes + 2 regex
    * `split`s + 5 `array_distinct`/`array_intersect` evaluations of the r5
    * formulation. Fields (each bit-identical to the composition it
    * replaces; asserted in HotPathEquivalenceSpec):
    *  - nc  = `length(text)` (code points, UTF8String.numChars);
    *  - nt  = `TextStats.tokenCount(text)` — `when(length(trim(text)) = 0, 0)
    *          .otherwise(size(split(trim(text), "\\s+")))`, where split keeps
    *          Java `Pattern.split(…, -1)` semantics (leading "" when the
    *          trimmed text starts with non-space whitespace, trailing "" when
    *          it ends with whitespace — so nt = whitespace-run count + 1);
    *  - np  = `length(regexp_replace(text, "[^\\p{Punct}]", ""))` — count of
    *          ASCII POSIX-punct code points;
    *  - nu  = `length(regexp_replace(text, "[^A-Z]", ""))`;
    *  - h_* = `size(array_intersect(array_distinct(split(trim(lower(text)),
    *          "\\s+")), stopwords(lang)))` — distinct lowercase tokens that
    *          are stopwords of that language;
    *  - cjk = count of code points in [0x4e00, 0x9fff];
    *  - frd/esd/ded = count of code points in the language's diacritic set. */
  def textFeatures(u: UTF8String): InternalRow = {
    val nc = u.numChars()
    val s = u.toString
    var np = 0; var nu = 0; var cjk = 0; var frd = 0; var esd = 0; var ded = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      else if (cp >= 'A' && cp <= 'Z') nu += 1
      else if ((cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
        (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126)) np += 1
      else if (cp >= 0xa1) { // all diacritic sets sit above U+00A0
        if (frSet.contains(cp)) frd += 1
        if (esSet.contains(cp)) esd += 1
        if (deSet.contains(cp)) ded += 1
      }
      i += Character.charCount(cp)
    }
    val nt = tokenCountOf(u.trim())
    // stopword hits over split(trim(lower(text)), "\s+"), distinct tokens
    val lowered = u.toLowerCase.trim().toString
    val matched = new Array[Boolean](4 * 16) // lang × word-index bitmap
    var start = 0
    var j = 0
    val len = lowered.length
    while (j <= len) {
      if (j == len || isJavaWs(lowered.charAt(j))) {
        if (j > start) {
          val hit = wordIndex.get(lowered.substring(start, j))
          if (hit != null) {
            var w = 0
            while (w < hit.length) { matched(hit(w)) = true; w += 1 }
          }
        }
        start = j + 1
      }
      j += 1
    }
    def hits(lang: Int): Int = {
      var c = 0; var w = 0
      while (w < 16) { if (matched(lang * 16 + w)) c += 1; w += 1 }
      c
    }
    InternalRow(nc, nt, np, nu, hits(0), hits(1), hits(2), hits(3),
      cjk, frd, esd, ded)
  }

  val textFeaturesSchema: StructType = StructType(
    Seq("nc", "nt", "np", "nu", "h_en", "h_fr", "h_es", "h_de",
      "cjk", "frd", "esd", "ded")
      .map(StructField(_, IntegerType, nullable = false)))

  private def isJavaWs(c: Char): Boolean = // Java regex \s (no UNICODE flag)
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** `size(split(trimmed, "\\s+"))` for non-empty trimmed text =
    * whitespace-run count + 1 (Java Pattern.split limit -1 keeps the
    * leading "" of a text starting with a separator and every trailing
    * ""). 0 for empty. */
  private def tokenCountOf(trimmed: UTF8String): Int = {
    if (trimmed.numChars() == 0) return 0
    val t = trimmed.toString
    var runs = 0
    var inRun = false
    var i = 0
    while (i < t.length) {
      if (isJavaWs(t.charAt(i))) {
        if (!inRun) { runs += 1; inRun = true }
      } else inRun = false
      i += 1
    }
    runs + 1
  }

  private def cpSet(chars: String): java.util.HashSet[Integer] = {
    val s = new java.util.HashSet[Integer]()
    chars.codePoints().forEach(cp => s.add(cp))
    s
  }
  private val frSet = cpSet(TextStats.frDiacritics)
  private val esSet = cpSet(TextStats.esDiacritics)
  private val deSet = cpSet(TextStats.deDiacritics)

  /** word → packed (langIdx·16 + wordIdx) slots, langs ordered en,fr,es,de. */
  private val wordIndex: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    Seq("en", "fr", "es", "de").zipWithIndex.foreach { case (lang, li) =>
      TextStats.stopwordsOf(lang).zipWithIndex.foreach { case (w, wi) =>
        val prev = m.get(w)
        val slot = li * 16 + wi
        m.put(w, if (prev == null) Array(slot) else prev :+ slot)
      }
    }
    m
  }
}

/** All MinHash permutation minima in ONE pass over a pre-hashed shingle
  * array (`array<long>`). For salt `a` the permutation value of element `h`
  * is `xxhash64(h XOR a)` (seed 42); output element i = min over the array
  * — exactly `array_min(transform(hashes, h => xxhash64(h.bitwiseXOR(a))))`
  * per salt, without materializing `salts.length` intermediate arrays.
  * Null input / empty arrays reproduce the built-ins: null array → array of
  * nulls (transform(null)=null, array_min(null)=null, array(...) non-null);
  * empty array → array of nulls; a null ELEMENT contributes the seed (42L)
  * exactly as `xxhash64(null XOR a)` does. */
final case class MinHashKernel(salts: Seq[Long]) {
  @transient private lazy val saltArr: Array[Long] = salts.toArray

  def minima(hashes: ArrayData): ArrayData = {
    val k = saltArr.length
    if (hashes == null || hashes.numElements() == 0)
      return new GenericArrayData(new Array[Any](k))
    val n = hashes.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      if (hashes.isNullAt(j)) {
        // xxhash64(null) = the seed, regardless of the salt
        var p = 0
        while (p < k) { if (Hash64.Seed < mins(p)) mins(p) = Hash64.Seed; p += 1 }
      } else {
        val h = hashes.getLong(j)
        var p = 0
        while (p < k) {
          val c = XXH64.hashLong(h ^ saltArr(p), Hash64.Seed)
          if (c < mins(p)) mins(p) = c
          p += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override def toString: String = s"MinHashKernel(${salts.length} salts)"
}

/** Dot products of a vector against a constant matrix (the IVF centroid
  * model / an LSH plane family). */
final case class MatrixKernel(matrix: Seq[Seq[Double]]) {
  @transient private lazy val m: Array[Array[Double]] = matrix.map(_.toArray).toArray

  /** Element i = sequential left fold of `vec(j) * matrix(i)(j)` —
    * bit-identical to `transform(typedLit(matrix), c =>
    * aggregate(zip_with(vec, c, _*_), 0.0, _+_))`. Null vector → array of
    * nulls (transform over the non-null literal); null element or length
    * mismatch → that dot is null. */
  def dots(vec: ArrayData): ArrayData = {
    val k = m.length
    if (vec == null) return new GenericArrayData(new Array[Any](k))
    val n = vec.numElements()
    // null elements / length mismatches null the affected dots; scan once
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = vec.isNullAt(i); i += 1 }
    val out = new Array[Any](k)
    var p = 0
    while (p < k) {
      val row = m(p)
      if (hasNull || row.length != n) {
        out(p) = null // zip_with pad / null element → null fold
      } else {
        var acc = 0.0d
        var j = 0
        while (j < n) { acc += vec.getDouble(j) * row(j); j += 1 }
        out(p) = acc
      }
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Sign-LSH bucket id: bit p set iff [[dots]] element p is non-null and
    * > 0 — the per-plane `when(dot > 0, 1 << p).otherwise(0)` sum (a null
    * dot makes the predicate null → bit 0), so a null vector, a null
    * element or a length mismatch gives bucket 0. */
  def bucket(vec: ArrayData): Int = {
    val d = dots(vec)
    var b = 0
    var p = 0
    while (p < d.numElements()) {
      if (!d.isNullAt(p) && d.getDouble(p) > 0.0d) b |= 1 << p
      p += 1
    }
    b
  }

  override def toString: String =
    s"MatrixKernel(${matrix.length}x${matrix.headOption.fold(0)(_.length)})"
}

object HotPathFunctions {
  private val K = HotPathKernels

  def minhash_minima(shingleHashes: Column, salts: Seq[Long]): Column =
    instanceCall(MinHashKernel(salts), "minima", ArrayType(LongType, containsNull = true),
      Seq(shingleHashes), propagateNull = false)

  // vector inputs are coerced to array<double> here (SimplifyCasts removes
  // the no-op on the query paths, which pre-cast to double); float-array
  // callers get upcast-then-double math (spec fixtures' tolerance paths)
  def cosine_sim(a: Column, b: Column): Column =
    staticCall(K, "cosine", DoubleType,
      Seq(a.cast("array<double>"), b.cast("array<double>"), lit(SQLConf.get.ansiEnabled)),
      returnNullable = true)

  def matrix_dots(vec: Column, matrix: Seq[Seq[Double]]): Column =
    instanceCall(MatrixKernel(matrix), "dots", ArrayType(DoubleType, containsNull = true),
      Seq(vec.cast("array<double>")), propagateNull = false)

  def lsh_bucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    instanceCall(MatrixKernel(planes), "bucket", IntegerType,
      Seq(vec.cast("array<double>")), propagateNull = false)

  /** Null text → null struct (each downstream formula reproduces the null
    * behaviour of the original per-column expressions). Declared
    * non-deterministic — the kernel is a pure function — so the optimizer
    * keeps it in the projection that materializes the struct: a filter on
    * its fields pushed below that projection would inline one full text
    * pass per field reference, and whole-stage codegen does no
    * common-subexpression elimination in filters. */
  def text_features(text: Column): Column =
    staticCall(K, "textFeatures", K.textFeaturesSchema, Seq(text), deterministic = false)

  def distinct_shingles(tokens: Column, k: Int): Column = {
    require(k >= 1, "shingle width must be >= 1")
    staticCall(K, "distinctShingles", ArrayType(StringType, containsNull = false),
      Seq(tokens, lit(k)))
  }

  def band_hashes(sig: Column, rows: Int): Column = {
    require(rows >= 1, "band rows must be >= 1")
    staticCall(K, "bandHashes", ArrayType(LongType, containsNull = false),
      Seq(sig, lit(rows)))
  }
}
