package graft.spider.expr

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ArraySeq

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column, expression, foldedValue, instanceCall, staticCall}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import graft.spider.core.{Corpus, HtmlCodec, Templates, UrlCanonical}
import graft.spider.sketch.Sketches

/** Catalyst kernels for the crawl engine (SURVEY.md §2.2) — the north star
  * requires URL canonicalization / extraction "expressed as Catalyst
  * expressions rather than RDD lambdas". Each builder in [[SpiderFunctions]]
  * is one Spark `StaticInvoke`/`Invoke` of a kernel below, and each kernel is
  * a thin adapter over the ONE shared pure-Scala core also used by the
  * single-threaded oracle, so engine and oracle semantics cannot drift. The
  * calls compile into whole-stage generated code (SURVEY.md §4.3). */
object SpiderKernels {
  private def str(s: UTF8String): String = if (s == null) null else s.toString
  private def strs(a: ArrayData): Seq[String] =
    (0 until a.numElements()).map(i => str(a.getUTF8String(i)))
  private def utf8s(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  def canonicalize(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanonical.canonicalize(url.toString))

  def host(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanonical.host(url.toString))

  /** Null html → null; a null host dispatches to the default template
    * ([[Templates.forHost]]), the rule the oracle applies. */
  def extractText(html: Array[Byte], host: UTF8String): UTF8String =
    if (html == null) null
    else UTF8String.fromString(Templates.extractTextFor(str(host), html))

  def extractOutlinks(html: Array[Byte]): ArrayData =
    utf8s(HtmlCodec.extractOutlinks(html))

  /** [[extractText]] and [[extractOutlinks]] from ONE UTF-8 decode, with the
    * same null rules as [[extractText]]. */
  def extractPage(html: Array[Byte], host: UTF8String): InternalRow =
    if (html == null) null
    else {
      val doc = new String(html, UTF_8)
      InternalRow(UTF8String.fromString(Templates.forHost(str(host)).extractTextStr(doc)),
        utf8s(HtmlCodec.extractOutlinksStr(doc)))
    }

  def robotsAllows(url: UTF8String, prefixes: ArrayData): Boolean =
    Corpus.robotsAllows(url.toString, strs(prefixes))

  def wrapHtml(docId: Long, text: UTF8String, outlinks: ArrayData,
      host: UTF8String, noiseLen: Int): Array[Byte] =
    Templates.wrapFor(host.toString, docId, text.toString, strs(outlinks), noiseLen)
}

/** F2: Bloom membership over a collection of filters sharded by
  * [[Sketches.shardOf]]; a lone filter is the one-shard case. False
  * positives only — strictly a prefilter in front of the exact anti-join.
  * A null (missing) filter passes everything on to that join. Each task
  * deserializes the filters once. */
sealed abstract class BloomShards extends Serializable {
  protected def serialized: Array[Array[Byte]]
  @transient private lazy val shards: Array[BloomFilter] =
    serialized.map(b => if (b == null) null else Sketches.bloomFrom(b))

  def mightContain(h: Long): Boolean = {
    val f = shards(Sketches.shardOf(h, shards.length))
    f == null || f.mightContainLong(h)
  }
}

/** One filter whose bytes sit in the plan. */
final case class InlineBloom(bytes: Seq[Byte]) extends BloomShards {
  protected def serialized: Array[Array[Byte]] =
    Array(if (bytes == null) null else bytes.toArray)
  override def toString: String =
    s"InlineBloom(${if (bytes == null) "null" else s"${bytes.length} B"})"
}

/** Shards shipped through `SparkContext.broadcast`: the filter bytes never
  * enter the plan, and tasks fetch the blocks once per executor. */
final case class BroadcastBloom(filters: Broadcast[Array[Array[Byte]]]) extends BloomShards {
  protected def serialized: Array[Array[Byte]] = filters.value
}

/** Column builders + SQL registration for the kernels above. */
object SpiderFunctions {
  private val K = SpiderKernels

  /** E1: RFC 3986 canonical form of a URL. */
  def url_canonicalize(url: Column): Column =
    staticCall(K, "canonicalize", StringType, Seq(url))

  /** E2: host component via the SAME shared core as the oracle
    * (UrlCanonical.host). The built-in parse_url delegates to java.net.URI,
    * which returns NULL for URLs it rejects (spaces, illegal chars) — the
    * oracle would keep those candidates, so using parse_url on the discovery
    * path would silently diverge on any non-pristine corpus. */
  def url_host(url: Column): Column =
    staticCall(K, "host", StringType, Seq(url), returnNullable = true)

  /** E5: EC-Spider item-parsing semantics — extracted text of a page, under
    * the page host's template (per-site selector dispatch, the reference's
    * JD-vs-Taobao shape). Null-tolerant on the host side only: a null host
    * (unparseable URL) keeps the row's text. */
  def extract_text(html: Column, host: Column): Column =
    staticCall(K, "extractText", StringType, Seq(html, host),
      propagateNull = false, returnNullable = true)

  /** E6: ordered array of raw href values of `<a>` tags. */
  def extract_outlinks(html: Column): Column =
    staticCall(K, "extractOutlinks", ArrayType(StringType, containsNull = false), Seq(html))

  /** E5+E6 fused: struct(text, outlinks) from one decode of the page — the
    * fetch-extract hot path. Host rule as in [[extract_text]]. */
  def extract_page(html: Column, host: Column): Column =
    staticCall(K, "extractPage", StructType(Seq(
      StructField("text", StringType, nullable = false),
      StructField("outlinks", ArrayType(StringType, containsNull = false), nullable = false))),
      Seq(html, host), propagateNull = false, returnNullable = true)

  /** E7: robots gate — true iff the url's path starts with no disallow prefix. */
  def robots_allows(url: Column, prefixes: Column): Column =
    staticCall(K, "robotsAllows", BooleanType, Seq(url, prefixes))

  /** S2 helper: deterministic Common-Crawl-style html wrap of (doc_id, text,
    * outlinks) under the HOST's template — the fixture generator the
    * extractor inverts. */
  def wrap_html(docId: Column, text: Column, outlinks: Column, host: Column,
      noiseLen: Int = 0): Column =
    staticCall(K, "wrapHtml", BinaryType, Seq(docId, text, outlinks, host, lit(noiseLen)))

  /** Membership in one filter given as a foldable bytes column (a literal);
    * the bytes are read once, here, when the plan is built. */
  def bloom_might_contain(bloomBytes: Column, value: Column): Column = {
    val bytes = foldedValue(bloomBytes).asInstanceOf[Array[Byte]]
    instanceCall(InlineBloom(if (bytes == null) null else ArraySeq.unsafeWrapArray(bytes)),
      "mightContain", BooleanType, Seq(value), returnNullable = bytes == null)
  }

  /** Membership in the broadcast sharded filters the crawl's seen sketch
    * builds (shard = pmod(hash, n), as in the sharded aggregate). */
  def bloom_sharded_might_contain(filters: Broadcast[Array[Array[Byte]]],
      value: Column): Column =
    instanceCall(BroadcastBloom(filters), "mightContain", BooleanType, Seq(value))

  /** Register as SQL temp functions so `spark.sql("... url_canonicalize(u)")`
    * works too — through the builders above. */
  def registerAll(spark: SparkSession): Unit = {
    def reg(name: String, build: Seq[Column] => Column): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
        (args: Seq[Expression]) => expression(build(args.map(column))), "scala_udf")
    reg("url_canonicalize", a => url_canonicalize(a(0)))
    reg("url_host", a => url_host(a(0)))
    reg("extract_text", a => extract_text(a(0), a(1)))
    reg("extract_outlinks", a => extract_outlinks(a(0)))
    reg("robots_allows", a => robots_allows(a(0), a(1)))
  }
}
