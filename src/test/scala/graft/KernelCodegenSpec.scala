package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.{Dedup, HotPathFunctions, PipeFunctions}
import graft.spider.PlanShapes.{finalPlan, withConfs}
import graft.spider.SparkTestBase
import graft.spider.core.Templates
import graft.spider.expr.SpiderFunctions
import graft.spider.sketch.Sketches

/** Every public kernel builder compiles into whole-stage generated code:
  * (a) no `CodegenFallback` in the executed plan, and the operator calling
  * the kernel sits inside a `WholeStageCodegenExec`; (b) generated code and
  * the interpreted path give the same rows; (c) each builder keeps its
  * output type and nullability; (d) kernel parameters compare structurally,
  * so independently built LSH plans stay `sameResult` (CacheManager reuse
  * of the persisted LSH frames depends on it). */
class KernelCodegenSpec extends AnyFunSuite with SparkTestBase {

  private def dvec(seed: Long, dim: Int): Seq[Double] =
    (0 until dim).map(d => math.sin(seed * 31.0 + d * 7.0))

  private val inBloom = Seq(123456789L, 987L)

  private lazy val input: DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("url", StringType), StructField("html", BinaryType),
      StructField("host", StringType), StructField("prefixes", ArrayType(StringType)),
      StructField("text", StringType), StructField("outlinks", ArrayType(StringType)),
      StructField("tokens", ArrayType(StringType)), StructField("hashes", ArrayType(LongType)),
      StructField("vec", ArrayType(DoubleType)), StructField("vec2", ArrayType(DoubleType)),
      StructField("h", LongType)))
    val rows = Seq(
      Row(1L, "HTTP://Example.COM:80/a/../b%7E?q=1&p=2#frag",
        Templates.wrapFor("p1.example.com", 1L, "hello & <world> the and",
          Seq("https://a.example.com/1", "https://b.example.com/2")),
        "p1.example.com", Seq("/b"), "The quick brown fox, with THE punct!? àé 汉字",
        Seq("https://a.example.com/1"), Seq("the", "quick", "brown", "fox", "the", "quick"),
        Seq(11L, -7L, 42L, 11L), dvec(1, 8), dvec(2, 8), 123456789L),
      Row(2L, null, null, null, null, null, null, null, null, null, null, null),
      Row(3L, "https://x.example.net:8443/%41/./c",
        Templates.wrapFor("i7.example.com", 3L, "数据 表", Seq("https://c.example.com/3")),
        null, Seq.empty[String], "", Seq.empty[String], Seq("a", null, "b"), Seq.empty[Long],
        Seq[Any](1.0, null, 2.0), dvec(3, 3), -5L),
      Row(4L, "not a url", Array.emptyByteArray, "h.example.com", Seq("/"),
        "  leading\tand trailing  ", Seq("https://d.example.com/4"), Seq("x"),
        Seq(1L, 2L, 3L, 4L, 5L), dvec(4, 8), dvec(4, 4), 987L))
    // an RDD-backed relation, so the optimizer cannot fold the kernels away
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private lazy val builders: Seq[(String, Column)] = {
    val bloom = BloomFilter.create(1000, 0.03)
    inBloom.foreach(bloom.putLong)
    val shards = Array.fill(3)(BloomFilter.create(1000, 0.03))
    inBloom.foreach(h => shards(Sketches.shardOf(h, 3)).putLong(h))
    val shardBytes: Array[Array[Byte]] = shards.map(Sketches.bloomBytes)
    shardBytes(1) = null // a missing shard passes everything
    val bc = spark.sparkContext.broadcast(shardBytes)
    val matrix = Seq(dvec(10, 8), dvec(11, 8), dvec(12, 4))
    val planes = (0 until 5).map(p => dvec(20 + p, 8))
    import SpiderFunctions._, HotPathFunctions._, PipeFunctions._
    Seq(
      "url_canonicalize" -> url_canonicalize(col("url")),
      "url_host" -> url_host(col("url")),
      "extract_text" -> extract_text(col("html"), col("host")),
      "extract_outlinks" -> extract_outlinks(col("html")),
      "extract_page" -> extract_page(col("html"), col("host")),
      "robots_allows" -> robots_allows(col("url"), col("prefixes")),
      "wrap_html" -> wrap_html(col("doc_id"), col("text"), col("outlinks"), col("host"), 16),
      "bloom_might_contain" ->
        bloom_might_contain(lit(Sketches.bloomBytes(bloom)), col("h")),
      "bloom_sharded_might_contain" -> bloom_sharded_might_contain(bc, col("h")),
      "minhash_minima" -> minhash_minima(col("hashes"), Seq(3L, 5L, -9L)),
      "cosine_sim" -> cosine_sim(col("vec"), col("vec2")),
      "matrix_dots" -> matrix_dots(col("vec"), matrix),
      "lsh_bucket" -> lsh_bucket(col("vec"), planes),
      "text_features" -> text_features(col("text")),
      "distinct_shingles" -> distinct_shingles(col("tokens"), 2),
      "band_hashes" -> band_hashes(col("hashes"), 2),
      "simhash64" -> simhash64(col("tokens")),
      "doc_fingerprint" -> doc_fingerprint(col("text"), lit(4)))
  }

  private def isKernelCall(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.staticObject.getName.startsWith("graft.")
    case i: Invoke => i.targetObject.dataType match {
      case ObjectType(cls) => cls.getName.startsWith("graft.")
      case _ => false
    }
    case _ => false
  }

  /** The operators compiled by a whole-stage codegen span. */
  private def inCodegenStage(p: SparkPlan): Seq[SparkPlan] =
    p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(inCodegenStage)
    })

  test("(a) every kernel runs inside a WholeStageCodegen span, with no CodegenFallback") {
    builders.foreach { case (name, k) =>
      val df = input.select(col("doc_id"), k.as("k"))
      df.collect()
      val plan = finalPlan(df)
      val fallbacks = plan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case e: CodegenFallback => e.prettyName })
      assert(fallbacks.isEmpty, s"$name: CodegenFallback in the plan: $fallbacks\n$plan")
      val callers = plan.collect { case p if p.expressions.exists(_.exists(isKernelCall)) => p }
      assert(callers.nonEmpty, s"$name: no kernel call in the plan\n$plan")
      val compiled = plan.collect { case w: WholeStageCodegenExec => w }
        .flatMap(w => inCodegenStage(w.child))
      callers.foreach { op =>
        assert(compiled.exists(_ eq op), s"$name: ${op.nodeName} is outside codegen\n$plan")
      }
    }
  }

  test("(b) generated code and the interpreted path give the same rows") {
    def run(confs: (String, String)*): Seq[Row] = withConfs(confs: _*) {
      input.select(col("doc_id") +: builders.map { case (n, k) => k.as(n) }: _*)
        .orderBy("doc_id").collect().toSeq
    }
    val generated = run("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(generated.length == 4)
    def comparable(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case o => o
    }
    generated.zip(interpreted).foreach { case (g, i) =>
      builders.indices.foreach { c =>
        assert(comparable(g.get(c + 1)) == comparable(i.get(c + 1)),
          s"${builders(c)._1} on doc ${g.getLong(0)}: generated=${g.get(c + 1)} " +
            s"interpreted=${i.get(c + 1)}")
      }
    }
    // spot-check the null rules
    val byDoc = generated.map(r => r.getLong(0) -> r).toMap
    val idx = builders.map(_._1).zipWithIndex.toMap.map { case (n, i) => n -> (i + 1) }
    val html3 = input.filter(col("doc_id") === 3L).head().getAs[Array[Byte]]("html")
    // a null host extracts under the default template
    assert(byDoc(3L).getString(idx("extract_text")) == Templates.extractTextFor(null, html3))
    assert(byDoc(2L).isNullAt(idx("extract_page")))
    assert(byDoc(2L).getSeq[Any](idx("minhash_minima")) == Seq(null, null, null))
    assert(byDoc(2L).getInt(idx("lsh_bucket")) == 0)
    assert(byDoc(3L).getSeq[Any](idx("matrix_dots")) == Seq(null, null, null))
    assert(byDoc(1L).getBoolean(idx("bloom_might_contain")))
    assert(byDoc(4L).getBoolean(idx("bloom_sharded_might_contain")))
    assert(byDoc(3L).getBoolean(idx("bloom_sharded_might_contain"))) // missing shard
    assert(byDoc(2L).isNullAt(idx("bloom_might_contain")))
  }

  test("(c) each builder keeps its output type and nullability") {
    val str = ArrayType(StringType, containsNull = false)
    val expected: Map[String, (DataType, Boolean)] = Map(
      "url_canonicalize" -> (StringType, true),
      "url_host" -> (StringType, true),
      "extract_text" -> (StringType, true),
      "extract_outlinks" -> (str, true),
      "extract_page" -> (StructType(Seq(StructField("text", StringType, nullable = false),
        StructField("outlinks", str, nullable = false))), true),
      "robots_allows" -> (BooleanType, true),
      "wrap_html" -> (BinaryType, true),
      "bloom_might_contain" -> (BooleanType, true),
      "bloom_sharded_might_contain" -> (BooleanType, true),
      "minhash_minima" -> (ArrayType(LongType, containsNull = true), false),
      "cosine_sim" -> (DoubleType, true),
      "matrix_dots" -> (ArrayType(DoubleType, containsNull = true), false),
      "lsh_bucket" -> (IntegerType, false),
      "text_features" -> (StructType(Seq("nc", "nt", "np", "nu", "h_en", "h_fr", "h_es",
        "h_de", "cjk", "frd", "esd", "ded").map(StructField(_, IntegerType, nullable = false))),
        true),
      "distinct_shingles" -> (str, true),
      "band_hashes" -> (ArrayType(LongType, containsNull = false), true),
      "simhash64" -> (LongType, true),
      "doc_fingerprint" -> (LongType, true))
    assert(expected.keySet == builders.map(_._1).toSet)
    builders.foreach { case (name, k) =>
      val f = input.select(k.as(name)).schema(name)
      assert((f.dataType, f.nullable) == expected(name), name)
    }
    // a non-nullable input stays non-nullable through a null-propagating kernel
    val f = input.select(SpiderFunctions.wrap_html(col("doc_id"), lit("t"),
      array(lit("https://e.example.com/5")), lit("h.example.com")).as("w")).schema("w")
    assert(!f.nullable)
  }

  test("(d) independently built minhashPairs / simhashPairs plans are sameResult") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), (3L, "something else"))
      .toDF("doc_id", "text")
    try {
      for (build <- Seq[DataFrame => DataFrame](
          Dedup.minhashPairs(_, "doc_id", "text"),
          Dedup.simhashPairs(_, "doc_id", "text"))) {
        val a = build(docs).queryExecution.analyzed
        val b = build(docs).queryExecution.analyzed
        assert(a.sameResult(b))
      }
    } finally Dedup.releaseLshState()
  }
}
