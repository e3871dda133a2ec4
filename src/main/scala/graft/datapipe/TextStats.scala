package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, language ID,
  * quality scoring, fingerprinting.
  *
  * r6 optimization note: the per-row feature extraction (char-class counts,
  * tokenization, stopword hits) is fused into ONE kernel
  * ([[HotPathKernels.textFeatures]]) evaluated once per row at a projection
  * boundary; the r5 composition of 6 `regexp_replace` passes + regex
  * `split`s + `array_intersect`s survives as [[langId]] here and as the
  * quality-features reference in HotPathEquivalenceSpec, which asserts the
  * two produce identical values. The bench/verify queries route through the
  * fused path ([[withTextFeatures]] → [[langIdFrom]] / [[qualityFrom]]). */
object TextStats {

  /** Whitespace token count (0 for empty/blank). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with", "for", "a"),
    "fr" -> Seq("le", "la", "les", "et", "de", "des", "est", "dans", "pour", "une"),
    "es" -> Seq("el", "la", "los", "las", "y", "de", "es", "en", "que", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "für", "ein", "nicht"))

  /** The stopword list of a language — single-sourced for the fused
    * [[HotPathKernels.textFeatures]] and the reference implementations. */
  private[datapipe] def stopwordsOf(lang: String): Seq[String] = stopwords(lang)

  /** Diacritic evidence sets — single-sourced (regex char classes below and
    * the fused kernel's code-point sets are both built from these). */
  private[datapipe] val frDiacritics = "àâçéèêëîïôùûœ"
  private[datapipe] val esDiacritics = "áéíóúñ¿¡"
  private[datapipe] val deDiacritics = "äöüß"

  /** Heuristic language ID: CJK codepoint share decides zh; otherwise the
    * language whose stopword list hits the most tokens (ties → more
    * diacritic evidence → en default). Returns a lang code column.
    *
    * REFERENCE implementation (built-in composition): evaluates the feature
    * regexes per reference — use [[withTextFeatures]] + [[langIdFrom]] on
    * hot paths (identical values, one fused pass). */
  def langId(text: Column): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    val hits = stopwords.map { case (lang, words) =>
      lang -> size(array_intersect(array_distinct(toks), typedLit(words)))
    }
    val cjkShare = (length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", "")))
      .cast("double") / greatest(length(text).cast("double"), lit(1.0d))
    val frD = length(text) - length(regexp_replace(text, s"[$frDiacritics]", ""))
    val esD = length(text) - length(regexp_replace(text, s"[$esDiacritics]", ""))
    val deD = length(text) - length(regexp_replace(text, s"[$deDiacritics]", ""))
    langDecision(cjkShare, hits("en"), hits("fr") + frD, hits("es") + esD,
      hits("de") + deD)
  }

  /** The langId decision chain over precomputed evidence columns — shared
    * by the reference and fused paths so the tie rules cannot drift. */
  private def langDecision(cjkShare: Column, en: Column, fr: Column,
      es: Column, de: Column): Column =
    when(cjkShare > 0.15, lit("zh"))
      .when(fr > en && fr >= es && fr >= de && fr > 0, lit("fr"))
      .when(es > en && es >= de && es > 0, lit("es"))
      .when(de > en && de > 0, lit("de"))
      .when(en > 0, lit("en"))
      .otherwise(lit("und")) // undetermined
      .as("lang_pred")

  // ------------------------------------------------------------------
  // Fused path (r6): one textFeatures struct per row, materialized at
  // a projection boundary, consumed by field references.
  // ------------------------------------------------------------------

  /** Attach the fused per-row feature struct as `featCol`. The struct is an
    * output attribute of its projection, so every downstream field
    * reference is a cheap `GetStructField(attr)` — CollapseProject keeps
    * the (expensive, non-cheap) expression in its own project and it is
    * evaluated exactly once per row. */
  def withTextFeatures(df: DataFrame, textCol: String,
      featCol: String = "__tf"): DataFrame =
    df.withColumn(featCol, HotPathFunctions.text_features(col(textCol)))

  /** [[langId]] over a materialized [[HotPathKernels.textFeatures]] struct column —
    * identical values (same decision chain, evidence from the fused pass). */
  def langIdFrom(tf: Column): Column = {
    val cjkShare = tf.getField("cjk").cast("double") /
      greatest(tf.getField("nc").cast("double"), lit(1.0d))
    langDecision(cjkShare,
      tf.getField("h_en"),
      tf.getField("h_fr") + tf.getField("frd"),
      tf.getField("h_es") + tf.getField("esd"),
      tf.getField("h_de") + tf.getField("ded"))
  }

  /** Quality features + composite score from a materialized
    * [[HotPathKernels.textFeatures]] struct column — same columns and values
    * as the r5 regex composition, the formulas rebuilt over the fused
    * feature fields. */
  def qualityFrom(df: DataFrame, tfCol: String): DataFrame = {
    val tf = col(tfCol)
    val nChars = tf.getField("nc")
    val nTokens = tf.getField("nt")
    df.withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("mean_token_len",
        when(nTokens > 0, nChars.cast("double") / nTokens.cast("double")).otherwise(lit(0.0d)))
      .withColumn("punct_ratio",
        tf.getField("np").cast("double") / greatest(nChars.cast("double"), lit(1.0d)))
      .withColumn("upper_ratio",
        tf.getField("nu").cast("double") / greatest(nChars.cast("double"), lit(1.0d)))
      .withColumn("stopword_hits", tf.getField("h_en"))
      .withColumn("quality_score", qualityScore(nTokens))
  }

  /** The composite-score formula over the (already attached) ratio/hit
    * columns — shared by both paths. */
  private[datapipe] def qualityScore(nTokens: Column): Column =
    when(nTokens < 5, lit(0.0d)).otherwise(
      lit(1.0d)
        - least(col("punct_ratio") * 2, lit(0.5d))
        - least(col("upper_ratio"), lit(0.3d))
        + least(col("stopword_hits").cast("double") * 0.02d, lit(0.2d)))

  /** Quality features + composite score for filtering (fused path): one
    * [[HotPathKernels.textFeatures]] pass per row. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame =
    qualityFrom(withTextFeatures(df, textCol, "__tf_q"), "__tf_q")
      .drop("__tf_q")
}
