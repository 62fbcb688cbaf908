package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftshim.ColumnShim

/** Text-analysis operators for large-scale training-data pipelines over the
  * documents table: token counting, quality scoring, language-ID, document
  * fingerprinting. All built from codegen'd `functions._` where possible;
  * languageId is a Catalyst expression (per-value scoring loop).
  */
object TextOps {

  /** Whitespace token count (0 for blank text). Pure built-ins → codegen. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Quality metrics (length / punctuation / letter / stopword ratios),
    * rounded so cross-engine double formatting is stable.
    */
  private val Stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "are", "was", "at", "by", "be")

  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val len = length(text)
    val letters = length(regexp_replace(text, "[^A-Za-z]", ""))
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", ""))
    val tokens = tokenCount(text)
    val stopHits = {
      val lowered = lower(text)
      val arr = split(lowered, "[^a-z]+")
      size(filter(arr, w => array_contains(
        array(Stopwords.map(lit): _*), w)))
    }
    Seq(
      "n_chars_q" -> len.cast("long"),
      "n_tokens" -> tokens.cast("long"),
      "letter_ratio" -> round(letters.cast("double") / greatest(len, lit(1)), 4),
      "punct_ratio" -> round(punct.cast("double") / greatest(len, lit(1)), 4),
      "stopword_ratio" -> round(stopHits.cast("double") / greatest(tokens, lit(1)), 4),
      "mean_token_len" -> round(
        length(regexp_replace(text, "\\s", "")).cast("double") / greatest(tokens, lit(1)), 4))
  }

  def quality(df: DataFrame, textCol: String): DataFrame =
    qualityColumns(col(textCol)).foldLeft(df) { case (d, (name, c)) =>
      d.withColumn(name, c)
    }

  /** Language-ID heuristic: score distinctive function words / n-grams per
    * language over the lowered text; argmax, 'und' when nothing matches.
    */
  def languageId(text: Column): Column =
    ColumnShim.column(LanguageIdExpr(ColumnShim.expression(text)))

  /** Rolling-hash document fingerprint (Karp-Rabin over byte 8-grams, min
    * over windows) — a deterministic content signature that is robust to
    * where chunk boundaries fall, unlike md5 only to identical bytes.
    */
  def fingerprint(text: Column): Column =
    ColumnShim.column(RollingFingerprintExpr(ColumnShim.expression(text)))
}

case class LanguageIdExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any = {
    val text = v.asInstanceOf[UTF8String].toString.toLowerCase
    UTF8String.fromString(LanguageIdExpr.detect(text))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "lang_id"
}

object LanguageIdExpr {
  /** Distinctive marker words per language (function words — the standard
    * cheap n-gram/profile trick).
    */
  val Profiles: Seq[(String, Array[String])] = Seq(
    "en" -> Array(" the ", " and ", " of ", " to ", " is ", " that ", " with "),
    "de" -> Array(" der ", " die ", " und ", " das ", " ist ", " nicht ", " mit "),
    "fr" -> Array(" le ", " la ", " les ", " et ", " est ", " que ", " dans "),
    "es" -> Array(" el ", " los ", " y ", " es ", " que ", " por ", " con "),
    "it" -> Array(" il ", " che ", " di ", " e ", " per ", " con ", " sono "),
    "pt" -> Array(" o ", " que ", " de ", " e ", " para ", " com ", " uma "),
    "nl" -> Array(" de ", " het ", " een ", " en ", " van ", " niet ", " met "))

  /** Non-overlapping marker counting (advance past each hit) — the same
    * count as `(len(s) - len(replace(s, m, ''))) / len(m)`, so the score is
    * SQL-expressible for the driver oracle.
    */
  def detect(lowered: String): String = {
    val padded = " " + lowered + " "
    var best = "und"
    var bestScore = 0
    Profiles.foreach { case (lang, markers) =>
      var score = 0
      var i = 0
      while (i < markers.length) {
        var from = padded.indexOf(markers(i))
        while (from >= 0) { score += 1; from = padded.indexOf(markers(i), from + markers(i).length) }
        i += 1
      }
      if (score > bestScore) { bestScore = score; best = lang }
    }
    best
  }
}

case class RollingFingerprintExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    java.lang.Long.valueOf(RollingFingerprintExpr.fingerprint(bytes))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "doc_fingerprint"
}

object RollingFingerprintExpr {
  final val Window = 8
  final val Base = 0x100000001b3L // FNV prime as rolling base

  /** Min of Karp-Rabin hashes over all byte 8-grams (whole hash for short
    * docs): boundary-insensitive content signature.
    */
  def fingerprint(bytes: Array[Byte]): Long = {
    if (bytes.length <= Window) {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * Base; i += 1 }
      return h
    }
    // precompute Base^(Window-1) for the remove-term
    var pow = 1L
    var k = 0
    while (k < Window - 1) { pow *= Base; k += 1 }
    var h = 0L
    var i = 0
    while (i < Window) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
    var min = mix(h)
    while (i < bytes.length) {
      h = (h - (bytes(i - Window) & 0xffL) * pow) * Base + (bytes(i) & 0xffL)
      val m = mix(h)
      if (m < min) min = m
      i += 1
    }
    min
  }

  @inline private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}
