package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, all as
  * pure Column expressions (codegen-friendly, no UDFs): token counting,
  * quality scoring, n-gram-heuristic language ID, and document
  * fingerprinting. Designed for the `documents(doc_id, text, …)` table. */
object TextOps {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-space symbols — a cheap proxy for subword tokenizers. */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"))

  /** Ratio of punctuation chars to total chars (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("[\\p{Punct}]")).cast("double") / length(text))

  /** Ratio of uppercase letters to letters (0 when no letters). */
  def upperRatio(text: Column): Column = {
    val letters = regexp_count(text, lit("[\\p{L}]"))
    when(letters === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("[\\p{Lu}]")).cast("double") / letters)
  }

  /** Stopword hit ratio against a language's stopword list. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val tokens = tokensLower(text)
    when(size(tokens) === 0, lit(0.0))
      .otherwise(size(array_intersect(tokens, array(stopwords.map(lit): _*)))
        .cast("double") / size(tokens))
  }

  private def tokensLower(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}]+"), t => length(t) > 0)

  /** Composite quality score in [0,1]: length sweet-spot, moderate
    * punctuation, mixed case, English-stopword presence. The exact recipe is
    * a heuristic; what matters at scale is that it is one codegen'd
    * projection pass. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punct = punctRatio(text)
    val punctScore = when(punct > 0.3, lit(0.0)).otherwise(lit(1.0) - punct / 0.3)
    val stopScore = least(stopwordRatio(text, LangId.profiles.head._2) * 4.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 4)
  }

  /** Whitespace-normalized, lowercased text — the shared normalization of
    * [[fingerprint]] and [[winnowedFingerprints]] (and of their test
    * reference implementations): keep these in lockstep. */
  def normalizedText(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Document fingerprint: 64-bit hash of whitespace-normalized, lowercased
    * text — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    xxhash64(normalizedText(text))

  /** Winnowed document fingerprints (the MOSS scheme, Schleimer/Wilkerson/
    * Aiken 2003): hash every k-char gram of the normalized text, then keep
    * the MINIMUM hash of each window of `w` consecutive grams, dedup'd, as
    * an array column. GUARANTEE: two documents sharing any substring of
    * length ≥ w + k − 1 share at least one fingerprint — the
    * local near-dup/provenance primitive, robust to insertions/deletions in
    * a way whole-doc hashing is not. Per-gram hashing is xxhash64 over the
    * substring: the classic Rabin-Karp ROLLING update is a sequential
    * single-node optimization; a columnar engine evaluates each window's
    * hash independently (and in parallel), same fingerprint role — but the
    * window MINIMUM does roll: the kernel's monotonic deque makes winnowing
    * O(grams), not O(grams·w). Docs shorter than k chars yield their
    * whole-text hash.
    *
    * Executes as the codegen'd [[graft.exprs.WinnowFingerprints]] kernel —
    * one leaf call per row, immune to the projection-collapse blowup of the
    * HOF pipeline it replaced (WinnowKernelSpec keeps that as its oracle). */
  def winnowedFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.exprs.WinnowFingerprints(
      GraftBridge.expression(text), k, w))
  }

  /** Language ID via stopword n-gram heuristic: per-language stopword hit
    * counts, argmax via array_max over (score, negLang) structs (struct
    * ordering compares fields in order; ties break toward the
    * lexicographically smallest language code). Returns the code, or "und"
    * when nothing scores. */
  def langId(text: Column): Column = {
    val tokens = tokensLower(text)
    val scored = LangId.profiles.map { case (code, words) =>
      struct(
        size(array_intersect(tokens, array(words.map(lit): _*))).as("score"),
        lit(LangId.tieBreak(code)).as("rank"),
        lit(code).as("lang"))
    }
    when(size(tokens) === 0, lit("und")).otherwise(
      when(array_max(array(scored: _*)).getField("score") === 0, lit("und"))
        .otherwise(array_max(array(scored: _*)).getField("lang")))
  }
}

/** Tiny public stopword profiles (top function words per language). */
object LangId {
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was",
      "for", "with", "as", "on", "are", "this", "be", "at", "have", "not"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "mit", "für", "von", "auf", "dem", "den", "des", "im", "sich", "auch"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des", "une", "dans", "que",
      "pour", "qui", "sur", "pas", "au", "par", "avec", "du", "ce"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "en", "que", "de", "un",
      "una", "por", "con", "para", "del", "se", "no", "su"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "una", "per", "con",
      "non", "sono", "del", "della", "gli", "le", "si", "nel"))

  /** Fixed tie-break rank so argmax is deterministic: smaller rank wins on
    * equal score (array_max compares struct fields in order, so rank is
    * negated position). */
  def tieBreak(code: String): Int =
    -profiles.indexWhere(_._1 == code)
}
