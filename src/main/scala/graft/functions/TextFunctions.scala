package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data
  * pipelines (north-star extras per BASELINE.json; reference string
  * surface at src/series/string_accessor.rs:63-692). Everything is a
  * codegen'd built-in composition — no UDFs — so these run inside
  * whole-stage codegen and scale to 100 TB scans.
  */
object TextFunctions {

  /** whitespace tokenization: the non-empty runs of non-`\s` chars.
    * `array_remove` (not a `filter` lambda) keeps it codegen'd. */
  def tokens(text: Column): Column =
    array_remove(split(trim(text), "\\s+"), "")

  /** whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** distinct sorted words — basis for fingerprints / jaccard. */
  def wordSet(text: Column): Column =
    array_sort(array_distinct(tokens(lower(text))))

  /** character n-gram shingles of the normalized text. */
  def shingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    when(length(norm) >= n,
      array_distinct(transform(sequence(lit(1), length(norm) - (n - 1)),
        i => norm.substr(i, lit(n)))))
      .otherwise(array(norm))
  }

  /** document fingerprint: md5 of the sorted distinct word set —
    * key for exact near-order-insensitive dedup. */
  def fingerprint(text: Column): Column =
    md5(array_join(wordSet(text), " "))

  /** fuzzywuzzy-style token_sort_ratio: normalized Levenshtein
    * similarity of the token-SORTED strings (duplicates kept), making
    * the measure word-order-insensitive — the standard entity-
    * resolution score for reordered names. 1 = identical multisets,
    * 0 = maximally distant. Pure codegen'd expressions. */
  def tokenSortRatio(a: Column, b: Column): Column = {
    def sorted(c: Column) = array_join(array_sort(tokens(lower(c))), " ")
    val (sa, sb) = (sorted(a), sorted(b))
    lit(1.0) - levenshtein(sa, sb).cast("double") /
      greatest(length(sa), length(sb)).cast("double")
  }

  /** n-gram Jaccard-ready word n-grams: the distinct lower-cased
    * n-grams of [[tokens]], in first-occurrence order; empty for a
    * null text or one with fewer than n tokens. Native kernel
    * ([[graft.sqlext.WordShingles]]). */
  def wordNgrams(text: Column, n: Int): Column =
    graft.sqlext.WordShingles.word_ngrams(lower(text), n, distinct = true)

  /** Language ID by stopword scoring (reference has none; simple
    * deterministic n-gram/stopword heuristic per the task spec).
    * Scores each candidate language by distinct stopword hits. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "fr" -> Seq("le", "la", "et", "de", "un", "une", "est", "les"),
    "es" -> Seq("el", "la", "y", "de", "un", "una", "es", "los"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "就"))

  def languageId(text: Column): Column = {
    val ws = wordSet(text)
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(size(array_intersect(ws,
        array(sw.map(lit): _*))).as("score"), lit(lang).as("lang"))
    }
    // highest score wins; ties break on language code (array_max
    // compares structs lexicographically: score first, then lang)
    array_max(array(scores: _*)).getField("lang")
  }

  /** quality score in [0,1]: blend of length, word-length sanity,
    * alpha ratio and stopword presence — the standard cheap heuristics
    * used to pre-filter web text for training corpora. */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTok = tokenCount(text).cast("double")
    val meanWordLen = when(nTok > 0, nChars / nTok).otherwise(lit(0.0))
    val alphaRatio = when(nChars > 0,
      length(regexp_replace(text, "[^A-Za-z\\s]", "")).cast("double") / nChars)
      .otherwise(lit(0.0))
    val lenScore = least(nChars / 200.0, lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 10.0), 1.0)
      .otherwise(0.5)
    round((lenScore + wordLenScore + alphaRatio) / 3.0, 6)
  }

  /** PII redaction for training corpora: replace emails, IPv4
    * addresses and phone-shaped numbers with typed placeholders.
    * Patterns stay within the regex subset shared by Java and RE2
    * (no backrefs/lookaround) so the transform is engine-portable;
    * email runs first because its local part can contain digits that
    * the other patterns would otherwise split. Pure codegen'd
    * regexp_replace chain — scales as a map-side scan. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>")
  }

  /** Sentence count: runs of terminal punctuation, floored at 1 so
    * fragments still divide cleanly. */
  def sentenceCount(text: Column): Column =
    greatest(regexp_count(text, lit("[.!?]+")), lit(1))

  /** Syllable estimate: vowel-group runs per word (min 1/word) — the
    * standard dictionary-free heuristic, a pure expression both
    * engines replay identically. */
  def syllableCount(text: Column): Column =
    aggregate(transform(tokens(text), w =>
        greatest(regexp_count(lower(w), lit("[aeiouy]+")), lit(1))),
      lit(0), (acc, v) => acc + v)

  /** Flesch Reading Ease (the classic readability quality signal):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    * Word/sentence/syllable counts are whitespace + regexp
    * heuristics — map-side, deterministic, oracle-replayable. Null
    * for wordless texts. */
  def fleschReadingEase(text: Column): Column = {
    val nw = tokenCount(text).cast("double")
    val ns = sentenceCount(text).cast("double")
    val sy = syllableCount(text).cast("double")
    when(nw > 0, lit(206.835) - lit(1.015) * (nw / ns) -
      lit(84.6) * (sy / nw))
  }
}
