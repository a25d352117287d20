package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines
  * (SURVEY.md §7 extensions). Everything here is built from codegen'd
  * Spark builtins — no UDFs — so the whole pipeline stays inside
  * whole-stage codegen and scales to 100 TB scans.
  *
  * All hashing is derived from `md5` (not xxhash64/murmur) so results are
  * engine-portable and each operator has an exact DuckDB oracle.
  */
object TextFunctions {

  /** Canonical text normalization: trim, collapse whitespace, lowercase. */
  def normalizeText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Whitespace tokenization of normalized text; empty → empty array. */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(normalizeText(c), " "))

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Portable 60-bit hash: first 15 hex chars of md5, as a long.
    * DuckDB equivalent: `('0x' || substr(md5(s), 1, 15))::BIGINT`. */
  def h64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word n-gram shingles (space-joined) over an ALREADY-TOKENIZED
    * array column, as the codegen'd [[Shingles]] kernel. Texts with
    * fewer than n tokens yield one shingle. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      Shingles(org.apache.spark.sql.graftbridge.ColumnBridge.expression(toks), n))

  /** Word n-gram shingles (space-joined) over the token array. A text
    * with fewer than n tokens yields a single shingle of all tokens.
    * NOTE: the tokenizer is the [[Shingles]] kernel's argument, not a
    * lambda's captured child, so it runs once per row and call; several
    * shingle sizes over one text tokenize once each unless the tokens
    * are projected into a column first. */
  def wordShingles(c: Column, n: Int): Column =
    shinglesFromTokens(tokens(c), n)

  /** Document fingerprint: md5 of the normalized text (exact-dedup key). */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** Count of punctuation characters. */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,;:!?'\"()-]", ""))

  /** Ratio helpers used by quality scoring; plain double division (IEEE-
    * deterministic, oracle-exact). */
  def punctRatio(c: Column): Column =
    punctCount(c).cast("double") / greatest(length(c), lit(1)).cast("double")

  def upperRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[A-Z]", ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def digitRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[0-9]", ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def meanTokenLength(c: Column): Column = {
    val toks = tokens(c)
    // sum of token lengths == length of the separator-less join — a
    // codegen'd builtin, unlike the interpreted aggregate() fold
    when(size(toks) === 0, lit(0.0)).otherwise(
      length(array_join(toks, "")).cast("double") / size(toks).cast("double"))
  }

  /** GPT-2-style pre-tokenizer token count via one regex scan (a
    * "BPE-ish" budget estimate without a vocab). ASCII classes only so
    * Java and RE2-style engines agree. */
  val bpeTokenPattern = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(bpeTokenPattern))

  /** Stopword sets for the n-gram/stopword language heuristic. Order of
    * `languages` is the deterministic tiebreak (first wins). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "una", "en", "que", "los"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "dans", "que", "les"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "中"))
  val languages: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  /** Stopword hits for one language over the token array. */
  def stopwordHits(c: Column, lang: String): Column = {
    val set = stopwords(lang)
    size(filter(tokens(c), t => set.foldLeft(lit(false))((acc, w) => acc || t === w)))
  }

  /** Heuristic language ID: argmax of stopword hits, 'und' (undetermined)
    * when no stopwords at all; ties break by `languages` order. Runs as
    * the codegen'd [[LangIdExpr]] kernel (one pass per row); the builtin
    * formulation below is kept for the parity spec. */
  def langId(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      LangIdExpr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(tokens(c))))

  /** Builtin-only langId (interpreted HOF lambdas) — parity reference. */
  def langIdBuiltin(c: Column): Column = {
    val scored = languages.map(l => (l, stopwordHits(c, l)))
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
    pick
  }

  /** PII scrub patterns: ASCII-class-only regexes so Java's engine and
    * RE2-style engines (DuckDB) agree byte for byte. Order matters —
    * emails first (their local part may contain digits a later pass
    * would otherwise mangle), then international-ish phone numbers,
    * then bare long digit runs. */
  val redactions: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+" -> "<EMAIL>",
    // a phone needs at least one separator after the leading digit
    // group — RE2-compatible (no lookahead), so a bare digit run falls
    // through to <NUM> instead
    "\\+?[0-9]{1,4}[()./ -]+[0-9()./ -]{4,}[0-9]" -> "<PHONE>",
    "[0-9]{6,}" -> "<NUM>")

  /** Redact PII-shaped spans (emails, phone numbers, long digit runs)
    * with typed placeholder tags — the cleaning pass a training corpus
    * gets before tokenization. A pure chain of codegen'd regexp_replace
    * calls: no shuffle, pushed to the scan at any scale. */
  def redact(c: Column): Column =
    redactions.foldLeft(c) { case (acc, (pat, tag)) =>
      regexp_replace(acc, pat, tag)
    }

  /** Composite quality score in [0,1]: rewards moderate length, low
    * punctuation/digit density, sane mean token length. Deterministic
    * double arithmetic (oracle-exact). */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(200.0), lit(1.0))
    val punctPenalty = least(punctRatio(c) * lit(4.0), lit(1.0))
    val digitPenalty = least(digitRatio(c) * lit(4.0), lit(1.0))
    val mtl = meanTokenLength(c)
    val mtlScore = when(mtl >= 3.0 && mtl <= 10.0, lit(1.0)).otherwise(lit(0.5))
    (lenScore * lit(0.4) + (lit(1.0) - punctPenalty) * lit(0.25) +
      (lit(1.0) - digitPenalty) * lit(0.15) + mtlScore * lit(0.2))
  }
}
