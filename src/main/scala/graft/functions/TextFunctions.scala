package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline: token
  * counting, quality scoring, language-ID heuristic, fingerprinting.
  *
  * All pure `functions._` column expressions — codegen'd, fully
  * distributed, no UDFs. Each has a DuckDB-expressible equivalent used
  * by the oracle queries in [[graft.queries.ExtensionQueries]].
  */
object TextFunctions {

  /** Whitespace tokens; empty/blank text ⇒ empty array (a bare split
    * would yield `[""]`).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  // Tiny function-word dictionaries for the language-ID heuristic.
  val EnWords = Seq("the", "and", "of", "to", "in", "is", "that", "it")
  val EsWords = Seq("el", "la", "de", "que", "y", "en", "un", "es")
  val FrWords = Seq("le", "la", "de", "et", "les", "des", "une", "dans")
  val DeWords = Seq("der", "die", "und", "das", "ist", "von", "ein", "mit")

  /** n-gram/function-word language-ID heuristic. CJK presence wins
    * outright; otherwise argmax of dictionary hits with the fixed
    * priority en ≥ es ≥ fr ≥ de (deterministic ties). Returns 'und'
    * when nothing matches. Fused one-pass kernel
    * ([[graft.expressions.LangGuess]]) — the column composition
    * re-tokenized once per dictionary after CollapseProject inlining.
    */
  def langGuess(text: Column): Column = graft.expressions.LangGuess(text)

  /** BPE-style pre-tokenizer pattern (GPT-2 shape, portable subset):
    * apostrophe contractions, letter runs, digit runs, punctuation
    * runs — each with an optional leading space. Valid in both Java
    * regex (Spark) and RE2 (DuckDB `regexp_extract_all`), so the
    * counts oracle-match. Whitespace between matches is a separator,
    * not a token. Whitespace is spelled as an explicit character class
    * rather than `\s` because the engines disagree on vertical tab
    * (Java's ASCII `\s` includes U+000B, RE2's does not); the explicit
    * class pins VT as a separator in both.
    */
  val BpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\x0B\\p{L}\\p{N}]+"

  /** BPE-ish subword-segment count — the "how many tokens will the
    * tokenizer roughly emit" estimate a training-data pipeline budgets
    * with (whitespace token counts undercount CJK/punctuation-heavy
    * text badly).
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Normalization for fingerprinting: lowercase, collapse whitespace,
    * trim.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Content fingerprint: md5 of the normalized text. */
  def fingerprintMd5(text: Column): Column = md5(normalizeText(text))

  /** C4 line-keep rule (Raffel et al. 2020 §2.2): a line survives iff
    * its (space-)trimmed form ends in a terminal punctuation mark
    * (`.` `!` `?` `"`), has at least 5 whitespace words, and does not
    * mention "javascript" (case-insensitive). Pure per-line Column
    * predicate — composes with `filter()` over a split-lines array,
    * so cleaning is map-only at any corpus size.
    */
  def c4LineKeep(line: Column): Column = {
    val t = trim(line)
    (t.endsWith(".") || t.endsWith("!") || t.endsWith("?") ||
      t.endsWith("\"")) &&
      size(split(t, "\\s+")) >= 5 &&
      !lower(t).contains("javascript")
  }

  /** C4 document cleaning: apply [[c4LineKeep]] to every line and the
    * document-level rules — a doc is dropped when it contains
    * "lorem ipsum" (case-insensitive) or a curly brace `{`, or fewer
    * than 3 lines survive (the paper's "fewer than 3 sentences" rule,
    * with kept lines as the sentence proxy — documented divergence:
    * no sentence splitter is bundled). Returns
    * `struct<clean_text, n_lines, n_kept, dropped>`; map-only.
    */
  def c4Clean(text: Column): Column = {
    val lines = split(text, "\n")
    val kept = filter(lines, l => c4LineKeep(l))
    val badDoc = lower(text).contains("lorem ipsum") || text.contains("{")
    struct(
      array_join(kept, "\n").as("clean_text"),
      size(lines).as("n_lines"),
      size(kept).as("n_kept"),
      (badDoc || size(kept) < 3).as("dropped"))
  }

  /** Polynomial rolling hash of the normalized text:
    * `h := (h·131 + code(char)) mod P` left-to-right. Portable: DuckDB
    * reproduces it with list_reduce; every intermediate stays < 2^38.
    */
  def rollingHash(text: Column): Column =
    graft.expressions.RollingHash(normalizeText(text))

  /** Context-window chunking: fixed `chunk`-token windows starting at
    * multiples of `stride` (stride < chunk ⇒ overlapping windows, the
    * standard sequence-prep shape). Returns an array of
    * `(start, toks)` structs — one element per window whose start lies
    * inside the document; the LAST window is partial when the tail is
    * shorter than `chunk`; an empty document yields an empty array
    * (no chunks, not one empty chunk). Pure per-row compute: callers
    * `posexplode` it, so chunking 100 TB is map-only — the only
    * shuffle a chunking job ever needs is whatever the caller does
    * with the chunks afterwards.
    */
  def tokenChunks(text: Column, chunk: Int, stride: Int): Column =
    tokenChunksOf(tokens(text), chunk, stride)

  /** [[tokenChunks]] over an ALREADY-TOKENIZED array column. Callers on
    * a hot path should project the token array to a named column first
    * and pass that: the window lambda below references `toks` once per
    * WINDOW, so handing it an inline `tokens(text)` expression re-runs
    * the regex split per window (~n_tokens/stride times per document —
    * the round-11 per-reference re-evaluation pitfall, see
    * `CorpusStats.charGramsOf`), while a projected column is computed
    * once per row and each reference is a cheap attribute read.
    */
  def tokenChunksOf(toks: Column, chunk: Int, stride: Int): Column = {
    require(chunk > 0 && stride > 0,
      s"chunk=$chunk and stride=$stride must be positive")
    val starts = when(size(toks) > 0,
      sequence(lit(0), size(toks) - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    transform(starts, s =>
      struct(s.as("start"), slice(toks, s + 1, lit(chunk)).as("toks")))
  }
}
