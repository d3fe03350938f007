package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the training-data pipeline operators:
  * tokenization, shingling, language-ID scoring, quality metrics, document
  * fingerprinting. All pure Catalyst expressions (codegen-friendly, no UDFs)
  * so they vectorize inside whole-stage codegen and are streaming-safe.
  *
  * Generalizes the reference's cleaning layer (SURVEY.md §2.3: expression
  * pipelines over strings) to LLM-pipeline text ops.
  */
object TextFunctions {

  /** Whitespace tokenizer (single-space corpus; use tokensRe for real text). */
  def tokens(text: Column): Column = split(text, " ")

  /** Regex tokenizer: splits on runs of non-word chars — a BPE-ish
    * pre-tokenization approximation. Leading/trailing separators would
    * otherwise produce empty tokens (Java split keeps them at limit -1),
    * so empties are filtered. */
  def tokensRe(text: Column): Column =
    filter(split(text, "[^\\p{L}\\p{N}]+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of occurrences of exactly-equal token `w`. */
  def tokenOccurrences(text: Column, w: String): Column =
    size(filter(tokens(text), t => t === w))

  /** Deterministic 128-bit document fingerprint (md5 — identical in every
    * engine, unlike murmur variants). */
  def fingerprint(text: Column): Column = md5(text)

  /** Normalization for near-dup fingerprinting: lowercase + collapse
    * whitespace runs + trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Language-ID marker score: occurrences of each marker token. The
    * heuristic argmax over per-language marker sets is assembled by callers
    * (see TextOps.q_lang_id) so the marker lists stay data-dependent. */
  def markerCount(text: Column, marker: String): Column =
    tokenOccurrences(text, marker)
}
