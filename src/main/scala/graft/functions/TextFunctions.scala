package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data pipeline ops (tokenize, shingle,
  * portable hashing). Everything is built-in Column expressions — no UDFs —
  * so the hot path stays inside whole-stage codegen and the identical
  * computation is expressible as ANSI SQL for the DuckDB oracle.
  *
  * Hashing portability: cross-engine-checked ops hash with `md5` (identical
  * output everywhere) and compare hex strings lexicographically instead of
  * converting to integers — a min over md5 hex strings is exactly as good a
  * MinHash as a min over 64-bit ints, and it removes any engine-specific
  * integer-hash dependency.
  */
object TextFunctions {

  /** Whitespace tokenization of lowercased, trimmed text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Distinct word n-gram shingles of a token array (empty array when the
    * document is shorter than n tokens).
    */
  def wordShingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    when(size(toks) >= n, array_distinct(grams)).otherwise(array().cast("array<string>"))
  }

  /** Hex char (1-based position p of a hex string) → 0..15 int, as SQL. */
  def hexNibbleSql(hexExpr: String, p: Int): String =
    s"(strpos('0123456789abcdef', substr($hexExpr, $p, 1)) - 1)"
}
