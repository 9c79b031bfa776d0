package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text statistics as a native expression: tokenize once, then in
  * the same token loop compute token count, distinct count, summed token
  * length, stopword hits, per-lexicon marker hits, and the rolling md5
  * fingerprint. Returns a struct; the ops project its fields.
  *
  * Replaces four interpreted higher-order pipelines
  * (`aggregate(transform(...))` for summed lengths, `filter(isin)` for
  * stopwords, one `filter` per language lexicon, and the
  * `aggregate`-folded rolling hash) that each re-materialized the token
  * array per row — this is the text-analysis sibling of [[ShingleSet]],
  * one kernel call inside WholeStageCodegen per document.
  *
  * Semantics EXACTLY mirror the declarative forms (and so the DuckDB
  * oracle SQL, unchanged):
  *  - tokens = `split(trim(lower(text)), "\\s+")` — Spark's split keeps
  *    empty fields at both ends (k ws runs → k+1 fields; blank text → one
  *    empty token), matching DuckDB `regexp_split_to_array`, and SQL trim
  *    strips spaces only;
  *  - rolling fingerprint folds `acc = (acc·31 + v) mod (2³¹−1)` over
  *    `v = hi + lo·16` of each token's first md5 byte (the hex-nibble
  *    formula of [[TextFunctions.hexNibbleSql]]).
  */
case class TextStats(
    child: Expression,
    stopwords: Seq[String],
    lexicons: Seq[Seq[String]],
    withFp: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_stats expects a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = TextStats.schema
  override def prettyName: String = "text_stats"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }
  @transient private lazy val lexSets: Array[java.util.HashSet[String]] =
    lexicons.map { lex =>
      val s = new java.util.HashSet[String]()
      lex.foreach(s.add)
      s
    }.toArray

  override def nullSafeEval(input: Any): Any =
    TextStats.compute(input.asInstanceOf[UTF8String], stopSet, lexSets, withFp)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet<String>")
    val lexRef = ctx.addReferenceObj("lexSets", lexSets, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextStats.compute($c, $stopRef, $lexRef, $withFp);")
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("lang_scores", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("rolling_fp", LongType, nullable = false)))

  /** Column API: the stats struct; read fields with `.getField(...)`.
    * `withFp = false` skips the per-token md5 (the only expensive part)
    * when the caller doesn't read `rolling_fp` — it then returns 0.
    */
  def stats(text: Column, stopwords: Seq[String], lexicons: Seq[Seq[String]],
      withFp: Boolean = false): Column =
    ColumnBridge.column(
      TextStats(ColumnBridge.expression(text), stopwords, lexicons, withFp))

  private val Mod = 2147483647L

  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Kernel: called from both interpreted eval and generated code. */
  def compute(
      text: UTF8String,
      stopSet: java.util.HashSet[String],
      lexSets: Array[java.util.HashSet[String]],
      withFp: Boolean): InternalRow = {
    // split(trim(lower(s)), "\s+") — exact replication of Spark semantics:
    // SQL trim strips SPACES only (not \t\n), and split with the default
    // limit (-1) KEEPS empty fields at BOTH ends (unlike Java's
    // String.split, which drops trailing empties): k whitespace runs →
    // k+1 fields. A fully-blank input yields ONE empty token.
    val full = text.toLowerCase.toString
    var lo = 0
    var hi = full.length
    while (lo < hi && full.charAt(lo) == ' ') lo += 1
    while (hi > lo && full.charAt(hi - 1) == ' ') hi -= 1
    val s = full.substring(lo, hi)
    val toks = new java.util.ArrayList[String]()
    var i = 0
    var start = 0
    val len = s.length
    while (i < len) {
      if (isWs(s.charAt(i))) {
        toks.add(s.substring(start, i)) // "" when the text starts with ws
        while (i < len && isWs(s.charAt(i))) i += 1
        start = i
      } else i += 1
    }
    toks.add(s.substring(start, len)) // "" when the text ends with ws (or is empty)
    val md = md5Local.get()
    val seen = new java.util.HashSet[String]()
    val langScores = new Array[Int](lexSets.length)
    var sumLen = 0L
    var nStop = 0
    var rolling = 0L
    var t = 0
    val m = toks.size
    while (t < m) {
      val tok = toks.get(t)
      // `length()` counts code points (UTF8String/DuckDB semantics), not
      // UTF-16 units — codePointCount keeps non-BMP inputs identical.
      sumLen += tok.codePointCount(0, tok.length)
      seen.add(tok)
      if (stopSet.contains(tok)) nStop += 1
      var l = 0
      while (l < langScores.length) {
        if (lexSets(l).contains(tok)) langScores(l) += 1
        l += 1
      }
      if (withFp) {
        md.reset()
        val dig = md.digest(tok.getBytes(StandardCharsets.UTF_8))
        val b = dig(0) & 0xFF
        val v = (b >>> 4) + (b & 0xF) * 16
        rolling = (rolling * 31 + v) % Mod
      }
      t += 1
    }
    val out = new GenericInternalRow(6)
    out.update(0, m)
    out.update(1, seen.size)
    out.update(2, sumLen)
    out.update(3, nStop)
    out.update(4, new GenericArrayData(langScores.map(x => x: Any)))
    out.update(5, rolling)
    out
  }
}
